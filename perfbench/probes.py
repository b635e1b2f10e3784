"""Measurements taken from outside the engine.

- ``/proc``: CPU of the whole process tree, VmHWM of the JVM and its
  descendants, hypervisor steal, host facts.
- Spark's status stores (jobs, stages, tasks, SQL operator metrics) and
  the JVM's management beans, read through the session's py4j gateway.
  Both work with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time

_TICK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- /proc


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        raw = fh.read()
    # comm may contain spaces; fields after it are space-separated
    return raw[raw.rindex(")") + 2 :].split()


def process_start_wall() -> float:
    """Wall-clock time at which this process started (``/proc`` start
    ticks after boot plus the boot time)."""
    start_ticks = int(_stat_fields(os.getpid())[19])
    with open("/proc/stat") as fh:
        btime = next(int(ln.split()[1]) for ln in fh if ln.startswith("btime"))
    return btime + start_ticks / _TICK


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(entry))[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """utime+stime+cutime+cstime summed over ``root``'s process tree, so
    workers already reaped by their parent still count."""
    total = 0
    for pid in descendants(root):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for ln in fh:
                if ln.startswith(key + ":"):
                    return int(ln.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid(root: int) -> int | None:
    """The JVM the session launched: the ``java`` process below ``root``."""
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


def hwm_mb(jvm: int | None) -> float:
    """Sum of VmHWM over the JVM and its descendants (daemon, workers)."""
    if jvm is None:
        return 0.0
    return sum(_status_kb(p, "VmHWM") for p in descendants(jvm)) / 1024.0


def hwm_by_process(jvm: int | None) -> list[tuple[str, float]]:
    """(comm, VmHWM MiB) of the JVM and each live descendant."""
    out = []
    for pid in descendants(jvm) if jvm is not None else ():
        try:
            with open(f"/proc/{pid}/comm") as fh:
                out.append((fh.read().strip(), _status_kb(pid, "VmHWM") / 1024.0))
        except OSError:
            continue
    return out


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of ``/proc/stat``."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    # guest time is already inside user/nice
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def host_facts() -> dict:
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for ln in fh:
            if ln.startswith("MemTotal:"):
                mem_kb = int(ln.split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mib": mem_kb // 1024,
        "pyspark": pyspark.__version__,
        # the host has no reference checkout, so no C++ timing exists
        "cpp_reference_ratio": "unavailable",
    }


# ---------------------------------------------------------- Spark stores

_UNIT = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0, "ns": 1e-9,
}  # fmt: skip
_METRIC_RE = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_sql_metric(text: str | None) -> float:
    """Total of a SQL metric as the status store renders it: either one
    value (``'10,000'``, ``'58 ms'``, ``'6.5 MiB'``) or a header line
    followed by ``total (min, med, max ...)`` whose first number is the
    total. Times come back in seconds, sizes in bytes."""
    if not text:
        return 0.0
    m = _METRIC_RE.search(text.strip().splitlines()[-1])
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNIT.get(m.group(2) or "", 1.0)


class SparkProbe:
    """Reads what one operation did from the status stores and the
    JVM's beans. ``mark()`` before the operation, ``collect()`` after
    it: everything with an id above the mark belongs to that operation,
    which holds because the client runs operations one at a time."""

    def __init__(self, spark):
        self.spark = spark
        self.jvm = spark._jvm
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.bus = spark.sparkContext._jsc.sc().listenerBus()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.conv = self.jvm.scala.jdk.javaapi.CollectionConverters
        scala_module = getattr(self.jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self.mapper = self.jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self.mapper.registerModule(getattr(scala_module, "MODULE$"))
        self.mf = self.jvm.java.lang.management.ManagementFactory
        self._no_quantiles = spark.sparkContext._gateway.new_array(self.jvm.double, 0)
        self._last_job = -1
        self._last_exec = -1

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    # -- JVM beans
    def jvm_counters(self) -> dict:
        gc_ms = sum(b.getCollectionTime() for b in self.mf.getGarbageCollectorMXBeans())
        return {
            "jit_s": self.mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
            "gc_s": gc_ms / 1e3,
        }

    def reset_heap_peak(self) -> None:
        for pool in self.mf.getMemoryPoolMXBeans():
            if str(pool.getType().toString()) == "Heap memory":
                pool.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(
            pool.getPeakUsage().getUsed()
            for pool in self.mf.getMemoryPoolMXBeans()
            if str(pool.getType().toString()) == "Heap memory"
        ) / 2**20

    def java_version(self) -> str:
        return str(self.jvm.java.lang.System.getProperty("java.version"))

    # -- block manager
    def cached(self) -> tuple[int, int]:
        """(bytes, partitions) cached in the block manager right now."""
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return (
            sum(i.memSize() + i.diskSize() for i in infos),
            sum(i.numCachedPartitions() for i in infos),
        )

    # -- status stores
    def _drain(self) -> None:
        """Wait until the listener bus has delivered every event posted so
        far. The stores are filled from the bus asynchronously: an op can
        return before its last job's end event and task metrics land."""
        self.bus.waitUntilEmpty()

    def mark(self) -> None:
        self._drain()
        jobs = self._json(self.store.jobsList(None))
        self._last_job = max([j["jobId"] for j in jobs], default=-1)
        execs = self.conv.asJava(self.sql_store.executionsList())
        self._last_exec = max([e.executionId() for e in execs], default=-1)

    def collect(self, wall_s: float) -> tuple[dict, list[tuple[int, float, float]]]:
        """Counters of the jobs and SQL executions started since
        ``mark()``, as per-layer metrics of the operation whose wall
        time is ``wall_s``; and those jobs as (id, start, end).
        ``stage_max_task_s`` is the slowest task of the stage that
        ``exec.stage_skew`` describes; ``unfinished_jobs`` counts jobs
        read without a completion time (0 once the bus is drained)."""
        self._drain()
        jobs = [j for j in self._json(self.store.jobsList(None)) if j["jobId"] > self._last_job]
        jobs.sort(key=lambda j: j["jobId"])
        out = {
            "exec.jobs": len(jobs),
            "exec.stages": 0,
            "exec.tasks": 0,
            "exec.task_run_s": 0.0,
            "exec.task_cpu_s": 0.0,
            "exchange.write_bytes": 0,
            "exchange.records": 0,
            "exchange.fetch_wait_s": 0.0,
            "sources.scan_s": 0.0,
            "sources.scan_bytes": 0,
        }
        worst_max, skew = -1.0, 1.0
        spans = []
        for j in jobs:
            if j.get("submissionTime") and j.get("completionTime"):
                spans.append((j["submissionTime"] / 1e3, j["completionTime"] / 1e3, j["jobId"]))
            for sid in j["stageIds"]:
                for st in self._json(
                    self.store.stageData(sid, True, self.jvm.java.util.ArrayList(), False, self._no_quantiles)
                ):
                    if st["status"] == "SKIPPED" or not st.get("tasks"):
                        continue
                    out["exec.stages"] += 1
                    out["exec.tasks"] += st["numCompleteTasks"]
                    out["exec.task_run_s"] += st["executorRunTime"] / 1e3
                    out["exec.task_cpu_s"] += st["executorCpuTime"] / 1e9
                    out["exchange.write_bytes"] += st["shuffleWriteBytes"]
                    out["exchange.records"] += st["shuffleWriteRecords"]
                    out["exchange.fetch_wait_s"] += st["shuffleFetchWaitTime"] / 1e3
                    if st["inputBytes"] > 0:
                        out["sources.scan_s"] += st["executorRunTime"] / 1e3
                        out["sources.scan_bytes"] += st["inputBytes"]
                    times = [t["taskMetrics"]["executorRunTime"] for t in st["tasks"].values() if t.get("taskMetrics")]
                    # last-reducer view: the stage whose slowest task is
                    # longest sets the op's time; report its max/median
                    if times and max(times) > worst_max:
                        worst_max = max(times)
                        med = statistics.median(times)
                        skew = max(times) / med if med > 0 else 1.0
        out["exec.stage_skew"] = skew
        out["stage_max_task_s"] = max(worst_max, 0.0) / 1e3
        out["unfinished_jobs"] = sum(not j.get("completionTime") for j in jobs)
        covered = 0.0
        end = float("-inf")
        for s, e, _ in sorted(spans):
            if e <= end:
                continue
            covered += e - max(s, end)
            end = e
        out["plan.driver_s"] = max(0.0, wall_s - covered)
        out.update(self._sql_metrics())
        return out, [(j, s, e) for s, e, j in spans]

    def _sql_metrics(self) -> dict:
        out = {
            "kernel.python_run_s": 0.0,
            "kernel.bytes_to_python": 0.0,
            "kernel.bytes_from_python": 0.0,
            "kernel.worker_start_s": 0.0,
            "broadcast.bytes": 0.0,
            "broadcast.collect_s": 0.0,
            "sources.files_read": 0.0,
            "sinks.files_written": 0.0,
            "sinks.bytes_written": 0.0,
            "sinks.commit_s": 0.0,
            "generate_rows": 0.0,
        }
        wanted = {
            ("MapInArrow", "time to run Python workers"): "kernel.python_run_s",
            ("MapInArrow", "data sent to Python workers"): "kernel.bytes_to_python",
            ("MapInArrow", "data returned from Python workers"): "kernel.bytes_from_python",
            ("MapInArrow", "time to start Python workers"): "kernel.worker_start_s",
            ("MapInArrow", "time to initialize Python workers"): "kernel.worker_start_s",
            ("BroadcastExchange", "data size"): "broadcast.bytes",
            ("BroadcastExchange", "time to collect"): "broadcast.collect_s",
            ("Scan", "number of files read"): "sources.files_read",
            ("Execute", "number of written files"): "sinks.files_written",
            ("Execute", "written output"): "sinks.bytes_written",
            ("Execute", "task commit time"): "sinks.commit_s",
            ("Execute", "job commit time"): "sinks.commit_s",
            ("Generate", "number of output rows"): "generate_rows",
        }
        for e in self.conv.asJava(self.sql_store.executionsList()):
            eid = e.executionId()
            if eid <= self._last_exec:
                continue
            values = self.conv.asJava(self.sql_store.executionMetrics(eid))
            for node in self.conv.asJava(self.sql_store.planGraph(eid).allNodes()):
                prefix = str(node.name()).split(" ")[0]
                for met in self.conv.asJava(node.metrics()):
                    key = wanted.get((prefix, str(met.name())))
                    if key:
                        out[key] += parse_sql_metric(values.get(met.accumulatorId()))
        return out


# ---------------------------------------------------------------- spans


class Tracer:
    """In-memory spans (name, start, end, parent); written out once when
    the run ends. A disabled tracer records nothing and costs one
    attribute check per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def start(self, name: str, **attrs) -> int | None:
        if not self.enabled:
            return None
        self.spans.append(
            {
                "id": len(self.spans),
                "name": name,
                "parent": self._stack[-1] if self._stack else None,
                "start": time.time(),
                "end": None,
                **attrs,
            }
        )
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def end(self, sid: int | None) -> None:
        if sid is None:
            return
        self.spans[sid]["end"] = time.time()
        if self._stack and self._stack[-1] == sid:
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> None:
        """A span measured elsewhere: the session start, or a Spark job
        read from the status store after the op that caused it."""
        if self.enabled:
            self.spans.append(
                {"id": len(self.spans), "name": name, "parent": parent, "start": start, "end": end, **attrs}
            )

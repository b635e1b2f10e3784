"""Closed-loop benchmark of the engine on one workload.

    python3 perfbench/run.py --workload index_build --seed 1 --seconds 6 --trace 0

One client runs the operations back to back, each starting only after
the previous one returns. A run lands its seeded inputs, starts the
session from the engine's own ``session.get_spark`` (no added confs),
runs the cold pass, ``SETTLE_PASSES`` untimed passes while the JIT
settles, then a fixed number of timed warm passes (``--seconds`` over
``NOMINAL_PASS_S``, at least one), and finally checks every output.
The last stdout line is the result JSON; the line before it holds the
run's facts (sizes, gate sides, host, steal), which are also written
under ``.perfbench_out/``.

``--trace 1`` is a separate run with the same inputs that runs twice the
warm passes: the cold pass and every other warm pass are traced (spans
around each layer call, Spark jobs under the op that caused them,
per-operator counters from the status stores); the other warm passes
give the untraced wall that ``trace.overhead`` divides by.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import probes  # noqa: E402
from inputs import FULL, REFERENCE_CORPUS, REPO_ROOT, Sizes  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# Untimed passes after the cold one. The JIT compiles most in the cold
# and second passes; more settle passes would push a run past the time
# budget (two workloads x 22 runs in under an hour), so warm passes still
# carry some compile time, which ``jvm.jit_s`` reports.
SETTLE_PASSES = 1
# A warm pass takes about this long on a 4-core host; ``--seconds`` becomes
# a fixed pass count through it, so work per run never depends on the clock.
NOMINAL_PASS_S = 6.0

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_mb_per_s": "MB/s",
    "cpu_s_per_mb": "s/MB",
    "peak_rss_mb": "MiB",
}

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "sources.build_s": "s",
    "sources.scan_s": "s",
    "sources.scan_bytes": "B",
    "sources.files_read": "count",
    "plan.driver_s": "s",
    "dedup.cc_call_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.jaccard_join_rows": "count",
    "dedup.candidate_yield": "ratio",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.slot_util": "ratio",
    "exec.stage_skew": "ratio",
    "exchange.write_bytes": "B",
    "exchange.records": "count",
    "exchange.fetch_wait_s": "s",
    "broadcast.bytes": "B",
    "broadcast.collect_s": "s",
    "kernel.python_run_s": "s",
    "kernel.bytes_to_python": "B",
    "kernel.bytes_from_python": "B",
    "kernel.worker_start_s": "s",
    "pins.cached_bytes": "B",
    "pins.leaked_blocks": "count",
    "sinks.files_written": "count",
    "sinks.bytes_written": "B",
    "sinks.commit_s": "s",
    "jvm.jit_s": "s",
    "jvm.jit_cold_s": "s",
    "jvm.gc_s": "s",
    "jvm.heap_used_peak_mb": "MiB",
    "trace.overhead": "ratio",
}

# Per-op status-store counters that add up over the ops of a pass.
_ADDITIVE = (
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s",
    "exchange.write_bytes", "exchange.records", "exchange.fetch_wait_s",
    "sources.scan_s", "sources.scan_bytes", "sources.files_read", "plan.driver_s",
    "broadcast.bytes", "broadcast.collect_s", "kernel.python_run_s",
    "kernel.bytes_to_python", "kernel.bytes_from_python", "kernel.worker_start_s",
    "sinks.files_written", "sinks.bytes_written", "sinks.commit_s",
)  # fmt: skip


class Layer:
    """Passed to an op: times each layer call and, on traced passes,
    records its span and the block manager's pinned bytes."""

    def __init__(self, tracer: probes.Tracer, probe: probes.SparkProbe | None):
        self.tracer = tracer
        self.probe = probe
        self.durations: dict[str, float] = {}
        self.cached_bytes = 0
        self.leaked_blocks = 0

    def __call__(self, name, fn, *args, **kwargs):
        sid = self.tracer.start(name)
        t = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self.durations[name] = self.durations.get(name, 0.0) + time.perf_counter() - t
            self.tracer.end(sid)

    def record_pinned(self) -> None:
        """Bytes cached by ``pin()`` before ``release_pins()``."""
        if self.probe is not None:
            self.cached_bytes += self.probe.cached()[0]

    def record_leaked(self) -> None:
        """Blocks still cached after ``release_pins()``."""
        if self.probe is not None:
            self.leaked_blocks += self.probe.cached()[1]


class Runner:
    def __init__(self, workload, spark, trace: bool):
        self.wl = workload
        self.spark = spark
        self.tracer = probes.Tracer(trace)
        self.probe = probes.SparkProbe(spark)
        self.jvm = probes.jvm_pid(os.getpid())
        self.attempted = 0
        self.failed = 0
        self.peak_rss_mb = 0.0
        self.unfinished_jobs = 0  # traced jobs read before their end event

    def run_pass(self, index: int, kind: str, traced: bool, capture: bool = False) -> dict:
        """One pass; returns its wall, process-tree CPU, per-op walls
        and, when traced, its per-layer counters."""
        ops: list[dict] = []
        probe = self.probe if traced else None
        tracer = self.tracer if traced else probes.Tracer(False)
        if probe:
            jvm0 = probe.jvm_counters()
            probe.reset_heap_peak()
        pass_span = tracer.start("pass", index=index, kind=kind)

        def run_op(name, fn):
            layer = Layer(tracer, probe)
            if probe:
                probe.mark()
            sid = tracer.start(name)
            self.attempted += 1
            t = time.perf_counter()
            try:
                fn(layer)
                ok = True
            except Exception:  # a raised op is counted, never fatal to the run
                traceback.print_exc(file=sys.stderr)
                ok = False
            wall = time.perf_counter() - t
            tracer.end(sid)
            self.failed += not ok
            hwm = probes.hwm_mb(self.jvm)
            self.peak_rss_mb = max(self.peak_rss_mb, hwm)
            rec = {"op": name, "wall_s": wall, "ok": ok, "hwm_mb": hwm, "layers": layer.durations}
            if probe:
                metrics, jobs = probe.collect(wall)
                self.unfinished_jobs += metrics.pop("unfinished_jobs")
                for job_id, start, end in jobs:
                    tracer.add("spark.job", start, end, parent=sid, job_id=job_id)
                metrics["pins.cached_bytes"] = layer.cached_bytes
                metrics["pins.leaked_blocks"] = layer.leaked_blocks
                rec["metrics"] = metrics
            ops.append(rec)

        cpu0 = probes.tree_cpu_s(os.getpid())
        t = time.perf_counter()
        self.wl.run_pass(self.spark, run_op, capture)
        wall = time.perf_counter() - t
        cpu = probes.tree_cpu_s(os.getpid()) - cpu0
        tracer.end(pass_span)
        out = {"index": index, "kind": kind, "wall_s": wall, "cpu_s": cpu, "traced": traced, "ops": ops}
        if probe:
            jvm1 = probe.jvm_counters()
            out["jvm"] = {
                "jit_s": jvm1["jit_s"] - jvm0["jit_s"],
                "gc_s": jvm1["gc_s"] - jvm0["gc_s"],
                "heap_used_peak_mb": probe.heap_peak_mb(),
            }
        self.wl.check_pass()
        return out


def pass_layers(p: dict, nproc: int) -> dict:
    """Per-layer metrics of one traced pass."""
    m = {k: sum(op["metrics"][k] for op in p["ops"]) for k in _ADDITIVE}
    # the skew of the stage whose slowest task is longest over the pass
    worst = max(p["ops"], key=lambda op: op["metrics"]["stage_max_task_s"])
    m["exec.stage_skew"] = worst["metrics"]["exec.stage_skew"]
    m["exec.slot_util"] = m["exec.task_run_s"] / (p["wall_s"] * nproc)
    m["pins.cached_bytes"] = sum(op["metrics"]["pins.cached_bytes"] for op in p["ops"])
    m["pins.leaked_blocks"] = sum(op["metrics"]["pins.leaked_blocks"] for op in p["ops"])
    layers = [(k, v) for op in p["ops"] for k, v in op["layers"].items()]
    m["sources.build_s"] = sum(v for k, v in layers if k.startswith("sources."))
    m["dedup.cc_call_s"] = sum(v for k, v in layers if k == "operators.connected_components")
    m["dedup.jaccard_join_rows"] = sum(
        op["metrics"]["generate_rows"] for op in p["ops"] if op["op"] == "jaccard"
    )
    m["jvm.jit_s"] = p["jvm"]["jit_s"]
    m["jvm.gc_s"] = p["jvm"]["gc_s"]
    m["jvm.heap_used_peak_mb"] = p["jvm"]["heap_used_peak_mb"]
    return m


def _set_run_env(run_dir: str) -> None:
    """Per-run temp and Spark local dirs, so the engine's temp-dir
    artifact caches and block files never carry over between runs and
    nothing is written outside the checkout."""
    import tempfile

    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # The JVM's own temp files (native-library extraction, the artifact
    # directory, the perf-data file) would otherwise land in /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"])
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO_ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    tempfile.tempdir = None  # re-read TMPDIR


def run(
    workload: str,
    seed: int,
    seconds: int,
    trace: bool,
    run_dir: str,
    t_start: float,
    sizes: Sizes = FULL,
) -> tuple[dict, dict]:
    """One benchmark run in ``run_dir``; returns (result, facts)."""
    from parallel_map_reduce_spark.session import get_spark

    _set_run_env(run_dir)
    steal0 = probes.cpu_times()
    nproc = len(os.sched_getaffinity(0))
    wl = WORKLOADS[workload](run_dir, seed, sizes)
    warm_passes = max(1, round(seconds / NOMINAL_PASS_S))

    t = time.perf_counter()
    wl.land()
    land_s = time.perf_counter() - t
    t0 = time.time()
    spark = get_spark(master=f"local[{nproc}]")
    t1 = time.time()
    session_start_s = t1 - t0
    try:
        runner = Runner(wl, spark, trace)
        runner.tracer.add("session.get_spark", t0, t1, parent=None)

        passes = [runner.run_pass(0, "cold", trace)]
        # the last settle pass captures the output a workload checks once
        for i in range(SETTLE_PASSES):
            passes.append(runner.run_pass(1 + i, "settle", False, capture=i == SETTLE_PASSES - 1))
        setup_s = time.time() - t_start
        # a traced run interleaves as many traced passes with the untraced ones
        warm = [
            runner.run_pass(1 + SETTLE_PASSES + i, "warm", trace and i % 2 == 1)
            for i in range(2 * warm_passes if trace else warm_passes)
        ]
        passes += warm
        java = runner.probe.java_version()
        hwm_by_process = probes.hwm_by_process(runner.jvm)
    finally:
        spark.stop()
    steal1 = probes.cpu_times()
    runner.failed += wl.verify()

    untraced = [p for p in warm if not p["traced"]]
    if trace:
        traced = [pass_layers(p, nproc) for p in warm if p["traced"]]
        metrics = {k: statistics.fmean(m[k] for m in traced) for k in traced[0]}
        cold = passes[0]
        metrics["kernel.worker_start_s"] = sum(op["metrics"]["kernel.worker_start_s"] for op in cold["ops"])
        metrics["jvm.jit_cold_s"] = cold["jvm"]["jit_s"]
        metrics["session.start_s"] = session_start_s
        counts = wl.facts.get("counts", {})
        metrics["dedup.candidate_pairs"] = counts.get("candidate_pairs", 0)
        join_rows = metrics["dedup.jaccard_join_rows"]
        metrics["dedup.candidate_yield"] = counts.get("jaccard_pairs", 0) / join_rows if join_rows else 0.0
        traced_walls = [p["wall_s"] for p in warm if p["traced"]]
        metrics["trace.overhead"] = statistics.fmean(traced_walls) / statistics.fmean(
            p["wall_s"] for p in untraced
        )
        units = PER_LAYER_UNITS
    else:
        metrics = {
            "setup_s": setup_s,
            "cold_s": passes[0]["wall_s"],
            "warm_mb_per_s": wl.input_mb / statistics.median(p["wall_s"] for p in untraced),
            "cpu_s_per_mb": statistics.median(p["cpu_s"] for p in untraced) / wl.input_mb,
            "peak_rss_mb": runner.peak_rss_mb,
        }
        units = END_TO_END_UNITS
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    d_steal, d_total = steal1[0] - steal0[0], steal1[1] - steal0[1]
    facts = {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "host": {**probes.host_facts(), "java": java},
        "steal_share": d_steal / d_total if d_total else 0.0,
        "inputs": wl.facts,
        "land_s": land_s,
        "hwm_mib_by_process": hwm_by_process,
        "passes": {"settle": SETTLE_PASSES, "warm": warm_passes},
        "unfinished_jobs": runner.unfinished_jobs,
        "passes_s": [
            {
                "kind": p["kind"],
                "wall": p["wall_s"],
                "cpu": p["cpu_s"],
                "ops": {o["op"]: {"wall": o["wall_s"], "hwm_mb": o["hwm_mb"]} for o in p["ops"]},
            }
            for p in passes
        ],
        "spans": runner.tracer.spans,
    }
    return result, facts


def _stop_gateway() -> None:
    """Shut the py4j gateway and wait for the JVM to exit (closing its
    stdin is the launcher's exit signal)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    t_start = probes.process_start_wall()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Fail before any work when the engine or its reference data is absent.
    import parallel_map_reduce_spark.session  # noqa: F401

    if not os.path.isfile(REFERENCE_CORPUS):
        raise FileNotFoundError(REFERENCE_CORPUS)

    out_dir = os.path.join(REPO_ROOT, ".perfbench_out")
    run_dir = os.path.join(REPO_ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        result, facts = run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir, t_start)
    finally:
        _stop_gateway()
        shutil.rmtree(run_dir, ignore_errors=True)
    stem = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    spans = facts.pop("spans")
    if args.trace:
        with open(stem + "-spans.json", "w") as fh:
            json.dump(spans, fh)
    with open(stem + ".json", "w") as fh:
        json.dump({"facts": facts, "result": result}, fh, indent=1)
    print(json.dumps({"facts": facts}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, REPO_ROOT)
    sys.exit(main())

"""The benchmark's own tests, at tiny input sizes.

    python3 -m pytest perfbench/tests -q

Sizes: two seeds land inputs of identical size in different orders.
Results: every metric ``BENCHMARK.json`` names is printed with its unit;
a corrupted expected output is counted as failed; the Python-kernel
metrics read 0 on ``index_build`` and above 0 on ``dedup_pipeline``.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO_ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, REPO_ROOT]

import inputs  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

TINY = inputs.Sizes(index_copies=2, index_texts=4, dedup_texts=6, dedup_files=4)

with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


@pytest.fixture(scope="module", autouse=True)
def _one_jvm_per_module():
    yield
    run._stop_gateway()


@pytest.fixture
def tiny_run(tmp_path, monkeypatch):
    """Run one workload in-process on tiny inputs."""
    for key in ("TMPDIR", "SPARK_LOCAL_DIRS", "PYTHONPATH", "JAVA_TOOL_OPTIONS"):
        monkeypatch.setenv(key, os.environ.get(key, ""))
    counter = iter(range(100))

    def go(workload: str, trace: bool, seed: int = 7):
        run_dir = tmp_path / f"run{next(counter)}"
        run_dir.mkdir()
        result, facts = run.run(
            workload, seed, seconds=1, trace=trace, run_dir=str(run_dir),
            t_start=run.probes.process_start_wall(), sizes=TINY,
        )  # fmt: skip
        json.dumps(result)  # the result must serialise as printed
        return result, facts

    return go


def test_input_sizes_do_not_depend_on_seed(tmp_path):
    a = inputs.land_index_corpus(str(tmp_path / "a"), seed=1)
    b = inputs.land_index_corpus(str(tmp_path / "b"), seed=2)
    assert (a["files"], a["bytes"]) == (b["files"], b["bytes"]) == (2130, 34_537_164)
    assert a["order"] != b["order"]
    with open(a["manifest"]) as fa, open(b["manifest"]) as fb:
        assert fa.read() != fb.read()

    da = inputs.land_dedup_corpus(str(tmp_path / "a"), seed=1)
    db = inputs.land_dedup_corpus(str(tmp_path / "b"), seed=2)
    assert da["docs"] == db["docs"]
    assert da["files"] == db["files"] == 8
    assert abs(da["bytes"] - db["bytes"]) <= 0.001 * da["bytes"]
    assert da["order"] != db["order"]


@pytest.mark.parametrize("workload", ["index_build", "dedup_pipeline"])
def test_every_named_metric_is_printed_with_its_unit(tiny_run, workload):
    for trace, section in ((False, "end_to_end"), (True, "per_layer")):
        result, facts = tiny_run(workload, trace)
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in SPEC[section]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        assert got == want
        assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
        if trace:
            m = {k: v["value"] for k, v in result["metrics"].items()}
            kernel = [k for k in m if k.startswith("kernel.")]
            if workload == "index_build":
                assert all(m[k] == 0 for k in kernel)
                assert m["sinks.files_written"] > 0
            else:
                assert all(m[k] > 0 for k in kernel)
                assert m["broadcast.bytes"] > 0
                assert m["sinks.files_written"] == 0
            assert {s["name"] for s in facts["spans"]} >= {"session.get_spark", "pass", "spark.job"}
            # every job counted had its end event delivered before it was read
            assert facts["unfinished_jobs"] == 0


def test_corrupted_index_expectation_counts_every_pass_failed(tiny_run, monkeypatch):
    real = workloads.expected_letter_digests

    def corrupted(docs):
        out = real(docs)
        out["e"] = "0" * 64
        return out

    monkeypatch.setattr(workloads, "expected_letter_digests", corrupted)
    result, _ = tiny_run("index_build", trace=False)
    assert not result["correct"]
    assert result["failed"] == result["attempted"] >= 2


def test_corrupted_dedup_oracle_counts_both_ops_failed(tiny_run, monkeypatch):
    real = workloads._materialized
    monkeypatch.setattr(workloads, "_materialized", lambda sql: real(sql) + "\nLIMIT 1")
    result, _ = tiny_run("dedup_pipeline", trace=False)
    assert not result["correct"]
    assert result["failed"] == 2

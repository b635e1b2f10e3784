"""Python workers must not depend on the caller's working directory.

A worker's ``sys.path[0]`` is the JVM's working directory, so a map body
pickled by reference can import the package only if the engine puts it
on the workers' PYTHONPATH, and the shared Arrow kernel core only works
everywhere because it is pickled by value. Both are checked here from a
bare session started in an empty directory with PYTHONPATH unset, with
the queries taken from ``__spark_entry__.py``.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import importlib.util, sys
from pyspark.sql import SparkSession

spec = importlib.util.spec_from_file_location("__spark_entry__", sys.argv[1])
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.ui.showConsoleProgress", "false")
    .getOrCreate()
)
# Before any catalog read: only pickling by value can ship the kernel.
from parallel_map_reduce_spark.operators.dedup import minhash_signatures

docs = spark.createDataFrame([(1, "one two three four")], "doc_id long, text string")
assert len(minhash_signatures(docs).collect()) == 16
for name in sys.argv[3:]:
    assert mod.queries()[name](spark, sys.argv[2]).collect(), name
spark.stop()
"""


def test_entries_run_outside_the_repo(tmp_path, sf_dir):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            _SCRIPT,
            os.path.join(REPO, "__spark_entry__.py"),
            sf_dir,
            "event_value_quantiles",
            "multimodal_image_features",
        ],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]

"""Smoke test of every benchmark workload at the ``tiny`` input size.

    python3 -m pytest perfbench/tests -q

Each workload runs once untraced and once traced. The result line must
carry exactly the metrics BENCHMARK.json lists, with their units, and
the oracle checks must have run and passed. A build that puts vectors in
the wrong shard must fail the run.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


ARGS = ["--seed", "7", "--seconds", "1", "--size", "tiny"]

# runs the benchmark with kmeans_shard's assignment moved one shard on,
# so write_sharded puts every vector beside its nearest centroid's shard
SHIFTED_BUILD = """
import sys
from pyspark.sql import functions as F
import big_ann_spark.operators.sharding as sharding
from perfbench import run

real = sharding.kmeans_shard

def shifted(emb, m, **kw):
    assign, cents, model = real(emb, m=m, **kw)
    return assign.withColumn("shard_id", (F.col("shard_id") + 1) % m), cents, model

sharding.kmeans_shard = shifted
sys.exit(run.main(sys.argv[1:]))
"""


def _run(cwd: str, workload: str, trace: int, script=("perfbench/run.py",)) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, *script, "--workload", workload, "--trace", str(trace), *ARGS],
        cwd=cwd, capture_output=True, text=True, timeout=180,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_workload_prints_every_metric_and_checks_outputs(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    detail = json.loads(lines[-2])["detail"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, detail["failures"]
    assert result["failed"] == 0 and result["attempted"] >= 1
    listed = BENCH["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in listed}
    for name, metric in result["metrics"].items():
        assert isinstance(metric["value"], (int, float)), name
        if not trace:
            assert metric["value"] > 0, name
    assert detail["checks"] and all(n > 0 for n in detail["checks"].values())
    assert detail["error_rate"] == 0
    assert not detail["stragglers"]


def test_misplaced_build_fails_the_run():
    proc = _run(ROOT, "mutate_serve", 0, script=("-c", SHIFTED_BUILD))
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    detail = json.loads(lines[-2])["detail"]
    assert detail["setup_failed"] is True
    assert detail["failures"][0].startswith("build_one_shard_per_vector_nearest_centroid")
    assert result["correct"] is False and result["failed"] >= 1


def test_failed_setup_check_counts_as_a_failed_operation():
    from perfbench.workloads import Run, Workload

    class Checked(Workload):
        def after_setup(self):
            self.run.check("layout", ["id 0 in shard 7, nearest centroid is 6"])

    run = Run(None, "unused", None)
    assert Checked(run).check_setup() is True
    assert (run.attempted, run.failed) == (1, 1)


def test_refuses_without_the_program(tmp_path):
    """A directory with only the benchmark's own files: non-zero exit,
    no result line."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p, ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), BENCH["workloads"][0]["name"], 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout

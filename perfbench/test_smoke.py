"""Smoke test of the benchmark at tiny sizes (sf0.001, ~10k pages).

    python3 -m pytest perfbench/test_smoke.py -q

Checks that every workload prints every metric BENCHMARK.json names,
with its unit, in both modes; that an op fed a wrong filter is counted
as failed; and that the command fails cleanly without the library.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCHMARK = json.load(fh)


def _run(cwd, *args, timeout=600):
    # make_session (used in-process below) puts the checkout on PYTHONPATH
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True,
        text=True, timeout=timeout, env=env)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_every_metric_with_unit(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "1", "--seconds", "1",
             "--trace", str(trace), "--scale", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, p.stdout[-3000:]
    assert result["attempted"] >= 1
    wanted = BENCHMARK["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float)) and math.isfinite(got["value"])
    detail = json.loads(p.stdout.strip().splitlines()[-2])["detail"]
    for named in detail["named"].values():
        assert named["unit"]


def test_wrong_filter_is_a_failed_op():
    import run
    import workloads
    from dablooms_spark.operators import build_counting_bloom
    from pyspark.sql import functions as F

    run_dir = os.path.join(run.WORK, f"smoke-{os.getpid()}")
    # make_session points the temp dir into run_dir, which is removed below
    saved = dict(os.environ), tempfile.tempdir
    spark = run.make_session(run_dir, False)
    try:
        wl = workloads.ProbeTpch(spark, 1, "tiny")
        wl.load()
        wl.setup()
        wl.oracle()
        (probe,) = [op for op in wl.ops() if op.name == "bloom_probe_column"]
        _, fails, _ = run.run_op(spark.sparkContext, wl.name, probe)
        assert fails == []
        disjoint = spark.range(10**9, 10**9 + 5000).select(
            F.col("id").cast("string").alias("k"))
        wl.line_filter = build_counting_bloom(disjoint, "k", capacity=6000, error_rate=0.01)
        (probe,) = [op for op in wl.ops() if op.name == "bloom_probe_column"]
        _, fails, measures = run.run_op(spark.sparkContext, wl.name, probe)
        assert fails and measures["false_negatives"] > 0
    finally:
        run.stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        os.environ.clear()
        os.environ.update(saved[0])
        tempfile.tempdir = saved[1]


def test_fails_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    p = _run(tmp_path, "--workload", "probe_tpch", "--seed", "1", "--seconds", "1",
             "--trace", "0", timeout=180)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout

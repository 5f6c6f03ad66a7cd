"""The benchmark's own tests, at tiny input sizes.

Run from the repository root::

    python -m pytest perfbench/test_perfbench.py -q

Each benchmark run starts its own Spark JVM, so the module takes a few
minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seconds", "1", "--size", "tiny", *args],
        cwd=cwd, capture_output=True, text=True, timeout=900, check=False,
    )


def result_line(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace,seed", [(0, 1), (1, 2)])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_prints_with_its_unit(workload, trace, seed):
    out = result_line(bench("--workload", workload, "--seed", str(seed), "--trace", str(trace)))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 2
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if not trace:
        assert all(out["metrics"][m["name"]]["value"] > 0 for m in wanted)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_wrong_expected_answer_is_a_failed_op(workload):
    out = result_line(bench("--workload", workload, "--perturb-expected"))
    assert out["correct"] is False
    assert out["failed"] == out["attempted"] >= 2
    assert out["metrics"]["ok_ratio"]["value"] == 0.0


def table_digest(spark, path: str) -> str:
    """Order-free content digest of a parquet table."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    row = df.select(
        F.sum(F.xxhash64(*[F.col(c) for c in df.columns]) % F.lit(1_000_000_007)).alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    return f"{row['n']}:{row['s']}"


def test_seed_changes_inputs_but_not_the_workload_shape(tmp_path):
    from pyspark.sql import SparkSession

    import workloads

    sys.path.insert(0, ROOT)
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false").getOrCreate())
    try:
        digests = {}
        for seed in (1, 2, 1):
            suite = workloads.E2ESuite(str(tmp_path / f"e{seed}"), seed, "tiny")
            suite.generate(spark)
            docs = workloads.DedupFuzzy(str(tmp_path / f"d{seed}"), seed, "tiny")
            docs.generate(spark)
            key = (
                table_digest(spark, f"{suite.inputs}/new"),
                table_digest(spark, f"{suite.inputs}/ref"),
                table_digest(spark, f"{docs.inputs}/docs"),
                open(f"{suite.inputs}/info2_new.json", encoding="utf-8").read(),
            )
            if seed in digests:
                assert digests[seed] == key      # same seed, same inputs
            digests[seed] = key
            assert sorted(suite.expected) == sorted(
                ["certify", "nulls_ok", "skew_ok", "nulls_strict", "skew_strict",
                 "info0", "info1", "info2", "info3"])
        assert all(a != b for a, b in zip(digests[1], digests[2]))
    finally:
        spark.stop()


def test_directory_without_the_library_exits_nonzero(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = bench("--workload", WORKLOADS[0], "--seed", "1", "--trace", "0",
                 cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout

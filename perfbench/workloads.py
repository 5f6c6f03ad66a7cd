"""Seeded inputs, one operation and its correctness check per workload.

A workload object owns three things:

* ``generate(spark)`` writes every input of the workload under its work
  directory; the same seed gives byte-for-byte the same inputs;
* ``run_op(spark, clock)`` runs one user-visible operation through the
  public entry point (the e2e runner or the curation CLI) and returns an
  :class:`OpResult` holding its wall time;
* ``check(spark, result)`` runs after the timed region and compares the
  written outputs with the answer planted in the inputs. A wrong answer
  marks the op failed; it is never dropped from a metric.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

HERE = os.path.dirname(os.path.abspath(__file__))

# Input sizes. The per-action floor of a default-configured session
# (200 shuffle partitions, no coalescing of cached plans) dominates both
# workloads at these sizes; see README.md for the time budget behind them.
# Each workload also fixes ``warm_ops``, the fewest warm ops a run times:
# the first warm ops still ride the JIT warm-up curve (an e2e pass falls
# from ~14 s to ~11 s between the first and second), so a fixed count
# keeps the median from flipping between runs when an op ends near the
# end of the time window.
SIZES = {
    "default": {"certify_rows": 100_000, "small_rows": 2_000, "docs": 10_000},
    "tiny": {"certify_rows": 4_000, "small_rows": 500, "docs": 2_000},
}


@dataclass
class OpResult:
    wall_s: float
    rows: int
    step_walls: list = field(default_factory=list)
    raw: object = None
    ok: bool = False
    detail: str = ""


def _rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------- tables


def lineitem_like(spark: SparkSession, ids: DataFrame, seed: int) -> DataFrame:
    """A TPC-H ``lineitem``-shaped table over the ``id`` column of ``ids``.

    Every column derives from ``xxhash64(id, seed, column tag)``, so the
    table is a pure function of (ids, seed). ``(l_orderkey,
    l_linenumber)`` is unique because it encodes ``id`` itself.
    """

    def h(tag: int) -> F.Column:
        return F.xxhash64(F.col("id"), F.lit(seed), F.lit(tag))

    def pick(tag: int, values: list[str]) -> F.Column:
        arr = F.array(*[F.lit(v) for v in values])
        return F.element_at(arr, (F.pmod(h(tag), F.lit(len(values))) + 1).cast("int"))

    ship = F.date_add(F.lit("1992-01-02").cast("date"), F.pmod(h(5), F.lit(2526)).cast("int"))
    return ids.select(
        (F.col("id") / 4).cast("long").alias("l_orderkey"),
        (F.col("id") % 4 + 1).cast("int").alias("l_linenumber"),
        F.pmod(h(1), F.lit(200_000)).alias("l_partkey"),
        F.pmod(h(2), F.lit(10_000)).alias("l_suppkey"),
        (F.pmod(h(3), F.lit(50)) + 1).cast("double").alias("l_quantity"),
        (F.pmod(h(4), F.lit(10_000_000)) / 100.0).alias("l_extendedprice"),
        (F.pmod(h(6), F.lit(11)) / 100.0).alias("l_discount"),
        (F.pmod(h(7), F.lit(9)) / 100.0).alias("l_tax"),
        pick(8, ["A", "N", "R"]).alias("l_returnflag"),
        pick(9, ["F", "O"]).alias("l_linestatus"),
        ship.alias("l_shipdate"),
        F.date_add(ship, F.pmod(h(10), F.lit(60)).cast("int") - 30).alias("l_commitdate"),
        F.date_add(ship, F.pmod(h(11), F.lit(30)).cast("int") + 1).alias("l_receiptdate"),
        pick(12, ["DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN"]).alias(
            "l_shipinstruct"
        ),
        pick(13, ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]).alias("l_shipmode"),
        F.concat_ws(
            " ",
            F.lit("carefully"),
            F.pmod(h(14), F.lit(99_991)).cast("string"),
            pick(15, ["final", "pending", "regular", "ironic", "express"]),
            F.lit("deposits"),
        ).alias("l_comment"),
    )


# ------------------------------------------------------------- e2e suite


def info_document(rng: random.Random, checkpoints: int, controls: int) -> dict:
    """An Atum control-measure (``_INFO``) document with seeded values."""
    return {
        "metadata": {
            "sourceApplication": f"app{rng.randrange(100)}",
            "country": rng.choice(["ZA", "CZ", "DE", "US"]),
            "historyType": "Snapshot",
            "dataFilename": f"part-{rng.randrange(10_000):05d}.parquet",
            "sourceType": "Source",
            "version": rng.randrange(1, 9),
            "informationDate": f"2026-{rng.randrange(1, 13):02d}-{rng.randrange(1, 29):02d}",
            "additionalInfo": {
                f"key{k}": str(rng.randrange(10**6)) for k in range(8)
            },
        },
        "checkpoints": [
            {
                "name": f"checkpoint{c}",
                "software": "hermes",
                "version": "1.0",
                "processStartTime": "01-01-2026 00:00:00",
                "processEndTime": "01-01-2026 00:00:01",
                "workflowName": rng.choice(["Source", "Raw", "Standardization"]),
                "order": c + 1,
                "controls": [
                    {
                        "controlName": f"control{c}_{m}",
                        "controlType": rng.choice(["count", "aggregatedTotal", "hashCrc32"]),
                        "controlCol": f"col{m}",
                        "controlValue": str(rng.randrange(10**9)),
                    }
                    for m in range(controls)
                ],
            }
            for c in range(checkpoints)
        ],
    }


def plant_info_diffs(rng: random.Random, doc: dict, n: int) -> dict:
    """A copy of ``doc`` with ``n`` control values changed (n diff records)."""
    new = json.loads(json.dumps(doc))
    slots = [(c, m) for c, cp in enumerate(new["checkpoints"]) for m in range(len(cp["controls"]))]
    for c, m in rng.sample(slots, n):
        ctl = new["checkpoints"][c]["controls"][m]
        ctl["controlValue"] = str(int(ctl["controlValue"]) + 1)
    return new


class E2ESuite:
    """One ``e2e.runner.run_tests`` pass over a certification suite.

    Steps and their planted verdicts:

    * ``certify``: DatasetComparison of a ``certify_rows`` pair with
      seeded mutations, inserts and deletes, written through
      ``writeArgs``; fails, and ``_METRICS`` must hold the planted count;
    * four Profile gates on a small table with 2% null comments: a null
      gate and a skew gate that pass, and a null gate and a skew gate that
      fail;
    * four InfoComparison steps over ``_INFO`` pairs: two identical
      pairs pass, two pairs with planted control-value diffs fail, and
      the written diff must list exactly the planted records.
    """

    name = "e2e_suite"
    warm_ops = 2

    def __init__(self, workdir: str, seed: int, size: str, perturb: bool = False) -> None:
        self.seed = seed
        self.sizes = SIZES[size]
        self.perturb = perturb
        self.inputs = os.path.join(workdir, "inputs")
        self.outputs = os.path.join(workdir, "outputs")
        self.planted: dict = {}
        self.expected: dict[str, bool] = {}
        self.definitions = None

    def generate(self, spark: SparkSession) -> None:
        _rmtree(self.inputs)
        os.makedirs(self.inputs)
        n = self.sizes["certify_rows"]
        rng = random.Random(self.seed)
        picked = rng.sample(range(n), n // 1000 + n // 2000)
        mutated, deleted = picked[: n // 1000], picked[n // 1000 :]
        inserted = list(range(n, n + n // 2000))
        base = spark.range(n)
        lineitem_like(spark, base, self.seed).write.parquet(f"{self.inputs}/ref")
        new_ids = base.filter(~F.col("id").isin(deleted)).union(
            spark.createDataFrame([(i,) for i in inserted], "id long")
        )
        new = lineitem_like(spark, new_ids, self.seed).withColumn(
            "l_extendedprice",
            F.when(
                ((F.col("l_orderkey") * 4 + F.col("l_linenumber") - 1)).isin(mutated),
                F.col("l_extendedprice") + 0.01,
            ).otherwise(F.col("l_extendedprice")),
        )
        new.write.parquet(f"{self.inputs}/new")

        small_n = self.sizes["small_rows"]
        # exactly 2% null comments: the null gates below have known verdicts
        lineitem_like(spark, spark.range(small_n), self.seed + 1).withColumn(
            "l_comment",
            F.when(
                (F.col("l_orderkey") * 4 + F.col("l_linenumber")) % 50 == self.seed % 50,
                F.lit(None),
            ).otherwise(F.col("l_comment")),
        ).write.parquet(f"{self.inputs}/small")

        infos = []
        for i in range(4):
            doc = info_document(rng, checkpoints=12, controls=20)
            n_diff = 0 if i < 2 else rng.randrange(1, 6)
            ref_p = f"{self.inputs}/info{i}_ref.json"
            new_p = f"{self.inputs}/info{i}_new.json"
            with open(ref_p, "w", encoding="utf-8") as fh:
                json.dump(doc, fh)
            with open(new_p, "w", encoding="utf-8") as fh:
                json.dump(plant_info_diffs(rng, doc, n_diff) if n_diff else doc, fh)
            infos.append((ref_p, new_p, n_diff))

        self.planted = {
            "certify_diffs": len(mutated) + len(deleted) + len(inserted),
            "info_diffs": {f"info{i}": d for i, (_, _, d) in enumerate(infos)},
        }
        self.rows_per_op = 2 * n + len(inserted) - len(deleted) + 4 * small_n
        self._write_suite(infos)

    def _write_suite(self, infos: list) -> None:
        from hermes_spark.e2e.definitions import TestDefinitions

        inp, out = self.inputs, self.outputs
        small = ["--format", "parquet", "--path", f"{inp}/small"]
        runs = [
            {
                "name": "certify", "order": 1, "pluginName": "DatasetComparison",
                "args": ["--format", "parquet", "--ref-path", f"{inp}/ref",
                         "--new-path", f"{inp}/new", "--keys", "l_orderkey,l_linenumber"],
                "writeArgs": ["--out-path", f"{out}/certify"],
            },
            {
                "name": "nulls_ok", "order": 2, "pluginName": "Profile",
                "args": [*small, "--cols", "l_comment,l_shipdate", "--max-null-pct", "0.05"],
            },
            {
                "name": "skew_ok", "order": 3, "pluginName": "Profile",
                "args": [*small, "--cols", "l_returnflag", "--skew-cols", "l_returnflag",
                         "--max-top-key-pct", "0.5"],
            },
            {
                "name": "nulls_strict", "order": 4, "pluginName": "Profile",
                "args": [*small, "--cols", "l_comment", "--max-null-pct", "0.005"],
            },
            {
                "name": "skew_strict", "order": 5, "pluginName": "Profile",
                "args": [*small, "--cols", "l_shipmode", "--skew-cols", "l_linestatus",
                         "--max-top-key-pct", "0.3"],
            },
        ]
        for i, (ref_p, new_p, _) in enumerate(infos):
            runs.append({
                "name": f"info{i}", "order": 6 + i, "pluginName": "InfoComparison",
                "args": ["--ref-path", ref_p, "--new-path", new_p,
                         "--out-path", f"{out}/info{i}_diff.json"],
            })
        self.expected = {
            "certify": False, "nulls_ok": True,
            "skew_ok": True, "nulls_strict": False, "skew_strict": False,
            **{f"info{i}": d == 0 for i, (_, _, d) in enumerate(infos)},
        }
        doc = json.dumps({"vars": {}, "runs": runs})
        with open(os.path.join(self.inputs, "suite.json"), "w", encoding="utf-8") as fh:
            fh.write(doc)
        self.definitions = TestDefinitions.from_string(doc)

    def run_op(self, spark: SparkSession, clock: "StepClock") -> OpResult:
        from hermes_spark.e2e import runner

        _rmtree(self.outputs)
        os.makedirs(self.outputs)
        clock.reset()
        t0 = time.perf_counter()
        results = runner.run_tests(self.definitions)
        wall = time.perf_counter() - t0
        return OpResult(wall, self.rows_per_op, clock.walls(), results)

    def check(self, spark: SparkSession, res: OpResult) -> None:
        results = res.raw
        wrong = []
        verdicts = {r.test_name: r.passed for r in results}
        if set(verdicts) != set(self.expected):
            wrong.append(f"steps {sorted(verdicts)}")
        for name, want in self.expected.items():
            if verdicts.get(name) is not want:
                wrong.append(f"{name} verdict {verdicts.get(name)}")
        planted = self.planted["certify_diffs"] + (1 if self.perturb else 0)
        try:
            with open(f"{self.outputs}/certify/_METRICS", encoding="utf-8") as fh:
                got = json.load(fh)["numberOfDifferences"]
        except (OSError, ValueError, KeyError) as exc:
            got = f"unreadable ({exc})"
        if got != planted:
            wrong.append(f"certify diff_count {got} != planted {planted}")
        for name, n_diff in self.planted["info_diffs"].items():
            if not n_diff:
                continue
            try:
                with open(f"{self.outputs}/{name}_diff.json", encoding="utf-8") as fh:
                    got_n = len(json.load(fh))
            except (OSError, ValueError) as exc:
                got_n = f"unreadable ({exc})"
            if got_n != n_diff:
                wrong.append(f"{name} diff records {got_n} != planted {n_diff}")
        res.ok, res.detail = not wrong, "; ".join(wrong)


# ------------------------------------------------------------ dedup fuzzy


class DedupFuzzy:
    """``curate_job`` ``dedup --mode fuzzy`` over a seeded Zipf corpus
    with planted near-duplicates (``near_dup_every=10``), output written
    as parquet.

    Checks per op: ``rows_in = rows_out + removed``; output ids unique
    and a subset of the input; planted-pair recall at or above the floor
    in ``expected.json``; on the default seed and size, the digest of the
    kept ids equals the recorded one.
    """

    name = "dedup_fuzzy"
    warm_ops = 3
    NEAR_DUP_EVERY = 10

    def __init__(self, workdir: str, seed: int, size: str, perturb: bool = False) -> None:
        self.seed = seed
        self.size = size
        self.n_docs = SIZES[size]["docs"]
        self.perturb = perturb
        self.inputs = os.path.join(workdir, "inputs")
        self.outputs = os.path.join(workdir, "outputs")
        self.synth_s = 0.0
        self.rows_per_op = self.n_docs
        with open(os.path.join(HERE, "expected.json"), encoding="utf-8") as fh:
            self.expected = json.load(fh)["dedup_fuzzy"]

    def generate(self, spark: SparkSession) -> None:
        from hermes_spark import synth

        _rmtree(self.inputs)
        os.makedirs(self.inputs)
        t0 = time.perf_counter()
        synth.zipf_documents(
            spark, self.n_docs, near_dup_every=self.NEAR_DUP_EVERY, seed=self.seed
        ).write.parquet(f"{self.inputs}/docs")
        self.synth_s = time.perf_counter() - t0

    def run_op(self, spark: SparkSession, clock: "StepClock") -> OpResult:
        from hermes_spark.cli import curate_job

        _rmtree(self.outputs)
        argv = ["--format", "parquet", "--path", f"{self.inputs}/docs",
                "--out-path", f"{self.outputs}/dedup", "--mode", "fuzzy"]
        buf = io.StringIO()
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(buf):
            rc = curate_job.dedup_main(argv)
        wall = time.perf_counter() - t0
        return OpResult(wall, self.rows_per_op, [wall], (rc, buf.getvalue()))

    def kept_ids(self, spark: SparkSession) -> list[int]:
        rows = spark.read.parquet(f"{self.outputs}/dedup").select("doc_id").collect()
        return [r[0] for r in rows]

    def check(self, spark: SparkSession, res: OpResult) -> None:
        res.ok, res.detail = self._check(spark, *res.raw)

    def _check(self, spark: SparkSession, rc: int, stdout: str) -> tuple[bool, str]:
        if rc != 0:
            return False, f"exit code {rc}"
        try:
            summary = json.loads(stdout.strip().splitlines()[-1])
        except (ValueError, IndexError):
            return False, f"no summary line in {stdout!r}"
        wrong = []
        n_in, n_out, removed = summary["rows_in"], summary["rows_out"], summary["removed"]
        if n_in != self.n_docs or n_in != n_out + removed:
            wrong.append(f"rows_in {n_in} rows_out {n_out} removed {removed}")
        ids = self.kept_ids(spark)
        kept = set(ids)
        if len(ids) != n_out or len(kept) != len(ids):
            wrong.append(f"{len(ids)} output rows, {len(kept)} distinct, summary {n_out}")
        if ids and (min(ids) < 0 or max(ids) >= self.n_docs):
            wrong.append("output ids outside the input")
        planted = range(self.NEAR_DUP_EVERY, self.n_docs, self.NEAR_DUP_EVERY)
        found = sum(1 for i in planted if not (i in kept and i - 1 in kept))
        recall = found / len(planted)
        floor = self.expected["recall_floor"][self.size] + (1.0 if self.perturb else 0.0)
        if recall < floor:
            wrong.append(f"planted-pair recall {recall:.4f} < floor {floor}")
        ref = self.expected["kept_digest"]
        if self.seed == ref["seed"] and self.size == ref["size"]:
            digest = hashlib.sha256(",".join(map(str, sorted(ids))).encode()).hexdigest()
            if digest != ref["sha256"]:
                wrong.append(f"kept-id digest {digest} != recorded {ref['sha256']}")
        return not wrong, "; ".join(wrong)


WORKLOADS = {cls.name: cls for cls in (E2ESuite, DedupFuzzy)}


class StepClock:
    """Times each e2e step (``perform_action`` plus ``write``) from outside
    the runner. Two ``perf_counter`` calls per step; installed in every
    run, traced or not, because ``step_s_*`` are end-to-end metrics."""

    def __init__(self) -> None:
        self._walls: list[float] = []

    def reset(self) -> None:
        self._walls = []

    def walls(self) -> list[float]:
        return list(self._walls)

    def install(self) -> None:
        import hermes_spark.e2e.plugins  # noqa: F401  (registers the plugins)
        from hermes_spark.e2e.plugin import _REGISTRY
        from hermes_spark.e2e.plugins.dataset_comparison import DatasetComparisonResult

        clock = self

        for cls in _REGISTRY.values():
            def perform_action(plugin, td, order, _orig=cls.perform_action):
                t0 = time.perf_counter()
                try:
                    return _orig(plugin, td, order)
                finally:
                    clock._walls.append(time.perf_counter() - t0)

            cls.perform_action = perform_action

        # the only bundled result with a writer; its time joins its step
        def write(result, args, _orig=DatasetComparisonResult.write):
            t0 = time.perf_counter()
            try:
                return _orig(result, args)
            finally:
                clock._walls[-1] += time.perf_counter() - t0

        DatasetComparisonResult.write = write

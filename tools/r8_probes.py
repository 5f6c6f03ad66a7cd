"""Round-8 scale probes (VERDICT r7 items 1, 6, 7, 8).

Usage: python tools/r8_probes.py [probe ...]   (default: funnel_5m)

Probes — each prints one JSON line per result:

* ``funnel_5m``    — the composed curation funnel re-run at 5M docs on
  the r8 stages: clean -> C4 -> Gopher gate -> Gopher repetition gate ->
  exact dedup (keep_by) -> MinHash near-dup (arrow kernel, keep_by
  retention) -> LM filter -> epoch mix -> pack.  Set FUNNEL_DOCS to
  scale down for smoke runs.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def out(obj) -> None:
    print(json.dumps(obj), flush=True)


def get_spark():
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("r8-probes")
        .config("spark.sql.shuffle.partitions", str(int(cpus) * 2))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        # text corpora are CPU-bound per byte (shingle/hash lambdas run
        # ~100x slower per byte than a columnar scan): 128MB splits
        # starve a 32-core box on a ~500MB corpus.  16MB splits keep
        # every core busy; on a real cluster the file count does this.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "48g")
        .config("spark.driver.maxResultSize", "4g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def probe_funnel_5m(spark) -> None:
    """The r7 funnel re-run on the r8 stages (VERDICT r7 item 6)."""
    from pyspark.sql import functions as F

    from hermes_spark.functions.clean import clean_text
    from hermes_spark.operators import (
        c4_clean,
        epoch_mix,
        exact_dedup,
        fuzzy_dedup_keep_one,
        gopher_filter,
        gopher_repetition_filter,
        lm_quantile_filter,
        lm_train,
        minhash_lsh_pairs,
        pack_sequences,
    )
    from hermes_spark.synth import zipf_documents

    n = int(os.environ.get("FUNNEL_DOCS", "5000000"))
    work = "/tmp/r8_funnel5m"
    stages = []

    def stage(name, wall, rows):
        stages.append({"stage": name, "wall": round(wall, 1), "rows": rows})
        out({"probe": "funnel_5m_stage", "stage": name,
             "wall": round(wall, 1), "rows": rows})

    t0 = time.time()
    synth = zipf_documents(
        spark, n, vocab_size=30_000, doc_len=80, seed=23,
        near_dup_every=50, partitions=128,
    ).select("doc_id", F.concat(F.col("text"), F.lit(".")).alias("text"))
    synth.write.mode("overwrite").parquet(f"{work}/raw")
    docs = spark.read.parquet(f"{work}/raw")
    stage("synth+write", time.time() - t0, docs.count())

    try:
        # 1+2. text repair (scan-side) fused into the C4 line rules
        t0 = time.time()
        cleaned = docs.select(
            "doc_id", clean_text(F.col("text")).alias("text")
        )
        c4d = c4_clean(cleaned, "doc_id", "text")
        c4d.write.mode("overwrite").parquet(f"{work}/c4")
        c4d = spark.read.parquet(f"{work}/c4")
        stage("clean+c4", time.time() - t0, c4d.count())

        # 3. Gopher quality gate (tuned to the synthetic corpus)
        t0 = time.time()
        gated = gopher_filter(
            c4d, "doc_id", "text", min_words=20, min_stopwords=0,
            min_mean_word_len=0.0, max_mean_word_len=100.0,
        )
        gated.write.mode("overwrite").parquet(f"{work}/gated")
        gated = spark.read.parquet(f"{work}/gated")
        stage("gopher", time.time() - t0, gated.count())

        # 3b. r7 Gopher repetition gate (new in the r8 funnel)
        t0 = time.time()
        rep = gopher_repetition_filter(gated, "doc_id", "text")
        rep.write.mode("overwrite").parquet(f"{work}/rep")
        rep = spark.read.parquet(f"{work}/rep")
        stage("gopher_repetition", time.time() - t0, rep.count())

        # 4. exact dedup with keep_by retention (longest text survives)
        t0 = time.time()
        deduped = exact_dedup(
            rep, "doc_id", "text", keep_by=F.length("text")
        )
        # window/join outputs land AQE-coalesced (a handful of coarse
        # single-row-group files); write them WIDE so the next
        # CPU-bound stage scans at full core count instead of paying
        # a recovery exchange (docs/TUNING.md, round-10 lm_decomp)
        deduped.repartition(128).write.mode("overwrite").parquet(f"{work}/dedup")
        deduped = spark.read.parquet(f"{work}/dedup")
        stage("exact_dedup", time.time() - t0, deduped.count())

        # 5. MinHash near-dup dedup via component keep_by retention
        t0 = time.time()
        pairs = minhash_lsh_pairs(
            deduped, "doc_id", "text", shingle_n=3, num_hashes=32,
            num_bands=4, min_jaccard=0.7, portable=False,
        )
        neared = fuzzy_dedup_keep_one(
            deduped, "doc_id", pairs, algorithm="auto",
            keep_by=F.length("text"),
        )
        neared.repartition(128).write.mode("overwrite").parquet(f"{work}/neardedup")
        neared = spark.read.parquet(f"{work}/neardedup")
        stage("minhash_dedup", time.time() - t0, neared.count())

        # 6. LM perplexity filter: train on 10%, keep the best 80% via
        # lm_quantile_filter — the operator materializes the tiny
        # (doc_id, avg_logprob) frame before the quantile so the
        # CPU-bound scoring scan runs ONCE (docs/TUNING.md rule; the
        # r9 194 s in-funnel vs 143 s isolated gap was the naive
        # two-action pattern re-scoring the corpus per action).
        t0 = time.time()
        lm = lm_train(
            neared.filter(F.col("doc_id") % 10 == 0), vocab_size=20_000
        )
        kept = lm_quantile_filter(
            neared, lm, keep_frac=0.8, broadcast_model=True
        ).select("doc_id", "text")
        kept.write.mode("overwrite").parquet(f"{work}/lm")
        kept = spark.read.parquet(f"{work}/lm")
        stage("lm_filter", time.time() - t0, kept.count())

        # 7. epoch mix: 2 sources by doc_id parity, weights 2:1
        t0 = time.time()
        tagged = kept.withColumn(
            "source",
            F.when(F.col("doc_id") % 2 == 0, "even").otherwise("odd"),
        )
        mixed = epoch_mix(
            tagged, "doc_id", "source", {"even": 2.0, "odd": 1.0}
        )
        mixed.write.mode("overwrite").parquet(f"{work}/mix")
        mixed = spark.read.parquet(f"{work}/mix")
        stage("epoch_mix", time.time() - t0, mixed.count())

        # 8. pack into 512-token training sequences
        t0 = time.time()
        packed = pack_sequences(
            mixed, "doc_id", text_col="text", budget=512, num_shards=64
        )
        packed.write.mode("overwrite").parquet(f"{work}/packed")
        packed = spark.read.parquet(f"{work}/packed")
        stage("pack", time.time() - t0, packed.count())

        out({"probe": "funnel_5m", "docs": n, "stages": stages,
             "total_wall": round(sum(s["wall"] for s in stages), 1)})
    finally:
        shutil.rmtree(work, ignore_errors=True)


def probe_bloom_sampled_60m(spark) -> None:
    """Cost of bloom_join_decision's SAMPLED mode at 60M rows (VERDICT
    r7 item 8: the CMS mode is measured; tabulate the sampled-bitmap
    scan cost and the plain-join yardstick)."""
    from pyspark.sql import functions as F

    from hermes_spark.operators import bloom_join_decision

    n = int(os.environ.get("BLOOM_ROWS", "60000000"))
    work = "/tmp/r8_bloom60m"
    spark.range(0, n, 1, 128).select(
        (F.col("id") % 1_000_000).alias("k"),
        (F.col("id") * 17 % 997).alias("payload"),
    ).write.mode("overwrite").parquet(f"{work}/big")
    big = spark.read.parquet(f"{work}/big")
    small = spark.range(0, 10_000).select((F.col("id") * 100).alias("k"))
    small.count()

    t0 = time.time()
    d = bloom_join_decision(big, small, "k", sample_fraction=0.001,
                            portable=False)
    out({"probe": "bloom_sampled_60m", "mode": d["mode"],
         "decision_wall": round(time.time() - t0, 1),
         "sampled_rows": d.get("sampled_rows"),
         "low_sample": d.get("low_sample"),
         "selectivity_est": d["selectivity_est"],
         "engage_local": d["engage"]})
    t0 = time.time()
    plain = big.join(small, "k").count()
    out({"probe": "bloom_sampled_60m", "plain_join_rows": plain,
         "plain_join_wall": round(time.time() - t0, 1)})
    shutil.rmtree(work, ignore_errors=True)


PROBES = {
    "funnel_5m": probe_funnel_5m,
    "bloom_sampled_60m": probe_bloom_sampled_60m,
}


def main() -> int:
    names = sys.argv[1:] or ["funnel_5m"]
    spark = get_spark()
    for name in names:
        PROBES[name](spark)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

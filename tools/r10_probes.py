"""Round-10 scale probes (VERDICT r9 items 3-8).

* ``lm_decomp``       — decompose the 5M-doc funnel LM stage (194 s
  in-funnel vs 143 s isolated, r9): replay the stage against a
  funnel-shaped input and split the wall into train / quantile pass /
  filter-join pass, as-written vs with the score frame materialized
  before ``approxQuantile`` (the TUNING.md barrier rule — the quantile
  pass and the filter pass otherwise EACH run the full scoring scan).
* ``repetition_ab``   — one clean A/B for the repetition stage's
  93/175/59 s spread (VERDICT r9 "what's wrong" #4): two interleaved
  fresh-layout runs at fixed 128-file layout.
* ``sig_nonascii``    — MinHash signature throughput on a non-ASCII
  (Cyrillic-mapped) 1M-doc corpus vs the same-shape ASCII corpus
  (VERDICT r9 item 4: exercises the round-10 codepoint lane).
* ``stream_wet_1m``   — the streaming raw-WARC path at 1M pages:
  drop-zone WET shards through ``curated_wet_stream`` in 50-shard
  micro-batches; per-batch walls + checkpoint footprint (VERDICT r9
  item 6).

Usage: python tools/r10_probes.py [probe ...]   (default: lm_decomp)
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
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("r10-probes")
        .config("spark.sql.shuffle.partitions", str(int(cpus) * 2))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "48g")
        .config("spark.driver.maxResultSize", "4g")
        .getOrCreate()
    )


def corpus(spark, n):
    from pyspark.sql import functions as F

    from hermes_spark.synth import zipf_documents

    work = f"/tmp/diag_minhash_{n}"
    if not os.path.exists(f"{work}/raw/_SUCCESS"):
        zipf_documents(
            spark, n, vocab_size=30_000, doc_len=80, seed=23,
            near_dup_every=50, partitions=128,
        ).select(
            "doc_id", F.concat(F.col("text"), F.lit(".")).alias("text")
        ).write.mode("overwrite").parquet(f"{work}/raw")
    return spark.read.parquet(f"{work}/raw")


def probe_lm_decomp(spark) -> None:
    """Funnel LM stage, decomposed.  The funnel hands lm_score a
    near-dedup parquet (window output, AQE-coalesced files) and then
    runs TWO actions over the lazy scored frame — approxQuantile and
    the filter-join — so the CPU-bound scoring scan executes twice,
    plus a doc_id join and a full-text write the isolated r9 probe
    (scored.filter().count()) never paid.  Variant ``materialized``
    writes the 16-byte/doc (doc_id, avg_logprob) frame once and runs
    both actions from it: one scoring scan total."""
    from pyspark.sql import functions as F

    from hermes_spark.operators import lm_score, lm_train

    n = int(os.environ.get("STAGE_DOCS", "5000000"))
    docs = corpus(spark, n)
    work = f"/tmp/r10_lm_{n}"

    # funnel-shaped input: the near-dedup stage's output layout (a
    # keep_by window write lands AQE-coalesced; r9 measured ~45 files)
    # plus a wide-128 copy — the same-session layout A/B the funnel's
    # 2-3x run-to-run noise cannot provide
    if not os.path.exists(f"{work}/neared/_SUCCESS"):
        docs.coalesce(45).write.mode("overwrite").parquet(f"{work}/neared")
    if not os.path.exists(f"{work}/wide128/_SUCCESS"):
        docs.repartition(128).write.mode("overwrite").parquet(
            f"{work}/wide128"
        )
    neared = spark.read.parquet(f"{work}/neared")
    neared.count()  # warm file cache
    spark.read.parquet(f"{work}/wide128").count()

    try:
        for variant in ("as-written", "materialized", "materialized-wide128"):
            if variant == "materialized-wide128":
                neared = spark.read.parquet(f"{work}/wide128")
            steps = []

            def step(name, t0):
                w = round(time.time() - t0, 1)
                steps.append({"step": name, "wall": w})
                return time.time()

            t0 = time.time()
            lm = lm_train(
                neared.filter(F.col("doc_id") % 10 == 0), vocab_size=20_000
            )
            t0 = step("train", t0)
            scored = lm_score(neared, lm, broadcast_model=True)
            if variant.startswith("materialized"):
                scored.select("doc_id", "avg_logprob").write.mode(
                    "overwrite"
                ).parquet(f"{work}/scored")
                scored = spark.read.parquet(f"{work}/scored")
                t0 = step("score+materialize", t0)
            cut = scored.approxQuantile("avg_logprob", [0.2], 0.01)[0]
            t0 = step("quantile_pass", t0)
            kept_ids = scored.filter(
                F.col("avg_logprob") >= cut
            ).select("doc_id")
            kept = neared.join(kept_ids, "doc_id").select("doc_id", "text")
            kept.write.mode("overwrite").parquet(f"{work}/lm_{variant}")
            rows = spark.read.parquet(f"{work}/lm_{variant}").count()
            step("filter_join_write", t0)
            out({"probe": "lm_decomp", "variant": variant, "docs": n,
                 "kept": rows, "steps": steps,
                 "total_wall": round(sum(s["wall"] for s in steps), 1)})
    finally:
        shutil.rmtree(work, ignore_errors=True)


def probe_repetition_ab(spark) -> None:
    """Two interleaved fresh runs of the 5M repetition gate at a fixed
    128-file layout — rules the 93->175 s r9 move in or out as box
    noise (each run is a fresh scan; A/B/A/B interleave cancels
    neighbor drift)."""
    from hermes_spark.operators import gopher_repetition_filter

    n = int(os.environ.get("STAGE_DOCS", "5000000"))
    docs = corpus(spark, n)
    work = f"/tmp/r10_rep_{n}"
    if not os.path.exists(f"{work}/wide128/_SUCCESS"):
        docs.repartition(128).write.mode("overwrite").parquet(
            f"{work}/wide128"
        )
    d = spark.read.parquet(f"{work}/wide128")
    d.count()
    try:
        walls = []
        for i in range(4):
            t0 = time.time()
            rows = gopher_repetition_filter(d, "doc_id", "text").count()
            walls.append(round(time.time() - t0, 1))
            out({"probe": "repetition_ab", "run": i, "docs": n,
                 "rows": rows, "wall": walls[-1]})
        walls.sort()
        out({"probe": "repetition_ab_summary", "docs": n, "walls": walls,
             "median": walls[len(walls) // 2],
             "spread": round(walls[-1] / walls[0], 2)})
    finally:
        shutil.rmtree(work, ignore_errors=True)


def probe_sig_nonascii(spark) -> None:
    """MinHash signature stage on a non-ASCII corpus: the same zipf
    token stream deterministically transliterated to Cyrillic, so
    shingle structure and dup rate match the ASCII probe exactly while
    every character leaves Latin-1.  Compares signatures/s against the
    ASCII lane (VERDICT r9 item 4: the vectorized lane was
    ASCII-gated; the scalar fallback forfeits most of the kernel's
    win precisely on multilingual corpora)."""
    from pyspark.sql import functions as F

    from hermes_spark.operators import minhash_lsh_pairs

    n = int(os.environ.get("STAGE_DOCS", "1000000"))
    docs = corpus(spark, n)
    work = f"/tmp/r10_nonascii_{n}"
    # deterministic a-z -> Cyrillic transliteration (+ space kept):
    # same doc lengths in CHARACTERS, same shingle multiset structure
    latin = "abcdefghijklmnopqrstuvwxyz"
    cyr = "абвгдежзийклмнопрстуфхцчшщ"
    if not os.path.exists(f"{work}/cyr/_SUCCESS"):
        docs.select(
            "doc_id", F.translate("text", latin, cyr).alias("text")
        ).repartition(128).write.mode("overwrite").parquet(f"{work}/cyr")
    if not os.path.exists(f"{work}/ascii/_SUCCESS"):
        docs.repartition(128).write.mode("overwrite").parquet(
            f"{work}/ascii"
        )
    try:
        for variant in ("ascii", "cyr"):
            d = spark.read.parquet(f"{work}/{variant}")
            d.count()
            t0 = time.time()
            n_pairs = minhash_lsh_pairs(
                d, "doc_id", "text", shingle_n=3, num_hashes=32,
                num_bands=4, min_jaccard=0.7, portable=False,
            ).count()
            wall = round(time.time() - t0, 1)
            out({"probe": "sig_nonascii", "variant": variant, "docs": n,
                 "pairs": n_pairs, "wall": wall,
                 "docs_per_s": round(n / wall)})
    finally:
        shutil.rmtree(work, ignore_errors=True)


def probe_stream_wet_1m(spark) -> None:
    """Streaming raw-WARC path at scale (VERDICT r9 item 6 — the one
    major surface with zero scale numbers): 1M pages of WET shards in
    a drop-zone, consumed by ``curated_wet_stream`` (stream_warc parse
    -> sanitize -> C4 -> Gopher, all stateless) in 50-shard
    micro-batches via ``maxFilesPerTrigger`` + ``availableNow``, parquet
    sink + checkpoint.  Records per-batch rows/duration from the query
    progress, sustained pages/s, and checkpoint footprint (stateless
    pipeline: offsets/commits only — growth must be O(batches), not
    O(rows))."""
    import glob as _glob
    import gzip
    import random

    from hermes_spark.streaming.ingest import curated_wet_stream

    # self-contained fixture helpers (same shapes as tools/r9_probes.py;
    # inlined because executor-side closures cannot import tools/)
    def _vocab():
        rng = random.Random(99)
        words = ["the", "of", "and", "to", "in", "is", "that", "for",
                 "with", "was"]
        letters = "abcdefghijklmnopqrstuvwxyz"
        while len(words) < 5000:
            k = rng.randint(2, 11)
            words.append("".join(rng.choice(letters) for _ in range(k)))
        cum, total = [], 0.0
        for r in range(1, len(words) + 1):
            total += 1.0 / r
            cum.append(total)
        return words, cum

    def _host(rng, n_hosts=10_000):
        rank = max(1, int(n_hosts ** rng.random()))
        return f"site{rank:05d}.example"

    n_pages = int(os.environ.get("WET_PAGES", "1000000"))
    per_shard = 1000
    work = "/tmp/r10_stream_wet"
    shards_dir = f"{work}/dropzone"
    marker = f"{work}/.complete-{n_pages}"

    def shard_bytes(shard_id: int, words, cum) -> bytes:
        recs = []
        for j in range(per_shard):
            page_id = shard_id * per_shard + j
            rng = random.Random(page_id * 2 + 1)
            paras = []
            for _ in range(rng.randint(3, 7)):
                k = rng.randint(25, 70)
                toks = rng.choices(words, cum_weights=cum, k=k)
                toks[0] = toks[0].capitalize()
                paras.append(" ".join(toks) + ".")
            text = "\n".join(paras)
            host = _host(random.Random(page_id * 3 + 2))
            payload = text.encode()
            head = (
                f"WARC/1.0\r\nWARC-Type: conversion\r\n"
                f"WARC-Record-ID: <urn:uuid:wet-{page_id}>\r\n"
                f"WARC-Target-URI: https://{host}/page/{page_id}\r\n"
                f"WARC-Date: 2026-08-16T00:00:00Z\r\n"
                f"Content-Type: text/plain\r\n"
                f"Content-Length: {len(payload)}\r\n\r\n"
            ).encode()
            recs.append(gzip.compress(head + payload + b"\r\n\r\n"))
        return b"".join(recs)

    if not os.path.exists(marker):
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(shards_dir, exist_ok=True)
        n_shards = (n_pages + per_shard - 1) // per_shard

        def write_shards(it):
            words, cum = _vocab()
            for row in it:
                sid = row.id
                with open(
                    f"{shards_dir}/shard-{sid:05d}.warc.gz", "wb"
                ) as f:
                    f.write(shard_bytes(sid, words, cum))

        t0 = time.time()
        spark.range(0, n_shards, 1, n_shards).foreachPartition(write_shards)
        size = sum(
            os.path.getsize(f) for f in _glob.glob(f"{shards_dir}/*.warc.gz")
        )
        out({"probe": "stream_wet_corpus", "pages": n_pages,
             "shards": n_shards, "gz_bytes": size,
             "wall": round(time.time() - t0, 1)})
        open(marker, "w").close()

    sink = f"{work}/curated"
    ckpt = f"{work}/ckpt"
    shutil.rmtree(sink, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    stream = curated_wet_stream(
        spark, shards_dir, max_files_per_trigger=50,
    )
    t0 = time.time()
    q = (
        stream.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = time.time() - t0
    # the file source counts one input row per SHARD (binary file),
    # so per-batch rows are shard counts; page totals come from the sink
    batches = [
        {
            "batch": p["batchId"],
            "shards_in": p["numInputRows"],
            "ms": p["batchDuration"],
        }
        for p in (q.recentProgress or [])
        if p.get("numInputRows") is not None
    ]
    for b in batches:
        out({"probe": "stream_wet_1m_batch", **b})
    kept = spark.read.parquet(sink).count()
    ckpt_files = sum(len(fs) for _, _, fs in os.walk(ckpt))
    ckpt_bytes = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(ckpt) for f in fs
    )
    out({"probe": "stream_wet_1m", "pages": n_pages, "kept": kept,
         "batches": len(batches), "total_wall": round(wall, 1),
         "pages_per_s": round(n_pages / wall),
         "ckpt_files": ckpt_files, "ckpt_bytes": ckpt_bytes})


def probe_stream_dedup_1m(spark) -> None:
    """STATEFUL streaming at scale: watermarked exact dedup over 1M
    drop-zone pages — the 'watermarked state bounds' claim, evidenced.

    Corpus: WET shards whose event times advance ~41 s/page (11.5 h of
    event time across the stream) and where every 37th page replays the
    previous page's text seconds later (a catchable duplicate).  The
    stream runs ``stream_exact_dedup(ts_col=..., watermark='1 hour')``
    in 50-shard micro-batches; per batch the state store's
    ``numRowsTotal`` must PLATEAU near the ~1-hour window (~87k rows),
    not grow toward 1M — eviction working is the whole point."""
    import glob as _glob
    import gzip
    import random

    from pyspark.sql import functions as F

    from hermes_spark.sources.warc import stream_warc, wet_text
    from hermes_spark.streaming.dedup import stream_exact_dedup

    def _vocab():
        rng = random.Random(99)
        words = ["the", "of", "and", "to", "in", "is", "that", "for",
                 "with", "was"]
        letters = "abcdefghijklmnopqrstuvwxyz"
        while len(words) < 5000:
            k = rng.randint(2, 11)
            words.append("".join(rng.choice(letters) for _ in range(k)))
        cum, total = [], 0.0
        for r in range(1, len(words) + 1):
            total += 1.0 / r
            cum.append(total)
        return words, cum

    n_pages = int(os.environ.get("WET_PAGES", "1000000"))
    per_shard = 1000
    work = "/tmp/r10_stream_dedup"
    shards_dir = f"{work}/dropzone"
    marker = f"{work}/.complete-{n_pages}"

    def page_text(page_id: int, words, cum) -> str:
        rng = random.Random(page_id * 2 + 1)
        paras = []
        for _ in range(rng.randint(3, 7)):
            k = rng.randint(25, 70)
            toks = rng.choices(words, cum_weights=cum, k=k)
            toks[0] = toks[0].capitalize()
            paras.append(" ".join(toks) + ".")
        return "\n".join(paras)

    def shard_bytes(shard_id: int, words, cum) -> bytes:
        import datetime

        base = datetime.datetime(2026, 8, 16, 0, 0, 0)
        recs = []
        for j in range(per_shard):
            page_id = shard_id * per_shard + j
            # duplicate of the PREVIOUS page, arriving ~41 s later —
            # well inside the 1-hour watermark, so it must be dropped
            body_id = (
                page_id - 1
                if (page_id % 37 == 36 and page_id > 0)
                else page_id
            )
            text = page_text(body_id, words, cum)
            ts = base + datetime.timedelta(seconds=page_id * 41.4 // 1)
            payload = text.encode()
            head = (
                f"WARC/1.0\r\nWARC-Type: conversion\r\n"
                f"WARC-Record-ID: <urn:uuid:wetd-{page_id}>\r\n"
                f"WARC-Target-URI: https://site.example/p/{page_id}\r\n"
                f"WARC-Date: {ts.strftime('%Y-%m-%dT%H:%M:%SZ')}\r\n"
                f"Content-Type: text/plain\r\n"
                f"Content-Length: {len(payload)}\r\n\r\n"
            ).encode()
            recs.append(gzip.compress(head + payload + b"\r\n\r\n"))
        return b"".join(recs)

    if not os.path.exists(marker):
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(shards_dir, exist_ok=True)
        n_shards = (n_pages + per_shard - 1) // per_shard

        def write_shards(it):
            words, cum = _vocab()
            for row in it:
                sid = row.id
                with open(
                    f"{shards_dir}/shard-{sid:05d}.warc.gz", "wb"
                ) as f:
                    f.write(shard_bytes(sid, words, cum))

        t0 = time.time()
        spark.range(0, n_shards, 1, n_shards).foreachPartition(write_shards)
        out({"probe": "stream_dedup_corpus", "pages": n_pages,
             "shards": n_shards, "wall": round(time.time() - t0, 1)})
        open(marker, "w").close()

    sink = f"{work}/deduped"
    ckpt = f"{work}/ckpt"
    shutil.rmtree(sink, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    records = stream_warc(
        spark, shards_dir, types=("conversion",), max_files_per_trigger=50
    )
    docs = wet_text(records).select(
        F.col("record_id").alias("doc_id"),
        F.to_timestamp("warc_date").alias("event_ts"),
        "text",
    )
    deduped = stream_exact_dedup(
        docs, text_col="text", ts_col="event_ts", watermark="1 hour"
    )
    t0 = time.time()
    q = (
        deduped.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = time.time() - t0
    for p in (q.recentProgress or []):
        sops = p.get("stateOperators") or []
        srows = sum(s.get("numRowsTotal", 0) for s in sops)
        out({"probe": "stream_dedup_1m_batch", "batch": p["batchId"],
             "ms": p["batchDuration"], "state_rows": srows,
             "state_mem_bytes": sum(
                 s.get("memoryUsedBytes", 0) for s in sops)})
    kept = spark.read.parquet(sink).count()
    out({"probe": "stream_dedup_1m", "pages": n_pages, "kept": kept,
         "dups_dropped": n_pages - kept,
         "expected_dups": n_pages // 37,
         "total_wall": round(wall, 1),
         "pages_per_s": round(n_pages / wall)})


PROBES = {
    "lm_decomp": probe_lm_decomp,
    "repetition_ab": probe_repetition_ab,
    "sig_nonascii": probe_sig_nonascii,
    "stream_wet_1m": probe_stream_wet_1m,
    "stream_dedup_1m": probe_stream_dedup_1m,
}


def main() -> int:
    names = sys.argv[1:] or ["lm_decomp"]
    spark = get_spark()
    for name in names:
        PROBES[name](spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())

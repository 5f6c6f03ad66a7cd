"""Round-12 scale probes.

Each probe prints one JSON line per measurement (consumed into
BASELINE.md).  Interleaved A/B within ONE session wherever a
comparison is claimed — this box's walls swing 2-3x between sessions
(see BASELINE.md r10), so cross-session deltas are not evidence.

Probes:

* ``latin_ab`` — verdict item 4: the r11 script-aware gates taxed the
  all-Latin hot path 1.2-1.5x (per-doc Han/Kana/Thai regex counts paid
  even when the answer is 'Latin').  r12 ships a ``rlike`` first-match
  screen + a materialized switch boolean; this probe interleaves
  plain vs script_aware gopher_filter / gopher_quality_flags / c4_clean
  on the SAME 1M-doc all-Latin corpus, 3 reps each.
* ``stream_minhash_decomp`` — verdict item 3: per-batch decomposition
  of the streaming MinHash dedup (signature kernel vs store scan vs
  band join vs fixed micro-batch overhead) + the shipped store
  compaction, vs the batch operator on the identical corpus.
* ``by_lang_guard`` — verdict item 8: by-lang LM model build at L=50
  languages; the new size guard's estimate vs actual broadcast bytes,
  and the loud failure mode when the cap is exceeded.
* ``real_funnel`` — verdict item 7: the multilingual funnel on pages
  composed from GENUINE zh/ja/th/lo/km/my/bo prose (not transliterated
  synthetics), per-language survival at every stage.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def out(obj) -> None:
    print(json.dumps(obj, ensure_ascii=False), flush=True)


def get_spark():
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("r12-probes")
        .config("spark.sql.shuffle.partitions", str(int(cpus) * 2))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "48g")
        .config("spark.driver.maxResultSize", "4g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def zipf_corpus(spark, n, seed=23):
    from pyspark.sql import functions as F

    from hermes_spark.synth import zipf_documents

    work = f"/tmp/diag_minhash_{n}"
    if not os.path.exists(f"{work}/raw/_SUCCESS"):
        zipf_documents(
            spark, n, vocab_size=30_000, doc_len=80, seed=seed,
            near_dup_every=50, partitions=128,
        ).select(
            "doc_id", F.concat(F.col("text"), F.lit(".")).alias("text")
        ).write.mode("overwrite").parquet(f"{work}/raw")
    return spark.read.parquet(f"{work}/raw")


# ------------------------------------------------------------- latin_ab

def probe_latin_ab(spark) -> None:
    """Interleaved plain vs script_aware on 1M all-Latin docs, 3 reps:
    the r12 rlike screen should bring 'aware' to parity with 'plain'
    (r11 measured 11.2/12.6 s aware vs 10.0/8.0 s plain here)."""
    from pyspark.sql import functions as F

    from hermes_spark.operators import c4_clean, gopher_filter
    from hermes_spark.operators.gopher import gopher_quality_flags

    n = int(os.environ.get("STAGE_DOCS", "1000000"))
    docs = zipf_corpus(spark, n)
    docs.count()  # warm page cache

    for i in range(3):
        for variant, aware in (("plain", False), ("script_aware", True)):
            t0 = time.time()
            rows = gopher_filter(
                docs, "doc_id", "text", min_words=20, min_stopwords=0,
                script_aware=aware,
            ).count()
            out({"probe": "latin_ab_filter", "rep": i, "variant": variant,
                 "rows": rows, "wall": round(time.time() - t0, 1)})
        for variant, aware in (("plain", False), ("script_aware", True)):
            t0 = time.time()
            rows = gopher_quality_flags(
                docs, "doc_id", "text", min_words=20, min_stopwords=0,
                script_aware=aware,
            ).filter(F.col("keep")).count()
            out({"probe": "latin_ab_flags", "rep": i, "variant": variant,
                 "rows": rows, "wall": round(time.time() - t0, 1)})
        for variant, aware in (("plain", False), ("script_aware", True)):
            t0 = time.time()
            rows = c4_clean(
                docs, "doc_id", "text", min_line_words=3, script_aware=aware
            ).count()
            out({"probe": "latin_ab_c4", "rep": i, "variant": variant,
                 "rows": rows, "wall": round(time.time() - t0, 1)})


# ------------------------------------------------- stream_minhash_decomp

def probe_stream_minhash_decomp(spark) -> None:
    """Verdict item 3: decompose and close the stream-vs-batch MinHash
    gap.  Reuses the r11 1M-page WET drop-zone (cached at
    /tmp/r11_stream_minhash).  Three measurements in ONE session:

    1. full stream, r12 code (read-side store dropDuplicates removed),
       compact_every=0 — clean-session pages/s + per-batch durations;
    2. full stream with compact_every=5 — compaction cost vs the
       small-file accumulation it prevents;
    3. stage decomposition of a LATE batch (50k pages vs ~3.8M-row
       store): signature kernel / store scan / history join / in-batch
       pairs / survivor anti-join — each materialized separately;
    4. the batch operator on the identical corpus (the ratio target).
    """
    import glob as _glob

    from pyspark.sql import functions as F

    from hermes_spark.functions.hashing import band_keys
    from hermes_spark.operators import fuzzy_dedup_keep_one, minhash_lsh_pairs
    from hermes_spark.operators.dedup import (
        banded_match_pairs,
        minhash_signatures,
    )
    from hermes_spark.sources.warc import read_warc, wet_text
    from hermes_spark.streaming.dedup import stream_minhash_dedup
    from hermes_spark.streaming.ingest import stream_warc

    work = "/tmp/r11_stream_minhash"
    shards_dir = f"{work}/dropzone"
    n_pages = 1_000_000
    if not os.path.exists(f"{work}/.complete-{n_pages}"):
        print("corpus missing — run r11_probes.py stream_minhash_1m first",
              file=sys.stderr)
        return

    def run_stream(tag, compact_every):
        state = f"{work}/sigstore_{tag}"
        sink = f"{work}/accepted_{tag}"
        ckpt = f"{work}/ckpt_{tag}"
        for p in (state, sink, ckpt):
            shutil.rmtree(p, ignore_errors=True)
        fpt = int(os.environ.get("STREAM_FILES_PER_TRIGGER", "50"))
        recs = stream_warc(
            spark, shards_dir, types=("conversion",), max_files_per_trigger=fpt
        )
        docs = wet_text(recs).select(
            F.regexp_extract("record_id", r"wet-(\d+)", 1)
            .cast("long").alias("doc_id"),
            "text",
        )
        t0 = time.time()
        q = stream_minhash_dedup(
            docs, state_path=state, output_path=sink,
            shingle_n=3, num_hashes=16, num_bands=4, min_jaccard=0.7,
            compact_every=compact_every,
            checkpointLocation=ckpt, trigger={"availableNow": True},
        )
        q.awaitTermination()
        wall = time.time() - t0
        batches = [
            {"batch": p["batchId"], "ms": p["batchDuration"]}
            for p in (q.recentProgress or []) if p.get("numInputRows")
        ]
        kept = spark.read.parquet(sink).count()
        store_files = len(_glob.glob(f"{state}/*.parquet"))
        store_rows = spark.read.parquet(state).count()
        out({"probe": "stream_decomp_run", "variant": tag,
             "compact_every": compact_every, "files_per_trigger": fpt,
             "wall": round(wall, 1), "pages_per_s": round(n_pages / wall),
             "kept": kept, "store_rows": store_rows,
             "store_files": store_files,
             "batch_ms_first5": [b["ms"] for b in batches[:5]],
             "batch_ms_last5": [b["ms"] for b in batches[-5:]]})
        return state

    state = run_stream("nodrop", compact_every=0)
    run_stream("compact5", compact_every=5)

    # ---- stage decomposition: late batch (last 50 shards) vs the
    # full nodrop store
    late = wet_text(
        read_warc(spark, f"{shards_dir}/shard-009[5-9]*.warc.gz",
                  types=("conversion",))
    ).select(
        F.regexp_extract("record_id", r"wet-(\d+)", 1)
        .cast("long").alias("doc_id"),
        "text",
    ).persist()
    n_late = late.count()

    num_hashes, num_bands, min_j = 16, 4, 0.7
    t0 = time.time()
    sigs = minhash_signatures(
        late, "doc_id", "text", shingle_n=3, num_hashes=num_hashes,
        portable=True,
    )
    banded = sigs.select(
        "__id", "__sig",
        F.explode(band_keys(F.col("__sig"), num_bands,
                            num_hashes // num_bands)).alias("__band"),
    ).persist()
    n_banded = banded.count()
    t_sig = time.time() - t0

    t0 = time.time()
    state_df = spark.read.schema(
        "__band string, __id long, __sig array<bigint>"
    ).parquet(state)
    n_store = state_df.count()
    t_scan = time.time() - t0

    t0 = time.time()
    batch_bands = F.broadcast(banded.select("__band").distinct())
    state_rel = (
        state_df.join(batch_bands, on="__band", how="left_semi")
        .select("__band", "__sig").distinct()
    )

    def est_jaccard(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: F.when(x == y, 1).otherwise(0)),
            F.lit(0), lambda acc, v: acc + v,
        ) / F.lit(num_hashes)

    hist_hits = (
        banded.alias("b").join(state_rel.alias("s"), on="__band")
        .filter(est_jaccard(F.col("b.__sig"), F.col("s.__sig"))
                >= F.lit(min_j))
        .select(F.col("b.__id").alias("__id")).distinct()
    )
    n_hits = hist_hits.count()
    t_join = time.time() - t0

    t0 = time.time()
    pairs = banded_match_pairs(banded, min_j, num_hashes,
                               max_bucket_size=1000)
    n_pairs = pairs.count()
    t_inbatch = time.time() - t0

    out({"probe": "stream_decomp_stages", "batch_pages": n_late,
         "store_rows": n_store, "banded_rows": n_banded,
         "hist_hits": n_hits, "inbatch_pairs": n_pairs,
         "t_signature_s": round(t_sig, 1), "t_store_scan_s": round(t_scan, 1),
         "t_history_join_s": round(t_join, 1),
         "t_inbatch_pairs_s": round(t_inbatch, 1)})
    late.unpersist(); banded.unpersist()

    # ---- batch operator yardstick on the identical corpus
    allr = wet_text(read_warc(spark, shards_dir, types=("conversion",))).select(
        F.regexp_extract("record_id", r"wet-(\d+)", 1)
        .cast("long").alias("doc_id"),
        "text",
    ).persist()
    allr.count()
    t0 = time.time()
    pairs = minhash_lsh_pairs(
        allr, "doc_id", "text", shingle_n=3, num_hashes=16, num_bands=4,
        min_jaccard=0.7, portable=True,
    )
    batch_kept = fuzzy_dedup_keep_one(
        allr, "doc_id", pairs, algorithm="auto", keep_by=F.col("doc_id") * -1
    ).count()
    wall = time.time() - t0
    allr.unpersist()
    out({"probe": "stream_decomp_batch_ref", "kept": batch_kept,
         "wall": round(wall, 1), "pages_per_s": round(n_pages / wall)})


# ----------------------------------------------------------- by_lang_guard

def probe_by_lang_guard(spark) -> None:
    """Verdict item 8: the by-lang LM arrow engine at L=50 languages —
    the size guard's estimate vs the actual frozen-table footprint,
    scoring correctness at that L, and the loud failure mode."""
    import random

    from pyspark.sql import functions as F

    from hermes_spark.operators import lm_score_by_lang, lm_train_by_lang
    from hermes_spark.operators.lm import _guard_model_bytes

    L = int(os.environ.get("GUARD_LANGS", "50"))
    docs_per_lang = 2_000
    rng = random.Random(5)
    rows = []
    did = 0
    for li in range(L):
        # disjoint 300-word vocab per language
        vocab = [f"w{li}_{k}" for k in range(300)]
        for _ in range(docs_per_lang):
            k = rng.randint(20, 60)
            rows.append(
                (did, f"lang{li:02d}",
                 " ".join(rng.choice(vocab) for _ in range(k)))
            )
            did += 1
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, text string"
    ).repartition(64).persist()
    n = df.count()

    t0 = time.time()
    lm = lm_train_by_lang(df, vocab_size=400)
    # guard estimate (same arithmetic as the ValueError path)
    sizes = lm.vocab.groupBy().agg(
        F.count(F.lit(1)).alias("v"), F.sum(F.length("term")).alias("vc")
    ).collect()[0]
    nb, nc = lm.bigram_counts.count(), lm.context_counts.count()
    est = int(sizes["v"]) * 90 + int(sizes["vc"]) * 2 + nb * 16 + nc * 8
    t_train = time.time() - t0

    t0 = time.time()
    scored = lm_score_by_lang(df, lm, broadcast_model=True)
    per_lang = scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")
    ).count()
    t_score = time.time() - t0

    # loud failure mode at a tiny cap
    try:
        lm_score_by_lang(df, lm, broadcast_model=True, max_model_bytes=1000)
        failed = "NO ERROR (BUG)"
    except ValueError as e:
        failed = str(e)[:120]
    out({"probe": "by_lang_guard", "langs": L, "docs": n,
         "vocab_rows": int(sizes["v"]), "bigram_rows": nb,
         "context_rows": nc, "estimated_mb": round(est / 1e6, 1),
         "train_wall": round(t_train, 1), "score_wall": round(t_score, 1),
         "langs_scored": per_lang, "guard_error": failed})
    df.unpersist()


# ------------------------------------------------------------ real_funnel

def probe_real_funnel(spark) -> None:
    """Verdict item 7: the multilingual funnel on pages composed from
    GENUINE prose (tests/real_text_fixtures.py — real zh/ja/th/lo/km/
    my/bo sentences), not transliterated synthetics.  1M pages:
    ~76.7% Latin (zipf), ~3.3% per real language (4 distinct fixture
    sentences each, expression-composed), ~3.3% same-script random
    garbage.  Stages: add_lang_id -> c4_clean(script_aware) ->
    gopher_filter(script_aware) -> per-language LM quantile filter
    (char-level for unsegmented) -> pack_sequences(script_aware).
    Records per-TRUTH-label survival at each stage plus add_lang_id
    accuracy on the real text.  MinHash dedup is deliberately absent:
    pages built from 4-6 base sentences are near-dups of each other by
    construction, so a dedup stage would measure the corpus
    construction, not the operator (dedup-at-scale is probed
    separately on the zipf corpus)."""
    sys.path.insert(
        0,
        os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "tests"),
    )
    from real_text_fixtures import REAL_SENTENCES, garbage_doc

    from pyspark.sql import functions as F

    from hermes_spark.functions.text import add_lang_id
    from hermes_spark.operators import (
        c4_clean,
        gopher_filter,
        lm_quantile_filter_by_lang,
        lm_train_by_lang,
        pack_sequences,
    )

    n = int(os.environ.get("STAGE_DOCS", "1000000"))
    docs = zipf_corpus(spark, n)
    work = f"/tmp/r12_realfunnel_{n}"
    langs = sorted(REAL_SENTENCES)  # bo ja km lo my th zh

    if not os.path.exists(f"{work}/mixed/_SUCCESS"):
        did = F.col("doc_id")
        # 4 distinct sentences per page (consecutive indices mod n_sent
        # are distinct for page_len <= n_sent), 2 per line
        def page(lang):
            sents = REAL_SENTENCES[lang]
            arr = F.array(*[F.lit(s) for s in sents])
            m = len(sents)
            pick = lambda j: F.element_at(arr, (F.pmod(did * 31 + j, m) + 1).cast("int"))
            return F.concat(
                pick(0), pick(1), F.lit("\n"), pick(2), pick(3)
            )

        sel = F.pmod(did, 30)
        body = None
        for i, lang in enumerate(langs):
            cond = sel == (21 + i)
            expr = page(lang)
            body = F.when(cond, expr) if body is None else body.when(cond, expr)
        garb = None
        for i, lang in enumerate(langs):
            g = garbage_doc(lang, n_chars=200, seed=7)
            g2 = g[:100] + "\n" + g[100:]
            cond = (sel == 20) & (F.pmod(did, 7) == i)
            garb = F.when(cond, F.lit(g2)) if garb is None else garb.when(cond, F.lit(g2))
        truth = None
        for i, lang in enumerate(langs):
            cond = sel == (21 + i)
            truth = F.when(cond, F.lit(lang)) if truth is None else truth.when(cond, F.lit(lang))
        truth = truth.when(sel == 20, F.lit("garbage")).otherwise(F.lit("latin"))
        text = body.otherwise(
            garb.otherwise(F.concat(F.col("text"), F.lit(".")))
        )
        docs.select(
            "doc_id", truth.alias("truth"), text.alias("text")
        ).repartition(128).write.mode("overwrite").parquet(f"{work}/mixed")

    mixed = spark.read.parquet(f"{work}/mixed")
    totals = {r["truth"]: r["n"] for r in mixed.groupBy("truth").agg(
        F.count(F.lit(1)).alias("n")).collect()}

    def stage(name, wall, df):
        counts = {r["truth"]: r["n"] for r in df.groupBy("truth").agg(
            F.count(F.lit(1)).alias("n")).collect()}
        rec = {"probe": "real_funnel_stage", "stage": name,
               "wall": round(wall, 1),
               "survival": {k: round(counts.get(k, 0) / totals[k], 4)
                            for k in sorted(totals)}}
        out(rec)
        return rec["wall"]

    try:
        walls = []
        t0 = time.time()
        tagged = add_lang_id(mixed, "text", "lang")
        tagged.repartition(128).write.mode("overwrite").parquet(f"{work}/tagged")
        tagged = spark.read.parquet(f"{work}/tagged")
        walls.append(stage("add_lang_id", time.time() - t0, tagged))
        # lang-id accuracy on the real-language pages
        acc = tagged.filter(
            ~F.col("truth").isin("latin", "garbage")
        ).agg(
            F.avg((F.col("lang") == F.col("truth")).cast("double")).alias("a")
        ).collect()[0]["a"]
        out({"probe": "real_funnel_langid_accuracy",
             "accuracy": round(float(acc), 4)})

        t0 = time.time()
        cleaned = c4_clean(
            tagged, "doc_id", "text", min_line_words=3,
            keep_cols=("truth", "lang"), script_aware=True,
        )
        gated = gopher_filter(
            cleaned, "doc_id", "text", min_words=20, min_stopwords=0,
            script_aware=True,
        )
        gated.repartition(128).write.mode("overwrite").parquet(f"{work}/gated")
        gated = spark.read.parquet(f"{work}/gated")
        walls.append(stage("c4+gopher(script_aware)", time.time() - t0, gated))

        t0 = time.time()
        lm = lm_train_by_lang(
            gated.filter(F.col("doc_id") % 7 == 0), vocab_size=20_000,
            script_aware=True,
        )
        kept = lm_quantile_filter_by_lang(
            gated, lm, keep_frac=0.8, broadcast_model=True,
            score_engine="arrow", script_aware=True,
        )
        kept.repartition(128).write.mode("overwrite").parquet(f"{work}/lm")
        kept = spark.read.parquet(f"{work}/lm")
        walls.append(stage("lm_by_lang(char-level)", time.time() - t0, kept))

        t0 = time.time()
        packed = pack_sequences(
            kept, "doc_id", text_col="text", budget=512, num_shards=64,
            script_aware=True,
        )
        packed.write.mode("overwrite").parquet(f"{work}/packed")
        n_seqs = (
            spark.read.parquet(f"{work}/packed")
            .select("shard", "seq_in_shard").distinct().count()
        )
        walls.append(round(time.time() - t0, 1))
        out({"probe": "real_funnel_stage", "stage": "pack(script_aware)",
             "wall": walls[-1], "sequences": n_seqs})

        # counterfactual: plain gates on the same corpus
        t0 = time.time()
        plain = gopher_filter(
            c4_clean(tagged, "doc_id", "text", min_line_words=3,
                     keep_cols=("truth",)),
            "doc_id", "text", min_words=20, min_stopwords=0,
        )
        counts = {r["truth"]: r["n"] for r in plain.groupBy("truth").agg(
            F.count(F.lit(1)).alias("n")).collect()}
        out({"probe": "real_funnel_plain_gates",
             "wall": round(time.time() - t0, 1),
             "survival": {k: round(counts.get(k, 0) / totals[k], 4)
                          for k in sorted(totals)}})

        total = round(sum(walls), 1)
        out({"probe": "real_funnel", "docs": n, "total_wall": total,
             "docs_per_s": round(n / total)})
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    names = sys.argv[1:] or ["latin_ab"]
    spark = get_spark()
    try:
        for name in names:
            fn = globals().get(f"probe_{name}")
            if fn is None:
                print(f"unknown probe: {name}", file=sys.stderr)
                return 2
            fn(spark)
    finally:
        spark.stop()
    return 0




def probe_image_phash(spark) -> None:
    """r12c: the perceptual image-hash family at 200k images.

    100k structured base images + 80k perturbed PNG twins (brightness
    shift or sparse pixel noise, re-encoded) + 20k lossy JPEG twins —
    planted ground truth: twin k pairs with base k.  Measures the
    distributed hash stage and the banded hamming join end-to-end,
    recall on planted twins at max_hamming=6, and the false-pair rate
    (unrelated structured images that land within 6 bits).
    """
    import shutil
    import tempfile
    import time

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        BinaryType, LongType, StructField, StructType,
    )

    from hermes_spark.operators.multimodal import (
        image_near_dup_pairs, image_phash,
    )

    n_base = 100_000
    n_png_twin = 80_000
    n_jpeg_twin = 20_000

    def gen(batches):
        from hermes_spark.operators.codecs import encode_jpeg, encode_png

        from hermes_spark.operators.codecs import synthetic_image as mk

        for pdf in batches:
            rows = []
            for img_id in pdf["img_id"]:
                img_id = int(img_id)
                if img_id < n_base:                      # base: id = seed
                    px = mk(img_id)
                    media = encode_png(px)
                elif img_id < n_base + n_png_twin:       # perturbed PNG twin
                    seed = img_id - n_base
                    px = mk(seed)
                    r = np.random.default_rng(img_id)
                    if seed % 2 == 0:
                        px = np.clip(
                            px.astype(np.int64) + int(r.integers(10, 30)),
                            0, 255).astype(np.uint8)
                    else:
                        noisy = px.copy()
                        idx = r.integers(0, px.size, 150)
                        noisy.flat[idx] = r.integers(0, 255, 150)
                        px = noisy
                    media = encode_png(px)
                else:                                    # lossy JPEG twin
                    seed = img_id - n_base - n_png_twin
                    media = encode_jpeg(mk(seed))
                rows.append({"img_id": img_id, "media": media})
            yield pd.DataFrame(rows, columns=["img_id", "media"])

    total = n_base + n_png_twin + n_jpeg_twin
    schema = StructType([
        StructField("img_id", LongType()),
        StructField("media", BinaryType()),
    ])
    tmp = tempfile.mkdtemp(prefix="phash_probe_")
    try:
        t0 = time.time()
        (spark.range(total).select(F.col("id").alias("img_id"))
         .repartition(256)
         .mapInPandas(gen, schema)
         .write.mode("overwrite").parquet(f"{tmp}/images"))
        gen_s = time.time() - t0
        images = spark.read.parquet(f"{tmp}/images")

        t0 = time.time()
        hashes = image_phash(images, "img_id", "media")
        n_hashed = hashes.filter(F.col("phash").isNotNull()).count()
        hash_s = time.time() - t0

        t0 = time.time()
        cap = os.environ.get("PHASH_PROBE_CAP")
        pairs = image_near_dup_pairs(
            images, "img_id", "media", max_hamming=6,
            max_bucket_size=int(cap) if cap else None,
        )
        got = pairs.select("id_a", "id_b").collect()
        pair_s = time.time() - t0

        got_set = {(r["id_a"], r["id_b"]) for r in got}
        planted = {(s, n_base + s) for s in range(n_png_twin)} | {
            (s, n_base + n_png_twin + s) for s in range(n_jpeg_twin)
        }
        hit = sum(1 for p in planted if p in got_set)
        out({
            "probe": "image_phash",
            "images": total,
            "gen_s": round(gen_s, 1),
            "hash_s": round(hash_s, 1),
            "hash_images_per_s": round(total / hash_s, 0),
            "pair_s": round(pair_s, 1),
            "pair_images_per_s": round(total / pair_s, 0),
            "n_hashed": n_hashed,
            "recall_planted": round(hit / len(planted), 4),
            "n_pairs": len(got_set),
            "n_unplanted_pairs": len(got_set - planted),
        })
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def probe_stream_phash(spark) -> None:
    """r12c: streaming perceptual dedup at 120k images / 6 micro-batches.

    Each batch carries 10k new base images + 10k perceptual copies of
    EARLIER batches' bases (re-encoded JPEG) — so in steady state half
    of every batch should be dropped against the banded store.
    Measures per-batch wall, end-to-end images/s, store growth, and the
    survivor count vs expectation; compact_every=2 exercises the
    store swap under load.
    """
    import shutil
    import tempfile
    import time

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from hermes_spark.streaming import stream_fingerprint_dedup

    n_batches, new_per_batch, dup_per_batch = 6, 10_000, 10_000

    def gen_batch(batch_no):
        def gen(batches):
            from hermes_spark.operators.codecs import (
                encode_jpeg, encode_png, synthetic_image,
            )

            for pdf in batches:
                rows = []
                for img_id in pdf["img_id"]:
                    img_id = int(img_id)
                    slot = img_id % (new_per_batch + dup_per_batch)
                    if slot < new_per_batch or batch_no == 0:
                        # new base image, unique seed
                        seed = batch_no * new_per_batch + slot % new_per_batch
                        media = encode_png(synthetic_image(seed))
                    else:
                        # perceptual copy of an EARLIER batch's base
                        seed = (img_id * 2654435761) % (
                            batch_no * new_per_batch
                        )
                        media = encode_jpeg(synthetic_image(seed))
                    rows.append({"img_id": img_id, "media": media})
                yield pd.DataFrame(rows, columns=["img_id", "media"])

        return gen

    schema = StructType([
        StructField("img_id", LongType()),
        StructField("media", BinaryType()),
    ])
    tmp = tempfile.mkdtemp(prefix="stream_phash_")
    src, state, outp, ckpt = [f"{tmp}/{d}" for d in ("src", "state", "out", "ckpt")]
    batch_walls = []
    try:
        per_batch = new_per_batch + dup_per_batch
        for b in range(n_batches):
            base_id = b * per_batch
            (spark.range(base_id, base_id + per_batch)
             .select(F.col("id").alias("img_id"))
             .repartition(32)
             .mapInPandas(gen_batch(b), schema)
             .write.mode("append").parquet(f"{src}/batch={b}"))

        read_schema = spark.read.parquet(f"{src}/batch=0").schema
        t_total = time.time()
        for b in range(n_batches):
            t0 = time.time()
            q = stream_fingerprint_dedup(
                spark.readStream.schema(read_schema).parquet(f"{src}/batch={b}"),
                state_path=state, output_path=outp, id_col="img_id",
                max_hamming=6, compact_every=2,
                checkpointLocation=f"{ckpt}/{b}",
                trigger={"availableNow": True},
            )
            q.awaitTermination(600)
            batch_walls.append(round(time.time() - t0, 1))
        total_s = time.time() - t_total

        n_out = spark.read.parquet(outp).count()
        store = spark.read.parquet(state)
        out({
            "probe": "stream_phash",
            "images": n_batches * per_batch,
            "batches": n_batches,
            "batch_walls_s": batch_walls,
            "total_s": round(total_s, 1),
            "images_per_s": round(n_batches * per_batch / total_s, 0),
            "survivors": n_out,
            # batch 0's dup slots repeat seeds 0..9999 in-batch, so it
            # contributes ~10k unique; batches 1-5 add 10k new seeds each
            "expected_survivors_approx": (n_batches - 1) * new_per_batch
            + new_per_batch,
            "store_rows": store.count(),
            "store_distinct_fps": store.select("__fp").distinct().count(),
        })
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def probe_fp_saturation(spark) -> None:
    """r12c review follow-up: measure the incremental fingerprint
    store's bucket-saturation boundary at scale (no image decode —
    fingerprint-level, isolating the join behavior).

    Store: 400k random 64-bit fingerprints (avg ~1,560 distinct per
    (blk, bv) bucket — past the cap=1000 hot threshold, so MOST
    buckets are hot).  Batch: 10k exact re-posts + 10k 2-bit near
    re-posts + 10k novel.  Records per-class drop rates and walls for
    cap=1000 (fallback regime) vs cap=None (full banded join).
    """
    import time

    import numpy as np
    from pyspark.sql import functions as F

    from hermes_spark.operators.dedup import (
        fingerprint_banded_rows,
        fingerprint_dedup_against,
    )

    rng = np.random.default_rng(41)
    n_store = 400_000

    def s64(arr):
        arr = np.asarray(arr, dtype=np.uint64)
        return arr.astype(np.int64)

    store_fps = s64(rng.integers(0, 1 << 64, n_store, dtype=np.uint64))
    store_df = spark.createDataFrame(
        [(int(i), int(f)) for i, f in enumerate(store_fps)], "id long, fp long"
    )
    store = fingerprint_banded_rows(
        store_df, "id", "fp", max_hamming=3
    ).localCheckpoint(eager=True)

    exact = store_fps[:10_000]
    near = store_fps[10_000:20_000] ^ np.int64(0b11)
    novel = s64(rng.integers(0, 1 << 64, 10_000, dtype=np.uint64))
    batch_rows = (
        [(100_000_0 + i, int(f)) for i, f in enumerate(exact)]
        + [(200_000_0 + i, int(f)) for i, f in enumerate(near)]
        + [(300_000_0 + i, int(f)) for i, f in enumerate(novel)]
    )
    batch = spark.createDataFrame(batch_rows, "id long, fp long")

    results = {}
    for cap in (1000, None):
        t0 = time.time()
        surv, _ = fingerprint_dedup_against(
            batch, store, "id", "fp", max_hamming=3,
            history_max_bucket_size=cap, keep_policy="greedy",
        )
        kept = {r["id"] for r in surv.collect()}
        wall = time.time() - t0
        results[str(cap)] = {
            "wall_s": round(wall, 1),
            "exact_dropped": 10_000 - sum(
                1 for i in range(10_000) if 100_000_0 + i in kept),
            "near_dropped": 10_000 - sum(
                1 for i in range(10_000) if 200_000_0 + i in kept),
            "novel_kept": sum(
                1 for i in range(10_000) if 300_000_0 + i in kept),
        }
    out({"probe": "fp_saturation", "store_fps": n_store, **results})


def probe_unigram(spark) -> None:
    """r12c: unigram tokenizer at sf0.1 scale — training wall on the
    60k-doc corpus and distributed Viterbi encode throughput, plus the
    composed unigram -> pack_sequences budget path."""
    import time

    from pyspark.sql import functions as F

    from hermes_spark.operators.packing import pack_sequences
    from hermes_spark.operators.unigram import (
        unigram_encode, unigram_train,
    )

    docs = spark.read.parquet(
        os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        + "/documents.parquet"
    ).localCheckpoint(eager=True)
    n_docs = docs.count()

    t0 = time.time()
    vocab = unigram_train(docs, vocab_size=8000, em_iters=3)
    train_s = time.time() - t0

    t0 = time.time()
    enc = unigram_encode(docs, vocab, "doc_id", "text").localCheckpoint(
        eager=True
    )
    agg = enc.agg(
        F.sum("n_tokens").alias("tok"), F.count("*").alias("n")
    ).collect()[0]
    enc_s = time.time() - t0
    chars = docs.select(
        F.sum(F.length(F.regexp_replace(F.lower("text"), r"\s+", "")))
    ).collect()[0][0]

    t0 = time.time()
    packed = pack_sequences(
        docs.join(enc.select("doc_id", "n_tokens"), "doc_id"),
        "doc_id", token_count_col="n_tokens", budget=2048,
    )
    n_seqs = packed.select("shard", "seq_in_shard").distinct().count()
    pack_s = time.time() - t0

    # second leg: realistic vocabulary (zipf corpus, 100k docs) — the
    # testdata documents table has only ~60 distinct words, so its
    # useful vocab saturates at ~54 pieces
    zdocs = zipf_corpus(spark, 100_000).localCheckpoint(eager=True)
    t0 = time.time()
    zvocab = unigram_train(zdocs, vocab_size=8000, em_iters=3)
    ztrain_s = time.time() - t0
    t0 = time.time()
    zn = unigram_encode(zdocs, zvocab, "doc_id", "text").agg(
        F.sum("n_tokens").alias("tok")
    ).collect()[0]["tok"]
    zenc_s = time.time() - t0

    out({
        "probe": "unigram",
        "zipf_docs": 100_000,
        "zipf_vocab": len(zvocab),
        "zipf_train_s": round(ztrain_s, 1),
        "zipf_encode_s": round(zenc_s, 1),
        "zipf_docs_per_s": round(100_000 / zenc_s, 0),
        "zipf_tokens": int(zn),
        "docs": n_docs,
        "vocab": len(vocab),
        "train_s": round(train_s, 1),
        "encode_s": round(enc_s, 1),
        "encode_docs_per_s": round(n_docs / enc_s, 0),
        "encode_tokens": int(agg["tok"]),
        "chars_per_token": round(chars / agg["tok"], 2),
        "packed_sequences": n_seqs,
        "pack_s": round(pack_s, 1),
    })
if __name__ == "__main__":
    raise SystemExit(main())

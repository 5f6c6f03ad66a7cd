"""Reference implementations of the curation kernels — test oracles.

Each curation operator in ``hermes_spark`` keeps ONE implementation (an
Arrow/numpy or Python-regex kernel).  The slower formulations those
kernels replaced are kept here, unchanged, as independent references:
the parity and property tests run both on the same inputs and require
identical output.  Nothing in the library imports this module.

* :func:`lsh_pairs_expr` — MinHash LSH banding + intra-bucket pair
  generation (incl. the oversized-bucket collapse) as pure array
  expressions, for ``operators.minhash_lsh_pairs``;
* :func:`simhash_fingerprints_expr` — the SimHash vote fold as one
  ``aggregate`` over the token-hash array, for
  ``operators.simhash_fingerprints``;
* :func:`fingerprint_near_dup_pairs_expr` — the Catalyst slice/struct
  in-bucket hamming pairing, for ``operators.fingerprint_near_dup_pairs``
  (under-cap buckets only: the operator collapses over-cap buckets);
* :func:`gopher_repetition_flags_vector` — the batch-vectorized numpy
  gram-count kernel, for ``operators.gopher_repetition_flags``;
* :func:`extract_main_text_expr` — the higher-order expression plan
  over ``page_blocks``, for ``operators.extract_main_text``;
* :func:`host_link_graph_expr` — ``resolved_outlinks`` +
  ``canonical_url`` as scan expressions, for
  ``operators.host_link_graph``.

The MinHash signature reference needs no helper here: it is the public
expression ``functions.hashing.minhash_signature(shingles(text, n))``.

Tests import this module by name (``from engine_oracles import ...``),
like ``real_text_fixtures``.  The Python workers do not have ``tests/``
on their path, so the module registers itself to be pickled by value.
"""

from __future__ import annotations

import inspect
import sys

from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hermes_spark.functions.hashing import band_keys, fast_hash64, portable_hash64
from hermes_spark.functions.text import canonical_url, tokens
from hermes_spark.operators.gopher import (
    _make_kernel_tokenizer,
    _repetition_flags,
    gopher_repetition_flags,
)
from hermes_spark.operators.maincontent import _word_count, page_blocks
from hermes_spark.operators.weblinks import resolved_outlinks

cloudpickle.register_pickle_by_value(sys.modules[__name__])


# ------------------------------------------------------------ MinHash LSH


def _pair_est(m1: Column, m2: Column, num_hashes: int) -> Column:
    """Signature-agreement estimator between two (…__id, __sig…) structs."""
    return F.size(
        F.filter(
            F.zip_with(m1["__sig"], m2["__sig"], lambda x, y: x == y),
            lambda eq: eq,
        )
    ) / F.lit(float(num_hashes))


def _all_pair_structs(arr: Column, num_hashes: int) -> Column:
    """All intra-array pairs (id_a<id_b, est_jaccard) — in-task, O(k²)."""
    return F.flatten(
        F.transform(
            arr,
            lambda m1, i: F.transform(
                F.slice(arr, i + 2, F.size(arr)),
                lambda m2: F.struct(
                    F.least(m1["__id"], m2["__id"]).alias("id_a"),
                    F.greatest(m1["__id"], m2["__id"]).alias("id_b"),
                    _pair_est(m1, m2, num_hashes).alias("est_jaccard"),
                ),
            ),
        )
    )


def _gathered_bucket_pairs(
    grouped: DataFrame, num_hashes: int, max_bucket_size: int
) -> DataFrame:
    """Candidate pairs from gathered band buckets ``(…, __members:
    array<struct<__id,__sig>>)`` — NOT distinct, ``est_jaccard``
    unrounded.  All pairs within ``max_bucket_size``; oversized buckets
    collapse (identical-signature chains + representative all-pairs or
    star) by the rules documented on ``dedup._bucket_pairs_np``."""
    members = F.col("__members")
    # (__sig, __id)-sorted view, built only for oversized buckets (the
    # common path pays a cheap restructure, no sort)
    restruct = F.transform(
        members, lambda m: F.struct(m["__sig"].alias("__sig"), m["__id"].alias("__id"))
    )
    g = grouped.withColumn(
        "__ssort",
        F.when(F.size(members) > max_bucket_size, F.array_sort(restruct)).otherwise(
            F.slice(restruct, 1, 0)
        ),
    )
    ssort = F.col("__ssort")

    def prev(i: Column) -> Column:
        # element_at is 1-based; greatest() keeps the index legal at
        # i==0 where the (i > 0) guard discards the value anyway
        return F.element_at(ssort, F.greatest(i, F.lit(1)))

    chain = F.filter(
        F.transform(
            ssort,
            lambda m, i: F.when(
                (i > 0) & (prev(i)["__sig"] == m["__sig"]),
                F.struct(
                    F.least(prev(i)["__id"], m["__id"]).alias("id_a"),
                    F.greatest(prev(i)["__id"], m["__id"]).alias("id_b"),
                    F.lit(1.0).alias("est_jaccard"),
                ),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    g = g.withColumn(
        "__reps",
        F.filter(
            ssort,
            lambda m, i: F.when(i == 0, F.lit(True)).otherwise(
                prev(i)["__sig"] != m["__sig"]
            ),
        ),
    )
    reps = F.col("__reps")
    rep0 = F.element_at(reps, 1)
    star = F.transform(
        F.slice(reps, 2, F.size(reps)),
        lambda m2: F.struct(
            F.least(rep0["__id"], m2["__id"]).alias("id_a"),
            F.greatest(rep0["__id"], m2["__id"]).alias("id_b"),
            _pair_est(rep0, m2, num_hashes).alias("est_jaccard"),
        ),
    )
    pair_structs = F.when(
        F.size(members) <= max_bucket_size, _all_pair_structs(members, num_hashes)
    ).otherwise(
        F.concat(
            chain,
            F.when(
                F.size(reps) <= max_bucket_size,
                _all_pair_structs(reps, num_hashes),
            ).otherwise(star),
        )
    )
    return g.select(F.explode(pair_structs).alias("__p")).select(
        "__p.id_a", "__p.id_b", "__p.est_jaccard"
    )


def lsh_pairs_expr(
    sigs: DataFrame,
    num_hashes: int = 16,
    num_bands: int = 4,
    min_jaccard: float = 0.0,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """``minhash_lsh_pairs`` from a ``(__id, __sig)`` signature frame,
    with the pairs generated by :func:`_gathered_bucket_pairs`."""
    buckets = sigs.select(
        "__id",
        "__sig",
        F.explode(
            band_keys(F.col("__sig"), num_bands, num_hashes // num_bands)
        ).alias("__band"),
    )
    grouped = (
        buckets.groupBy("__band")
        .agg(F.collect_list(F.struct("__id", "__sig")).alias("__members"))
        .filter(F.size("__members") >= 2)
    )
    raw = _gathered_bucket_pairs(grouped, num_hashes, max_bucket_size)
    out = (
        raw.select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))
        .distinct()
    )
    if min_jaccard > 0:
        out = out.filter(F.col("est_jaccard") >= min_jaccard)
    return out


# ---------------------------------------------------------------- SimHash


def simhash_fingerprints_expr(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32,
    portable: bool = True, script_aware: bool = False,
) -> DataFrame:
    """``simhash_fingerprints`` with the vote fold as ONE expression
    fold over the token-hash array, accumulating all ``bits`` vote
    counters at once."""
    token_hash = portable_hash64 if portable else fast_hash64
    low = F.lower(F.col(text_col))
    if script_aware:
        from hermes_spark.functions.text import segment_unsegmented

        low = segment_unsegmented(low)
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.transform(tokens(low), lambda t: token_hash(t)).alias("__hs"),
    )

    def bits_pm1(h: Column) -> Column:
        # literal shifts (shiftright needs a constant count): the token's
        # ±1 vote for every bit position
        return F.array(
            *[
                F.when(
                    F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
                for b in range(bits)
            ]
        )

    votes = F.aggregate(
        F.col("__hs"),
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(acc, bits_pm1(h), lambda a, v: a + v),
    )
    powers = F.array(*[F.lit(1 << b).cast("long") for b in range(bits)])
    sim = F.aggregate(
        F.zip_with(
            votes,
            powers,
            lambda v, p: F.when(v >= 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return hashed.select("id", sim.alias("simhash"))


def fingerprint_near_dup_pairs_expr(
    fps: DataFrame,
    id_col: str,
    hash_col: str,
    bits: int = 64,
    max_hamming: int = 3,
    block_bits: int = 8,
) -> DataFrame:
    """``fingerprint_near_dup_pairs`` (no bucket cap) with the in-bucket
    pairs built as Catalyst slice/struct expressions and hamming
    distances by ``bit_count(xor)``."""
    n_blocks = max(max_hamming + 1, bits // block_bits)
    width = bits // n_blocks
    hashed = fps.select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("__fp")
    ).filter(F.col("__fp").isNotNull())
    block_key = F.concat_ws(
        "_",
        F.col("__blk").cast("string"),
        F.expr(f"shiftright(__fp, __blk * {width})")
        .bitwiseAND(F.lit((1 << width) - 1))
        .cast("string"),
    )
    bucketed = hashed.select(
        "id",
        "__fp",
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("__blk"),
    ).select("id", "__fp", block_key.alias("__k"))
    grouped = (
        bucketed.groupBy("__k")
        .agg(F.collect_list(F.struct("id", "__fp")).alias("__members"))
        .filter(F.size("__members") >= 2)
    )
    members = F.col("__members")
    pair_structs = F.flatten(
        F.transform(
            members,
            lambda m1, i: F.transform(
                F.slice(members, i + 2, F.size(members)),
                lambda m2: F.struct(
                    F.least(m1["id"], m2["id"]).alias("id_a"),
                    F.greatest(m1["id"], m2["id"]).alias("id_b"),
                    F.bit_count(
                        m1["__fp"].bitwiseXOR(m2["__fp"])
                    ).alias("hamming"),
                ),
            ),
        )
    )
    return (
        grouped.select(F.explode(pair_structs).alias("__p"))
        .select("__p.id_a", "__p.id_b", "__p.hamming")
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ------------------------------------------------------ Gopher repetition


def _vector_stats(names, top_ns, dup_ns, script_aware):
    """Batch-vectorized twin of ``gopher._counter_stats``:
    tokenization and the small line/paragraph counters stay per-doc
    Python; gram counting runs batch-wide in numpy via dense
    length-doubling gram ids + one plain-int64 np.unique per n.
    MEASURED SLOWER than the adaptive Counter kernel on the 1M-doc
    Zipf probe (40.2 s vs 21.4 s before the counter fast paths; see
    BASELINE.md r8): the top-gram tie-break (min JOINED STRING among
    max-count grams) degenerates when no gram repeats — every gram
    ties, so the string argmin falls back to Python for nearly every
    doc, erasing the numpy win."""
    all_ns = sorted(set(top_ns) | set(dup_ns))
    top_set, dup_set = set(top_ns), set(dup_ns)

    def stats_vector(batches):
        import re as _re
        from collections import Counter

        import numpy as np
        import pandas as pd

        para_re = _re.compile(r"\n\s*\n", _re.ASCII)
        _WS = " \t\n\r\x0b\x0c"
        tokenize = _make_kernel_tokenizer(script_aware)

        def group_stats(items):
            c = Counter(items)
            chars_all = sum(len(g) * k for g, k in c.items())
            chars_dup = sum(len(g) * k for g, k in c.items() if k >= 2)
            return len(items), len(c), chars_all, chars_dup

        for b in batches:
            ndocs = len(b)
            if ndocs == 0:
                continue
            out = {name: [] for name in names}
            vocab: dict = {}
            ids_parts, len_parts = [], []
            doc_nt = np.empty(ndocs, dtype=np.int64)
            for r, (id_, t) in enumerate(zip(b["__id"], b["__t"])):
                t = "" if t is None else str(t)
                toks = tokenize(t)
                lines = [
                    l2 for l2 in (l.strip(_WS) for l in t.split("\n"))
                    if l2 != ""
                ]
                paras = [
                    p2 for p2 in (p.strip(_WS) for p in para_re.split(t))
                    if p2 != ""
                ]
                out["__id"].append(id_)
                tok_chars = sum(len(w) for w in toks)
                if toks:
                    tok_chars += len(toks) - 1
                out["__tok_chars"].append(tok_chars)
                for fam, items in (("l", lines), ("p", paras)):
                    tot, uniq, call, cdup = group_stats(items)
                    out[f"__{fam}_tot"].append(tot)
                    out[f"__{fam}_uniq"].append(uniq)
                    out[f"__{fam}_chars_all"].append(call)
                    out[f"__{fam}_chars_dup"].append(cdup)
                doc_nt[r] = len(toks)
                ids_parts.append(
                    np.fromiter(
                        (vocab.setdefault(w, len(vocab)) for w in toks),
                        dtype=np.int64,
                        count=len(toks),
                    )
                )
                len_parts.append(
                    np.fromiter(
                        (len(w) for w in toks), dtype=np.int64, count=len(toks)
                    )
                )
            flat = (
                np.concatenate(ids_parts)
                if ids_parts
                else np.empty(0, dtype=np.int64)
            )
            tlens = (
                np.concatenate(len_parts)
                if len_parts
                else np.empty(0, dtype=np.int64)
            )
            doc_of = np.repeat(np.arange(ndocs, dtype=np.int64), doc_nt)
            cs = np.concatenate(([0], np.cumsum(tlens)))
            id2tok = list(vocab)  # insertion order == id order
            total = len(flat)

            topvals = {n: np.zeros(ndocs, dtype=np.int64) for n in top_ns}
            dupvals = {n: np.zeros(ndocs, dtype=np.int64) for n in dup_ns}
            # Dense gram ids by length-doubling: lid[L][i] identifies the
            # L-token window starting at flat position i (ids equal ⟺
            # windows equal, within the batch).  Each level is ONE plain
            # int64 np.unique over (left_id << 31 | right_id) — measured
            # ~17x faster than a structured-dtype unique over the raw
            # (doc, id×n) rows, which in turn lost to the per-doc Counter
            # path (the r8 first cut, 168 s vs 25 s per 1M docs — both
            # probed; see BASELINE.md).  Cross-doc windows get ids too
            # but are never selected: a fully-in-doc window's halves are
            # in-doc by containment.  Dense ids and doc indexes are both
            # < 2^31, so every packed key fits int64.
            lid = {1: flat}

            def _level(L: int):
                got = lid.get(L)
                if got is not None:
                    return got
                a_len = L // 2
                b_len = L - a_len
                a, b = _level(a_len), _level(b_len)
                m = total - L + 1
                if m <= 0:
                    lid[L] = np.empty(0, dtype=np.int64)
                    return lid[L]
                key = (a[:m] << 31) | b[a_len : a_len + m]
                _, inv = np.unique(key, return_inverse=True)
                lid[L] = inv.astype(np.int64, copy=False)
                return lid[L]

            for n in all_ns:
                if total < n:
                    continue
                starts = np.nonzero(doc_of[: total - n + 1] == doc_of[n - 1 :])[0]
                if len(starts) == 0:
                    continue
                key = (doc_of[starts] << 31) | _level(n)[starts]
                _, first_idx, counts = np.unique(
                    key, return_index=True, return_counts=True
                )
                s_u = starts[first_idx]
                docs_u = doc_of[s_u]
                charlen = cs[s_u + n] - cs[s_u] + (n - 1)
                if n in dup_set:
                    mask = counts >= 2
                    if mask.any():
                        dv = dupvals[n]
                        np.add.at(dv, docs_u[mask], charlen[mask] * counts[mask])
                if n in top_set:
                    best = np.zeros(ndocs, dtype=np.int64)
                    np.maximum.at(best, docs_u, counts)
                    tie = counts == best[docs_u]
                    td, tl = docs_u[tie], charlen[tie]
                    mn = np.full(ndocs, np.iinfo(np.int64).max, dtype=np.int64)
                    mx = np.zeros(ndocs, dtype=np.int64)
                    np.minimum.at(mn, td, tl)
                    np.maximum.at(mx, td, tl)
                    have = best > 0
                    tv = topvals[n]
                    clear = have & (mn == mx)  # ties agree on char length
                    tv[clear] = best[clear] * mn[clear]
                    amb = np.nonzero(have & (mn != mx))[0]
                    if len(amb):
                        # rare: max-count grams of one doc differ in
                        # length — resolve the min-JOINED-STRING
                        # tie-break exactly, reconstructing only those
                        # docs' tied grams
                        amb_set = set(amb.tolist())
                        rows_idx = np.nonzero(tie)[0]
                        cand: dict = {}
                        for ri in rows_idx:
                            d = int(docs_u[ri])
                            if d not in amb_set:
                                continue
                            s = int(s_u[ri])
                            g = " ".join(
                                id2tok[int(x)] for x in flat[s : s + n]
                            )
                            prev = cand.get(d)
                            if prev is None or g < prev:
                                cand[d] = g
                        for d, g in cand.items():
                            tv[d] = int(best[d]) * len(g)
            for n in top_ns:
                out[f"__top{n}"] = topvals[n]
            for n in dup_ns:
                out[f"__dup{n}"] = dupvals[n]
            yield pd.DataFrame(out)

    return stats_vector


def gopher_repetition_flags_vector(
    df: DataFrame, id_col: str, text_col: str, **kwargs
) -> DataFrame:
    """``gopher_repetition_flags`` (same arguments and defaults) run
    with :func:`_vector_stats` as its stats kernel."""
    bound = inspect.signature(gopher_repetition_flags).bind(
        df, id_col, text_col, **kwargs
    )
    bound.apply_defaults()
    return _repetition_flags(**bound.arguments, stats_kernel=_vector_stats)


# ------------------------------------------------ main-content extraction


def extract_main_text_expr(
    df: DataFrame,
    id_col: str,
    html_col: str,
    *,
    min_words: int = 5,
    max_link_density: float = 0.33,
    min_stopword_frac: float = 0.0,
    out_col: str = "main_text",
    keep_columns: "list | None" = None,
) -> DataFrame:
    """``extract_main_text`` as a zero-shuffle map stage of pure
    higher-order array expressions — the plan the SQL oracle mirrors."""
    blocks = page_blocks(F.col(html_col))
    kept = F.filter(
        blocks,
        lambda s: (s["words"] >= F.lit(min_words))
        & (
            s["anchor_words"].cast("double")
            <= F.lit(float(max_link_density)) * s["words"].cast("double")
        )
        & (
            s["stop_words"].cast("double")
            >= F.lit(float(min_stopword_frac)) * s["words"].cast("double")
        ),
    )
    main = F.array_join(F.transform(kept, lambda s: s["text"]), "\n")
    cols = [id_col] + list(keep_columns or [])
    return df.select(
        *cols,
        main.alias(out_col),
        F.size(F.filter(blocks, lambda s: s["words"] >= 1))
        .cast("long")
        .alias("n_blocks"),
        F.size(kept).cast("long").alias("n_kept"),
        _word_count(main).cast("long").alias("main_words"),
    )


# -------------------------------------------------------------- web links


def host_link_graph_expr(
    df: DataFrame,
    src_host_col: str,
    html_col: str,
    *,
    page_url_col: "str | None" = None,
) -> DataFrame:
    """``host_link_graph`` as scan expressions: ``resolved_outlinks`` +
    ``canonical_url`` per link, then ONE groupBy over (src_host,
    dst_host)."""
    page_url = (
        F.col(page_url_col)
        if page_url_col is not None
        else F.concat(F.lit("https://"), F.col(src_host_col), F.lit("/"))
    )
    # canonical_url output starts with the (lowercased, www-stripped)
    # host; the first /?# ends it.  A non-default port stays — distinct
    # origins are distinct graph nodes.
    dst_host = F.regexp_extract(F.col("__t"), r"^([^/?#]+)", 1)
    # two-step select: defining an alias named like src_host_col in the
    # same list that references it would make Spark read the second
    # reference as a lateral column alias (unsupported with generators)
    linked = df.select(
        F.col(src_host_col).alias("__src"),
        resolved_outlinks(F.col(html_col), page_url).alias("__links"),
    )
    exploded = linked.select(
        F.col("__src").alias("src_host"), F.explode("__links").alias("__raw")
    ).select(
        "src_host", canonical_url(F.col("__raw")).alias("__t")
    ).filter(F.col("__t").isNotNull())
    return (
        exploded.select("src_host", dst_host.alias("dst_host"))
        .filter(F.col("dst_host") != "")
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).cast("long").alias("n_links"))
    )

"""Property tests for the round-7 operators: repetition metrics vs a
pure-Python reference, edit-distance salvage recall, Bloom decision
monotonicity, dedup retention policy."""

import re
from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hermes_spark.operators import (
    bloom_join_decision,
    edit_distance_pairs,
    exact_dedup,
    gopher_repetition_flags,
)

from engine_oracles import gopher_repetition_flags_vector

_settings = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# tiny alphabet + newlines so random docs actually contain repeats
_word = st.sampled_from(["aa", "bb", "cc", "d"])
_sep = st.sampled_from([" ", " ", "\n", "\n\n"])
_doc = st.lists(
    st.tuples(_word, _sep), min_size=0, max_size=30
).map(lambda ps: "".join(w + s for w, s in ps))


def _ref_repetition(text, top_ns=(2, 3, 4), dup_ns=(5, 6, 7, 8, 9, 10)):
    """Pure-Python mirror of gopher_repetition_flags for one doc
    (ASCII \\s semantics; line/paragraph edges strip the full \\s set)."""
    _WS = " \t\n\r\x0b\x0c"
    toks = [
        t
        for t in re.split(r"\s+", text.lower().strip(" "), flags=re.ASCII)
        if t != ""
    ]
    lines = [
        l2 for l2 in (l.strip(_WS) for l in text.split("\n")) if l2 != ""
    ]
    paras = [
        p2
        for p2 in (
            p.strip(_WS) for p in re.split(r"\n\s*\n", text, flags=re.ASCII)
        )
        if p2 != ""
    ]

    def dup_fracs(items):
        if not items:
            return 0.0, 0.0
        c = Counter(items)
        tot, uniq = len(items), len(c)
        chars_all = sum(len(g) * n for g, n in c.items())
        chars_dup = sum(len(g) * n for g, n in c.items() if n >= 2)
        return (tot - uniq) / tot, chars_dup / chars_all

    out = {}
    out["dup_line_frac"], out["dup_line_char_frac"] = dup_fracs(lines)
    out["dup_para_frac"], out["dup_para_char_frac"] = dup_fracs(paras)
    denom = max(len(" ".join(toks)), 1)
    for n in sorted(set(top_ns) | set(dup_ns)):
        grams = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
        c = Counter(grams)
        if n in top_ns:
            if c:
                top = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
                out[f"top_{n}gram_char_frac"] = top[1] * len(top[0]) / denom
            else:
                out[f"top_{n}gram_char_frac"] = 0.0
        if n in dup_ns:
            dup = sum(cnt * len(g) for g, cnt in c.items() if cnt >= 2)
            out[f"dup_{n}gram_char_frac"] = min(1.0, dup / denom)
    return out


@given(texts=st.lists(_doc, min_size=1, max_size=5))
@_settings
def test_repetition_matches_python_reference(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        r.doc_id: r.asDict()
        for r in gopher_repetition_flags(df, "doc_id", "text").collect()
    }
    for i, text in enumerate(texts):
        want = _ref_repetition(text)
        for k, v in want.items():
            assert abs(got[i][k] - v) <= 1e-6, (k, text, got[i][k], v)


@given(
    seed=st.integers(0, 10_000),
    n_filler=st.integers(20, 60),
)
@_settings
def test_editsim_salvage_always_finds_identical_pairs(spark, seed, n_filler):
    """A planted identical pair must be recovered even when its prefix
    block is over the cap (the r7 salvage guarantee for distance 0)."""
    import random

    rnd = random.Random(seed)
    filler = [
        (i, "hotpref " + " ".join(
            f"f{rnd.randint(0, 99999):05d}" for _ in range(4)))
        for i in range(n_filler)
    ]
    planted = [(7000, "hotpref planted pair zz"), (7001, "hotpref planted pair zz")]
    df = spark.createDataFrame(filler + planted, "id long, title string")
    pairs = edit_distance_pairs(
        df, "id", "title", max_distance=2, prefix_len=8, max_block_size=10
    )
    got = {(r.id_a, r.id_b): r.distance for r in pairs.collect()}
    assert got.get((7000, 7001)) == 0


def test_bloom_decision_monotone_in_shuffle_cost(spark):
    big = spark.createDataFrame([(i % 500,) for i in range(5000)], "k long")
    small = spark.createDataFrame([(i,) for i in range(5)], "k long")
    engaged = [
        bloom_join_decision(
            big, small, "k", sample_fraction=1.0,
            row_bytes=200.0, shuffle_cost_ns_per_byte=c,
        )["engage"]
        for c in (0.0, 0.5, 5.0, 50.0)
    ]
    # once the cost model engages, higher shuffle cost never disengages
    assert engaged == sorted(engaged)
    assert engaged[0] is False and engaged[-1] is True


@given(
    quals=st.lists(st.integers(0, 3), min_size=2, max_size=8),
)
@_settings
def test_dedup_keep_by_is_argmax_then_min_id(spark, quals):
    rows = [(i, "identical text", q) for i, q in enumerate(quals)]
    df = spark.createDataFrame(rows, "doc_id long, text string, q long")
    kept = exact_dedup(
        df, "doc_id", text_col="text", keep_by=F.col("q")
    ).collect()
    assert len(kept) == 1
    best = max(quals)
    want_id = min(i for i, q in enumerate(quals) if q == best)
    assert kept[0].doc_id == want_id and kept[0].dup_count == len(quals)


@given(texts=st.lists(_doc, min_size=1, max_size=6))
@_settings
def test_repetition_engines_bit_identical(spark, texts):
    """The r8 vectorized gram kernel (the reference) must equal the
    Counter kernel on every column, bit for bit."""
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    vec = {
        r.doc_id: r.asDict()
        for r in gopher_repetition_flags_vector(
            df, "doc_id", "text"
        ).collect()
    }
    cnt = {
        r.doc_id: r.asDict()
        for r in gopher_repetition_flags(df, "doc_id", "text").collect()
    }
    assert vec == cnt


def test_repetition_engines_ambiguous_topgram_tie(spark):
    """Tied max-count grams with DIFFERENT char lengths force the
    vector kernel's string-argmin fallback: 'aa bb' (len 5) and 'c dd'
    (len 4) both appear twice; the min joined string 'aa bb' must win
    exactly as the Counter path computes it."""
    text = "aa bb z1 aa bb z2 c dd z3 c dd"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    vec = gopher_repetition_flags_vector(df, "doc_id", "text").collect()[0]
    cnt = gopher_repetition_flags(df, "doc_id", "text").collect()[0]
    assert vec.asDict() == cnt.asDict()
    # 2-gram: ('aa','bb') and ('c','dd') both occur 2x; min string is
    # 'aa bb' (len 5): top share = 2*5 / 30 joined chars
    assert abs(vec["top_2gram_char_frac"] - round(10 / 30, 6)) < 1e-9


def test_bloom_decision_low_sample_defaults_row_bytes(spark, sf_dir):
    """A thin sample (low_sample) must NOT feed the disk-size row_bytes
    fallback: big_rows is itself extrapolated from the same thin sample,
    so bytes/row would compound two noisy estimates.  The decision then
    uses the documented 100-byte default and says so."""
    big = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    small = spark.createDataFrame([(i,) for i in range(5)], "l_partkey long")
    thin = bloom_join_decision(
        big, small, "l_partkey", sample_fraction=0.001
    )
    assert thin["low_sample"] is True
    assert thin["row_bytes_defaulted"] is True
    assert thin["row_bytes"] == 100.0
    fat = bloom_join_decision(
        big, small, "l_partkey", sample_fraction=1.0
    )
    assert fat["low_sample"] is False
    assert "row_bytes_defaulted" not in fat
    # the fat sample reads real bytes/row off the scan relation
    assert fat["row_bytes"] != 100.0

"""Calibrate the script-aware gates on REAL language samples (round 12,
verdict item 2): the transliterated synthetic corpus proves expression
parity between Spark and the DuckDB oracle; these tests pin the
LINGUISTIC constants — chars-per-word divisors, function-particle
lists, terminal punctuation, unsegmented-ratio switch — against genuine
zh/ja/th/lo/km/my/bo prose (tests/real_text_fixtures.py).

Measured real-text keep rates and the calibration boundary are recorded
in BASELINE.md (round 12).
"""

import re

import pytest
from pyspark.sql import functions as F

from hermes_spark.functions.text import (
    SCRIPT_MIN_RATIO,
    UNSEGMENTED_PARTICLES,
    UNSEGMENTED_SCRIPTS,
    add_lang_id,
    lang_id,
    word_units,
)
from hermes_spark.operators.c4 import c4_line_stats
from hermes_spark.operators.gopher import gopher_quality_flags

from real_text_fixtures import (
    REAL_SENTENCES,
    SEGMENTED,
    fluent_paragraph,
    garbage_doc,
)

#: which UNSEGMENTED_SCRIPTS entry judges each fixture language
LANG_SCRIPT = {
    "zh": "han_kana", "ja": "han_kana", "th": "thai", "lo": "lao",
    "km": "khmer", "my": "myanmar", "bo": "tibetan",
}

#: each language's five particles (slice of UNSEGMENTED_PARTICLES)
LANG_PARTICLES = {
    "zh": UNSEGMENTED_PARTICLES[0:5],
    "ja": UNSEGMENTED_PARTICLES[5:10],
    "th": UNSEGMENTED_PARTICLES[10:15],
    "lo": UNSEGMENTED_PARTICLES[15:20],
    "km": UNSEGMENTED_PARTICLES[20:25],
    "my": UNSEGMENTED_PARTICLES[25:30],
    "bo": UNSEGMENTED_PARTICLES[30:35],
}

LANGS = sorted(REAL_SENTENCES)


def _letters(lang: str, s: str) -> int:
    cls, _ = UNSEGMENTED_SCRIPTS[LANG_SCRIPT[lang]]
    return len(re.findall(cls, s))


# ---------------------------------------------------------------- pure python

def test_fixture_sentences_are_dominantly_in_script():
    """Every fluent sentence is >= 80% its script's letters (sanity:
    the fixtures really are written in the script they claim)."""
    for lang, sentences in REAL_SENTENCES.items():
        for s in sentences:
            nonspace = len(re.sub(r"\s+", "", s))
            ratio = _letters(lang, s) / nonspace
            assert ratio >= 0.8, (lang, s, ratio)


def test_particle_coverage_on_fluent_prose():
    """Natural prose carries the function particles: every language's
    paragraph contains >= 3 of its 5 particles, and every individual
    sentence contains >= 1 particle from the GLOBAL list (the gate
    counts the global list)."""
    for lang in LANGS:
        para = fluent_paragraph(lang)
        own_hits = sum(p in para for p in LANG_PARTICLES[lang])
        assert own_hits >= 3, (lang, own_hits)
        for s in REAL_SENTENCES[lang]:
            any_hits = sum(p in s for p in UNSEGMENTED_PARTICLES)
            assert any_hits >= 1, (lang, s)


def test_garbage_carries_no_particles():
    for lang in LANGS:
        g = garbage_doc(lang)
        assert all(p not in g for p in UNSEGMENTED_PARTICLES), lang


def test_segmented_fixtures_reconstruct_real_sentences():
    """Removing the ``|`` separators reproduces the REAL_SENTENCES
    entries verbatim — the segmentations really segment the checked-in
    prose, not paraphrases of it."""
    for lang, segmented in SEGMENTED.items():
        for i, sent in enumerate(segmented):
            assert sent.replace("|", "") in REAL_SENTENCES[lang], (lang, i)


def test_chars_per_word_divisors_on_hand_segmented_text():
    """The divisor assumptions hold on genuinely segmented text:
    mean letter-chars per hand-segmented word must sit within a
    generous band around each script's divisor (zh/ja: 2, th/lo: 4,
    my/bo: 5, km: 6).  Punctuation segments are dropped; letters
    counted by the same class the gates use (for bo that includes the
    tsheg — measured mean 5.0 letters+tshegs per word, r12c).
    Measured means: km 4.83, my 4.28, bo 5.03 (BASELINE.md r12)."""
    bands = {"zh": (1.2, 3.2), "ja": (1.2, 3.2), "th": (2.5, 6.5),
             "lo": (2.5, 6.5), "km": (3.5, 8.5), "my": (2.8, 7.0),
             "bo": (3.0, 7.0)}
    for lang, segmented in SEGMENTED.items():
        total_letters = 0
        total_words = 0
        for sent in segmented:
            for seg in sent.split("|"):
                n = _letters(lang, seg)
                if n == 0:
                    continue  # punctuation-only segment
                total_letters += n
                total_words += 1
        mean = total_letters / total_words
        lo_b, hi_b = bands[lang]
        divisor = UNSEGMENTED_SCRIPTS[LANG_SCRIPT[lang]][1]
        assert lo_b <= mean <= hi_b, (lang, mean)
        # the configured divisor itself sits inside the same band
        assert lo_b <= divisor <= hi_b, (lang, divisor)


def test_word_units_tracks_hand_segmentation():
    """The word-unit proxy lands within 2x of the TRUE hand-segmented
    word count in both directions — the precision the min/max word
    gates need (they are order-of-magnitude rules, and the pre-fix
    failure mode was ~100x off)."""
    for lang, segmented in SEGMENTED.items():
        text = "".join(s.replace("|", "") for s in segmented)
        true_words = sum(
            1 for s in segmented for seg in s.split("|")
            if _letters(lang, seg) > 0
        )
        divisor = UNSEGMENTED_SCRIPTS[LANG_SCRIPT[lang]][1]
        proxy = _letters(lang, text) // divisor
        assert true_words / 2 <= proxy <= true_words * 2, (
            lang, true_words, proxy
        )


# ------------------------------------------------------------------- spark

def _frame(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "lang", "text"])


@pytest.fixture(scope="module")
def fluent_and_garbage(spark):
    rows = []
    for i, lang in enumerate(LANGS):
        rows.append((i * 2, lang, fluent_paragraph(lang)))
        rows.append((i * 2 + 1, f"{lang}_garbage", garbage_doc(lang)))
    return _frame(spark, rows)


def test_unsegmented_ratio_switches_for_all_real_scripts(
    spark, fluent_and_garbage
):
    flags = gopher_quality_flags(
        fluent_and_garbage, "doc_id", "text",
        min_words=10, min_stopwords=1, script_aware=True,
    )
    rows = {r["doc_id"]: r for r in flags.collect()}
    langs = {r[0]: r[1] for r in fluent_and_garbage.select(
        "doc_id", "lang").collect()}
    for doc_id, r in rows.items():
        assert r["unsegmented"], (langs[doc_id], r)


def test_fluent_real_text_keeps_and_garbage_gates(spark, fluent_and_garbage):
    """THE calibration claim: every fluent real-language paragraph
    passes the script-aware Gopher gate; every same-script random
    garbage doc fails it (no particles -> n_stopwords 0)."""
    flags = gopher_quality_flags(
        fluent_and_garbage, "doc_id", "text",
        min_words=10, min_stopwords=1, script_aware=True,
    )
    got = {r["doc_id"]: r for r in flags.collect()}
    for i, lang in enumerate(LANGS):
        fluent, garbage = got[i * 2], got[i * 2 + 1]
        assert fluent["keep"], (lang, fluent)
        assert fluent["n_stopwords"] >= 1, (lang, fluent)
        assert not garbage["keep"], (lang, garbage)
        assert garbage["n_stopwords"] == 0, (lang, garbage)


def test_real_text_word_units_spark_matches_python(spark):
    """word_units (Spark) equals letters//divisor + ws tokens computed
    in plain Python over the real paragraphs — the proxy arithmetic is
    engine-independent."""
    rows = [(i, lang, fluent_paragraph(lang)) for i, lang in enumerate(LANGS)]
    got = {
        r["doc_id"]: r["wu"]
        for r in _frame(spark, rows)
        .select("doc_id", word_units(F.col("text")).alias("wu"))
        .collect()
    }
    lcm = 60
    for i, lang in enumerate(LANGS):
        text = fluent_paragraph(lang)
        ws_tokens = len(text.split())
        scaled = 0
        for name, (cls, div) in UNSEGMENTED_SCRIPTS.items():
            scaled += len(re.findall(cls, text)) * (lcm // div)
        expected = ws_tokens + scaled // lcm
        assert got[i] == expected, (lang, got[i], expected)


def test_lang_id_labels_real_text(spark):
    rows = [(i, lang, fluent_paragraph(lang)) for i, lang in enumerate(LANGS)]
    df = add_lang_id(_frame(spark, rows), "text", out_col="guess")
    got = {r["lang"]: r["guess"] for r in df.collect()}
    assert got == {lang: lang for lang in LANGS}, got
    # Column-expression twin agrees (property the r11 probe pinned)
    got2 = {
        r["lang"]: r["g"]
        for r in _frame(spark, rows)
        .select("lang", lang_id(F.col("text")).alias("g"))
        .collect()
    }
    assert got2 == got


def test_c4_terminal_punctuation_per_script(spark):
    """Lines ending in each script's native terminal survive the C4
    line rule; identical lines with the terminal stripped are dropped
    for the terminal-bearing scripts (zh/ja/km/my/bo) and length-kept
    for the no-terminal scripts (th/lo)."""
    terminals = {"zh": "。", "ja": "。", "km": "។", "my": "။", "bo": "།"}
    rows = []
    for i, lang in enumerate(LANGS):
        body = REAL_SENTENCES[lang][0].rstrip("。។။།")
        term = terminals.get(lang, "")
        rows.append((i * 2, lang, body + term))
        rows.append((i * 2 + 1, f"{lang}_bare", body))
    stats = c4_line_stats(
        _frame(spark, rows), "doc_id", "text",
        min_line_words=3, script_aware=True,
    )
    got = {r["doc_id"]: r["n_lines_kept"] for r in stats.collect()}
    for i, lang in enumerate(LANGS):
        if lang in terminals:
            assert got[i * 2] == 1, (lang, "with terminal")
            assert got[i * 2 + 1] == 0, (lang, "terminal stripped")
        else:
            # th/lo: no terminal punctuation exists — the length-gated
            # clause keeps a full clause of letters either way
            assert got[i * 2] == 1 and got[i * 2 + 1] == 1, lang


def test_add_lang_id_collision_guard(spark):
    df = spark.createDataFrame([(1, "hello", "x")], ["id", "text", "lang"])
    with pytest.raises(ValueError, match="already exists"):
        add_lang_id(df, "text", out_col="lang")
    df2 = spark.createDataFrame([(1, "hello", "x")], ["id", "text", "__li_ns"])
    with pytest.raises(ValueError, match="__li_"):
        add_lang_id(df2, "text")


def test_quality_score_multilingual_latin_identical(spark, documents):
    """Latin text scores BYTE-IDENTICALLY under the multilingual
    composite (the testdata corpus is all-ASCII — 500 docs, zero
    diffs)."""
    from hermes_spark.functions.text import (
        quality_score,
        quality_score_multilingual,
    )

    diffs = documents.select(
        (quality_score(F.col("text"))
         != quality_score_multilingual(F.col("text"))).alias("d")
    ).filter(F.col("d")).count()
    assert diffs == 0


def test_quality_score_multilingual_scores_fluent_scripts(spark):
    """Fluent real-language paragraphs score in the same band as
    fluent English (>= 0.6) under the multilingual composite, while
    the English-calibrated score floors them; same-script garbage
    scores lower than fluent text in every language."""
    from hermes_spark.functions.text import (
        quality_score,
        quality_score_multilingual,
    )

    rows = []
    for i, lang in enumerate(LANGS):
        rows.append((i * 2, lang, fluent_paragraph(lang)))
        rows.append((i * 2 + 1, f"{lang}_garbage", garbage_doc(lang)))
    en = "the cat and the dog sat on the mat with all of that stuff. " * 6
    rows.append((98, "en", en))
    df = _frame(spark, rows)
    got = {
        r["doc_id"]: (r["mq"], r["q"])
        for r in df.select(
            "doc_id",
            quality_score_multilingual(F.col("text")).alias("mq"),
            quality_score(F.col("text")).alias("q"),
        ).collect()
    }
    assert got[98][0] == got[98][1]  # Latin identical
    for i, lang in enumerate(LANGS):
        mq_fluent, q_fluent = got[i * 2]
        mq_garbage, _ = got[i * 2 + 1]
        assert mq_fluent >= 0.6, (lang, mq_fluent)
        assert mq_fluent > q_fluent, (lang, mq_fluent, q_fluent)
        assert mq_garbage < mq_fluent, (lang, mq_garbage, mq_fluent)


def test_bpe_token_count_script_aware(spark, documents):
    """r12: the script-aware BPE estimate charges unsegmented chars at
    ~2/piece instead of folding a whole CJK run into one len/6 chunk.
    Latin text counts identically either way (500 ASCII docs, zero
    diffs); on real CJK prose the aware estimate lands within 2x of
    chars/2 while the plain one undercounts ~3x+."""
    from hermes_spark.functions.text import bpe_token_count

    diffs = documents.select(
        (bpe_token_count(F.col("text"))
         != bpe_token_count(F.col("text"), script_aware=True)).alias("d")
    ).filter(F.col("d")).count()
    assert diffs == 0

    rows = [(i, lang, fluent_paragraph(lang)) for i, lang in enumerate(LANGS)]
    got = {
        r["doc_id"]: (r["plain"], r["aware"], r["nchars"])
        for r in _frame(spark, rows).select(
            "doc_id",
            bpe_token_count(F.col("text")).alias("plain"),
            bpe_token_count(F.col("text"), script_aware=True).alias("aware"),
            F.length("text").alias("nchars"),
        ).collect()
    }
    for i, lang in enumerate(LANGS):
        plain, aware, nchars = got[i]
        assert aware > plain * 2, (lang, plain, aware)
        # within 2x of the chars/2 density in both directions
        assert nchars / 4 <= aware <= nchars, (lang, aware, nchars)


def test_repetition_rules_see_cjk_phrases(spark):
    """r12: script-aware repetition rules char-tokenize unsegmented
    docs — a Chinese page looping one phrase now trips the dup-gram
    rules (plain tokenization saw ~1 token and repetition 0).  Latin
    docs score identically either way, and the counter kernel agrees
    with the vector reference on the aware path."""
    from hermes_spark.operators.gopher import gopher_repetition_flags
    from engine_oracles import gopher_repetition_flags_vector

    looping = "机器学习是人工智能的一个分支。" * 30
    fluent = fluent_paragraph("zh")
    latin = "the cat sat on the mat and then the dog sat on the rug too. " * 3
    df = spark.createDataFrame(
        [(1, looping), (2, fluent), (3, latin)], ["doc_id", "text"]
    )
    plain = {r["doc_id"]: r for r in gopher_repetition_flags(
        df, "doc_id", "text").collect()}
    aware = {r["doc_id"]: r for r in gopher_repetition_flags(
        df, "doc_id", "text", script_aware=True).collect()}
    # the trap: plain sees the looping CJK page as unrepeated
    assert plain[1]["dup_5gram_char_frac"] == 0.0
    assert plain[1]["keep"]
    # aware: the loop saturates the dup-gram rules and gates
    assert aware[1]["dup_5gram_char_frac"] > 0.9
    assert not aware[1]["keep"]
    # fluent zh prose survives the aware rules
    assert aware[2]["keep"], aware[2]
    # Latin identical either way
    assert plain[3].asDict() == aware[3].asDict()
    # the vector reference agrees on the aware path
    vec = {r["doc_id"]: r for r in gopher_repetition_flags_vector(
        df, "doc_id", "text", script_aware=True).collect()}
    for i in (1, 2, 3):
        assert vec[i].asDict() == aware[i].asDict(), i


def test_repetition_ratio_script_aware(spark, documents):
    """r12: script-aware repetition_ratio sees repeated CJK phrases;
    Latin text (all 500 testdata docs) scores byte-identically."""
    from hermes_spark.functions.text import repetition_ratio

    diffs = documents.select(
        (repetition_ratio(F.col("text"), 2)
         != repetition_ratio(F.col("text"), 2, script_aware=True)).alias("d")
    ).filter(F.col("d")).count()
    assert diffs == 0
    looping = "机器学习是人工智能的一个分支。" * 20
    r = spark.createDataFrame([(1, looping)], ["doc_id", "text"]).select(
        repetition_ratio(F.col("text"), 2).alias("plain"),
        repetition_ratio(F.col("text"), 2, script_aware=True).alias("aware"),
    ).collect()[0]
    assert r["plain"] == 0.0
    assert r["aware"] > 0.9


def test_retrieval_and_stats_script_aware_options(spark, documents):
    """r12: BM25 / TF-IDF / OOV / token entropy / DSIR buckets /
    jaccard_set_join all gain the same opt-in char-tokenization for
    unsegmented scripts.  One assertion per operator: Latin output
    identical with the flag on, and the CJK failure mode fixed."""
    from hermes_spark.operators.entropy import unit_entropy
    from hermes_spark.operators.importance import token_buckets
    from hermes_spark.operators.setjoin import jaccard_set_join
    from hermes_spark.operators.tfidf import bm25_scores, oov_rate, tfidf_topk_terms

    zh1 = "机器学习是人工智能的一个分支它让计算机从数据中学习"
    zh2 = "机器学习是人工智能的一个分支它使电脑能够进行学习了"
    rows = [(1, zh1), (2, zh2), (3, "the cat sat on the mat with the dog")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    # bm25: a CJK query only matches with the flag on
    hits = bm25_scores(df, ["机器学习"], k=5, script_aware=True).collect()
    assert {r["doc_id"] for r in hits} == {1, 2}
    assert bm25_scores(df, ["机器学习"], k=5).count() == 0

    # tfidf: per-char terms exist under the flag
    aware_terms = tfidf_topk_terms(df, k=3, script_aware=True)
    assert aware_terms.filter(
        (F.col("doc_id") == 1) & (F.length("term") == 1)).count() > 0

    # oov_rate: the CJK docs are not 100%-OOV monoliths under the flag
    oov = {r["doc_id"]: r["n_tokens"] for r in oov_rate(
        df, vocab_size=30, script_aware=True).collect()}
    assert oov[1] > 10

    # token entropy: nonzero for CJK under the flag
    ent = {r["doc_id"]: r["entropy_bits"] for r in unit_entropy(
        df, "doc_id", "text", unit="token", script_aware=True).collect()}
    assert ent[1] > 1.0

    # jaccard_set_join: the two zh variants become a near-dup pair
    pairs = jaccard_set_join(df, min_jaccard=0.5, script_aware=True).collect()
    assert {(p["id_a"], p["id_b"]) for p in pairs} == {(1, 2)}
    assert jaccard_set_join(df, min_jaccard=0.5).count() == 0

    # dsir token_buckets: many buckets per CJK doc under the flag
    nb = df.filter(F.col("doc_id") == 1).select(
        F.size(token_buckets(F.col("text"), 4096, script_aware=True)).alias("n")
    ).collect()[0]["n"]
    assert nb > 10

    # Latin identity across ALL of them (500 ASCII docs)
    for plain_df, aware_df, key in (
        (tfidf_topk_terms(documents, k=3),
         tfidf_topk_terms(documents, k=3, script_aware=True), "tfidf"),
        (oov_rate(documents, vocab_size=100),
         oov_rate(documents, vocab_size=100, script_aware=True), "oov"),
        (unit_entropy(documents, "doc_id", "text", unit="token"),
         unit_entropy(documents, "doc_id", "text", unit="token",
                      script_aware=True), "entropy"),
    ):
        assert plain_df.exceptAll(aware_df).count() == 0, key
        assert aware_df.exceptAll(plain_df).count() == 0, key


def test_ngrams_and_simhash_script_aware(spark, documents):
    """r12: n-gram mining and simhash fingerprints gain the opt-in
    char tokenization; Latin identical, CJK meaningful."""
    from hermes_spark.operators.dedup import simhash_fingerprints
    from hermes_spark.operators.ngrams import ngram_novelty, topk_ngrams

    zh1 = "机器学习是人工智能的一个分支它让计算机从数据中学习"
    zh2 = "机器学习是人工智能的一个分支它使电脑能够进行学习了"
    df = spark.createDataFrame(
        [(1, zh1), (2, zh2), (3, "the cat sat on the mat")],
        ["doc_id", "text"])
    # plain: zero CJK bigrams; aware: the shared phrase tops the list
    assert topk_ngrams(df, "doc_id", "text", n=2, k=5).filter(
        F.col("gram").rlike("[一-鿿]")).count() == 0
    top = topk_ngrams(df, "doc_id", "text", n=2, k=100, script_aware=True)
    assert top.filter(F.col("gram") == "机 器").count() == 1
    nov = {r["doc_id"]: r["n_grams"] for r in ngram_novelty(
        df, "doc_id", "text", n=2, script_aware=True).collect()}
    assert nov[1] > 10
    # simhash: the two zh variants are CLOSE under aware, not under plain
    def dist(df_, aware):
        rows = {r["id"]: r["simhash"] for r in simhash_fingerprints(
            df_, "doc_id", "text", bits=32, script_aware=aware).collect()}
        return bin(rows[1] ^ rows[2]).count("1")
    assert dist(df, True) <= 8
    # Latin identity on the testdata corpus
    a = simhash_fingerprints(documents, "doc_id", "text", bits=32)
    b = simhash_fingerprints(documents, "doc_id", "text", bits=32,
                             script_aware=True)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_script_aware_gates_stay_zero_shuffle(spark, fluent_and_garbage):
    """Scale contract: the script-aware gates and screens stay pure
    scan expressions — zero exchanges in the plans."""
    from hermes_spark.operators import c4_clean, gopher_filter
    from hermes_spark.plans import count_exchanges

    gated = gopher_filter(
        fluent_and_garbage, "doc_id", "text",
        min_words=10, min_stopwords=1, script_aware=True,
    )
    cleaned = c4_clean(
        fluent_and_garbage, "doc_id", "text", script_aware=True
    )
    flags = gopher_quality_flags(
        fluent_and_garbage, "doc_id", "text", script_aware=True
    )
    assert count_exchanges(gated) == 0
    assert count_exchanges(cleaned) == 0
    assert count_exchanges(flags) == 0

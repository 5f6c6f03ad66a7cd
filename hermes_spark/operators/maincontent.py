"""Block-level boilerplate removal (main-content extraction) for
crawled HTML.

``strip_html`` (functions/text.py) flattens a whole page to text —
good enough for WET-style payloads, but raw WARC HTML then drags every
navigation bar, cookie banner, and footer link-farm into the training
corpus.  The standard fix (jusText, Kohlschuetter et al.'s
boilerplate detection, trafilatura) classifies *blocks*, not pages:
split the DOM into block-level segments and keep the ones that look
like prose (enough words, low link density, stopword-bearing), drop
the ones that look like chrome (short, link-dense).

This is the deterministic, regex-segmented version of that idea — the
honest scan-side approximation in the same spirit as ``strip_html``
(no DOM parse; RE2-compatible patterns, so a SQL oracle reproduces the
output byte-for-byte).  Per block we score:

* ``words``       — whitespace-token count of the tag-stripped,
                    entity-decoded, whitespace-collapsed block text;
* ``anchor_words``— tokens inside ``<a ...>...</a>`` spans (link text);
* ``stop_words``  — occurrences of the 8-word Gopher stopword set.

A block is *content* iff::

    words >= min_words
    AND anchor_words <= max_link_density * words
    AND stop_words  >= min_stopword_frac * words

and the page's ``main_text`` is the kept blocks joined with a newline.

Scale design: :func:`page_blocks` / :func:`main_text_column` are pure
per-row array/higher-order expressions — zero shuffle, no UDF, no
state — and the SQL oracle mirrors them.  :func:`extract_main_text`
runs the same segmentation and scoring as a Python-regex Arrow kernel
(per-block interpreted structs measured ~61 s per 1M pages; see its
docstring), still a map-only stage with no state.

Reference for the pipeline position: WET extraction in Common-Crawl
pipelines (the reference repo has no crawl operators; this is part of
the training-data extension surface, SURVEY.md §2-ext).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import _HTML_ENTITIES
from .gopher import GOPHER_STOPWORDS

#: Tags treated as block boundaries when segmenting a page.  Inline
#: markup (a, span, b, i, em, strong, img, ...) stays INSIDE a block —
#: that is what makes link-density per block meaningful.
BLOCK_TAGS = (
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol",
    "table", "thead", "tbody", "tr", "td", "th", "article", "section",
    "aside", "header", "footer", "nav", "blockquote", "pre", "br",
    "hr", "form", "main", "figure", "figcaption", "dl", "dt", "dd",
)

def _ci(s: str) -> str:
    """Spell out ASCII case-insensitivity as explicit ``[xX]`` classes.

    ``(?i)`` is a cross-engine trap (re-pinned empirically, round 11 —
    the round-10 note here had it wrong): Java's plain ``(?i)`` folds
    US-ASCII ONLY (KELVIN SIGN U+212A does NOT match ``k``; Unicode
    folding needs ``(?iu)``), while Python's ``(?i)`` folds
    full-Unicode (U+212A matches ``k``, U+017F ``ſ`` matches ``s``) —
    or, under ``re.ASCII``, neither — and RE2 (the DuckDB oracle)
    folds full-Unicode.  Explicit classes fold nothing beyond ASCII in
    ALL THREE engines, which is why we spell them out."""
    return "".join(f"[{c}{c.upper()}]" if c.isalpha() else c for c in s)


#: NOTE on ``\b`` (pinned empirically, round 10): Java's ``\b`` is
#: Unicode-aware even though its ``\w`` is ASCII.  Its word set
#: (OpenJDK ``Pattern.Bound``, verified char-by-char through Spark) is
#: ``'_' | isLetterOrDigit`` (Lu/Ll/Lt/Lm/Lo/Nd) PLUS a non-spacing
#: mark following a base character — so ``<pé>``/``<p&#x301;>`` do NOT
#: split, while ``<p²>`` (No) DOES.  Python's ``\w`` disagrees both
#: ways (marks out, No/Nl in), so the mirrors replace ``\b`` with
#: explicit lookarounds over :func:`_java_wordish_class` instead of
#: using either ``\b`` dialect.  (Residual: a mark NOT following a
#: base char is non-word to Java, word to the mirror class —
#: degenerate text, excluded from the fuzz pools.)  RE2's ``\b`` is
#: ASCII — the DuckDB oracle diverges on non-ASCII chars adjacent to
#: tag names, which the oracle corpus never contains.
_BLOCK_SPLIT = r"</?(?:" + "|".join(_ci(t) for t in BLOCK_TAGS) + r")\b[^>]*>"
_ANCHOR = r"(?s)<[aA]\b[^>]*>(.*?)</[aA]>"

_JAVA_WORDISH = None  # lazily-built char-class body, cached per process


def _java_wordish_class() -> str:
    """Regex character-class BODY matching Java ``\\b``'s word set:
    ``_``, Unicode letters (Lu/Ll/Lt/Lm/Lo), decimal digits (Nd), and
    non-spacing marks (Mn; see the ``\\b`` note above for the
    base-char caveat).  Built once per process from Python's Unicode
    tables (~0.5 s), then cached — the tables match the JVM's for
    every code point the fuzz pools pin."""
    global _JAVA_WORDISH
    if _JAVA_WORDISH is None:
        import unicodedata

        cats = {"Lu", "Ll", "Lt", "Lm", "Lo", "Nd", "Mn"}
        parts = ["_"]
        start = None
        prev = None
        for cp in range(0x110000):
            w = (
                not 0xD800 <= cp <= 0xDFFF
                and unicodedata.category(chr(cp)) in cats
            )
            if w and start is None:
                start = cp
            elif not w and start is not None:
                parts.append(
                    f"\\U{start:08x}-\\U{prev:08x}"
                    if prev > start
                    else f"\\U{start:08x}"
                )
                start = None
            if w:
                prev = cp
        if start is not None:
            parts.append(f"\\U{start:08x}-\\U{prev:08x}")
        _JAVA_WORDISH = "".join(parts)
    return _JAVA_WORDISH
_TAG = r"(?s)<[^>]+>"
_SCRIPT_SPAN = r"(?s)<" + _ci("script") + r"[^>]*>.*?</" + _ci("script") + r">"
_STYLE_SPAN = r"(?s)<" + _ci("style") + r"[^>]*>.*?</" + _ci("style") + r">"
_COMMENT_SPAN = r"(?s)<!--.*?-->"
#: explicit whitespace class — Java's \s includes \x0b, RE2's does not,
#: so both the operator and its SQL oracle spell the class out (same
#: lesson as the repetition-metrics oracle, SURVEY §8.7).
_WS = r"[ \t\n\f\r\x0b]"
_WORD = r"[^ \t\n\f\r\x0b]+"

#: Same 8-word list as the Gopher gate — one stopword vocabulary across
#: the package (operators/gopher.py:GOPHER_STOPWORDS).
_STOP_PAT = r"\b(?:" + "|".join(GOPHER_STOPWORDS) + r")\b"


def _clean_block(b: Column) -> Column:
    """Tag-strip + entity-decode + whitespace-collapse one raw block
    (script/style were removed page-wide before segmentation)."""
    out = F.regexp_replace(b, _TAG, " ")
    for entity, repl in _HTML_ENTITIES:
        out = F.regexp_replace(out, entity, repl)
    return F.trim(F.regexp_replace(out, _WS + "+", " "))


def _word_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(_WORD), 0))


def page_blocks(html: Column) -> Column:
    """``array<struct<text,words,anchor_words,stop_words>>`` of scored
    block segments for one page (empty segments score words=0)."""
    pre = F.regexp_replace(html, _SCRIPT_SPAN, " ")
    pre = F.regexp_replace(pre, _STYLE_SPAN, " ")
    pre = F.regexp_replace(pre, _COMMENT_SPAN, " ")
    raw = F.split(pre, _BLOCK_SPLIT)
    # two-stage transform: anchors need the RAW block (tags intact),
    # words/stopwords need the CLEANED text — compute each once.
    staged = F.transform(
        raw,
        lambda b: F.struct(
            _clean_block(b).alias("text"),
            _word_count(
                F.regexp_replace(
                    F.array_join(
                        F.regexp_extract_all(b, F.lit(_ANCHOR), 1), " "
                    ),
                    _TAG,
                    " ",
                )
            ).alias("anchor_words"),
        ),
    )
    return F.transform(
        staged,
        lambda s: F.struct(
            s["text"].alias("text"),
            _word_count(s["text"]).alias("words"),
            s["anchor_words"].alias("anchor_words"),
            F.size(
                F.regexp_extract_all(F.lower(s["text"]), F.lit(_STOP_PAT), 0)
            ).alias("stop_words"),
        ),
    )


def main_text_column(
    html: Column,
    *,
    min_words: int = 5,
    max_link_density: float = 0.33,
    min_stopword_frac: float = 0.0,
) -> Column:
    """The extracted main text of one HTML page, as a Column (kept
    blocks joined with ``\\n``).  See module docstring for the rule."""
    kept = F.filter(
        page_blocks(html),
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
    return F.array_join(F.transform(kept, lambda s: s["text"]), "\n")


def _py_mc_patterns():
    """Python ``re`` mirrors of the segmentation patterns.  Dialect
    notes (same pinning discipline as the weblinks kernel): case
    insensitivity is spelled out as explicit classes (see ``_ci``), so
    no ``(?i)`` anywhere; ``\\b`` is replaced by explicit lookarounds
    over Java's empirically-pinned word set (``_java_wordish_class`` —
    NEITHER Python's Unicode ``\\b`` nor ``re.ASCII`` matches Java:
    marks vs No/Nl split the dialects; this includes the stopword
    pattern: Java finds no ``the`` in ``theſe`` or ``thé`` but does in
    ``the²``); the whitespace classes are already explicit; Spark
    ``split`` keeps leading/trailing empties exactly like ``re.split``;
    Spark ``trim`` strips 0x20 only."""
    import re

    w = _java_wordish_class()
    nw = f"(?![{w}])"
    return {
        "script": re.compile(_SCRIPT_SPAN),
        "style": re.compile(_STYLE_SPAN),
        "comment": re.compile(_COMMENT_SPAN),
        # \b here always sits after an ASCII tag-name letter (a word
        # char), so boundary <=> next char is NOT Java-word
        "block": re.compile(_BLOCK_SPLIT.replace(r"\b", nw)),
        "anchor": re.compile(_ANCHOR.replace(r"\b", nw)),
        "tag": re.compile(_TAG),
        "ws": re.compile(_WS + "+"),
        "word": re.compile(_WORD),
        # leading \b: previous char not Java-word; trailing: next not
        "stop": re.compile(
            f"(?<![{w}])(?:" + "|".join(GOPHER_STOPWORDS) + f"){nw}"
        ),
    }


def _py_score_block(p: dict, b: str, need_stop: bool = True):
    """(text, words, anchor_words, stop_words) for one raw block —
    mirrors ``page_blocks``'s per-element structs.

    Substring guards skip regex/replace passes that cannot match
    (``<a`` for anchors, ``<`` for tags, ``&`` for entities) — exact
    no-ops, pinned by the kernel-vs-reference fuzz; ``need_stop=False``
    skips the stopword count when the caller's gate ignores it
    (``min_stopword_frac <= 0`` accepts any count >= 0)."""
    if "<a" in b or "<A" in b:
        anchor_text = p["tag"].sub(" ", " ".join(p["anchor"].findall(b)))
        anchor_words = len(p["word"].findall(anchor_text))
    else:
        anchor_words = 0
    text = p["tag"].sub(" ", b) if "<" in b else b
    if "&" in text:
        for entity, repl in _HTML_ENTITIES:
            text = text.replace(entity, repl)
    text = p["ws"].sub(" ", text).strip(" ")
    words = len(p["word"].findall(text))
    stop_words = len(p["stop"].findall(text.lower())) if need_stop else 0
    return text, words, anchor_words, stop_words


def _py_page_main(
    p: dict,
    html: str,
    min_words: int,
    max_link_density: float,
    min_stopword_frac: float,
):
    """(main_text, n_blocks, n_kept, main_words) for one page —
    mirrors :func:`page_blocks` plus the keep rule of
    :func:`main_text_column`."""
    pre = p["script"].sub(" ", html)
    pre = p["style"].sub(" ", pre)
    pre = p["comment"].sub(" ", pre)
    kept_texts = []
    n_blocks = n_kept = 0
    need_stop = min_stopword_frac > 0
    for b in p["block"].split(pre):
        text, words, anchor_words, stop_words = _py_score_block(
            p, b, need_stop
        )
        if words >= 1:
            n_blocks += 1
        if (
            words >= min_words
            and float(anchor_words) <= max_link_density * float(words)
            and float(stop_words) >= min_stopword_frac * float(words)
        ):
            n_kept += 1
            kept_texts.append(text)
    main = "\n".join(kept_texts)
    return main, n_blocks, n_kept, len(p["word"].findall(main))


def extract_main_text(
    df: DataFrame,
    id_col: str,
    html_col: str,
    *,
    min_words: int = 5,
    max_link_density: float = 0.33,
    min_stopword_frac: float = 0.0,
    out_col: str = "main_text",
    keep_columns: Optional[list] = None,
) -> DataFrame:
    """Main-content extraction over a page frame.

    Returns ``id_col`` (+ ``keep_columns``), the extracted ``out_col``,
    and per-page block accounting:

    * ``n_blocks`` — segments with at least one word,
    * ``n_kept``   — segments classified as content,
    * ``main_words`` — word count of the extracted text.

    Compose upstream of the C4/Gopher gates in a WARC pipeline
    (``sources/warc.py`` reads, this extracts, the gates filter).

    The segmentation + scoring runs in a Python-regex ``mapInPandas``
    kernel, one pass per page batch.  At 1M raw pages the equivalent
    expression plan (:func:`page_blocks` per-block higher-order
    structs) cost ~61 s — the interpreted struct construction, not the
    regex work, dominated — and the kernel does the identical regex
    work at a fraction of the per-element overhead (same move as
    sigkernel/LM/weblinks).  Its input is widened with
    ``rebalance_for_cpu`` like every other CPU-bound kernel — on large
    narrow inputs (>=256 MB) that inserts ONE round-robin exchange, so
    the stage is not literally zero-shuffle.  The expression plan is
    the path the SQL oracle mirrors directly; it is kept as the
    reference in ``tests/engine_oracles.py``, and the property/fuzz
    equivalence tests (tests/test_maincontent.py) pin this kernel to it.
    """
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from ..plans import rebalance_for_cpu

    keep = list(keep_columns or [])
    in_schema = df.select(
        F.col(id_col), *[F.col(c) for c in keep], F.col(html_col).alias("__html")
    )
    fields = [in_schema.schema[id_col]] + [in_schema.schema[c] for c in keep]
    out_schema = StructType(
        fields
        + [
            StructField(out_col, StringType()),
            StructField("n_blocks", LongType()),
            StructField("n_kept", LongType()),
            StructField("main_words", LongType()),
        ]
    )
    mw, mld, msf = int(min_words), float(max_link_density), float(min_stopword_frac)

    def kernel(batches):
        import pandas as pd

        p = _py_mc_patterns()
        for pdf in batches:
            outs = {c: [] for c in [id_col, *keep, out_col,
                                    "n_blocks", "n_kept", "main_words"]}
            htmls = pdf["__html"]
            for i in range(len(pdf)):
                html = htmls.iloc[i]
                if html is None:
                    # regexp on null nulls every output of the reference
                    # expression projection — keep the row, all nulls
                    main, nb, nk, mwds = None, None, None, None
                else:
                    main, nb, nk, mwds = _py_page_main(p, str(html), mw, mld, msf)
                outs[id_col].append(pdf[id_col].iloc[i])
                for c in keep:
                    outs[c].append(pdf[c].iloc[i])
                outs[out_col].append(main)
                outs["n_blocks"].append(nb)
                outs["n_kept"].append(nk)
                outs["main_words"].append(mwds)
            if outs[id_col]:
                yield pd.DataFrame(outs)

    return rebalance_for_cpu(in_schema).mapInPandas(kernel, out_schema)

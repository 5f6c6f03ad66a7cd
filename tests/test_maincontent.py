"""Block-level main-content extraction: segmentation, the keep rule
(words / link density / stopword fraction), entity decoding, script
and comment stripping, null handling, and the zero-shuffle plan."""

from pyspark.sql import functions as F

from hermes_spark.operators import extract_main_text, main_text_column
from hermes_spark.plans import count_exchanges, plan_operators

from engine_oracles import extract_main_text_expr

PAGE = (
    '<html><head><title>T</title><style>p { color: red; }</style></head>'
    "<body>"
    '<nav><a href="/">Home</a> <a href="/a">About us</a> '
    '<a href="/c">Contact the sales team</a></nav>'
    "<h1>Short</h1>"
    "<p>This is the actual content of the page and it has plenty of "
    "words to pass.</p>"
    '<div class="f"><a href="/p">Privacy policy</a> <a href="/t">Terms'
    "</a> <a>Contact</a> Example Corp</div>"
    "<script>var x = 1 < 2;</script><!-- chrome --></body></html>"
)


def _frame(spark, rows):
    return spark.createDataFrame(rows, "doc_id int, html string")


def test_keeps_content_drops_chrome(spark):
    out = extract_main_text(_frame(spark, [(1, PAGE)]), "doc_id", "html")
    row = out.collect()[0]
    assert row["main_text"] == (
        "This is the actual content of the page and it has plenty of "
        "words to pass."
    )
    # title text, nav, heading, content, footer = 5 word-bearing blocks
    assert row["n_blocks"] == 5
    assert row["n_kept"] == 1
    assert row["main_words"] == 16


def test_link_density_boundary(spark):
    # 2 anchor words of 8 = 0.25: kept at max_link_density=0.25,
    # dropped just below
    page = '<p>alpha beta gamma delta epsilon zeta <a href="/">eta theta</a></p>'
    kept = extract_main_text(
        _frame(spark, [(1, page)]), "doc_id", "html", max_link_density=0.25
    ).collect()[0]
    assert kept["n_kept"] == 1
    dropped = extract_main_text(
        _frame(spark, [(1, page)]), "doc_id", "html", max_link_density=0.24
    ).collect()[0]
    assert dropped["n_kept"] == 0


def test_min_words_and_stopword_gate(spark):
    rows = [(1, "<p>tiny one</p>"), (2, "<p>lorem ipsum dolor sit amet consectetur</p>")]
    out = extract_main_text(
        _frame(spark, rows), "doc_id", "html", min_stopword_frac=0.1
    )
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[1]["n_kept"] == 0  # under min_words
    assert got[2]["n_kept"] == 0  # no stopwords at all
    # same text with stopwords clears the stopword gate
    out2 = extract_main_text(
        _frame(spark, [(3, "<p>the lorem of ipsum and dolor sit amet</p>")]),
        "doc_id", "html", min_stopword_frac=0.1,
    ).collect()[0]
    assert out2["n_kept"] == 1


def test_entities_and_inline_tags(spark):
    page = (
        "<p>Fish &amp; chips cost five pounds <b>today</b> &quot;only&quot; "
        "right here</p>"
    )
    row = extract_main_text(_frame(spark, [(1, page)]), "doc_id", "html").collect()[0]
    assert row["main_text"] == 'Fish & chips cost five pounds today "only" right here'


def test_anchor_with_nested_markup_counts_words(spark):
    # nested <span> inside the anchor: its text still counts as anchor words
    page = '<p>one two three <a href="/x"><span>four five six seven</span></a></p>'
    row = extract_main_text(
        _frame(spark, [(1, page)]), "doc_id", "html", max_link_density=0.5
    ).collect()[0]
    # 4 anchor words of 7 > 0.5 -> dropped
    assert row["n_kept"] == 0


def test_null_html_propagates(spark):
    row = extract_main_text(_frame(spark, [(1, None)]), "doc_id", "html").collect()[0]
    assert row["main_text"] is None and row["n_blocks"] is None


def test_column_variant_matches_operator(spark):
    df = _frame(spark, [(1, PAGE)])
    a = extract_main_text(df, "doc_id", "html").select("main_text").collect()[0][0]
    b = df.select(main_text_column(F.col("html")).alias("m")).collect()[0][0]
    assert a == b


def test_zero_shuffle_plan(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.col("text").alias("html")
    )
    out = extract_main_text(docs, "doc_id", "html")
    assert count_exchanges(out) == 0
    assert not any("Join" in op or "Window" in op for op in plan_operators(out))


def test_arrow_matches_expr_messy(spark):
    """Kernel vs expression reference on adversarial markup: unclosed
    tags, nested anchors, entity edge order (&amp;lt;), \x0b whitespace,
    unicode, empty/whitespace pages, case-mixed block tags, null."""
    rows = [
        (1, PAGE),
        (2, None),
        (3, ""),
        (4, "   \t\n"),
        (5, "<P>Upper case block tags with the usual words to pass"
            " the gate of five</p><BR>short"),
        (6, "<p>&amp;lt; stays literal &nbsp; and &quot;quoted&quot;"
            " with plenty of the usual words</p>"),
        (7, "<div><a href='/x'>nested <b>bold</b> anchor words here"
            "</a> plus some of the free text around it to dilute</div>"),
        (8, "<p>unclosed paragraph with words that keep the block alive"
            " and the classifier content"),
        (9, "<p>vert\x0btab\x0bwhitespace and the words to pass the"
            " minimum of five</p>"),
        (10, "<p>中文内容 mixed with the english words of the gate</p>"),
        (11, "<p>" + "w " * 300 + "</p>" * 5),
        (12, "no block tags at all just a bare text run with the words"),
    ]
    df = _frame(spark, rows)
    a = extract_main_text(df, "doc_id", "html").toPandas()
    e = extract_main_text_expr(df, "doc_id", "html").toPandas()
    a = a.sort_values("doc_id").reset_index(drop=True)
    e = e.sort_values("doc_id").reset_index(drop=True)
    assert a.astype(str).equals(e.astype(str))


def test_arrow_matches_expr_fuzz(spark):
    import random

    rng = random.Random(42)
    frag = ["<p>", "</p>", "<div>", "</div>", "<br>", "<li>", "<a href='/x'>",
            "</a>", "&amp;", "&lt;", "&nbsp;", "the ", "of ", "and ", "zq ",
            "word ", "\t", "\x0b", "é ", "中 ", "<script>x</script>",
            "<!-- c -->", "<P CLASS='y'>", "<TD>", "x<y ", "a>b ",
            # non-ASCII case-fold/word chars adjacent to tag names: pins
            # the re.ASCII mirrors (Unicode (?i) would fold U+017F
            # 'ſ'->'s' / U+212A 'K'->'k', Unicode \b would break at é)
            "<aé x>", "<ſcript>y</ſcript>", "<K>", "<pé>z</pé> ",
            "theſe ", "K ",
            # Java-\\b word-set pins (round 10): combining marks are
            # word chars to Java (<p+U+0301> must NOT split; Python \\w
            # disagrees), No/Nl are NOT (<p\xb2>/the\xb2 DO bound;
            # Python \\w disagrees the other way)
            "<p\u0301>z</p\u0301> ", "<p\u0591>q</p\u0591> ",
            "<p\xb2>r</p\xb2> ", "the\xb2 ", "the\u0301 ",
            "the\u216b ", "<ScRiPt>w</sCrIpT>", "<sTyLe>v</StYlE>",
            "<a\u200b href='/y'>m</a>"]
    rows = [
        (i, "".join(rng.choice(frag) for _ in range(rng.randint(3, 60))))
        for i in range(200)
    ]
    df = _frame(spark, rows)
    a = extract_main_text(df, "doc_id", "html").toPandas()
    e = extract_main_text_expr(df, "doc_id", "html").toPandas()
    a = a.sort_values("doc_id").reset_index(drop=True)
    e = e.sort_values("doc_id").reset_index(drop=True)
    assert a.astype(str).equals(e.astype(str))

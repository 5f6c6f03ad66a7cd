"""Outlink extraction and host-graph aggregation: quote styles, case,
document order, script/comment stripping, unquoted values, relative
resolution (+ <base href>), multiplicity, canonicalization, plan shape."""

from pyspark.sql import functions as F

from hermes_spark.operators import extract_outlinks, host_link_graph, outlinks
from hermes_spark.operators.weblinks import base_href, resolve_href
from hermes_spark.plans import count_exchanges

from engine_oracles import host_link_graph_expr

PAGE = (
    '<html><body>'
    '<a href="https://www.Example.COM/a/?utm_source=x&z=1&b=2">one</a>'
    "<A HREF='http://example.com/a?b=2&z=1'>two</A>"
    '<a href="/relative/path">rel</a>'
    '<a href="mailto:x@example.com">mail</a>'
    '<a href="https://cdn.example.net:8080/x.js">port</a>'
    '<a href="https://www.example.com/a?z=1&b=2&utm_source=y">dup</a>'
    "</body></html>"
)

MESSY = (
    "<html><head><base href='https://www.Base.example.net/dir/sub/'>"
    "<script>var u = \"https://evil.example.com/x\"; "
    'document.write(\'<a href="https://snek.example.com/">\');</script>'
    "<style>.x { background: url(https://css.example.com/b.png) }</style>"
    '</head><body>'
    '<!-- <a href="https://ghost.example.com/gone">commented out</a> -->'
    "<a href=https://unquoted.example.com/u?z=9>unquoted</a>"
    '<div data-href="https://datahref.example.com/no">not a link</div>'
    '<a href="../up/one.html">dotdot</a>'
    "<a href='/rooted/r.html'>rooted</a>"
    '<a href="plain/child.html">child</a>'
    '<a href="//proto.example.io/p">protocol-relative</a>'
    '<a href="#frag">fragment</a>'
    '<a href="javascript:void(0)">js</a>'
    "</body></html>"
)


def _frame(spark, rows):
    return spark.createDataFrame(rows, "doc_id int, html string")


def test_outlinks_raw_document_order(spark):
    raw = (
        _frame(spark, [(1, PAGE)])
        .select(outlinks(F.col("html")).alias("l"))
        .collect()[0]["l"]
    )
    # raw values in TRUE document order, every form kept (resolution
    # and scheme filtering are the callers' choice)
    assert raw == [
        "https://www.Example.COM/a/?utm_source=x&z=1&b=2",
        "http://example.com/a?b=2&z=1",
        "/relative/path",
        "mailto:x@example.com",
        "https://cdn.example.net:8080/x.js",
        "https://www.example.com/a?z=1&b=2&utm_source=y",
    ]


def test_outlinks_strips_and_unquoted(spark):
    raw = (
        _frame(spark, [(1, MESSY)])
        .select(outlinks(F.col("html")).alias("l"))
        .collect()[0]["l"]
    )
    # script/style/comment spans, data-href and the <base> tag's own
    # href (resolution metadata, not a link) never contribute
    assert raw == [
        "https://unquoted.example.com/u?z=9",
        "../up/one.html",
        "/rooted/r.html",
        "plain/child.html",
        "//proto.example.io/p",
        "#frag",
        "javascript:void(0)",
    ]


def test_base_href_and_resolution(spark):
    out = (
        _frame(spark, [(1, MESSY)])
        .select(base_href(F.col("html")).alias("b"))
        .collect()[0]["b"]
    )
    assert out == "https://www.Base.example.net/dir/sub/"

    cases = [
        ("https://h.org/a/b/page.html", "x/y.html", "https://h.org/a/b/x/y.html"),
        ("https://h.org/a/b/page.html", "../up.html", "https://h.org/a/up.html"),
        ("https://h.org/a/b/", "../../../too/deep", "https://h.org/too/deep"),
        ("https://h.org/a/b/page.html", "/rooted", "https://h.org/rooted"),
        ("https://h.org/a/b/page.html", "//cdn.io/x", "https://cdn.io/x"),
        ("http://h.org/p", "//cdn.io/x", "http://cdn.io/x"),
        ("https://h.org/p?q=1", "?q=2", "https://h.org/p?q=2"),
        # base's last segment strips before merging; dot segments collapse
        ("https://h.org/a/./b/../c", "./d", "https://h.org/a/d"),
        ("https://h.org", "child", "https://h.org/child"),
        ("https://h.org/p", "https://abs.example.com/x", "https://abs.example.com/x"),
        ("https://h.org/p", "mailto:x@y.z", None),
        ("https://h.org/p", "javascript:void(0)", None),
        ("https://h.org/p", "#frag", None),
        ("https://h.org/p", "", None),
        ("not a url", "child", None),
    ]
    df = spark.createDataFrame(cases, "base string, href string, want string")
    got = df.select(
        "want", resolve_href(F.col("base"), F.col("href")).alias("got")
    ).collect()
    for r in got:
        assert r["got"] == r["want"], (r["got"], r["want"])


def test_extract_outlinks_resolved_vs_absolute_only(spark):
    pages = _frame(spark, [(1, MESSY)]).withColumn(
        "page_url", F.lit("https://www.Host.example.org/a/b/page.html")
    )
    # absolute-only floor (no page_url): just the unquoted absolute
    abs_only = {
        r["target"]
        for r in extract_outlinks(pages, "doc_id", "html").collect()
    }
    assert abs_only == {"unquoted.example.com/u?z=9"}
    # resolved: relative links land on the BASE TAG host (it overrides
    # the page URL), protocol-relative keeps the base scheme
    resolved = sorted(
        r["target"]
        for r in extract_outlinks(
            pages, "doc_id", "html", page_url_col="page_url"
        ).collect()
    )
    assert resolved == sorted(
        [
            "unquoted.example.com/u?z=9",
            "base.example.net/dir/up/one.html",
            "base.example.net/rooted/r.html",
            "base.example.net/dir/sub/plain/child.html",
            "proto.example.io/p",
        ]
    )


def test_canonicalization_merges_variants(spark):
    out = extract_outlinks(_frame(spark, [(1, PAGE)]), "doc_id", "html")
    targets = [r["target"] for r in out.collect()]
    # all three /a variants canonicalize to one key: host lowercased,
    # www/tracking stripped, params sorted, trailing slash dropped
    assert targets.count("example.com/a?b=2&z=1") == 3
    assert "cdn.example.net:8080/x.js" in targets


def test_host_graph_weights_and_same_host_resolution(spark):
    df = _frame(spark, [(1, PAGE), (2, PAGE)]).withColumn(
        "src_host", F.concat(F.lit("h"), F.col("doc_id").cast("string"))
    )
    edges = {
        (r["src_host"], r["dst_host"]): r["n_links"]
        for r in host_link_graph(df, "src_host", "html").collect()
    }
    assert edges[("h1", "example.com")] == 3
    assert edges[("h1", "cdn.example.net:8080")] == 1
    assert edges[("h2", "example.com")] == 3
    # relative links now resolve to the page's own host instead of
    # dropping (pre-r9 undercount): /relative/path -> self-edge
    assert edges[("h1", "h1")] == 1
    assert edges[("h2", "h2")] == 1


def test_host_graph_page_url_base(spark):
    rows = [(1, '<a href="../x.html">up</a><a href="https://other.org/y">o</a>')]
    df = _frame(spark, rows).withColumn(
        "src_host", F.lit("pages.example.org")
    ).withColumn(
        "page_url", F.lit("https://pages.example.org/a/b/c.html")
    )
    edges = {
        (r["src_host"], r["dst_host"]): r["n_links"]
        for r in host_link_graph(
            df, "src_host", "html", page_url_col="page_url"
        ).collect()
    }
    assert edges == {
        ("pages.example.org", "pages.example.org"): 1,
        ("pages.example.org", "other.org"): 1,
    }


def test_null_and_malformed(spark):
    rows = [(1, None), (2, '<a href="https://ok.org/x">y</a><a href="broken'),
            (3, "no links at all")]
    out = extract_outlinks(_frame(spark, rows), "doc_id", "html").collect()
    assert [(r["doc_id"], r["target"]) for r in out] == [(2, "ok.org/x")]


def test_plan_shapes(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.col("text").alias("html"),
        F.lit("src.example.org").alias("src_host"),
    )
    assert count_exchanges(extract_outlinks(docs, "doc_id", "html")) == 0
    # ONE shuffle for the edge aggregation (AQE may plan it as a single
    # exchange pair; assert no more than the groupBy's)
    assert count_exchanges(host_link_graph(docs, "src_host", "html")) == 1


MESSY_PAGES = [
    # absolute, relative, dot-segments, base href, unquoted
    (1, "a.example", "https://a.example/d/p1.html",
     '<base href="https://base.example/sub/dir/">'
     '<a href="https://x.example/1">x</a><a href="../up.html">u</a>'
     '<a href="/root.html">r</a><a href=rel/page.html>q</a>'),
    # traps: script/comment/data-href/mailto/fragment/other scheme
    (2, "b.example", "https://b.example/",
     '<script>var u="https://evil.example/";</script>'
     '<!-- <a href="https://ghost.example/">g</a> -->'
     '<a data-href="https://no.example/">n</a>'
     '<a href="mailto:x@y.z">m</a><a href="#top">t</a>'
     '<a href="javascript:void(0)">j</a><a href="https://ok.example/k">k</a>'),
    # URI reject set: spaces, bad %, pipes, brackets in path
    (3, "c.example", "https://c.example/",
     '<a href="https://sp.example/a b">s</a>'
     '<a href="https://pc.example/100%">p</a>'
     '<a href="https://pi.example/x|y">i</a>'
     '<a href="https://br.example/a[1]">b</a>'
     '<a href="https://good.example/%2Fok">g</a>'),
    # authority forms: userinfo, default/explicit ports, WWW, IPv6
    (4, "d.example", "https://d.example/",
     '<a href="https://user:p@host.example:8080/x">u</a>'
     '<a href="https://host.example:443/y">v</a>'
     '<a href="HTTPS://WWW.Host.Example/z">w</a>'
     '<a href="https://[::1]:8080/q">6</a>'
     '<a href="//proto.example/pr">pr</a>'),
    # relative base (ignored), ?query ref, deep ../ chain, single quotes
    (5, "e.example", "https://e.example/a/b/c/d/e.html",
     "<base href='/relative/ignored/'>"
     "<a href='?q=1'>q</a><a href='../../../../up4.html'>u</a>"
     "<a href='../../../../../up5.html'>x</a>"),
    # null / empty / whitespace href values, broken markup
    (6, "f.example", "https://f.example/", '<a href="">e</a><a href=" ">w</a>'
     '<a href="   https://pad.example/t">p</a><a href="broken'),
    (7, "g.example", None, '<a href="/only-relative">r</a>'),
    (8, None, "https://h.example/", '<a href="https://x.example/">x</a>'),
    (9, "i.example", "https://i.example/", None),
    # non-ASCII host and path (accepted above U+00A0)
    (10, "j.example", "https://j.example/",
     '<a href="https://höst.example/x">h</a>'
     '<a href="https://ok.example/päth">p</a>'),
]


def test_host_graph_arrow_matches_expr(spark):
    df = spark.createDataFrame(
        MESSY_PAGES, "doc_id long, src_host string, page_url string, html string"
    )
    for kwargs in ({}, {"page_url_col": "page_url"}):
        expr = {
            (r["src_host"], r["dst_host"]): r["n_links"]
            for r in host_link_graph_expr(
                df, "src_host", "html", **kwargs
            ).collect()
        }
        arrow = {
            (r["src_host"], r["dst_host"]): r["n_links"]
            for r in host_link_graph(
                df, "src_host", "html", **kwargs
            ).collect()
        }
        assert arrow == expr, (kwargs, arrow, expr)
        assert expr, "fixture produced no edges — traps swallowed everything"


def test_host_graph_arrow_matches_expr_fuzz(spark):
    """Random pages assembled from href-shaped fragments — the kernel
    must agree with the expression reference edge-for-edge."""
    import random

    rng = random.Random(77)
    frags = [
        '<a href="https://s{n}.example/p{m}">l</a>',
        '<a href="/p{m}">r</a>', "<a href=../u{m}>d</a>",
        '<a href="//s{n}.example/pp">pr</a>', '<a href="#f{m}">f</a>',
        '<a href="mailto:a@b{m}.c">m</a>', '<script>x="https://e{n}.ex/"</script>',
        '<base href="https://b{n}.example/d{m}/">', '<a href="?x={m}">q</a>',
        '<a href="https://bad{n}.example/sp ace">s</a>',
        '<a href="https://p{n}.example:8080/x">8</a>',
    ]
    rows = []
    for i in range(60):
        body = "".join(
            rng.choice(frags).format(n=rng.randint(1, 5), m=rng.randint(1, 9))
            for _ in range(rng.randint(1, 12))
        )
        rows.append((i, f"s{rng.randint(1, 5)}.example",
                     f"https://s{rng.randint(1, 5)}.example/a/b.html",
                     f"<html><body>{body}</body></html>"))
    df = spark.createDataFrame(
        rows, "doc_id long, src_host string, page_url string, html string"
    )
    for kwargs in ({}, {"page_url_col": "page_url"}):
        expr = sorted(map(tuple, host_link_graph_expr(
            df, "src_host", "html", **kwargs).collect()))
        arrow = sorted(map(tuple, host_link_graph(
            df, "src_host", "html", **kwargs).collect()))
        assert arrow == expr, kwargs


def test_host_graph_arrow_matches_expr_hostile_fuzz(spark):
    """Hostile-charset fuzz (URI delims, controls, C1/NBSP, brackets,
    bad %-escapes, multi-#, unicode) — found and pinned three real
    boundary rules of try_parse_url during round 9: registry-based
    authority fallback (multi-colon/@ garbage accepted), at most one
    '#', and brackets legal in query/fragment but not path/authority."""
    import random

    rng = random.Random(123)
    pool = list("abcz09-._~:/?#[]@!$&'()*+,;=% \t<>{}|\\^`\"") + [
        "\x7f", "\x85", "\xa0", "é", "中", "%2F", "%zz", "..", "../",
        "//", "https://", "http://", "HTTPS://", ":8080", ":443",
        "www.", "#f", "?q=1", "mailto:", "javascript:", "[::1]",
        "user:p@",
        # Zs/Zl/Zp space separators above U+00A0 (Character.isSpaceChar
        # rejects; Cf chars like ZWSP are accepted) — pins the
        # round-10 _URI_SPACE_HI screen
        "\u1680", "\u2000", "\u2005", "\u200a", "\u2028", "\u2029",
        "\u202f", "\u205f", "\u3000", "\u200b",
    ]

    def rand_href(r):
        return "".join(r.choice(pool) for _ in range(r.randint(1, 18)))

    rows = []
    for i in range(150):
        links = "".join(
            f'<a href="{rand_href(rng)}">x</a>'
            for _ in range(rng.randint(1, 6))
        )
        if rng.random() < 0.3:
            links = f'<base href="{rand_href(rng)}">' + links
        if rng.random() < 0.3:
            links += ("<a href="
                      + rand_href(rng).replace(" ", "").replace("\t", "")
                      + ">u</a>")
        rows.append((i, f"s{rng.randint(1, 3)}.example",
                     f"https://s{rng.randint(1, 3)}.example/a/b.html",
                     f"<html><body>{links}</body></html>"))
    df = spark.createDataFrame(
        rows, "doc_id long, src_host string, page_url string, html string"
    )
    for kwargs in ({}, {"page_url_col": "page_url"}):
        expr = sorted(map(tuple, host_link_graph_expr(
            df, "src_host", "html", **kwargs).collect()))
        arrow = sorted(map(tuple, host_link_graph(
            df, "src_host", "html", **kwargs).collect()))
        assert arrow == expr, kwargs
        assert expr  # traps must not have swallowed everything

"""Web-graph construction from crawled HTML: outlink extraction and
host-level edge aggregation.

The link-authority stage of a crawl-curation pipeline (PageRank priors,
link-farm detection, crawl-frontier expansion) needs (source, target)
edges, and at 100 TB the edges come straight out of the page scan —
there is no separate "graph ETL".  This module turns a page frame into
that edge list with pure expressions:

1. ``outlinks``        — every visible ``href`` attribute value of a
                         page, in true document order, all three HTML
                         value forms (double-quoted, single-quoted,
                         unquoted); ``<script>``/``<style>``/comment
                         spans are stripped first so JS string literals
                         and commented-out markup never count as links,
                         and the attribute name is anchored so
                         ``data-href=`` does not match;
2. ``resolve_href``    — RFC-3986-style reference resolution as a pure
                         expression: absolute / protocol-relative /
                         root-relative / relative (with bounded
                         ``../`` collapsing), non-http(s) schemes and
                         fragment-only refs dropped;
3. ``base_href``       — the page's ``<base href>`` target (overrides
                         the fetch URL as the resolution base);
4. ``host_link_graph`` — aggregated ``(src_host, dst_host, n_links)``
                         edges, link targets canonicalized with
                         ``canonical_url`` (tracking params dropped,
                         ``www.`` folded) so byte-distinct URLs of one
                         resource don't inflate edge weights.  Relative
                         links resolve to the page's own host (or its
                         ``<base>``/page URL when provided), so
                         intra-site links are counted, not dropped.

Self-loops (links within ``src_host``) are kept — callers filter them
when ranking cross-site authority; they carry real signal for
navigation-template detection.

Scale design: ``outlinks`` / ``resolve_href`` / ``base_href`` are
zero-shuffle scan expressions.  ``host_link_graph`` runs one Arrow
kernel that adds ONE round-robin exchange on large narrow inputs (its
``rebalance_for_cpu`` widening) and pre-counts (src, dst) pairs per
batch so less data reaches the aggregation; the edge aggregation is
ONE groupBy over (src_host, dst_host) with map-side partial
aggregation, and the output is host-cardinality (millions), not
page-cardinality (billions).  The SQL oracle mirrors the expression
plan, kept as the reference in ``tests/engine_oracles.py``; the kernel
is pinned to it by property/fuzz equivalence tests.  Feeds
``operators.graph.pagerank`` / ``degree_stats`` directly.

Documented recall/precision boundaries (real crawls are adversarial):

* ``../`` chains deeper than ``_DOT_LEVELS`` (4) and dot-segments
  inside query strings are left uncollapsed — the URL is still
  returned, just unnormalized.
* a RELATIVE ``<base href>`` is ignored (the page URL wins); the HTML
  spec resolves it against the fetch URL, which needs two passes.
* hrefs synthesized by JavaScript at render time are invisible to any
  static extractor.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import canonical_url

#: explicit whitespace class (Java \s includes \x0b, RE2 \s does not —
#: oracle re-implementations share this pattern byte-for-byte)
_WS = r"[ \t\n\f\r\x0b]"
_WSC = " \t\n\f\r\x0b"

#: one href attribute, matched WHOLE (group 0) so one extraction pass
#: preserves true document order across the three value forms.  The
#: lookbehind anchors the attribute name: ``data-href=`` / ``xhref=``
#: do not match.  Lazy parsing of broken markup is deliberate — crawls
#: are full of it, and a missing close quote must not swallow the rest
#: of the page (the quoted alternatives stop at the next quote, the
#: unquoted one at whitespace/``>``).
_HREF_ATTR = (
    r"(?is)(?<![\w\-])href" + _WS + "*=" + _WS
    + r"""*(?:"[^"]*"|'[^']*'|[^"'>""" + _WSC + r"][^>" + _WSC + r"]*)"
)

#: spans whose content must never produce links: scripts (JS string
#: literals), styles (url() refs), HTML comments.  Same patterns as
#: operators/maincontent.py's pre-segmentation strip.
#: explicit case classes instead of (?i) — Java/Python/RE2 disagree on
#: exotic case folding (U+212A/U+017F; pinned in maincontent._ci) and
#: these patterns are mirrored in all three engines.
_SCRIPT_CI = "[sS][cC][rR][iI][pP][tT]"
_STYLE_CI = "[sS][tT][yY][lL][eE]"
_BASE_CI = "[bB][aA][sS][eE]"
_HTTPS_CI = "[hH][tT][tT][pP][sS]?"
_STRIP_SPANS = (
    r"(?s)<" + _SCRIPT_CI + r"[^>]*>.*?</" + _SCRIPT_CI + r">",
    r"(?s)<" + _STYLE_CI + r"[^>]*>.*?</" + _STYLE_CI + r">",
    r"(?s)<!--.*?-->",
)


def _visible_markup(html: Column) -> Column:
    for pat in _STRIP_SPANS:
        html = F.regexp_replace(html, pat, " ")
    return html


def _attr_value(m: Column) -> Column:
    """The value of a full ``href=...`` attribute match: strip the
    name/equals prefix, then unwrap whichever quote style matched."""
    v = F.regexp_replace(m, r"(?is)^href" + _WS + "*=" + _WS + "*", "")
    return (
        F.when(v.startswith('"'), F.regexp_extract(v, r'^"([^"]*)', 1))
        .when(v.startswith("'"), F.regexp_extract(v, r"^'([^']*)", 1))
        .otherwise(v)
    )


def outlinks(html: Column) -> Column:
    """``array<string>`` of the page's raw ``href`` targets, in true
    document order (duplicates kept — multiplicity is the edge weight).

    Values are returned exactly as written (absolute, relative,
    ``mailto:``, ...): pair with :func:`resolve_href` to absolutize, or
    filter ``rlike('(?i)^https?://')`` for the absolute-only subset.
    Script/style/comment spans never contribute; empty values drop.
    """
    # <base> is resolution metadata, not a link — its href must not
    # count as an outlink (use base_href to read it)
    src = F.regexp_replace(
        _visible_markup(html), r"(?s)<" + _BASE_CI + r"[^>]*>", " "
    )
    ms = F.regexp_extract_all(src, F.lit(_HREF_ATTR), 0)
    return F.filter(F.transform(ms, _attr_value), lambda u: u != "")


def base_href(html: Column) -> Column:
    """The page's first ``<base ... href=...>`` target, or null.

    Only an ABSOLUTE http(s) base is honored (see module docstring);
    anything else returns null so callers fall back to the page URL.
    """
    tag = F.regexp_extract(_visible_markup(html), r"(?s)<" + _BASE_CI + r"[^>]+>", 0)
    v = _attr_value(F.regexp_extract(tag, _HREF_ATTR, 0))
    return F.when(v.rlike(r"^" + _HTTPS_CI + "://"), v)


#: bounded ``segment/../`` collapsing depth — covers every sane page;
#: deeper chains stay uncollapsed (documented boundary).
_DOT_LEVELS = 4


def _collapse_dots(path: Column) -> Column:
    """Dot-segment removal (RFC 3986 §5.2.4) on the PATH part of a
    string that starts with ``/``; the first ``?``/``#`` and everything
    after it pass through untouched."""
    head = F.regexp_extract(path, r"^([^?#]*)", 1)
    tail = F.substring(path, F.length(head) + 1, 1 << 30)
    p = F.regexp_replace(head, r"/\.(?=/)", "")
    p = F.regexp_replace(p, r"/\.$", "/")
    for _ in range(_DOT_LEVELS):
        p = F.regexp_replace(p, r"/(?!\.\.(?:/|$))[^/]+/\.\./", "/")
        p = F.regexp_replace(p, r"/(?!\.\.(?:/|$))[^/]+/\.\.$", "/")
    # `..` above the root is removed, per the RFC
    p = F.regexp_replace(p, r"^(?:/\.\.(?=/|$))+", "")
    p = F.when(p == "", F.lit("/")).otherwise(p)
    return F.concat(p, tail)


def resolve_href(base: Column, href: Column) -> Column:
    """Absolutize one ``href`` value against an absolute http(s) base
    URL — null when the reference is not a followable http(s) link
    (other schemes, fragment-only, empty) or the base is unusable.

    Pure expressions, zero shuffle; the resolved URL feeds
    ``canonical_url`` / ``host_link_graph`` directly.
    """
    h = F.trim(href)
    scheme = F.regexp_extract(base, r"^(" + _HTTPS_CI + "):", 1)
    origin = F.regexp_extract(base, r"^(" + _HTTPS_CI + "://[^/?#]+)", 1)
    bpath = F.regexp_extract(base, r"^" + _HTTPS_CI + "://[^/?#]+([^?#]*)", 1)
    bdir = F.regexp_replace(bpath, r"[^/]*$", "")
    bdir = F.when(bdir == "", F.lit("/")).otherwise(bdir)
    null = F.lit(None).cast("string")
    return (
        F.when(origin == "", null)
        .when(h == "", null)
        .when(h.rlike(r"^" + _HTTPS_CI + "://"), h)
        .when(h.rlike(r"^[a-zA-Z][a-zA-Z0-9+.\-]*:"), null)
        .when(h.startswith("//"), F.concat(scheme, F.lit(":"), h))
        .when(h.startswith("#"), null)
        .when(h.startswith("?"), F.concat(origin, bpath, h))
        .when(h.startswith("/"), F.concat(origin, _collapse_dots(h)))
        .otherwise(F.concat(origin, _collapse_dots(F.concat(bdir, h))))
    )


def resolved_outlinks(html: Column, page_url: Column) -> Column:
    """``array<string>`` of absolutized link targets in document order:
    :func:`outlinks` resolved against ``<base href>`` when the page has
    one, else ``page_url``.  Non-followable refs drop out."""
    base = F.coalesce(base_href(html), page_url)
    return F.filter(
        F.transform(outlinks(html), lambda h: resolve_href(base, h)),
        lambda u: u.isNotNull(),
    )


def extract_outlinks(
    df: DataFrame,
    id_col: str,
    html_col: str,
    *,
    page_url_col: "str | None" = None,
    canonicalize: bool = True,
    out_col: str = "target",
) -> DataFrame:
    """One row per (page, link target): ``(id_col, out_col)``.

    With ``page_url_col`` every href (relative included) is resolved
    against the page's ``<base href>``-or-fetch URL; without it only
    absolute http(s) targets survive (host-graph floor — cross-host
    links are overwhelmingly absolute).  With ``canonicalize=True``
    targets are normalized dedup keys (``canonical_url``: host without
    www, no tracking params, sorted query, no scheme/fragment);
    unparseable URLs drop out.  Zero shuffle — explode is a scan-side
    generator.
    """
    if page_url_col is not None:
        links = resolved_outlinks(F.col(html_col), F.col(page_url_col))
    else:
        links = F.filter(
            outlinks(F.col(html_col)), lambda u: u.rlike(r"^" + _HTTPS_CI + "://")
        )
    rows = df.select(F.col(id_col), F.explode(links).alias("__raw"))
    target = canonical_url(F.col("__raw")) if canonicalize else F.col("__raw")
    return rows.select(id_col, target.alias(out_col)).filter(
        F.col(out_col).isNotNull()
    )


def _py_link_patterns():
    """Python ``re`` mirrors of the module's extraction patterns.

    Case insensitivity is spelled out as explicit classes in the
    SHARED constants (Java/Python/RE2 disagree on exotic folds — Java's
    plain (?i) folds US-ASCII ONLY (re-pinned round 11: U+212A KELVIN
    does NOT match ``k`` without (?iu)); Python (?i) folds full-Unicode
    (U+212A and U+017F both fold) or, under re.ASCII, ASCII only;
    RE2/DuckDB folds full-Unicode), so the patterns port
    byte-for-byte.  The remaining flagged mirrors are ``href``/
    ``href_prefix``: their ``\\w`` lookbehind and ``(?i)`` cover ASCII
    letters only in Java, which ``re.ASCII`` pins exactly (note
    ``\\b`` would be the OPPOSITE call — Java's ``\\b`` is
    Unicode-aware — but no ``\\b`` appears here).  The explicit ``_WS`` classes are already
    dialect-portable by design.
    """
    import re

    return {
        "strip": [re.compile(p) for p in _STRIP_SPANS],
        "base_tag": re.compile(r"(?s)<" + _BASE_CI + r"[^>]+>"),
        "base_rm": re.compile(r"(?s)<" + _BASE_CI + r"[^>]*>"),
        "href": re.compile(_HREF_ATTR, re.ASCII),
        "href_prefix": re.compile(
            r"(?is)^href" + _WS + "*=" + _WS + "*", re.ASCII
        ),
        "abs": re.compile(r"^" + _HTTPS_CI + "://"),
        "scheme": re.compile(r"^[a-zA-Z][a-zA-Z0-9+.\-]*:"),
        "b_origin": re.compile(r"^(" + _HTTPS_CI + ")://([^/?#]+)"),
        "b_path": re.compile(r"^" + _HTTPS_CI + "://[^/?#]+([^?#]*)"),
        "authority": re.compile(r"^" + _HTTPS_CI + "://([^/?#]*)"),
        "auth_v6": re.compile(
            r"^(?:[^@]*@)?\[[0-9A-Fa-f:.]+\](?::[0-9]*)?$"
        ),
        "pct": re.compile(r"%(?![0-9A-Fa-f]{2})"),
        "head": re.compile(r"^([^?#]*)"),
        "dot_cur": re.compile(r"/\.(?=/)"),
        "dot_cur_end": re.compile(r"/\.$"),
        "dot_up": re.compile(r"/(?!\.\.(?:/|$))[^/]+/\.\./"),
        "dot_up_end": re.compile(r"/(?!\.\.(?:/|$))[^/]+/\.\.$"),
        "dot_root": re.compile(r"^(?:/\.\.(?=/|$))+"),
        "bdir": re.compile(r"[^/]*$"),
        "userinfo": re.compile(r"^[^@/]*@"),
        "defport": re.compile(r":(80|443)$"),
        "www": re.compile(r"^www\."),
    }


#: characters java.net.URI rejects anywhere in a URL (empirically
#: pinned against Spark's try_parse_url: space, the RFC "delims"/
#: "unwise" sets, controls, DEL..NBSP; chars ABOVE U+00A0 are accepted
#: EXCEPT the space separators below)
_URI_BAD = set(' "<>{}|\\^`')

#: non-ASCII space separators above U+00A0 that java.net.URI also
#: rejects, via Character.isSpaceChar (Unicode Zs/Zl/Zp) — OGHAM SPACE
#: MARK, EN QUAD..HAIR SPACE, LINE/PARAGRAPH SEPARATOR, NARROW NBSP,
#: MEDIUM MATHEMATICAL SPACE, IDEOGRAPHIC SPACE.  Frozen code-point
#: list (their Zs/Zl/Zp membership is stable across Unicode versions)
#: rather than unicodedata.category, so the kernel cannot drift from
#: the JVM if Python's Unicode tables move.  Pinned empirically: Cf
#: chars (e.g. ZWSP U+200B) and unassigned code points are ACCEPTED by
#: try_parse_url, so only these fifteen reject.
_URI_SPACE_HI = frozenset(
    [0x1680, *range(0x2000, 0x200B), 0x2028, 0x2029, 0x202F, 0x205F, 0x3000]
)


def _py_collapse_dots(p: "re.Pattern | dict", path: str) -> str:
    """Python mirror of :func:`_collapse_dots` — identical pattern
    sequence, identical bounded depth."""
    m = p["head"].match(path)
    head, tail = m.group(1), path[m.end(1):]
    head = p["dot_cur"].sub("", head)
    head = p["dot_cur_end"].sub("/", head)
    for _ in range(_DOT_LEVELS):
        head = p["dot_up"].sub("/", head)
        head = p["dot_up_end"].sub("/", head)
    head = p["dot_root"].sub("", head)
    if head == "":
        head = "/"
    return head + tail


def _py_canonical_host(p: dict, url: str) -> "str | None":
    """Authority → canonical host, mirroring ``try_parse_url``'s
    accept/reject behavior (pinned empirically in tests) followed by
    ``canonical_url``'s host normalization."""
    m = p["authority"].match(url)
    if m is None:
        return None
    auth = m.group(1)
    if auth == "":
        return None
    for ch in url:
        o = ord(ch)
        if o < 0x20 or 0x7F <= o <= 0xA0 or ch in _URI_BAD or o in _URI_SPACE_HI:
            return None
    # java.net.URI falls back to REGISTRY-based authority parsing when
    # the server-based (host:port) parse fails, and registry authorities
    # accept multi-colon/multi-@/non-numeric-port garbage verbatim
    # ('https://!;b:(:8080/x' -> authority '!;b:(:8080', empirically
    # pinned).  So there is NO structural authority check — only the
    # char screen above plus three structural rules, each pinned
    # against try_parse_url: at most one '#' (a '#' inside the
    # fragment rejects), brackets legal in QUERY/FRAGMENT but not in
    # path/authority (IPv6 authority literals excepted), and
    # %-escapes well-formed everywhere.
    if url.count("#") > 1:
        return None
    qpos = url.find("?")
    fpos = url.find("#")
    cut = min(x for x in (qpos, fpos, len(url)) if x != -1)
    head_start = m.end(1) if p["auth_v6"].match(auth) else 0
    if "[" in url[head_start:cut] or "]" in url[head_start:cut]:
        return None
    if p["pct"].search(url):
        return None
    a = auth.lower()
    a = p["userinfo"].sub("", a)
    a = p["defport"].sub("", a)
    a = p["www"].sub("", a)
    return a or None


def _py_page_dst_hosts(p: dict, html: str, page_url: "str | None") -> list:
    """All canonical destination hosts of one page (duplicates kept —
    multiplicity is the edge weight), mirroring
    ``resolved_outlinks`` + ``canonical_url`` + host extraction."""
    visible = html
    for sp in p["strip"]:
        visible = sp.sub(" ", visible)
    # resolution base: first <base href> when absolute http(s)
    base = None
    bm = p["base_tag"].search(visible)
    if bm:
        hm = p["href"].search(bm.group(0))
        if hm:
            v = _py_attr_value(p, hm.group(0))
            if v and p["abs"].match(v):
                base = v
    if base is None:
        base = page_url
    if base is None:
        # a NULL base is not an EMPTY-origin base: SQL null comparisons
        # fall through resolve_href's CASE, so absolute links still
        # resolve (to themselves) while every base-dependent branch
        # nulls out.  An unparseable non-null base (origin = '') kills
        # everything, absolute links included (first WHEN).
        scheme = origin = bpath = bdir = None
    else:
        om = p["b_origin"].match(base)
        if om is None:
            return []
        scheme, origin = om.group(1), om.group(0)
        pm = p["b_path"].match(base)
        bpath = pm.group(1) if pm else ""
        bdir = p["bdir"].sub("", bpath)
        if bdir == "":
            bdir = "/"
    hosts = []
    nolinks = p["base_rm"].sub(" ", visible)
    for m in p["href"].finditer(nolinks):
        v = _py_attr_value(p, m.group(0))
        if v == "":
            continue
        h = v.strip(" ")  # Spark trim strips 0x20 only
        if h == "":
            url = None
        elif p["abs"].match(h):
            url = h
        elif p["scheme"].match(h):
            url = None
        elif origin is None:
            url = None  # base-dependent branch with a null base
        elif h.startswith("//"):
            url = scheme + ":" + h
        elif h.startswith("#"):
            url = None
        elif h.startswith("?"):
            url = origin + bpath + h
        elif h.startswith("/"):
            url = origin + _py_collapse_dots(p, h)
        else:
            url = origin + _py_collapse_dots(p, bdir + h)
        if url is None:
            continue
        host = _py_canonical_host(p, url)
        if host:
            hosts.append(host)
    return hosts


def _py_attr_value(p: dict, attr: str) -> str:
    v = p["href_prefix"].sub("", attr)
    if v.startswith('"'):
        return v[1:].split('"', 1)[0]
    if v.startswith("'"):
        return v[1:].split("'", 1)[0]
    return v


def host_link_graph(
    df: DataFrame,
    src_host_col: str,
    html_col: str,
    *,
    page_url_col: "str | None" = None,
) -> DataFrame:
    """Aggregated host-level edges ``(src_host, dst_host, n_links)``.

    ``src_host_col`` is the page's own host (crawl metadata — WARC
    records carry it; ``canonical_url`` of the fetch URL yields it).
    Relative links RESOLVE instead of dropping: against
    ``page_url_col`` (or the page's ``<base href>``) when given, else
    against a synthetic ``https://<src_host>/`` base — either way an
    intra-site link lands on the page's own host, so same-host edge
    weights are no longer undercounted (pre-r9 behavior dropped every
    relative link).  ``n_links`` counts every href occurrence, so
    parallel edges from one page weight the edge — what PageRank and
    link-farm heuristics expect.

    One ``mapInPandas`` pass extracts+resolves+canonicalizes links in a
    Python-regex kernel and emits per-batch partial ``(src_host,
    dst_host, n)`` counts; ONE map-side-combined groupBy sums them, so
    the shuffle carries partial counts (bounded by distinct host pairs
    per batch), not the raw link stream.  The input is widened with
    ``rebalance_for_cpu`` first (CPU-bound scan; same guard as the
    MinHash/LM kernels).  The r9 1M-page probe measured the equivalent
    expression plan (:func:`resolved_outlinks` + ``canonical_url``) at
    545 s — per-link RFC resolution is ~25 chained regex ops inside
    interpreted higher-order lambdas, the same constant-factor wall as
    the MinHash shingle lambdas.  That plan is kept as the reference in
    ``tests/engine_oracles.py``, and the kernel is property-tested
    identical to it, incl. the try_parse_url accept/reject boundary
    pinned empirically.
    """
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from ..plans import rebalance_for_cpu

    out_schema = StructType([
        StructField("src_host", StringType()),
        StructField("dst_host", StringType()),
        StructField("n", LongType()),
    ])
    cols = [F.col(src_host_col).alias("__src"), F.col(html_col).alias("__html")]
    if page_url_col is not None:
        cols.append(F.col(page_url_col).alias("__url"))
    narrow = rebalance_for_cpu(df).select(*cols)
    has_url = page_url_col is not None

    def kernel(batches):
        from collections import Counter

        import pandas as pd

        p = _py_link_patterns()
        for pdf in batches:
            counts = Counter()
            urls = pdf["__url"] if has_url else None
            for i, (src, html) in enumerate(zip(pdf["__src"], pdf["__html"])):
                if html is None:
                    continue
                if has_url:
                    page_url = urls.iloc[i]  # may be None: <base> can
                    # still provide the resolution base, and absolute
                    # links survive a null base either way
                else:
                    # concat('https://', NULL, '/') is NULL, not a string
                    page_url = None if src is None else "https://" + str(src) + "/"
                for host in _py_page_dst_hosts(p, str(html), page_url):
                    counts[(src, host)] += 1
            if counts:
                ks = list(counts.keys())
                yield pd.DataFrame({
                    "src_host": [k[0] for k in ks],
                    "dst_host": [k[1] for k in ks],
                    "n": [counts[k] for k in ks],
                })

    return (
        narrow.mapInPandas(kernel, out_schema)
        .groupBy("src_host", "dst_host")
        .agg(F.sum("n").cast("long").alias("n_links"))
    )

"""Tests for the r5 additions: page_metadata / canonical_collapse
(explicit-dedup tier), cdx_index (SURT capture index), mixture_plan
(token-budget mixture planning) — including the §36 hostile-input
discipline (NULL/empty/headless html, malformed hrefs, NULL domains)."""

import pytest
from pyspark.sql import functions as F

from osmospark.functions.metadata import (canonical_collapse,
                                          extract_metadata, page_metadata)
from osmospark.functions.curation import mixture_plan
from osmospark.warc import cdx_index


# ---------------------------------------------------------------- kernel

def test_extract_metadata_fields():
    html = ('<head><title>T</title>'
            '<link rel="canonical" href="/c/1">'
            '<meta name="robots" content=" NoIndex , nofollow ">'
            '<meta property="og:title" content="OG"></head>'
            '<body><p>x</p></body>')
    t, c, ni, nf, og = extract_metadata("http://h.test/p/9", html)
    assert t == "T"
    assert c == "http://h.test/c/1"
    assert ni and nf
    assert og == "OG"


def test_extract_metadata_first_canonical_wins():
    html = ('<head><link rel="canonical" href="/a">'
            '<link rel="canonical" href="/b"></head>')
    _, c, *_ = extract_metadata("http://h.test/", html)
    assert c == "http://h.test/a"


def test_extract_metadata_absolute_href_canonicalized():
    html = '<head><link rel="canonical" href="HTTP://H.TEST:80/X#f"></head>'
    _, c, *_ = extract_metadata("http://other.test/p", html)
    assert c == "http://h.test/X"


def test_extract_metadata_robots_none_token():
    html = '<head><meta name="robots" content="none"></head>'
    _, _, ni, nf, _ = extract_metadata("http://h.test/", html)
    assert ni and nf


def test_extract_metadata_hostile_inputs():
    # NULL/empty html -> all-NULL row, no exception
    assert extract_metadata("http://h.test/", "") == (
        None, None, False, False, None)
    assert extract_metadata("http://h.test/", None) == (
        None, None, False, False, None)
    # headless body, canonical without href, empty robots content
    t, c, ni, nf, og = extract_metadata(
        "http://h.test/",
        '<body><link rel="canonical"><meta name="robots" content=""></body>')
    assert c is None and not ni and not nf


def test_page_metadata_df_binary_html_and_nulls(spark):
    rows = [
        ("http://a.test/1", b"<head><title>A</title></head>"),
        ("http://a.test/2", None),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    got = {r["url"]: r for r in page_metadata(df).collect()}
    assert got["http://a.test/1"]["title"] == "A"
    assert got["http://a.test/2"]["title"] is None
    assert len(got) == 2  # NULL html never drops the page


# ------------------------------------------------------------- collapse

def test_canonical_collapse_groups_and_flags(spark):
    rows = [
        # two members + the target itself
        ("http://h.test/p/1", "http://h.test/c", False),
        ("http://h.test/p/2", "http://h.test/c", False),
        ("http://h.test/c", None, False),
        # noindex page contributes nothing
        ("http://h.test/p/3", "http://h.test/c", True),
        # orphan group: target never crawled
        ("http://h.test/p/4", "http://h.test/gone", False),
    ]
    df = spark.createDataFrame(
        rows, "url string, canonical string, noindex boolean")
    got = {r["canonical_url"]: r for r in canonical_collapse(df).collect()}
    c = got["http://h.test/c"]
    assert c["n_pages"] == 3
    assert c["representative"] == "http://h.test/c"
    assert c["self_canonical"]
    gone = got["http://h.test/gone"]
    assert gone["n_pages"] == 1 and not gone["self_canonical"]


# ------------------------------------------------------------------ cdx

def test_cdx_index_surt_normalization(spark):
    rows = [
        ("http://News.Example.com:80/a/b?q=1#x", "2026-01-01 00:02:05", "bb"),
        ("https://example.com", "2026-01-01 00:00:00", "bb"),
        ("http://example.com?q=1", "2026-01-01 00:00:00", "cc"),
    ]
    df = (spark.createDataFrame(rows, "url string, ts string, html string")
          .select("url", F.to_timestamp("ts").alias("warc_ts"), "html"))
    got = {r["url"]: r for r in cdx_index(df).collect()}
    assert got["http://News.Example.com:80/a/b?q=1#x"]["surt"] == \
        "com,example,news)/a/b?q=1"
    assert got["http://News.Example.com:80/a/b?q=1#x"]["ts"] == \
        "20260101000205"
    assert got["https://example.com"]["surt"] == "com,example)/"
    assert got["http://example.com?q=1"]["surt"] == "com,example)/?q=1"
    # identical bodies -> identical digests; distinct -> distinct
    assert (got["http://News.Example.com:80/a/b?q=1#x"]["digest"]
            == got["https://example.com"]["digest"])
    assert (got["http://example.com?q=1"]["digest"]
            != got["https://example.com"]["digest"])
    assert got["https://example.com"]["nbytes"] == 2


def test_cdx_index_is_map_only(spark):
    df = (spark.range(8)
          .select(F.concat(F.lit("http://h.test/"),
                           F.col("id").cast("string")).alias("url"),
                  F.current_timestamp().alias("warc_ts"),
                  F.lit("b").alias("html")))
    plan = cdx_index(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# -------------------------------------------------------------- mixture

def _mix_inputs(spark):
    docs = spark.createDataFrame(
        [(0, "a b c", "web"), (1, "a b", "web"), (2, "x", "code"),
         (3, "y z", None), (4, None, "code"), (5, "", "empty")],
        "doc_id long, text string, source string")
    weights = spark.createDataFrame(
        [("web", 600), ("code", 300), ("phantom", 100)],
        "source string, weight_permille long")
    return docs, weights


def test_mixture_plan_targets_and_epochs(spark):
    docs, weights = _mix_inputs(spark)
    got = {r["domain"]: r for r in
           mixture_plan(docs, weights, 1000).collect()}
    # phantom dilutes the normalizer (sum=1000) but emits no row
    assert "phantom" not in got and len(got) == 4
    web = got["web"]
    assert web["avail_tokens"] == 5 and web["target_tokens"] == 600
    assert web["epochs_permille"] == 120000 and web["oversampled"]
    # NULL text contributes 0 tokens but counts as a doc
    code = got["code"]
    assert code["n_docs"] == 2 and code["avail_tokens"] == 1
    assert code["target_tokens"] == 300
    # weightless + NULL domains stay visible with target 0
    assert got["empty"]["target_tokens"] == 0
    assert got[None]["avail_tokens"] == 2
    assert got[None]["epochs_permille"] == 0


def test_mixture_plan_all_null_text_domain_has_zero_tokens(spark):
    docs = spark.createDataFrame(
        [(0, None, "nul"), (1, None, "nul"), (2, "a b", "web")],
        "doc_id long, text string, source string")
    weights = spark.createDataFrame([("nul", 500), ("web", 500)],
                                    "source string, weight_permille long")
    got = {r["domain"]: r for r in mixture_plan(docs, weights, 100).collect()}
    assert got["nul"]["n_docs"] == 2
    assert got["nul"]["avail_tokens"] == 0          # not NULL
    assert got["nul"]["epochs_permille"] == 0
    assert got["web"]["avail_tokens"] == 2


def test_mixture_plan_zero_avail_no_division_error(spark):
    docs = spark.createDataFrame([(0, "", "e")],
                                 "doc_id long, text string, source string")
    weights = spark.createDataFrame([("e", 1000)],
                                    "source string, weight_permille long")
    row = mixture_plan(docs, weights, 100).collect()[0]
    assert row["avail_tokens"] == 0 and row["epochs_permille"] == 0


def test_mixture_plan_broadcasts_weights(spark):
    docs, weights = _mix_inputs(spark)
    plan = (mixture_plan(docs, weights, 1000)
            ._jdf.queryExecution().executedPlan().toString())
    assert "SortMergeJoin" not in plan


# ------------------------------------------------------------- chunking

def test_chunk_documents_windows_and_tail(spark):
    from osmospark.functions.curation import chunk_documents
    docs = spark.createDataFrame(
        [(0, " ".join(f"t{i}" for i in range(23))),
         (1, "a b"), (2, ""), (3, None)],
        "doc_id long, text string")
    rows = (chunk_documents(docs, chunk_tokens=10, overlap_tokens=4)
            .orderBy("doc_id", "chunk_id").collect())
    d0 = [r for r in rows if r.doc_id == 0]
    # n=23, stride=6 -> n_chunks = 1 + ceil(13/6) = 4
    assert len(d0) == 4 and d0[0].n_chunks == 4
    assert d0[0].chunk_text.split() == [f"t{i}" for i in range(10)]
    assert d0[1].chunk_text.split() == [f"t{i}" for i in range(6, 16)]
    # the last window runs short; it is NOT re-anchored to the text end
    assert d0[3].chunk_text.split() == [f"t{i}" for i in range(18, 23)]
    assert d0[3].n_chunk_tokens == 5
    # short doc -> exactly one chunk
    d1 = [r for r in rows if r.doc_id == 1]
    assert len(d1) == 1 and d1[0].n_chunks == 1 and d1[0].chunk_text == "a b"
    # empty -> one empty chunk; NULL -> one NULL chunk (never dropped)
    d2 = [r for r in rows if r.doc_id == 2][0]
    assert d2.chunk_text == "" and d2.n_chunk_tokens == 0
    d3 = [r for r in rows if r.doc_id == 3][0]
    assert d3.chunk_text is None and d3.n_chunk_tokens == 0


def test_chunk_documents_map_only_and_validation(spark):
    import pytest as _pytest
    from osmospark.functions.curation import chunk_documents
    docs = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    plan = (chunk_documents(docs, 4, 1)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    with _pytest.raises(ValueError):
        chunk_documents(docs, 4, 4)
    with _pytest.raises(ValueError):
        chunk_documents(docs, 4, -1)


def test_chunk_documents_exact_boundary(spark):
    from osmospark.functions.curation import chunk_documents
    # n == chunk_tokens -> one chunk; n == chunk+1 -> two
    docs = spark.createDataFrame(
        [(0, " ".join("x" * 1 for _ in range(8))),
         (1, " ".join("x" for _ in range(9)))],
        "doc_id long, text string")
    rows = (chunk_documents(docs, chunk_tokens=8, overlap_tokens=2)
            .orderBy("doc_id", "chunk_id").collect())
    assert [r.n_chunks for r in rows if r.doc_id == 0] == [1]
    assert [r.n_chunks for r in rows if r.doc_id == 1] == [2, 2]


# ----------------------------------------------- frontier robots respect

def _robots_corpus(spark):
    H = "http://rb.test"
    def page(body):
        return f"<head>{body[0]}</head><body>{body[1]}</body>".encode()
    a = lambda href, rel="": f'<a{rel} href="{href}"></a>'
    rows = [
        (f"{H}/A", page(("", a("/B") + a("/C")
                         + a("/F", ' rel="nofollow"')))),
        (f"{H}/B", page(('<meta name="robots" content="nofollow">',
                         a("/D")))),
        (f"{H}/C", page(('<meta name="robots" content="noindex">',
                         a("/E")))),
        (f"{H}/D", page(("", "d"))),
        (f"{H}/E", page(("", "e"))),
        (f"{H}/F", page(("", "f"))),
    ]
    return spark.createDataFrame(
        [(u, None, h, "", "en") for u, h in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string")


def test_frontier_respects_meta_robots(spark):
    from osmospark.frontier import FrontierEngine
    pages = _robots_corpus(spark)
    eng = FrontierEngine(spark, pages, dedup=True, politeness=False)
    recs, _ = eng.run_crawl(["http://rb.test/A"], "a", extract_spec=None,
                            max_depth=3, respect_meta_robots=True)
    got = sorted(r.url.rsplit("/", 1)[1] for r in recs.collect())
    # B's meta-nofollow blocks D; A's rel=nofollow anchor blocks F;
    # C is visited (E proves its links expanded) but noindex drops its
    # record row
    assert got == ["A", "B", "E"]


def test_frontier_meta_robots_off_by_default(spark):
    from osmospark.frontier import FrontierEngine
    pages = _robots_corpus(spark)
    eng = FrontierEngine(spark, pages, dedup=True, politeness=False)
    recs, _ = eng.run_crawl(["http://rb.test/A"], "a", extract_spec=None,
                            max_depth=3)
    got = sorted(r.url.rsplit("/", 1)[1] for r in recs.collect())
    assert got == ["A", "B", "C", "D", "E", "F"]


# --------------------------------------- review regressions (r5 late pass)

def test_extract_metadata_case_insensitive_values():
    """HTML attribute VALUES for rel/name are ASCII case-insensitive and
    rel is a token list — '<META NAME="ROBOTS">' and
    rel="CANONICAL nofollow" must match (review finding: the selector
    engine's [attr=v] is correctly case-sensitive, so metadata matching
    walks elements and compares lowercased tokens instead)."""
    html = ('<head><META NAME="ROBOTS" CONTENT="NOINDEX, NOFOLLOW">'
            '<link rel="CANONICAL nofollow" href="/c"></head>')
    _, c, ni, nf, _ = extract_metadata("http://h.test/p", html)
    assert c == "http://h.test/c"
    assert ni and nf


def test_crawl_robots_uppercase_meta(spark):
    """Crawl-side respect_meta_robots shares the same case-insensitive
    grammar: an uppercase META NAME=ROBOTS nofollow must block links."""
    from osmospark.frontier import FrontierEngine
    H = "http://rbu.test"
    rows = [
        (f"{H}/A", ('<head><META NAME="ROBOTS" CONTENT="NOFOLLOW">'
                    '</head><body><a href="/B"></a></body>').encode()),
        (f"{H}/B", b"<body>b</body>"),
    ]
    pages = spark.createDataFrame(
        [(u, None, h, "", "en") for u, h in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    eng = FrontierEngine(spark, pages, dedup=True, politeness=False)
    recs, _ = eng.run_crawl([f"{H}/A"], "a", extract_spec=None,
                            max_depth=2, respect_meta_robots=True)
    assert [r.url for r in recs.collect()] == [f"{H}/A"]


def test_host_expr_matches_url_host_hostile_authorities(spark):
    """host_expr / HOST_SQL ≡ url_host on multi-'@' userinfo (strip to
    the LAST '@', like urlsplit().hostname's rpartition) and IPv6
    brackets (DuckDB regexp_replace needs the explicit 'g' option —
    without it the trailing bracket survives in the oracle)."""
    import duckdb
    from osmospark.urlnorm import HOST_SQL, host_expr, url_host
    urls = [
        "http://a@b@H.Test:8080/p",
        "http://[2001:DB8::1]:8080/x",
        "http://user:pw@Example.COM:443/q?a=1",
        "http://plain.test/",
    ]
    expected = [url_host(u) for u in urls]
    assert expected[0] == "h.test" and expected[1] == "2001:db8::1"
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [r.h for r in
           df.select(host_expr(F.col("url")).alias("h")).collect()]
    assert got == expected
    con = duckdb.connect()
    sql = HOST_SQL.format(u="url")
    duck = [con.sql(
        f"SELECT {sql} FROM (SELECT '{u}' AS url)").fetchone()[0]
        for u in urls]
    assert duck == expected


# ------------------------------------------------- url alias loop (engine)

def _alias_corpus(spark):
    H = "http://al.test"
    rows = [
        (f"{H}/A", f'<body><a href="/B"></a><a href="/D"></a></body>'.encode()),
        (f"{H}/B", b"<body>b</body>"),                 # aliased -> never fetched
        (f"{H}/C", f'<body><a href="/E"></a></body>'.encode()),  # canonical
        (f"{H}/D", b"<body>d</body>"),
        (f"{H}/E", b"<body>e</body>"),
    ]
    return spark.createDataFrame(
        [(u, None, h, "", "en") for u, h in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string")


def test_frontier_url_alias_collapses_to_canonical(spark):
    """rel=canonical loop closed: the alias table rewrites /B to /C at
    frontier entry, so B is never fetched, C is — and C's OWN links
    expand (E proves the canonical page's frontier role)."""
    from osmospark.frontier import FrontierEngine
    H = "http://al.test"
    alias = spark.createDataFrame([(f"{H}/B", f"{H}/C")],
                                  "url string, canonical_url string")
    eng = FrontierEngine(spark, _alias_corpus(spark), dedup=True,
                         politeness=False, url_alias_df=alias)
    recs, _ = eng.run_crawl([f"{H}/A"], "a", extract_spec=None, max_depth=3)
    got = sorted(r.url.rsplit("/", 1)[1] for r in recs.collect())
    assert got == ["A", "C", "D", "E"]
    # control: without the alias, B is fetched and E never discovered
    eng0 = FrontierEngine(spark, _alias_corpus(spark), dedup=True,
                          politeness=False)
    recs0, _ = eng0.run_crawl([f"{H}/A"], "a", extract_spec=None, max_depth=3)
    assert sorted(r.url.rsplit("/", 1)[1] for r in recs0.collect()) == \
        ["A", "B", "D"]


def test_frontier_url_alias_dedups_with_direct_link(spark):
    """An aliased link and a direct link to the canonical collapse onto
    ONE fetch (the whole point: aliases must not consume state/slots)."""
    from osmospark.frontier import FrontierEngine
    H = "http://al.test"
    pages = spark.createDataFrame(
        [(f"{H}/A", None,
          f'<body><a href="/B"></a><a href="/C"></a></body>'.encode(),
          "", "en"),
         (f"{H}/B", None, b"<body>b</body>", "", "en"),
         (f"{H}/C", None, b"<body>c</body>", "", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    alias = spark.createDataFrame([(f"{H}/B", f"{H}/C")],
                                  "url string, canonical_url string")
    eng = FrontierEngine(spark, pages, dedup=True, politeness=False,
                         url_alias_df=alias)
    recs, meta = eng.run_crawl([f"{H}/A"], "a", extract_spec=None,
                               max_depth=2)
    urls = sorted(r.url.rsplit("/", 1)[1] for r in recs.collect())
    assert urls == ["A", "C"]  # C fetched exactly once, B never


def test_frontier_url_alias_multi_target_never_fans_out(spark):
    """Malformed alias input (one url, two canonical rows) must not
    duplicate frontier rows: the map collapses to min(canonical_url)."""
    from osmospark.frontier import FrontierEngine
    H = "http://al.test"
    pages = spark.createDataFrame(
        [(f"{H}/A", None, f'<body><a href="/B"></a></body>'.encode(),
          "", "en"),
         (f"{H}/C1", None, b"<body>1</body>", "", "en"),
         (f"{H}/C2", None, b"<body>2</body>", "", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    alias = spark.createDataFrame(
        [(f"{H}/B", f"{H}/C2"), (f"{H}/B", f"{H}/C1")],
        "url string, canonical_url string")
    eng = FrontierEngine(spark, pages, dedup=True, politeness=False,
                         url_alias_df=alias)
    recs, _ = eng.run_crawl([f"{H}/A"], "a", extract_spec=None, max_depth=2)
    urls = sorted(r.url.rsplit("/", 1)[1] for r in recs.collect())
    assert urls == ["A", "C1"]  # deterministic min target, one row


def test_frontier_url_alias_hash_collision_is_inert(spark):
    """The alias join checks the URL, not only its 64-bit hash: a planted
    alias row keyed on a real frontier URL's xxhash64 but holding a
    different source URL neither rewrites nor duplicates that URL."""
    from osmospark.frontier import FrontierEngine
    from osmospark.urlnorm import xxhash64_py
    H = "http://al.test"
    pages = spark.createDataFrame(
        [(f"{H}/A", None, f'<body><a href="/B"></a></body>'.encode(),
          "", "en"),
         (f"{H}/B", None, b"<body>b</body>", "", "en"),
         (f"{H}/X", None, b"<body>x</body>", "", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    alias = spark.createDataFrame([(f"{H}/unrelated", f"{H}/X")],
                                  "url string, canonical_url string")
    eng = FrontierEngine(spark, pages, dedup=True, politeness=False,
                         url_alias_df=alias)
    eng._aliases = spark.createDataFrame(
        [(xxhash64_py(f"{H}/B".encode()), f"{H}/ghost", f"{H}/X")],
        "_akey long, url string, _canon string")
    recs, _ = eng.run_crawl([f"{H}/A"], "a", extract_spec=None,
                            max_depth=2)
    urls = sorted(r.url.rsplit("/", 1)[1] for r in recs.collect())
    assert urls == ["A", "B"]  # B fetched once, unchanged; X never


def test_meta_robots_space_separated_tokens(spark):
    """content="noindex nofollow" (space-separated, honoured by major
    crawlers) sets both flags, and under respect_meta_robots the page
    expands no links."""
    from osmospark.frontier import FrontierEngine
    from osmospark.functions.metadata import robots_flags
    assert robots_flags("noindex nofollow") == (True, True)
    assert robots_flags("NOINDEX ,\tnofollow") == (True, True)
    H = "http://rbs.test"
    rows = [
        (f"{H}/A", b'<body><a href="/B"></a></body>'),
        (f"{H}/B", (b'<head><meta name="robots" content="noindex nofollow">'
                    b'</head><body><a href="/C"></a></body>')),
        (f"{H}/C", b"<body>c</body>"),
    ]
    pages = spark.createDataFrame(
        [(u, None, h, "", "en") for u, h in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    eng = FrontierEngine(spark, pages, dedup=True, politeness=False)
    recs, meta = eng.run_crawl([f"{H}/A"], "a", extract_spec=None,
                               max_depth=3, respect_meta_robots=True)
    # B is visited (round 1 admits it) but noindex drops its record and
    # nofollow keeps C out of the frontier
    assert [r.url for r in recs.collect()] == [f"{H}/A"]
    assert [m["admitted"] for m in meta] == [1, 1]


@pytest.mark.parametrize("respect_meta_robots", [False, True])
def test_follow_selector_yielding_text_nodes_emits_no_conts(
        respect_meta_robots):
    """A follow selector that selects text nodes (``a/node()``) has no
    href to follow: the crawl kernel emits no cont rows for them — even
    when the text looks like a URL and its anchor is rel=nofollow, so
    the per-anchor nofollow check is never bypassed. The kernel runs on
    a pandas batch; no Spark session."""
    import pandas as pd
    from osmospark.extract import make_crawl_udf
    from osmospark.html import compile_selector
    from osmospark.html.parser import TextNode
    from osmospark.interpreter import build_document

    url = "http://txt.test/"
    html = (b'<html><body><a href="/x">http://txt.test/y</a>'
            b'<a rel="nofollow" href="/z">http://txt.test/w</a>'
            b'</body></html>')
    doc = build_document(html.decode(), url)
    nodes = compile_selector("a/node()").find(doc, relative=True)
    assert len(nodes) == 2 and all(isinstance(n, TextNode) for n in nodes)
    batch = pd.DataFrame({"url": [url], "url_hash": [1], "html": [html],
                          "depth": [0], "referer": [None],
                          "host": ["txt.test"]})
    udf = make_crawl_udf(None, "a/node()",
                         respect_meta_robots=respect_meta_robots)
    out = pd.concat(list(udf(iter([batch]))), ignore_index=True)
    assert "cont" not in set(out["row_kind"])
    assert out.loc[out["row_kind"] == "metric", "parsed"].tolist() == [1]


# -------------------------------------- property pins + full-loop compose

def test_chunk_documents_reconstruction_property(spark):
    """Coverage invariant over random sizes: dropping each later
    chunk's overlap prefix and concatenating reconstructs the original
    token sequence exactly — no token lost, none duplicated beyond the
    declared overlap. One Spark job for all cases."""
    import random
    from osmospark.functions.curation import chunk_documents
    rng = random.Random(42)
    cases = []
    params = [(10, 4), (8, 0), (16, 15), (5, 1)]
    for doc_id in range(40):
        n = rng.choice([0, 1, 2, 5, 9, 10, 11, 23, 64, 97, 200])
        cases.append((doc_id, " ".join(f"w{doc_id}_{i}" for i in range(n))))
    docs = spark.createDataFrame(cases, "doc_id long, text string")
    for chunk, overlap in params:
        stride = chunk - overlap
        rows = (chunk_documents(docs, chunk, overlap)
                .orderBy("doc_id", "chunk_id").collect())
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, []).append(r)
        for doc_id, text in cases:
            toks = text.split()
            chunks = by_doc[doc_id]
            assert len(chunks) == chunks[0].n_chunks
            rebuilt = []
            for i, r in enumerate(chunks):
                ct = r.chunk_text.split() if r.chunk_text else []
                assert len(ct) <= chunk
                # consecutive windows overlap by exactly `overlap`
                # tokens (the final window always runs longer than the
                # overlap by construction), so dropping each later
                # chunk's overlap prefix rebuilds the original
                rebuilt.extend(ct if i == 0 else ct[overlap:])
            assert rebuilt == toks, (doc_id, chunk, overlap)


def test_mixture_plan_budget_property(spark):
    """With every domain weighted, the summed targets never exceed the
    budget and undershoot only by integer-floor remainders (< one
    permille unit per domain)."""
    from osmospark.functions.curation import mixture_plan
    docs = spark.createDataFrame(
        [(i, "t " * (i + 1), f"s{i % 7}") for i in range(40)],
        "doc_id long, text string, source string")
    weights = spark.createDataFrame(
        [(f"s{k}", 100 + 37 * k) for k in range(7)],
        "source string, weight_permille long")
    budget = 999_983  # prime: exercises remainders
    rows = mixture_plan(docs, weights, budget).collect()
    total = sum(r.target_tokens for r in rows)
    assert total <= budget
    # floor division loses strictly less than one unit per domain
    assert budget - total < len(rows)


def test_metadata_alias_crawl_full_loop(spark):
    """The whole explicit-dedup tier composed: pages carry REAL
    rel=canonical links → page_metadata extracts them through the DOM
    kernel → the (url, canonical) rows feed FrontierEngine's
    url_alias_df → the crawl fetches canonicals, never aliases."""
    from osmospark.frontier import FrontierEngine
    from osmospark.functions.metadata import page_metadata
    H = "http://loop.test"
    rows = [
        (f"{H}/A", '<body><a href="/B?ref=x"></a></body>'),
        (f"{H}/B?ref=x",
         '<head><link rel="CANONICAL" href="/B"></head>'
         '<body><a href="/C"></a></body>'),
        (f"{H}/B", '<body><a href="/C"></a></body>'),
        (f"{H}/C", "<body>c</body>"),
    ]
    pages = spark.createDataFrame(
        [(u, None, h.encode(), "", "en") for u, h in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    meta = page_metadata(pages)
    alias = (meta.where(F.col("canonical").isNotNull())
             .select("url", F.col("canonical").alias("canonical_url")))
    eng = FrontierEngine(spark, pages, dedup=True, politeness=False,
                         url_alias_df=alias)
    recs, _ = eng.run_crawl([f"{H}/A"], "a", extract_spec=None,
                            max_depth=3)
    got = sorted(r.url for r in recs.collect())
    # the tracking-param variant is never fetched; its canonical is
    assert got == [f"{H}/A", f"{H}/B", f"{H}/C"]


def test_orphan_canonicals_feed(spark):
    """Orphan canonical targets (declared but never crawled) surface as
    seed candidates, ranked by alias count; crawled targets don't."""
    from osmospark.functions.metadata import (canonical_collapse,
                                              orphan_canonicals)
    rows = [
        ("http://h.test/p/1", "http://h.test/big", False),
        ("http://h.test/p/2", "http://h.test/big", False),
        ("http://h.test/p/3", "http://h.test/small", False),
        ("http://h.test/c", None, False),          # self-canonical
        ("http://h.test/p/4", "http://h.test/c", False),
    ]
    meta = spark.createDataFrame(
        rows, "url string, canonical string, noindex boolean")
    got = orphan_canonicals(canonical_collapse(meta)).collect()
    assert [(r.url, r.n_aliases) for r in got] == [
        ("http://h.test/big", 2), ("http://h.test/small", 1)]


def test_cdx_index_hostile_urls(spark):
    """cdx_index stays total on hostile rows: NULL url -> NULL surt
    (row kept), scheme-less url degrades to a ')'-prefixed path-only
    key, NULL html -> NULL digest/nbytes."""
    rows = [(None, "b"), ("example.com/x", "b"), ("http://h.test/", None)]
    df = (spark.createDataFrame(rows, "url string, html string")
          .withColumn("warc_ts", F.lit(None).cast("timestamp")))
    got = {r["url"]: r for r in
           cdx_index(df).collect()}
    assert len(got) == 3
    assert got[None]["surt"] is None
    assert got["example.com/x"]["surt"] == ")/"
    assert got["http://h.test/"]["digest"] is None
    assert got["http://h.test/"]["nbytes"] is None


# ------------------------------------------------ content-defined chunks

def test_cdc_chunks_edit_robustness_and_conservation(spark):
    """The CDC property: a 3-token mid-document insertion changes at
    most 2 chunk hashes (fixed windows would shift ALL downstream
    chunks); tokens are conserved and concatenation rebuilds the doc."""
    import random
    from osmospark.functions.curation import cdc_chunks
    rng = random.Random(7)
    words = [f"w{rng.randrange(10000)}" for _ in range(300)]
    base = " ".join(words)
    edited = " ".join(words[:150] + ["INSERTED", "TOKENS", "HERE"]
                      + words[150:])
    docs = spark.createDataFrame(
        [(0, base), (1, edited), (2, ""), (3, None)],
        "doc_id long, text string")
    rows = (cdc_chunks(docs, divisor=16)
            .orderBy("doc_id", "chunk_id").collect())
    h0 = [r.chunk_hash for r in rows if r.doc_id == 0]
    h1 = [r.chunk_hash for r in rows if r.doc_id == 1]
    assert len(set(h0) & set(h1)) >= len(h0) - 2
    assert sum(r.n_tokens for r in rows if r.doc_id == 0) == 300
    assert " ".join(r.chunk_text for r in rows if r.doc_id == 0) == base
    # §36: empty -> one empty chunk; NULL -> one NULL chunk
    d2 = [r for r in rows if r.doc_id == 2]
    d3 = [r for r in rows if r.doc_id == 3]
    assert len(d2) == 1 and d2[0].chunk_text == "" and d2[0].n_tokens == 0
    assert len(d3) == 1 and d3[0].chunk_text is None \
        and d3[0].chunk_hash is None


def test_cdc_chunks_single_exchange(spark):
    """Chunking a corpus costs ONE shuffle: the (doc, chunk) aggregation
    reuses the boundary window's doc_id partitioning."""
    from osmospark.functions.curation import cdc_chunks
    docs = spark.createDataFrame([(i, "a b c d e f g h") for i in range(4)],
                                 "doc_id long, text string")
    plan = (cdc_chunks(docs)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange") == 1

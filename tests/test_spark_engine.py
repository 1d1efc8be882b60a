"""Distributed engine tests: chain mode must equal the sync interpreter
(byte-identical records); crawl mode must dedup, respect depth, and stay
deterministic."""

import json

import pytest

from osmospark.corpus import FIXTURE_HOST, fixture_store, synth_corpus, pages_rows, seed_urls
from osmospark.frontier import FrontierEngine
from osmospark.interpreter import Runner
from osmospark.spec import O


def chain_nested_follow():
    # the §7.1 minimum end-to-end slice: test/set.js get_nested_follow shape
    return O.get(f"{FIXTURE_HOST}/set").set({
        "title": "title",
        "links": ["a@href"],
        "follow": O.follow("a").set({"title": "title"}),
        "follow_fail": O.follow("fake-selector").set({"title": "title"}),
        "get_fail": O.get("/notfound").set({"title": "title"}),
        "get_follow": O("/1").set({"title": "title"}).follow("a").set({"page": "title"}),
        "get_nested_follow": O.get("/1").set({
            "title": "title",
            "pages": O.follow("a").set({"page": "title"}),
        }),
    })


def sync_records(chain_factory):
    collected = []
    chain = chain_factory().data(collected.append)
    Runner(store=fixture_store()).run(chain)
    return collected


def test_chain_mode_matches_sync_interpreter(spark, fixture_pages_df):
    expected = sync_records(chain_nested_follow)
    engine = FrontierEngine(spark, fixture_pages_df)
    records = engine.run_chain(chain_nested_follow())
    got = [json.loads(r.value_json) for r in records.collect()]
    assert got == expected


def test_chain_mode_array_root(spark, fixture_pages_df):
    def factory():
        return O.get(f"{FIXTURE_HOST}/set").set([
            "a@href",
            O.find("a").set("name").set("href", "@href"),
            [[["a:first@href"]]],
        ])
    expected = sync_records(factory)
    engine = FrontierEngine(spark, fixture_pages_df)
    got = [json.loads(r.value_json)
           for r in engine.run_chain(factory()).collect()]
    assert got == expected


def test_chain_mode_paginate(spark, fixture_pages_df):
    def factory():
        return (O.get(f"{FIXTURE_HOST}/paginate")
                .paginate('a[rel="next"]', 3).set("page", "div"))
    expected = sync_records(factory)
    engine = FrontierEngine(spark, fixture_pages_df)
    got = [json.loads(r.value_json)
           for r in engine.run_chain(factory()).collect()]
    assert sorted(got, key=lambda d: d["page"]) == sorted(
        expected, key=lambda d: d["page"])


def test_crawl_mode_dedup_and_depth(spark):
    pages = synth_corpus(n_urls=60, n_hosts=4)
    pages_df = spark.createDataFrame(
        pages_rows(pages),
        "url string, warc_ts timestamp, html binary, text string, lang string")
    seeds = seed_urls(pages)
    engine = FrontierEngine(spark, pages_df, dedup=True, politeness=False)
    records, visits = engine.run_crawl(
        seeds, "li > a", extract_spec={"payload": "div"}, max_depth=2)
    rows = records.collect()
    # dedup: each visited URL extracted exactly once
    urls = [r.url for r in rows]
    assert len(urls) == len(set(urls))
    assert all(r.depth <= 2 for r in rows)
    # every record extracted its payload
    assert all(json.loads(r.value_json)["payload"] for r in rows)
    # determinism: rerun yields the identical visit set
    engine2 = FrontierEngine(spark, pages_df, dedup=True, politeness=False)
    records2, _ = engine2.run_crawl(
        seeds, "li > a", extract_spec={"payload": "div"}, max_depth=2)
    assert sorted(urls) == sorted(r.url for r in records2.collect())


def test_extract_stage_width_follows_round_size(spark, fixture_pages_df,
                                                monkeypatch):
    """A round that admits n URLs runs its extraction UDF in
    min(P, ceil(n / EXTRACT_PAGES_PER_TASK)) tasks, not one task per
    corpus partition: here P = 4 and every round admits fewer than 200
    URLs, in crawl mode and in chain mode."""
    from osmospark.frontier import engine as eng_mod

    widths = []
    real = eng_mod._checkpoint_truncated

    def spy(df):
        if "row_kind" in df.columns:       # the round's extract output
            widths.append(df.rdd.getNumPartitions())
        return real(df)

    monkeypatch.setattr(eng_mod, "_checkpoint_truncated", spy)
    pages = synth_corpus(n_urls=40, n_hosts=2)
    pages_df = spark.createDataFrame(
        pages_rows(pages),
        "url string, warc_ts timestamp, html binary, text string, lang string"
    ).repartition(4)
    FrontierEngine(spark, pages_df, dedup=True).run_crawl(
        seed_urls(pages), "li > a", max_depth=1)
    n_crawl = len(widths)
    FrontierEngine(spark, fixture_pages_df.repartition(4)).run_chain(
        chain_nested_follow()).collect()
    assert n_crawl == 2 and len(widths) > n_crawl
    assert widths == [1] * len(widths)

    # large rounds keep the joined frame's width
    wide = spark.range(8).repartition(8)
    assert eng_mod._extract_width(wide, 450).rdd.getNumPartitions() == 3
    assert eng_mod._extract_width(wide, 5000).rdd.getNumPartitions() == 8


def test_dedup_window_winner_order(spark):
    """The within-round winner (_dedup_round) keeps, per url, the
    highest-priority row by the admission order — depth DESC, then
    sort_index ASC NULLS LAST, then referer ASC NULLS FIRST — on a
    hand-built frontier with duplicate urls, null sort_index/referer and
    depth conflicts."""
    pages_df = spark.createDataFrame(
        [("http://h/", None, b"", "", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    rows = [
        # same url: depth DESC wins
        {"url": "http://h/a", "depth": 1, "sort_index": 5, "referer": "r1"},
        {"url": "http://h/a", "depth": 2, "sort_index": 9, "referer": "r2"},
        # same url+depth: sort_index ASC nulls last
        {"url": "http://h/b", "depth": 1, "sort_index": None, "referer": "x"},
        {"url": "http://h/b", "depth": 1, "sort_index": 3, "referer": "y"},
        # same url+depth+sort: referer ASC nulls first
        {"url": "http://h/c", "depth": 0, "sort_index": 1, "referer": "zz"},
        {"url": "http://h/c", "depth": 0, "sort_index": 1, "referer": None},
    ]
    base = [dict(url_hash=hash(r["url"]) % (2**31), host="h",
                 method="get", params_json=None, resume_index=None,
                 chain_idx=None, kind="crawl", count=None,
                 parent_record_id=None, index_key=None, is_array=None,
                 partial_json=None, origin_id=None, origin_sort_index=None,
                 root_id=None, **r) for r in rows]
    from osmospark.frontier.engine import FRONTIER_SCHEMA
    fr = spark.createDataFrame(base, FRONTIER_SCHEMA)
    eng = FrontierEngine(spark, pages_df, dedup=True)
    picked = [(r.url, r.depth, r.sort_index, r.referer)
              for r in eng._dedup_round(fr).collect()]
    by_url = {u: (d, s, ref) for u, d, s, ref in picked}
    assert len(picked) == len(by_url) == 3
    assert by_url["http://h/a"] == (2, 9, "r2")
    assert by_url["http://h/b"] == (1, 3, "y")
    assert by_url["http://h/c"] == (0, 1, None)


def test_crawl_mode_politeness_defers(spark):
    pages = synth_corpus(n_urls=40, n_hosts=2)
    pages_df = spark.createDataFrame(
        pages_rows(pages),
        "url string, warc_ts timestamp, html binary, text string, lang string")
    seeds = seed_urls(pages)
    engine = FrontierEngine(spark, pages_df, dedup=True, politeness=True,
                            concurrency=2)
    records, visits = engine.run_crawl(
        seeds, "li > a", extract_spec={"payload": "div"},
        max_depth=2, max_rounds=12)
    # no round admits more than concurrency × hosts
    assert all(v["admitted"] <= 2 * 2 for v in visits)
    assert records.count() > 0


def _pages_with_post(spark):
    from osmospark.corpus import fixture_pages, pages_rows, post_pages_rows
    rows = pages_rows(fixture_pages(), with_text=False) \
        + post_pages_rows(fixture_store())
    return spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")


def test_chain_mode_paginate_form_post(spark):
    """Distributed POST: form pagination joins the corpus on
    post_fetch_key (url + sorted params) — SURVEY §2.8."""
    def factory():
        return (O.get(f"{FIXTURE_HOST}/paginate")
                .paginate("form", 3).set("page", "div"))
    collected = []
    Runner(store=fixture_store()).run(factory().data(collected.append))
    engine = FrontierEngine(spark, _pages_with_post(spark))
    got = [json.loads(r.value_json)
           for r in engine.run_chain(factory()).collect()]
    assert sorted(got, key=lambda d: d["page"]) == sorted(
        collected, key=lambda d: d["page"]) and len(got) == 4


def test_chain_mode_submit_post(spark):
    """Distributed submit: POST target resolved via params-keyed corpus
    row; echo page extracted into the record."""
    def factory():
        return (O.get(f"{FIXTURE_HOST}/submit-form")
                .submit("form").set({"data": "#data"}))
    collected = []
    Runner(store=fixture_store()).run(factory().data(collected.append))
    engine = FrontierEngine(spark, _pages_with_post(spark))
    got = [json.loads(r.value_json)
           for r in engine.run_chain(factory()).collect()]
    assert got == collected and len(got) == 1


def test_crawl_error_taxonomy_in_metrics(spark):
    """Planted bad pages surface distinct fetch-error codes in the round
    metrics (reference lib/Request.js:30-68 taxonomy: 404 miss, empty
    data, unparseable/no-root), without killing the round."""
    import datetime as dt
    ts = dt.datetime(2024, 1, 1)
    host = "http://taxo.test"
    index = (b'<body><a href="/empty"></a><a href="/noroot"></a>'
             b'<a href="/missing"></a><a href="/ok"></a></body>')
    rows = [
        (f"{host}/", ts, index, None, "en"),
        (f"{host}/empty", ts, b"", None, "en"),
        (f"{host}/noroot", ts, b"<!-- only a comment -->", None, "en"),
        (f"{host}/ok", ts, b"<body><div>fine</div></body>", None, "en"),
    ]
    pages_df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, "
        "lang string")
    engine = FrontierEngine(spark, pages_df, dedup=True)
    records, _ = engine.run_crawl(
        [f"{host}/"], "a", extract_spec={"payload": "div"}, max_depth=1)
    errs = sum(m.errors for m in engine.metrics.collect())
    assert errs == 3  # empty + noroot + missing
    # the good page still extracted
    ok = [r for r in records.collect() if r.url.endswith("/ok")]
    assert len(ok) == 1 and json.loads(ok[0].value_json)["payload"] == "fine"


def test_crawl_process_response_hook_distributed(spark):
    """process_response transforms the bytes BEFORE parsing inside the
    crawl UDF (reference lib/Request.js:88-100), distributed."""
    import datetime as dt
    ts = dt.datetime(2024, 1, 1)
    rows = [("http://pr.test/", ts, b"<body><b>hi</b></body>", None, "en")]
    pages_df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, "
        "lang string")
    engine = FrontierEngine(spark, pages_df)

    def swap(d):
        s = d.decode("utf-8") if isinstance(d, (bytes, bytearray)) else d
        return s.replace("b>", "i>")

    records, _ = engine.run_crawl(
        ["http://pr.test/"], "a", extract_spec={"val": "i"}, max_depth=0,
        process_response=swap)
    got = [json.loads(r.value_json)["val"] for r in records.collect()]
    assert got == ["hi"]


def test_crawl_process_response_sees_real_status_and_type(spark):
    """Crawl-mode process_response hooks receive the page's REAL
    status / content-type from the pages table (parity with the chain
    path's process_page_row — previously hardcoded 200/text/html)."""
    import datetime as dt
    ts = dt.datetime(2024, 1, 1)
    rows = [
        ("http://meta.test/a", ts, b"<body><b>x</b></body>", None, "en",
         200, "text/html"),
        ("http://meta.test/b", ts, b"<body><b>y</b></body>", None, "en",
         503, "application/xml"),
    ]
    pages_df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, "
        "lang string, status int, content_type string")
    engine = FrontierEngine(spark, pages_df)

    def stamp(d, res):
        ct = res.headers.get("content-type")
        return f"<body><i>{res.statusCode}|{ct}</i></body>"

    records, _ = engine.run_crawl(
        ["http://meta.test/a", "http://meta.test/b"], "a",
        extract_spec={"val": "i"}, max_depth=0, process_response=stamp)
    got = sorted(json.loads(r.value_json)["val"] for r in records.collect())
    assert got == ["200|text/html", "503|application/xml"]


def test_crawl_hook_receives_str_distributed(spark):
    """The SAME process_response hook a user wrote for the chain path
    (str in, str out, no defensive decode) must work inside the crawl
    UDF: html bytes are decoded BEFORE the hook in both modes.
    (Local def → cloudpickle by value; test modules aren't importable
    on executors.)"""
    import datetime as dt

    def str_hook(d):
        return d.replace("b>", "i>")

    ts = dt.datetime(2024, 1, 1)
    rows = [("http://prs.test/", ts, b"<body><b>hi</b></body>", None, "en")]
    pages_df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, "
        "lang string")
    engine = FrontierEngine(spark, pages_df)
    records, _ = engine.run_crawl(
        ["http://prs.test/"], "a", extract_spec={"val": "i"}, max_depth=0,
        process_response=str_hook)
    got = [json.loads(r.value_json)["val"] for r in records.collect()]
    assert got == ["hi"]


def chain_keep_data():
    def size_cb(ctx):
        return ctx.doc().response["size"]["body"]

    def data_cb(ctx):
        return ctx.doc().response.get("data")

    return (O.get(f"{FIXTURE_HOST}/2")
            .config("keep_data", True)
            .set({"size": size_cb, "data": data_cb}))


def test_crawl_keep_data_and_size_parity(spark, fixture_pages_df):
    """response.size.body and keep_data must be identical between the
    sync interpreter and the distributed chain path (reference
    lib/Request.js:81-83,110-117) — previously crawl-mode docs carried
    neither."""
    expected = sync_records(chain_keep_data)
    engine = FrontierEngine(spark, fixture_pages_df)
    got = [json.loads(r.value_json)
           for r in engine.run_chain(chain_keep_data()).collect()]
    assert got == expected
    assert expected[0]["data"] == \
        "<head><title>2</title></head><body></body>"
    assert expected[0]["size"] == len(expected[0]["data"])


def test_engine_pause_at_round_boundary(spark, tmp_path):
    """engine.pause() from on_round_end stops after the committed round;
    resuming from that round completes the same visit set as one-shot
    (the distributed chain-level .pause()/.resume() surface)."""
    from osmospark.corpus import synth_corpus_df, synth_seed_urls
    from osmospark.tableio import TableIO

    pages = synth_corpus_df(spark, 300, 3, weight=1).cache()
    pages.count()
    seeds = synth_seed_urls(3)
    io = TableIO(str(tmp_path / "s"), spark)
    eng = FrontierEngine(spark, pages, state=io, dedup=True)
    eng.on_round_end = lambda meta: eng.pause() if meta["round"] >= 1 else None
    rec1, v1 = eng.run_crawl(seeds, "li > a", extract_spec=None, max_depth=5)
    assert len(v1) == 2  # paused after round 1

    io2 = TableIO(str(tmp_path / "s"), spark)
    last = io2.last_round("frontier")
    eng2 = FrontierEngine(spark, pages, state=io2, dedup=True)
    rec2, _ = eng2.run_crawl(
        [], "li > a", extract_spec=None, max_depth=5,
        resume_frontier=io2.read_round("frontier", last),
        start_round=last + 1)
    one_shot = FrontierEngine(spark, pages, dedup=True)
    rec3, _ = one_shot.run_crawl(seeds, "li > a", extract_spec=None,
                                 max_depth=5)
    assert {r.url for r in rec2.select("url").collect()} == \
        {r.url for r in rec3.select("url").collect()}


# ----------------------------------------------------------------------
# distributed redirect resolution (frontier/redirects.py)
# ----------------------------------------------------------------------

_REDIR_SCHEMA = ("url string, warc_ts timestamp, html binary, text string, "
                 "lang string, page_status int, redirect_to string")


def _redirect_pages_df(spark):
    """Tiny corpus exercising every redirect shape from reference
    test/get.js:85-106/181-224: single hop (relative + absolute target),
    two sources -> one target, a 6-hop chain (over the follow=5 limit),
    a 5-hop chain (exactly at it), and a 2-cycle loop."""
    h = "http://a.local"

    def page(url, html, status=200, redirect_to=None):
        return (url, None, html.encode(), "", "en", status, redirect_to)

    rows = [
        page(f"{h}/start",
             '<a href="/r/one"></a><a href="/r/two"></a>'
             '<a href="/hop/0"></a><a href="/hop/1"></a>'
             '<a href="/loop/a"></a><a href="/d/2"></a>'),
        page(f"{h}/d/1", "<div>d1</div>"),
        page(f"{h}/d/2", "<div>d2</div>"),
        page(f"{h}/d/3", "<div>d3</div>"),
        page(f"{h}/r/one", "", 301, "/d/1"),
        page(f"{h}/r/two", "", 302, f"{h}/d/2"),
        page(f"{h}/loop/a", "", 301, "/loop/b"),
        page(f"{h}/loop/b", "", 301, "/loop/a"),
    ]
    for i in range(5):
        rows.append(page(f"{h}/hop/{i}", "", 301, f"/hop/{i + 1}"))
    rows.append(page(f"{h}/hop/5", "", 301, "/d/3"))
    return spark.createDataFrame(rows, _REDIR_SCHEMA)


def test_redirect_closure_hops_and_outcomes(spark):
    from osmospark.frontier.redirects import redirect_closure
    got = {r.url: r for r in redirect_closure(
        _redirect_pages_df(spark), max_hops=5).collect()}
    h = "http://a.local"
    assert got[f"{h}/r/one"].final_url == f"{h}/d/1"      # relative target
    assert got[f"{h}/r/one"].hops == 1 and got[f"{h}/r/one"].ok
    assert got[f"{h}/r/two"].final_url == f"{h}/d/2"      # absolute target
    # /hop/1 -> 2 -> 3 -> 4 -> 5 -> /d/3: exactly 5 hops, at the limit: ok
    assert got[f"{h}/hop/1"].final_url == f"{h}/d/3"
    assert got[f"{h}/hop/1"].hops == 5 and got[f"{h}/hop/1"].ok
    # /hop/0 needs 6 hops: max-redirects failure (reference needle error)
    assert not got[f"{h}/hop/0"].ok
    # loop: never terminates, capped at 5 hops, failure
    assert not got[f"{h}/loop/a"].ok and got[f"{h}/loop/a"].hops == 5
    assert got[f"{h}/hop/1"].final_host == "a.local"


def test_crawl_follows_redirects_with_final_url_dedup(spark):
    """Crawl-mode redirect semantics: frontier urls resolve to final
    targets pre-admission; /d/2 reached BOTH directly and via /r/two is
    fetched once; over-limit chains and loops drop with error metrics."""
    h = "http://a.local"
    engine = FrontierEngine(spark, _redirect_pages_df(spark), dedup=True,
                            politeness=False)
    records, _ = engine.run_crawl(
        [f"{h}/start"], "a", extract_spec={"payload": "div"}, max_depth=1)
    urls = sorted(r.url for r in records.collect())
    # visited: start + d/1 (via r/one), d/2 (once: direct + via r/two
    # collapse on the final url), d/3 (via hop/1's 5-hop chain);
    # hop/0 and loop/a dropped as max-redirects errors
    assert urls == [f"{h}/d/1", f"{h}/d/2", f"{h}/d/3", f"{h}/start"]
    errs = {(m.round, m.host): m.errors
            for m in engine.metrics.collect()}
    assert errs[(1, "a.local")] == 2  # hop/0 + loop/a


def test_crawl_redirects_off_flag(spark):
    """Without a redirect_to column there is no redirect stage: redirect
    sources join as ordinary pages (whose empty bodies then fail
    extraction, the reference's empty-body error), so redirect TARGETS are
    never reached."""
    h = "http://a.local"
    engine = FrontierEngine(spark,
                            _redirect_pages_df(spark).drop("redirect_to"),
                            dedup=True, politeness=False)
    records, _ = engine.run_crawl(
        [f"{h}/start"], "a", extract_spec=None, max_depth=1)
    urls = {r.url for r in records.collect()}
    # d/1 and d/3 are only reachable THROUGH redirects; d/2 is linked
    # directly from /start
    assert f"{h}/d/1" not in urls and f"{h}/d/3" not in urls
    assert f"{h}/d/2" in urls

"""State-layer tests: Bloom math, politeness/robots, TableIO atomic
commits + resume, URL canonicalization."""

import numpy as np
import pytest

from osmospark.frontier import bloom
from osmospark.frontier.politeness import host_slots, is_allowed, parse_robots
from osmospark.urlnorm import canonicalize, resolve, xxhash64_py


def test_bloom_no_false_negatives_and_low_fpr():
    m = bloom.sizing(10_000)
    bs = bloom.empty_bitset(m)
    keys = np.array([xxhash64_py(f"u{i}".encode()) for i in range(10_000)],
                    dtype=np.int64)
    bloom.add(bs, keys)
    assert bloom.contains(bs, keys).all()          # zero false negatives
    probe = np.array([xxhash64_py(f"x{i}".encode()) for i in range(10_000)],
                     dtype=np.int64)
    fpr = bloom.contains(bs, probe).mean()
    assert fpr < 0.05, fpr


def test_bloom_union_is_or():
    m = bloom.sizing(100)
    a, b = bloom.empty_bitset(m), bloom.empty_bitset(m)
    ka = np.array([1, 2, 3], dtype=np.int64)
    kb = np.array([4, 5], dtype=np.int64)
    bloom.add(a, ka)
    bloom.add(b, kb)
    u = bloom.union(a, b)
    assert bloom.contains(u, ka).all() and bloom.contains(u, kb).all()


def test_robots_parse_and_match():
    rules = parse_robots("""
        User-agent: *
        Disallow: /private/
        Allow: /private/ok
        Crawl-delay: 2
        User-agent: evilbot
        Disallow: /
    """)
    assert rules["crawl_delay"] == 2.0
    assert not is_allowed("/private/x", rules)
    assert is_allowed("/private/ok/page", rules)
    assert is_allowed("/public", rules)


def test_host_slots():
    assert host_slots(None, concurrency=5) == 5
    assert host_slots(10.0, concurrency=5, round_seconds=60) == 6
    assert host_slots(120.0, concurrency=5, round_seconds=60) == 1


def test_canonicalize():
    assert canonicalize("HTTP://Example.COM:80/a/b?z=1&a=2#frag") == \
        "http://example.com/a/b?a=2&z=1"
    assert canonicalize("https://x.io:443/") == "https://x.io/"
    assert canonicalize("https://x.io:8443/p") == "https://x.io:8443/p"
    # %20 preserved, literal space encoded — both reach the same canonical
    assert canonicalize("http://h/a%20b") == canonicalize("http://h/a b")


def test_canonicalize_total_and_idempotent_on_hostile_urls():
    """canonicalize runs inside Arrow UDFs over crawled links: hostile
    authorities (non-numeric/out-of-range ports, IPv6 brackets — all of
    which make urlsplit/.hostname/.port RAISE) must degrade without
    killing the task, never collapse onto a DIFFERENT valid URL, and be
    stable under re-canonicalization (redirect targets and seeds pass
    through twice). r5 edge-probe finding: IPv6 output lost its
    brackets and the second pass raised ValueError."""
    from osmospark.urlnorm import url_host

    # IPv6 keeps brackets; round-trips to itself; host matches url_host
    u = canonicalize("http://[::1]:8080/x?b=2&a=1#f")
    assert u == "http://[::1]:8080/x?a=1&b=2"
    assert canonicalize(u) == u
    assert url_host(u) == "::1"
    assert canonicalize("HTTP://[2001:DB8::1]:80/p") == "http://[2001:db8::1]/p"

    hostile = ["http://h:bad/x", "http://h:99999999/x", "http://[::1/x",
               "http://]::1[/x", "http://user:pw@h:bad/x"]
    for h in hostile:
        c = canonicalize(h)          # must not raise
        assert canonicalize(c) == c  # idempotent
        assert url_host(h) in ("", "h")  # must not raise
    # a bad port must NOT collapse onto the portless (valid) URL
    assert canonicalize("http://h:bad/x") != canonicalize("http://h/x")
    # resolve survives the unjoinable IPv6 fragment verbatim
    assert resolve("http://base.test/a/", "http://[::1/x") == "http://[::1/x"


def test_resolve_scheme_defaults():
    # reference lib/Command.js:332-338
    assert resolve(None, "//x.com/a") == "http://x.com/a"
    assert resolve(None, "x.com/a") == "http://x.com/a"
    assert resolve("http://h/base/page", "/abs") == "http://h/abs"
    assert resolve("http://h/base/", "rel") == "http://h/base/rel"


def test_tableio_atomic_commit_and_resume(spark, tmp_path):
    from osmospark.tableio import TableIO
    io = TableIO(str(tmp_path), spark)
    df0 = spark.range(5).withColumnRenamed("id", "url_hash")
    io.commit_round("frontier", 0, df0, meta={"size": 5})
    df1 = spark.range(5, 8).withColumnRenamed("id", "url_hash")
    io.commit_round("frontier", 1, df1)
    assert io.last_round("frontier") == 1
    assert io.read_round("frontier", 1).count() == 3
    assert io.read_all("frontier").count() == 8
    # a reader bounded by another table's commit point skips later rounds
    assert io.read_all("frontier", max_round=0).count() == 5
    assert io.read_all("frontier", max_round=-1) is None
    # resume view: a fresh TableIO over the same dir sees committed state
    io2 = TableIO(str(tmp_path), spark)
    assert io2.last_round("frontier") == 1


def test_tableio_iceberg_flag_validated(spark, tmp_path):
    """use_iceberg=True is a real branch, not a dead flag: with no
    Iceberg catalog configured it refuses at construction; with an
    explicitly-named configured catalog it selects the iceberg backend."""
    from osmospark.tableio import TableIO, detect_iceberg_catalog
    with pytest.raises(ValueError, match="no spark.sql.catalog"):
        TableIO(str(tmp_path), spark, use_iceberg=True)
    with pytest.raises(ValueError, match="not configured"):
        TableIO(str(tmp_path), spark, use_iceberg=True, catalog="nope")
    assert detect_iceberg_catalog(spark) is None  # sandbox has no jar
    spark.conf.set("spark.sql.catalog.demo",
                   "org.apache.iceberg.spark.SparkCatalog")
    try:
        io = TableIO(str(tmp_path), spark, use_iceberg=True, catalog="demo")
        assert io.catalog == "demo" and io.use_iceberg
        assert io._qualified("seen") == "demo.osmospark.seen"
        # no manifest + unreachable catalog (no jar) → empty bookkeeping,
        # not a crash
        assert io.last_round("seen") == -1
    finally:
        spark.conf.unset("spark.sql.catalog.demo")


@pytest.mark.skipif(
    True, reason="Iceberg runtime jar not available in this sandbox; "
    "the write path (create / overwritePartitions snapshot per round) "
    "runs only where spark.sql.catalog.* resolves to a loadable "
    "SparkCatalog")
def test_tableio_iceberg_round_trip(spark, tmp_path):  # pragma: no cover
    from osmospark.tableio import TableIO, detect_iceberg_catalog
    cat = detect_iceberg_catalog(spark)
    io = TableIO(str(tmp_path), spark, use_iceberg=True, catalog=cat)
    df0 = spark.range(5).withColumnRenamed("id", "url_hash")
    io.commit_round("frontier", 0, df0)
    io.commit_round("frontier", 1, df0)
    io.commit_round("frontier", 1, df0)   # idempotent re-commit
    assert io.last_round("frontier") == 1
    assert io.read_round("frontier", 1).count() == 5
    assert io.read_all("frontier").count() == 10


def test_crawl_resume_from_state(spark, tmp_path):
    """A crawl with a state dir can be resumed: records persist per round
    and read_all returns the union."""
    from osmospark.corpus import pages_rows, seed_urls, synth_corpus
    from osmospark.frontier import FrontierEngine
    from osmospark.tableio import TableIO

    pages = synth_corpus(n_urls=30, n_hosts=2)
    pages_df = spark.createDataFrame(
        pages_rows(pages),
        "url string, warc_ts timestamp, html binary, text string, lang string")
    io = TableIO(str(tmp_path / "state"), spark)
    engine = FrontierEngine(spark, pages_df, state=io, dedup=True)
    records, visits = engine.run_crawl(
        seed_urls(pages), "li > a", extract_spec={"p": "div"}, max_depth=3)
    n = records.count()
    assert n > 0
    assert io.last_round("records") == len(visits) - 1
    # a fresh session-equivalent reader reconstructs the same records
    io2 = TableIO(str(tmp_path / "state"), spark)
    again = io2.read_all("records")
    assert again.count() == n


_CRASH_PHASE1 = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from osmospark.corpus import synth_corpus_df, synth_seed_urls
from osmospark.frontier import FrontierEngine
from osmospark.tableio import TableIO
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
pages = synth_corpus_df(spark, 800, 6, weight=1).cache()
pages.count()
io = TableIO({state!r}, spark)
eng = FrontierEngine(spark, pages, state=io, dedup=True, politeness=True,
                     seen_mode={seen_mode!r})
eng.run_crawl(synth_seed_urls(6), "li > a",
              extract_spec={{"payload": "div"}}, max_depth=6, max_rounds=2)
# hard stop: every executor-resident structure (localCheckpoint blocks,
# cached frames, broadcast vars) dies with this JVM — only the committed
# state tables survive
spark.stop()
print("PHASE1_OK")
"""


@pytest.mark.parametrize("seen_mode", ["auto", "cuckoo"])
def test_crawl_survives_total_executor_state_loss(spark, tmp_path,
                                                 seen_mode):
    """Lost-executor recovery (north rule: resumable from checkpoint):
    phase 1 crawls 2 rounds in a SEPARATE process and kills its JVM —
    losing all localCheckpoint blocks, the structures Spark neither
    replicates nor recomputes. A fresh session must resume purely from
    the committed seen/frontier tables and finish with EXACTLY the
    one-shot visit set (no lost pages, no re-visits), under both seen
    backends."""
    import os
    import subprocess
    import sys

    from osmospark.corpus import synth_corpus_df, synth_seed_urls
    from osmospark.frontier import FrontierEngine
    from osmospark.tableio import TableIO

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    state = str(tmp_path / "s")
    script = _CRASH_PHASE1.format(repo=repo, state=state,
                                  seen_mode=seen_mode)
    proc = subprocess.run([sys.executable, "-c", script],
                          capture_output=True, text=True, timeout=600)
    assert "PHASE1_OK" in proc.stdout, proc.stderr[-2000:]

    pages = synth_corpus_df(spark, 800, 6, weight=1).cache()
    pages.count()
    spec = {"payload": "div"}

    io2 = TableIO(state, spark)
    last = io2.last_round("frontier")
    assert last >= 0
    eng2 = FrontierEngine(spark, pages, state=io2, dedup=True,
                          politeness=True, seen_mode=seen_mode)
    rec2, _ = eng2.run_crawl(
        [], "li > a", extract_spec=spec, max_depth=6, max_rounds=2,
        resume_frontier=io2.read_round("frontier", last),
        start_round=last + 1)

    eng3 = FrontierEngine(spark, pages, dedup=True, politeness=True,
                          seen_mode=seen_mode)
    rec3, _ = eng3.run_crawl(synth_seed_urls(6), "li > a",
                             extract_spec=spec, max_depth=6, max_rounds=4)
    resumed = {r.url for r in rec2.select("url").collect()}
    one_shot = {r.url for r in rec3.select("url").collect()}
    assert resumed == one_shot


def test_metrics_commit_to_state_table_not_driver(spark, tmp_path):
    """With a TableIO attached, per-host crawl metrics are committed to
    the 'metrics' state table and ``engine.metrics`` reads that table —
    no per-host rows ever sit on the driver (10^6+ hosts). Stateless
    runs expose the same-shaped lazy aggregate."""
    from osmospark.corpus import pages_rows, seed_urls, synth_corpus
    from osmospark.frontier import FrontierEngine
    from osmospark.tableio import TableIO

    pages = synth_corpus(n_urls=30, n_hosts=2)
    pages_df = spark.createDataFrame(
        pages_rows(pages),
        "url string, warc_ts timestamp, html binary, text string, lang string")
    io = TableIO(str(tmp_path / "state"), spark)
    eng = FrontierEngine(spark, pages_df, state=io, dedup=True)
    eng.run_crawl(seed_urls(pages), "li > a",
                  extract_spec={"p": "div"}, max_depth=3)
    m = eng.metrics
    # the metrics frame is a scan of the committed table, not rows the
    # driver collected and re-parallelized
    plan = m._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" not in plan
    assert sorted(m.inputFiles()) == sorted(io.read_all("metrics")
                                           .inputFiles())
    fetched = sum(r.fetched for r in m.collect())
    assert fetched > 0
    assert {c for c in m.columns} == {"round", "host", "fetched",
                                      "parsed", "errors"}

    eng2 = FrontierEngine(spark, pages_df, dedup=True)
    eng2.run_crawl(seed_urls(pages), "li > a",
                   extract_spec={"p": "div"}, max_depth=3)
    assert set(eng2.metrics.columns) == set(m.columns)
    assert sum(r.fetched for r in eng2.metrics.collect()) == fetched


def test_seen_part_compaction_bounds_parts_and_preserves_visits(spark):
    """auto mode: per-round seen parts compact every K rounds so deep
    crawls never accumulate one union leaf per round."""
    from osmospark.corpus import synth_corpus_df, synth_seed_urls
    from osmospark.frontier import FrontierEngine

    pages = synth_corpus_df(spark, 200, 3, weight=1).cache()
    pages.count()
    seeds = synth_seed_urls(3)
    e1 = FrontierEngine(spark, pages, dedup=True)
    e1.seen_compact_parts = 2
    rec1, v1 = e1.run_crawl(seeds, "li > a", extract_spec=None, max_depth=6)
    assert len(e1._seen_parts) <= 2
    e2 = FrontierEngine(spark, pages, dedup=True)  # default: no compaction
    rec2, v2 = e2.run_crawl(seeds, "li > a", extract_spec=None, max_depth=6)
    assert {r.url for r in rec1.select("url").collect()} == \
        {r.url for r in rec2.select("url").collect()}
    assert len(v1) == len(v2)


_RESUME_SPEC = {"payload": "div"}


@pytest.fixture(scope="module")
def one_shot_crawl(spark):
    """Pages, seeds and the uninterrupted 5-round crawl's sorted record
    urls per seen backend — computed once per backend, shared by every
    stop point of the resume test."""
    from osmospark.corpus import synth_corpus_df, synth_seed_urls
    from osmospark.frontier import FrontierEngine

    pages = synth_corpus_df(spark, 300, 4, weight=1).cache()
    pages.count()
    seeds = synth_seed_urls(4)
    runs = {}

    def get(seen_mode):
        if seen_mode not in runs:
            eng = FrontierEngine(spark, pages, dedup=True, politeness=True,
                                 seen_mode=seen_mode)
            rec, _ = eng.run_crawl(seeds, "li > a",
                                   extract_spec=_RESUME_SPEC, max_depth=6,
                                   max_rounds=5)
            runs[seen_mode] = sorted(r.url for r in
                                     rec.select("url").collect())
        return pages, seeds, runs[seen_mode]

    yield get
    pages.unpersist()


class _InjectedFault(RuntimeError):
    pass


@pytest.mark.parametrize("seen_mode,stop", [
    ("auto", "pause"), ("cuckoo", "pause"),
    ("auto", "records"), ("auto", "frontier"),
    ("cuckoo", "records"), ("cuckoo", "frontier"),
], ids=["auto", "cuckoo", "auto-records", "auto-frontier",
        "cuckoo-records", "cuckoo-frontier"])
def test_crawl_resume_matches_one_shot(spark, tmp_path, monkeypatch,
                                       one_shot_crawl, seen_mode, stop):
    """North rule: any round is resumable. The first run stops either at
    a clean pause after round 1, or with a fault raised from round 1's
    ``records`` or ``frontier`` commit — after that round's ``seen``
    commit, so the state tables stand at different rounds. Resumed from
    the last committed ``frontier`` round, the crawl must visit EXACTLY
    the one-shot crawl's pages and write each record once, under both
    seen backends."""
    from osmospark.frontier import FrontierEngine
    from osmospark.tableio import TableIO

    pages, seeds, one_shot = one_shot_crawl(seen_mode)
    io = TableIO(str(tmp_path / "s"), spark)
    eng = FrontierEngine(spark, pages, state=io, dedup=True, politeness=True,
                         seen_mode=seen_mode)
    if stop == "pause":
        eng.run_crawl(seeds, "li > a", extract_spec=_RESUME_SPEC,
                      max_depth=6, max_rounds=2)
    else:
        commit = TableIO.commit_round

        def faulty(self, table, round_no, df, meta=None):
            if (table, round_no) == (stop, 1):
                raise _InjectedFault(f"{table} commit of round {round_no}")
            return commit(self, table, round_no, df, meta)

        monkeypatch.setattr(TableIO, "commit_round", faulty)
        with pytest.raises(_InjectedFault):
            eng.run_crawl(seeds, "li > a", extract_spec=_RESUME_SPEC,
                          max_depth=6, max_rounds=5)
        monkeypatch.undo()

    io2 = TableIO(str(tmp_path / "s"), spark)
    last = io2.last_round("frontier")
    assert last == (1 if stop == "pause" else 0)
    eng2 = FrontierEngine(spark, pages, state=io2, dedup=True,
                          politeness=True, seen_mode=seen_mode)
    rec2, _ = eng2.run_crawl(
        [], "li > a", extract_spec=_RESUME_SPEC, max_depth=6,
        max_rounds=4 - last, resume_frontier=io2.read_round("frontier", last),
        start_round=last + 1)
    resumed = sorted(r.url for r in rec2.select("url").collect())
    assert len(one_shot) > 20
    # equal sorted lists: the same visit set AND no duplicate record rows
    assert resumed == one_shot


# ----------------------------------------------------------------------
# cuckoo-filter URL-seen backend (frontier/cuckoo.py)
# ----------------------------------------------------------------------

def test_cuckoo_filter_no_false_negatives_and_low_fp():
    """CoNEXT'14 cuckoo filter invariants: every inserted key answers
    'maybe seen' (no false negatives — the property crawl exactness
    rides on), and the false-positive rate at 16-bit fingerprints stays
    far below Bloom's ~1%."""
    import numpy as np
    from osmospark.frontier import cuckoo

    rng = np.random.default_rng(7)
    keys = np.unique(rng.integers(-2**62, 2**62, 50_000, dtype=np.int64))
    t = cuckoo.build(keys)
    assert cuckoo.contains(t, keys).all()
    probe = np.unique(rng.integers(-2**62, 2**62, 100_000, dtype=np.int64))
    probe = np.setdiff1d(probe, keys)
    fp_rate = cuckoo.contains(t, probe).mean()
    assert fp_rate < 0.005, fp_rate


def test_cuckoo_filter_grows_on_saturation():
    """add_many signals saturation (None) instead of dropping keys; the
    build() rebuild path doubles until everything places — the exact
    array carried in the state row makes the rebuild exact."""
    import numpy as np
    from osmospark.frontier import cuckoo

    rng = np.random.default_rng(11)
    keys = np.unique(rng.integers(-2**62, 2**62, 5_000, dtype=np.int64))
    t = cuckoo.empty_table(64)  # way undersized: forces saturation
    assert cuckoo.add_many(t.copy(), keys) is None
    grown = cuckoo.build(keys)
    assert grown.shape[0] > t.shape[0]
    assert cuckoo.contains(grown, keys).all()


def test_cuckoo_mode_matches_auto_and_keeps_state_off_driver(spark):
    """seen_mode='cuckoo': the URL-seen structure lives in an
    executor-resident state DataFrame of (bucket, cuckoo, hashes) rows —
    the driver holds ONLY the handle, no per-URL data — and the visit set
    is identical to auto (exact anti-join) mode. 'auto' and 'cuckoo' are
    the only backends."""
    from osmospark.corpus import synth_corpus_df, synth_seed_urls
    from osmospark.frontier import FrontierEngine

    pages = synth_corpus_df(spark, 400, 4, weight=1).cache()
    pages.count()
    seeds = synth_seed_urls(4)
    auto = FrontierEngine(spark, pages, dedup=True)
    rec_a, _ = auto.run_crawl(seeds, "li > a", extract_spec=None,
                              max_depth=4)
    ck = FrontierEngine(spark, pages, dedup=True, seen_mode="cuckoo",
                        bloom_buckets=8)
    rec_c, _ = ck.run_crawl(seeds, "li > a", extract_spec=None,
                            max_depth=4)
    urls_a = {r.url for r in rec_a.select("url").collect()}
    urls_c = {r.url for r in rec_c.select("url").collect()}
    assert urls_a == urls_c and len(urls_a) > 10
    # no per-URL state structure on the driver (the round-1 weakness):
    assert not hasattr(ck, "_bloom") and not hasattr(ck, "_exact")
    state_rows = ck._seen_state.count()
    assert 0 < state_rows <= 8  # one row per host bucket, nothing else
    with pytest.raises(ValueError, match="seen_mode"):
        FrontierEngine(spark, pages, dedup=True, seen_mode="bloom")


# ----------------------------------------------------------------------
# RFC 9309 robots semantics (politeness.py compile_rules / compile_robots)
# ----------------------------------------------------------------------

def test_robots_rfc_wildcards_anchors_and_ties():
    txt = """
        User-agent: *
        Disallow: /d/1
        Allow: /d/1*5
        Disallow: /d/*7$
        Allow: /d/2
        Disallow: /d/2
        Allow: /d/3
        Disallow: /d/3$
    """
    g = parse_robots(txt)
    assert not is_allowed("/d/1", g)          # prefix disallow
    assert not is_allowed("/d/12", g)
    assert is_allowed("/d/15", g)             # longer wildcard allow wins
    assert not is_allowed("/d/47", g)         # $-anchored wildcard
    assert not is_allowed("/d/17", g)         # len 6 disallow > len 4 allow? (no /d/1 allow) — blocked
    assert is_allowed("/d/2", g)              # exact length tie: Allow wins
    assert not is_allowed("/d/3", g)          # $ rule is longer than allow
    assert is_allowed("/d/31", g)             # $ rule doesn't match
    assert is_allowed("/other", g)            # no match: allowed


def test_robots_agent_group_selection():
    txt = """
        User-agent: *
        Disallow: /all
        User-agent: osmo
        User-agent: otherbot
        Disallow: /osmo
        Crawl-delay: 9
    """
    star = parse_robots(txt)
    assert not is_allowed("/all/x", star) and is_allowed("/osmo", star)
    mine = parse_robots(txt, agent="osmobot/1.0")
    assert not is_allowed("/osmo/x", mine) and is_allowed("/all", mine)
    assert mine["crawl_delay"] == 9.0
    other = parse_robots(txt, agent="unknown-crawler")
    assert not is_allowed("/all/x", other)


def test_engine_applies_rfc_rules_jvm_side(spark):
    """compile_robots -> engine._apply_robots: the RFC verdict (wildcards,
    $ anchors, allow-wins-ties) evaluated as array expressions over the
    broadcast rules join — byte-identical to the Python is_allowed on
    every frontier row."""
    from osmospark.frontier import FrontierEngine
    from osmospark.frontier.politeness import compile_robots

    txt = ("User-agent: *\nDisallow: /d/1\nAllow: /d/1*5\n"
           "Disallow: /d/*7$\nAllow: /d/2\nDisallow: /d/2\n"
           "Allow: /d/3\nDisallow: /d/3$\n")
    robots = compile_robots(spark.createDataFrame(
        [("a.local", txt)], "host string, robots_txt string"))
    pages = spark.createDataFrame(
        [("http://a.local/", None, b"", "", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    eng = FrontierEngine(spark, pages, robots_df=robots)
    paths = [f"/d/{i}" for i in range(60)] + ["/other", "/d/15x"]
    frontier = spark.createDataFrame(
        [(f"http://a.local{p}", "a.local", p) for p in paths],
        "url string, host string, path string")
    kept = {r.path for r in eng._apply_robots(frontier).collect()}
    g = parse_robots(txt)
    expected = {p for p in paths if is_allowed(p, g)}
    assert kept == expected
    assert "/d/15" in kept and "/d/2" in kept and "/d/3" not in kept
    assert "/d/47" not in kept and "/d/31" in kept


def test_robots_without_rules_raises_at_construction(spark):
    """The engine takes compile_robots output only: a robots frame without
    a 'rules' column (e.g. a bare disallow-prefix table) is refused when
    the engine is built, instead of silently filtering nothing."""
    from osmospark.frontier import FrontierEngine
    pages = spark.createDataFrame(
        [("http://a.local/", None, b"", "", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    legacy = spark.createDataFrame([("a.local", ["/d/1"])],
                                   "host string, disallow array<string>")
    with pytest.raises(ValueError, match="rules"):
        FrontierEngine(spark, pages, robots_df=legacy)


def test_host_slots_one_frame_least_of_caps(spark):
    """Robots Crawl-delay, host budgets and adaptive delays merge into ONE
    (host, _slots) frame: least(coalesce(robots_cap, concurrency), budget,
    delay_cap), NULLs skipped, delay caps clamped to [1, concurrency*100];
    a budget of 0 starves its host and a non-positive Crawl-delay sets no
    cap (as politeness.host_slots)."""
    from osmospark.frontier import FrontierEngine
    from osmospark.frontier.politeness import compile_robots

    robots = compile_robots(spark.createDataFrame(
        [("r.test", "User-agent: *\nCrawl-delay: 15\n"),
         ("z.test", "User-agent: *\nCrawl-delay: 0\n"),
         ("b.test", "User-agent: *\nCrawl-delay: 1\n")],
        "host string, robots_txt string"))
    budget = spark.createDataFrame([("b.test", 0), ("r.test", 5)],
                                   "host string, slots int")
    delays = spark.createDataFrame([("d.test", 10_000), ("b.test", 1)],
                                   "host string, delay_ms long")
    pages = spark.createDataFrame(
        [("http://a.local/", None, b"", "", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    eng = FrontierEngine(spark, pages, politeness=True, concurrency=4,
                         round_seconds=30, robots_df=robots,
                         host_budget_df=budget, host_delay_df=delays)
    assert dict(eng._slots.collect()) == {
        "r.test": 2,   # 30 s / 15 s Crawl-delay, under the budget of 5
        "z.test": 4,   # Crawl-delay 0: no cap, concurrency
        "b.test": 0,   # budget 0 starves; robots 30 and delay 400 lose
        "d.test": 3,   # 30,000 ms / 10,000 ms adaptive delay
    }


def test_cuckoo_filter_property_incremental_merge_sequence():
    """Property test of the engine's merge discipline: arbitrary batches
    inserted incrementally (rebuild-on-saturation, exactly as
    _note_seen's merge does) never lose a key and never report a false
    negative, for any batch sizes/orderings."""
    from hypothesis import given, settings, strategies as st
    import numpy as np
    from osmospark.frontier import cuckoo

    @settings(max_examples=25, deadline=None)
    @given(st.lists(
        st.lists(st.integers(min_value=-2**63, max_value=2**63 - 1),
                 min_size=0, max_size=400),
        min_size=1, max_size=6))
    def run(batches):
        table = None
        seen = np.array([], dtype=np.int64)
        for b in batches:
            delta = np.unique(np.array(b, dtype=np.int64))
            if table is None:
                seen = delta
                table = cuckoo.build(delta) if len(delta) else None
                continue
            new = np.setdiff1d(delta, seen)
            seen = np.union1d(seen, delta)
            t = cuckoo.add_many(table, new)
            table = cuckoo.build(seen) if t is None else t
        if table is not None and len(seen):
            assert cuckoo.contains(table, seen).all()

    run()


def test_checkpoint_truncated_resets_catalyst_size_stats(spark):
    """Regression: plain ``localCheckpoint`` PRESERVES the pre-checkpoint
    plan's estimated ``sizeInBytes`` in the resulting LogicalRDD, and
    Catalyst's default stats visitor multiplies child sizes for
    multi-child nodes — so an iterative loop that checkpoints a join of
    two previously-checkpointed frames compounds the estimate's
    BigInteger bit-length exponentially per round (by round ~14 of a
    real crawl the driver burned minutes per round inside
    BigInteger.multiplyToomCook3 while executors idled).

    ``_checkpoint_truncated`` rebuilds the DataFrame from the
    checkpointed RDD, dropping the poisoned stats: the estimate must
    stay bounded across rounds, while the plain variant demonstrably
    grows past it."""
    from osmospark.frontier.engine import _checkpoint_truncated

    base = spark.range(64).withColumnRenamed("id", "k")

    def bits(df):
        return int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes()).bit_length()

    plain = fixed = base
    for _ in range(5):
        plain = (plain.alias("a").join(plain.alias("b"), "k")
                 .select("k").localCheckpoint(eager=True))
        fixed = _checkpoint_truncated(
            fixed.alias("a").join(fixed.alias("b"), "k").select("k"))

    assert fixed.count() == plain.count() == 64  # same data either way
    assert bits(fixed) <= 128, "stats must reset to a bounded default"
    assert bits(plain) > bits(fixed), (
        "hazard gone from Spark itself? plain localCheckpoint no longer "
        "compounds stats - the helper may be removable")


def test_priority_df_orders_fetch_slot_admission(spark):
    """Score-ordered admission: with one politeness slot on one host,
    the first round must fetch the HIGHEST-priority seed instead of the
    default DFS (url-lexicographic) winner; without a priority table the
    lexicographic seed wins. Unscored URLs keep DFS order (NULL last)."""
    from pyspark.sql import functions as F
    from osmospark.corpus import synth_corpus_df
    from osmospark.frontier import FrontierEngine
    from osmospark.urlnorm import xxhash64_py

    pages = synth_corpus_df(spark, 60, n_hosts=1, weight=1).cache()
    pages.count()
    seeds = [f"http://host0000.test/p/{i}" for i in (3, 5, 7)]

    def first_round_urls(prio):
        eng = FrontierEngine(spark, pages, dedup=True, politeness=True,
                             concurrency=1, priority_df=prio)
        rec, _ = eng.run_crawl(seeds, "a", extract_spec=None,
                               max_depth=1, max_rounds=1)
        return {r.url for r in rec.select("url").collect()}

    assert first_round_urls(None) == {seeds[0]}  # DFS: /p/3 first
    prio = spark.createDataFrame(
        [(xxhash64_py(seeds[2].encode()), 10)],
        "url_hash long, priority long")
    assert first_round_urls(prio) == {seeds[2]}  # scored /p/7 jumps queue


def test_trust_rank_feeds_engine_priority(spark):
    """End-to-end composition: TrustRank over a url_hash-keyed link
    graph becomes the engine's priority_df. Seeds p3/p5/p7, one slot:
    p7 is the trusted seed and links p5; p3 links p5 too but carries
    no trust. trust_rank(iters=1): p5 = 85%·3e6 = 2550000 (endorsed),
    p7 = 450000 (its own teleport), p3 = 0 — so the first fetched URL
    must be p5, beating both DFS order and the trusted node itself."""
    from pyspark.sql import functions as F
    from osmospark.corpus import synth_corpus_df
    from osmospark.frontier import FrontierEngine
    from osmospark.functions.linkgraph import trust_rank
    from osmospark.urlnorm import xxhash64_py

    pages = synth_corpus_df(spark, 60, n_hosts=1, weight=1).cache()
    pages.count()
    seeds = [f"http://host0000.test/p/{i}" for i in (3, 5, 7)]
    h = {u: xxhash64_py(u.encode()) for u in seeds}
    edges = spark.createDataFrame(
        [(h[seeds[2]], h[seeds[1]]),      # trusted p7 -> p5
         (h[seeds[0]], h[seeds[1]])],     # untrusted p3 -> p5
        "src long, dst long")
    trusted = spark.createDataFrame([(h[seeds[2]],)], "node_id long")
    prio = (trust_rank(edges, trusted, iters=1)
            .select(F.col("node_id").alias("url_hash"),
                    F.col("rank_u").alias("priority")))
    scores = {r.url_hash: r.priority for r in prio.collect()}
    assert scores[h[seeds[1]]] == 2550000
    assert scores[h[seeds[2]]] == 450000
    assert scores[h[seeds[0]]] == 0
    eng = FrontierEngine(spark, pages, dedup=True, politeness=True,
                         concurrency=1, priority_df=prio)
    rec, _ = eng.run_crawl(seeds, "a", extract_spec=None,
                           max_depth=1, max_rounds=1)
    assert {r.url for r in rec.select("url").collect()} == {seeds[1]}


def test_priority_df_preserves_exhaustive_closure(spark):
    """Priority reorders admission; on an exhaustive crawl (depth bound
    above the graph diameter) the reachable closure must be IDENTICAL
    with and without a score table. (Under a tight max_depth the sets
    may legitimately differ — admission order changes the depth at which
    links are discovered, exactly like any crawl scheduler.)"""
    from osmospark.corpus import synth_corpus_df
    from osmospark.frontier import FrontierEngine
    from osmospark.urlnorm import xxhash64_py

    pages = synth_corpus_df(spark, 24, n_hosts=1, weight=1).cache()
    pages.count()
    seeds = [f"http://host0000.test/p/{i}" for i in (3, 5, 7)]
    prio = spark.createDataFrame(
        [(xxhash64_py(seeds[2].encode()), 10)],
        "url_hash long, priority long")

    def closure(p):
        eng = FrontierEngine(spark, pages, dedup=True, politeness=True,
                             concurrency=8, priority_df=p)
        rec, _ = eng.run_crawl(seeds, "a", extract_spec=None,
                               max_depth=60, max_rounds=60)
        return {r.url for r in rec.select("url").collect()}

    a, b = closure(None), closure(prio)
    assert a == b and len(a) > 20


def test_engine_warns_on_underpartitioned_pages(spark, caplog):
    """A pages table with fewer partitions than 2x cores caps the
    per-round extract stage's parallelism (the cache-granularity
    hazard); the engine must say so at construction."""
    import logging as _logging
    from osmospark.frontier import FrontierEngine

    pages = spark.createDataFrame(
        [("http://h/p", None, b"<div>x</div>", "", "en")],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string").coalesce(1)
    with caplog.at_level(_logging.WARNING, logger="osmospark.frontier"):
        FrontierEngine(spark, pages)
    assert any("repartition" in r.message for r in caplog.records)

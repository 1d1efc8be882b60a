"""The four-part life of each workload: set-up, one timed operation, the
tiny warm-up version of that operation, and the checks on its output.

All workloads run on the synthetic Zipf-host corpus of
``osmospark.corpus`` (~5 KB pages, 64 hosts). The corpus itself does not
depend on the seed; the seed picks the crawl's seed URLs and the pages
sampled for the driver-side checks and the single-process probes.
"""

from __future__ import annotations

import os
import random
import re
import shutil

from session import SESSION, now

SPEC = {"payload": "div", "links": ["a@href"]}
FOLLOW = "li > a"
N_HOSTS = 64
INTRA_LINKS = 4
CROSS_LINKS = 2
WEIGHT = 60          # filler paragraphs: ~5 KB of html per page

# Per-scale sizes. "toy" is the self-test's scale: every code path, seconds.
SCALES = {
    "full": {"n_pages": 4000, "seeds": 32, "bfs_depth": 2,
             "resume_rounds": 3, "resume_pause": 1, "concurrency": 8,
             "sample": 48},
    "toy": {"n_pages": 640, "seeds": 8, "bfs_depth": 2,
            "resume_rounds": 3, "resume_pause": 1, "concurrency": 4,
            "sample": 8},
}

_MASK = 0xFFFFFFFF


class OpResult:
    """What one operation returns: the counted result plus what the engine
    reported about it."""

    def __init__(self, rows, url_sum, row_sum, pages, meta):
        self.rows = rows
        self.url_sum = url_sum
        self.row_sum = row_sum
        self.pages = pages      # pages fetched and extracted
        self.meta = meta        # run_crawl visit_meta, [] for extract_all

    def digest(self):
        return (self.rows, self.url_sum, self.row_sum)


def digest_records(df):
    """(rows, sum of low 32 bits of xxhash64(url), same over
    (url, value_json)): order-independent, and the url part can be
    recomputed in Python with ``urlnorm.xxhash64_py``."""
    from pyspark.sql import functions as F
    mask = F.lit(_MASK)
    r = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64("url").bitwiseAND(mask)).alias("u"),
        F.sum(F.xxhash64("url", "value_json").bitwiseAND(mask)).alias("r"),
    ).collect()[0]
    return int(r["n"]), int(r["u"] or 0), int(r["r"] or 0)


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------

class Corpus:
    """The synthetic corpus: link graph and page html, known to the driver
    without materialising the pages."""

    def __init__(self, n_pages: int):
        from osmospark.corpus import _host_sizes
        self.n_pages = n_pages
        self.sizes = _host_sizes(n_pages, N_HOSTS)
        self.hosts = [f"host{h:04d}.test" for h in range(N_HOSTS)]
        self._index = {h: i for i, h in enumerate(self.hosts)}

    def page(self, h: int, i: int, weight: int = WEIGHT):
        from osmospark.corpus import _synth_page
        return _synth_page(h, i, self.hosts, self.sizes, INTRA_LINKS,
                           CROSS_LINKS, weight)

    def locate(self, url: str):
        m = re.match(r"http://([^/]+)/p/(\d+)$", url)
        return self._index[m.group(1)], int(m.group(2))

    def links(self, url: str) -> list[str]:
        h, i = self.locate(url)
        _, html = self.page(h, i, weight=0)
        out = []
        for href in re.findall(r'href="([^"]+)"', html):
            out.append(href if href.startswith("http")
                       else f"http://{self.hosts[h]}{href}")
        return out

    def seed_urls(self, rng: random.Random, n: int) -> list[str]:
        """n distinct seed URLs, spread over hosts round-robin."""
        out, seen = [], set()
        while len(out) < n:
            h = len(out) % N_HOSTS
            u = f"http://{self.hosts[h]}/p/{rng.randrange(self.sizes[h])}"
            if u not in seen:
                seen.add(u)
                out.append(u)
        return out

    def sample(self, rng: random.Random, n: int) -> list[tuple[str, str]]:
        """n distinct (url, html) pages."""
        picks = set()
        while len(picks) < n:
            h = rng.randrange(N_HOSTS)
            picks.add((h, rng.randrange(self.sizes[h])))
        return [self.page(h, i) for h, i in sorted(picks)]

    def bfs_ball(self, seeds: list[str], depth: int) -> set[str]:
        """Every URL within ``depth`` links of a seed."""
        ball = set(seeds)
        level = list(seeds)
        for _ in range(depth):
            nxt = []
            for u in level:
                for v in self.links(u):
                    if v not in ball:
                        ball.add(v)
                        nxt.append(v)
            level = nxt
        return ball

    def build(self, spark, work: str, partitions: int, timings: dict):
        """Write the corpus as a Parquet table, read it back and persist it
        MEMORY_AND_DISK in ``partitions`` partitions (crawl_job's shape)."""
        from pyspark import StorageLevel
        from osmospark.corpus import synth_corpus_df
        path = os.path.join(work, f"corpus-{os.urandom(4).hex()}")
        t = now()
        synth_corpus_df(spark, self.n_pages, n_hosts=N_HOSTS,
                        intra_links=INTRA_LINKS, cross_links=CROSS_LINKS,
                        weight=WEIGHT, partitions=partitions) \
            .write.parquet(path)
        timings["corpus.synth_s"] = now() - t
        t = now()
        pages = (spark.read.parquet(path).select("url", "html")
                 .repartition(partitions)
                 .persist(StorageLevel.MEMORY_AND_DISK))
        n = pages.count()
        timings["corpus.cache_s"] = now() - t
        if n != self.n_pages:
            raise RuntimeError(f"corpus has {n} pages, want {self.n_pages}")
        return pages


def robots_texts(spark):
    """Every host disallows paths ending in 7 (a tenth of every host's
    pages); every fourth host also sets a Crawl-delay that caps it at 4
    fetches per round."""
    from pyspark.sql import functions as F
    h = F.col("id")
    return spark.range(N_HOSTS).select(
        F.format_string("host%04d.test", h).alias("host"),
        F.when(h % 4 == 0,
               F.lit("User-agent: *\nDisallow: /p/*7$\nCrawl-delay: 15\n"))
        .otherwise(F.lit("User-agent: *\nDisallow: /p/*7$\n"))
        .alias("robots_txt"))


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

class Workload:
    name = ""
    warm_ops = 2

    def __init__(self, spark, work: str, seed: int, scale: str):
        self.spark = spark
        self.work = work
        self.cfg = SCALES[scale]
        self.corpus = Corpus(self.cfg["n_pages"])
        self.rng = random.Random(seed)
        self.seeds = self.corpus.seed_urls(self.rng, self.cfg["seeds"])
        self.sample_pages = self.corpus.sample(self.rng, self.cfg["sample"])
        self.pages = None
        self.setup_timings: dict = {}

    def setup(self) -> None:
        """Build and cache the corpus. Called several times; each call
        replaces the previous corpus."""
        if self.pages is not None:
            self.pages.unpersist(blocking=True)
        parts = SESSION["corpus_partitions"]
        timings: dict = {}
        self.pages = self.corpus.build(self.spark, self.work, parts, timings)
        self.prepare(timings)
        self.setup_timings = timings

    def prepare(self, timings: dict) -> None:
        """Workload-specific set-up after the corpus is cached."""

    def reset(self) -> None:
        """Drop what the previous operation left behind (untimed)."""

    def warm(self, hooks) -> OpResult:
        """One operation before the measured loop, so caches fill and code
        paths compile at the measured sizes."""
        return self.op(hooks)

    def op(self, hooks) -> OpResult:
        raise NotImplementedError

    def check(self, results: list[OpResult]) -> list[str]:
        """Output checks over every operation's result; returns failures."""
        raise NotImplementedError


class ExtractAll(Workload):
    """extract_corpus over every page: the kernel, with no round loop."""

    name = "extract_all"

    def op(self, hooks) -> OpResult:
        from osmospark.frontier import FrontierEngine
        n, u, r = digest_records(
            FrontierEngine(self.spark, self.pages).extract_corpus(SPEC))
        return OpResult(n, u, r, n, [])

    def check(self, results):
        from pyspark.sql import functions as F
        from osmospark.frontier import FrontierEngine
        fails = []
        if any(res.rows != self.corpus.n_pages for res in results):
            fails.append("extract_all: a pass missed pages")
        want = {u: driver_value(u, html) for u, html in self.sample_pages}
        got = {r["url"]: r["value_json"] for r in
               FrontierEngine(self.spark, self.pages).extract_corpus(SPEC)
               .filter(F.col("url").isin(list(want))).collect()}
        if got != want:
            bad = sorted(u for u in want if got.get(u) != want[u])
            fails.append(f"extract_all: {len(bad)} sampled pages differ "
                         f"from the in-process evaluation, e.g. {bad[:1]}")
        return fails


def driver_value(url: str, html: str) -> str:
    """The spec's record for one page, evaluated by the in-process
    interpreter and serialised as the engine serialises ``value_json``."""
    import json
    from osmospark.corpus import Page, PageStore
    from osmospark.interpreter import Runner
    from osmospark.spec import O
    recs: list = []
    Runner(store=PageStore([Page(url, html)])).run(
        O.get(url).set(SPEC).data(recs.append))
    if len(recs) != 1:
        return f"<{len(recs)} records>"
    return json.dumps(recs[0], ensure_ascii=False, separators=(",", ":"))


class CrawlBfs(Workload):
    """run_crawl with URL-seen dedup and no politeness, AQE off: three
    rounds whose admitted sets are small next to the corpus."""

    name = "crawl_bfs"

    def op(self, hooks) -> OpResult:
        from osmospark.frontier import FrontierEngine
        eng = FrontierEngine(self.spark, self.pages, dedup=True,
                             politeness=False, broadcast_threshold=1_000_000)
        eng.on_round_end = hooks.round_end
        depth = self.cfg["bfs_depth"]
        records, meta = eng.run_crawl(self.seeds, FOLLOW, extract_spec=SPEC,
                                      max_depth=depth, max_rounds=depth + 1)
        n, u, r = digest_records(records)
        return OpResult(n, u, r, sum(m["admitted"] for m in meta), meta)

    def check(self, results):
        from osmospark.urlnorm import xxhash64_py
        ball = self.corpus.bfs_ball(self.seeds, self.cfg["bfs_depth"])
        want_rows = len(ball)
        want_sum = sum(xxhash64_py(u.encode()) & _MASK for u in ball)
        bad = [res for res in results
               if (res.rows, res.url_sum, res.pages)
               != (want_rows, want_sum, want_rows)]
        if bad:
            return [f"crawl_bfs: visit set differs from the BFS ball "
                    f"({want_rows} urls) in {len(bad)} crawls, e.g. "
                    f"{bad[0].rows} records"]
        return []


class CrawlResume(Workload):
    """crawl_job's shape: Parquet corpus persisted MEMORY_AND_DISK, TableIO
    state, salted politeness with compiled robots, AQE on; the crawl
    pauses after k rounds and resumes from the committed state."""

    name = "crawl_resume"
    warm_ops = 1
    robots = None
    _state_dir = None

    def prepare(self, timings):
        from osmospark.frontier.politeness import compile_robots
        if self.robots is not None:
            self.robots.unpersist(blocking=True)
        t = now()
        self.robots = compile_robots(robots_texts(self.spark)).persist()
        self.robots.count()
        timings["politeness.compile_robots_s"] = now() - t

    def engine(self, state):
        from osmospark.frontier import FrontierEngine
        return FrontierEngine(self.spark, self.pages, state=state, dedup=True,
                              politeness=True,
                              concurrency=self.cfg["concurrency"],
                              politeness_salt_buckets=8,
                              robots_df=self.robots)

    def reset(self):
        if self._state_dir is not None:
            shutil.rmtree(self._state_dir, ignore_errors=True)
            self._state_dir = None

    def _fresh_state(self):
        from osmospark.tableio import TableIO
        self._state_dir = os.path.join(
            self.work, f"state-{os.urandom(4).hex()}")
        return TableIO(self._state_dir, self.spark)

    def crawl(self, pause_after: int, hooks=None) -> OpResult:
        """One crawl; with ``pause_after`` it pauses after that many rounds
        and resumes from the committed state."""
        rounds = self.cfg["resume_rounds"]
        state = self._fresh_state()
        eng = self.engine(state)

        def round_end(m):
            if hooks is not None:
                hooks.round_end(m)
            if pause_after and m["round"] == pause_after - 1:
                eng.pause()

        eng.on_round_end = round_end
        records, meta = eng.run_crawl(self.seeds, FOLLOW, extract_spec=SPEC,
                                      max_depth=rounds, max_rounds=rounds)
        if pause_after and len(meta) == pause_after:
            if hooks is not None:
                hooks.paused(state, pause_after - 1)
            frontier = state.read_round("frontier", pause_after - 1)
            eng = self.engine(state)
            if hooks is not None:
                eng.on_round_end = hooks.round_end
            records, meta2 = eng.run_crawl(
                [], FOLLOW, extract_spec=SPEC, max_depth=rounds,
                max_rounds=rounds - pause_after, resume_frontier=frontier,
                start_round=pause_after)
            meta = meta + meta2
        n, u, r = digest_records(records)
        return OpResult(n, u, r, sum(m["admitted"] for m in meta), meta)

    def warm(self, hooks):
        """The uninterrupted crawl the paused ones must match."""
        self.reference = self.crawl(0)
        return self.reference

    def op(self, hooks) -> OpResult:
        return self.crawl(self.cfg["resume_pause"], hooks)

    def state_bytes(self) -> int:
        total = 0
        for d, _, files in os.walk(self._state_dir or ""):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        return total

    def frontier_ratio(self) -> float:
        """Admitted rows over frontier rows, from the last crawl's committed
        tables: frontier round k feeds admission in round k + 1."""
        from osmospark.tableio import TableIO
        state = TableIO(self._state_dir, self.spark)
        rounds = state.manifest("frontier")["rounds"]
        admitted = state.manifest("records").get("meta", {})
        num = sum(admitted.get(str(k + 1), {}).get("admitted", 0)
                  for k in rounds)
        den = sum(state.read_round("frontier", k).count() for k in rounds
                  if str(k + 1) in admitted)
        return num / den if den else 0.0

    def check(self, results):
        ref = self.reference
        bad = [res for res in results if res.digest() != ref.digest()]
        if bad or ref.rows == 0:
            return [f"crawl_resume: {len(bad)} paused-and-resumed crawls "
                    f"differ from the uninterrupted crawl "
                    f"({ref.rows} records)"]
        return []


WORKLOADS = {w.name: w for w in (ExtractAll, CrawlBfs, CrawlResume)}

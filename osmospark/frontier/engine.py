"""The batch-iterative frontier engine — the distributed crawl loop.

Per round (SURVEY §3.1 lifecycle):

    frontier → admission stages → localCheckpoint → admitted / deferred
             → join pages corpus on url_hash (broadcast when small, AQE else)
             → coalesce to the round's size (~200 pages per task)
             → extraction UDF (mapInPandas, page-scope chain execution)
             → records / child values / open records / next frontier
             → round commit (TableIO): seen, records, then frontier
               (frontier round k in its manifest is the commit point)

Admission is one ordered list of named ``DataFrame → DataFrame`` stages,
built once in ``__init__`` from what the engine was given (a stage whose
input is absent is simply not in the list) and folded over every round:

    redirects → unseen → winner → robots → rank

Seeds and every round's discovered links pass through one URL-prep list
before they enter the frontier:

    dust → alias → predicate → rehash

Two execution modes:

- ``run_chain(chain)``  — full Osmosis chain semantics: nested records span
  pages; after the loop, records are assembled bottom-up by grouped merge
  (the distributed analogue of reference lib/Data.js:282-302 merge +
  :239-280 sortKey).
- ``run_crawl(seeds, follow, extract)`` — the 10^10-scale path: per-page
  extraction closes records locally; the frontier recurses on a follow
  selector up to ``max_depth`` with URL-seen dedup (exact anti-join, or a
  partitioned cuckoo prefilter + exact sorted-array backstop) and per-host
  politeness. DFS-with-limit ordering:
  admission prioritizes ``(depth DESC, sort lineage ASC)``, reproducing the
  reference's LIFO queue discipline (reference lib/Queue.js:24-33,
  index.js:253-258) at round granularity.
"""

from __future__ import annotations

import json
import logging
import resource
import time
from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType, IntegerType, LongType, StringType, StructField, StructType,
)

from ..extract import (
    OUT_SCHEMA, initial_continuations, make_crawl_udf, make_extract_udf,
)
from ..record import merge_value
from ..spec import Chain, collect_chains
from ..urlnorm import canonicalize, host_expr, strip_params_expr, url_host
from . import cuckoo as cuckoo_mod
from .politeness import DEFAULT_CONCURRENCY, DEFAULT_ROUND_SECONDS

FRONTIER_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("url_hash", LongType()),
    StructField("host", StringType()),
    StructField("method", StringType()),
    StructField("params_json", StringType()),
    StructField("resume_index", IntegerType()),
    StructField("chain_idx", IntegerType()),
    StructField("kind", StringType()),
    StructField("count", IntegerType()),
    StructField("depth", IntegerType()),
    StructField("referer", StringType()),
    StructField("parent_record_id", StringType()),
    StructField("index_key", StringType()),
    StructField("is_array", BooleanType()),
    StructField("sort_index", LongType()),
    StructField("partial_json", StringType()),
    StructField("origin_id", StringType()),
    StructField("origin_sort_index", LongType()),
    StructField("root_id", StringType()),
])

_FRONTIER_COLS = [f.name for f in FRONTIER_SCHEMA.fields]

# executor-resident URL-seen state: one row per host bucket
_STATE_SCHEMA = "bucket int, cuckoo binary, hashes binary"

# auto URL-seen: the seen-key set is broadcast to the anti-join while it
# holds at most this many keys, shuffled beyond
SEEN_BROADCAST_KEYS = 4_000_000

# pages per extraction task: a round's fetch-joined frame is coalesced to
# ceil(n / EXTRACT_PAGES_PER_TASK) partitions before the extraction UDF
EXTRACT_PAGES_PER_TASK = 200


def _checkpoint_truncated(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint that also RESETS Catalyst's size statistics.

    ``Dataset.localCheckpoint`` preserves the pre-checkpoint plan's
    *estimated* stats in the resulting ``LogicalRDD`` (``originStats``),
    and ``SizeInBytesOnlyStatsPlanVisitor.default`` estimates multi-child
    nodes — including ``FlatMapCoGroupsInPandas`` — as the PRODUCT of the
    children's ``sizeInBytes``. An iterative loop whose rounds cogroup two
    previously-checkpointed frames (frontier × URL-seen state) therefore
    compounds those products: the preserved ``sizeInBytes`` BigInteger's
    bit-length grows Fibonacci-style per round, and by round ~14 Catalyst
    burns minutes of driver CPU in ``BigInteger.multiplyToomCook3`` while
    executors sit idle (measured: 3.5s → 150s/round on constant-size
    data; jstack shows the planner inside ``multiplyToomCook3``).

    Rebuilding the DataFrame from the checkpointed RDD drops
    ``originStats`` — the fresh ``LogicalRDD`` reports the session default
    size — so every round plans against bounded stats. Falls back to the
    plain checkpoint if the private ``internalCreateDataFrame`` bridge is
    unavailable (stats preservation then remains, which is only a
    performance hazard for deep crawls, not a correctness one)."""
    cp = df.localCheckpoint(eager=True)
    try:
        jdf = cp._jdf
        spark = df.sparkSession
        fresh = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False)
        return DataFrame(fresh, spark)
    except Exception:  # pragma: no cover — py4j bridge unavailable
        return cp


def _extract_width(joined: DataFrame, n: int) -> DataFrame:
    """Narrow the fetch-joined frame of an ``n``-row round to
    ``max(1, ceil(n / EXTRACT_PAGES_PER_TASK))`` partitions. ``coalesce``
    is narrow, so the corpus scan, the broadcast probe and the UDF run in
    the same few tasks and no page bytes move; it is a no-op when the
    frame already has no more partitions, so large rounds keep full
    width."""
    return joined.coalesce(max(1, -(-n // EXTRACT_PAGES_PER_TASK)))


def _frontier_df(spark: SparkSession, rows: list[dict]) -> DataFrame:
    norm = [{c: r.get(c) for c in _FRONTIER_COLS} for r in rows]
    return spark.createDataFrame(norm, schema=FRONTIER_SCHEMA)


def seed_frontier(spark: SparkSession, urls: list[str]) -> DataFrame:
    """Depth-0 frontier rows for an explicit URL list (``sort_index`` =
    list position), in ``FRONTIER_SCHEMA``. URLs are canonicalized on the
    driver; ``url_hash`` is computed JVM-side (``F.xxhash64`` ==
    ``urlnorm.xxhash64_py``, seed 42)."""
    rows = []
    for i, u in enumerate(urls):
        cu = canonicalize(u)
        rows.append({"url": cu, "host": url_host(cu), "depth": 0,
                     "sort_index": i, "kind": "crawl", "method": "get"})
    return (_frontier_df(spark, rows)
            .withColumn("url_hash", F.xxhash64("url")))


def _fold(stages: list, df: DataFrame) -> DataFrame:
    """Apply an ordered list of named ``DataFrame → DataFrame`` stages."""
    return reduce(lambda acc, stage: stage[1](acc), stages, df)


class FrontierEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages_df: DataFrame,
        state: "TableIO | None" = None,
        *,
        concurrency: int = DEFAULT_CONCURRENCY,
        politeness: bool = False,
        robots_df: DataFrame | None = None,
        dedup: bool = False,
        politeness_salt_buckets: int = 0,
        seen_mode: str = "auto",
        bloom_buckets: int = 32,
        broadcast_threshold: int = 100_000,
        round_seconds: float = DEFAULT_ROUND_SECONDS,
        max_redirects: int = 5,
        priority_df: DataFrame | None = None,
        host_budget_df: DataFrame | None = None,
        host_delay_df: DataFrame | None = None,
        url_predicate: str | None = None,
        url_rewrites_df: DataFrame | None = None,
        url_alias_df: DataFrame | None = None,
    ) -> None:
        self.spark = spark
        # corpus side: hash once; Catalyst prunes unread columns at the scan.
        # Optional status / content-type columns (a Common-Crawl-style table
        # may carry them) are threaded through to process_response hooks so
        # crawl mode sees the page's REAL response metadata, like the chain
        # path; absent columns default to 200 / text/html at the join.
        page_cols = [F.col("url_hash"), F.col("url").alias("page_url"),
                     F.col("html")]
        src_status = next((c for c in ("page_status", "status")
                           if c in pages_df.columns), None)
        if src_status:
            page_cols.append(F.col(src_status).cast("int")
                             .alias("src_status"))
        self._has_src_status = src_status is not None
        self._has_content_type = "content_type" in pages_df.columns
        if self._has_content_type:
            page_cols.append(F.col("content_type"))
        self.pages = pages_df.withColumn(
            "url_hash", F.xxhash64("url")).select(*page_cols)
        # cache/scan granularity bounds every round's fetch-join+extract
        # parallelism: a ~1 GB parquet reads as ~8 x 128 MB splits, and at
        # that width the extract stage runs 8 straggler-skewed tasks no
        # matter how many cores exist (event-log-measured 3x skew, fake
        # 0.5 scaling). Warn rather than auto-repartition — the shuffle
        # is the caller's cost decision (crawl_job defaults it on).
        try:
            n_parts = self.pages.rdd.getNumPartitions()
            cores = spark.sparkContext.defaultParallelism
            if n_parts < cores * 2:
                logging.getLogger("osmospark.frontier").warning(
                    "pages table has %d partitions for %d cores; the "
                    "per-round extract stage is capped at %d tasks and "
                    "skew-bound — repartition(%d) the corpus before "
                    "caching (see crawl_job --corpus-partitions)",
                    n_parts, cores, n_parts, cores * 4)
        except Exception:  # pragma: no cover — plan→rdd bridge quirk
            pass
        self.state = state
        self.concurrency = concurrency
        self.politeness = politeness
        self.dedup = dedup
        self.politeness_salt_buckets = politeness_salt_buckets
        if seen_mode not in ("auto", "cuckoo"):
            raise ValueError(f"seen_mode {seen_mode!r} not in "
                             "('auto', 'cuckoo')")
        self.seen_mode = seen_mode
        self.bloom_buckets = bloom_buckets
        self.broadcast_threshold = broadcast_threshold
        self.round_seconds = round_seconds
        self._metrics: DataFrame | None = None  # stateless runs' metrics
        self._pending_metrics: list[DataFrame] = []
        # cuckoo URL-seen state, partitioned by host bucket (north rule).
        # Two structures per bucket: a cuckoo filter (cheap prefilter, the
        # structure that persists at 10^10 scale — frontier/cuckoo.py) and
        # a sorted exact hash array (the correctness backstop — crawl
        # ordering must be exact). The state is a DataFrame of rows
        # (bucket, cuckoo binary, hashes binary) living on the EXECUTORS
        # (localCheckpoint blocks): probes and merges run co-partitioned
        # via cogroup+applyInPandas, so the driver only ever holds the
        # DataFrame handle — never per-URL data (SURVEY §4 item 2, §7.3).
        # At 10^10 URLs size
        # ``bloom_buckets`` so each bucket's exact array stays executor-
        # memory-sized (e.g. 2^14 buckets → ~5 MB/bucket exact + filter).
        self._seen_state: DataFrame | None = None
        # auto mode: the seen set is a list of per-round persisted key
        # DataFrames (url_hash); dedup = JVM broadcast LEFT ANTI while the
        # set fits SEEN_BROADCAST_KEYS, shuffle anti-join (AQE) beyond.
        # Deltas are never re-stored — each round persists only its own
        # keys; parts compact every ``seen_compact_parts`` rounds so deep
        # crawls never accumulate unbounded union lineage.
        self._seen_parts: list[DataFrame] = []
        self._seen_count = 0
        self.seen_compact_parts = 16
        # chain-level pause surface: .pause() requests a stop at the next
        # round boundary (the distributed analogue of the reference's
        # request-queue pause); on_round_end fires after each committed
        # round so callers can decide to pause/stop mid-crawl
        self._pause_requested = False
        self.on_round_end = None
        self._total_admitted = 0
        self._total_rounds = 0
        # the round being admitted (stages tag their metric rows with it)
        self._round = 0
        # robots: compile_robots output — (host, rules, crawl_delay)
        if robots_df is not None and "rules" not in robots_df.columns:
            raise ValueError(
                "robots_df needs a 'rules' column (politeness."
                "compile_robots output); got columns "
                f"{robots_df.columns}")
        self.robots_df = robots_df
        # distributed redirect resolution (reference follow-limit
        # semantics): when the pages table carries a ``redirect_to``
        # column, frontier urls landing on a 3xx source resolve to the
        # final target via ONE join per round against a precomputed hop
        # closure over the (tiny) redirect edge set — see
        # frontier/redirects.py. Built lazily on first run_crawl round;
        # drop the column to crawl redirect sources as plain pages.
        self._redirect_src = (
            pages_df if "redirect_to" in pages_df.columns else None)
        self._redirect_closure_df: DataFrame | None = None
        self._redirects_small = False
        self.max_redirects = max_redirects
        # optional score-ordered admission (north rule's "priority
        # queue"): (url_hash, priority) rows — e.g. linkgraph.link_rank
        # over a prior crawl's edges, keyed by xxhash64(url). Higher
        # priority wins fetch slots first; unscored URLs keep the
        # default DFS order among themselves (priority NULL sorts last).
        # Order-only on exhaustive crawls (same reachable closure —
        # tested); under a tight max_depth the visited set may shift,
        # as with any crawl scheduler, because admission order changes
        # the depth at which links are discovered.
        self.priority_df = (
            priority_df.select("url_hash",
                               F.col("priority").cast("bigint")
                               .alias("priority"))
            if priority_df is not None else None)
        # per-host fetch-slot caps (robots Crawl-delay, budgets, adaptive
        # delays) as ONE hosts-sized (host, _slots) frame; see _host_slots
        self._slots = (self._host_slots(robots_df, host_budget_df,
                                        host_delay_df)
                       if politeness else None)
        # optional per-host query-param strip rules (host, param) —
        # e.g. urlnorm.dust_rules output. Applied map-only to seeds and
        # every round's discovered links BEFORE url_hash / URL-seen /
        # politeness, so session/tracking aliases of one page collapse
        # to a single canonical frontier key and never consume state or
        # fetch slots. Hosts-sized → broadcast. If the frame carries
        # dust_rules' ``is_rule`` verdict column it is applied here —
        # params with violations>0 (proven to CHANGE content) must
        # never be stripped, so passing raw dust_rules output is safe.
        if url_rewrites_df is not None:
            if "is_rule" in url_rewrites_df.columns:
                url_rewrites_df = url_rewrites_df.filter(F.col("is_rule"))
            self._rewrites = (url_rewrites_df.groupBy("host")
                              .agg(F.collect_set("param").alias("_strip")))
        else:
            self._rewrites = None
        # optional exact URL→canonical alias map (url, canonical_url) —
        # e.g. functions.metadata page_metadata/canonical_collapse
        # output (the rel=canonical tier of the dedup chain; DUST
        # handles the syntactic tier above). Rows are (url, _canon,
        # _akey = xxhash64(url)); the join keys on _akey AND url, so a
        # 64-bit hash collision can never rewrite an unrelated URL.
        # Unlike the hosts-sized frames this table scales with the
        # corpus: the join is left UNHINTED so Catalyst/AQE picks
        # broadcast vs shuffle from stats — at 10^10 URLs, store it
        # bucketed by url_hash so the per-round join co-locates.
        # Multi-target aliases (malformed input) collapse to
        # min(canonical_url) so the join can never fan out frontier
        # rows; chains (A→B, B→C) apply ONE hop per discovery —
        # pre-resolve chains offline if byte-exact one-hop targets
        # matter.
        if url_alias_df is not None:
            self._aliases = (
                url_alias_df
                .filter(F.col("canonical_url").isNotNull()
                        & (F.col("canonical_url") != F.col("url")))
                .groupBy("url")
                .agg(F.min("canonical_url").alias("_canon"))
                .withColumn("_akey", F.xxhash64("url")))
        else:
            self._aliases = None
        # optional pre-fetch URL filter: a SQL boolean over column
        # ``url`` (e.g. urlnorm.default_url_predicate() — skip asset
        # extensions / session-id URLs), so filtered URLs never consume
        # seen-state, fetch slots, or frontier checkpoints. Map-only
        # expression, zero extra jobs.
        self.url_predicate = url_predicate

        def present(*stages):
            return [(name, fn) for name, fn, on in stages if on]

        # URL prep, applied to seeds and to every round's discovered links
        # before they enter the frontier
        self._url_prep = present(
            ("dust", self._strip_params, self._rewrites is not None),
            ("alias", self._apply_aliases, self._aliases is not None),
            ("predicate", self._filter_predicate,
             url_predicate is not None),
            ("rehash", _rehash, True))
        # per-round admission, folded over the frontier before the round's
        # one admission checkpoint
        self._admission = present(
            ("redirects", self._resolve_redirects,
             self._redirect_src is not None),
            ("unseen", self._drop_seen, dedup),
            ("winner", self._dedup_round, dedup),
            ("robots", self._apply_robots, robots_df is not None),
            ("rank", self._rank_politeness, politeness))

    def pause(self) -> None:
        """Request a pause at the next round boundary (resume via
        ``run_crawl(resume_frontier=..., start_round=...)``)."""
        self._pause_requested = True

    def resources(self) -> str:
        """Process-statistics debug line (the analogue of reference
        index.js Osmosis.resources: stack/requests/RAM) — driver RSS plus
        cumulative crawl counters; per-round RSS also lands in
        ``visit_meta`` so long crawls expose a leak trend."""
        return (f"requests: {self._total_admitted}, "
                f"rounds: {self._total_rounds}, "
                f"RAM: {_rss_mb():.1f}MB (driver peak)")

    # ------------------------------------------------------------------
    # URL prep stages: dust → alias → predicate → rehash
    # ------------------------------------------------------------------

    def _strip_params(self, frontier: DataFrame) -> DataFrame:
        """dust: per-host DUST param-strip rules (url_rewrites_df) — a
        map-only broadcast join + array filter. Rule-less rows pass
        through byte-identical. Frontier URLs are canonicalize()d
        (fragment already stripped); the shared expression preserves
        fragments on raw inputs too."""
        return (frontier
                .join(F.broadcast(self._rewrites), "host", "left")
                .withColumn("url", strip_params_expr(F.col("url"),
                                                     F.col("_strip")))
                .drop("_strip"))

    def _apply_aliases(self, frontier: DataFrame) -> DataFrame:
        """alias: the exact URL→canonical map (url_alias_df), an
        equi-join on (xxhash64(url), url) with url / host rebuilt for
        matched rows (a rel=canonical target may live on a different
        host, so politeness keys must follow). The key is a FRESH hash of
        the (possibly DUST-stripped) url — discovered links reach here
        before their url_hash is computed. Alias-less rows pass through
        byte-identical."""
        return (frontier
                .withColumn("_akey", F.xxhash64("url"))
                .join(self._aliases, ["_akey", "url"], "left")
                .withColumn("url", F.coalesce(F.col("_canon"),
                                              F.col("url")))
                .withColumn("host",
                            F.when(F.col("_canon").isNotNull(),
                                   host_expr(F.col("url")))
                            .otherwise(F.col("host")))
                .drop("_canon", "_akey"))

    def _filter_predicate(self, frontier: DataFrame) -> DataFrame:
        """predicate: keep rows passing the ``url_predicate`` SQL."""
        return frontier.filter(F.expr(self.url_predicate))

    # ------------------------------------------------------------------
    # admission stages: redirects → unseen → winner → robots → rank
    # ------------------------------------------------------------------

    def _redirects(self) -> DataFrame:
        """Lazily built redirect hop-closure (frontier/redirects.py); the
        build cost is O(redirect rows), paid once per engine."""
        if self._redirect_closure_df is None:
            from .redirects import redirect_closure
            self._redirect_closure_df = redirect_closure(
                self._redirect_src, self.max_redirects)
            n = self._redirect_closure_df.count()
            self._redirects_small = n <= self.broadcast_threshold
        return self._redirect_closure_df

    def _resolve_redirects(self, frontier: DataFrame) -> DataFrame:
        """redirects: rewrite frontier rows that point at a redirect
        source to their FINAL url (referer := the redirecting url, per the
        reference's final-hop referer); rows whose chain exhausts the
        ``follow`` limit (loops included) drop with an error metric — the
        distributed form of needle's "Max redirects reached. Possible
        loop in: <url>". Runs BEFORE URL-seen dedup, so the seen set keys
        final urls and a target reached via two different sources
        fetches exactly once."""
        cc = self._redirects().select(
            F.col("url_hash").alias("_r_key"),
            F.col("final_url").alias("_r_final"),
            F.col("final_hash").alias("_r_fhash"),
            F.col("final_host").alias("_r_fhost"),
            F.col("ok").alias("_r_ok"))
        if self._redirects_small:
            cc = F.broadcast(cc)
        joined = frontier.join(cc, frontier["url_hash"] == cc["_r_key"],
                               "left")
        # max-redirects failures: counted per source host like fetch
        # errors; lazy frame over checkpointed frontier blocks + the
        # checkpointed closure, executed once in _flush_metrics
        self._pending_metrics.append(
            joined.filter(F.col("_r_ok") == F.lit(False))
            .groupBy("host")
            .agg(F.count("*").alias("fetched"),
                 F.lit(0).cast("long").alias("parsed"),
                 F.count("*").alias("errors"))
            .withColumn("round", F.lit(self._round)))
        return (joined
                .filter(F.col("_r_key").isNull() | F.col("_r_ok"))
                .withColumn("referer",
                            F.when(F.col("_r_key").isNotNull(),
                                   F.col("url"))
                            .otherwise(F.col("referer")))
                .withColumn("url", F.coalesce("_r_final", "url"))
                .withColumn("url_hash", F.coalesce("_r_fhash", "url_hash"))
                .withColumn("host", F.coalesce("_r_fhost", "host"))
                .select(*_FRONTIER_COLS))

    def _drop_seen(self, frontier: DataFrame) -> DataFrame:
        """unseen: cross-round URL-seen filtering, two backends:

        - ``auto`` (default): JVM-side LEFT ANTI join against the union of
          per-round persisted key DataFrames — broadcast (one hashed
          relation per executor, built JVM-side, no Python involved) while
          the seen set fits ``SEEN_BROADCAST_KEYS``, shuffle anti-join that
          AQE can skew-split beyond. The anti-join runs BEFORE the winner
          window so already-seen rows never enter its shuffle.
        - ``cuckoo``: the partitioned filter + exact-array probe
          — the frontier cogroups with the EXECUTOR-RESIDENT state table
          on the host bucket (``cogroup(...).applyInPandas``), so each
          bucket's blobs meet its frontier rows co-partitioned, once, with
          no driver round-trip and no per-row blob duplication (a plain
          join would copy the bucket blob onto every frontier row).
          Filter-NEGATIVE rows are *definitely new*; filter-POSITIVE rows
          are verified against the bucket's exact sorted hash array
          (``searchsorted``), the backstop that keeps the visit set exact
          despite false positives.
        """
        if self.seen_mode == "cuckoo":
            if self._seen_state is None:
                return frontier
            return self._probe_seen_state(frontier)
        if not self._seen_parts:
            return frontier
        seen = reduce(DataFrame.unionByName, self._seen_parts)
        if self._seen_count <= SEEN_BROADCAST_KEYS:
            seen = F.broadcast(seen)
        return frontier.join(seen, "url_hash", "left_anti")

    def _dedup_round(self, frontier: DataFrame) -> DataFrame:
        """winner: within-round repeats collapse to the DETERMINISTIC
        winner — the highest-priority row by the admission order (depth
        DESC, sort_index ASC, referer ASC) — in one shuffle. A bare
        dropDuplicates would keep an arbitrary row, making visit order
        differ between a resumed and a one-shot crawl."""
        w = Window.partitionBy("url_hash").orderBy(
            F.col("depth").desc(),
            F.col("sort_index").asc_nulls_last(),
            F.col("referer").asc_nulls_first(),
        )
        return (frontier.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1).drop("_rn"))

    def _apply_robots(self, frontier: DataFrame) -> DataFrame:
        """robots: drop robots-disallowed URLs (never fetched).

        The robots table is ``compile_robots`` output (``rules`` column,
        ``politeness.RULES_TYPE``): full RFC 9309 semantics — ``*``
        wildcards, ``$`` anchors, longest-pattern-wins with Allow on ties
        — evaluated ENTIRELY JVM-side: filter the rule array down to regex
        matches, then ``array_max`` over (len, allow) structs is exactly
        the RFC precedence (struct compare is field-ordered, so longer
        patterns win and ``true > false`` breaks ties toward Allow). No
        Python touches the frontier."""
        path = F.parse_url(F.col("url"), F.lit("PATH"))
        rules = F.broadcast(self.robots_df.select("host", "rules"))
        joined = frontier.join(rules, "host", "left")
        matched = F.filter(
            F.coalesce(F.col("rules"), F.array()),
            lambda r: F.regexp_like(path, r["rx"]))
        verdict = F.array_max(F.transform(
            matched,
            lambda r: F.struct(r["len"].alias("l"),
                               r["allow"].alias("a"))))
        blocked = verdict.isNotNull() & ~verdict["a"]
        return joined.filter(~blocked).drop("rules")

    def _host_slots(self, robots_df: DataFrame | None,
                    host_budget_df: DataFrame | None,
                    host_delay_df: DataFrame | None) -> DataFrame | None:
        """Per-host fetch-slot caps as ONE hosts-sized (host, _slots)
        frame, checkpointed once and broadcast-joined once per round:

            _slots = least(coalesce(robots_cap, concurrency), budget,
                           delay_cap)

        (``least`` skips NULLs; hosts absent from every table keep
        ``concurrency``). ``robots_cap`` is round_seconds div the
        Crawl-delay, ``delay_cap`` the same for an adaptive delay
        (``host_delay_df`` (host, delay_ms), e.g. politeness.
        adaptive_delay output) — both clamped to [1, concurrency·100].
        ``host_budget_df`` (host, slots), e.g. reputation.allocate_budget
        output, caps the host for every round; slots=0 starves it
        without dropping its frontier rows (they defer like any
        over-slot row). None when no table is given."""
        def cap(window, delay):
            # a non-positive or NULL delay sets no cap (as host_slots)
            return F.when(delay > 0, F.greatest(F.lit(1), F.least(
                F.lit(self.concurrency * 100),
                (F.lit(window) / delay).cast("int"))))

        parts = []
        first = F.lit(self.concurrency)
        if robots_df is not None:
            parts.append(robots_df.select(
                "host", cap(self.round_seconds, F.col("crawl_delay"))
                .alias("_robots")))
            first = F.coalesce(F.col("_robots"), first)
        if host_budget_df is not None:
            parts.append(host_budget_df.select(
                "host", F.col("slots").cast("int").alias("_budget")))
        if host_delay_df is not None:
            parts.append(host_delay_df.select(
                "host", cap(int(self.round_seconds * 1000),
                            F.col("delay_ms").cast("bigint"))
                .alias("_delay")))
        if not parts:
            return None
        caps = reduce(lambda a, b: a.join(b, "host", "full"), parts)
        rest = [F.col(c) for c in caps.columns if c in ("_budget", "_delay")]
        slots = F.least(first, *rest) if rest else first
        return _checkpoint_truncated(
            caps.select("host", slots.alias("_slots")))

    def _rank_politeness(self, frontier: DataFrame) -> DataFrame:
        """rank: per-host fetch-slot ranking (SURVEY §2.6): adds
        ``_rank``/``_slots`` columns (no filtering here — the caller
        checkpoints the ranked frame ONCE and derives both admitted and
        deferred from the same blocks, so the admission pipeline never
        recomputes). Priority (depth DESC, sort_index ASC, url) =
        DFS-with-limit."""
        slots = F.lit(self.concurrency)
        if self._slots is not None:
            frontier = frontier.join(F.broadcast(self._slots), "host",
                                     "left")
            slots = F.coalesce(F.col("_slots"), slots)
        frontier = frontier.withColumn("_slots", slots)
        order = [F.col("depth").desc(),
                 F.col("sort_index").asc_nulls_last(),
                 F.col("url").asc()]
        if self.priority_df is not None:
            # score-ordered admission: scored URLs outrank unscored
            # (NULL last), score breaks before the DFS keys. The join is
            # a plain equi-join on url_hash — at scale both sides are
            # url-keyed tables and AQE picks broadcast when the score
            # table is small.
            frontier = frontier.join(self.priority_df, "url_hash", "left")
            order = [F.col("priority").desc_nulls_last(), *order]
        S = self.politeness_salt_buckets
        if S > 1:
            # Two-phase admission against hot-host skew (SURVEY §7.3): a
            # 10^9-row host would make the single per-host ranking window
            # one straggler task. Phase 1 ranks within (host, salt) buckets
            # — rows beyond `slots` in their bucket cannot be in the host's
            # global top `slots`, so they defer without ever entering the
            # per-host shuffle. Phase 2 ranks only the survivors
            # (≤ hosts × S × slots rows — bounded however hot the host).
            # The total order (…, url) is salt-invariant, so the admitted
            # set is IDENTICAL to the single-window plan.
            salt = F.pmod(F.coalesce(F.col("url_hash"), F.lit(0)),
                          F.lit(S))
            w1 = Window.partitionBy("host", salt).orderBy(*order)
            b_ranked = frontier.withColumn(
                "_brank", F.row_number().over(w1))
            cand = b_ranked.filter(F.col("_brank") <= F.col("_slots"))
            rest = b_ranked.filter(F.col("_brank") > F.col("_slots"))
            w2 = Window.partitionBy("host").orderBy(*order)
            cand = cand.withColumn("_rank", F.row_number().over(w2))
            rest = rest.withColumn(
                "_rank", F.col("_slots") + F.col("_brank"))
            return cand.unionByName(rest).drop("_brank")
        w = Window.partitionBy("host").orderBy(*order)
        return frontier.withColumn("_rank", F.row_number().over(w))

    # ------------------------------------------------------------------
    # URL-seen state (read by the unseen stage, written after admission)
    # ------------------------------------------------------------------

    def _probe_seen_state(self, frontier: DataFrame) -> DataFrame:
        """Filter already-seen rows against the partitioned state table.

        Plan shape: frontier shuffles once on the host bucket;
        the state side is n_buckets rows read from localCheckpoint blocks.
        Python sees one (frontier_pdf, state_pdf) pair per bucket."""
        schema = frontier.schema
        cols = [f.name for f in schema.fields]
        tagged = frontier.withColumn("_bucket", self._bucket_col())

        def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            import numpy as np
            left = left.drop(columns=["_bucket"])
            if len(left) == 0 or len(right) == 0:
                return left
            ex = np.frombuffer(right["hashes"].iloc[0], dtype=np.int64)
            hashes = left["url_hash"].to_numpy(dtype=np.int64)
            maybe = cuckoo_mod.contains(
                cuckoo_mod.from_bytes(right["cuckoo"].iloc[0]), hashes)
            seen = np.zeros(len(left), dtype=bool)
            if maybe.any() and len(ex):
                cand = hashes[maybe]
                pos = np.searchsorted(ex, cand)
                pos = np.clip(pos, 0, len(ex) - 1)
                seen[maybe] = ex[pos] == cand
            return left[~seen]

        return (tagged.groupBy("_bucket")
                .cogroup(self._seen_state.groupBy("bucket"))
                .applyInPandas(probe, schema)
                .select(*cols))

    def _bucket_col(self):
        """Host bucket of a frontier row — JVM-side, identical on the probe
        and update paths (F.xxhash64 == urlnorm.xxhash64_py, seed 42)."""
        return F.pmod(
            F.xxhash64(F.coalesce(F.col("host"), F.lit(""))),
            F.lit(self.bloom_buckets)).cast("int")

    def _note_seen(self, admitted: DataFrame, n_rows: int) -> None:
        """Fold ``n_rows`` admitted URLs into the URL-seen state.

        ``admitted`` must be lineage-stable: a filter over checkpointed
        blocks (a round's admitted rows) or a scan of committed files (the
        ``seen`` rounds a resumed crawl starts from). It carries
        ``url_hash`` and ``host``.

        ``auto`` backend: append its key column as a new seen part — zero
        extra jobs; ``n_rows`` keeps the broadcast decision exact.

        ``cuckoo`` backend: deltas are built distributively (one row per
        host bucket via applyInPandas: cuckoo table + sorted hash array) so
        only ``n_buckets`` delta rows — not per-URL rows — cross stages;
        they merge into the executor-resident state table via a
        co-partitioned cogroup (sorted-array union + incremental insert),
        and the new state checkpoints eagerly. The driver never touches
        per-URL data — it only swaps the DataFrame handle."""
        if self.seen_mode == "auto":
            self._seen_parts.append(admitted.select("url_hash"))
            self._seen_count += n_rows
            if len(self._seen_parts) >= self.seen_compact_parts:
                # compaction: deep crawls would otherwise union one part
                # per round — linear lineage and one scan-leaf per round.
                # One merged checkpoint every K rounds keeps the anti-join
                # a single leaf; total recheckpoint cost is O(seen·R/K).
                self._seen_parts = [_checkpoint_truncated(
                    reduce(DataFrame.unionByName, self._seen_parts))]
            return

        def build_delta(pdf: pd.DataFrame) -> pd.DataFrame:
            import numpy as np
            hashes = np.unique(pdf["url_hash"].to_numpy(dtype=np.int64))
            return pd.DataFrame(
                {"bucket": [int(pdf["bucket"].iloc[0])],
                 "cuckoo": [cuckoo_mod.build(hashes).tobytes()],
                 "hashes": [hashes.tobytes()]})

        deltas = (
            admitted.select("url_hash", self._bucket_col().alias("bucket"))
            .groupBy("bucket")
            .applyInPandas(build_delta, _STATE_SCHEMA)
        )
        if self._seen_state is None:
            new_state = deltas
        else:
            def merge_state(left: pd.DataFrame,
                            right: pd.DataFrame) -> pd.DataFrame:
                import numpy as np
                rows = pd.concat([left, right], ignore_index=True)
                if len(rows) <= 1:
                    return rows
                ex0 = np.frombuffer(rows["hashes"].iloc[0], dtype=np.int64)
                ex = ex0
                for i in range(1, len(rows)):
                    ex = np.union1d(ex, np.frombuffer(
                        rows["hashes"].iloc[i], dtype=np.int64))
                # insert only the genuinely-new keys into row 0's table;
                # saturation (add_many -> None) rebuilds at the next
                # power-of-two size from the exact array, so the filter
                # can never report a false negative
                t = cuckoo_mod.from_bytes(rows["cuckoo"].iloc[0])
                t = cuckoo_mod.add_many(t, np.setdiff1d(ex, ex0))
                if t is None:
                    t = cuckoo_mod.build(ex)
                return pd.DataFrame({
                    "bucket": [int(rows["bucket"].iloc[0])],
                    "cuckoo": [t.tobytes()], "hashes": [ex.tobytes()]})

            new_state = (self._seen_state.groupBy("bucket")
                         .cogroup(deltas.groupBy("bucket"))
                         .applyInPandas(merge_state, _STATE_SCHEMA))
        # eager: materialize the new state from the old checkpoint blocks
        # BEFORE dropping the old handle (ContextCleaner then reclaims the
        # old blocks). One bounded job per round: n_buckets rows.
        self._seen_state = _checkpoint_truncated(new_state)

    # ------------------------------------------------------------------
    # fetch
    # ------------------------------------------------------------------

    def _fetch_join(self, frontier: DataFrame, round_size: int) -> DataFrame:
        """frontier ⋈ pages on url_hash. Small rounds broadcast the frontier
        (corpus-side scan stays shuffle-free); large rounds fall back to a
        shuffle hash join that AQE can skew-split.

        The outer-join shape matters enormously: a naive
        ``pages.join(broadcast(frontier), 'right')`` CANNOT honor the hint
        (RightOuter only supports BuildLeft) and silently degrades to
        broadcasting/shuffling the whole html corpus every round. So the
        broadcast path is INNER join (hits; corpus html never moves) plus a
        key-only broadcast LEFT ANTI for the 404 misses — the anti side
        carries just ``url_hash`` longs, never page bytes."""
        if 0 < round_size <= self.broadcast_threshold:
            hits = self.pages.join(F.broadcast(frontier), "url_hash",
                                   "inner")
            misses = (
                frontier.join(F.broadcast(self.pages.select("url_hash")),
                              "url_hash", "left_anti")
                .withColumn("page_url", F.lit(None).cast("string"))
                .withColumn("html", F.lit(None).cast("binary"))
            )
            if self._has_src_status:
                misses = misses.withColumn(
                    "src_status", F.lit(None).cast("int"))
            if self._has_content_type:
                misses = misses.withColumn(
                    "content_type", F.lit(None).cast("string"))
            joined = hits.unionByName(misses.select(*hits.columns))
        else:
            joined = frontier.join(self.pages.hint("shuffle_hash"),
                                   "url_hash", "left")
        return self._with_response_meta(joined)

    def _with_response_meta(self, joined: DataFrame) -> DataFrame:
        """Attach the page's REAL response metadata (status, content-type)
        so process_response hooks behave identically in crawl mode and
        chain mode; tables without those columns default to 200 /
        text/html, misses to 404."""
        status = F.when(F.col("html").isNull(), F.lit(404))
        if self._has_src_status:
            status = status.otherwise(
                F.coalesce(F.col("src_status"), F.lit(200)))
        else:
            status = status.otherwise(F.lit(200))
        out = joined.withColumn("page_status", status)
        if self._has_content_type:
            out = out.withColumn(
                "content_type",
                F.coalesce(F.col("content_type"), F.lit("text/html")))
        else:
            out = out.withColumn("content_type", F.lit("text/html"))
        return out

    # ------------------------------------------------------------------
    # chain mode
    # ------------------------------------------------------------------

    def run_chain(self, chain: Chain, max_rounds: int = 25):
        """Execute a full chain distributively; returns a DataFrame with one
        ``value_json`` string column of assembled root records.

        Fully distributed: every round is (fetch join + mapInPandas →
        localCheckpoint); record-skeleton rows (open/child/root) stay in
        DataFrames, and final assembly is a ``groupBy(root_id).
        applyInPandas`` — the distributed sort-agg merge of SURVEY §2.4
        (each record tree assembles on one executor, keyed by the root id
        threaded through every continuation). The all-failed fallback merge
        (reference lib/Command.js:168-180) is a per-origin count join, also
        distributed. The only driver-side values are per-round counts."""
        chains = collect_chains(chain)
        frontier = _frontier_df(self.spark, initial_continuations(chain))
        n_frontier = frontier.count()
        out_parts: list[DataFrame] = []
        frontier_parts: list[DataFrame] = []
        round_no = 0

        while n_frontier > 0 and round_no < max_rounds:
            frontier_parts.append(frontier)
            if self.state is not None:
                self.state.commit_round("frontier", round_no, frontier,
                                        meta={"size": n_frontier})
            out = _checkpoint_truncated(
                _extract_width(self._fetch_join(frontier, n_frontier),
                               n_frontier)
                .mapInPandas(make_extract_udf(chains, round_no), OUT_SCHEMA))
            out_parts.append(out)
            self._pending_metrics.append(
                out.filter(F.col("row_kind") == "metric")
                   .select(F.lit(round_no).alias("round"), "host",
                           "fetched", "parsed", "errors"))
            frontier = out.filter(F.col("row_kind") == "cont") \
                          .select(*_FRONTIER_COLS)
            n_frontier = frontier.count()
            round_no += 1

        self._flush_metrics()
        if not out_parts:
            return self.spark.createDataFrame([], "value_json string")
        allout = reduce(DataFrame.unionByName, out_parts)

        # all-failed fallback (per-origin count join): an origin whose every
        # continuation 404'd merges its accumulated partial
        fronts = reduce(DataFrame.unionByName, frontier_parts)
        n_in = (fronts.filter(F.col("origin_id").isNotNull())
                .groupBy("origin_id").agg(F.count("*").alias("_n_in")))
        fails = allout.filter(F.col("row_kind") == "fail")
        # every fail row of an origin carries identical ancestry/partial
        # values (extract.py emits them from the origin's single record),
        # so min() — deterministic across partitions, unlike first() —
        # selects exactly that shared value
        fallback = (
            fails.groupBy("origin_id")
            .agg(F.count("*").alias("_n_fail"),
                 F.min("parent_record_id").alias("parent_record_id"),
                 F.min("index_key").alias("index_key"),
                 F.min("is_array").alias("is_array"),
                 F.min("origin_sort_index").alias("sort_index"),
                 F.min("partial_json").alias("value_json"),
                 F.min("root_id").alias("root_id"))
            .join(n_in, "origin_id")
            .filter(F.col("_n_fail") >= F.col("_n_in"))
            .filter(F.col("value_json").isNotNull()
                    & ~F.col("value_json").isin("{}", "[]"))
            .select(F.lit("child").alias("row_kind"),
                    F.lit(None).cast("string").alias("record_id"),
                    "parent_record_id", "index_key", "is_array",
                    "sort_index", F.lit(0).cast("long").alias("seq"),
                    F.lit(None).cast("string").alias("partial_json"),
                    "value_json", "root_id")
        )

        node_cols = ["row_kind", "record_id", "parent_record_id",
                     "index_key", "is_array", "sort_index", "seq",
                     "partial_json", "value_json", "root_id"]
        nodes = (allout.filter(F.col("row_kind").isin("open", "child"))
                 .select(*node_cols)
                 .unionByName(fallback.select(*node_cols)))

        def assemble_group(pdf: pd.DataFrame) -> pd.DataFrame:
            recs = pdf.to_dict("records")
            opens = [r for r in recs if r["row_kind"] == "open"]
            children = [r for r in recs if r["row_kind"] == "child"]
            for r in opens + children:
                for k, v in list(r.items()):
                    # nullable Int64/boolean dtypes yield pd.NA scalars
                    if v is not None and not isinstance(
                            v, (str, bytes, list, dict)) and pd.isna(v):
                        r[k] = None
            roots = assemble_records(opens, children)
            rid = pdf["root_id"].iloc[0] if len(pdf) else None
            return pd.DataFrame({
                "root_id": [rid] * len(roots),
                "value_json": [json.dumps(v, ensure_ascii=False,
                                          separators=(",", ":"))
                               for v in roots]})

        assembled = (nodes.filter(F.col("root_id").isNotNull())
                     .groupBy("root_id")
                     .applyInPandas(assemble_group,
                                    "root_id string, value_json string"))

        closed = allout.filter(F.col("row_kind") == "root") \
            .filter(F.col("value_json").isNotNull())
        # deterministic output order: in-page-closed roots by emission
        # lineage first, then assembled trees by root id. seq sorts as a
        # NUMBER (a string cast would order seq "10" before "2", diverging
        # from the sync interpreter's emission order on pages closing ≥10
        # roots)
        result = (closed
                  .select("value_json",
                          F.col("url_hash").cast("string").alias("_k1"),
                          F.col("seq").cast("long").alias("_k2"))
                  .unionByName(assembled.select(
                      "value_json", F.col("root_id").alias("_k1"),
                      F.lit(0).cast("long").alias("_k2")))
                  .orderBy("_k1", "_k2")
                  .select("value_json"))
        return result

    @property
    def metrics(self) -> DataFrame | None:
        """Per-host crawl metrics (round, host, fetched, parsed, errors):
        the committed ``metrics`` state table when a TableIO is attached,
        else the lazy aggregate of this engine's runs; None before any
        run. Never collected — a web-scale crawl has 10^6–10^7 hosts,
        which would OOM a driver-side list."""
        if self.state is not None:
            return self.state.read_all("metrics")
        return self._metrics

    def _flush_metrics(self) -> None:
        """Aggregate all rounds' per-partition metric rows in ONE frame
        (the per-round rows read from already-checkpointed blocks; the
        deferred 404-miss anti-joins execute with it, once, not per
        round): committed to the ``metrics`` state table in one job when
        a TableIO is attached, kept lazy otherwise."""
        if not self._pending_metrics:
            return
        union = reduce(DataFrame.unionByName, self._pending_metrics)
        self._pending_metrics = []
        agg = (union.groupBy("round", "host")
               .agg(F.sum("fetched").alias("fetched"),
                    F.sum("parsed").alias("parsed"),
                    F.sum("errors").alias("errors")))
        if self.state is not None:
            # monotone commit key across resumed runs (each flush appends
            # a new metrics round; read_all("metrics") unions them)
            self.state.commit_round(
                "metrics", self.state.last_round("metrics") + 1, agg)
        else:
            self._metrics = (agg if self._metrics is None
                             else self._metrics.unionByName(agg))

    # ------------------------------------------------------------------
    # whole-corpus extraction (no frontier recursion)
    # ------------------------------------------------------------------

    def extract_corpus(self, extract_spec: dict,
                       follow_selector: str | None = None) -> DataFrame:
        """Apply an extraction spec to every page of the corpus in one pass
        (the 'extract everything' mode): a single mapInPandas over the scan,
        zero shuffles, records close per page."""
        frontier_like = self._with_response_meta(self.pages).select(
            "url_hash", F.col("page_url").alias("url"), "html",
            "page_status", "content_type", F.lit(0).alias("depth"),
            F.lit(None).cast("string").alias("referer"),
            F.lit(None).cast("string").alias("host"),
        )
        out = frontier_like.mapInPandas(
            make_crawl_udf(extract_spec, follow_selector), OUT_SCHEMA)
        return (out.filter(F.col("row_kind") == "root")
                .select("url", "value_json"))

    def fetch_log(self, urls: list[str],
                  extract_spec: dict | None = None) -> DataFrame:
        """One fetch round over an explicit URL list (no recursion): the
        reference's fetch-error taxonomy (reference lib/Request.js:30-68
        — 404 miss, empty body, parse-to-no-root, hook failure) as a
        queryable per-URL surface. Returns (url, fetched, parsed, errors,
        error_msg); ``error_msg`` is NULL on success.

        Same distributed shape as a crawl round — broadcast fetch join +
        one mapInPandas — so every input row yields exactly one log row;
        at scale, pass the round's admitted frontier through the same
        pipeline instead of a driver-side list."""
        frontier = seed_frontier(self.spark, urls)
        joined = _extract_width(self._fetch_join(frontier, len(urls)),
                                len(urls))
        out = joined.select("url", "url_hash", "host", "depth", "referer",
                            "html", "page_status", "content_type") \
            .mapInPandas(make_crawl_udf(extract_spec, None), OUT_SCHEMA)
        m = (out.filter(F.col("row_kind") == "metric")
             .select("url_hash", "fetched", "parsed", "errors",
                     "error_msg"))
        return (frontier.select("url", "url_hash")
                .join(m, "url_hash").drop("url_hash"))

    # ------------------------------------------------------------------
    # crawl mode — the 10^10-scale path
    # ------------------------------------------------------------------

    def run_crawl(
        self,
        seed_urls: list[str],
        follow_selector: str,
        extract_spec: dict | None = None,
        max_depth: int = 3,
        max_rounds: int | None = None,
        resume_frontier: DataFrame | None = None,
        start_round: int = 0,
        process_response=None,
        respect_meta_robots: bool = False,
    ):
        """Seed → extract → follow recursion with URL-seen dedup, robots,
        politeness and DFS-priority admission. Records close per page (no
        cross-page record trees), so nothing is ever collected to the
        driver except per-round counts and bucket-sized cuckoo deltas.

        State: with a TableIO attached, round k commits ``seen``, then
        ``records``, then ``frontier``; round k exists once ``frontier``
        round k is in its manifest. Resume: pass ``resume_frontier`` (that
        round, ``state.read_round("frontier", k)``) and ``start_round=k+1``.
        The URL-seen set is rebuilt from ``seen`` rounds ≤ k only, so the
        ``seen``/``records`` commits of a round that died mid-way are inert;
        the resumed run re-commits over them. The returned records are the
        committed ``records`` rounds up to the last round this run
        committed.

        Returns (records_df(url, depth, value_json), visit_rounds) where
        visit_rounds is the per-round admitted visit log metadata."""
        spark = self.spark

        if resume_frontier is not None:
            frontier = resume_frontier.select(*_FRONTIER_COLS)
            if self.dedup and self.state is not None:
                # seen table persists (url_hash, host): host keys the
                # URL-seen bucket, so rebuild must bucket identically
                prior = self.state.read_all("seen",
                                            max_round=start_round - 1)
                if prior is not None:
                    self._note_seen(prior, prior.count())
        else:
            frontier = _fold(self._url_prep, seed_frontier(spark, seed_urls))

        records: DataFrame | None = None
        round_no = start_round
        visit_meta = []
        max_rounds = max_rounds if max_rounds is not None else max_depth + 1
        end_round = start_round + max_rounds

        # the engine recomputes cont url_hash JVM-side (F.xxhash64 ==
        # xxhash64_py, verified) — the UDF skips per-link Python hashing
        crawl_udf = make_crawl_udf(extract_spec, follow_selector,
                                   hash_conts=False,
                                   process_response=process_response,
                                   respect_meta_robots=respect_meta_robots)

        # Each round is exactly TWO substantial jobs, both fully parallel:
        #   A. the admission stages → localCheckpoint
        #   B. fetch join + extraction UDF → localCheckpoint
        # plus O(1) block-scan counts. No persist/unpersist dance: every
        # derived frame (admitted, deferred, seen part, records, next
        # frontier) is a filter over checkpointed blocks.
        #
        # Iterative loops pay fixed task-launch latency per shuffle stage;
        # a 10k-row late-crawl round does not need 64 reduce tasks × 3
        # admission shuffles. With AQE on, AQE coalesces them at runtime;
        # with AQE off the engine does the same job itself, sizing
        # spark.sql.shuffle.partitions per round from the frontier size
        # (PLANS §8).
        #
        # The extract stage is sized the same way: the fetch join keeps the
        # corpus's partitioning, which would launch one Python UDF task per
        # corpus partition however few URLs the round admitted, and small
        # UDF batches are dominated by per-task overhead. _extract_width
        # coalesces the joined frame to ~EXTRACT_PAGES_PER_TASK pages per
        # task; large rounds keep full width.
        default_shuffle = None
        if spark.conf.get("spark.sql.adaptive.enabled").lower() != "true":
            default_shuffle = int(
                spark.conf.get("spark.sql.shuffle.partitions"))
        try:
            while round_no < end_round:
                phase_t: dict[str, float] = {}
                if default_shuffle is not None:
                    # one cheap scan over checkpointed blocks
                    n_est = frontier.count()
                    target = max(8, min(default_shuffle, n_est // 1500 + 1))
                    spark.conf.set("spark.sql.shuffle.partitions", str(target))
                t0 = time.perf_counter()
                self._round = round_no
                ranked = _checkpoint_truncated(
                    _fold(self._admission, frontier))
                if self.politeness:
                    admitted = ranked.filter(
                        F.col("_rank") <= F.col("_slots")).drop("_rank", "_slots")
                    deferred = ranked.filter(
                        F.col("_rank") > F.col("_slots")).drop("_rank", "_slots")
                else:
                    admitted, deferred = ranked, None
                n_admitted = admitted.count()
                phase_t["dedup_admit"] = round(time.perf_counter() - t0, 2)
                if n_admitted == 0:
                    break

                t0 = time.perf_counter()
                if self.dedup:
                    self._note_seen(admitted, n_admitted)
                    if self.state is not None:
                        # persist the round's admitted ids so a resumed crawl
                        # rebuilds the URL-seen buckets (north rule: resumable)
                        self.state.commit_round(
                            "seen", round_no, admitted.select("url_hash", "host"))
                phase_t["seen_update"] = round(time.perf_counter() - t0, 2)

                t0 = time.perf_counter()
                if 0 < n_admitted <= self.broadcast_threshold:
                    # hot path: INNER broadcast join only — corpus html never
                    # moves, no 404 union in the round job. The miss metrics
                    # (key-only anti-join over the checkpointed admitted blocks)
                    # are deferred to the single _flush_metrics frame.
                    joined = self._with_response_meta(
                        self.pages.join(F.broadcast(admitted), "url_hash",
                                        "inner"))
                    self._pending_metrics.append(
                        admitted.join(
                            F.broadcast(self.pages.select("url_hash")),
                            "url_hash", "left_anti")
                        .groupBy("host")
                        .agg(F.count("*").alias("fetched"),
                             F.lit(0).cast("long").alias("parsed"),
                             F.count("*").alias("errors"))
                        .withColumn("round", F.lit(round_no)))
                else:
                    joined = self._fetch_join(admitted, n_admitted)
                out = _extract_width(joined, n_admitted) \
                    .select("url", "url_hash", "host", "depth", "referer",
                            "html", "page_status", "content_type") \
                    .mapInPandas(crawl_udf, OUT_SCHEMA)
                # ONE materialization per round: everything downstream (records,
                # next frontier, metrics) reads the checkpointed blocks
                out = _checkpoint_truncated(out)
                phase_t["extract"] = round(time.perf_counter() - t0, 2)

                t0 = time.perf_counter()
                round_records = out.filter(F.col("row_kind") == "root").select(
                    "url", "depth", "value_json")
                # metrics aggregate lazily (one frame at the end, not per
                # round); normalized to the narrow (round, host, fetched,
                # parsed, errors) shape shared with the deferred miss metrics
                self._pending_metrics.append(
                    out.filter(F.col("row_kind") == "metric")
                       .select(F.lit(round_no).alias("round"), "host",
                               "fetched", "parsed", "errors"))

                conts = _fold(self._url_prep,
                              out.filter(F.col("row_kind") == "cont")
                              .filter(F.col("depth") <= max_depth))
                if deferred is not None:
                    conts = conts.unionByName(deferred.select(*_FRONTIER_COLS))

                if self.state is not None:
                    self.state.commit_round(
                        "records", round_no, round_records,
                        meta={"admitted": n_admitted})
                    # the round's commit point (north rule: resumable)
                    self.state.commit_round("frontier", round_no, conts)
                else:
                    records = (round_records if records is None
                               else records.unionByName(round_records))
                phase_t["commit"] = round(time.perf_counter() - t0, 2)

                self._total_admitted += n_admitted
                self._total_rounds += 1
                visit_meta.append({
                    "round": round_no, "admitted": n_admitted,
                    "phases": phase_t, "rss_mb": round(_rss_mb(), 1),
                })
                frontier = conts
                round_no += 1
                if self.on_round_end is not None:
                    self.on_round_end(visit_meta[-1])
                if self._pause_requested:
                    # chain-level .pause() analogue (reference index.js:364-382)
                    # at round granularity: the round just committed is the
                    # resume point — run_crawl(resume_frontier=state.read_round(
                    # 'frontier', k), start_round=k+1) continues the crawl
                    break

        finally:
            if default_shuffle is not None:
                spark.conf.set("spark.sql.shuffle.partitions",
                               str(default_shuffle))
        self._flush_metrics()
        if self.state is not None:
            records = self.state.read_all("records", max_round=round_no - 1)
            if records is not None:
                records = records.select("url", "depth", "value_json")
        if records is None:
            records = spark.createDataFrame(
                [], "url string, depth int, value_json string")
        return records, visit_meta


def _rehash(frontier: DataFrame) -> DataFrame:
    """rehash: recompute url_hash JVM-side from the (possibly rewritten)
    url and project onto the frontier columns."""
    return (frontier.withColumn("url_hash", F.xxhash64("url"))
            .select(*_FRONTIER_COLS))


def _rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def assemble_records(opens: list[dict], children: list[dict]) -> list:
    """Pure bottom-up assembly shared by driver fold and applyInPandas.

    opens: (record_id, parent_record_id, index_key, is_array, sort_index,
    partial_json, seq); children: (parent_record_id, index_key, is_array,
    sort_index, seq, value_json). Returns completed root objects."""
    by_id = {o["record_id"]: dict(o) for o in opens}
    kids: dict[str | None, list[dict]] = {}
    for c in children:
        kids.setdefault(c["parent_record_id"], []).append(dict(c))
    # open records that are parents of other open records
    open_parents = {o["parent_record_id"] for o in opens
                    if o["parent_record_id"] in by_id}
    remaining = dict(by_id)
    roots: list = []

    def close(o: dict):
        partial = (json.loads(o["partial_json"])
                   if o.get("partial_json") is not None else None)
        own_kids = kids.pop(o["record_id"], [])
        if partial is None and not own_kids:
            return None  # empty record: never merged (Data.js:284-286)
        obj = partial if partial is not None else (
            [] if o.get("is_array") else {})
        # group by key, order by (sort_index, seq) — the distributed sortKey
        own_kids.sort(key=lambda c: (
            c["index_key"] is None, c["index_key"] or "",
            c["sort_index"] if c["sort_index"] is not None else 1 << 60,
            c["seq"] if c["seq"] is not None else 0))
        if isinstance(obj, list):
            own_kids.sort(key=lambda c: (
                c["sort_index"] if c["sort_index"] is not None else 1 << 60,
                c["seq"] if c["seq"] is not None else 0))
        for c in own_kids:
            val = (json.loads(c["value_json"])
                   if c.get("value_json") is not None else None)
            merge_value(obj, c.get("index_key"), val, isinstance(obj, list))
        return obj

    progress = True
    while remaining and progress:
        progress = False
        closable = [
            rid for rid, o in remaining.items()
            if not any(p.get("parent_record_id") == rid
                       for p in remaining.values() if p is not o)
        ]
        for rid in closable:
            o = remaining.pop(rid)
            obj = close(o)
            progress = True
            if obj is None:
                continue
            pid = o.get("parent_record_id")
            if pid is None:
                roots.append(obj)
            else:
                kids.setdefault(pid, []).append({
                    "parent_record_id": pid,
                    "index_key": o.get("index_key"),
                    "sort_index": o.get("sort_index"),
                    "seq": o.get("seq"),
                    "value_json": json.dumps(obj, ensure_ascii=False),
                })
    return roots

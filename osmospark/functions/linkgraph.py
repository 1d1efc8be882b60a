"""Link-graph scoring over a crawled corpus — the classic frontier
prioritizer: pages earning link mass get fetch slots first (the
priority-queue input the north rule's scheduler consumes; complements
the reference's depth-first ordering, which stays the default).

``link_rank`` is PageRank with INTEGER arithmetic: ranks are micro-units
(1e6 per node at start) and every step is bigint division/addition, so
the result is bit-exactly reproducible on any engine and any partition
order — no floating-point summation-order drift between Spark and the
DuckDB oracle. Per iteration: one join of edges to the current ranks on
``src`` plus one ``groupBy(dst)`` shuffle with map-side partial sums.
Dangling mass (nodes without out-links) is dropped, the standard
simplification; the damping base re-injects rank floor every step.

At 100 TB the edge table is the big side: it shuffles ONCE per iteration
on its natural keys, the rank table is nodes-sized, and iterations are
few (3-5 for crawl prioritization) so lineage stays shallow; deeper runs
flatten lineage via the built-in ``checkpoint_every`` knob (stats-reset
eager checkpoints, same mechanism as the crawl engine's round loop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

RANK_UNIT = 1_000_000
DAMPING_PCT = 85


def link_rank(edges: DataFrame, iters: int = 3,
              damping_pct: int = DAMPING_PCT,
              unit: int = RANK_UNIT,
              checkpoint_every: int = 5,
              dangling: str = "drop") -> DataFrame:
    """Integer PageRank over (src, dst) edges.

    Output: (node_id, rank_u) — rank in micro-units, ordered by node.
    new_rank = unit·(100−damping)/100 + (damping · Σ in(u//out_deg)) div 100,
    all bigint (div truncates; every value is positive so Spark's ``div``
    and DuckDB's ``//`` agree).

    Dangling mass: with ``dangling="drop"`` (default) nodes with no
    out-links leak their rank each step (the standard simplification) —
    fine for RELATIVE frontier ordering, which is what the priority
    queue consumes; absolute rank sums are not conserved. With
    ``dangling="redistribute"`` each iteration adds the dangling nodes'
    total rank, integer-divided by the node count, to every node's
    inflow before damping (the textbook uniform teleport of dangling
    mass, still all-bigint): one extra 1-row aggregate per iteration
    (a left-anti sum over the nodes-sized rank frame) cross-joined back
    — no extra shuffle of the edge table.

    ``checkpoint_every``: every k iterations the (nodes-sized) rank frame
    is eagerly checkpointed with Catalyst size stats RESET (the engine's
    ``_checkpoint_truncated``) — each iteration joins the rank frame
    against the fixed edge/degree frames, so both the lineage depth and
    the preserved ``sizeInBytes`` estimate otherwise grow multiplicatively
    per iteration and deep runs (20+ iterations at scale) stall the
    driver in plan analysis. 0 disables (short runs / tests)."""
    src = F.col("src").cast("bigint")
    dst = F.col("dst").cast("bigint")
    e = edges.select(src.alias("src"), dst.alias("dst"))
    nodes = (e.select(F.col("src").alias("node_id"))
             .union(e.select(F.col("dst").alias("node_id")))
             .distinct())
    deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
    base = unit * (100 - damping_pct) // 100
    r = nodes.withColumn("rank_u", F.lit(unit).cast("bigint"))
    if dangling not in ("drop", "redistribute"):
        raise ValueError(f"unknown dangling mode {dangling!r}")
    n_nodes = nodes.count() if dangling == "redistribute" else None
    for i in range(iters):
        contrib = (e.join(deg, "src")
                   .join(r.withColumnRenamed("node_id", "src"), "src")
                   .select("dst", F.expr("rank_u div out_deg").alias("c")))
        inflow = contrib.groupBy("dst").agg(F.sum("c").alias("flow"))
        if dangling == "redistribute":
            dang = (r.join(deg.select(F.col("src").alias("node_id")),
                           "node_id", "left_anti")
                    .agg(F.coalesce(F.sum("rank_u"),
                                    F.lit(0).cast("bigint"))
                         .alias("_dang")))
            r = (nodes.join(inflow,
                            nodes["node_id"] == inflow["dst"], "left")
                 .crossJoin(F.broadcast(dang))
                 .select("node_id",
                         (F.lit(base) + F.expr(
                             f"({damping_pct} * (coalesce(flow, 0L) + "
                             f"(_dang div {n_nodes}))) div 100"))
                         .cast("bigint").alias("rank_u")))
        else:
            r = (nodes.join(inflow,
                            nodes["node_id"] == inflow["dst"], "left")
                 .select("node_id",
                         (F.lit(base) + F.expr(
                             f"({damping_pct} * coalesce(flow, 0L)) div 100"))
                         .cast("bigint").alias("rank_u")))
        if checkpoint_every and (i + 1) % checkpoint_every == 0 \
                and i + 1 < iters:
            from ..frontier.engine import _checkpoint_truncated
            r = _checkpoint_truncated(r)
    return r.orderBy("node_id")


def trust_rank(edges: DataFrame, trusted: DataFrame, iters: int = 3,
               damping_pct: int = DAMPING_PCT, unit: int = RANK_UNIT,
               checkpoint_every: int = 5) -> DataFrame:
    """Integer TrustRank (Gyöngyi, Garcia-Molina, Pedersen, VLDB 2004):
    PageRank with the teleport restricted to a trusted seed set — the
    anti-spam companion to ``link_rank``. Link farms can manufacture
    arbitrary in-link mass, but trust only flows OUT of hand-vetted
    seeds, so a page unreachable from the seed set scores zero no
    matter how many spam pages point at it. The crawl scheduler uses
    it the same way as ``link_rank`` (``priority_df``), and the gap
    between the two (spam mass, Gyöngyi et al. 2006) flags hosts whose
    PageRank is NOT backed by trusted endorsement.

    ``trusted`` is a (node_id) DataFrame; seeds absent from the graph
    are ignored. Total teleport mass matches ``link_rank`` (unit per
    node, base per node) but concentrates on the seeds: each trusted
    node starts at ``unit·n_nodes div n_trusted`` and re-receives
    ``base·n_nodes div n_trusted`` every step, everyone else 0 — so
    scores are comparable across the two rankers and every operand
    stays bigint-bounded (≤ unit·n_nodes ≈ 1e16 at 10^10 nodes).

    Scale shape is ``link_rank``'s exactly: per iteration the edge
    table shuffles once on its natural keys (join on src + groupBy(dst)
    with map-side partials); the trusted flag is a nodes-sized left
    join planned as a broadcast at any realistic seed-set size;
    ``checkpoint_every`` flattens lineage for deep runs.
    """
    e = edges.select(F.col("src").cast("bigint").alias("src"),
                     F.col("dst").cast("bigint").alias("dst"))
    nodes = (e.select(F.col("src").alias("node_id"))
             .union(e.select(F.col("dst").alias("node_id")))
             .distinct())
    t = (trusted.select(F.col("node_id").cast("bigint").alias("node_id"))
         .distinct().join(nodes, "node_id", "left_semi"))
    n_nodes = nodes.count()
    n_trusted = t.count()
    if n_trusted == 0:
        raise ValueError(
            "trust_rank: trusted set shares no nodes with the graph")
    deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
    base_t = (unit * (100 - damping_pct) // 100) * n_nodes // n_trusted
    init_t = unit * n_nodes // n_trusted
    tagged = nodes.join(t.withColumn("_t", F.lit(1)), "node_id", "left")
    r = tagged.select(
        "node_id",
        F.when(F.col("_t").isNotNull(), F.lit(init_t))
        .otherwise(F.lit(0)).cast("bigint").alias("rank_u"))
    for i in range(iters):
        contrib = (e.join(deg, "src")
                   .join(r.withColumnRenamed("node_id", "src"), "src")
                   .select("dst", F.expr("rank_u div out_deg").alias("c")))
        inflow = contrib.groupBy("dst").agg(F.sum("c").alias("flow"))
        r = (tagged.join(inflow, tagged["node_id"] == inflow["dst"], "left")
             .select("node_id",
                     (F.when(F.col("_t").isNotNull(), F.lit(base_t))
                      .otherwise(F.lit(0)).cast("bigint")
                      + F.expr(
                          f"({damping_pct} * coalesce(flow, 0L)) div 100"))
                     .cast("bigint").alias("rank_u")))
        if checkpoint_every and (i + 1) % checkpoint_every == 0 \
                and i + 1 < iters:
            from ..frontier.engine import _checkpoint_truncated
            r = _checkpoint_truncated(r)
    return r.orderBy("node_id")


def spam_mass(edges: DataFrame, trusted: DataFrame, iters: int = 3,
              damping_pct: int = DAMPING_PCT, unit: int = RANK_UNIT,
              checkpoint_every: int = 5) -> DataFrame:
    """Spam mass (Gyöngyi, Berkhin, Garcia-Molina, Pedersen, VLDB
    2006): how much of a node's PageRank is NOT backed by trusted
    endorsement. Runs ``link_rank`` and ``trust_rank`` over the same
    edges (total teleport mass matches by construction, so the two
    scores are directly comparable) and reports
    ``mass_u = rank_u − trust_u`` plus
    ``rel_permille = (mass_u · 1000) div rank_u`` — near 1000 for
    link-farm targets (all rank, no trust), negative for seed-adjacent
    nodes (more trust than plain rank). The crawl scheduler demotes or
    blocklists high relative-mass hosts. Both inputs are bit-exact
    integers and the subtraction/div pair truncates toward zero in
    both engines, so the oracle agrees on negative values too.

    Cost: the two rank loops share the edge table's natural-key
    shuffle pattern (2 × iters edge joins); the final join is
    nodes-sized."""
    lr = link_rank(edges, iters, damping_pct, unit, checkpoint_every)
    tr = trust_rank(edges, trusted, iters, damping_pct, unit,
                    checkpoint_every)
    return (lr.join(tr.withColumnRenamed("rank_u", "trust_u"), "node_id")
            .select("node_id", "rank_u", "trust_u",
                    (F.col("rank_u") - F.col("trust_u")).cast("bigint")
                    .alias("mass_u"),
                    F.expr("((rank_u - trust_u) * 1000) div rank_u")
                    .cast("bigint").alias("rel_permille"))
            .orderBy("node_id"))


def anchor_texts(edges: DataFrame) -> DataFrame:
    """Aggregate anchor text per link TARGET — the web-scale signal
    search and LLM-pretraining pipelines mine from a crawl's link
    graph (anchors describe the target better than the target's own
    boilerplate; cf. the anchor-text columns of Common Crawl's
    columnar index). Input (src_host, dst_url, anchor).

    Output per dst_url: total in-links, distinct anchor strings,
    distinct linking hosts, the most-frequent anchor (ties → anchor
    asc) and its count. Ordered by dst_url.

    Scale shape: one groupBy(dst_url, anchor) with map-side partial
    counts (the anchor strings collapse BEFORE the per-target window,
    so a 10^6-in-link target with one repeated anchor is one row);
    the per-dst window and total ride the same (dst_url) partitioning
    — Catalyst plans the (dst,anchor)→(dst) pair without a second
    full-width exchange of raw links. Distinct linking hosts is the
    standard two-phase distinct on (dst_url, src_host) pairs.
    """
    from pyspark.sql import Window

    per_anchor = edges.groupBy("dst_url", "anchor").agg(
        F.count("*").alias("cnt"))
    w = Window.partitionBy("dst_url").orderBy(
        F.col("cnt").desc(), F.col("anchor").asc())
    ranked = (per_anchor
              .withColumn("_rn", F.row_number().over(w))
              .withColumn("_total",
                          F.sum("cnt").over(Window.partitionBy("dst_url")))
              .withColumn("_n_anchors",
                          F.count("*").over(Window.partitionBy("dst_url")))
              .filter(F.col("_rn") == 1))
    hosts = (edges.select("dst_url", "src_host").distinct()
             .groupBy("dst_url")
             .agg(F.count("*").alias("n_src_hosts")))
    return (ranked.join(hosts, "dst_url")
            .select("dst_url",
                    F.col("_total").cast("bigint").alias("n_links"),
                    F.col("_n_anchors").cast("bigint").alias("n_anchors"),
                    F.col("n_src_hosts").cast("bigint").alias("n_src_hosts"),
                    F.col("anchor").alias("top_anchor"),
                    F.col("cnt").cast("bigint").alias("top_anchor_cnt"))
            .orderBy("dst_url"))


def hits(edges: DataFrame, iters: int = 2, unit: int = RANK_UNIT,
         checkpoint_every: int = 5) -> DataFrame:
    """Integer HITS (Kleinberg 1999) over (src, dst) edges — hubs and
    authorities for frontier prioritization: authorities are the pages
    worth fetching, hubs the pages worth re-parsing for links.
    PageRank's companion, same all-bigint discipline.

    Per half-iteration the standard normalization (L2 in the float
    formulation) becomes max-normalization in integer space:
    ``x := (x·unit) div max(x)`` — scale-invariant for ranking, keeps
    every value in [0, unit], and a SQL oracle reproduces it
    bit-for-bit (all operands non-negative). Nodes with no in-links
    get authority 0; no out-links, hub 0.

    Scale shape per iteration: two edge-keyed join+aggregate passes
    (edges ⋈ hubs on src → groupBy(dst); edges ⋈ auths on dst →
    groupBy(src)) — the edge table shuffles on its natural keys, rank
    frames are nodes-sized, and the max is a driver-side scalar (one
    1-row aggregate job per half-iteration), so the plan grows linearly
    with ``iters``. ``checkpoint_every`` flattens lineage as in
    ``link_rank``.
    """
    e = edges.select(F.col("src").cast("bigint").alias("src"),
                     F.col("dst").cast("bigint").alias("dst"))
    nodes = (e.select(F.col("src").alias("id"))
             .union(e.select(F.col("dst").alias("id"))).distinct())
    hub = nodes.select("id", F.lit(unit).cast("bigint").alias("h"))
    auth = nodes.select("id", F.lit(0).cast("bigint").alias("a"))

    def _norm(raw: DataFrame, key: str, col: str, out: str) -> DataFrame:
        # the max is fetched as a one-row scalar and divided by as a
        # literal: a cross join to raw's own aggregate would read raw
        # twice, and the plan would grow 4x per iteration
        mx = raw.agg(F.greatest(F.max(col), F.lit(1))).first()[0]
        return (nodes.join(raw.withColumnRenamed(key, "id"), "id", "left")
                .select("id", F.expr(
                    f"(coalesce({col}, 0L) * {unit}) div {mx}L")
                    .cast("bigint").alias(out)))

    for i in range(iters):
        a_raw = (e.join(hub.withColumnRenamed("id", "src"), "src")
                 .groupBy("dst").agg(F.sum("h").alias("_raw")))
        auth = _norm(a_raw, "dst", "_raw", "a")
        h_raw = (e.join(auth.withColumnRenamed("id", "dst"), "dst")
                 .groupBy("src").agg(F.sum("a").alias("_raw")))
        hub = _norm(h_raw, "src", "_raw", "h")
        if checkpoint_every and (i + 1) % checkpoint_every == 0 \
                and i + 1 < iters:
            from ..frontier.engine import _checkpoint_truncated
            hub = _checkpoint_truncated(hub)
            auth = _checkpoint_truncated(auth)
    return (hub.join(auth, "id")
            .select(F.col("id").alias("node_id"),
                    F.col("h").alias("hub_u"),
                    F.col("a").alias("auth_u"))
            .orderBy("node_id"))


def link_farm_features(page_edges: DataFrame) -> DataFrame:
    """Per-host link-graph spam features (the classic link-farm
    signatures from the TrustRank/spam-mass literature, computable
    without any rank iteration):

    - ``out_links`` / ``in_links`` — total page-level degree;
    - ``intra_permille`` — fraction of a host's out-links that stay
      on-host (farms self-link heavily; legitimate hosts mostly do
      navigation);
    - ``recip_permille`` — fraction of a host's distinct CROSS-host
      out-neighbors that link back (farm rings exchange links
      symmetrically; organic endorsement is mostly one-way);
    - ``fanout`` — distinct cross-host out-neighbors.

    Input (src_host, dst_host), one row per page link, same as
    ``host_rank``. Scale shape: one distinct over collapsed host
    pairs plus host-keyed aggregations with map-side partials; the
    reciprocity check is a self-join on the DISTINCT host-pair table
    (hosts², not links², and only realized pairs). All-integer."""
    pe = page_edges.select(F.col("src_host").alias("s"),
                           F.col("dst_host").alias("d"))
    outc = pe.groupBy("s").agg(
        F.count("*").alias("out_links"),
        F.sum(F.when(F.col("s") == F.col("d"), 1).otherwise(0))
        .alias("intra"))
    inc = pe.groupBy("d").agg(F.count("*").alias("in_links"))
    cross = (pe.filter(F.col("s") != F.col("d"))
             .select("s", "d").distinct())
    back = cross.select(F.col("d").alias("s"), F.col("s").alias("d"))
    recip = (cross.join(back, ["s", "d"], "left_semi")
             .groupBy("s").agg(F.count("*").alias("recip")))
    fan = cross.groupBy("s").agg(F.count("*").alias("fanout"))
    hosts = (pe.select(F.col("s").alias("host"))
             .union(pe.select(F.col("d").alias("host"))).distinct())
    return (hosts
            .join(outc.withColumnRenamed("s", "host"), "host", "left")
            .join(inc.withColumnRenamed("d", "host"), "host", "left")
            .join(fan.withColumnRenamed("s", "host"), "host", "left")
            .join(recip.withColumnRenamed("s", "host"), "host", "left")
            .select(
                "host",
                F.coalesce("out_links", F.lit(0)).cast("bigint")
                .alias("out_links"),
                F.coalesce("in_links", F.lit(0)).cast("bigint")
                .alias("in_links"),
                F.coalesce("fanout", F.lit(0)).cast("bigint")
                .alias("fanout"),
                F.when(F.coalesce("out_links", F.lit(0)) > 0,
                       F.expr("(coalesce(intra, 0) * 1000) "
                              "div coalesce(out_links, 1)"))
                .otherwise(F.lit(0)).cast("bigint")
                .alias("intra_permille"),
                F.when(F.coalesce("fanout", F.lit(0)) > 0,
                       F.expr("(coalesce(recip, 0) * 1000) "
                              "div coalesce(fanout, 1)"))
                .otherwise(F.lit(0)).cast("bigint")
                .alias("recip_permille"))
            .orderBy("host"))


def host_rank(page_edges: DataFrame, iters: int = 3,
              damping_pct: int = DAMPING_PCT, unit: int = RANK_UNIT,
              checkpoint_every: int = 5) -> DataFrame:
    """Domain-level authority: weighted integer PageRank over the HOST
    graph — the seed-selection / crawl-budget signal (a host earning
    cross-domain link mass deserves fetch slots before a link farm of
    self-referencing pages; cf. Common Crawl's host-level ranks).

    Input: (src_host, dst_host), ONE ROW PER PAGE-LEVEL LINK. The page
    graph is first collapsed to weighted host edges (intra-host links
    dropped — self-authority is exactly the signal to exclude), then
    each collapsed edge carries an integer out-share
    ``share_milli = (w * 1000) div out_w`` and every iteration flows
    ``(rank_u * share_milli) div 1000`` — the two-step rounding keeps
    every product under ``rank · 1000`` (no bigint overflow at any
    in-degree, same argument as HITS' max-normalization), stays
    bit-exact across engines, and bounds a host's total outflow by its
    rank. Hosts whose every link is intra-host become dangling and
    leak mass, like ``link_rank(dangling='drop')``.

    Scale shape: the page-edge table shuffles ONCE (the collapse
    groupBy); iterations then run on the hosts-sized collapsed graph —
    at 10^10 pages / 10^7 hosts that is a 1000× reduction before any
    iteration, which is why the collapse is part of the operator
    instead of the caller's problem. Per iteration: one join + one
    groupBy(dst) on host keys; ``checkpoint_every`` flattens lineage
    like ``link_rank``.
    """
    pe = page_edges.select(F.col("src_host").alias("s"),
                           F.col("dst_host").alias("d"))
    ce = (pe.filter(F.col("s") != F.col("d"))
          .groupBy("s", "d").agg(F.count("*").alias("w")))
    outw = ce.groupBy("s").agg(F.sum("w").alias("ow"))
    sh = (ce.join(outw, "s")
          .select("s", "d", F.expr("(w * 1000) div ow").alias("sm")))
    nodes = (sh.select(F.col("s").alias("host"))
             .union(sh.select(F.col("d").alias("host"))).distinct())
    base = unit * (100 - damping_pct) // 100
    r = nodes.withColumn("rank_u", F.lit(unit).cast("bigint"))
    for i in range(iters):
        inflow = (sh.join(r.withColumnRenamed("host", "s"), "s")
                  .select("d", F.expr("(rank_u * sm) div 1000").alias("c"))
                  .groupBy("d").agg(F.sum("c").alias("flow")))
        r = (nodes.join(inflow, nodes["host"] == inflow["d"], "left")
             .select("host",
                     (F.lit(base) + F.expr(
                         f"({damping_pct} * coalesce(flow, 0L)) div 100"))
                     .cast("bigint").alias("rank_u")))
        if checkpoint_every and (i + 1) % checkpoint_every == 0 \
                and i + 1 < iters:
            from ..frontier.engine import _checkpoint_truncated
            r = _checkpoint_truncated(r)
    return r.orderBy("host")


def seed_distance(edges: DataFrame, seeds: DataFrame,
                  max_hops: int = 8) -> DataFrame:
    """Minimum hop distance from a seed set over (src, dst) edges —
    the crawl-depth label a frontier assigns when it expands from its
    seed list (the reference's ``max_depth`` compares against exactly
    this number per page; osmosis ``lib/commands/follow.js`` tracks it
    implicitly through chained ``follow`` hops). Output: (node_id,
    dist) for every node reachable within ``max_hops``, dist 0 at the
    seeds; unreachable nodes are absent.

    Delta-frontier BFS, the scale-correct form: each hop joins ONLY
    the newly-discovered frontier (not the whole distance table)
    against the edge table — one src-keyed equi-join plus one distinct
    on dst (map-side partials) per hop, then a left-anti against the
    accumulated table so settled nodes never re-enter. ONLY the new
    frontier is eagerly checkpointed each hop (it is the small side;
    this caps lineage at one join per hop) and the settled table stays
    a union of the already-materialized per-hop frames — total
    checkpoint I/O is O(nodes) over the whole run, not O(nodes·hops)
    (re-checkpointing the accumulated union each hop measured ~1.2×
    slower at 250k nodes / 1M edges, interleaved in-process medians
    10.32 vs 8.69 s). The emptiness probe that stops
    early rides the materialization as a ``head(1)`` on the
    checkpointed frame — no duplicate job. The edge table — the
    100-TB side — shuffles on its natural ``src`` key and is never
    collected or re-keyed.
    """
    from ..frontier.engine import _checkpoint_truncated

    e = edges.select(F.col("src").cast("bigint").alias("src"),
                     F.col("dst").cast("bigint").alias("dst"))
    frontier = _checkpoint_truncated(
        seeds.select(F.col("node_id").cast("bigint").alias("node_id"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("bigint")))
    dist = frontier
    for h in range(1, max_hops + 1):
        nxt = (frontier.withColumnRenamed("node_id", "src")
               .join(e, "src")
               .select(F.col("dst").alias("node_id")).distinct()
               .join(dist, "node_id", "left_anti")
               .withColumn("dist", F.lit(h).cast("bigint")))
        nxt = _checkpoint_truncated(nxt)
        if not nxt.head(1):
            break
        dist = dist.unionByName(nxt)
        frontier = nxt
    return dist.orderBy("node_id")


def cocitation(edges: DataFrame, min_common: int = 2,
               max_source_fanout: int = 10_000,
               mode: str = "cocitation") -> DataFrame:
    """Co-citation similarity (Small 1972, the classic link-structure
    relatedness signal): two targets are related if the same SOURCES
    link to both — the complement of content similarity (mirror_hosts)
    for spam-ring and topic-cluster detection. ``mode='coupling'``
    computes bibliographic coupling instead (two sources are related
    if they cite the same targets) by transposing the edge role.

    Output: (a, b, n_common) with a < b and n_common = number of
    distinct sources citing both (resp. shared targets), filtered to
    ``n_common >= min_common``, ordered.

    Scale shape: (src, dst) dedup first (map-side partials), then the
    dedup family's skew discipline — a hub source citing f targets
    emits f²/2 pairs, so sources over ``max_source_fanout`` are
    dropped via a keys-only broadcast LEFT ANTI whose sizing aggregate
    rides the pairs job (never collected; the drop count is logged, a
    cache hit afterwards). The pair aggregation shuffles only
    (a, b) id tuples with map-side combine.
    """
    import logging

    if mode == "cocitation":
        e = edges.select(F.col("src").cast("bigint").alias("k"),
                         F.col("dst").cast("bigint").alias("v"))
    elif mode == "coupling":
        e = edges.select(F.col("dst").cast("bigint").alias("k"),
                         F.col("src").cast("bigint").alias("v"))
    else:
        raise ValueError(f"unknown mode {mode!r}")
    e = e.distinct().persist()
    hot = (e.groupBy("k").count()
           .filter(F.col("count") > max_source_fanout)
           .select("k").persist())
    joinable = e.join(F.broadcast(hot), "k", "left_anti")
    a, b = joinable.alias("a"), joinable.alias("b")
    out = (a.join(b, (F.col("a.k") == F.col("b.k"))
                  & (F.col("a.v") < F.col("b.v")))
           .select(F.col("a.v").alias("a"), F.col("b.v").alias("b"))
           .groupBy("a", "b")
           .agg(F.count("*").cast("bigint").alias("n_common"))
           .filter(F.col("n_common") >= min_common)
           .orderBy("a", "b"))
    out = out.localCheckpoint(eager=True)
    n_hot = hot.count()
    if n_hot:
        logging.getLogger("osmospark.linkgraph").warning(
            "cocitation: dropped %d sources over fanout cap %d",
            n_hot, max_source_fanout)
    e.unpersist()
    hot.unpersist()
    return out


def graph_stats(edges: DataFrame) -> DataFrame:
    """Degree-distribution histograms — the first diagnostic run on any
    crawled link graph (power-law tails locate hubs and link farms;
    a missing tail means the crawler never escaped its seeds). Output:
    (direction, degree, n_nodes) with direction ∈ out|in, ordered.

    Scale shape: two (node)-keyed degree aggregations (map-side
    partials) each collapsing immediately into a degree-keyed
    histogram whose cardinality is bounded by the max degree — the
    edge table is scanned twice and nothing node-sized survives past
    the second aggregation. No windows, no joins.
    """
    e = edges.select(F.col("src").cast("bigint").alias("src"),
                     F.col("dst").cast("bigint").alias("dst"))

    def hist(key, direction):
        return (e.groupBy(key).agg(F.count("*").alias("degree"))
                .groupBy("degree")
                .agg(F.count("*").cast("bigint").alias("n_nodes"))
                .select(F.lit(direction).alias("direction"),
                        F.col("degree").cast("bigint").alias("degree"),
                        "n_nodes"))

    return (hist("src", "out").unionByName(hist("dst", "in"))
            .orderBy("direction", "degree"))


def communities_lpa(edges: DataFrame, iters: int = 3,
                    checkpoint_every: int = 5) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) with
    DETERMINISTIC tie-breaking — community detection over the link
    graph (finds densely-linked clusters: link farms, forums, site
    sections) where connected components (``dup_clusters``) only finds
    reachability. Labels start as node ids; each iteration every node
    adopts the most frequent label among its neighbors (undirected),
    ties to the SMALLEST label, isolated nodes keep their own. The
    fixed tie-break + synchronous updates make the result a pure
    function of (graph, iters) — bit-identical on any engine or
    partitioning, hence oracle-replayable (randomized/async LPA is
    not). Output: (node_id, label), ordered.

    Scale shape: per iteration ONE join of the undirected edge list to
    the labels table on the neighbor key plus one (node, label)
    aggregation with map-side partials, then a node-keyed argmax via
    struct-max (no windows over the corpus). The edge table shuffles
    on its natural keys; labels stay nodes-sized;
    ``checkpoint_every`` flattens lineage like ``link_rank``.
    """
    e = edges.select(F.col("src").cast("bigint").alias("src"),
                     F.col("dst").cast("bigint").alias("dst"))
    und = (e.select("src", "dst")
           .union(e.select(F.col("dst").alias("src"),
                           F.col("src").alias("dst")))
           .distinct())
    nodes = und.select(F.col("src").alias("node_id")).distinct()
    labels = nodes.withColumn("label", F.col("node_id"))
    for i in range(iters):
        nb = (und.join(labels.withColumnRenamed("node_id", "dst")
                       .withColumnRenamed("label", "_nl"), "dst")
              .select(F.col("src").alias("node_id"), "_nl"))
        cnt = nb.groupBy("node_id", "_nl").agg(F.count("*").alias("_c"))
        new = (cnt.groupBy("node_id")
               .agg(F.max(F.struct(F.col("_c"),
                                   (-F.col("_nl")).alias("_neg")))
                    .alias("_b"))
               .select("node_id", (-F.col("_b._neg")).alias("label")))
        labels = (nodes.join(new, "node_id", "left")
                  .join(labels.withColumnRenamed("label", "_old"),
                        "node_id")
                  .select("node_id",
                          F.coalesce("label", "_old").alias("label")))
        if checkpoint_every and (i + 1) % checkpoint_every == 0 \
                and i + 1 < iters:
            from ..frontier.engine import _checkpoint_truncated
            labels = _checkpoint_truncated(labels)
    return labels.orderBy("node_id")

"""Training-data op tests that go beyond the SQL-oracle contract:
ANN recall, multimodal plumbing, dedup pipeline sanity."""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


def test_ann_lsh_recall(spark, emb):
    from osmospark.functions import brute_force_topk, lsh_topk, recall_at_k
    qids = list(range(8))
    exact = brute_force_topk(emb, qids, k=5)
    approx = lsh_topk(emb, qids, k=5, multiprobe=1)
    r = recall_at_k(exact, approx)
    # random-hyperplane LSH with multiprobe over random embeddings:
    # recall is imperfect by design, but must be substantially better
    # than chance — chance top-5 of ~1000 is ~0.5%
    assert r >= 0.3, f"recall@5 {r}"


def test_ann_lsh_rank_is_exact_within_candidates(spark, emb):
    from osmospark.functions import lsh_topk
    out = lsh_topk(emb, [0], k=5).collect()
    ranks = [r.rank for r in out]
    assert ranks == sorted(ranks)
    assert len({r.neighbor_id for r in out}) == len(out)


def test_ann_ivf_recall(spark, emb):
    from osmospark.functions import brute_force_topk, ivf_topk, recall_at_k
    qids = list(range(8))
    exact = brute_force_topk(emb, qids, k=5)
    approx = ivf_topk(emb, qids, k=5, cells=16, nprobe=4)
    r = recall_at_k(exact, approx)
    # probing 4/16 sampled cells scans ~25% of the corpus; on random
    # embeddings cluster pruning is weak by construction, but recall must
    # still clear chance (~0.5%) by a wide margin
    assert r >= 0.3, f"recall@5 {r}"


def test_ann_ivf_prunes_candidates(spark, emb):
    from osmospark.functions import ivf_topk
    out = ivf_topk(emb, [0], k=5, cells=16, nprobe=4).collect()
    ranks = [r.rank for r in out]
    assert ranks == sorted(ranks) and len(out) <= 5
    assert len({r.neighbor_id for r in out}) == len(out)


@pytest.fixture(scope="module")
def ivf_path(spark, emb, tmp_path_factory):
    from osmospark.functions import ivf_build
    p = str(tmp_path_factory.mktemp("ivf") / "idx")
    ivf_build(emb, p, cells=16)
    return p


def test_ivf_pruned_matches_in_plan(spark, emb, ivf_path):
    # the cell-partitioned table + driver-side probe selection must return
    # exactly what the in-plan (literal-codebook) variant returns — same
    # assignment, same tie order, same rerank
    from osmospark.functions import ivf_topk, ivf_topk_pruned
    qids = list(range(8))
    base = [tuple(r) for r in
            ivf_topk(emb, qids, k=5, cells=16, nprobe=4).collect()]
    pruned = [tuple(r) for r in
              ivf_topk_pruned(spark, ivf_path, qids, k=5, nprobe=4).collect()]
    assert pruned == base


def _scan_num_files(df):
    # runtime file-pruning proof: execute, then read the parquet scan
    # node's numFiles SQL metric (inputFiles() ignores partition filters)
    df.collect()
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    return leaves.head().metrics().apply("numFiles").value()


def test_ivf_pruned_scans_only_probed_cells(spark, ivf_path):
    # partition pruning must be real: a cell IN (...) predicate on the
    # ivf_build table reads only those cell directories' FILES, and the
    # plan carries it as a PartitionFilter (not a post-scan row filter)
    import contextlib
    import io
    import re

    tbl = spark.read.parquet(ivf_path)
    probed = tbl.filter(F.col("cell").isin([0, 3]))
    full_files = _scan_num_files(tbl)
    probed_files = _scan_num_files(probed)
    assert 0 < probed_files < full_files
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probed.explain(True)
    m = re.search(r"PartitionFilters: \[[^\]]*cell[^\]]*IN \(0,3\)", buf.getvalue())
    assert m, "cell IN predicate did not become a PartitionFilter"


def test_cluster_pairs_star_equals_propagate(spark, docs):
    # the O(log^2 n) star algorithm must reach the same min-reachable
    # fixed point as propagation on real near-dup pairs
    from osmospark.functions import dup_clusters
    a = sorted(map(tuple, dup_clusters(docs, 0.5).collect()))
    b = sorted(map(tuple,
                   dup_clusters(docs, 0.5, algorithm="star").collect()))
    assert a == b and len(a) > 0


def test_cluster_pairs_star_converges_where_propagate_cannot(spark):
    # a 200-hop chain: propagation moves the min label one hop per
    # iteration, so a 12-iteration cap cannot converge it; the star
    # algorithm halves chains every round and finishes well inside 12
    from osmospark.functions import cluster_pairs
    pairs = spark.createDataFrame([(i, i + 1) for i in range(200)],
                                  "doc_a long, doc_b long")
    star = cluster_pairs(pairs, max_iters=12, algorithm="star").collect()
    assert len(star) == 201
    assert all(r.cluster_id == 0 for r in star)
    prop = cluster_pairs(pairs, max_iters=12,
                         algorithm="propagate").collect()
    assert any(r.cluster_id != 0 for r in prop)  # cap hit, not converged


def test_cluster_pairs_star_convergence_check_cost(spark):
    """Fixpoint detection must not shuffle the edge set every round: the
    per-round check is one count over the fresh checkpoint's blocks,
    with the bounded left-anti probe only when counts agree. Pinned by
    total task count on a fixed input: the two-exceptAll form measured
    349 tasks / 232 stages here; the count+probe form 296 / 215 — the
    ceiling catches a regression back to per-round full-shuffle checks."""
    from osmospark.functions import cluster_pairs
    sc = spark.sparkContext
    pairs = spark.createDataFrame([(i, i + 1) for i in range(32)],
                                  "doc_a long, doc_b long")
    cluster_pairs(pairs, algorithm="star").collect()  # warm codegen
    st = sc.statusTracker()
    sc.setJobGroup("star_cost", "convergence-cost pin")
    out = cluster_pairs(pairs, algorithm="star").collect()
    sc.setJobGroup(None, None)
    assert sorted((r.doc_id, r.cluster_id) for r in out) == \
        [(i, 0) for i in range(33)]
    tasks = 0
    for j in (st.getJobIdsForGroup("star_cost") or []):
        for s in st.getJobInfo(j).stageIds:
            si = st.getStageInfo(s)
            if si:
                tasks += si.numTasks
    assert 0 < tasks <= 320, f"star run cost regressed: {tasks} tasks"


def test_cluster_pairs_composes_with_simhash(spark):
    # the graph core accepts any candidate-pair producer: two planted
    # near-dup groups via SimHash pairs must cluster to their minima
    from osmospark.functions import cluster_pairs, simhash_near_duplicates
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi")
    other = ("one two three four five six seven eight nine ten eleven "
             "twelve thirteen fourteen fifteen sixteen seventeen eighteen")
    rows = [(0, base), (1, base.replace("omicron", "omega")),
            (2, base.replace("kappa", "kappa2")),
            (10, other), (11, other.replace("nine", "ninety"))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = simhash_near_duplicates(df, max_hamming=12) \
        .select("doc_a", "doc_b")
    got = {r.doc_id: r.cluster_id
           for r in cluster_pairs(pairs, algorithm="star").collect()}
    assert got.get(1) == 0 and got.get(2) == 0
    assert got.get(11) == 10 and got.get(10) == 10


def test_simhash_near_duplicates_planted(spark):
    # one-token edit => tiny Hamming distance; unrelated text => large.
    # Also sanity-check the reported distance against a direct signature
    # comparison (the banding must not change the verified metric).
    from osmospark.functions import simhash, simhash_near_duplicates
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi")
    near = base.replace("omicron", "omega")
    far = ("one two three four five six seven eight nine ten eleven "
           "twelve thirteen fourteen fifteen sixteen seventeen eighteen")
    df = spark.createDataFrame(
        [(0, base), (1, near), (2, far)], "doc_id long, text string")
    out = simhash_near_duplicates(df, max_hamming=12)
    got = {(r.doc_a, r.doc_b): r.hamming for r in out.collect()}
    assert (0, 1) in got
    assert all(2 not in p for p in got)
    sigs = {r.doc_id: r.simhash for r in simhash(df).collect()}
    direct = sum(a != b for a, b in zip(sigs[0], sigs[1]))
    assert got[(0, 1)] == direct <= 12


def test_corpus_pipeline_planted(spark):
    from osmospark.functions import corpus_pipeline
    long = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the quiet green hills beyond the river")
    near = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the quiet green hills beyond the valley")
    rows = [
        (0, long, "en", "s", len(long)),              # survives
        (1, long.upper(), "en", "s", len(long)),      # exact dup of 0 -> out
        (2, near, "en", "s", len(near)),              # near-dup of 0 -> out
        (3, "too short", "en", "s", 9),               # quality gate -> out
        (4, "an entirely different document about the sea and its many "
            "strange and wonderful creatures swimming in it today",
         "en", "s", 110),                             # survives
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    got = corpus_pipeline(df, 0.5).collect()
    assert [r.doc_id for r in got] == [0, 4]
    assert all(r.ws_tokens > 10 for r in got)


def test_dup_clusters_transitive_chain(spark):
    # a-b and b-c are near-dup pairs but a-c may not be: the cluster must
    # still be {a,b,c} with cluster_id = a (transitive closure, which the
    # pair-based keep-lowest rule alone cannot see)
    from osmospark.functions import dup_clusters, near_duplicates
    # sliding 20-word windows over a 28-word base with stride 4: adjacent
    # docs share 16 words (jaccard ~0.64 -> near-dup), the ends share only
    # 12 (jaccard ~0.38 -> NOT a pair at 0.5)
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi "
            "psi omega aleph beth gimel daleth")
    w = base.split()
    assert len(w) == 28
    doc_a = " ".join(w[0:20])
    doc_b = " ".join(w[4:24])
    doc_c = " ".join(w[8:28])
    rows = [(10, doc_a, "en", "s", len(doc_a)),
            (20, doc_b, "en", "s", len(doc_b)),
            (30, doc_c, "en", "s", len(doc_c)),
            (40, "completely unrelated text about something else entirely "
                 "with many different words", "en", "s", 90)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    pairs = {(r.doc_a, r.doc_b)
             for r in near_duplicates(df, 0.5).collect()}
    assert (10, 20) in pairs and (20, 30) in pairs, pairs
    assert (10, 30) not in pairs, pairs   # closure is genuinely transitive
    got = {r.doc_id: r.cluster_id for r in dup_clusters(df, 0.5).collect()}
    assert got == {10: 10, 20: 10, 30: 10}, got


def test_exact_dedup_finds_planted_duplicates(spark):
    from osmospark.functions import exact_duplicates
    rows = [(1, "same text here", "en", "s", 14),
            (2, "same  TEXT here ", "en", "s", 14),   # ws/case normalized
            (3, "different", "en", "s", 9)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    got = exact_duplicates(df).collect()
    assert len(got) == 1
    assert got[0].canonical_id == 1 and got[0].n_copies == 2


def test_near_duplicates_finds_planted_near_dup(spark):
    from osmospark.functions import near_duplicates
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(1, base, "en", "s", len(base)),
            (2, base.replace("lazy", "sleepy"), "en", "s", len(base)),
            (3, "completely unrelated content about database query engines",
             "en", "s", 55)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    pairs = {(r.doc_a, r.doc_b) for r in near_duplicates(df, 0.5).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_partial_duplicates_catches_containment_jaccard_misses(spark):
    """A 7-word quote wholly inside a much larger page: containment of
    the quote is exactly 1000‰ while Jaccard is far below any sane
    near-dup threshold — the asymmetric case partial_duplicates exists
    for. Hand-checked: quote (7 words) has 5 shingles, all inside the
    page's set; page has 38 distinct shingles → c_ba=1000, c_ab =
    5000//38 = 131, Jaccard = 5/38 ≈ 0.13."""
    from osmospark.functions.dedup import near_duplicates, partial_duplicates

    quote = "quick brown fox jumps over the lazy"
    page = ("breaking news from the wire service today " * 4
            + quote + " according to sources familiar with the matter")
    rows = [(1, page), (2, quote), (3, "unrelated text about engines")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.doc_a, r.doc_b): r
           for r in partial_duplicates(docs, threshold_permille=900)
           .collect()}
    assert set(got) == {(1, 2)}
    r = got[(1, 2)]
    assert (r.inter, r.n_b, r.c_ba_permille) == (5, 5, 1000)
    assert r.c_ab_permille == 5000 // r.n_a
    # the Jaccard pipeline cannot see this pair at any useful threshold
    jac = {(x.doc_a, x.doc_b) for x in near_duplicates(docs, 0.5).collect()}
    assert (1, 2) not in jac


def test_winnow_fp_expr_refactor_identical(spark):
    """winnow_fingerprints must be unchanged by the winnow_fp_expr
    extraction: string output equals the joined array expression."""
    from osmospark.functions.textstats import (winnow_fingerprints,
                                               winnow_fp_expr)
    from pyspark.sql import functions as FF

    docs = spark.createDataFrame(
        [(i, f"word{i} " * (i % 9 + 1) + "the quick brown fox jumps")
         for i in range(12)], "doc_id long, text string")
    a = {r.doc_id: (r.n_fp, r.fingerprint)
         for r in winnow_fingerprints(docs).collect()}
    fp = winnow_fp_expr(FF.col("text"))
    b = {r.doc_id: (r.n, r.s) for r in docs.select(
        "doc_id", FF.size(fp).alias("n"),
        FF.concat_ws(",", FF.transform(
            fp, lambda x: x.cast("string"))).alias("s")).collect()}
    assert a == b


def test_pq_topk_recall_and_code_bounds(spark):
    """PQ ADC on a clustered corpus: 3 tight clusters of 8 vectors
    each (dim 8, m=2 subspaces, ks=4). Every query's top-5 under ADC
    must stay inside its own cluster — the compressed distance
    preserves coarse neighborhoods — codes must lie in [0, ks), and
    dim % m != 0 must raise."""
    import pytest as _pt
    from osmospark.functions.similarity import (pq_codebooks, pq_encode,
                                                pq_topk)

    centers = [[10.0] * 8, [-10.0] * 8,
               [10.0] * 4 + [-10.0] * 4]
    # contiguous id blocks per cluster (the natural web layout): the
    # STRIDED k-means init samples ids 0/6/12/18 — spanning all three
    # blocks — where a first-ids init would seed one cluster only
    rows = []
    for ci, c in enumerate(centers):
        for j in range(8):
            rows.append((ci * 8 + j,
                         [x + 0.01 * j * ((i % 3) - 1)
                          for i, x in enumerate(c)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books = pq_codebooks(emb, m=2, ks=4, iters=2)
    assert len(books) == 2 and all(len(b) == 4 for b in books)
    codes = pq_encode(emb, books).collect()
    assert all(0 <= c < 4 for r in codes for c in r.codes)
    out = pq_topk(emb, [0, 8, 16], k=5, m=2, ks=4, iters=2).collect()
    assert len(out) == 15
    for r in out:
        assert r.neighbor_id // 8 == r.query_id // 8, \
            f"{r.query_id}'s neighbor {r.neighbor_id} left its cluster"
        assert r.neighbor_id != r.query_id
    with _pt.raises(ValueError):
        pq_codebooks(emb, m=3)


def test_pq_topk_salted_and_pruned_paths(spark):
    """Scale-shape pins for the r4-verdict pq_topk fix. (a) The
    two-phase salted top-k is result-identical to the single-window
    plan (salt_buckets=1) — the (adc_u, vec_id) order is total, so
    bucket-local pruning can't change the global top-k. (b) The
    physical plan really windows on (query_id, _pqsalt) before the
    per-query window, so no stage sorts corpus-sized rows per query.
    (c) The composed IVF path: a full candidates frame reproduces the
    unpruned answer; a restricted frame scores only listed pairs."""
    from osmospark.functions.similarity import pq_topk

    rows = [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)])
            for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    base = pq_topk(emb, [0, 1], k=4, m=2, ks=4, iters=2,
                   salt_buckets=1).collect()
    salted_df = pq_topk(emb, [0, 1], k=4, m=2, ks=4, iters=2,
                        salt_buckets=8)
    assert salted_df.collect() == base
    plan = salted_df._jdf.queryExecution().executedPlan().toString()
    assert "_pqsalt" in plan          # phase-1 window key present

    full = spark.createDataFrame(
        [(q, v) for q in (0, 1) for v in range(40)],
        "query_id long, vec_id long")
    assert pq_topk(emb, [0, 1], k=4, m=2, ks=4, iters=2,
                   candidates=full).collect() == base

    # duplicate (query, vec) pairs — a multi-probe candidate union —
    # must not occupy two ranks and displace a real neighbor (r5
    # review finding): the pair table is distinct()ed before the join
    assert pq_topk(emb, [0, 1], k=4, m=2, ks=4, iters=2,
                   candidates=full.union(full)).collect() == base

    # pretrained-codebook reuse (the serving-tier path) is identical
    from osmospark.functions.similarity import pq_codebooks
    books = pq_codebooks(emb, m=2, ks=4, iters=2)
    assert pq_topk(emb, [0, 1], k=4, codebooks=books,
                   salt_buckets=8).collect() == base
    cand = spark.createDataFrame(
        [(0, v) for v in (3, 5, 9, 12, 17)] + [(1, v) for v in (2, 4)],
        "query_id long, vec_id long")
    got = pq_topk(emb, [0, 1], k=4, m=2, ks=4, iters=2,
                  candidates=cand).collect()
    allowed = {(0, 3), (0, 5), (0, 9), (0, 12), (0, 17), (1, 2), (1, 4)}
    assert {(r.query_id, r.neighbor_id) for r in got} <= allowed
    assert sum(1 for r in got if r.query_id == 0) == 4
    assert sum(1 for r in got if r.query_id == 1) == 2


def test_semdedup_groups_keep_farthest_from_centroid(spark):
    """Planted semantic dup groups: three near-copies of e1, two of
    e2, plus spread singletons. semdedup must (a) group exactly the
    planted copies, (b) emit exactly one keep per group, (c) keep the
    member with max integer centroid distance (ties → lowest vec_id),
    (d) leave singletons out, and (e) be partitioning-invariant."""
    from osmospark.functions.similarity import semdedup

    def jitter(base, eps):
        return [x + eps if i == 0 else x for i, x in enumerate(base)]

    e1, e2 = [1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]
    # low vec_ids seed the codebook — keep them DIVERSE so the planted
    # dup groups aren't split across near-identical initial centroids
    rows = [(0, [0.0, 0.0, 1.0, 0.0]), (1, [0.0, 0.0, 0.0, 1.0]),
            (2, [0.5, 0.5, 0.5, 0.5]),
            (3, e1), (4, jitter(e1, 1e-4)), (5, jitter(e1, 2e-4)),
            (6, e2), (7, jitter(e2, 1e-4))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semdedup(emb, cells=3, iters=2, threshold=0.999).collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r.group_id, []).append(r)
    assert {frozenset(x.vec_id for x in g) for g in by_group.values()} \
        == {frozenset({3, 4, 5}), frozenset({6, 7})}
    for g in by_group.values():
        keeps = [x for x in g if x.keep]
        assert len(keeps) == 1
        best = max(g, key=lambda x: (x.dist_u, -x.vec_id))
        assert keeps[0].vec_id == best.vec_id
    out2 = semdedup(emb.repartition(7), cells=3, iters=2,
                    threshold=0.999).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_multimodal_plumbing(spark):
    from osmospark.functions.multimodal import (
        FEATURE_SCHEMA, media_features, synth_media_df,
    )
    media = synth_media_df(spark, n=30)
    feats = media.mapInPandas(media_features(fake=True), FEATURE_SCHEMA)
    rows = feats.collect()
    assert len(rows) == 30
    by_kind = {r.kind: r for r in rows}
    assert by_kind["video"].frames == 4      # frame sampling (stride 2 of 8)
    assert by_kind["image"].frames == 8
    assert all(0.0 <= x <= 1.0 for r in rows for x in r.feat)


def test_multimodal_decode_stub_raises(spark):
    from osmospark.functions.multimodal import _decode_bytes
    with pytest.raises(NotImplementedError):
        _decode_bytes(b"x", "image", fake=False)


def test_simhash_near_duplicates_close(spark):
    from osmospark.functions import simhash
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(1, base, "en", "s", len(base)),
            (2, base + " extra", "en", "s", len(base) + 6),
            (3, "totally different words everywhere nothing shared at all",
             "en", "s", 55)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    sigs = {r.doc_id: r.simhash for r in simhash(df, bits=16).collect()}
    d12 = sum(a != b for a, b in zip(sigs[1], sigs[2]))
    d13 = sum(a != b for a, b in zip(sigs[1], sigs[3]))
    assert d12 < d13


def test_lsh_band_bucket_cap_bounds_hot_buckets(spark):
    """A planted hot band bucket (identical boilerplate) must not produce
    quadratic candidate pairs when the cap is on; distinct near-dup pairs
    below the cap are unaffected (output identical to uncapped)."""
    from osmospark.functions.dedup import lsh_candidate_pairs
    boiler = "exactly the same boilerplate text repeated on every page"
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(i, boiler, "en", "s", len(boiler)) for i in range(60)]
    rows += [(100, base, "en", "s", len(base)),
             (101, base.replace("lazy", "sleepy"), "en", "s", len(base))]
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long")
    uncapped = lsh_candidate_pairs(df, max_bucket_size=None)
    assert uncapped.count() >= 60 * 59 // 2       # quadratic hot bucket
    capped = lsh_candidate_pairs(df, max_bucket_size=20)
    got = {(r.doc_a, r.doc_b) for r in capped.collect()}
    assert (100, 101) in got                       # survivors intact
    assert all(a >= 100 for a, _ in got)           # hot bucket dropped
    # default cap leaves small corpora byte-identical to uncapped
    small = df.filter(F.col("doc_id") >= 100)
    a = {(r.doc_a, r.doc_b) for r in
         lsh_candidate_pairs(small, max_bucket_size=None).collect()}
    b = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(small).collect()}
    assert a == b


def test_dup_clusters_warns_when_iteration_cap_hit(spark, caplog):
    """A 5-node near-dup chain (sliding text windows: only adjacent docs
    share ≥0.5 Jaccard) cannot converge in one label-propagation
    iteration — the cap exit must WARN; the default cap converges the
    same graph silently to one cluster."""
    import logging
    from osmospark.functions.pipeline import dup_clusters
    toks = [f"w{j:03d}" for j in range(100)]
    rows = []
    for i in range(5):
        text = " ".join(toks[i * 9: i * 9 + 30])
        rows.append((i, text, "en", "s", len(text)))
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long")
    with caplog.at_level(logging.WARNING, logger="osmospark.pipeline"):
        dup_clusters(df, jaccard_threshold=0.5, max_iters=1).collect()
    assert any("NOT converged" in r.message for r in caplog.records)
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="osmospark.pipeline"):
        out = dup_clusters(df, jaccard_threshold=0.5, max_iters=6).collect()
    assert not any("NOT converged" in r.message for r in caplog.records)
    assert {r.cluster_id for r in out} == {0}     # one converged chain


def test_embedding_near_dup_cap_bounds_degenerate_cluster(spark):
    """A planted degenerate embedding cluster (identical boilerplate
    vectors — the docstring's all-same-direction case) floods one LSH
    bucket per table; the cap must drop those buckets while an under-cap
    genuine near-dup pair survives, and the default cap must leave small
    corpora identical to uncapped."""
    from osmospark.functions.similarity import embedding_near_duplicates
    dim = 8
    degen = [1.0] * dim                      # one direction, 60 copies
    a_vec = [1.0, 0.0, 0.0, 0.0, -1.0, 0.0, 0.0, 0.0]
    b_vec = [0.99, 0.05, 0.0, 0.0, -1.0, 0.05, 0.0, 0.0]  # cos ≈ 0.997
    rows = [(i, degen) for i in range(60)]
    rows += [(100, a_vec), (101, b_vec)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    uncapped = embedding_near_duplicates(df, threshold=0.9,
                                         max_bucket_size=None)
    assert uncapped.count() >= 60 * 59 // 2       # quadratic hot bucket
    capped = embedding_near_duplicates(df, threshold=0.9,
                                       max_bucket_size=20)
    got = {(r.vec_a, r.vec_b) for r in capped.collect()}
    assert (100, 101) in got                       # survivor intact
    assert all(a >= 100 for a, _ in got)           # degenerate cluster gone
    small = df.filter(F.col("vec_id") >= 100)
    u = {(r.vec_a, r.vec_b) for r in embedding_near_duplicates(
        small, threshold=0.9, max_bucket_size=None).collect()}
    c = {(r.vec_a, r.vec_b) for r in embedding_near_duplicates(
        small, threshold=0.9).collect()}
    assert u == c


def test_repetition_scores_planted(spark):
    """Gopher repetition stats: exact fractions on planted documents.
    doc 1: 'x y\nx y\nz' — 'x y' (3 chars) twice + 'z' → dup 6/7.
    doc 2: 'a b a b a b' — five 2-grams, 'a b' thrice (9 chars) of 15
    total gram chars; all four 3-grams are 'a b a'/'b a b' repeats.
    doc 3: all-distinct words → no duplicate mass anywhere."""
    from osmospark.functions.curation import repetition_scores

    df = spark.createDataFrame(
        [(1, "x y\nx y\nz"), (2, "a b a b a b"), (3, "p q r s t")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in repetition_scores(df).collect()}
    assert got[1].dup_line_frac == round(6 / 7, 6)
    assert got[2].dup_line_frac == 0.0
    assert got[2].top2gram_frac == round(9 / 15, 6)
    assert got[2].dup3gram_frac == 1.0
    assert got[3].dup_line_frac == 0.0
    assert got[3].dup3gram_frac == 0.0
    # a distinct doc's top 2-gram still has mass: count 1 × len
    assert got[3].top2gram_frac == round(3 / (4 * 3), 6)


def test_decontaminate_flags_planted_overlap(spark):
    """A doc embedding a benchmark 5-gram is flagged with the right hit
    count; clean docs are absent."""
    from osmospark.functions.curation import decontaminate

    bench = spark.createDataFrame(
        [("the quick brown fox jumps over",)], "text string")
    docs = spark.createDataFrame(
        [(1, "intro text the quick brown fox jumps over and more"),
         (2, "completely different words with no overlap at all here")],
        "doc_id long, text string")
    got = {r.doc_id: r.n_hits for r in decontaminate(docs, bench).collect()}
    # bench text has two 5-grams; doc 1 contains both
    assert got == {1: 2}


def test_stratified_sample_deterministic_and_rate(spark):
    """Hash sampling: repeatable, stratum-faithful, rate ≈ requested."""
    from osmospark.functions.curation import stratified_sample

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(2000)],
        "doc_id long, lang string")
    fr = {"en": 0.25, "de": 1.0}
    a = {(r.doc_id, r.stratum) for r in stratified_sample(df, fr).collect()}
    b = {(r.doc_id, r.stratum) for r in stratified_sample(df, fr).collect()}
    assert a == b                                  # deterministic
    de = {d for d, s in a if s == "de"}
    en = {d for d, s in a if s == "en"}
    assert len(de) == 1000                         # rate 1.0 keeps all
    assert 150 < len(en) < 350                     # ≈0.25 of 1000
    # unknown stratum defaults to dropped
    c = stratified_sample(df, {"en": 0.25}).collect()
    assert all(r.stratum == "en" for r in c)


def test_pack_sequences_boundaries(spark):
    """Concat-and-chunk packing: offsets are per-shard running sums and
    boundary-spanning docs report the packs they straddle."""
    from osmospark.functions.curation import pack_sequences

    # one shard (n_shards=1): docs of 100/100/100 tokens, context 256:
    # doc0 [0,100) pack 0; doc1 [100,200) pack 0; doc2 [200,300) packs 0-1
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(100))) for i in range(3)],
        "doc_id long, text string")
    got = {r.doc_id: r for r in
           pack_sequences(docs, context_len=256, n_shards=1).collect()}
    assert (got[0].offset, got[0].start_pack, got[0].end_pack) == (0, 0, 0)
    assert (got[1].offset, got[1].pack_offset) == (100, 100)
    assert (got[2].start_pack, got[2].end_pack) == (0, 1)
    # sharding: offsets restart per shard, shard = doc_id % n_shards
    sharded = {r.doc_id: r for r in
               pack_sequences(docs, context_len=256, n_shards=2).collect()}
    assert sharded[0].shard == 0 and sharded[2].shard == 0
    assert sharded[1].shard == 1 and sharded[1].offset == 0
    assert sharded[2].offset == 100


def test_pack_sequences_shard_count_scales_with_corpus(spark):
    """The packing window's parallelism = its shard count, so a fixed
    shard count is a hidden cap (the PLANS §12 bug class: at 100 TB,
    corpus/16 streams through one task). The derived count must GROW
    with the corpus — 4× the docs ⇒ 4× the window partitions — while
    per-shard state stays bounded at ~docs_per_shard."""
    from osmospark.functions.curation import pack_sequences

    def shards(n_docs, per_shard):
        docs = (spark.range(n_docs)
                .selectExpr("id AS doc_id", "'w' AS text"))
        out = pack_sequences(docs, context_len=8,
                             docs_per_shard=per_shard)
        return out.groupBy("shard").count().collect()

    small = shards(8_000, 500)       # ceil(8000/500)  = 16 shards
    large = shards(32_000, 500)      # ceil(32000/500) = 64 shards
    assert len(small) == 16
    assert len(large) == 64          # 4× docs -> 4× window partitions
    # per-shard state stays bounded by the target regardless of size
    assert max(r["count"] for r in large) == 500
    # the floor keeps tiny corpora at the historical 16 shards
    tiny = shards(100, 4096)
    assert len(tiny) == 16


def test_link_rank_integer_exact_on_planted_hub(spark):
    """Integer PageRank: two leaves pointing at a hub. Hand-computed
    (unit 1e6, damping 85%, base 150000):
      iter1: hub = 150000 + 85%·(1e6 + 1e6)  = 1850000, leaves 150000
      iter2: hub = 150000 + 85%·(2 · 150000) =  405000 (leaves decayed)
    Exact equality — no float tolerance anywhere."""
    from osmospark.functions.linkgraph import link_rank

    edges = spark.createDataFrame([(1, 0), (2, 0)], "src long, dst long")
    r1 = {r.node_id: r.rank_u for r in link_rank(edges, iters=1).collect()}
    assert r1 == {0: 1850000, 1: 150000, 2: 150000}
    r2 = {r.node_id: r.rank_u for r in link_rank(edges, iters=2).collect()}
    assert r2 == {0: 405000, 1: 150000, 2: 150000}
    # hubs must outrank leaves on a skewed graph regardless of iters
    star = spark.createDataFrame(
        [(i, 0) for i in range(1, 20)] + [(0, 1)], "src long, dst long")
    r = {x.node_id: x.rank_u for x in link_rank(star, iters=3).collect()}
    assert r[0] > r[1] > r[2] == r[19]


def test_link_rank_dangling_redistribute_hand_computed(spark):
    """Two leaves -> hub, hub has no out-links (dangling). n=3, unit
    1e6, damping 85, base 150000. Iter 1: dangling share = 1e6//3 =
    333333; hub = 150000 + 85·(2e6+333333)//100 = 2133333; leaves =
    150000 + 85·333333//100 = 433333. Exact integers, no tolerance."""
    from osmospark.functions.linkgraph import link_rank

    edges = spark.createDataFrame([(1, 0), (2, 0)], "src long, dst long")
    got = {r.node_id: r.rank_u
           for r in link_rank(edges, iters=1,
                              dangling="redistribute").collect()}
    assert got == {0: 2133333, 1: 433333, 2: 433333}
    # drop mode leaks the hub's mass instead
    drop = {r.node_id: r.rank_u
            for r in link_rank(edges, iters=1).collect()}
    assert drop == {0: 1850000, 1: 150000, 2: 150000}
    assert sum(got.values()) > sum(drop.values())  # mass retained


def test_trust_rank_spam_farm_scores_zero(spark):
    """Anti-spam property, hand-computed: nodes 1,2 (a spam farm) link
    hub 0; trusted seed 3 links 4. n=5, unit 1e6, damping 85:
    init_t = 1e6·5//1 = 5e6 (seed only), base_t = 150000·5//1 = 750000.
    Iter 1: spam nodes carry 0 rank so hub 0 receives NOTHING despite
    2 in-links; node 4 gets 85%·5e6 = 4250000; seed re-bases 750000.
    Iter 2: node 4 decays to 85%·750000 = 637500. Exact integers."""
    from osmospark.functions.linkgraph import trust_rank

    edges = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 4)], "src long, dst long")
    trusted = spark.createDataFrame([(3,)], "node_id long")
    r1 = {r.node_id: r.rank_u
          for r in trust_rank(edges, trusted, iters=1).collect()}
    assert r1 == {0: 0, 1: 0, 2: 0, 3: 750000, 4: 4250000}
    r2 = {r.node_id: r.rank_u
          for r in trust_rank(edges, trusted, iters=2).collect()}
    assert r2 == {0: 0, 1: 0, 2: 0, 3: 750000, 4: 637500}
    # seeds absent from the graph are ignored; all-absent raises
    r1b = {r.node_id: r.rank_u
           for r in trust_rank(
               edges, spark.createDataFrame([(3,), (99,)], "node_id long"),
               iters=1).collect()}
    assert r1b == r1
    import pytest as _pt
    with _pt.raises(ValueError):
        trust_rank(edges, spark.createDataFrame([(99,)], "node_id long"))


def test_normalize_text_hand_planted(spark):
    """Each rule exercised once: control char stripped, NBSP/em-space
    mapped to space then collapsed, zero-width and soft hyphen deleted,
    CRLF folded, mojibake counted (2 markers) but NOT altered beyond
    the whitespace rules. Exact strings and counts."""
    from osmospark.functions.curation import normalize_text

    rows = [
        (1, "a\x07b"),                          # control char
        (2, "a\u00a0\u2003 b"),                 # NBSP + em-space + space
        (3, "foo\u200bbar\u00adbaz"),           # zero-width + soft hyphen
        (4, "line1\r\nline2\tend"),             # CRLF + tab collapse
        (5, "caf\u00c3\u00a9 \u00e2\u20ac\u00a6done"),  # mojibake x2
        (6, "  already clean  "),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.clean_text, r.n_chars_before, r.n_chars_after,
                      r.mojibake_hits)
           for r in normalize_text(docs).collect()}
    assert got[1] == ("ab", 3, 2, 0)
    assert got[2] == ("a b", 5, 3, 0)
    assert got[3] == ("foobarbaz", 11, 9, 0)
    assert got[4] == ("line1 line2 end", 16, 15, 0)
    assert got[5] == ("caf\u00c3\u00a9 \u00e2\u20ac\u00a6done", 13, 13, 2)
    assert got[6] == ("already clean", 17, 13, 0)


def test_paragraph_dedup_global_first_occurrence(spark):
    """Paragraph P appears in doc 1 (idx 0), doc 2 (idx 1), and TWICE
    in doc 3 — only doc 1's copy survives (lowest (doc_id, idx)), all
    later copies vanish including intra-doc repeats. Blank lines are
    kept verbatim and never dedup keys; a doc of only repeats and
    blanks keeps just its blanks."""
    from osmospark.functions.curation import paragraph_dedup

    P = "the repeated boilerplate paragraph"
    docs = spark.createDataFrame(
        [(1, P + "\nunique one"),
         (2, "unique two\n" + P),
         (3, P + "\n\n" + P),
         (4, "untouched\n\nalso untouched")],
        "doc_id long, text string")
    got = {r.doc_id: (r.clean_text, r.n_paras, r.n_kept)
           for r in paragraph_dedup(docs).collect()}
    assert got[1] == (P + "\nunique one", 2, 2)
    assert got[2] == ("unique two", 2, 1)
    assert got[3] == ("", 3, 1)           # only the blank line survives
    assert got[4] == ("untouched\n\nalso untouched", 3, 3)


def test_contamination_fraction_exact(spark):
    """3-gram contamination: doc 1 IS the benchmark (1000‰), doc 2
    shares exactly one of its four distinct 3-grams (250‰), doc 3
    shares none (0‰ — still reported)."""
    from osmospark.functions.curation import contamination_fraction

    bench = spark.createDataFrame(
        [("the quick brown fox",)], "text string")
    docs = spark.createDataFrame(
        [(1, "the quick brown fox"),
         (2, "the quick brown dog runs home"),
         (3, "completely different words entirely here")],
        "doc_id long, text string")
    got = {r.doc_id: (r.n_grams, r.n_hits, r.contamination_permille)
           for r in contamination_fraction(docs, bench, n=3).collect()}
    assert got == {1: (2, 2, 1000), 2: (4, 1, 250), 3: (3, 0, 0)}


def test_budget_sample_greedy_prefix_and_range_invariance(spark):
    """budget_sample must equal the greedy md5-order prefix computed
    independently in Python, include the straddling doc, drop hosts
    with no budget row, and be invariant to the range decomposition
    (n_ranges=1 ≡ 16 — the scale fix is proven bit-identical)."""
    import hashlib
    from osmospark.functions.curation import budget_sample

    rows = [(i, "h" + str(i % 2), "w " * (3 + i % 5)) for i in range(40)]
    rows += [(100, "nobudget", "some words here")]
    docs = spark.createDataFrame(rows, "doc_id long, host string, text string")
    budgets = spark.createDataFrame(
        [("h0", 20), ("h1", 31)], "host string, token_budget long")

    def h(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16)

    expect = set()
    for host, budget in [("h0", 20), ("h1", 31)]:
        cum = 0
        for doc_id, _, text in sorted(
                (r for r in rows if r[1] == host),
                key=lambda r: (h(r[0]), r[0])):
            ntok = len(text.strip().split())
            if cum < budget:
                expect.add((doc_id, host, ntok, cum))
            cum += ntok
    got16 = {tuple(r) for r in budget_sample(docs, budgets).collect()}
    got1 = {tuple(r) for r in
            budget_sample(docs, budgets, n_ranges=1).collect()}
    assert got16 == expect
    assert got1 == got16
    assert not any(r[1] == "nobudget" for r in got16)


def test_link_farm_features_hand_computed(spark):
    """Farm pair f1⇄f2 exchanging links + self-links; organic host o
    links f1 one-way and receives nothing back. f1: out=3 (1 intra),
    intra=333‰, fanout=1 (f2), recip=1000‰. o: fanout=1, recip=0,
    in_links=0. Exact integers."""
    from osmospark.functions.linkgraph import link_farm_features

    rows = [("f1", "f2"), ("f2", "f1"), ("f1", "f1"), ("f1", "f2"),
            ("o", "f1")]
    edges = spark.createDataFrame(rows, "src_host string, dst_host string")
    got = {r.host: (r.out_links, r.in_links, r.fanout,
                    r.intra_permille, r.recip_permille)
           for r in link_farm_features(edges).collect()}
    assert got["f1"] == (3, 3, 1, 333, 1000)
    assert got["f2"] == (1, 2, 1, 0, 1000)
    assert got["o"] == (1, 0, 1, 0, 0)


def test_spam_mass_hand_computed(spark):
    """Same graph as the trust_rank test (spam farm 1,2→0; seed 3→4).
    iters=1: link_rank {0:1850000, 1:150000, 2:150000, 3:150000,
    4:1000000}; trust {0:0,…,3:750000, 4:4250000}. Spam hub 0 shows
    rel 1000‰ (all rank, no trust); seed-adjacent 4 goes NEGATIVE
    (−3250‰, truncating div) — exact integers both ways round zero."""
    from osmospark.functions.linkgraph import spam_mass

    edges = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 4)], "src long, dst long")
    trusted = spark.createDataFrame([(3,)], "node_id long")
    got = {r.node_id: (r.mass_u, r.rel_permille)
           for r in spam_mass(edges, trusted, iters=1).collect()}
    assert got == {0: (1850000, 1000), 1: (150000, 1000),
                   2: (150000, 1000), 3: (-600000, -4000),
                   4: (-3250000, -3250)}


def test_host_rank_weighted_collapse_hand_computed(spark):
    """Page links a→b ×3, a→c ×1, b→a ×1, plus an intra-host a→a that
    must be dropped. Shares: a→b 750‰, a→c 250‰, b→a 1000‰. Iter 1
    from unit 1e6: b = 150000 + 85%·750000 = 787500,
    c = 150000 + 85%·250000 = 362500, a = 150000 + 85%·1e6 = 1000000
    (c is dangling and leaks). Exact integers."""
    from osmospark.functions.linkgraph import host_rank

    rows = [("a", "b")] * 3 + [("a", "c"), ("b", "a"), ("a", "a")]
    edges = spark.createDataFrame(rows, "src_host string, dst_host string")
    got = {r.host: r.rank_u for r in host_rank(edges, iters=1).collect()}
    assert got == {"a": 1000000, "b": 787500, "c": 362500}


def test_link_rank_checkpoint_knob_flat_plans_same_ranks(spark):
    """Deep runs (iters > checkpoint_every) must not grow the logical
    plan per iteration: the stats-reset checkpoint truncates lineage, so
    the final plan of a 12-iteration run stays a bounded tail (at most
    checkpoint_every iterations deep) instead of 12 nested join trees —
    and the ranks are bit-identical to the uncheckpointed loop."""
    from osmospark.functions.linkgraph import link_rank

    edges = spark.createDataFrame(
        [(i, (i * i + 1) % 40) for i in range(40)]
        + [(i, (i + 1) % 40) for i in range(40)], "src long, dst long")
    plain = link_rank(edges, iters=12, checkpoint_every=0)
    ck = link_rank(edges, iters=12, checkpoint_every=3)
    assert sorted(map(tuple, plain.collect())) == \
        sorted(map(tuple, ck.collect()))
    plan_plain = plain._jdf.queryExecution().analyzed().toString()
    plan_ck = ck._jdf.queryExecution().analyzed().toString()
    # 12 unrolled iterations vs a ≤3-iteration tail over an RDD scan
    assert len(plan_ck) < len(plan_plain) / 2


def test_pack_sequences_with_learned_tokens(spark):
    """pack_sequences budgets windows in learned BPE tokens when given a
    precomputed count column: offsets are the running sum of n_bpe_tokens,
    not whitespace words."""
    from osmospark.functions.curation import pack_sequences
    from osmospark.functions.tokenizer import (
        bpe_token_counts, train_bpe_df)

    docs = spark.createDataFrame(
        [(i, "the cat sat on the mat " * (i + 1)) for i in range(4)],
        "doc_id long, text string")
    merges = train_bpe_df(docs, 6)
    counted = docs.join(bpe_token_counts(docs, merges), "doc_id")
    packed = {r.doc_id: r for r in pack_sequences(
        counted, context_len=16, n_shards=1,
        tokens_col="n_bpe_tokens").collect()}
    bpe = {r.doc_id: r.n_bpe_tokens
           for r in bpe_token_counts(docs, merges).collect()}
    ws = {r.doc_id: len(r.text.split()) for r in docs.collect()}
    assert bpe != ws  # learned counts genuinely differ
    off = 0
    for d in range(4):
        assert packed[d].n_tokens == bpe[d]
        assert packed[d].offset == off
        off += bpe[d]


def test_c4_quality_filter_rules(spark):
    """Each C4 rule fires on its planted line/page: terminal-punctuation
    keep, <5-word drop, javascript drop, <3-sentence page drop,
    lorem-ipsum page drop, curly-brace page drop."""
    from osmospark.functions.curation import c4_quality_filter

    rows = [
        (0, "one two three four five six end.\nshort.\nno punct here"),
        (1, "a good long line with words here.\n"
            "another good long line stands here!\n"
            "and a third good line ends here?"),
        (2, "javascript must be enabled to view this page.\n"
            "one two three four five six end.\nx.\ny."),
        (3, "one two three four five six end.\nlorem IPSUM dolor.\nx.\ny."),
        (4, "one two three four five six end.\ncurly { brace.\nx.\ny."),
        (5, 'quoted line one two three four five." \nx.\ny.'),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in c4_quality_filter(df).collect()}
    assert (got[0].kept_lines, got[0].n_sentences, bool(got[0].keep)) \
        == (1, 2, False)                       # only 2 sentences
    assert (got[1].kept_lines, bool(got[1].keep)) == (3, True)
    assert got[2].kept_lines == 1 and bool(got[2].keep)  # js line dropped
    assert not got[3].keep and not got[4].keep  # lorem / brace kill page
    assert got[5].kept_lines == 1              # terminal punct + quote


def test_span_dedup_stats_planted(spark):
    """Two docs sharing a 12-word run carry exactly 3 duplicated 10-word
    spans each; a unique doc carries none."""
    from osmospark.functions.curation import span_dedup_stats

    shared = "alpha beta gamma delta epsilon zeta eta theta iota " \
             "kappa lambda mu"
    rows = [(0, "unique opening words here " + shared),
            (1, "different other prefix words " + shared),
            (2, "totally distinct text with no repeats at all beyond "
                "window width for sure honestly")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in span_dedup_stats(df).collect()}
    assert got[0].dup_spans == 3 and got[1].dup_spans == 3
    assert got[2].dup_spans == 0
    assert got[0].total_spans == 7   # 16 words -> 7 windows
    assert abs(got[0].dup_frac - 3 / 7) < 1e-6


def test_train_bpe_hand_computed():
    """vocab {'aaab': 2}: weighted pairs (a,a)=4 (both overlapping
    adjacencies), (a,b)=2 → merge 1 = (a,a), applied left-to-right
    non-overlapping: a,a,a,b → aa,a,b. Then (aa,a)=2 ties (a,b)=2 and
    lexicographic order picks ('a','b'); finally (aa,ab)."""
    from osmospark.functions.tokenizer import train_bpe

    assert train_bpe({"aaab": 2}, 5) == \
        [("a", "a"), ("a", "b"), ("aa", "ab")]
    # the classic Sennrich example: 'es' then 'est' dominate
    m = train_bpe({"low": 5, "lower": 2, "newest": 6, "widest": 3}, 2)
    assert m == [("e", "s"), ("es", "t")]
    # early stop: single-char vocab has no pairs
    assert train_bpe({"a": 9}, 4) == []


def test_train_bpe_df_max_vocab_caps_training_vocab(spark):
    """The default max_vocab bounds the driver collect (r4 verdict:
    unbounded default = 10^8+ rows through the driver at web scale).
    Cap semantics: training sees only the top-max_vocab words by
    (count DESC, word ASC). Planted corpus: 'qq' is the single most
    frequent word, but pair (a,b) aggregates across four rarer words —
    so cap=1 learns (q,q) while uncapped learns (a,b); the default cap
    (1M ≫ vocab) is merge-identical to None on any in-cap corpus."""
    from osmospark.functions.tokenizer import BPE_MAX_VOCAB, train_bpe_df

    words = ["qq"] * 10 + ["abc", "abd", "abe", "abf"] * 3
    docs = spark.createDataFrame(
        [(0, " ".join(words))], "doc_id long, text string")
    assert BPE_MAX_VOCAB >= 1_000_000
    assert train_bpe_df(docs, 1, max_vocab=1) == [("q", "q")]
    assert train_bpe_df(docs, 1, max_vocab=None) == [("a", "b")]
    assert train_bpe_df(docs, 3) == train_bpe_df(docs, 3, max_vocab=None)


def test_bpe_encode_segmentation_property(spark):
    """Encoding is segmentation-only: concatenating a doc's tokens
    reproduces its normalized text with spaces removed, token counts
    match the token arrays, and merges learned on the corpus actually
    compress (fewer tokens than characters)."""
    from osmospark.functions.tokenizer import (
        bpe_token_counts, bpe_tokens, normalize_for_bpe, train_bpe_df)

    docs = spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "the catalog, The Matter!"),
         (2, ""), (3, "unseen zebra")],
        "doc_id long, text string")
    merges = train_bpe_df(docs, 8)
    assert len(merges) == 8
    toks = {r.doc_id: r.tokens for r in bpe_tokens(docs, merges).collect()}
    counts = {r.doc_id: r.n_bpe_tokens
              for r in bpe_token_counts(docs, merges).collect()}
    norm = {r.doc_id: r.n for r in docs.select(
        "doc_id", normalize_for_bpe(F.col("text")).alias("n")).collect()}
    for d in toks:
        assert "".join(toks[d]) == norm[d].replace(" ", "")
        assert counts[d] == len(toks[d])
    assert counts[2] == 0
    assert counts[0] < len(norm[0].replace(" ", ""))  # compresses


def test_scrub_pii_planted(spark):
    """Each PII class redacts with its typed token; clean text is
    untouched; counts reflect every hit."""
    from osmospark.functions.curation import scrub_pii

    df = spark.createDataFrame(
        [(1, "mail a.b+c@test-host.org or b@x.io today"),
         (2, "server at 10.0.255.7 port open"),
         (3, "call +44 20 7946-0958 soon"),
         (4, "order 123456789012 shipped"),
         (5, "perfectly clean text with no identifiers")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in scrub_pii(df).collect()}
    assert got[1].scrubbed == "mail <EMAIL> or <EMAIL> today"
    assert got[1].n_redacted == 2
    assert got[2].scrubbed == "server at <IP> port open"
    assert got[3].scrubbed == "call <PHONE> soon"
    assert got[4].scrubbed == "order <ID> shipped"
    assert got[5].scrubbed == df.collect()[4].text
    assert got[5].n_redacted == 0


def test_vocab_stats_counts_and_threshold(spark):
    from osmospark.functions.curation import vocab_stats

    df = spark.createDataFrame(
        [(1, "a b a"), (2, "a c C"), (3, "rare")],
        "doc_id long, text string")
    rows = {r.word: (r["count"], r.doc_freq)
            for r in vocab_stats(df, min_count=2).collect()}
    # 'a' appears 3x across 2 docs; 'c' twice (case-folded) in one doc;
    # 'b' and 'rare' fall under the threshold
    assert rows == {"a": (3, 2), "c": (2, 1)}
    ordered = [r.word for r in vocab_stats(df, min_count=1).collect()]
    assert ordered[0] == "a"      # count-desc, then word-asc


def test_lang_id_model_separable_corpus(spark):
    from osmospark.functions.langid import lang_id_model

    # Two languages with disjoint character inventories: each doc's
    # profile can only match its own language's trained profile.
    df = spark.createDataFrame(
        [(0, "aa", "aaa aca ada aaa aca"),
         (1, "aa", "ada aaa aaa aca ada"),
         (2, "bb", "bbb bxb byb bbb bxb"),
         (3, "bb", "byb bbb bxb byb bbb")],
        "doc_id long, lang string, text string")
    got = {r.doc_id: r for r in lang_id_model(df).collect()}
    assert [got[i].pred_lang for i in range(4)] == ["aa", "aa", "bb", "bb"]
    assert all(got[i].dist >= 0 for i in range(4))
    # mislabeled doc: b-script text under an 'aa' label still scores
    # closer to the bb profile (training pollution is 1 doc vs 2)
    df2 = df.union(spark.createDataFrame(
        [(4, "aa", "bbb bxb byb")], "doc_id long, lang string, text string"))
    got2 = {r.doc_id: r for r in lang_id_model(df2).collect()}
    assert got2[4].lang == "aa" and got2[4].pred_lang == "bb"


def test_lang_profiles_rank_deterministic(spark):
    from osmospark.functions.langid import train_lang_profiles

    df = spark.createDataFrame(
        [(0, "xx", "ab ab ba")], "doc_id long, lang string, text string")
    rows = [(r.gram, r.rank) for r in
            train_lang_profiles(df).orderBy("rank").collect()]
    # norm = ' ab ab ba ': ' ab' x2, 'ab ' x2, then ties gram-asc
    assert rows[0] == (" ab", 1) and rows[1] == ("ab ", 2)
    grams = [g for g, _ in rows]
    assert grams == sorted(grams[:2]) + sorted(grams[2:])


def test_kmeans_codebook_separates_planted_clusters(spark):
    from osmospark.functions.similarity import (
        ivf_kmeans_assign, kmeans_codebook)

    rows = [(i, [1.0 + 0.01 * i, 0.0]) for i in range(0, 8, 2)]
    rows += [(i, [0.0, 1.0 + 0.01 * i]) for i in range(1, 8, 2)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # strided init = vec 0 and vec 4 (both cluster A); two Lloyd
    # iterations still pull the centroids apart: cluster B captures
    # cell 0, cluster A cell 1 (hand-traced integer arithmetic)
    got = {r.vec_id: r.cell
           for r in ivf_kmeans_assign(emb, cells=2, iters=2).collect()}
    assert all(got[i] == 1 for i in range(0, 8, 2))
    assert all(got[i] == 0 for i in range(1, 8, 2))
    cb = kmeans_codebook(emb, cells=2, iters=2)
    # centroid 1 ~ mean of cluster A x-coords in micro-units;
    # centroid 0 ~ mean of cluster B y-coords (1.0..1.07 planted)
    assert abs(cb[1][0] - 1_030_000) < 20_000 and cb[1][1] == 0
    assert abs(cb[0][1] - 1_040_000) < 20_000 and cb[0][0] == 0


def test_kmeans_strided_init_spreads_clustered_ids(spark):
    """r4 verdict #6: first-``cells``-ids init is degenerate when low
    ids cluster on one shard/site. Strided init must seed from BOTH id
    regions of a corpus whose ids clump at 0..7 and 10^6..10^6+7 —
    verified directly at iters=0 (the returned codebook IS the init)."""
    from osmospark.functions.similarity import kmeans_codebook

    a, b = [1.0, 0.0], [0.0, 1.0]
    rows = [(i, a) for i in range(8)]
    rows += [(1_000_000 + i, b) for i in range(8)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cb = kmeans_codebook(emb, cells=2, iters=0)
    assert cb == [[1_000_000, 0], [0, 1_000_000]]  # one seed per region
    # underfilled strides top up deterministically with the lowest
    # unpicked ids: ids {0..3, 100, 101}, cells=4, stride 25 → strides
    # pick 0 and 100, top-up adds 1 and 2 → init ids {0, 1, 2, 100}
    vecs = {0: [1.0, 0.0], 1: [2.0, 0.0], 2: [3.0, 0.0], 3: [4.0, 0.0],
            100: [0.0, 1.0], 101: [0.0, 2.0]}
    sparse = spark.createDataFrame(sorted(vecs.items()),
                                   "vec_id long, embedding array<float>")
    cb4 = kmeans_codebook(sparse, cells=4, iters=0)
    want = [[int(x * 1_000_000) for x in vecs[i]] for i in (0, 1, 2, 100)]
    assert cb4 == want


def test_kmeans_empty_cell_keeps_previous_centroid(spark):
    from osmospark.functions.similarity import kmeans_codebook

    # vec 2 duplicates vec 0, so init cell 2 == cell 0 and every
    # tie breaks to the LOWEST cell: cell 2 never receives members
    # and must keep its initial centroid.
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 0.0]),
         (3, [0.9, 0.1]), (4, [0.1, 0.9])],
        "vec_id long, embedding array<float>")
    cb = kmeans_codebook(emb, cells=3, iters=2)
    assert cb[2] == [1_000_000, 0]


def test_incremental_dedup_finds_planted_recrawls(spark):
    from osmospark.functions.dedup import incremental_near_duplicates

    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    ws = F.split(norm, " ")
    delta = (base.filter(F.pmod(F.col("doc_id"), F.lit(5)) == 0)
             .select((F.col("doc_id") + 1000000).alias("doc_id"),
                     F.array_join(F.slice(ws, F.lit(1), F.size(ws) - 1),
                                  " ").alias("text")))
    got = incremental_near_duplicates(base, delta, threshold=0.5).collect()
    pairs = {(r.delta_id, r.base_id) for r in got}
    # every perturbed recrawl must rediscover its source document
    srcs = [r.doc_id for r in base.filter("doc_id % 5 = 0")
            .select("doc_id").collect()]
    missing = [s for s in srcs if (s + 1000000, s) not in pairs]
    assert not missing, f"{len(missing)} planted recrawls missed"
    assert all(r.jaccard >= 0.5 for r in got)


def test_span_removal_keeps_canonical_occurrence(spark):
    from osmospark.functions.curation import span_dedup_remove

    base = "a b c d e f g h i j k"           # 11 words, 2 10-word windows
    df = spark.createDataFrame(
        [(0, base),                           # canonical — untouched
         (1, base),                           # full duplicate — emptied
         (2, "totally different words here"),  # unique — untouched
         (3, "a b c d e f g h i j z y x")],   # shares window 0 only
        "doc_id long, text string")
    got = {r.doc_id: r for r in span_dedup_remove(df).collect()}
    assert got[0].clean_text == base and got[0].n_removed == 0
    assert got[1].clean_text == "" and got[1].n_removed == 11
    assert got[2].n_removed == 0
    # doc 3: window at pos 0 duplicates doc 0 -> words 0..9 cut
    assert got[3].clean_text == "z y x" and got[3].n_removed == 10


def test_tfidf_topterms_hand_computed(spark):
    from osmospark.functions.textstats import tfidf_topterms

    # 3 docs: "rare" appears only in doc 0 (df=1, idf=3000);
    # "common" in all (df=3, idf=1000); doc 0 has common twice.
    df = spark.createDataFrame(
        [(0, "rare common common"), (1, "common x"), (2, "common y")],
        "doc_id long, text string")
    got = tfidf_topterms(df, k=2).collect()
    d0 = [(r.word, r.tf, r.df, r.score_milli, r.rank)
          for r in got if r.doc_id == 0]
    # rare: 1*3000 > common: 2*1000
    assert d0 == [("rare", 1, 1, 3000, 1), ("common", 2, 3, 2000, 2)]
    d1 = [(r.word, r.score_milli) for r in got if r.doc_id == 1]
    assert d1 == [("x", 3000), ("common", 1000)]


def test_tfidf_tie_breaks_on_word(spark):
    from osmospark.functions.textstats import tfidf_topterms

    df = spark.createDataFrame([(0, "b a"), (1, "z")],
                               "doc_id long, text string")
    got = [(r.word, r.rank) for r in tfidf_topterms(df, k=2).collect()
           if r.doc_id == 0]
    assert got == [("a", 1), ("b", 2)]  # equal scores -> word asc


def test_lm_score_rare_tokens_score_higher(spark):
    from osmospark.functions.textstats import lm_score

    # doc 0 = all common tokens, doc 1 = all singletons
    df = spark.createDataFrame(
        [(0, "w w w w w w w w"), (1, "q1 q2 q3 q4")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in lm_score(df).collect()}
    # total=12; w: cnt=8 -> (12*1024)//8=1536 -> 11 bits
    # qN: cnt=1 -> 12288 -> 14 bits
    assert got[0].n_tokens == 8 and got[0].total_bits == 8 * 11
    assert got[0].avg_bits_milli == 11000
    assert got[1].total_bits == 4 * 14 and got[1].avg_bits_milli == 14000
    assert got[1].avg_bits_milli > got[0].avg_bits_milli


def test_tfidf_and_lm_broadcast_vocab_side(spark):
    from osmospark.functions.textstats import tfidf_topterms, lm_score

    df = spark.createDataFrame([(0, "a b"), (1, "b c")],
                               "doc_id long, text string")
    for out in (tfidf_topterms(df), lm_score(df)):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan[:500]


def test_anchor_texts_hand_computed(spark):
    from osmospark.functions.linkgraph import anchor_texts

    rows = [("a.test", "http://t/1", "click"),
            ("b.test", "http://t/1", "click"),
            ("b.test", "http://t/1", "here"),
            ("a.test", "http://t/2", "zz"),
            ("a.test", "http://t/2", "aa")]  # tie: cnt 1 each -> aa wins
    got = {r.dst_url: r for r in anchor_texts(
        spark.createDataFrame(
            rows, "src_host string, dst_url string, anchor string")
    ).collect()}
    t1 = got["http://t/1"]
    assert (t1.n_links, t1.n_anchors, t1.n_src_hosts) == (3, 2, 2)
    assert (t1.top_anchor, t1.top_anchor_cnt) == ("click", 2)
    t2 = got["http://t/2"]
    assert (t2.top_anchor, t2.top_anchor_cnt) == ("aa", 1)
    assert t2.n_src_hosts == 1


def test_anchor_texts_collapses_before_window(spark):
    """A hot target with one repeated anchor must reach the per-dst
    window as ONE row (the groupBy collapses map-side) — assert the
    window input is the (dst, anchor) aggregate, not raw links."""
    from osmospark.functions.linkgraph import anchor_texts

    rows = [("h.test", "http://hot/", "x")] * 1000
    df = spark.createDataFrame(
        rows, "src_host string, dst_url string, anchor string")
    out = anchor_texts(df)
    r = out.collect()[0]
    assert (r.n_links, r.n_anchors, r.top_anchor_cnt) == (1000, 1, 1000)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the aggregate must appear below the window in the plan tree
    assert plan.index("HashAggregate") > plan.index("Window") or \
        "partial_count" in plan.lower()


def test_hits_hand_computed_star(spark):
    """Star graph: hubs 1,2,3 -> authority 0. After iteration 1 the
    center has ALL the authority (unit), spokes have hub unit, and the
    center's hub / spokes' authority are 0 (no out/in links)."""
    from osmospark.functions.linkgraph import hits

    edges = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0)], "src long, dst long")
    got = {r.node_id: r for r in hits(edges, iters=1).collect()}
    assert got[0].auth_u == 1_000_000 and got[0].hub_u == 0
    for s in (1, 2, 3):
        assert got[s].hub_u == 1_000_000 and got[s].auth_u == 0


def test_hits_distinguishes_hub_quality(spark):
    """Two hubs: h1 links to both authorities, h2 to one — after 2
    iterations h1's hub score must exceed h2's; the doubly-linked
    authority must outrank the singly-linked one."""
    from osmospark.functions.linkgraph import hits

    edges = spark.createDataFrame(
        [(10, 0), (10, 1), (20, 0)], "src long, dst long")
    got = {r.node_id: r for r in hits(edges, iters=2).collect()}
    assert got[10].hub_u > got[20].hub_u
    assert got[0].auth_u == 1_000_000  # max-normalized top authority
    assert got[0].auth_u > got[1].auth_u


def test_hits_checkpoint_invariant(spark):
    """Checkpointing does not change the ranks, and lineage grows
    linearly: each half-iteration reads the previous rank frame once, so
    the analyzed plan at iters=4 is at most 2.5x the plan at iters=2 (a
    max-normalizer joined back to its own input grows it 4x per
    iteration)."""
    from osmospark.functions.linkgraph import hits

    def plan_lines(df):
        return len(df._jdf.queryExecution().analyzed().toString()
                   .splitlines())

    edges = spark.createDataFrame(
        [(i, (i * i + 1) % 7) for i in range(7)]
        + [(i, (i + 1) % 7) for i in range(7)], "src long, dst long")
    plain_df = hits(edges, iters=4, checkpoint_every=0)
    assert plan_lines(plain_df) <= 2.5 * plan_lines(
        hits(edges, iters=2, checkpoint_every=0))
    plain = [tuple(r) for r in plain_df.collect()]
    ck = [tuple(r) for r in hits(edges, iters=4,
                                 checkpoint_every=2).collect()]
    assert plain == ck


def test_score_deciles_rank_exact_with_ties(spark):
    from osmospark.functions.curation import score_deciles

    # 10 docs, scores 0..4 twice: each score = 2 rows -> buckets by
    # rows-below: score s has lt=2s -> bucket (2s*5)//10 = s (5 buckets)
    rows = [(i, i % 5) for i in range(10)]
    got = {r.doc_id: r.bucket for r in score_deciles(
        spark.createDataFrame(rows, "doc_id long, score long"),
        n_buckets=5).collect()}
    for i, s in rows:
        assert got[i] == s
    # ties must share a bucket even when they straddle a boundary
    rows = [(i, 7) for i in range(9)] + [(9, 99)]
    got = {r.doc_id: r.bucket for r in score_deciles(
        spark.createDataFrame(rows, "doc_id long, score long"),
        n_buckets=10).collect()}
    assert all(got[i] == 0 for i in range(9))  # lt=0 for all ties
    assert got[9] == 9  # lt=9 -> (9*10)//10 = 9


def test_score_deciles_corpus_never_sorts_globally(spark):
    """The corpus side must join a BROADCAST CDF — no global sort or
    single-partition window over the big side."""
    from osmospark.functions.curation import score_deciles

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.pmod(F.col("id") * 37, F.lit(50)).alias("score"))
    out = score_deciles(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the only Window in the plan consumes the histogram (50 rows),
    # whose input is an aggregate, never the raw corpus
    assert plan.count("Window") >= 1 and "HashAggregate" in plan


def test_host_quality_blocklist_verdict(spark):
    from osmospark.functions.curation import host_quality

    good = "word " * 30 + "end"
    bad = "tiny doc"
    rows = ([("spam.test", bad)] * 25
            + [("ok.test", good)] * 25
            + [("small.test", bad)] * 5)  # low quality but < 20 docs
    got = {r.host: r for r in host_quality(spark.createDataFrame(
        rows, "host string, text string")).collect()}
    s = got["spam.test"]
    assert (s.docs, s.kept, s.kept_permille, s.blocklist) == \
        (25, 0, 0, True)
    o = got["ok.test"]
    assert o.kept == 25 and o.kept_permille == 1000 \
        and o.blocklist is False
    assert got["small.test"].blocklist is False  # under min volume


def test_importance_weights_rank_target_like_docs_higher(spark):
    from osmospark.functions.curation import importance_weights

    # target is pure "physics"; doc 0 matches it, doc 1 is disjoint
    corpus = spark.createDataFrame(
        [(0, "quark boson quark boson"), (1, "stock bond stock bond")],
        "doc_id long, text string")
    target = spark.createDataFrame(
        [("quark boson quark quark boson boson",)], "text string")
    got = {r.doc_id: r for r in importance_weights(corpus, target).collect()}
    assert got[0].n_tokens == 4 and got[1].n_tokens == 4
    # target-like doc scores strictly higher, and above the OOV doc
    assert got[0].weight_bits > got[1].weight_bits
    assert got[0].avg_weight_milli > got[1].avg_weight_milli
    # symmetric corpus halves -> source bits identical across docs, so
    # the gap is purely the target-model term (OOV Laplace floor)
    assert got[0].weight_bits > 0 > got[1].weight_bits


def test_importance_weights_broadcasts_models_single_doc_agg(spark):
    from osmospark.functions.curation import importance_weights

    corpus = spark.createDataFrame([(0, "a b"), (1, "b c")],
                                   "doc_id long, text string")
    target = spark.createDataFrame([("a b",)], "text string")
    plan = importance_weights(corpus, target)._jdf.queryExecution() \
        .executedPlan().toString()
    # both unigram models join back onto the token stream broadcast-side
    assert plan.count("BroadcastHashJoin") >= 2
    # no sort-merge join of the exploded corpus against itself
    assert "SortMergeJoin" not in plan


def test_classify_blocks_gates_and_skip_subtrees():
    from osmospark.functions.maintext import classify_blocks

    html = """<html><head><title>skip</title><style>p{}</style></head><body>
    <div class="nav"><a href="/1">nav item 1</a> <a href="/2">nav item 2</a></div>
    <p>This paragraph is certainly long enough to be kept as content.</p>
    <p><a href="/t">tiny</a> read the full story on our site today</p>
    <p>short</p>
    <ul><li>item one is short</li><li>item two with a <a href="/x">link</a>
    inside a longer sentence that survives the density gate</li></ul>
    <script>var x = "not content";</script>
    <p>footer</p></body></html>"""
    rows = classify_blocks(html)
    verdicts = {t[:12]: good for t, _, _, _, good in rows}
    assert verdicts["nav item 1 n"] is False      # link density 952
    assert verdicts["This paragra"] is True
    assert verdicts["tiny read th"] is True       # mixed, density 95
    assert verdicts["short"] is False             # min_chars
    assert verdicts["item one is "] is False      # li splits blocks
    assert verdicts["item two wit"] is True
    assert verdicts["footer"] is False
    # script/style/title text never appears in any block
    assert not any("not content" in t or "skip" in t for t, *_ in rows)
    # blocks come out in document order
    assert [t[:4] for t, *_ in rows][:2] == ["nav ", "This"]


def test_main_text_single_mapinpandas_no_shuffle(spark):
    from osmospark.functions.maintext import main_text

    pages = spark.createDataFrame(
        [(0, "<p>a paragraph long enough to clear the content gate</p>"
             "<p><a href='/'>all link all link all link all link</a></p>"),
         (1, "")],
        "doc_id long, html string")
    out = main_text(pages)
    got = {r.doc_id: r for r in out.collect()}
    assert got[0].n_blocks == 2 and got[0].n_good == 1
    assert got[0].main_text.startswith("a paragraph")
    assert got[0].link_permille > 300
    assert got[1].main_text == "" and got[1].n_blocks == 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # map-only: one Arrow pass, no shuffle


def test_seed_distance_hand_planted_bfs(spark):
    """Chain 0→1→2→3 plus shortcut 0→2, cycle 3→0, and island 9→10:
    dist(0)=0, dist(1)=1, dist(2)=1 (shortcut beats the chain),
    dist(3)=2; the cycle back to 0 never lowers a settled node; the
    island is unreachable and absent. max_hops truncates: with
    max_hops=1 node 3 disappears."""
    from osmospark.functions.linkgraph import seed_distance

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (0, 2), (3, 0), (9, 10)],
        "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node_id long")
    got = {r.node_id: r.dist
           for r in seed_distance(edges, seeds, max_hops=8).collect()}
    assert got == {0: 0, 1: 1, 2: 1, 3: 2}
    short = {r.node_id: r.dist
             for r in seed_distance(edges, seeds, max_hops=1).collect()}
    assert short == {0: 0, 1: 1, 2: 1}


def test_dust_rules_session_param_learned_content_param_rejected(spark):
    """Host a: urls differing only in sid share a fingerprint (2
    residual groups × 2 sids) → sid is a rule; urls differing only in
    page have different fingerprints → page is violated. Host b has
    only ONE sid residual group (support 1 < min_support 2) → no rule.
    A paramless url is inert."""
    from osmospark.urlnorm import dust_rules

    rows = []
    for page in (1, 2):
        for sid in ("x", "y"):
            rows.append((f"http://a.test/p?page={page}&sid={sid}",
                         100 + page))
    rows += [("http://b.test/p?page=1&sid=x", 7),
             ("http://b.test/p?page=1&sid=y", 7),
             ("http://b.test/q", 9)]
    df = spark.createDataFrame(rows, "url string, fp long")
    got = {(r.host, r.param): (r.support, r.violations, r.is_rule)
           for r in dust_rules(df, min_support=2).collect()}
    assert got[("a.test", "sid")] == (2, 0, True)
    assert got[("a.test", "page")] == (0, 2, False)
    assert got[("b.test", "sid")] == (1, 0, False)
    assert ("b.test", "page") not in got     # 1 url per residual group


def test_inverted_index_positions_df_cf(spark):
    """'b b a' / 'a b' / 'c': a → df 2, cf 2, positions [2] and [0];
    b → df 2, cf 3, positions [0,1] and [1]; hapax c dropped at
    min_df=2."""
    from osmospark.functions.textstats import inverted_index

    docs = spark.createDataFrame(
        [(1, "b b a"), (2, "a b"), (3, "c")], "doc_id long, text string")
    got = {(r.word, r.doc_id): (r.tf, r.positions, r.df, r.cf)
           for r in inverted_index(docs, min_df=2).collect()}
    assert got[("a", 1)] == (1, [2], 2, 2)
    assert got[("a", 2)] == (1, [0], 2, 2)
    assert got[("b", 1)] == (2, [0, 1], 2, 3)
    assert got[("b", 2)] == (1, [1], 2, 3)
    assert not any(w == "c" for w, _ in got)


def test_ccnet_buckets_per_lang_tiers_and_ties(spark):
    """Language en: 10 docs scoring 10..100 with 250/750 permille
    cutoffs → strictly-below ranks 0-2 head, 3-7 middle, 8-9 tail;
    de has 3 docs ALL score 5 — strictly-below rank 0 for every doc,
    so the whole tie class lands in head (ties never straddle a
    cutoff)."""
    from osmospark.functions.curation import ccnet_buckets

    rows = [(i, "en", 10 * i) for i in range(1, 11)]
    rows += [(20, "de", 5), (21, "de", 5), (22, "de", 5)]
    scored = spark.createDataFrame(
        rows, "doc_id long, lang string, avg_bits_milli long")
    got = {r.doc_id: r.bucket
           for r in ccnet_buckets(scored, head_permille=250,
                                  middle_permille=750).collect()}
    assert [got[i] for i in range(1, 11)] == (
        ["head"] * 3 + ["middle"] * 5 + ["tail"] * 2)
    assert got[20] == got[21] == got[22] == "head"


def test_holdout_split_host_pure_function(spark):
    """Docs sharing a host always share a split (the leakage-free
    property), the bucket is md5-derived mod 1000, and split bounds
    follow the permille knobs."""
    from osmospark.functions.curation import holdout_split

    docs = spark.createDataFrame(
        [(i, f"h{i % 7}.test") for i in range(50)],
        "doc_id long, host string")
    rows = holdout_split(docs, val_permille=100,
                         test_permille=100).collect()
    by_host = {}
    for r in rows:
        by_host.setdefault(r.host, set()).add(r.split)
        assert 0 <= r.bucket < 1000
        expected = ("train" if r.bucket < 800
                    else "val" if r.bucket < 900 else "test")
        assert r.split == expected
    assert all(len(s) == 1 for s in by_host.values())


def test_canonical_docs_keeps_best_per_cluster(spark):
    """Docs 1/2/3 are near-identical (one cluster), doc 4 standalone.
    Scores (length proxy) make doc 2 the best member → only doc 2 is
    canonical in the cluster; ties would fall to the lowest doc_id;
    the singleton is canonical by itself."""
    from osmospark.functions.pipeline import canonical_docs

    base = ("the quick brown fox jumps over the lazy dog and then "
            "keeps running across the wide open field toward town")
    docs = spark.createDataFrame(
        [(1, base, 10), (2, base + " extra tail words here", 99),
         (3, base + " tiny", 10), (4, "completely different text about "
          "spark shuffles and broadcast joins at scale", 50)],
        "doc_id long, text string, n_chars long")
    got = {r.doc_id: (r.cluster_id, r.is_canonical)
           for r in canonical_docs(docs, jaccard_threshold=0.5).collect()}
    assert got[1] == (1, False)
    assert got[2] == (1, True)
    assert got[3] == (1, False)
    assert got[4] == (4, True)


def test_adaptive_delay_p95_clamped(spark):
    """Host a: 100 fetches, latencies 1..100 → p95 = 95, delay =
    95·1500‰ = 142 (above base 100, below max). Host b: constant 2 ms
    → p95 = 2, delay clamps UP to base. Host c: one 60 s outlier p95 →
    clamps DOWN to max."""
    from osmospark.frontier.politeness import adaptive_delay

    rows = [("a", i) for i in range(1, 101)]
    rows += [("b", 2)] * 10
    rows += [("c", 60_000)] * 3
    log = spark.createDataFrame(rows, "host string, latency_ms long")
    got = {r.host: (r.n_fetches, r.p_ms, r.delay_ms)
           for r in adaptive_delay(log).collect()}
    assert got["a"] == (100, 95, 142)
    assert got["b"] == (10, 2, 100)
    assert got["c"] == (3, 60_000, 10_000)


def test_paragraph_dedup_identity_on_all_unique(spark):
    """A corpus whose paragraphs are all distinct must pass through
    byte-identical (the operator only ever removes repeats)."""
    from osmospark.functions.curation import paragraph_dedup

    docs = spark.createDataFrame(
        [(i, f"alpha {i}\nbeta {i}\n\ngamma {i}") for i in range(30)],
        "doc_id long, text string")
    got = paragraph_dedup(docs).collect()
    assert all(r.clean_text == f"alpha {r.doc_id}\nbeta {r.doc_id}"
               f"\n\ngamma {r.doc_id}" and r.n_kept == r.n_paras == 4
               for r in got)


def test_inverted_index_tf_sums_to_token_count(spark):
    """With min_df=1, per-doc Σtf equals the doc's token count and
    every positions list has len == tf with offsets < token count."""
    from osmospark.functions.textstats import inverted_index

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 7 + j * 3) % 5}" for j in range(9)))
         for i in range(20)],
        "doc_id long, text string")
    rows = inverted_index(docs, min_df=1).collect()
    per_doc = {}
    for r in rows:
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + r.tf
        assert len(r.positions) == r.tf
        assert all(0 <= p < 9 for p in r.positions)
    assert per_doc == {i: 9 for i in range(20)}


def test_dust_rules_observation_order_and_dup_invariant(spark):
    """Repeating observations and permuting row order cannot change
    the mined rules (the first aggregation collapses duplicates)."""
    from osmospark.urlnorm import dust_rules

    rows = []
    for page in (1, 2, 3):
        for sid in ("x", "y"):
            rows.append((f"http://a.test/p?page={page}&sid={sid}",
                         100 + page))
    df1 = spark.createDataFrame(rows, "url string, fp long")
    df2 = spark.createDataFrame(rows[::-1] + rows * 2,
                                "url string, fp long")
    r1 = [tuple(r) for r in dust_rules(df1).collect()]
    r2 = [tuple(r) for r in dust_rules(df2).collect()]
    assert r1 == r2 and len(r1) == 2


def test_seed_distance_bfs_invariants_on_pseudorandom_graph(spark):
    """On a deterministic pseudo-random graph: dist(seed)=0; every
    non-seed reached node has an in-neighbor at dist-1; no edge jumps
    levels (dist(v) <= dist(u)+1 for reached u)."""
    from osmospark.functions.linkgraph import seed_distance

    n = 60
    edges = [(u, (u * 13 + 5) % n) for u in range(n)]
    edges += [(u, (u * u + 1) % n) for u in range(0, n, 2)]
    e = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,), (17,)], "node_id long")
    dist = {r.node_id: r.dist
            for r in seed_distance(e, seeds, max_hops=12).collect()}
    assert dist[0] == 0 and dist[17] == 0
    adj_in = {}
    for u, v in edges:
        adj_in.setdefault(v, []).append(u)
    for node, d in dist.items():
        if d == 0:
            continue
        assert any(dist.get(u) == d - 1 for u in adj_in.get(node, []))
    for u, v in edges:
        if u in dist and v in dist:
            assert dist[v] <= dist[u] + 1


def test_paragraph_dedup_hash_scale_doc_ids(spark):
    """Regression (r4 advisor): the old arithmetic order key
    (doc_id·1e6 + idx) overflowed bigint for hash-scale doc_ids
    (xxhash64-derived, |id| > ~9.2e12) — ANSI mode aborted the job and
    non-ANSI silently wrapped, corrupting global-first-occurrence
    selection. The struct-min key has no encodable range: first
    occurrence = lexicographic (doc_id, idx) min, at any id magnitude
    and any paragraph count."""
    from osmospark.functions.curation import paragraph_dedup

    big, neg = 9_223_370_000_000_000_123, -9_223_370_000_000_000_999
    docs = spark.createDataFrame(
        [(neg, "dup\nunique-neg"), (5, "dup\nunique-5"),
         (big, "dup\nunique-big")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in paragraph_dedup(docs).collect()}
    # first occurrence of "dup" = lowest doc_id (the negative one)
    assert got[neg]["clean_text"] == "dup\nunique-neg"
    assert got[5]["clean_text"] == "unique-5"
    assert got[big]["clean_text"] == "unique-big"
    assert got[big]["n_paras"] == 2 and got[big]["n_kept"] == 1


def test_apply_dust_rules_strips_only_learned_params(spark):
    """Host a learned sid+utm: both strip (order of surviving params
    preserved), all-stripped urls collapse to the bare path, paramless
    urls and unknown hosts pass through unchanged; non-rule rows in
    the rules frame are ignored."""
    from osmospark.urlnorm import apply_dust_rules

    rules = spark.createDataFrame(
        [("a.test", "sid", 5, 0, True), ("a.test", "utm", 3, 0, True),
         ("a.test", "page", 0, 3, False), ("b.test", "sid", 1, 0, False)],
        "host string, param string, support long, violations long, "
        "is_rule boolean")
    urls = spark.createDataFrame(
        [("http://a.test/p?page=2&sid=x&utm=fb",),
         ("http://a.test/p?sid=x",),
         ("http://a.test/p",),
         ("http://b.test/p?sid=x",),
         ("http://c.test/p?sid=x",)], "url string")
    got = {r.url: (r.canonical_url, r.changed)
           for r in apply_dust_rules(urls, rules).collect()}
    assert got["http://a.test/p?page=2&sid=x&utm=fb"] == \
        ("http://a.test/p?page=2", True)
    assert got["http://a.test/p?sid=x"] == ("http://a.test/p", True)
    assert got["http://a.test/p"] == ("http://a.test/p", False)
    assert got["http://b.test/p?sid=x"] == ("http://b.test/p?sid=x", False)
    assert got["http://c.test/p?sid=x"] == ("http://c.test/p?sid=x", False)


def test_dust_rules_host_normalized_like_engine(spark):
    """Regression (r4 advisor): dust_rules used the raw authority
    regex (kept case, port, userinfo) while the frontier's host is
    urlsplit().hostname (lowercase, portless) — rules mined for
    'Example.com:8080' could never equi-join the engine's broadcast
    rewrite. The shared host_expr must match url_host() exactly, for
    mixed case, non-default ports, userinfo and IPv6 brackets."""
    from osmospark.urlnorm import apply_dust_rules, dust_rules, url_host

    base = "http://User:pw@Example.COM:8080/p"
    rows = [(f"{base}?page={p}&sid={s}", 100 + p)
            for p in (1, 2) for s in ("x", "y")]
    df = spark.createDataFrame(rows, "url string, fp long")
    rules = dust_rules(df, min_support=2)
    got = {(r.host, r.param): r.is_rule for r in rules.collect()}
    assert url_host(base) == "example.com"
    assert got[("example.com", "sid")] is True     # normalized host
    assert got[("example.com", "page")] is False

    # and the apply side extracts the SAME host, so the loop closes
    out = {r.url: r.canonical_url
           for r in apply_dust_rules(
               df.select("url").distinct(), rules).collect()}
    assert out[f"{base}?page=1&sid=x"] == f"{base}?page=1"

    hosts = {r.host for r in dust_rules(spark.createDataFrame(
        [("http://[2001:DB8::1]:8080/p?a=1&sid=x", 1),
         ("http://[2001:DB8::1]:8080/p?a=1&sid=y", 1)],
        "url string, fp long")).collect()}
    assert hosts == {"2001:db8::1"}
    assert url_host("http://[2001:DB8::1]:8080/p") == "2001:db8::1"


def test_apply_dust_rules_preserves_fragment(spark):
    """Regression (r4 advisor): the rebuilt URL dropped #fragment from
    query-bearing URLs on rule hosts even when nothing was stripped.
    Fragments must survive every branch: param stripped, all params
    stripped, and nothing stripped."""
    from osmospark.urlnorm import apply_dust_rules

    rules = spark.createDataFrame(
        [("a.test", "sid", 5, 0, True)],
        "host string, param string, support long, violations long, "
        "is_rule boolean")
    urls = spark.createDataFrame(
        [("http://a.test/p?page=2&sid=x#sec-3",),
         ("http://a.test/p?sid=x#top",),
         ("http://a.test/p?page=1#frag",),
         ("http://a.test/p#only",)], "url string")
    got = {r.url: (r.canonical_url, r.changed)
           for r in apply_dust_rules(urls, rules).collect()}
    assert got["http://a.test/p?page=2&sid=x#sec-3"] == \
        ("http://a.test/p?page=2#sec-3", True)
    assert got["http://a.test/p?sid=x#top"] == ("http://a.test/p#top", True)
    assert got["http://a.test/p?page=1#frag"] == \
        ("http://a.test/p?page=1#frag", False)
    assert got["http://a.test/p#only"] == ("http://a.test/p#only", False)


def test_ccnet_buckets_null_lang_or_score_routed_unknown(spark):
    """Regression (r4 advisor): NULL-lang/NULL-score docs vanished
    through the inner CDF join. They must surface in an explicit
    'unknown' bucket; non-NULL docs bucket exactly as before."""
    from osmospark.functions.curation import ccnet_buckets

    rows = [(i, "en", 10 * i) for i in range(1, 11)]
    rows += [(90, None, 5), (91, "en", None), (92, None, None)]
    scored = spark.createDataFrame(
        rows, "doc_id long, lang string, avg_bits_milli long")
    got = {r.doc_id: r.bucket
           for r in ccnet_buckets(scored, head_permille=250,
                                  middle_permille=750).collect()}
    assert len(got) == 13                    # nothing vanishes
    assert [got[i] for i in range(1, 11)] == (
        ["head"] * 3 + ["middle"] * 5 + ["tail"] * 2)
    assert got[90] == got[91] == got[92] == "unknown"


def test_cocitation_counts_caps_and_coupling(spark):
    """s1/s2/s3 all cite {10,11} → (10,11) n_common=3; pairs via the
    single extra citation s1→12 fall under min_common=2; duplicate
    edges count once; a 60-fanout hub source is dropped by the cap so
    none of its pairs appear. Coupling mode: s1/s2/s3 pairwise share
    {10,11} → n_common=2 each."""
    from osmospark.functions.linkgraph import cocitation

    rows = [(s, d) for s in (1, 2, 3) for d in (10, 11)]
    rows += [(1, 12), (1, 10)]                      # extra + duplicate
    rows += [(4, 1000 + i) for i in range(60)]      # hub over cap
    e = spark.createDataFrame(rows, "src long, dst long")

    got = {(r.a, r.b): r.n_common
           for r in cocitation(e, min_common=2,
                               max_source_fanout=50).collect()}
    assert got == {(10, 11): 3}

    cpl = {(r.a, r.b): r.n_common
           for r in cocitation(e, min_common=2, max_source_fanout=50,
                               mode="coupling").collect()}
    assert cpl == {(1, 2): 2, (1, 3): 2, (2, 3): 2}


def test_word_grams_match_python_reference_randomized(spark):
    """The zip_with gram chain must equal the straightforward Python
    n-gram definition on 60 seeded-random texts (mixed whitespace,
    unicode, shorts) for n in {2,3,10} — a regression pin for the
    HOF-lambda rewrite (PLANS.md §24)."""
    import random
    from osmospark.functions.curation import _word_grams

    rng = random.Random(42)
    alphabet = ["word", "Wort", "mot", "x1", "λόγος", "a", "Bb", "ccc"]
    texts = []
    for i in range(60):
        k = rng.randint(0, 14)
        sep = rng.choice([" ", "  ", " \t ", "   "])
        texts.append((i, sep.join(rng.choice(alphabet) for _ in range(k))))
    df = spark.createDataFrame(texts, "id long, text string")

    def ref(text, n):
        ws = " ".join(text.lower().split()).split(" ")
        norm = " ".join(ws)
        if len(ws) < n or norm == "":
            return [norm]
        return [" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)]

    for n in (2, 3, 10):
        got = {r.id: r.g for r in df.select(
            "id", _word_grams(F.col("text"), n).alias("g")).collect()}
        for i, text in texts:
            assert got[i] == ref(text, n), (n, i, text, got[i], ref(text, n))


def test_graph_stats_hand_computed(spark):
    """Star 0→{1,2,3} plus 1→2: out degrees {0:3, 1:1} → histogram
    rows (out,1,1),(out,3,1); in degrees {1:1, 2:2, 3:1} →
    (in,1,2),(in,2,1)."""
    from osmospark.functions.linkgraph import graph_stats

    e = spark.createDataFrame([(0, 1), (0, 2), (0, 3), (1, 2)],
                              "src long, dst long")
    got = [(r.direction, r.degree, r.n_nodes)
           for r in graph_stats(e).collect()]
    assert got == [("in", 1, 2), ("in", 2, 1),
                   ("out", 1, 1), ("out", 3, 1)]


def test_communities_lpa_deterministic_hand_traced(spark):
    """Star 0–{1..5} plus triangle {10,11,12}: the triangle converges
    to community label 10 by iteration 2 (min-label tie-breaks); the
    star exhibits synchronous LPA's classic two-coloring oscillation,
    which the fixed tie-break makes exactly reproducible — after 3
    iterations hub=1, leaves=0. Hand-traced through all 3 rounds."""
    from osmospark.functions.linkgraph import communities_lpa

    rows = [(0, i) for i in range(1, 6)] + [(10, 11), (10, 12), (11, 12)]
    e = spark.createDataFrame(rows, "src long, dst long")
    got = {r.node_id: r.label
           for r in communities_lpa(e, iters=3).collect()}
    assert got[0] == 1
    assert all(got[i] == 0 for i in range(1, 6))
    assert got[10] == got[11] == got[12] == 10


def test_cap_per_host_exact_k_and_determinism(spark):
    """30 docs on one host, 3 on another, k=5: exactly 5 and 3 kept;
    the keep set is the md5-order prefix (re-running and permuting
    input order yields identical rows); ranks are 0..k-1."""
    from osmospark.functions.curation import cap_per_host

    rows = [(i, "big.test", "w " * 4) for i in range(30)]
    rows += [(100 + i, "small.test", "w " * 4) for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, host string, text string")
    out1 = [(r.doc_id, r.host, r.rank)
            for r in cap_per_host(docs, 5).collect()]
    hosts = {}
    for _, h, rank in out1:
        hosts.setdefault(h, []).append(rank)
    assert sorted(hosts["big.test"]) == [0, 1, 2, 3, 4]
    assert sorted(hosts["small.test"]) == [0, 1, 2]
    docs2 = spark.createDataFrame(rows[::-1],
                                  "doc_id long, host string, text string")
    out2 = [(r.doc_id, r.host, r.rank)
            for r in cap_per_host(docs2, 5).collect()]
    assert out1 == out2


def test_paragraph_dedup_null_text_doc_survives(spark):
    """A rewriter must never delete a document: NULL text is treated
    as empty (split(NULL) would explode to zero rows and drop the doc
    from the output entirely — r5 edge-probe finding)."""
    from osmospark.functions.curation import paragraph_dedup

    docs = spark.createDataFrame(
        [(1, "keep me\nkeep me"), (2, None), (3, "")],
        "doc_id long, text string")
    got = {r.doc_id: (r.clean_text, r.n_paras, r.n_kept)
           for r in paragraph_dedup(docs).collect()}
    assert set(got) == {1, 2, 3}          # every doc_id present
    assert got[1] == ("keep me", 2, 1)
    assert got[2] == ("", 1, 1)           # NULL text ≡ empty text
    assert got[3] == ("", 1, 1)


def test_cap_per_host_null_host_group(spark):
    """Docs with a NULL host (unparseable URL) are capped as their own
    group, not silently deleted: the host joins are null-safe (r5
    edge-probe finding — the equi-join dropped every NULL-host doc)."""
    from osmospark.functions.curation import budget_sample, cap_per_host

    rows = [(i, "a.test", "w " * 4) for i in range(4)]
    rows += [(100 + i, None, "w " * 4) for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, host string, text string")
    out = cap_per_host(docs, 2).collect()
    by_host = {}
    for r in out:
        by_host.setdefault(r.host, []).append(r.doc_id)
    assert len(by_host["a.test"]) == 2
    assert len(by_host[None]) == 2        # capped, not dropped

    # budget_sample proper: NULL-host docs admit only under an explicit
    # NULL budget row ("hosts absent from budgets contribute nothing")
    no_null = spark.createDataFrame([("a.test", 1000)],
                                    "host string, token_budget long")
    got = budget_sample(docs, no_null).collect()
    assert {r.host for r in got} == {"a.test"}
    with_null = spark.createDataFrame([("a.test", 1000), (None, 1000)],
                                      "host string, token_budget long")
    got = budget_sample(docs, with_null).collect()
    assert {r.host for r in got} == {"a.test", None}


def test_kmeans_and_pq_empty_input_raise(spark):
    """Empty embeddings must fail with a crisp ValueError, not a
    NoneType TypeError from the init collect (r5 edge-probe finding)."""
    import pytest as _pytest

    from osmospark.functions.similarity import kmeans_codebook, pq_codebooks

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with _pytest.raises(ValueError, match="empty"):
        kmeans_codebook(empty, cells=2, iters=1)
    with _pytest.raises(ValueError, match="empty"):
        pq_codebooks(empty, m=2, ks=2, iters=1)

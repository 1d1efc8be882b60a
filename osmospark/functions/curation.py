"""Corpus curation operators a pretraining-data pipeline runs beyond
dedup: repetition scoring (the Gopher rules), benchmark decontamination,
and deterministic stratified downsampling.

All three are built-in ``pyspark.sql.functions`` expressions (JVM-side,
whole-stage codegen; no Python in the hot path) with exact DuckDB oracles
in ``__spark_entry__.py``:

- ``repetition_scores`` — per-document duplicate-line / top-n-gram /
  duplicate-n-gram character fractions (Rae et al., Gopher, §A1.1.2:
  documents dominated by repeated lines or n-grams are low-quality
  machine text). MAP-ONLY: every metric is computed per row with sorted
  arrays + linear folds — no explode, no shuffle — so at 100 TB it
  pipelines inside the scan like the other textstats.
- ``decontaminate`` — flag documents sharing any word n-gram with a
  benchmark/eval set (the standard n-gram-overlap contamination rule).
  The benchmark side is tiny and broadcast; the corpus explodes grams
  map-side into a broadcast-hash join, then one partial-agg shuffle on
  doc_id.
- ``stratified_sample`` — deterministic per-stratum hash sampling:
  ``md5(doc_id)``'s first 8 hex chars modulo 1e6 against the stratum's
  rate, so the SAME rows are kept on any engine, any partitioning, any
  run — reproducible corpus mixes without storing a sample table.
  Map-only (a filter), no RNG, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

SAMPLE_MOD = 1_000_000


def _norm_words(col):
    return F.split(
        F.regexp_replace(F.trim(F.lower(col)), r"\s+", " "), " ")


def _word_grams(col, n: int):
    """n-word grams with the same short-text fallback as dedup._shingles:
    texts under n words yield one pseudo-gram (the normalized text).

    zip_with-chain formulation, NOT transform-over-indices with
    slice(words, i, n) in the lambda: higher-order-function lambdas are
    interpreted and re-evaluate referenced subtrees per element, so the
    slice form re-splits the text once per gram — O(W²) (measured 22.8 s
    vs 0.5 s on 2000×1000-word docs). zip_with evaluates its array
    ARGUMENTS once, and the trailing n−1 null-padded pairs (concat
    propagates null) are filtered off."""
    words = _norm_words(col)
    m = F.size(words)
    norm = F.concat_ws(" ", words)
    g = words
    for j in range(1, n):
        g = F.zip_with(g, F.slice(words, j + 1, m),
                       lambda x, y: F.concat(x, F.lit(" "), y))
    if n > 1:
        g = F.filter(g, lambda x: x.isNotNull())
    return F.when(m >= n, g).otherwise(F.array(norm))


def _dup_mass_frac(arr):
    """Char-mass fraction of elements that occur more than once.

    Sort, then an element belongs to a duplicate run iff it equals a
    neighbor — O(W log W) per row, all inside codegen (the naive
    count-per-distinct nested filter is O(W²) and would not survive
    10k-word documents)."""
    s = F.array_sort(arr)
    m = F.size(s)
    total = F.aggregate(s, F.lit(0).cast("bigint"),
                        lambda acc, x: acc + F.length(x))
    # F.get is 0-indexed and NULL-safe at both ends (element_at raises on
    # index 0 and, under ANSI, past the end); NULL comparisons fall to 0
    dup = F.aggregate(
        F.sequence(F.lit(1), m),
        F.lit(0).cast("bigint"),
        lambda acc, i: acc + F.when(
            (F.get(s, i - 1) == F.get(s, i - 2))
            | (F.get(s, i - 1) == F.get(s, i)),
            F.length(F.get(s, i - 1))).otherwise(F.lit(0)))
    return F.when(total > 0, F.round(dup.cast("double") / total, 6)) \
        .otherwise(F.lit(0.0))


def _top_mass_frac(arr):
    """Char-mass fraction of the heaviest element value: max over
    distinct values of count×length, via ONE linear fold over the sorted
    array (runs are contiguous after sorting; each boundary closes a run
    and scores it)."""
    s = F.array_sort(arr)
    total = F.aggregate(s, F.lit(0).cast("bigint"),
                        lambda acc, x: acc + F.length(x))
    zero = F.lit(0).cast("bigint")
    init = F.struct(F.lit("").alias("prev"), zero.alias("run"),
                    zero.alias("best"))
    best = F.aggregate(
        s, init,
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
            .cast("bigint").alias("run"),
            F.when(x == acc["prev"], acc["best"]).otherwise(
                F.greatest(acc["best"],
                           acc["run"] * F.length(acc["prev"])))
            .cast("bigint").alias("best")),
        lambda acc: F.greatest(acc["best"],
                               acc["run"] * F.length(acc["prev"])))
    return F.when(total > 0, F.round(best.cast("double") / total, 6)) \
        .otherwise(F.lit(0.0))


def repetition_scores(documents: DataFrame,
                      top_n: int = 2, dup_n: int = 3) -> DataFrame:
    """Gopher-style repetition stats per document:

    - ``dup_line_frac``    — char fraction of lines occurring > once;
    - ``top{top_n}gram_frac`` — char-mass fraction of the most repeated
      word ``top_n``-gram (count × gram length over total gram mass);
    - ``dup{dup_n}gram_frac`` — char-mass fraction of word
      ``dup_n``-grams occurring > once.

    A pipeline drops documents above thresholds (Gopher: e.g. dup-line
    > 0.30, top-2-gram > 0.20). Zero shuffles: everything folds per row.
    """
    lines = F.split(F.col("text"), "\n")
    return documents.select(
        "doc_id",
        _dup_mass_frac(lines).alias("dup_line_frac"),
        _top_mass_frac(_word_grams(F.col("text"), top_n))
        .alias(f"top{top_n}gram_frac"),
        _dup_mass_frac(_word_grams(F.col("text"), dup_n))
        .alias(f"dup{dup_n}gram_frac"),
    )


def decontaminate(documents: DataFrame, benchmark: DataFrame,
                  n: int = 5) -> DataFrame:
    """Benchmark decontamination: documents sharing any word ``n``-gram
    with the benchmark set, with the count of distinct shared grams —
    the rows a pipeline REMOVES before training so eval stays honest.

    benchmark: any DataFrame with a ``text`` column (an eval set is
    thousands of rows — broadcast side). The corpus side explodes grams
    into a broadcast-hash semi-join (map-side, no corpus shuffle), then
    one partial-agg shuffle on the surviving doc_ids only.
    Output: (doc_id, n_hits), ordered."""
    bench_grams = (benchmark
                   .select(F.explode(_word_grams(F.col("text"), n))
                           .alias("g"))
                   .distinct())
    doc_grams = documents.select(
        "doc_id", F.explode(_word_grams(F.col("text"), n)).alias("g"))
    return (doc_grams.join(F.broadcast(bench_grams), "g")
            .groupBy("doc_id")
            .agg(F.count_distinct("g").alias("n_hits"))
            .orderBy("doc_id"))


# normalize_text character classes — ONE Python source of ASCII-only
# regex text using \x{...} escapes, which Java regex (Spark) and RE2
# (DuckDB) parse identically, so embedding the same string in both
# engines yields the same codepoint classes without raw control bytes
# in SQL literals. Tab/newline survive the control strip and fold into
# the final whitespace collapse.
NORM_CTRL_RX = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"
NORM_SPACE_RX = (r"[\x{00a0}\x{1680}\x{2000}-\x{200a}"
                 r"\x{202f}\x{205f}\x{3000}]")
NORM_INVISIBLE_RX = r"[\x{00ad}\x{200b}-\x{200d}\x{2060}\x{feff}]"
NORM_MOJIBAKE_RX = r"\x{00c3}[\x{0080}-\x{00ff}]|\x{00e2}\x{20ac}"


def normalize_text(documents: DataFrame,
                   text_col: str = "text") -> DataFrame:
    """Unicode text normalization — the cleanup pass every webtext
    pipeline runs before tokenization (cf. CCNet's preprocessing):

    - strip C0/C1 control characters (keep \\t \\n \\r pre-collapse);
    - map exotic Unicode spaces (NBSP, en/em/thin spaces, ideographic
      space) to ASCII space;
    - delete zero-width characters (ZWSP/ZWNJ/ZWJ/BOM) and soft
      hyphens — invisible codepoints that fracture tokens;
    - collapse all whitespace runs to single spaces and trim;
    - count mojibake markers (UTF-8-read-as-Latin-1 artifacts: 'Ã'
      followed by a Latin-1-range char, and the 'â€¦'-family prefix) —
      reported, not "fixed": re-decoding is a per-source decision.

    Map-only JVM regexp chain (the character classes are shared
    Java-regex/RE2 syntax with the literal codepoints embedded from
    the same Python source, so the DuckDB oracle applies the identical
    projection). Output: (doc_id, clean_text, n_chars_before,
    n_chars_after, mojibake_hits)."""
    t = F.col(text_col)
    cleaned = F.trim(F.regexp_replace(F.regexp_replace(F.regexp_replace(
        F.regexp_replace(t, NORM_CTRL_RX, ""), NORM_INVISIBLE_RX, ""),
        NORM_SPACE_RX, " "), r"\s+", " "))
    return documents.select(
        "doc_id",
        cleaned.alias("clean_text"),
        F.length(t).cast("bigint").alias("n_chars_before"),
        F.length(cleaned).cast("bigint").alias("n_chars_after"),
        (F.size(F.split(t, NORM_MOJIBAKE_RX, -1)) - 1).cast("bigint")
        .alias("mojibake_hits")
    ).orderBy("doc_id")


def paragraph_dedup(documents: DataFrame) -> DataFrame:
    """CCNet-style corpus-wide paragraph deduplication (Wenzek et al.
    2020 dedup by paragraph hash): every non-blank paragraph (split on
    newline) is kept only at its GLOBALLY FIRST occurrence — first =
    lowest (doc_id, position) — and removed everywhere else; blank
    paragraphs are structure, always kept and never dedup keys (they
    would otherwise be the corpus's hottest hash). Output per doc:
    (doc_id, clean_text, n_paras, n_kept) with surviving paragraphs
    re-joined in original order (clean docs pass through verbatim).

    Scale shape: NO window over the paragraph hash — a boilerplate
    paragraph repeated 10^7 times would sort through one task. The
    first occurrence is ``min(struct(doc_id, idx))`` per hash
    (lexicographic struct min — map-side partials, ~20-byte rows;
    NO arithmetic encoding, so hash-scale doc_ids like xxhash64
    outputs can never overflow or wrap the order key), then a
    semi-join back on (hash, doc_id, idx). Text moves twice (explode +
    reassembly groupBy on doc_id), which is the floor for an operator
    that rewrites documents. NULL text is treated as empty text — a
    corpus rewriter must never silently DELETE a document (split(NULL)
    explodes to zero rows, which would drop the doc from the output
    entirely; the NULL-handling discipline of ccnet_buckets)."""
    sep = "\n"
    paras = documents.select(
        "doc_id", F.posexplode(F.split(F.coalesce(F.col("text"),
                                                  F.lit("")), sep))
        .alias("idx", "para"))
    blank = F.length(F.trim(F.col("para"))) == 0
    nonempty = paras.filter(~blank).withColumn("h", F.md5(F.col("para")))
    first = (nonempty.groupBy("h")
             .agg(F.min(F.struct("doc_id", "idx")).alias("_fo"))
             .select("h", F.col("_fo.doc_id").alias("doc_id"),
                     F.col("_fo.idx").alias("idx")))
    kept_ne = nonempty.join(first, ["h", "doc_id", "idx"], "left_semi") \
        .select("doc_id", "idx", "para")
    kept = kept_ne.unionByName(paras.filter(blank))
    stats = paras.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_paras"))
    rebuilt = (kept.groupBy("doc_id")
               .agg(F.count("*").cast("bigint").alias("n_kept"),
                    F.concat_ws(sep, F.transform(
                        F.array_sort(F.collect_list(
                            F.struct("idx", "para"))),
                        lambda x: x["para"])).alias("clean_text")))
    return (stats.join(rebuilt, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                    "n_paras",
                    F.coalesce("n_kept", F.lit(0).cast("bigint"))
                    .alias("n_kept"))
            .orderBy("doc_id"))


def contamination_fraction(documents: DataFrame, benchmark: DataFrame,
                           n: int = 5) -> DataFrame:
    """Per-document benchmark contamination FRACTION (the GPT-3
    appendix-C discipline): of a document's distinct word n-grams, how
    many appear anywhere in the benchmark set — reported for EVERY
    document (0 for clean ones) so the pipeline can threshold, unlike
    ``decontaminate`` which only lists hits. Output (doc_id, n_grams,
    n_hits, contamination_permille), integer permille so both engines
    agree exactly.

    Scale shape: the benchmark gram set broadcasts (eval sets are
    thousands of rows); the corpus side explodes DISTINCT grams into a
    broadcast LEFT join (map-side, no corpus shuffle) and one doc-keyed
    partial-agg shuffle of (doc_id, hit) pairs — text never moves."""
    bench = (benchmark
             .select(F.explode(_word_grams(F.col("text"), n)).alias("g"))
             .distinct()
             .withColumn("_hit", F.lit(1)))
    dg = documents.select(
        "doc_id",
        F.explode(F.array_distinct(_word_grams(F.col("text"), n)))
        .alias("g"))
    return (dg.join(F.broadcast(bench), "g", "left")
            .groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_grams"),
                 F.sum(F.coalesce("_hit", F.lit(0))).cast("bigint")
                 .alias("n_hits"))
            .select("doc_id", "n_grams", "n_hits",
                    F.expr("(n_hits * 1000) div n_grams").cast("bigint")
                    .alias("contamination_permille"))
            .orderBy("doc_id"))


def budget_sample(documents: DataFrame, budgets: DataFrame,
                  host_col: str = "host", n_ranges: int = 16,
                  weight_col: str | None = None) -> DataFrame:
    """Token-budget mixture sampling: per host (domain / data source),
    take documents in a deterministic pseudo-random order until the
    host's token budget is reached — the mixture-weights step that
    turns "20% code, 30% web, …" into an actual document selection.
    A document is kept iff the tokens BEFORE it in its host's order
    stay under the budget (the straddling document is included);
    hosts absent from ``budgets`` contribute nothing. Host joins are
    NULL-SAFE: documents with a NULL host form their own group and are
    admitted under a NULL-host budget row (``cap_per_host`` derives its
    budgets from the documents, so unparseable-host docs get capped
    like any host instead of silently vanishing from the corpus).

    Order = (md5-hash of doc_id, doc_id) — the same portable md5
    convention as ``stratified_sample``, so the oracle replays it.

    Scale shape: the naive form is one running-sum window per host —
    a single task sorts a mega-host's whole row set. Here the hash
    ORDER KEY's top bits split each host into ``n_ranges`` contiguous
    ranges: per-(host, range) token sums come from one aggregation
    (map-side partials, NO sort), range offsets cumulate over ≤
    ``n_ranges`` rows per host, and the exact running sum completes
    inside (host, range) windows — ``n_ranges``× the parallelism of
    the single-window form with bit-identical output (the DuckDB
    oracle runs the SINGLE-window formulation; equality is the test,
    and a unit test pins n_ranges=1 ≡ n_ranges=16). Only (doc_id,
    host, hash, n_tokens) tuples shuffle — text never moves.

    Output: (doc_id, host, n_tokens, cum_before) for kept docs."""
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
               16, 10).cast("bigint")
    # weight_col overrides the default token weighting (e.g. a literal
    # 1 column turns the token budget into an exact per-host DOC cap —
    # see cap_per_host)
    w = (F.col(weight_col).cast("bigint") if weight_col is not None
         else F.size(_norm_words(F.col("text"))).cast("bigint"))
    base = documents.select(
        "doc_id", F.col(host_col).alias("host"),
        w.alias("n_tokens"),
        h.alias("h"))
    # 15 hex digits = 60 bits; contiguous ranges via the top bits
    span = (1 << 60) // n_ranges
    base = base.withColumn("rng", F.expr(f"h div {span}").cast("int"))
    part = base.groupBy("host", "rng").agg(F.sum("n_tokens").alias("rs"))
    w_off = (Window.partitionBy("host").orderBy("rng")
             .rowsBetween(Window.unboundedPreceding, -1))
    offs = part.select(
        "host", "rng",
        F.coalesce(F.sum("rs").over(w_off), F.lit(0).cast("bigint"))
        .alias("offset"))
    w_loc = (Window.partitionBy("host", "rng")
             .orderBy(F.col("h").asc(), F.col("doc_id").asc())
             .rowsBetween(Window.unboundedPreceding, -1))
    # null-safe equi-joins (<=> is a hash-join key): a NULL host is a
    # group like any other — a plain equi-join would silently delete
    # every NULL-host document from the sample
    offs_r = (offs.withColumnRenamed("host", "_oh")
              .withColumnRenamed("rng", "_orng"))
    bud_r = F.broadcast(budgets.select(
        F.col("host").alias("_bh"),
        F.col("token_budget").cast("bigint").alias("budget")))
    scored = (base.join(offs_r,
                        F.col("host").eqNullSafe(F.col("_oh"))
                        & (F.col("rng") == F.col("_orng")))
              .drop("_oh", "_orng")
              .join(bud_r, F.col("host").eqNullSafe(F.col("_bh")))
              .drop("_bh")
              .withColumn("cum_before",
                          (F.col("offset")
                           + F.coalesce(F.sum("n_tokens").over(w_loc),
                                        F.lit(0).cast("bigint")))
                          .cast("bigint"))
              .filter(F.col("cum_before") < F.col("budget")))
    return (scored.select("doc_id", "host", "n_tokens", "cum_before")
            .orderBy("host", "doc_id"))


def vocab_stats(documents: DataFrame, min_count: int = 2) -> DataFrame:
    """Corpus vocabulary statistics — the input a tokenizer-training
    (BPE/unigram) job consumes: per normalized word, total occurrences
    and document frequency, thresholded at ``min_count``.

    Scale shape: explode → ONE logical aggregation on the word key;
    count(*) partial-aggregates map-side, count(distinct doc_id) runs
    as Spark's standard two-phase distinct expansion — both shuffle
    only (word[, doc_id]) pairs, never text. Output ordered by count
    desc then word for a stable cross-engine comparison."""
    ex = documents.select("doc_id",
                          F.explode(_norm_words(F.col("text"))).alias("w"))
    return (ex.groupBy("w")
            .agg(F.count("*").alias("count"),
                 F.count_distinct("doc_id").alias("doc_freq"))
            .filter(F.col("count") >= min_count)
            .orderBy(F.col("count").desc(), F.col("w").asc())
            .select(F.col("w").alias("word"), "count", "doc_freq"))


# PII patterns restricted to syntax Java regex (Spark) and RE2 (DuckDB)
# interpret IDENTICALLY: explicit char classes, bounded repetition, no
# backrefs/lookaround. Applied in list order: email first (its digits
# must not half-match as a phone), then ip, then bare digit runs as IDs,
# then phone LAST — the phone pattern also matches any ≥9-digit run, so
# putting it earlier would make the id pattern dead code.
PII_PATTERNS = [
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
     "<EMAIL>"),
    ("ip", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
    ("id", r"[0-9]{9,}", "<ID>"),
    ("phone", r"\+?[0-9][0-9 -]{7,}[0-9]", "<PHONE>"),
]


def scrub_pii(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction — the compliance pass a pretraining pipeline runs
    before anything trains: emails, IPv4s, phone-shaped digit runs and
    long numeric IDs replaced by typed placeholder tokens, with a
    per-document redaction count.

    MAP-ONLY: a chain of ``regexp_count`` + ``regexp_replace`` — no
    Python, no shuffle, pipelines inside the scan. Patterns stay in the
    Java∩RE2 common syntax so the DuckDB oracle scrubs bit-identically.
    """
    col = F.col(text_col)
    n = F.lit(0)
    scrubbed = col
    for _, pat, repl in PII_PATTERNS:
        n = n + F.regexp_count(scrubbed, F.lit(pat))
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return documents.select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        n.cast("int").alias("n_redacted"),
    )


PACK_MIN_SHARDS = 16
PACK_DOCS_PER_SHARD = 4096


def pack_sequences(documents: DataFrame, context_len: int = 256,
                   n_shards: int | None = None,
                   docs_per_shard: int = PACK_DOCS_PER_SHARD,
                   tokens_col: str | None = None) -> DataFrame:
    """Concat-and-chunk sequence packing — the step between curation and
    training: documents (ordered by doc_id within a shard) concatenate
    into one token stream per shard, chunked into fixed ``context_len``
    windows. Output per document: its shard, token count, stream offset,
    the first/last pack (window) it lands in, and its offset inside the
    first pack — everything a loader needs to materialize packed
    examples without re-tokenizing.

    Plan shape: ONE window (running sum) partitioned by shard — shards
    bound the per-task state so the packing parallelizes. The shard
    count is DERIVED FROM DATA SIZE (``max(16, ceil(n_docs /
    docs_per_shard))``, one cheap metadata-backed count job) unless
    ``n_shards`` pins it: a fixed shard count is a hidden parallelism
    cap — at 100 TB sixteen window partitions means 1/16 of the corpus
    sorting and running-summing through a single task (the identical
    bug class PLANS.md §12 fixed in the crawl cache). The derived count
    keeps per-shard state bounded (~``docs_per_shard`` docs) at any
    corpus size while staying deterministic: shard = doc_id mod
    n_shards, so the oracle mirrors it from its own count(*).
    Documents may span pack boundaries (start_pack < end_pack) exactly
    like real concat-then-chunk pipelines.

    ``tokens_col``: name of a precomputed per-document token-count
    column (e.g. ``tokenizer.bpe_token_counts``' ``n_bpe_tokens``
    joined onto the corpus) — packing then budgets context windows in
    LEARNED tokens instead of the default whitespace count."""
    from pyspark.sql import Window

    if n_shards is None:
        n_docs = documents.count()
        n_shards = max(PACK_MIN_SHARDS,
                       -(-n_docs // docs_per_shard))  # ceil div
    toks = (F.col(tokens_col).cast("int") if tokens_col
            else F.size(_norm_words(F.col("text"))))
    shard = F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("bigint")
    w = (Window.partitionBy("shard").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    base = documents.select("doc_id", shard.alias("shard"),
                            toks.alias("n_tokens"))
    off = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (base
            .withColumn("offset", off)
            .withColumn("start_pack",
                        F.floor(F.col("offset") / context_len))
            .withColumn("end_pack",
                        F.floor((F.col("offset") + F.col("n_tokens") - 1)
                                / context_len))
            .withColumn("pack_offset",
                        F.col("offset") % context_len))


def c4_quality_filter(documents: DataFrame,
                      min_words_per_line: int = 5,
                      min_sentences: int = 3) -> DataFrame:
    """The C4 cleaning rules (Raffel et al. 2020, "Exploring the Limits
    of Transfer Learning...", §2.2) as map-only expressions:

    - keep only lines ending in terminal punctuation (. ! ? or a
      closing quote after one) with ≥ ``min_words_per_line`` words,
      and drop any line containing the word "javascript";
    - drop the whole page if it has fewer than ``min_sentences``
      sentences, or contains "lorem ipsum" or a curly brace.

    Output: (doc_id, kept_lines, total_lines, n_sentences, keep) —
    the gate a pipeline applies before dedup. Everything is per-row
    array/regexp folds (no explode, no shuffle, pipelines inside the
    scan); the DuckDB oracle applies the identical regexes (Java∩RE2
    common syntax, like scrub_pii)."""
    lines = F.split(F.col("text"), "\n")
    # terminal punctuation, optionally followed by a closing quote
    term = r'[.!?]["”’]?\s*$'
    is_kept = lambda ln: (  # noqa: E731
        ln.rlike(term)
        & (F.size(F.split(F.trim(ln), r"\s+")) >= min_words_per_line)
        & ~F.lower(ln).rlike(r"\bjavascript\b"))
    kept = F.size(F.filter(lines, is_kept))
    n_sent = F.size(F.regexp_extract_all(
        F.col("text"), F.lit(r"[.!?]"), 0))
    low = F.lower(F.col("text"))
    page_ok = ((n_sent >= min_sentences)
               & ~low.contains("lorem ipsum")
               & ~low.contains("{"))
    return documents.select(
        "doc_id",
        kept.cast("int").alias("kept_lines"),
        F.size(lines).cast("int").alias("total_lines"),
        n_sent.cast("int").alias("n_sentences"),
        (page_ok & (kept > 0)).alias("keep"))


def span_dedup_stats(documents: DataFrame, span_words: int = 10
                     ) -> DataFrame:
    """Exact substring-span duplication stats — the distributed core of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"): every ``span_words``-word window is hashed, windows whose
    hash occurs more than once ANYWHERE in the corpus are duplicated
    spans, and each document reports how much of it is covered by them.

    Plan shape at 100 TB: windows hash map-side (the text never
    shuffles — only 8-byte hashes with doc ids), ONE groupBy(hash)
    count with map-side partials finds corpus-wide repeats, one
    broadcast-able join back and one partial-agg shuffle on doc_id.
    Output: (doc_id, dup_spans, total_spans, dup_frac)."""
    grams = _word_grams(F.col("text"), span_words)
    hashes = F.transform(
        grams,
        lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10)
        .cast("bigint"))
    ex = documents.select("doc_id", F.explode(hashes).alias("h"))
    dup_h = (ex.groupBy("h").agg(F.count("*").alias("n"))
             .filter(F.col("n") > 1).select("h"))
    flagged = (ex.join(dup_h, "h")
               .groupBy("doc_id").agg(F.count("*").alias("dup_spans")))
    totals = documents.select("doc_id", F.size(grams).alias("total_spans"))
    return (totals.join(flagged, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("dup_spans", F.lit(0)).cast("int")
                    .alias("dup_spans"),
                    F.col("total_spans").cast("int").alias("total_spans"),
                    F.round(F.coalesce("dup_spans", F.lit(0))
                            / F.col("total_spans"), 6).alias("dup_frac"))
            .orderBy("doc_id"))


def span_dedup_remove(documents: DataFrame, span_words: int = 10
                      ) -> DataFrame:
    """Exact substring-span REMOVAL — the action ``span_dedup_stats``
    only measures (Lee et al. 2022 remove one of every pair of
    duplicated spans; this keeps the globally-first occurrence):

    - every ``span_words``-word window is hashed (8-byte ints);
    - an occurrence is removed iff its hash occurs more than once
      corpus-wide AND it is not the canonical (lowest doc_id, then
      lowest position) occurrence;
    - a removed window covers its ``span_words`` word positions; the
      cleaned text is the remaining words joined by single spaces
      (text is normalized — lowercased, whitespace-collapsed — which
      is the form dedup operates on anyway).

    Plan shape at 100 TB: window hashes are computed map-side and ONE
    window over h (count + row_number by (doc_id, pos)) finds both
    repeats and canonicals in a single hash-keyed shuffle of (h,
    doc_id, pos) tuples — document text never enters it. Covered
    positions aggregate per doc (integers only), and the single place
    text moves is the final doc_id equi-join back to the corpus — one
    repartition of the corpus, the unavoidable re-association cost
    (the suffix-array formulation pays a full sort instead).

    Output: (doc_id, n_words, n_removed, clean_text)."""
    from pyspark.sql import Window as W

    grams = _word_grams(F.col("text"), span_words)
    hashes = F.transform(
        grams,
        lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10)
        .cast("bigint"))
    occ = documents.select(
        "doc_id", F.posexplode(hashes).alias("pos", "h"))
    wh = W.partitionBy("h")
    who = W.partitionBy("h").orderBy("doc_id", "pos")
    bad = (occ.withColumn("cnt", F.count("*").over(wh))
           .withColumn("rn", F.row_number().over(who))
           .filter((F.col("cnt") > 1) & (F.col("rn") > 1)))
    cov = (bad.select("doc_id",
                      F.sequence(F.col("pos"),
                                 F.col("pos") + span_words - 1).alias("sp"))
           .groupBy("doc_id")
           .agg(F.array_distinct(F.flatten(F.collect_list("sp")))
                .alias("cv")))
    ws = _norm_words(F.col("text"))
    cv = F.coalesce(F.col("cv"), F.array().cast("array<int>"))
    # transform over ws itself with the (element, index) lambda — an
    # element_at(ws, i+1) inside the interpreted lambda would re-split
    # the text per word position, O(W²) (see _word_grams)
    kept = F.filter(
        F.transform(ws, lambda x, i: F.when(~F.array_contains(cv, i), x)),
        lambda x: x.isNotNull())
    return (documents.join(cov, "doc_id", "left")
            .select("doc_id",
                    F.size(ws).cast("int").alias("n_words"),
                    (F.size(ws) - F.size(kept)).cast("int")
                    .alias("n_removed"),
                    F.array_join(kept, " ").alias("clean_text"))
            .orderBy("doc_id"))


def stratified_sample(documents: DataFrame,
                      fractions: dict[str, float],
                      key: str = "lang",
                      default: float = 0.0) -> DataFrame:
    """Deterministic stratified downsampling: keep a row iff the first
    8 hex chars of ``md5(doc_id)`` modulo 1e6 fall under the stratum's
    rate. The keep decision depends only on doc_id — reproducible across
    engines, partitionings and runs (how a pipeline pins a corpus mix,
    e.g. {'en': 1.0, 'de': 0.25} without materializing a sample).
    Map-only filter; Catalyst pushes it into the scan."""
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                                1, 8), 16, 10).cast("bigint") % SAMPLE_MOD
    rate = F.lit(float(default))
    for k, v in sorted(fractions.items()):
        rate = F.when(F.col(key) == k, F.lit(float(v))).otherwise(rate)
    return (documents
            .filter(bucket < (rate * SAMPLE_MOD).cast("bigint"))
            .select("doc_id", F.col(key).alias("stratum")))


def score_deciles(scored: DataFrame, score_col: str = "score",
                  n_buckets: int = 10,
                  id_col: str = "doc_id") -> DataFrame:
    """EXACT quantile binning at scale (curriculum buckets / quality
    tiers): instead of a global sort or single-partition ntile over the
    corpus — the naive plan that dies at 100 TB — build the integer
    score HISTOGRAM (one aggregation, map-side partials; cardinality is
    bounded by the score's unit, e.g. ≤ ~10^5 distinct milli-scores),
    turn it into a CDF with a window over that tiny table, and
    broadcast the CDF back onto the corpus. bucket = least(B-1,
    (rows_below·B) div total): rank-exact, ties share a bucket, the
    corpus itself never shuffles.
    """
    from pyspark.sql import Window

    s = F.col(score_col)
    hist = scored.groupBy(score_col).agg(F.count("*").alias("_n"))
    w = (Window.orderBy(score_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    cdf = hist.select(
        score_col,
        F.coalesce(F.sum("_n").over(w), F.lit(0)).alias("_lt"),
        F.sum("_n").over(Window.partitionBy()).alias("_tot"))
    return (scored.join(F.broadcast(cdf), score_col)
            .select(id_col, s.cast("bigint").alias(score_col),
                    F.least(F.lit(n_buckets - 1),
                            F.expr(f"(_lt * {n_buckets}) div _tot"))
                    .cast("bigint").alias("bucket"))
            .orderBy(id_col))


def host_quality(documents: DataFrame, host_col: str = "host") -> DataFrame:
    """Host-level curation rollup — the crawl-side aggregation of the
    per-document quality gates (spam DOMAINS, not spam pages, are what
    a frontier blocklists; cf. the host-level filters in C4/RefinedWeb
    pipelines). Input: documents plus a ``host`` column.

    Per host, all-integer: doc count, kept count (the quality_scores
    gate re-expressed in integer space: chars ≥ 50, words ≥ 10,
    punct·5 ≤ chars), kept rate per-mille, mean words, mean chars, and
    a blocklist verdict (≥ 20 docs with < 300‰ kept).

    ONE host-keyed aggregation with map-side partial sums — the same
    skew-safe shape as host_reputation; the keep flag and word counts
    are computed in the scan's own stage.
    """
    words = F.split(
        F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " "),
        " ")
    n_words = F.size(words)
    n_chars = F.length(F.col("text"))
    n_punct = (n_chars - F.length(
        F.regexp_replace(F.col("text"), r"[\.,;:!\?]", "")))
    keep = ((n_chars >= 50) & (n_words >= 10)
            & (n_punct * 5 <= n_chars)).cast("bigint")
    agg = (documents
           .select(F.col(host_col).alias("host"),
                   n_words.alias("_w"), n_chars.alias("_c"),
                   keep.alias("_k"))
           .groupBy("host")
           .agg(F.count("*").alias("docs"),
                F.sum("_k").alias("kept"),
                F.sum("_w").alias("_ws"), F.sum("_c").alias("_cs")))
    return (agg.select(
        "host", F.col("docs").cast("bigint").alias("docs"),
        F.col("kept").cast("bigint").alias("kept"),
        F.expr("(kept * 1000) div docs").cast("bigint")
        .alias("kept_permille"),
        F.expr("_ws div docs").cast("bigint").alias("mean_words"),
        F.expr("_cs div docs").cast("bigint").alias("mean_chars"),
        ((F.col("docs") >= 20)
         & (F.expr("(kept * 1000) div docs") < 300)).alias("blocklist"))
        .orderBy("host"))


def importance_weights(corpus: DataFrame, target: DataFrame,
                       scale: int = 1024) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023): rank source
    documents by how target-like they are, weight = log
    p_target(doc) − log p_source(doc) under unigram models — here in
    the engine's integer bit space: per token,
    ``bits_m = bitlen(((total_m + vocab_m)·scale) div (cnt_m + 1))``
    (Laplace add-one, so target-OOV tokens are defined), and per doc
    ``weight_bits = Σ (bits_source − bits_target)``. Positive means
    more target-like. Bit-exact across engines.

    Scale shape: two vocab-sized unigram models (one word-keyed
    aggregation each, map-side partials) broadcast back onto the
    token stream; scalars (totals, vocab sizes) ride the same
    broadcast rows; ONE doc-keyed aggregation. The corpus shuffles
    only its (doc_id, word) pairs — never text.
    """
    def words(df):
        return F.split(
            F.regexp_replace(F.trim(F.lower(F.col("text"))),
                             r"\s+", " "), " ")

    ex = corpus.select("doc_id", F.explode(words(corpus)).alias("w"))
    tex = target.select(F.explode(words(target)).alias("w"))

    def model(tokens):
        cnt = tokens.groupBy("w").agg(F.count("*").alias("cnt"))
        tot = cnt.agg(F.sum("cnt").alias("total"),
                      F.count("*").alias("vocab"))
        return cnt, tot

    s_cnt, s_tot = model(ex.select("w"))
    t_cnt, t_tot = model(tex)
    s_bits = (s_cnt.crossJoin(F.broadcast(s_tot))
              .select("w", F.length(F.bin(F.expr(
                  f"((total + vocab) * {scale}) div (cnt + 1)")))
                  .cast("bigint").alias("_bs")))
    # target model evaluated over the SOURCE vocabulary (left join →
    # cnt 0 for target-OOV source tokens); the target vocab is small
    # by construction (DSIR targets ≪ source corpus) → broadcast
    t_bits = (s_cnt.select("w").join(F.broadcast(t_cnt), "w", "left")
              .crossJoin(F.broadcast(t_tot))
              .select("w", F.length(F.bin(F.expr(
                  f"((total + vocab) * {scale}) div "
                  f"(coalesce(cnt, 0) + 1)")))
                  .cast("bigint").alias("_bt")))
    tok = (ex.join(F.broadcast(s_bits), "w")
           .join(F.broadcast(t_bits), "w"))
    return (tok.groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_tokens"),
                 F.sum(F.col("_bs") - F.col("_bt")).cast("bigint")
                 .alias("weight_bits"))
            .select("doc_id", "n_tokens", "weight_bits",
                    F.expr("(weight_bits * 1000) div n_tokens")
                    .cast("bigint").alias("avg_weight_milli"))
            .orderBy("doc_id"))


def ccnet_buckets(scored: DataFrame, lang_col: str = "lang",
                  score_col: str = "avg_bits_milli",
                  head_permille: int = 333,
                  middle_permille: int = 667) -> DataFrame:
    """CCNet's per-language perplexity tiers (Wenzek et al. 2020 §4.3:
    each language's documents split into head/middle/tail by LM
    perplexity percentile — the mixture knob every CC-derived corpus
    since has turned). Input: per-doc integer scores (lm_score's
    ``avg_bits_milli``; lower = more fluent) plus a language column.
    Output: (doc_id, lang, score, bucket) with bucket ∈ head|middle|
    tail by strictly-below rank within the language; ties share a
    bucket, cutoffs in per-mille. Documents with NULL lang or NULL
    score bucket as 'unknown' (they cannot rank within any language).

    Scale shape: the score_deciles pattern PARTITIONED BY LANGUAGE —
    per-(lang, score) histogram (one aggregation, map-side partials,
    cardinality ≤ langs × score-unit), CDF windows over that tiny
    table only, broadcast back. The corpus never sorts; adding a
    language never adds a shuffle.
    """
    from pyspark.sql import Window

    # NULL lang/score rows stay out of the histogram: they neither
    # rank nor shift the ranks of real documents (they bucket
    # 'unknown' through the left join below).
    hist = (scored
            .filter(F.col(lang_col).isNotNull()
                    & F.col(score_col).isNotNull())
            .groupBy(lang_col, score_col)
            .agg(F.count("*").alias("_n")))
    w = (Window.partitionBy(lang_col).orderBy(score_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    cdf = hist.select(
        lang_col, score_col,
        F.coalesce(F.sum("_n").over(w), F.lit(0)).alias("_lt"),
        F.sum("_n").over(Window.partitionBy(lang_col)).alias("_tot"))
    bucket = (F.when(F.col("_tot").isNull(), "unknown")
              .when(F.col("_lt") * 1000 < head_permille * F.col("_tot"),
                    "head")
              .when(F.col("_lt") * 1000 < middle_permille * F.col("_tot"),
                    "middle")
              .otherwise("tail"))
    # LEFT join: documents with NULL lang or NULL score can never match
    # the equi-join keys — route them to an explicit 'unknown' bucket
    # instead of silently vanishing from the output (r4 advisor).
    return (scored.join(F.broadcast(cdf), [lang_col, score_col], "left")
            .select("doc_id", F.col(lang_col).alias("lang"),
                    F.col(score_col).cast("bigint").alias("score"),
                    bucket.alias("bucket"))
            .orderBy("doc_id"))


def holdout_split(documents: DataFrame, host_col: str = "host",
                  val_permille: int = 50,
                  test_permille: int = 50) -> DataFrame:
    """Leakage-free train/val/test assignment: the split is a pure
    function of the HOST (first 8 hex chars of md5, mod 1000 — the
    stratified_sample hash discipline), so every document from a host
    lands in the same split and near-duplicate pages, boilerplate, and
    templates from one site can never straddle the evaluation boundary
    (the split-contamination failure mode host-level splitting exists
    to prevent; cf. the temporal/source-level splits in C4 and The
    Pile). Output: (doc_id, host, bucket, split), ordered.

    Map-only — one projection, no shuffle, no state; reproducible on
    any engine, any partitioning, any corpus size.
    """
    bucket = (F.conv(F.substring(F.md5(F.col(host_col)), 1, 8), 16, 10)
              .cast("bigint") % 1000)
    train_lt = 1000 - val_permille - test_permille
    split = (F.when(bucket < train_lt, "train")
             .when(bucket < 1000 - test_permille, "val")
             .otherwise("test"))
    return (documents.select("doc_id", F.col(host_col).alias("host"),
                             bucket.alias("bucket"), split.alias("split"))
            .orderBy("doc_id"))


def cap_per_host(documents: DataFrame, k: int,
                 host_col: str = "host") -> DataFrame:
    """Exact per-host document cap (the pages-per-domain cap in
    RefinedWeb/C4-style pipelines): keep the first ``k`` documents of
    each host in the deterministic md5-of-doc_id order — exactly
    ``budget_sample`` with unit weights, so a mega-host never sorts
    in one task (the decomposed per-(host, hash-range) running sum)
    and the keep set is reproducible on any engine or partitioning.
    Output: (doc_id, host, rank) with rank = docs before it, < k.
    """
    budgets = (documents.select(F.col(host_col).alias("host")).distinct()
               .withColumn("token_budget", F.lit(k).cast("bigint")))
    out = budget_sample(documents.withColumn("_one", F.lit(1)),
                        budgets, host_col=host_col, weight_col="_one")
    return (out.select("doc_id", "host",
                       F.col("cum_before").alias("rank"))
            .orderBy("host", "doc_id"))


def mixture_plan(documents: DataFrame, weights: DataFrame,
                 token_budget: int, text_col: str = "text",
                 domain_col: str = "source",
                 weight_col: str = "weight_permille") -> DataFrame:
    """Static training-mixture planning: per-domain token inventory vs a
    weighted token budget → integer epoch factors.

    The step between a curated corpus and a training run: given target
    mixture weights per domain (The Pile / DoReMi-style static weights)
    and a total token budget, compute for each domain how many tokens it
    must contribute (``target_tokens``), how many it has
    (``avail_tokens``), and the repetition factor that implies
    (``epochs_permille`` = target/avail ×1000 — >1000 means the domain
    epochs more than once, the signal mixture designers watch).

    Plan shape at 100 TB: ONE map-side-partial aggregation over the
    corpus keyed by domain (sum of per-row token counts — the shuffle
    carries one partial row per (task, domain)); the weights table is
    domains-sized and broadcast, its normalizing sum a broadcast 1-row
    aggregate.  No windows, no sorts, no driver state.  All integer
    arithmetic (floor division) so the plan is bit-identical on any
    engine — the DuckDB oracle replays it exactly.

    Domains present in the corpus but missing a weight row get weight 0
    (target 0, epochs 0) and stay visible rather than vanishing — the
    NULL-handling discipline of ``ccnet_buckets``; a NULL domain groups
    as its own row the same way.
    """
    toks = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    # NULL text counts 0 tokens on every config (size(split(NULL)) is -1
    # under spark.sql.legacy.sizeOfNull), so an all-NULL domain reports 0
    toks = F.when(F.col(text_col).isNull(), F.lit(0)) \
            .when(F.length(F.trim(F.col(text_col))) == 0, F.lit(0)) \
            .otherwise(toks)
    avail = (documents
             .groupBy(F.col(domain_col).alias("domain"))
             .agg(F.count("*").alias("n_docs"),
                  F.sum(toks).cast("bigint").alias("avail_tokens")))
    w = weights.select(F.col(domain_col).alias("domain"),
                       F.col(weight_col).cast("bigint").alias("w"))
    tot = w.agg(F.sum("w").alias("w_total"))
    joined = (avail
              .join(F.broadcast(w), "domain", "left")
              .crossJoin(F.broadcast(tot))
              .withColumn("w", F.coalesce(F.col("w"), F.lit(0))))
    # exact 64-bit integral division on BOTH engines (Spark `div` ≡
    # DuckDB `//` for non-negative operands) — no double rounding
    target = F.expr(
        f"CAST({int(token_budget)} AS BIGINT) * w div w_total")
    epochs = F.when(
        F.col("avail_tokens") > 0,
        F.expr(f"(CAST({int(token_budget)} AS BIGINT) * w div w_total) "
               f"* 1000 div avail_tokens")) \
        .otherwise(F.lit(0).cast("bigint"))
    return joined.select(
        "domain", "n_docs", "avail_tokens",
        target.alias("target_tokens"),
        epochs.alias("epochs_permille"),
        (epochs > 1000).alias("oversampled"))


def chunk_documents(documents: DataFrame, chunk_tokens: int = 512,
                    overlap_tokens: int = 64, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Sliding-window document chunking — fixed token windows with
    overlap, the per-document splitter RAG indexes and long-document
    training pipelines run before embedding (``pack_sequences`` is the
    cross-document concat-and-chunk variant; this one never crosses a
    document boundary, so a chunk is always attributable to one url).

    Window ``i`` covers whitespace tokens ``[i*stride, i*stride +
    chunk_tokens)`` with ``stride = chunk_tokens - overlap_tokens``;
    ``n_chunks = 1 + ceil(max(0, n_tokens - chunk_tokens) / stride)``,
    so a short document yields exactly one chunk and the final window
    is allowed to run short rather than re-anchoring to the text end
    (re-anchored tails duplicate up to a full window of tokens and make
    chunk membership depend on document length — bad dedup keys).

    MAP-ONLY: tokens split once into a NAMED column (the §24 HOF rule —
    an inline split referenced inside the transform lambda would
    re-split per window), windows built by one ``transform`` over
    ``sequence`` and exploded — a generator, not a shuffle; at 100 TB
    this pipelines inside the scan. Chunk ids are ``(doc_id, chunk_id)``
    — deterministic on any partitioning.

    §36 discipline: NULL text yields ONE chunk with NULL text (a corpus
    rewriter must never drop a doc); empty text yields one empty chunk.
    """
    if not 0 <= overlap_tokens < chunk_tokens:
        raise ValueError("need 0 <= overlap_tokens < chunk_tokens")
    stride = chunk_tokens - overlap_tokens
    txt = F.col(text_col)
    toks = F.when(F.coalesce(F.length(F.trim(txt)), F.lit(0)) == 0,
                  F.array().cast("array<string>")) \
            .otherwise(F.split(F.trim(txt), r"\s+"))
    base = documents.select(id_col, txt.alias("_txt"),
                            toks.alias("_toks"))
    # integer ceil via (x + stride-1) div stride, kept integral
    n_chunks = F.expr(
        f"CAST(1 + (greatest(0, size(_toks) - {chunk_tokens})"
        f" + {stride} - 1) div {stride} AS BIGINT)")
    wins = F.transform(
        F.sequence(F.lit(0).cast("bigint"), n_chunks - 1),
        lambda i: F.struct(
            i.alias("chunk_id"),
            F.array_join(F.slice(F.col("_toks"),
                                 (i * stride + 1).cast("int"),
                                 chunk_tokens), " ").alias("chunk_text")))
    out = (base
           .withColumn("_nc", n_chunks)
           .select(id_col, "_txt", "_nc",
                   F.explode(wins).alias("_w"))
           .select(id_col,
                   F.col("_w.chunk_id").alias("chunk_id"),
                   F.col("_nc").alias("n_chunks"),
                   F.when(F.col("_txt").isNull(),
                          F.lit(None).cast("string"))
                   .otherwise(F.col("_w.chunk_text"))
                   .alias("chunk_text")))
    return out.withColumn("n_chunk_tokens",
                          F.when(F.col("chunk_text").isNull(), F.lit(0))
                          .when(F.col("chunk_text") == "", F.lit(0))
                          .otherwise(F.size(F.split(F.col("chunk_text"),
                                                    " "))).cast("bigint"))


def cdc_chunks(documents: DataFrame, divisor: int = 16,
               text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Content-defined chunking: boundaries where a token's hash
    satisfies ``h % divisor == 0`` (gear/CDC splitting), so chunk
    identity depends on CONTENT, not position — insert a sentence into
    a document and every chunk outside the edited region keeps its
    exact text and hash (``chunk_documents``' fixed windows all shift).
    That is the property dedup-friendly storage and partial-dup mining
    at 100 TB want: re-crawled pages share almost all chunk hashes with
    their previous capture.

    Token hash = the repo's cross-engine 60-bit md5-prefix integer (the
    minhash family's hash), so the DuckDB oracle replays boundaries
    bit-exactly.  Expected chunk length ≈ ``divisor`` tokens.

    Plan shape: ONE Exchange — posexplode(tokens) shuffles (doc, pos,
    token) keyed by ``id_col`` for the boundary prefix-sum window, and
    the (doc, chunk) aggregation reuses that partitioning (doc_id is a
    subset of the grouping key), so chunking a corpus costs one shuffle
    of its token stream.  Output per (doc, chunk): ``chunk_text``,
    ``n_tokens``, ``chunk_hash`` (md5 — the content-addressed identity
    column; equal hashes across docs/captures = shared content).

    §36 discipline: NULL text → one chunk with NULL text/hash and
    n_tokens 0; empty text → one empty chunk.  Never drops a doc.
    """
    from pyspark.sql import Window

    txt = F.col(text_col)
    toks = F.when(F.coalesce(F.length(F.trim(txt)), F.lit(0)) == 0,
                  F.array(F.lit(""))) \
            .otherwise(F.split(F.trim(txt), r"\s+"))
    e = documents.select(
        id_col, txt.isNull().alias("_isnull"),
        F.posexplode(toks).alias("pos", "tok"))
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10) \
         .cast("bigint")
    flag = F.when((h % divisor == 0) & (F.col("tok") != ""), 1) \
            .otherwise(0)
    w = (Window.partitionBy(id_col).orderBy("pos")
         .rowsBetween(Window.unboundedPreceding, -1))
    c = e.withColumn("_b", flag).withColumn(
        "chunk_id", F.coalesce(F.sum("_b").over(w), F.lit(0))
        .cast("bigint"))
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "tok"))),
        lambda x: x["tok"])
    text_out = F.when(F.bool_or(F.col("_isnull")),
                      F.lit(None).cast("string")) \
                .otherwise(F.array_join(ordered, " "))
    return (c.groupBy(id_col, "chunk_id")
            .agg(F.sum(F.when(F.col("tok") != "", 1).otherwise(0))
                 .cast("bigint").alias("n_tokens"),
                 text_out.alias("chunk_text"))
            .withColumn("chunk_hash",
                        F.md5(F.encode(F.col("chunk_text"), "UTF-8"))))

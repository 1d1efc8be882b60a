"""End-to-end streaming crawl: the batch engine's frontier loop re-expressed
as micro-batch Structured Streaming rounds (SURVEY §2.10 stretch goal).

The reference's unbounded crawl loop (reference index.js:245-320: pull next
URL, fetch, parse, queue outlinks, repeat until the queue drains) maps onto
a SELF-FEEDING streaming topology:

- the frontier is a parquet LANDING DIRECTORY (at cluster scale: an object
  store prefix or a message bus) holding (url, url_hash, host, depth,
  referer) rows;
- each crawl round is ONE ``availableNow`` drain of a streaming query:
  file source over the frontier dir → stateful URL-seen dedup (the Spark
  state store, keyed by url_hash — exact ``dropDuplicates`` — or the
  bounded-memory Bloom variant via ``applyInPandasWithState``) → stream-
  static INNER join against the pages corpus (the fetch layer; corpus html
  never shuffles, same join shape as the batch engine's ``_fetch_join``) →
  the SAME ``make_crawl_udf`` extraction as every other execution mode;
- the query's ``foreachBatch`` sink routes root rows to the records table
  and writes cont rows (depth-filtered, url_hash recomputed JVM-side with
  ``F.xxhash64`` exactly like the batch engine) BACK into the frontier
  directory — the next round's input;
- the checkpoint directory persists BOTH the file-source progress log and
  the dedup state across rounds, so a URL visited in round r is never
  re-admitted in round r+k, and a killed crawl resumes from its checkpoint
  with no re-visits — the streaming analogue of TableIO's committed
  ``seen``/``frontier`` tables.

``availableNow`` snapshots the available files when the round's query
starts, so files the round itself appends are processed by the NEXT round —
exactly the batch engine's round barrier. The loop terminates when a round
admits nothing new (the queue drained) or at ``max_rounds``.

At 10^10-URL scale: the landing directory shards by host-hash exactly like
the batch seen table (the state store already partitions by the groupBy
key); ``max_files_per_trigger`` is the backpressure knob bounding one
micro-batch's fetch fan-out (the analogue of the reference's concurrency
window and the batch engine's per-round admission cap).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

RECORDS_SCHEMA = "url string, depth int, value_json string"
FRONTIER_FILE_SCHEMA = ("url string, url_hash long, host string, "
                        "depth int, referer string")


def streaming_crawl(
    spark: SparkSession,
    pages_df: DataFrame,
    seed_urls: list[str],
    follow_selector: str,
    extract_spec: dict | None = None,
    *,
    workdir: str,
    max_depth: int = 3,
    max_rounds: int | None = None,
    dedup_mode: str = "exact",
    bloom_buckets: int = 16,
    bloom_bits_per_bucket: int = 1 << 17,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Run a full crawl as micro-batch streaming rounds; returns the records
    DataFrame (url, depth, value_json) — the same contract as the batch
    engine's ``run_crawl``, and (with ``dedup_mode='exact'``) the identical
    visit set on the same seeds + corpus (asserted in tests).

    ``dedup_mode``: 'exact' = streaming ``dropDuplicates`` on url_hash
    (state grows with the seen set — the precise backend); 'bloom' = the
    ``applyInPandasWithState`` partitioned-Bloom operator (constant state
    per host bucket forever, probabilistic: Bloom false positives drop
    ~FPR of genuinely-new URLs — size ``bloom_bits_per_bucket`` for the
    expected keys per bucket)."""
    from ..extract import OUT_SCHEMA, make_crawl_udf
    from ..frontier.engine import FrontierEngine, seed_frontier
    from . import _stateful_unseen

    frontier_dir = os.path.join(workdir, "frontier")
    records_dir = os.path.join(workdir, "records")
    ckpt_dir = os.path.join(workdir, "ckpt")
    os.makedirs(frontier_dir, exist_ok=True)

    # seed round 0 + an empty records table so the return read always works
    seed_frontier(spark, seed_urls) \
        .select("url", "url_hash", "host", "depth", "referer") \
        .coalesce(1).write.mode("append").parquet(frontier_dir)
    spark.createDataFrame([], RECORDS_SCHEMA) \
        .write.mode("append").parquet(records_dir)

    # pages prep (hash once, optional status/content-type threading) and
    # response-meta attachment are the batch engine's own — one fetch-join
    # semantics for every execution mode
    eng = FrontierEngine(spark, pages_df)
    crawl_udf = make_crawl_udf(extract_spec, follow_selector,
                               hash_conts=False)

    produced = {"n": -1}

    def route(bdf: DataFrame, _batch_id: int) -> None:
        # one materialization, two outputs (records append, next frontier
        # append) — the streaming twin of the batch round's localCheckpoint
        bdf = bdf.persist()
        try:
            (bdf.filter(F.col("row_kind") == "root")
                .select("url", "depth", "value_json")
                .write.mode("append").parquet(records_dir))
            conts = (bdf.filter(F.col("row_kind") == "cont")
                     .filter(F.col("depth") <= max_depth)
                     .withColumn("url_hash", F.xxhash64("url"))
                     .select("url", "url_hash", "host", "depth", "referer"))
            n = conts.count()
            if n:
                conts.write.mode("append").parquet(frontier_dir)
            produced["n"] += n
        finally:
            bdf.unpersist()

    rounds = 0
    limit = max_rounds if max_rounds is not None else max_depth + 1
    while rounds < limit:
        reader = spark.readStream.schema(FRONTIER_FILE_SCHEMA)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger",
                                   str(max_files_per_trigger))
        src = reader.parquet(frontier_dir)
        if dedup_mode == "exact":
            admitted = src.dropDuplicates(["url_hash"])
        elif dedup_mode == "bloom":
            admitted = _stateful_unseen(src, bloom_buckets,
                                        bloom_bits_per_bucket)
        else:
            raise ValueError(f"unknown dedup_mode {dedup_mode!r}")
        # stream-static inner join: corpus side static (html never moves),
        # misses (404s) simply don't match — the batch engine defers their
        # metrics the same way (engine._fetch_join)
        hits = eng.pages.join(admitted, "url_hash", "inner")
        out = (eng._with_response_meta(hits)
               .select("url", "url_hash", "host", "depth", "referer",
                       "html", "page_status", "content_type")
               .mapInPandas(crawl_udf, OUT_SCHEMA))
        produced["n"] = 0
        q = (out.writeStream.foreachBatch(route)
             .option("checkpointLocation", ckpt_dir)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        rounds += 1
        if produced["n"] == 0:
            break  # frontier drained — the crawl is complete

    return spark.read.parquet(records_dir)

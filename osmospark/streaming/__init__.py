"""Structured Streaming surfaces (SURVEY §2.10).

The reference is a pull-based async pipeline, not a stream processor — its
unbounded crawl loop, backpressure window, and per-item delay map onto the
batch-iterative engine (``osmospark.frontier``). These operators are the
Spark-native *incremental* equivalents for pipelines that want continuous
feeding instead of rounds:

- ``read_pages_stream`` / ``stream_extract`` — a landing directory of
  Common-Crawl-style page files (input_hint schema) is extracted
  incrementally with the SAME crawl UDF the batch engine uses; each
  micro-batch behaves exactly like one frontier round's extract job.
- ``stream_outlinks`` — the streaming frontier feed: cont rows →
  canonical url + ``xxhash64`` id, deduplicated with streaming
  ``dropDuplicates`` (state-store backed — the streaming analogue of the
  URL-seen table; bound state with ``watermark`` +
  ``dropDuplicatesWithinWatermark`` when the link stream has event time).
- ``stream_windowed_metrics`` — tumbling event-time windows with a
  late-data watermark over fetch/parse metric events.

All transformations here are plan-shape identical to their batch
counterparts (same UDF, same expressions), so correctness is anchored by
the batch oracles; tests replay a static directory with
``trigger(availableNow=True)`` and compare against the batch run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")


def read_pages_stream(spark: SparkSession, path: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over a landing directory of pages parquet files.
    ``maxFilesPerTrigger`` is the backpressure knob (the analogue of the
    reference's concurrency window, index.js:245-270)."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    return reader.parquet(path)


def stream_extract(pages_stream: DataFrame, extract_spec: dict | None,
                   follow_selector: str | None = None) -> DataFrame:
    """Incremental extraction: the SAME crawl UDF as the batch engine over a
    streaming pages source. Output rows are tagged (root/cont/metric)
    exactly like a frontier round's output."""
    from ..extract import OUT_SCHEMA, make_crawl_udf

    udf = make_crawl_udf(extract_spec, follow_selector, hash_conts=False)
    src = pages_stream.select(
        "url",
        F.xxhash64("url").alias("url_hash"),
        F.lit(None).cast("string").alias("host"),
        F.lit(0).alias("depth"),
        F.lit(None).cast("string").alias("referer"),
        "html",
        F.col("warc_ts"),
    )
    out = src.drop("warc_ts").mapInPandas(udf, OUT_SCHEMA)
    return out


def stream_records(out_stream: DataFrame) -> DataFrame:
    """Completed per-page records of an incremental extraction."""
    return (out_stream.filter(F.col("row_kind") == "root")
            .select("url", "depth", "value_json"))


def stream_outlinks(out_stream: DataFrame,
                    dedup: bool = True) -> DataFrame:
    """Streaming frontier feed: cont rows → (url, url_hash, host), with
    streaming-state dedup (each url emitted once across the whole stream —
    the incremental URL-seen set). State is the Spark state store,
    partitioned by url_hash: the same salted-key sharding story as the
    batch seen table."""
    conts = (out_stream.filter(F.col("row_kind") == "cont")
             .select("url", F.xxhash64("url").alias("url_hash"), "host",
                     "depth", "referer"))
    if dedup:
        conts = conts.dropDuplicates(["url_hash"])
    return conts


OUTLINK_SCHEMA = ("url string, url_hash long, host string, depth int, "
                  "referer string")


def stream_unseen_links_stateful(out_stream: DataFrame,
                                 n_buckets: int = 16,
                                 bits_per_bucket: int = 1 << 17) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    a partitioned Bloom URL-seen state. Links key by host bucket; each
    group's state is that bucket's Bloom bitset, a bounded binary blob in
    the Spark state store (bits/8 bytes per bucket FOREVER, vs
    ``dropDuplicates`` state that grows with the seen set). Emits each
    link the first time its bucket's filter hasn't seen it.

    Probabilistic by design: Bloom false positives drop ~FPR of
    genuinely-new URLs — size ``bits_per_bucket`` for the expected keys
    per bucket (10 bits/key ≈ 1% FPR). The exact-state alternative is
    ``stream_outlinks`` (dropDuplicates). The batch engine has no Bloom
    backend: it uses the exact anti-join (``seen_mode="auto"``) or a
    cuckoo prefilter with an exact sorted-array backstop
    (``seen_mode="cuckoo"``)."""
    conts = (out_stream.filter(F.col("row_kind") == "cont")
             .select("url", F.xxhash64("url").alias("url_hash"), "host",
                     F.col("depth").cast("int").alias("depth"), "referer"))
    return _stateful_unseen(conts, n_buckets, bits_per_bucket)


def _stateful_unseen(conts: DataFrame, n_buckets: int,
                     bits_per_bucket: int) -> DataFrame:
    """Core of the stateful Bloom URL-seen operator over any OUTLINK-shaped
    stream (url, url_hash, host, depth, referer) — shared by the extraction
    feed above and the streaming crawl's admission stage."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    conts = conts.withColumn(
        "bucket",
        F.pmod(F.xxhash64(F.coalesce(F.col("host"), F.lit(""))),
               F.lit(n_buckets)).cast("int"))
    bits = bits_per_bucket

    def dedup(key, pdfs, state):
        import numpy as np

        from ..frontier import bloom as B
        if state.exists:
            bs = np.frombuffer(state.get[0], dtype=np.uint8).copy()
        else:
            bs = B.empty_bitset(bits)
        for pdf in pdfs:
            hashes = pdf["url_hash"].to_numpy(dtype=np.int64)
            first = ~pdf["url_hash"].duplicated().to_numpy()
            fresh = (~B.contains(bs, hashes)) & first
            B.add(bs, hashes)
            yield pdf.loc[fresh, ["url", "url_hash", "host", "depth",
                                  "referer"]]
        state.update((bs.tobytes(),))

    return conts.groupBy("bucket").applyInPandasWithState(
        dedup, OUTLINK_SCHEMA, "bitset binary", "append",
        GroupStateTimeout.NoTimeout)


from .crawl import streaming_crawl  # noqa: E402  (re-export)


def stream_windowed_metrics(events: DataFrame, window: str = "1 hour",
                            watermark: str = "2 hours",
                            ts_col: str = "ts",
                            key_col: str = "event_type") -> DataFrame:
    """Tumbling event-time windows + late-data watermark (SURVEY §2.10) —
    order-independent aggregates so batch replay equals streaming. The same
    plan runs on a batch frame (watermark skipped — Spark 4 rejects it
    outside streaming) for oracle comparison."""
    # watermarks require TIMESTAMP (tz) — NTZ sources are cast identically
    # on both the streaming and the batch-oracle side
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if events.isStreaming:
        events = events.withWatermark(ts_col, watermark)
    return (events
            .groupBy(F.window(ts_col, window).alias("w"), key_col)
            .agg(F.count("*").alias("n"),
                 F.round(F.min("value"), 2).alias("min_value"),
                 F.round(F.max("value"), 2).alias("max_value"))
            .select(F.col("w.start").alias("window_start"), key_col,
                    "n", "min_value", "max_value"))


def run_to_memory(stream_df: DataFrame, name: str,
                  output_mode: str = "append") -> None:
    """Replay a bounded stream to completion into an in-memory table
    (``availableNow`` trigger) — the test-harness replay path."""
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode(output_mode)
         .trigger(availableNow=True).start())
    q.awaitTermination()


def streaming_incremental_dedup(spark: SparkSession, base: DataFrame,
                                landing_dir: str, out_dir: str,
                                checkpoint_dir: str,
                                threshold: float = 0.5,
                                max_files_per_trigger: int | None = None,
                                ) -> None:
    """The daily-ingest dedup pipeline as a RESUMABLE streaming job:
    delta batches land as parquet files (at cluster scale: the object-
    store prefix an ingest service writes to); every micro-batch runs
    ``dedup.incremental_near_duplicates`` against the static base corpus
    and APPENDS (delta_id, base_id, jaccard) to the output table.

    The checkpoint persists the file-source progress log, so each landed
    file is processed exactly once ACROSS RESTARTS — kill the job, land
    more files, rerun with the same checkpoint: already-deduped batches
    are not re-emitted (tested). ``max_files_per_trigger`` bounds one
    micro-batch's delta size — the backpressure knob that keeps the
    broadcast delta side broadcast-SIZED no matter how many files queue
    up during an outage.

    Plan per micro-batch is exactly the batch operator's: the base is
    never self-joined, never shuffled; only delta bands + candidates
    move. ``availableNow`` drains everything pending, then stops."""
    reader = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", max_files_per_trigger or 1000))
    stream = reader.parquet(landing_dir)
    from ..functions.dedup import incremental_near_duplicates

    def route(bdf: DataFrame, _batch_id: int) -> None:
        out = incremental_near_duplicates(base, bdf, threshold)
        out.write.mode("append").parquet(out_dir)

    q = (stream.writeStream.foreachBatch(route)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    q.awaitTermination()

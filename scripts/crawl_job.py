"""spark-submit entry point for the frontier crawl — the north rule's
"ships via spark-submit --py-files" path.

Usage (package first with scripts/package.py → dist/osmospark.zip):

    spark-submit --master local[32] \
        --py-files dist/osmospark.zip \
        scripts/crawl_job.py \
        --corpus /path/to/pages.parquet \
        --seeds http://a/ http://b/ \
        --state /path/to/state_dir \
        --follow "li > a" --max-depth 5 --max-rounds 6 \
        --extract '{"payload": "div", "links": ["a@href"]}'

If --corpus is omitted, a deterministic synthetic Common-Crawl-style corpus
is generated (input_hint shape: url, warc_ts, html binary, text, lang) —
no external data. If --state names a directory with committed rounds, the
job RESUMES from the last committed frontier round (checkpoint/resume per
the north rule); pass --fresh to ignore prior state.

On success prints one JSON line with rounds, urls visited, records, and
throughput.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_args(argv):
    p = argparse.ArgumentParser()
    p.add_argument("--corpus", default=None,
                   help="pages table (url, warc_ts, html, text, lang): "
                        "a parquet path, or iceberg:<table-identifier> "
                        "read through a configured Iceberg catalog; "
                        "default: synthetic corpus")
    p.add_argument("--n-urls", type=int, default=2000,
                   help="synthetic corpus size when --corpus omitted")
    p.add_argument("--n-hosts", type=int, default=16)
    p.add_argument("--seeds", nargs="*", default=None)
    p.add_argument("--follow", default="a")
    p.add_argument("--extract", default='{"payload": "div"}',
                   help="extraction spec JSON (find/set tree)")
    p.add_argument("--max-depth", type=int, default=3)
    p.add_argument("--max-rounds", type=int, default=None)
    p.add_argument("--state", default=None,
                   help="state dir for atomic round commits + resume")
    p.add_argument("--fresh", action="store_true",
                   help="ignore existing committed rounds in --state")
    p.add_argument("--politeness", action="store_true")
    p.add_argument("--concurrency", type=int, default=5)
    p.add_argument("--no-dedup", action="store_true")
    p.add_argument("--seen-mode", default="auto",
                   choices=["auto", "cuckoo"],
                   help="URL-seen backend: exact anti-join or partitioned "
                        "cuckoo filter")
    p.add_argument("--seen-buckets", type=int, default=32,
                   help="host buckets for the cuckoo state table")
    p.add_argument("--robots", default=None,
                   help="parquet path of (host, robots_txt); compiled to "
                        "RFC 9309 rules + crawl-delay budgets")
    p.add_argument("--agent", default="*",
                   help="user-agent product token for robots group "
                        "selection")
    p.add_argument("--max-redirects", type=int, default=5,
                   help="redirect follow limit when the corpus carries a "
                        "redirect_to column")
    p.add_argument("--out", default=None,
                   help="optional parquet path for extracted records")
    p.add_argument("--corpus-partitions", type=int, default=128,
                   help="repartition the cached corpus to this many "
                        "partitions (0 = leave the scan's own splits). "
                        "A ~1 GB corpus parquet reads as ~8 128MB splits; "
                        "cached at that granularity every round's "
                        "fetch-join+extract stage runs 8 straggler-bound "
                        "tasks no matter how many cores exist — measured "
                        "3x skew on a 27k-page round")
    p.add_argument("--broadcast-threshold", type=int, default=100_000,
                   help="frontier rows under which the fetch join "
                        "broadcasts the admitted side")
    p.add_argument("--warm", action="store_true",
                   help="run one tiny crawl round before the timed crawl "
                        "so reported throughput is steady-state (Python "
                        "worker fork + JVM codegen excluded) — the same "
                        "discipline bench.py uses")
    p.add_argument("--cache-corpus", choices=["on", "off"], default="on",
                   help="persist the pages table before crawling (every "
                        "round's fetch join re-scans it otherwise). 'on' "
                        "uses MEMORY_AND_DISK so corpora larger than "
                        "cluster memory spill instead of thrashing; pass "
                        "'off' only when the corpus is re-generated "
                        "cheaper than it is stored")
    p.add_argument("--aqe", choices=["on", "off"], default="on",
                   help="adaptive query execution: 'on' (real-cluster "
                        "default: AQE coalesces shuffle partitions) or "
                        "'off' (benchmark discipline — AQE's per-stage "
                        "barriers cost ~0.5s/round on many-small-job "
                        "crawl loops). The engine reads this setting: "
                        "with AQE off it right-sizes shuffle partitions "
                        "per round itself")
    return p.parse_args(argv)


def main(argv=None):
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.appName("osmospark-crawl")
             .config("spark.sql.adaptive.enabled",
                     "true" if args.aqe == "on" else "false")
             .getOrCreate())

    from osmospark.corpus import pages_rows, seed_urls, synth_corpus
    from osmospark.frontier import FrontierEngine
    from osmospark.tableio import TableIO

    if args.corpus:
        if args.corpus.startswith("iceberg:"):
            # north-rule shape: the pages corpus is an Iceberg table read
            # through a configured catalog (snapshot isolation for free);
            # same gating as TableIO's iceberg backend
            from osmospark.tableio import detect_iceberg_catalog
            if detect_iceberg_catalog(spark) is None:
                raise SystemExit(
                    "--corpus iceberg:<table> requires an Iceberg catalog "
                    "(spark.sql.catalog.*) on the session")
            pages = spark.table(args.corpus[len("iceberg:"):])
        else:
            pages = spark.read.parquet(args.corpus)
        seeds = args.seeds
        if not seeds:
            raise SystemExit("--seeds required with --corpus")
    else:
        raw = synth_corpus(n_urls=args.n_urls, n_hosts=args.n_hosts)
        pages = spark.createDataFrame(
            pages_rows(raw, with_text=False),
            "url string, warc_ts timestamp, html binary, text string, "
            "lang string")
        seeds = args.seeds or seed_urls(raw)

    if args.cache_corpus == "on":
        from pyspark import StorageLevel
        # cache ONLY the columns the engine consumes: on a real
        # Common-Crawl pages table (url, warc_ts, html, text, lang) the
        # text column roughly doubles the bytes every round's fetch join
        # streams from cache; the crawl reads url+html (+ response
        # metadata / redirect edges when present)
        keep = [c for c in ("url", "html", "page_status", "status",
                            "content_type", "redirect_to")
                if c in pages.columns]
        pages = pages.select(*keep)
        if args.corpus_partitions:
            pages = pages.repartition(args.corpus_partitions)
        pages = pages.persist(StorageLevel.MEMORY_AND_DISK)

    state = TableIO(args.state, spark) if args.state else None
    start_round = 0
    if state is not None and not args.fresh:
        last = state.last_round("frontier")
        if last >= 0:
            start_round = last + 1

    robots_df = None
    if args.robots:
        from osmospark.frontier.politeness import compile_robots
        robots_df = compile_robots(spark.read.parquet(args.robots),
                                   agent=args.agent)

    eng = FrontierEngine(
        spark, pages, state=state,
        dedup=not args.no_dedup,
        politeness=args.politeness,
        concurrency=args.concurrency,
        seen_mode=args.seen_mode,
        bloom_buckets=args.seen_buckets,
        robots_df=robots_df,
        broadcast_threshold=args.broadcast_threshold,
        max_redirects=args.max_redirects)

    if args.warm:
        warm = pages.sample(False, 0.02, seed=1)
        FrontierEngine(spark, warm, dedup=True, politeness=args.politeness) \
            .run_crawl(seeds[:4] if seeds else [], args.follow,
                       extract_spec=json.loads(args.extract),
                       max_depth=0, max_rounds=1)

    if start_round > 0:
        # resume: reload seen-set and continue from the committed frontier
        frontier = state.read_round("frontier", start_round - 1)
        seeds_arg = None
    else:
        frontier = None
        seeds_arg = seeds

    t0 = time.perf_counter()
    records, meta = eng.run_crawl(
        seeds_arg if seeds_arg is not None else [],
        args.follow,
        extract_spec=json.loads(args.extract),
        max_depth=args.max_depth,
        max_rounds=args.max_rounds,
        resume_frontier=frontier,
        start_round=start_round,
    )
    n_records = records.count()
    wall = time.perf_counter() - t0
    visited = sum(m["admitted"] for m in meta)

    if args.out:
        records.write.mode("overwrite").parquet(args.out)

    print(json.dumps({
        "rounds": len(meta),
        "start_round": start_round,
        "urls_visited": visited,
        "records": n_records,
        "wall_sec": round(wall, 2),
        "urls_per_sec": round(visited / max(wall, 1e-9), 1),
        "per_round": meta,
    }))
    spark.stop()


if __name__ == "__main__":
    main()

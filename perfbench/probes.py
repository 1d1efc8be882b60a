"""Layer probes that run only in the traced run: single-process kernel
timings on a seeded page sample, and single calls into the ``functions``
and ``politeness`` entry points."""

from __future__ import annotations

import statistics

from session import now
from workloads import FOLLOW, SPEC, robots_texts


def _per_page_us(fn, n_pages: int, min_s: float = 0.6) -> float:
    """Median over repeated passes of one pass's time per page, in µs."""
    passes = []
    t_end = now() + min_s
    while not passes or now() < t_end or len(passes) < 3:
        t = now()
        fn()
        passes.append(now() - t)
    return statistics.median(passes) / n_pages * 1e6


def kernel(sample_pages: list[tuple[str, str]], tracer) -> dict:
    """html parse, selector evaluation and the crawl UDF, in this process
    on one core."""
    import pandas as pd
    from osmospark.extract import make_crawl_udf
    from osmospark.html import compile_selector, parse_html
    from osmospark.urlnorm import xxhash64_py

    n = len(sample_pages)
    htmls = [h for _, h in sample_pages]
    t = now()
    parse_us = _per_page_us(lambda: [parse_html(h) for h in htmls], n)
    tracer.span("probe:html.parse", t, now())

    docs = [parse_html(h) for h in htmls]
    sels = [compile_selector(s) for s in ("div", "a", FOLLOW)]
    t = now()
    select_us = _per_page_us(
        lambda: [s.find(d) for d in docs for s in sels], n)
    tracer.span("probe:html.select", t, now())

    pdf = pd.DataFrame({
        "url": [u for u, _ in sample_pages],
        "url_hash": [xxhash64_py(u.encode()) for u, _ in sample_pages],
        "html": [h.encode() for h in htmls],
        "depth": [0] * n, "referer": [None] * n, "host": [None] * n,
        "page_status": [200] * n, "content_type": ["text/html"] * n})
    udf = make_crawl_udf(SPEC, FOLLOW, hash_conts=False)
    t = now()
    udf_us = _per_page_us(lambda: list(udf(iter([pdf]))), n)
    tracer.span("probe:extract.udf", t, now())
    return {"html.parse_us_per_page": parse_us,
            "html.select_us_per_page": select_us,
            "extract.udf_us_per_page": udf_us}


def functions(spark, pages, tracer) -> dict:
    """main_text over a seeded 5% of the corpus, then near_duplicates and
    paragraph_dedup over the extracted text."""
    from pyspark.sql import functions as F
    from osmospark.functions import near_duplicates
    from osmospark.functions.curation import paragraph_dedup
    from osmospark.functions.maintext import main_text

    sample = pages.sample(False, 0.05, seed=7)
    docs, main_s = tracer.timed("probe:functions.main_text", lambda: (
        main_text(sample, html_col="html", id_col="url")
        .select(F.xxhash64("url").alias("doc_id"),
                F.col("main_text").alias("text"))
        .cache()))
    t = now()
    docs.count()
    main_s += now() - t
    _, near_s = tracer.timed("probe:functions.near_duplicates",
                             lambda: near_duplicates(docs, 0.5).count())
    _, para_s = tracer.timed("probe:functions.paragraph_dedup",
                             lambda: paragraph_dedup(docs).count())
    docs.unpersist()
    return {"functions.main_text_s": main_s,
            "functions.near_duplicates_s": near_s,
            "functions.paragraph_dedup_s": para_s}


def compile_robots(spark, tracer) -> float:
    from osmospark.frontier.politeness import compile_robots as compile_
    _, s = tracer.timed("probe:politeness.compile_robots",
                        lambda: compile_(robots_texts(spark)).count())
    return s

"""Head-metadata extraction + rel=canonical collapse.

A crawl's dedup signal chain has three tiers: explicit (the page says
"my canonical URL is X" via ``<link rel=canonical>``), syntactic (DUST
rules mined from (url, fingerprint) observations — ``urlnorm.dust_rules``),
and content (MinHash/SimHash — ``functions.dedup``).  This module covers
the explicit tier, which the reference surfaces only implicitly through
selector queries over ``head`` (find/set on ``link``/``meta``, e.g. the
patterns in rchipka/node-osmosis README.md selector examples); here it is
a first-class page-table operator because at 100 TB the canonical link is
the cheapest dedup evidence available — no shingling, no pairwise work,
one map-side parse that is usually piggy-backed on the extraction pass
already touching every page.

Spark-first shape:

- ``page_metadata`` — ONE Arrow-batched ``mapInPandas`` over (url, html):
  parse with the same pure-Python DOM used by extraction/main_text,
  select ``title`` / ``link[rel=canonical]@href`` /
  ``meta[name=robots]@content`` / ``meta[property='og:title']@content``
  through the selector engine, resolve + canonicalize the canonical
  href against the page URL with the same ``urlnorm`` kernel the
  frontier hashes with.  Zero shuffles, zero driver state.
- ``canonical_collapse`` — relational: group indexable pages by their
  canonical fetch key (``coalesce(canonical, url)``), pick the
  lexicographically-first member URL as representative.  One keyed
  aggregation; at 10^10 URLs this shuffles (canonical_url, url) pairs
  only — never html.

Hostile-data discipline (PLANS §36): NULL/empty/headless html yields a
row with NULL metadata, never a dropped page; a malformed canonical href
degrades through ``urlnorm.resolve``'s total, idempotent grammar.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..html import parse_html
from ..urlnorm import canonicalize, resolve

_META_FIELDS = ("title string, canonical string, noindex boolean, "
                "nofollow boolean, og_title string")


def robots_tokens(content: str) -> set:
    """Parse a robots directive value ('NoIndex, nofollow', or the
    space-separated 'noindex nofollow' major crawlers also honour) into
    its lowercase token set — THE robots-content grammar, shared by the
    indexer side here and the crawl loop's ``respect_meta_robots``
    (``extract.make_crawl_udf``); fix directive semantics in one place."""
    return {t.lower() for t in re.split(r"[,\s]+", content) if t}


def robots_flags(content: str) -> tuple:
    """(noindex, nofollow) from one robots content value; 'none' implies
    both (the Googlebot/Bingbot rule)."""
    toks = robots_tokens(content)
    return ("noindex" in toks or "none" in toks,
            "nofollow" in toks or "none" in toks)


def extract_metadata(url: str, html: str):
    """(title, canonical, noindex, nofollow, og_title) for one page.

    First match in document order wins for each field (a page with two
    canonical links is malformed; browsers and indexers take the first).
    The canonical href is resolved against the page URL and pushed
    through ``canonicalize`` so it equi-joins frontier fetch keys.

    HTML defines ``rel`` / ``name`` / ``property`` VALUES as ASCII
    case-insensitive, and ``rel`` as a space-separated token list — so
    matching walks the link/meta elements and compares lowercased
    tokens rather than using the selector engine's (correctly)
    case-sensitive ``[attr=v]`` predicate: ``<META NAME="ROBOTS"
    CONTENT="NOINDEX">`` and ``rel="CANONICAL nofollow"`` must match.
    (Attribute NAMES are already lowercased by the parser.)
    """
    if not html:
        return None, None, False, False, None
    doc = parse_html(html)
    title = next((e.text() for e in doc.find("title")), None)
    canonical = None
    for e in doc.find("link"):
        rel = (e.get_attribute("rel") or "").lower().split()
        href = e.get_attribute("href")
        if "canonical" in rel and href:
            canonical = canonicalize(resolve(url, href))
            break
    noindex = nofollow = False
    og_title = None
    for e in doc.find("meta"):
        name = (e.get_attribute("name") or "").strip().lower()
        if name == "robots":
            ni, nf = robots_flags(e.get_attribute("content") or "")
            noindex = noindex or ni
            nofollow = nofollow or nf
        prop = (e.get_attribute("property") or "").strip().lower()
        if (prop == "og:title" and og_title is None
                and e.get_attribute("content") is not None):
            og_title = e.get_attribute("content")
    return title, canonical, noindex, nofollow, og_title


def page_metadata(pages: DataFrame, url_col: str = "url",
                  html_col: str = "html") -> DataFrame:
    """Head-metadata table over a page corpus: (url, title, canonical,
    noindex, nofollow, og_title) via one Arrow-batched parse pass."""
    schema = f"{url_col} string, {_META_FIELDS}"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("url", "title", "canonical",
                                    "noindex", "nofollow", "og_title")}
            for url, html in zip(pdf[url_col], pdf[html_col]):
                if isinstance(html, (bytes, bytearray)):
                    html = bytes(html).decode("utf-8", "replace")
                t, c, ni, nf, og = extract_metadata(url, html)
                rows["url"].append(url)
                rows["title"].append(t)
                rows["canonical"].append(c)
                rows["noindex"].append(ni)
                rows["nofollow"].append(nf)
                rows["og_title"].append(og)
            yield pd.DataFrame({
                url_col: pd.Series(rows["url"], dtype="object"),
                "title": pd.Series(rows["title"], dtype="object"),
                "canonical": pd.Series(rows["canonical"], dtype="object"),
                "noindex": pd.Series(rows["noindex"], dtype="bool"),
                "nofollow": pd.Series(rows["nofollow"], dtype="bool"),
                "og_title": pd.Series(rows["og_title"], dtype="object"),
            })

    return pages.select(url_col, html_col).mapInPandas(run, schema)


def canonical_collapse(meta: DataFrame, url_col: str = "url") -> DataFrame:
    """Collapse pages onto their declared canonical URL.

    Input is ``page_metadata`` output (or any frame with url / canonical
    / noindex).  ``noindex`` pages are excluded first — a page that asks
    not to be indexed contributes neither a group nor a representative
    (the classic indexer rule).  Returns one row per canonical fetch key:

    - ``canonical_url``  — ``coalesce(canonical, url)``
    - ``n_pages``        — members collapsed onto it
    - ``representative`` — lexicographic min member URL (deterministic)
    - ``self_canonical`` — whether some member IS the canonical target
      (a group whose target was never crawled is a frontier gap: the
      canonical page itself still needs fetching)

    One keyed aggregation over (canonical_url, url) pairs; min() and
    bool_or() are both map-side-partial, so the shuffle carries one
    partial row per (task, key) — hot canonical targets (site front
    pages) cost one reduce-side row, not a skewed fan-in of members.
    """
    u = F.col(url_col)
    key = F.coalesce(F.col("canonical"), u)
    return (meta
            .where(~F.col("noindex"))
            .select(key.alias("canonical_url"), u.alias(url_col))
            .groupBy("canonical_url")
            .agg(F.count("*").alias("n_pages"),
                 F.min(url_col).alias("representative"),
                 F.bool_or(F.col(url_col) == F.col("canonical_url"))
                 .alias("self_canonical")))


def orphan_canonicals(collapsed: DataFrame) -> DataFrame:
    """Canonical targets that were never crawled — the frontier gap
    ``canonical_collapse`` exposes: a group whose ``self_canonical`` is
    false means pages declare a canonical URL that no crawled page IS.
    Those targets are the highest-value next seeds (every member page
    is, by its own declaration, a stand-in for them).

    Returns (url, n_aliases) ordered by alias count descending then
    url — feed the ``url`` column to ``FrontierEngine.run_crawl`` as
    seeds, or join it into a recrawl priority table. A trivial filter
    over the collapse output: no new shuffle beyond its aggregation.
    """
    return (collapsed
            .where(~F.col("self_canonical"))
            .select(F.col("canonical_url").alias("url"),
                    F.col("n_pages").alias("n_aliases"))
            .orderBy(F.col("n_aliases").desc(), "url"))

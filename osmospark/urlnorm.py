"""URL canonicalization + xxHash64 identity.

Canonical form (per BASELINE.json north_star): lowercase scheme/host, strip
fragment and default port, sort query params, percent-encode the path
consistently. The same function runs on the driver, inside Arrow UDFs, and
in the corpus generator, so URL identity is consistent everywhere.

``xxhash64_py`` is a pure-Python XXH64 (public algorithm, XXHash spec) with
Spark's default seed 42, bit-for-bit equal to ``F.xxhash64(col)`` on string
columns — verified in tests — so executors can probe Bloom bitsets built
from Spark-computed hashes without a JVM round trip.

Resolution quirks mirror the reference request layer
(reference lib/Command.js:303-338): ``//x`` → ``http://x``, bare → ``http://``.
"""

from __future__ import annotations

import re
import struct
from urllib.parse import quote, urljoin, urlsplit, urlunsplit

_DEFAULT_PORTS = {"http": "80", "https": "443"}
_PATH_SAFE = "/%:@!$&'()*+,;=~-._"


def resolve(base: str | None, href: str) -> str:
    """Resolve href against a base document URL with the reference's scheme
    defaults (reference lib/Command.js:303-338). Total: a malformed href
    (e.g. an unmatched IPv6 bracket, which makes ``urljoin`` raise) comes
    back verbatim — hostile hrefs are guaranteed in web data and must
    never kill the Arrow batch they ride in."""
    if href.startswith("//"):
        return "http:" + href
    if base:
        try:
            return urljoin(base, href)
        except ValueError:
            return href
    if not href.startswith("http"):
        return "http://" + href
    return href


def canonicalize(url: str) -> str:
    """Canonical URL form — a TOTAL, IDEMPOTENT function. Hostile hrefs
    (non-numeric or out-of-range ports, unmatched IPv6 brackets) make
    ``urlsplit``/``.hostname``/``.port`` raise ValueError; this runs
    inside Arrow UDFs over crawled pages, where one bad link must not
    kill the task. Malformed inputs degrade to identity-preserving
    forms (never to a DIFFERENT valid URL — 'http://h:bad/x' must not
    collapse onto 'http://h/x'). IPv6 hosts keep their brackets, so the
    output re-parses to the same authority."""
    try:
        parts = urlsplit(url)
    except ValueError:       # unmatched bracket: not parseable at all
        return url
    scheme = (parts.scheme or "http").lower()
    try:
        host = (parts.hostname or "").lower()
        port = parts.port
        netloc = f"[{host}]" if ":" in host else host
        if port is not None and str(port) != _DEFAULT_PORTS.get(scheme):
            netloc = f"{netloc}:{port}"
    except ValueError:
        # bad port / bad IPv6 literal: keep the authority text verbatim
        # (minus userinfo, lowercased) — stable under re-canonicalization
        netloc = parts.netloc.rsplit("@", 1)[-1].lower()
    path = quote(parts.path or "/", safe=_PATH_SAFE)
    if not path:
        path = "/"
    query = ""
    if parts.query:
        pairs = sorted(parts.query.split("&"))
        query = "&".join(p for p in pairs if p)
    return urlunsplit((scheme, netloc, path, query, ""))


def post_fetch_key(url: str, params) -> str:
    """Corpus join key for POST fetches: POST-target pages are distinct
    rows of the pages table keyed by canonical url + sorted params
    (SURVEY §2.8: 'POST-target pages keyed by (url, params_hash) in
    corpus'). GET rows keep the bare canonical url."""
    canon = canonicalize(url)
    if not params:
        return canon + "#post"
    items = sorted((str(k), str(v)) for k, v in dict(params).items())
    return canon + "#post:" + "&".join(f"{k}={v}" for k, v in items)


def url_host(url: str) -> str:
    """Lowercased hostname, '' when there is none. Total: malformed
    authorities (unmatched IPv6 bracket, bad port) return '' instead of
    raising — this keys politeness groups inside UDFs over crawled
    links, where one hostile href must not kill the task."""
    try:
        return urlsplit(url).hostname or ""
    except ValueError:
        return ""


# fast-link-resolver guards: hrefs provably in canonical form already.
# Character classes are unreserved-or-PATH_SAFE only, so quote() is the
# identity; dot segments are excluded separately (urljoin removes them).
_FAST_REL = re.compile(r"/[A-Za-z0-9._~/\-]*\Z").match
_FAST_ABS = re.compile(
    r"(https?)://([a-z0-9.\-]+)(/[A-Za-z0-9._~/\-]*)?\Z").match


def link_resolver(base: str | None):
    """Per-page closure mapping href → ``(canonical_target, host)``,
    exactly equal to ``canonicalize(resolve(base, href))`` /
    ``url_host(target)`` on every input (differential-tested, fuzzed).

    The per-link hot path of the extraction kernel re-split the SAME
    base URL for every link on the page (resolve + canonicalize +
    url_host ≈ 12% of kernel time); this canonicalizes the base once
    and takes a regex-gated O(len(href)) fast path for the two shapes
    that dominate real link graphs — rooted paths ('/a/b') and bare
    http(s)://host/path absolutes — falling back to the total slow
    path for anything not provably canonical-as-is (dot segments,
    '//x' protocol-relative, query strings, escapes, userinfo, ports,
    uppercase hosts, hostile authorities).

    Exactness of the rooted-path branch: ``resolve(base, '/p')`` is
    ``urljoin``, which for a rooted path returns
    ``base.scheme://base.netloc/p`` (dot-segment removal is a no-op —
    '/.' is excluded); ``canonicalize`` of that derives scheme/netloc
    from (base.scheme, base.netloc) alone — i.e. the canonical base's
    own origin — and ``quote`` of the path is the identity over the
    guard's character class, with no query/fragment possible. The
    absolute branch needs no base: lowercase scheme+host with no
    userinfo/port/query in the charset is already canonical, with ''
    path canonicalized to '/'."""
    origin = bhost = None
    if base:
        cbase = canonicalize(base)
        try:
            parts = urlsplit(cbase)
            if parts.scheme in ("http", "https") and parts.netloc:
                origin = f"{parts.scheme}://{parts.netloc}"
                bhost = (parts.hostname or "").lower()
        except ValueError:
            pass

    def res(href: str):
        if (origin is not None and href[:1] == "/" and href[1:2] != "/"
                and "/." not in href and _FAST_REL(href) is not None):
            return origin + href, bhost
        m = _FAST_ABS(href)
        if m is not None and "/." not in href:
            return (href if m.group(3) else href + "/"), m.group(2)
        t = canonicalize(resolve(base, href))
        return t, url_host(t)

    return res


def host_expr(col):
    """JVM host expression matching ``url_host()`` / ``urlsplit().hostname``
    — authority minus userinfo and port, IPv6 brackets stripped,
    lowercased. ONE shared expression for ``dust_rules``,
    ``apply_dust_rules``, ``url_features`` and the frontier engine, so a
    host mined from 'http://Example.com:8080/x' ('example.com') always
    equi-joins the engine's ``url_host``-derived frontier host.
    (Previously the raw authority regex kept case/port/userinfo, so
    rules mined for any non-default-port or mixed-case host silently
    never matched the engine's broadcast rewrite join.)"""
    from pyspark.sql import functions as F

    auth = F.regexp_extract(col, "//([^/?#]+)", 1)
    # userinfo strips to the LAST '@' (greedy ^.*@ over the
    # slash-free authority) because urlsplit().hostname rpartitions on
    # '@' — 'a@b@h.test' must key as 'h.test' on both derivations
    bare = F.regexp_replace(
        F.regexp_replace(auth, "^.*@", ""), ":[0-9]*$", "")
    return F.lower(F.regexp_replace(bare, r"^\[|\]$", ""))


# DuckDB mirror of host_expr (RE2 ∩ Java regex syntax only).  The
# bracket strip needs the explicit 'g' option: DuckDB regexp_replace
# replaces the FIRST match only by default while Spark replaces all —
# without it '[2001:db8::1]' keeps its trailing bracket in the oracle.
HOST_SQL = ("lower(regexp_replace(regexp_replace(regexp_replace("
            "regexp_extract({u}, '//([^/?#]+)', 1),"
            " '^.*@', ''), ':[0-9]*$', ''), '^\\[|\\]$', '', 'g'))")


def strip_params_expr(u, strip_col):
    """Shared DUST rewrite expression: ``u`` with every query parameter
    named in the array column ``strip_col`` removed (other params kept
    in order), the ``#fragment`` — if any — preserved. NULL strip set
    or no query string → ``u`` unchanged, byte-identical. Used by both
    ``apply_dust_rules`` and ``FrontierEngine._strip_params`` so the
    two can never drift. Pure map-side expression — no shuffle."""
    from pyspark.sql import functions as F

    pre = F.split_part(u, F.lit("#"), F.lit(1))
    frag = F.substring(u, F.length(pre) + 1, 1 << 30)
    qs = F.regexp_extract(pre, r"\?([^#]*)", 1)
    base = F.split_part(pre, F.lit("?"), F.lit(1))
    params = F.split(qs, "&")
    kept = F.filter(
        params,
        lambda x: ~F.array_contains(strip_col,
                                    F.split_part(x, F.lit("="),
                                                 F.lit(1))))
    rebuilt = F.concat(
        F.when(F.size(kept) > 0,
               F.concat(base, F.lit("?"), F.array_join(kept, "&")))
        .otherwise(base),
        frag)
    return F.when(strip_col.isNull() | (qs == ""), u).otherwise(rebuilt)


# --------------------------------------------------------------------------
# XXH64 (public XXHash algorithm; seed 42 = Spark's default for xxhash64)
# --------------------------------------------------------------------------

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_MASK = 0xFFFFFFFFFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _MASK
    acc = _rotl(acc, 31)
    return (acc * _P1) & _MASK


def _merge_round(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return (acc * _P1 + _P4) & _MASK


def xxhash64_py(data: bytes, seed: int = 42) -> int:
    """XXH64 over bytes; returns a SIGNED 64-bit int (Spark LongType)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _MASK
        v2 = (seed + _P2) & _MASK
        v3 = seed & _MASK
        v4 = (seed - _P1) & _MASK
        while i <= n - 32:
            l1, l2, l3, l4 = struct.unpack_from("<QQQQ", data, i)
            v1 = _round(v1, l1)
            v2 = _round(v2, l2)
            v3 = _round(v3, l3)
            v4 = _round(v4, l4)
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _MASK
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + _P5) & _MASK
    h = (h + n) & _MASK
    while i <= n - 8:
        (k1,) = struct.unpack_from("<Q", data, i)
        h ^= _round(0, k1)
        h = (_rotl(h, 27) * _P1 + _P4) & _MASK
        i += 8
    if i <= n - 4:
        (k1,) = struct.unpack_from("<I", data, i)
        h ^= (k1 * _P1) & _MASK
        h = (_rotl(h, 23) * _P2 + _P3) & _MASK
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _MASK
        h = (_rotl(h, 11) * _P1) & _MASK
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _MASK
    h ^= h >> 29
    h = (h * _P3) & _MASK
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def url_hash(url: str) -> int:
    return xxhash64_py(canonicalize(url).encode("utf-8"))


# pre-fetch filtering signals: extensions a crawler skips without
# spending a fetch slot (media/static assets), and the session-id
# field names that mark infinite URL spaces
ASSET_EXTS = ["jpg", "jpeg", "png", "gif", "webp", "bmp", "ico", "svg",
              "mp3", "mp4", "avi", "mov", "pdf", "zip", "gz", "tar",
              "css", "js", "woff", "woff2", "ttf", "exe", "dmg"]
_SESSION_RX = r"(?i)[?&](sessionid|sid|phpsessid|jsessionid)="


def url_features(urls, col: str = "url"):
    """Per-URL admission-filter features, all JVM expressions (the
    signals a frontier applies BEFORE spending a fetch slot: skip
    binary assets, deprioritize session-id and digit-soup URLs).

    Output (url, host, path_depth, n_params, ext, is_asset,
    has_session, url_len, digit_permille). Everything is
    regexp/length arithmetic shared verbatim by the DuckDB oracle —
    parse_url is avoided on purpose so both engines run the same
    grammar. Map-only; Catalyst prunes to the url column.
    """
    from pyspark.sql import functions as F

    u = F.col(col)
    path = F.regexp_extract(u, r"^[a-zA-Z]+://[^/?#]+([^?#]*)", 1)
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    ext = F.lower(F.regexp_extract(path, r"\.([a-zA-Z0-9]{1,5})$", 1))
    digits_removed = F.regexp_replace(u, "[0-9]", "")
    return urls.select(
        u.alias("url"),
        host_expr(u).alias("host"),
        (F.length(path)
         - F.length(F.regexp_replace(path, "/", "")))
        .cast("bigint").alias("path_depth"),
        F.when(query == "", 0).otherwise(
            F.length(query)
            - F.length(F.regexp_replace(query, "&", "")) + 1)
        .cast("bigint").alias("n_params"),
        ext.alias("ext"),
        ext.isin(ASSET_EXTS).alias("is_asset"),
        (u.rlike(_SESSION_RX)).alias("has_session"),
        F.length(u).cast("bigint").alias("url_len"),
        F.expr(f"((length({col}) - length(regexp_replace({col}, "
               f"'[0-9]', ''))) * 1000) div length({col})")
        .cast("bigint").alias("digit_permille"))


def default_url_predicate() -> str:
    """SQL boolean (column ``url``) for FrontierEngine(url_predicate=):
    skip binary-asset extensions and session-id URLs before they
    consume frontier state or fetch slots."""
    exts = "|".join(ASSET_EXTS)
    return (f"NOT (lower(url) rlike '\\\\.({exts})([?#].*)?$' "
            f"OR url rlike '{_SESSION_RX}')")


def dust_rules(fetches, min_support: int = 2, col: str = "url",
               fp_col: str = "fp"):
    """DUST rule mining — "Do Not Crawl in the DUST: Different URLs
    with Similar Text" (Bar-Yossef, Keidar & Schonfeld, WWW'07): learn,
    per host, which query parameters NEVER change page content, so the
    canonicalizer can strip them and the frontier stops re-fetching
    session-id/tracking aliases of pages it already has. Input:
    (url, fp) fetch observations — fp is any content fingerprint
    (xxhash of extracted text, a MinHash band, ...).

    Evidence unit: for each parameter name p appearing in a URL, the
    RESIDUAL url (that URL with every ``p=...`` pair removed, other
    params kept in order). URLs sharing (host, p, residual) differ only
    in p. A residual group with ≥2 distinct URLs and exactly 1 distinct
    fingerprint supports "strip p"; a group with ≥2 fingerprints is a
    violation (p does change content). Verdict per (host, param):
    ``is_rule = support ≥ min_support AND violations = 0``.

    Output: (host, param, support, violations, is_rule), ordered.

    Scale shape: params-per-URL is bounded (~≤8), so the explode is a
    constant-factor map; the first aggregation keys on (host, param,
    residual, fp) — a superset of the URL's own key, so map-side
    partials collapse repeated observations of the same URL before any
    shuffle; group sizes are bounded by alias counts (session-id
    values), never corpus-sized; the final (host, param) rollup is
    hosts×params-sized. The fetch log shuffles only its projected
    (host, param, residual, fp, url) tuples — never page content.
    """
    from pyspark.sql import functions as F

    u = F.col(col)
    base = F.split_part(u, F.lit("?"), F.lit(1))
    qs = F.regexp_extract(u, r"\?([^#]*)", 1)
    params = F.split(qs, "&")
    names = F.array_distinct(
        F.transform(params, lambda x: F.split_part(x, F.lit("="),
                                                   F.lit(1))))
    obs = (fetches
           .filter(qs != "")
           .select(u.alias("url"), F.col(fp_col).alias("_fp"),
                   host_expr(u).alias("host"),
                   base.alias("_base"), params.alias("_params"),
                   F.explode(names).alias("param")))
    residual = F.concat(
        F.col("_base"), F.lit("?"),
        F.array_join(F.filter(
            F.col("_params"),
            lambda x: F.split_part(x, F.lit("="), F.lit(1))
            != F.col("param")), "&"))
    grouped = (obs.select("host", "param", residual.alias("residual"),
                          "_fp", "url")
               .distinct()
               .groupBy("host", "param", "residual")
               .agg(F.countDistinct("url").alias("_nu"),
                    F.countDistinct("_fp").alias("_nf"))
               .filter(F.col("_nu") >= 2))
    return (grouped.groupBy("host", "param")
            .agg(F.sum((F.col("_nf") == 1).cast("bigint"))
                 .alias("support"),
                 F.sum((F.col("_nf") > 1).cast("bigint"))
                 .alias("violations"))
            .select("host", "param",
                    F.col("support").cast("bigint").alias("support"),
                    F.col("violations").cast("bigint")
                    .alias("violations"),
                    ((F.col("support") >= min_support)
                     & (F.col("violations") == 0)).alias("is_rule"))
            .orderBy("host", "param"))


def apply_dust_rules(urls, rules, col: str = "url"):
    """Apply mined DUST rules (the consume side of ``dust_rules``):
    strip every query parameter a host's learned rules mark
    content-irrelevant, producing the canonical fetch key the frontier
    dedups on — so session/tracking aliases stop consuming seen-state
    and fetch slots. Input: a url frame and a ``dust_rules`` output
    frame (only ``is_rule`` rows are applied). Output: (url,
    canonical_url, changed), ordered by url.

    Scale shape: rules collapse to a hosts-sized (host → param array)
    table, broadcast onto the url stream; the strip itself is a
    map-only array filter + rejoin. URLs of hosts without rules, and
    URLs with no query string, pass through verbatim.
    """
    from pyspark.sql import functions as F

    strip = (rules.filter(F.col("is_rule"))
             .groupBy("host")
             .agg(F.collect_set("param").alias("_strip")))
    u = F.col(col)
    canonical = strip_params_expr(u, F.col("_strip"))
    return (urls
            .select(u.alias("url"), host_expr(u).alias("host"))
            .join(F.broadcast(strip), "host", "left")
            .select("url", canonical.alias("canonical_url"),
                    (canonical != u).alias("changed"))
            .orderBy("url"))

"""URL canonicalization + 64-bit hashing (the frontier's identity function).

The reference relies on Scrapy's request-fingerprint dedup (w3lib
canonicalization) plus ad-hoc URL edits:
- param replace  : add_or_replace_parameter(url,'PAGENUMBER',n)
  (/root/reference/xizang/spiders/bid_info.py:123)
- quote / urljoin / prefix rewrite (company_emp_info.py:52,214-216,
  corp_list.py:33)
- epoch-millis cache-busters appended as `_` / `t` params
  (company_emp_info.py:95-97,166) — MUST be stripped before hashing or
  every fetch of the same page looks new.

Canonical form (documented, deterministic):
  scheme lowercased · host lowercased · default ports dropped · fragment
  dropped · path '' → '/' · query params parsed, cache-buster keys removed,
  remaining pairs sorted by (key, value), re-encoded.

The canonicalizer is an Arrow-batched pandas UDF (urllib.parse has no
Catalyst analog); the hash is Spark's built-in ``xxhash64`` so the 64-bit
identity is computed JVM-side and is consistent everywhere (bloom shards
derive their probe positions from this single hash — no Python hashing).
"""

from __future__ import annotations

import functools as _functools
from urllib.parse import parse_qsl, urlencode, urljoin, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Cache-buster / anti-bot salt params observed in the reference's URL
# construction (company_emp_info.py:95-97,166,194,229,270; bid_notice.py:37).
CACHE_BUSTER_KEYS = frozenset({"_", "t", "timestamp", "random", "token", "_t"})

_DEFAULT_PORTS = {"http": "80", "https": "443"}


def canonicalize_url_py(url: str | None, base: str | None = None) -> str | None:
    """Single-value canonicalizer (shared with the fixture simulator so the
    engine and the ordering oracle agree byte-for-byte)."""
    if url is None or url == "":
        return None
    try:
        if base:
            url = urljoin(base, url)
        parts = urlsplit(url.strip())
        scheme = parts.scheme.lower() or "https"
        host = parts.hostname.lower() if parts.hostname else ""
        # parts.port raises ValueError for out-of-range (>65535) or
        # non-numeric ports — such links are INVALID, not fatal: return
        # None like every other unparseable URL, so one malformed href
        # can never kill a whole wave's Arrow batch
        port = parts.port
        netloc = host
        if port is not None and str(port) != _DEFAULT_PORTS.get(scheme):
            netloc = f"{host}:{port}"
        path = parts.path or "/"
        q = [
            (k, v)
            for k, v in parse_qsl(parts.query, keep_blank_values=True)
            if k not in CACHE_BUSTER_KEYS
        ]
        q.sort()
        return urlunsplit((scheme, netloc, path, urlencode(q), ""))
    except ValueError:
        return None


@F.pandas_udf(T.StringType())
def canonicalize_url_pd(urls: pd.Series) -> pd.Series:
    """Arrow-batched canonicalizer (absolute URLs)."""
    return urls.map(lambda u: canonicalize_url_py(u))


# ---------------------------------------------------------------------------
# JVM fast path: for "plain" URLs the canonical form is expressible with
# pure Catalyst expressions (regexp extracts + a higher-order sort of the
# query pairs) — whole-stage-codegen speed, no Python worker round-trip.
# Plain ⇔ provably byte-identical to canonicalize_url_py: http(s) scheme,
# [A-Za-z0-9.-] host, no userinfo, no leading-zero port, any %-free-risk
# query charset ([A-Za-z0-9_.~-]) where parse_qsl→sort→urlencode is the
# identity transformation modulo ordering and bare-key '=' insertion.
# Everything else (percent-escapes, '+', IPv6, exotic schemes, interior
# whitespace) falls back to the Arrow UDF — at crawl scale the fast path
# covers ~all real URLs, so canonicalization leaves the Python hot path.
# Byte-equality is enforced by hypothesis tests (test_properties.py) and
# the crawl ordering/seen-set parity suite.
# ---------------------------------------------------------------------------

# Flat groups only, each anchored by a distinct leading char (:, /, ?, #)
# — a nested per-pair query structure here backtracks catastrophically
# (measured: the predicate alone cost as much as the full canonical
# expression). Multi-'=' chunks are admitted; the expression reproduces
# urlencode by re-quoting '=' inside values as %3D. NO \s anywhere: a
# \s inside a negated class knocks Java regex off its fast path
# (measured 10× — 0.3 s → 3.5 s per 4M rows); \t\r\n are excluded
# explicitly because urlsplit strips them ANYWHERE (so such URLs must
# take the Python fallback), while interior spaces in path/fragment are
# byte-preserved by both sides and therefore plain.
# Port alternation admits exactly 1-65535 (no leading zeros): the old
# ':[1-9][0-9]{0,4}' also matched 65536-99999, which urlsplit REJECTS
# (ValueError) — those URLs claimed the JVM path in hybrid mode (silently
# canonicalized) while crashing the Arrow UDF in python mode: same crawl,
# mode-dependent behavior. Out-of-range ports now take the Python path,
# which maps them to None like every other invalid URL.
# Anchored with \z, NOT $: Java's $ also matches just BEFORE a final
# line terminator, so 'http://a/b\n' would claim the JVM path (where
# parse_url → java.net.URI rejects it → url_norm NULL and every such
# URL collapses to one xxhash64 identity) instead of the Python path
# that strips the \n. \z matches only at the true end of input.
PLAIN_URL_RE = (
    r"^[Hh][Tt][Tt][Pp][Ss]?://"
    r"[A-Za-z0-9.\-]+"
    r"(:([1-9][0-9]{0,3}|[1-5][0-9]{4}|6[0-4][0-9]{3}"
    r"|65[0-4][0-9]{2}|655[0-2][0-9]|6553[0-5]))?"
    r"(/[^?#\t\n\r ]*)?"
    r"(\?[A-Za-z0-9_.~=&\-]*)?"
    r"(#[^\t\n\r]*)?\z"
)


def is_plain_url(url: Column) -> Column:
    """True when the TRIMMED url is canonicalizable JVM-side."""
    return F.regexp_like(F.trim(url), F.lit(PLAIN_URL_RE))


@_functools.lru_cache(maxsize=None)
def _canonical_jvm_cols(url_col: str) -> tuple:
    """The staged canonicalizer's Column objects, built ONCE per input
    column name and reused across calls. Columns are immutable
    unresolved expression trees keyed only by attribute NAMES, so the
    same objects attach to any DataFrame that has ``url_col`` — and the
    Column-by-Column construction below costs ~1,300 py4j round-trips
    (~0.3 s driver-side, measured with cProfile), which the crawl loop
    paid EVERY wave inside its per-wave wall and every query build paid
    inside its timed region (guide §1.2 step 2 — the same fixed-cost
    class as the F.expr single-parse trees and the lru_cached pandas-UDF
    factories in dedup/similarity). Returns (u, stage1, stage2, norm);
    the caller's withColumn/withColumns sequence is unchanged, so the
    resulting plan is byte-identical to the uncached construction.

    Parsing is pure linear string ops (parse_url/substring_index) — the
    plain predicate already guarantees the URL's shape, and each
    regexp_extract this replaced re-scanned the string through the regex
    engine (~6× the cost of the whole pipeline at 4M URLs)."""
    # Each component comes from ONE flat parse_url/extract on the input —
    # deep chains of string ops referencing each other explode the
    # Catalyst expression tree (every reference copies its subtree;
    # measured 4× slower than the regex version they replaced), while
    # flat extraction keeps the projection linear in component count.
    u = F.substring_index(F.trim(F.col(url_col)), "#", 1)  # fragment dropped first
    stage1 = {
        "_scheme": F.lower(F.parse_url(F.col("_cu"), F.lit("PROTOCOL"))),
        "_auth": F.parse_url(F.col("_cu"), F.lit("AUTHORITY")),
        "_path": F.coalesce(F.parse_url(F.col("_cu"), F.lit("PATH")), F.lit("")),
        "_qraw": F.coalesce(F.parse_url(F.col("_cu"), F.lit("QUERY")), F.lit("")),
    }
    busters = F.array(*[F.lit(k) for k in sorted(CACHE_BUSTER_KEYS)])
    # split each pair ONCE on the FIRST '=' (parse_qsl semantics); keep
    # the value RAW until after the sort — python sorts the DECODED
    # pairs, so the urlencode-style re-quoting of '=' inside values (%3D)
    # happens after the sort
    pair_arrays = F.transform(
        F.filter(F.split(F.col("_qraw"), "&"), lambda p: p != ""),
        lambda p: F.split(p, "=", 2),
    )
    kv = F.array_sort(
        F.filter(
            F.transform(
                pair_arrays,
                lambda a: F.struct(
                    F.get(a, 0).alias("k"),
                    F.coalesce(F.get(a, 1), F.lit("")).alias("v"),
                ),
            ),
            lambda s: ~F.array_contains(busters, s["k"]),
        )
    )
    stage2 = {
        "_host": F.lower(F.substring_index(F.col("_auth"), ":", 1)),
        "_port": F.when(
            F.instr(F.col("_auth"), ":") > 0,
            F.substring_index(F.col("_auth"), ":", -1),
        ).otherwise(F.lit("")),
        "_kv": kv,
    }
    # returned as immutable item-tuples: the cache hands the same objects
    # to every caller process-wide, and a shared mutable dict would let
    # one caller's edit silently corrupt every later canonicalization
    stage1 = tuple(stage1.items())
    stage2 = tuple(stage2.items())
    default_port = (
        F.when(F.col("_scheme") == "http", F.lit("80"))
        .when(F.col("_scheme") == "https", F.lit("443"))
        .otherwise(F.lit(""))
    )
    netloc = F.when(
        (F.col("_port") != "") & (F.col("_port") != default_port),
        F.concat(F.col("_host"), F.lit(":"), F.col("_port")),
    ).otherwise(F.col("_host"))
    path = F.when(F.col("_path") == "", F.lit("/")).otherwise(F.col("_path"))
    qout = F.array_join(
        F.transform(
            F.col("_kv"),
            lambda s: F.concat(
                s["k"], F.lit("="), F.regexp_replace(s["v"], "=", "%3D")
            ),
        ),
        "&",
    )
    norm = F.concat(
        F.col("_scheme"),
        F.lit("://"),
        netloc,
        path,
        F.when(qout == "", F.lit("")).otherwise(F.concat(F.lit("?"), qout)),
    )
    return u, stage1, stage2, norm


def with_canonical_jvm(df: DataFrame, url_col: str,
                       out_col: str = "url_norm") -> DataFrame:
    """Frame-level Catalyst canonicalizer — valid ONLY where is_plain_url
    holds (callers split-union with the Arrow UDF for the rest). The
    expressions are STAGED over intermediate columns, so each
    shared component (the fragment-stripped url, the four parse_url
    results, the split query pair) is evaluated once per row instead of
    once per reference: a Column-level expression tree copies its
    subtree at every reference (the '#'-stripped ``u`` feeds 4 parse_url
    calls plus the netloc/path/query logic, and each query pair ran
    ``split(p, '=', 2)`` twice), while an attribute reference in a later
    projection is free. CollapseProject keeps the stages separate
    because the produced attributes are non-cheap and multiply
    consumed — the same mechanism as dedup._with_tokens. Measured on the
    2M-URL wave input: 1.74 s → 0.57 s for the canonical projection
    against the unstaged single-expression form. The Column trees come
    from ``_canonical_jvm_cols`` (built once per column name, cached —
    construction itself was 0.3 s of py4j round-trips per call, inside
    every crawl wave)."""
    u, stage1, stage2, norm = _canonical_jvm_cols(url_col)
    return (
        df.withColumn("_cu", u)
        .withColumns(dict(stage1))
        .withColumns(dict(stage2))
        .withColumn(out_col, norm)
        .drop("_cu", "_scheme", "_auth", "_path", "_qraw", "_host", "_port", "_kv")
    )


@F.pandas_udf(T.StringType())
def resolve_and_canonicalize_pd(urls: pd.Series, bases: pd.Series) -> pd.Series:
    """Arrow-batched relative-URL resolution + canonicalization
    (response.urljoin analog, corp_list.py:33)."""
    return pd.Series(
        [canonicalize_url_py(u, b) for u, b in zip(urls, bases)], dtype="object"
    )


def url_hash_col(url_norm: Column) -> Column:
    """64-bit identity of a canonical URL — JVM-side xxhash64 (the
    north-star's '64-bit hash sized for 10^10 URLs')."""
    return F.xxhash64(url_norm)


def host_col(url_norm: Column) -> Column:
    """Host extracted from an already-canonical URL — pure Catalyst
    (parse_url is JVM-side), used for politeness partitioning."""
    return F.lower(F.parse_url(url_norm, F.lit("HOST")))


@_functools.lru_cache(maxsize=None)
def _url_norm_cols(url_col: str, base_col: str | None) -> tuple:
    """with_url_norm's reusable Column objects (plain-URL predicate, the
    two Arrow-UDF call columns, url_hash, host), built once per
    (url_col, base_col) — each is a handful of py4j round-trips that the
    crawl loop otherwise re-paid every wave (see _canonical_jvm_cols)."""
    plain = F.coalesce(is_plain_url(F.col(url_col)), F.lit(False))
    # a nondeterministic copy of the UDF: a filter on url_norm (the crawl
    # drops nulls) is then not pushed below this projection, where the
    # optimizer would evaluate the UDF a second time, in its own tasks
    udf = resolve_and_canonicalize_pd if base_col else canonicalize_url_pd
    args = [F.col(url_col)] + ([F.col(base_col)] if base_col else [])
    slow_norm = F.pandas_udf(udf.func, udf.returnType).asNondeterministic()(*args)
    return (
        plain,
        slow_norm,
        url_hash_col(F.col("url_norm")),
        host_col(F.col("url_norm")),
    )


def with_url_norm(df: DataFrame, url_col: str = "url",
                  base_col: str | None = None) -> DataFrame:
    """Attach url_norm / url_hash / host to a DataFrame of raw URLs.

    JVM first: rows whose URL is plain (is_plain_url — the
    ~all-of-the-web fast path; an absolute http(s) URL ignores its base,
    urljoin is the identity there) take the Catalyst expression; the rest
    round-trip through the Arrow UDF. Split-union instead of a when():
    Spark evaluates an extracted Python UDF on every row regardless of
    the branch it feeds, so a conditional expression would still pay the
    full Python cost. Every partition of the fallback branch still
    starts a Python task, rows or not; the crawl sizes a narrow wave's
    link partitions to one, so that is one Python task per wave instead
    of one per partition of the all-Arrow form (5 on the perfbench
    crawl), at ~0.2 s of CPU each whatever the row count. The fallback
    UDF is nondeterministic, so a caller's filter on url_norm stays
    above it and it runs once per row.
    Wide waves were already faster on this path (8M-URL wave 160k vs
    ~140k URLs/s against the all-Arrow form). The all-Arrow
    canonicalizer stays available as ``canonicalize_url_pd`` /
    ``resolve_and_canonicalize_pd`` (the byte-equality tests compare the
    two paths with them)."""
    plain, slow_norm, hash_c, host_c = _url_norm_cols(url_col, base_col)
    # staged frame-level canonicalizer (shared components evaluated
    # once per row — see with_canonical_jvm)
    fast = with_canonical_jvm(df.filter(plain), url_col)
    slow = df.filter(~plain).withColumn("url_norm", slow_norm)
    return (
        fast.unionByName(slow)
        .withColumn("url_hash", hash_c)
        .withColumn("host", host_c)
    )

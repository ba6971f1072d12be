"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 plus the training-data-pipeline operators (dedup /
similarity / text analysis); ``oracle_sql()`` gives the DuckDB-equivalent
SQL for everything SQL-expressible (hash-seeded approximate operators —
minhash/simhash/LSH — are rows-only checked and verified against exact
ground truth in tests/ instead).

Column names are aliased identically on both sides; floating aggregates
are rounded identically where cross-engine summation order could differ.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tbbid_scrapy_spark.operators.dedup import _spread, normalize_text


def _f(name: str, dtype: "T.DataType") -> "T.StructField":
    return T.StructField(name, dtype, True)


# Declared schemas of the driver-generated test tables (TESTDATA.md:
# deterministic generator, seed=42; verified byte-identical across every
# shipped SF). Passing an explicit schema skips the footer-inference job
# spark.read.parquet otherwise runs per call — measured 78 ms -> 13 ms
# per table read, and the bench's 16 queries re-read these tables ~25
# times inside their timed regions (guide §1: the measured cost was
# driver-side fixed latency, not scan work). `_t` validates the FIRST
# table it reads from each directory against this dict (one inferred
# read) and falls back to full inference for that directory if the
# generator ever drifts — schemas are metadata, not data: every query
# still computes from the parquet files.
_TESTDATA_SCHEMAS: dict[str, "T.StructType"] = {
    "customer": T.StructType([
        _f("c_custkey", T.LongType()), _f("c_name", T.StringType()),
        _f("c_nationkey", T.IntegerType()), _f("c_acctbal", T.DoubleType()),
        _f("c_mktsegment", T.StringType()),
    ]),
    "documents": T.StructType([
        _f("doc_id", T.LongType()), _f("text", T.StringType()),
        _f("lang", T.StringType()), _f("source", T.StringType()),
        _f("n_chars", T.LongType()),
    ]),
    "embeddings": T.StructType([
        _f("vec_id", T.LongType()),
        _f("embedding", T.ArrayType(T.FloatType(), True)),
        _f("label", T.IntegerType()),
    ]),
    "events": T.StructType([
        _f("event_id", T.LongType()), _f("ts", T.TimestampNTZType()),
        _f("user_id", T.LongType()), _f("event_type", T.StringType()),
        _f("value", T.DoubleType()), _f("props", T.StringType()),
    ]),
    "lineitem": T.StructType([
        _f("l_orderkey", T.LongType()), _f("l_partkey", T.LongType()),
        _f("l_suppkey", T.LongType()), _f("l_linenumber", T.IntegerType()),
        _f("l_quantity", T.DoubleType()), _f("l_extendedprice", T.DoubleType()),
        _f("l_discount", T.DoubleType()), _f("l_tax", T.DoubleType()),
        _f("l_returnflag", T.StringType()), _f("l_linestatus", T.StringType()),
        _f("l_shipdate", T.TimestampNTZType()),
    ]),
    "nation": T.StructType([
        _f("n_nationkey", T.IntegerType()), _f("n_name", T.StringType()),
        _f("n_regionkey", T.IntegerType()),
    ]),
    "orders": T.StructType([
        _f("o_orderkey", T.LongType()), _f("o_custkey", T.LongType()),
        _f("o_orderstatus", T.StringType()), _f("o_totalprice", T.DoubleType()),
        _f("o_orderdate", T.TimestampNTZType()),
        _f("o_orderpriority", T.StringType()),
    ]),
    "part": T.StructType([
        _f("p_partkey", T.LongType()), _f("p_name", T.StringType()),
        _f("p_brand", T.StringType()), _f("p_type", T.StringType()),
        _f("p_size", T.IntegerType()), _f("p_retailprice", T.DoubleType()),
    ]),
    "region": T.StructType([
        _f("r_regionkey", T.IntegerType()), _f("r_name", T.StringType()),
    ]),
    "supplier": T.StructType([
        _f("s_suppkey", T.LongType()), _f("s_name", T.StringType()),
        _f("s_nationkey", T.IntegerType()), _f("s_acctbal", T.DoubleType()),
    ]),
}

# Whether a data directory's files match the declared schemas — decided
# ONCE per sf_dir by inferring the first table read from it and
# comparing (bench.py probes its timed directory before timing). Keyed
# by directory: one directory's files never vouch for another's. A
# directory absent here is not yet probed; False = drift detected
# there, so every table from it is read with inference.
_SCHEMA_TRUSTED: dict[str, bool] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    declared = _TESTDATA_SCHEMAS.get(name)
    if declared is not None:
        trusted = _SCHEMA_TRUSTED.get(sf_dir)
        if trusted is None:
            trusted = spark.read.parquet(path).schema == declared
            _SCHEMA_TRUSTED[sf_dir] = trusted
        if trusted:
            return spark.read.schema(declared).parquet(path)
    return spark.read.parquet(path)


# scan partition count per (sf_dir, table): deterministic for a fixed
# file set + session config, so probe once per process instead of paying
# the ~40 ms .rdd round-trip inside every timed query build (metadata,
# like the schema dict above — the scan itself still runs per query).
_SCAN_PARTS: dict[tuple[str, str], int] = {}


def _ts(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan + spread: the fixture parquet files are ONE row group each,
    so every scan is a single task no matter how many cores the session
    has — a heavy projection or map-side aggregate over it runs
    single-threaded (guide: input skew — repartition right after the
    read). ``_spread`` is a no-op for inputs already at least half as
    wide as the session parallelism, so a genuinely wide (100 TB) scan
    passes through untouched. Only used by queries whose result is
    partitioning-invariant (aggregates / joins / fully tie-broken
    sorts)."""
    df = _t(spark, sf_dir, name)
    key = (sf_dir, name)
    n = _SCAN_PARTS.get(key)
    if n is None:
        from tbbid_scrapy_spark.operators.dedup import safe_num_partitions

        n = safe_num_partitions(df)
        if n is None:  # derived plan — cannot happen for a scan; guard
            return _spread(df)
        _SCAN_PARTS[key] = n
    return _spread(df, n=n)


def _disc_price() -> "F.Column":
    """Discounted line revenue with the LOAD-BEARING decimal(18,4)
    intermediate: double summation order differs between Spark and
    DuckDB (r1 hash-mismatch class); fixed-point partial sums are
    order-independent. One helper so a precision change can't reach
    some revenue queries and not others."""
    return (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )


# ---------------------------------------------------------------------------
# entry: flagship query (driver smoke check, sf0.001)
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Pricing-summary flagship (the reference's analytical entry point is
    plain GROUP BY SQL over its sink tables — test_person_performance.py;
    this is the same shape at TPC-H scale)."""
    return q_pricing_summary(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# relational / SURVEY §2 operator queries
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-A4 aggregate shapes: multi-agg GROUP BY with computed measures."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.sum(_disc_price()).cast("double").alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_groupby_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: GROUP BY + ORDER BY count DESC LIMIT 10 (deterministic tiebreak)
    — the reference's corp ranking (test_person_performance.py:47-53)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("l_suppkey"))
        .limit(10)
    )


def q_groupby_roles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: full group-by count (test_person_performance.py:61-66)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("event_type"))
    )


def q_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: duplicate-group detection via HAVING COUNT(*)>1
    (test_person_performance.py:105-111) on a normalized document-text
    key. The key is the 32-char normalized prefix (shared-opening
    detection) so the driver fixture actually collides — full-text
    normalization yields zero groups at sf0.01, which made the r2 oracle
    row vacuous; the full-text variant stays pinned non-vacuously on
    planted duplicates in tests/test_operators_dedup.py."""
    d = _ts(spark, sf_dir, "documents")
    norm = F.substring(normalize_text(F.col("text")), 1, 32)
    return (
        d.groupBy(norm.alias("norm_key"))
        .agg(F.count("*").alias("cnt"), F.min("doc_id").alias("first_doc"))
        .filter(F.col("cnt") > 1)
        .select("first_doc", "cnt")
        .orderBy("first_doc")
    )


def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: SELECT DISTINCT (company_emp_info.py:34-36)."""
    c = _t(spark, sf_dir, "customer")
    return c.select("c_mktsegment").distinct().orderBy("c_mktsegment")


def q_anti_join_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/S4: the DB-seeded anti-join (customers with no URGENT order —
    same shape as company_emp_info.py:31-43's NOT IN seed). The seed set
    is the urgent-priority order subset: every customer has SOME order in
    the driver fixture, so the unrestricted variant returned 0 rows and
    its r2 oracle row asserted nothing (203 rows at sf0.01 now)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    seed = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return (
        c.join(seed, "c_custkey", "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


def q_orphan_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: integrity anti-join — orders referencing no customer in the
    restricted dimension (BUILDING segment), test_person_performance.py:
    87-93. The unrestricted fixture is referentially intact (0 orphans →
    vacuous r2 oracle row); anti-joining against a segment-restricted dim
    keeps the operator shape and yields ~12k checked rows at sf0.01. To
    bound the output the query aggregates orphans per customer key."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    dim = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("o_custkey")
    )
    return (
        o.join(dim, "o_custkey", "left_anti")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("orphan_orders"), F.min("o_orderkey").alias("first_order"))
        .orderBy("o_custkey")
    )


def q_broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: broadcast dimension lookup (cities.json analog: nation→region),
    revenue rolled up by region name."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    dim = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    ).select(F.col("s_suppkey").alias("l_suppkey"), "r_name")
    return (
        li.join(F.broadcast(dim), "l_suppkey")
        .groupBy("r_name")
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"),
             F.count("*").alias("cnt"))
        .orderBy("r_name")
    )


def q_parent_child_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: parent-context propagation — parent columns carried onto
    aggregated children (meta-dict threading, bid_info.py:113-117)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    # decimal end-to-end through BOTH aggregation levels: a double in the
    # middle re-rounds differently across engines (r1 hash mismatch)
    child = li.groupBy("l_orderkey").agg(
        F.sum(_disc_price()).alias("order_rev"),
        F.count("*").alias("n_lines"),
    )
    return (
        o.join(child, o.o_orderkey == child.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("order_rev").cast("double").alias("revenue"),
            F.sum("n_lines").alias("lines"),
            F.count("*").alias("orders_cnt"),
        )
        .orderBy("o_orderpriority")
    )


def q_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6/W2: priority-queue-as-window-rank — top-3 orders per priority
    class (the frontier's per-host batch selection shape)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_orderpriority", "rk", "o_orderkey", "o_totalprice")
        .orderBy("o_orderpriority", "rk")
    )


def q_stride_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: first-of-group by fixed stride (candidate tables take cells 0
    and 3 of each 12-cell block — bid_info.py:289-300), expressed over
    lineitem line numbers."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    return (
        li.withColumn("pos", F.row_number().over(w) - 1)
        .filter(F.pmod(F.col("pos"), F.lit(12)).isin(0, 3))
        .select("l_orderkey", "l_linenumber", "pos")
        .orderBy("l_orderkey", "pos")
    )


def q_recent_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: ORDER BY ts DESC LIMIT 5 (test_person_performance.py:30-32)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.orderBy(F.col("ts").desc(), F.col("event_id"))
        .limit(5)
        .select("event_id", "ts", "event_type")
    )


def q_explode_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: multi-value split + explode (company name ';' splitting,
    company_emp_info.py:62-76) — word frequencies per language."""
    d = _ts(spark, sf_dir, "documents")
    words = F.split(normalize_text(F.col("text")), " ")
    return (
        d.select("lang", F.explode(words).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("lang", "word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "lang", "word")
        .limit(50)
    )


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: JSON payload parsing (bid_info.py:80) — props field k, summed
    per event type."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").try_cast("int"))
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count("*").alias("cnt"))
        .orderBy("event_type")
    )


def q_section_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 (digit branch): section-number extraction + %03d formatting over
    synthesized titles (Chinese branch is pinned by pytest — needs the
    numeral UDF which SQL can't express)."""
    d = _t(spark, sf_dir, "documents")
    title = F.concat(F.lit("项目("), (F.col("doc_id") % 200).cast("string"), F.lit("标段)"))
    sec = F.format_string("%03d", F.regexp_extract(title, r"项目\((\d+)标段\)", 1).cast("int"))
    return (
        d.select(F.col("doc_id"), sec.alias("section_id"))
        .groupBy("section_id")
        .agg(F.count("*").alias("cnt"))
        .orderBy("section_id")
    )


def q_multi_format_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F18: multi-format datetime parsing (winner_bid.py:69-78) — dates
    re-rendered in 4 formats by key, parsed back; count per parsed day."""
    o = _t(spark, sf_dir, "orders")
    m = F.pmod(F.col("o_orderkey"), F.lit(4))
    rendered = (
        F.when(m == 0, F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"))
        .when(m == 1, F.date_format("o_orderdate", "yyyy-MM-dd"))
        .when(m == 2, F.date_format("o_orderdate", "yyyy/MM/dd HH:mm:ss"))
        .otherwise(F.date_format("o_orderdate", "yyyy/MM/dd"))
    )
    from tbbid_scrapy_spark.functions.extract import multi_format_timestamp

    parsed = multi_format_timestamp(rendered)
    return (
        o.select(F.date_format(parsed, "yyyy-MM-dd").alias("d"))
        .groupBy("d")
        .agg(F.count("*").alias("cnt"))
        .orderBy("d")
        .limit(100)
    )


def q_date_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F19/P6: date-cutoff predicate relative to max(ts) (corp_list.py's
    7-day window, parameterized as data-relative for determinism)."""
    ev = _t(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("mx"))
    return (
        ev.crossJoin(mx)
        .filter(F.col("ts") > F.col("mx") - F.expr("INTERVAL 7 DAYS"))
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
        .orderBy("event_type")
    )


def q_pagination_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: page-bounded fan-out — total//limit+1 pages pre-materialized
    as URL rows via sequence+explode (national_bid_list.py:75-87)."""
    ev = _t(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(F.count("*").alias("total"))
    pages = per.withColumn("n_pages", F.floor(F.col("total") / 100) + 1).select(
        "event_type",
        F.explode(F.sequence(F.lit(1), F.col("n_pages"))).alias("page"),
    )
    return pages.withColumn(
        "url",
        F.format_string("https://api.example.org/list?type=%s&page=%d", "event_type", "page"),
    ).orderBy("event_type", "page")


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11/J7: MERGE upsert semantics — update-else-insert keyed on the
    natural key (bidSaver.py's existence-check upsert, set-oriented)."""
    from tbbid_scrapy_spark.sources.sink import merge_upsert

    o = _t(spark, sf_dir, "orders")
    target = o.filter(F.pmod("o_orderkey", F.lit(3)) != 0).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    source = o.filter(F.pmod("o_orderkey", F.lit(2)) == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        F.lit("U").alias("o_orderstatus"),
    )
    return merge_upsert(target, source, ["o_orderkey"]).orderBy("o_orderkey")


def q_counter_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: counter-increment-on-conflict (bid_count += batch count,
    CompanyEmployee.py:121-122) — pre-aggregate then merge-add."""
    from tbbid_scrapy_spark.sources.sink import merge_upsert

    o = _t(spark, sf_dir, "orders")
    target = (
        o.filter(F.col("o_orderkey") <= 1000)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("bid_count"))
    )
    incoming = (
        o.filter(F.col("o_orderkey") > 1000)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("bid_count"))
    )
    merged = merge_upsert(
        target,
        incoming,
        ["o_custkey"],
        on_matched={"bid_count": lambda c: F.col(f"t.{c}") + F.col(f"s.{c}")},
    )
    return merged.orderBy("o_custkey")


def q_frontier_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6+C3+C4 under the rows+schema+hash gate: single-wave frontier
    selection — robots longest-prefix filter (apply_robots_joined) then
    per-host politeness rank + budget cut (politeness_rank, the two-phase
    salted path) over a static pending table derived deterministically
    from `orders`. The oracle is the equivalent DuckDB window query, so
    any divergence in robots precedence, budget arithmetic, or the salted
    rank's claimed equivalence to the naive window breaks the row match.

    Pending-table derivation (mirrored verbatim in the oracle):
      host      = h(o_custkey mod 97).example.org
      path      = /admin/public/… (key%11==0) | /admin/x/… (key%7==0)
                  | /cat/…
      priority  = o_orderkey mod 5 ; wave = mod 3 ; seq = o_orderkey
    Robots: every host allows '/', disallows '/admin'; EVEN hosts add a
    longer '/admin/public' allow rule — longest-prefix-wins decides.
    Budgets: 3 + host mod 4 per wave. seq is unique, so the rank order
    (priority desc, wave, seq) is total and the url_hash tiebreak never
    fires — cross-engine determinism without hashing parity.
    (Reference scheduler semantics: settings.py:23-30.)"""
    from tbbid_scrapy_spark.operators.frontier import (
        apply_robots_joined,
        host_budgets,
        politeness_rank,
        robots_rules,
    )

    o = _t(spark, sf_dir, "orders")
    hostn = F.pmod(F.col("o_custkey"), F.lit(97))
    key = F.col("o_orderkey")
    path = (
        F.when(F.pmod(key, F.lit(11)) == 0,
               F.concat(F.lit("/admin/public/"), key.cast("string")))
        .when(F.pmod(key, F.lit(7)) == 0,
              F.concat(F.lit("/admin/x/"), key.cast("string")))
        .otherwise(F.concat(F.lit("/cat/"), key.cast("string")))
    )
    host = F.format_string("h%d.example.org", hostn)
    pending = o.select(
        host.alias("host"),
        F.concat(F.lit("https://"), host, path).alias("url_norm"),
        F.pmod(key, F.lit(5)).alias("priority"),
        F.pmod(key, F.lit(3)).alias("wave"),
        key.alias("seq"),
        key.alias("url_hash"),  # salting/tiebreak column; never decisive
    )
    robots = spark.createDataFrame(
        [(f"h{i}.example.org", "/", True) for i in range(97)]
        + [(f"h{i}.example.org", "/admin", False) for i in range(97)]
        + [(f"h{i}.example.org", "/admin/public", True) for i in range(0, 97, 2)],
        "host string, path_prefix string, allow boolean",
    )
    politeness = spark.createDataFrame(
        [(f"h{i}.example.org", 3 + i % 4) for i in range(97)],
        "host string, budget_per_wave int",
    )
    allowed = apply_robots_joined(pending, robots_rules(robots))
    selected = politeness_rank(allowed, host_budgets(politeness), default_budget=4,
                               salt_buckets=8)
    return selected.select("host", "seq", "priority", "url_norm").orderBy(
        "host", "seq"
    )


def q_politeness_clock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 analytics under the oracle gate: the simulated politeness
    clock (plans/clock.simulated_clock) over a fetch log derived
    deterministically from `orders` — per wave, duration = max over
    hosts of ceil(n / budget) × delay, the reference's
    DOWNLOAD_DELAY × CONCURRENT_REQUESTS_PER_DOMAIN timeline
    (settings.py:26,29). Oracle mirrors the derivation and the ceil
    arithmetic verbatim; hosts without a politeness row exercise the
    default (4, 2.0) fallback path.

    fetch_log: host = h(o_custkey mod 53), wave = o_orderkey mod 4.
    politeness rows exist only for EVEN hosts: budget 2 + host mod 5,
    delay 0.5·(1 + host mod 3)."""
    from tbbid_scrapy_spark.plans.clock import simulated_clock

    o = _t(spark, sf_dir, "orders")
    hostn = F.pmod(F.col("o_custkey"), F.lit(53))
    host = F.format_string("h%d.example.org", hostn)
    fetch_log = o.select(
        F.pmod(F.col("o_orderkey"), F.lit(4)).cast("int").alias("wave"),
        F.concat(
            F.lit("https://"), host, F.lit("/cat/"),
            F.col("o_orderkey").cast("string"),
        ).alias("url_norm"),
    )
    politeness = spark.createDataFrame(
        [(f"h{i}.example.org", 2 + i % 5, 0.5 * (1 + i % 3))
         for i in range(0, 53, 2)],
        "host string, budget_per_wave int, delay_s double",
    )
    return (
        simulated_clock(fetch_log, politeness)
        .select(
            "wave",
            F.col("fetches").cast("long").alias("fetches"),
            F.round(F.col("sim_duration_s"), 3).alias("sim_s"),
        )
        .orderBy("wave")
    )


# status palette for q_retry_settle: every branch of the settle state
# machine — 200 (fetched), 404 (immediate fail), the full RETRYABLE set
# (403/5xx/408/429 — retried until MAX_ATTEMPTS), and non-retryable
# errors a real HttpTransport produces (401/405/410/451 → immediate
# fail). The oracle hardcodes this list AND the reference retry policy
# (RETRY_TIMES=3), so a drift in either breaks the hash match.
_RETRY_STATUSES = [
    200, 404, 403, 500, 502, 503, 504, 522, 524, 408, 429, 401, 405, 410, 451,
]


def q_retry_settle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 under the oracle gate: the frontier's retry/settle state
    machine (plans/crawl.retry_settle_exprs — the EXACT production
    expressions `_run_wave_body` applies) over a fetch-result table
    derived deterministically from `orders`. Scrapy-parity semantics
    (reference settings.py RETRY_TIMES=3, RETRY_HTTP_CODES): 404 and
    non-retryable statuses fail immediately with attempts unchanged; a
    retryable status increments attempts and fails once total fetches
    reach 4 (first attempt + 3 retries), else re-enters pending.

    fetch result: status = palette[o_orderkey mod 15] (all 15 branches),
    attempts = o_custkey mod 5 (0..4 — includes the at/over-limit edge).
    Output: counts per (last_status, state, attempts_after)."""
    from tbbid_scrapy_spark.plans.crawl import retry_settle_exprs

    o = _t(spark, sf_dir, "orders")
    palette = F.array(*[F.lit(s) for s in _RETRY_STATUSES])
    fetched = o.select(
        F.element_at(
            palette, (F.pmod(F.col("o_orderkey"), F.lit(15)) + 1).cast("int")
        ).alias("status"),
        F.pmod(F.col("o_custkey"), F.lit(5)).cast("int").alias("attempts"),
    )
    state_expr, attempts_expr = retry_settle_exprs()
    return (
        fetched.select(
            F.col("status").alias("last_status"),
            state_expr.alias("state"),
            attempts_expr.alias("attempts_after"),
        )
        .groupBy("last_status", "state", "attempts_after")
        .agg(F.count("*").alias("n"))
        .orderBy("last_status", "state", "attempts_after")
    )


def _candidate_spans(spark: SparkSession, sf_dir: str, marker: str,
                     key_mod: int) -> DataFrame:
    """Synthetic extracted-span table for the §2.9 parse-program gates,
    derived deterministically from `lineitem` (1 order in `key_mod`
    kept, 4 cells per line → multi-block docs). Cell text is numeric
    when (orderkey+offset) % 3 == 0 so to_number/is_number exercise
    both branches; offsets are unique per doc so the production
    row_number-over-offset position assignment is a total order. The
    derivation is mirrored verbatim in the DuckDB oracles."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.pmod(F.col("l_orderkey"), F.lit(key_mod)) == 0
    )
    key = F.col("l_orderkey")
    spans = li.select(
        key, F.col("l_linenumber"),
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("e"),
    ).withColumn("offset", (F.col("l_linenumber") * 4 + F.col("e")).cast("int"))
    off = F.col("offset")
    return spans.select(
        F.format_string(
            "https://h%d.example.org" + marker + "%d",
            F.pmod(key, F.lit(7)), key,
        ).alias("doc_id"),
        F.lit("table_cell").alias("kind"),
        F.when(
            F.pmod(key + off, F.lit(3)) == 0, (key + off).cast("string")
        ).otherwise(
            F.format_string("公司%d-%d", key, off)
        ).alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        off,
    )


def q_candidate_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1+W2+§2.9 under the oracle gate: the PRODUCTION candidates-page
    parse program (plans/items.candidate_ranks — row_number position
    assignment, 12-cell stride blocks, slots 0/3/6 → company/manager/
    amount, rank literal 1, %03d section ids, bid_info.py:289-318) over
    a span table derived deterministically from `lineitem`. The DuckDB
    oracle re-derives the spans and mirrors the stride arithmetic with
    a naive window query, so a drift in position assignment, block
    math, slot selection, or the numeric parse breaks rows+schema+hash."""
    from tbbid_scrapy_spark.plans.items import candidate_ranks

    spans = _candidate_spans(spark, sf_dir, "/candidates/", 37)
    return candidate_ranks(spans).orderBy("project_id", "section_id")


def q_lot_ctl_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 under the oracle gate: the PRODUCTION header-position scan
    (plans/items.lot_control_amounts — skip the 2-cell header, odd
    cells of the pair area are the 控制价 column, first float-castable
    value wins, bid_info.py:195-210) over spans derived from `lineitem`.
    Docs whose amount column holds no numeric cell must drop out on
    both sides; the first-numeric selection is non-trivial because
    only every third cell text is numeric."""
    from tbbid_scrapy_spark.plans.items import lot_control_amounts

    spans = _candidate_spans(spark, sf_dir, "/bids/", 41)
    return lot_control_amounts(spans).orderBy("project_id")


def q_bid_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 bids-page parse under the oracle gate: the PRODUCTION
    bid_items (plans/items — skip the 2-cell header, (bidder, amount)
    cell pairing by (pos-2)//2 / (pos-2)%2, numeric parse with NULL on
    malformed amounts, bid_pos carried) over the same derived span
    shape as the candidates gate (marker /bids/, 1-in-53 orders)."""
    from tbbid_scrapy_spark.plans.items import bid_items

    spans = _candidate_spans(spark, sf_dir, "/bids/", 53)
    return bid_items(spans).orderBy("project_id", "bid_pos")


def q_corp_detail_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 corp-detail parse under the oracle gate: the PRODUCTION
    corp_detail_items (plans/corp_items — label-sibling extraction with
    LAST-occurrence-wins on duplicate labels, 资质条目 keyword filter +
    distinct + sort, 其他 FIRST-by-offset, absent labels → NULL, corp
    code from the url query param) over a fixed 10-cell layout derived
    from `orders`: one doc in three repeats the 法人姓名 label (the
    second value must win), one in two adds a keyword-bearing
    qualification cell (the non-keyword 劳务分包 cell must be
    filtered), one in five adds a second 其他 cell (the first must
    win), and 经营地址/报送有效期 are absent everywhere (NULL path).
    Qualifications are emitted as (size, joined) scalars."""
    from tbbid_scrapy_spark.plans.corp_items import corp_detail_items

    o = _t(spark, sf_dir, "orders").filter(
        F.pmod(F.col("o_orderkey"), F.lit(21)) == 0
    )
    key = F.col("o_orderkey")
    spans = o.select(key, F.explode(F.sequence(F.lit(0), F.lit(9))).alias("e"))
    off = F.col("e")
    ks = key.cast("string")
    text = (
        F.when(off == 0, F.lit("法人姓名"))
        .when(off == 1, F.concat(F.lit("P"), ks))
        .when(off == 2,
              F.when(F.pmod(key, F.lit(3)) == 0, F.lit("法人姓名"))
              .otherwise(F.lit("备注")))
        .when(off == 3,
              F.when(F.pmod(key, F.lit(3)) == 0, F.concat(F.lit("Q"), ks))
              .otherwise(F.lit("x")))
        .when(off == 4, F.lit("注册资本"))
        .when(off == 5, F.concat(ks, F.lit("万")))
        .when(off == 6,
              F.when(F.pmod(key, F.lit(2)) == 0,
                     F.lit("资质条目：市政公用工程施工总承包贰级"))
              .otherwise(F.lit("资质条目：劳务分包")))
        .when(off == 7, F.lit("资质条目：房屋工程施工"))
        .when(off == 8, F.concat(F.lit("其他：甲"), ks))
        .otherwise(
            F.when(F.pmod(key, F.lit(5)) == 0, F.concat(F.lit("其他：乙"), ks))
            .otherwise(F.lit("备注2")))
    )
    spans = spans.select(
        F.format_string(
            "https://corp.example.org/corp/detail?corpcode=C%d", key
        ).alias("doc_id"),
        F.lit("table_cell").alias("kind"),
        text.alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        off.cast("int").alias("offset"),
    )
    out = corp_detail_items(spans)
    return out.select(
        "corp_code", "corp", "corp_asset", "reg_address", "valid_date",
        F.size("qualifications").alias("qual_n"),
        F.array_join("qualifications", "|").alias("qual_joined"),
        "others",
    ).orderBy("corp_code")


def q_stage_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 stage parse + F12 under the oracle gate: the PRODUCTION
    stage_project_ids (plans/items — 项目编号 cell selection, min_by
    offset when a page carries several, split-on-'：' index 1) over
    spans derived from `orders`. One doc in three has NO 编号 cell at
    offset 0 but TWO at offsets 1/2 (min_by must pick offset 1, and
    the absent-at-0 branch pins that the pick is by offset, not by
    value); one doc in seven embeds a second '：' in the value (the
    split must keep only segment [1])."""
    from tbbid_scrapy_spark.plans.items import stage_project_ids

    o = _t(spark, sf_dir, "orders").filter(
        F.pmod(F.col("o_orderkey"), F.lit(19)) == 0
    )
    key = F.col("o_orderkey")
    spans = o.select(key, F.explode(F.sequence(F.lit(0), F.lit(2))).alias("e"))
    off = F.col("e")
    tag = F.when(
        F.pmod(key, F.lit(7)) == 0,
        F.concat(F.lit("项目编号：XZ"), key.cast("string"), F.lit("：分段")),
    ).otherwise(F.concat(F.lit("项目编号：XZ"), key.cast("string")))
    text = (
        F.when((off == 0) & (F.pmod(key, F.lit(3)) != 0), tag)
        .when(off == 0, F.lit("其他：x"))
        .when((off == 1) & (F.pmod(key, F.lit(3)) == 0),
              F.concat(F.lit("项目编号：DUPA"), key.cast("string")))
        .when(off == 1, F.lit("备注：y"))
        .when((off == 2) & (F.pmod(key, F.lit(3)) == 0),
              F.concat(F.lit("项目编号：DUPB"), key.cast("string")))
        .otherwise(F.lit("备注2"))
    )
    spans = spans.select(
        F.format_string(
            "https://h%d.example.org/project/P%d", F.pmod(key, F.lit(7)), key
        ).alias("doc_id"),
        F.lit("table_cell").alias("kind"),
        text.alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        off.cast("int").alias("offset"),
    )
    return stage_project_ids(spans).orderBy("stage_url")


def q_notice_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5-F9 under the oracle gate: the PRODUCTION notice analysis
    (functions/html.analyse_notice_cols — Arrow-batched <script> strip
    followed by the funding / duration / qualification / profession
    Catalyst regexes) over HTML bodies synthesized deterministically
    from `orders`. The script fragment carries a DECOY 资金来源 before
    the real one, so the strip is load-bearing (an unstripped body
    extracts the decoy and breaks the hash); every extractor exercises
    its match, no-match, paren-strip and multi-match branches. The
    DuckDB oracle re-derives the bodies and mirrors the regexes in RE2
    (no \\x0B in the fixture, so Java-\\s ≡ RE2-\\s here); comparing
    notice_content pins the strip byte-for-byte cross-engine."""
    from tbbid_scrapy_spark.functions.html import analyse_notice_cols

    o = _t(spark, sf_dir, "orders").filter(
        F.pmod(F.col("o_orderkey"), F.lit(23)) == 0
    )
    key = F.col("o_orderkey")
    frag_script = F.lit(
        '<script type="text/JavaScript">var x="资金来源：假的数据";</script>'
    )
    m4, m3, m5, m2 = (F.pmod(key, F.lit(n)) for n in (4, 3, 5, 2))
    frag_funding = (
        F.when(m4 == 0, F.lit("<p>资金来源：政府投资。</p>"))
        .when(m4 == 1, F.lit("<p>资金来自：企业自筹（详见附件）拨款，备注</p>"))
        .when(m4 == 2, F.lit(""))
        .otherwise(F.lit("<p>资金来源： 自筹</p>"))
    )
    frag_duration = (
        F.when(m3 == 0, F.lit("<p>计划工期：154日。</p>"))
        .when(m3 == 1, F.lit("<p>工期：一百二十天（120日）竣工</p>"))
        .otherwise(F.lit(""))
    )
    frag_qual = (
        F.when(
            m5 == 0,
            F.lit("<p>资质要求：房屋建筑工程施工总承包壹级，"
                  "市政公用工程施工总承包三级。</p>"),
        )
        .when(m5 == 1, F.lit("<p>资质：公路工程施工总承包特级。</p>"))
        .otherwise(F.lit(""))
    )
    frag_prof = (
        F.when(m2 == 0, F.lit("<p>项目负责人须一级建造师执业。</p>"))
        .otherwise(F.lit("<p>须持有建造师证书。</p>"))
    )
    body = F.concat(
        F.lit("<html><body>"), frag_script, frag_funding, frag_duration,
        frag_qual, frag_prof, F.lit("</body></html>"),
    )
    cols = analyse_notice_cols(body)
    return o.select(
        key.alias("k"),
        cols["notice_content"].alias("notice_content"),
        cols["construction_funds"].alias("construction_funds"),
        cols["project_duration"].alias("project_duration"),
        F.array_join(cols["company_req"], ",").alias("company_req"),
        cols["person_req"].alias("person_req"),
    ).orderBy("k")


def q_section_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 section auto-create under the oracle gate: the PRODUCTION
    derive_sections (plans/relational — bid-count roll-up, double
    full-outer combine of bid/control-price/rank evidence on
    (project_id, section_id), rank==1 filter, W3 winning→status
    mapping) over evidence frames derived from `lineitem` with
    DIFFERENT moduli per source (29/31/37), so bid-only, ctl-only and
    rank-only sections all exist and every outer-join branch carries
    rows. The rank input includes rank=2 rows the production filter
    must drop; the DuckDB oracle models only rank 1."""
    from tbbid_scrapy_spark.plans.relational import derive_sections

    li = _t(spark, sf_dir, "lineitem")
    key = F.col("l_orderkey")
    pid = key.cast("string")
    bids = li.filter(F.pmod(key, F.lit(29)) == 0).select(
        pid.alias("project_id"),
        F.format_string("%03d", F.pmod(F.col("l_linenumber"), F.lit(3)) + 1)
        .alias("section_id"),
        F.concat(F.lit("公司"), F.pmod(F.col("l_partkey"), F.lit(100))
                 .cast("string")).alias("bidder_name"),
        F.lit(None).cast("double").alias("bid_amount"),
    )
    lot = li.filter(
        (F.pmod(key, F.lit(31)) == 0) & (F.col("l_linenumber") == 1)
    ).select(
        pid.alias("project_id"),
        F.format_string("%03d", F.pmod(key, F.lit(3)) + 1).alias("section_id"),
        (F.pmod(key, F.lit(1000)).cast("double") + 0.5).alias("lot_ctl_amt"),
    )
    ranks = li.filter(
        (F.pmod(key, F.lit(37)) == 0) & (F.col("l_linenumber") <= 2)
    ).select(
        pid.alias("project_id"),
        F.format_string("%03d", F.col("l_linenumber")).alias("section_id"),
        F.concat(F.lit("公司"), F.pmod(F.col("l_suppkey"), F.lit(100))
                 .cast("string")).alias("bidder_name"),
        F.col("l_linenumber").alias("rank"),
        F.pmod(key, F.lit(500)).cast("double").alias("win_amt"),
    )
    out = derive_sections({"bid": bids, "lot_ctl": lot, "bid_rank": ranks})
    return out.select(
        "project_id", "section_id", "bid_size", "lot_ctl_amt",
        "winning_bidder", "winning_amount", "status",
    ).orderBy("project_id", "section_id")


def q_employee_stride(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 emp_list parse under the oracle gate: the PRODUCTION
    employee_rows (plans/corp_items — pagination-link exclusion, dense
    re-position, complete-7-span-group guard, slot 1/2/3/5/6 extraction,
    whitespace-name drop, null-safe 、-split, person_id from the slot-1
    link) over spans derived from `lineitem`. The span mix interleaves
    table_cells with links (some of them pageIndex pagination links that
    must be excluded BEFORE positions are assigned), so a drift in the
    filter-then-position order shifts every slot and breaks the hash.
    `major` is emitted as (size, joined) scalars — same information,
    no cross-engine array-repr dependence."""
    from tbbid_scrapy_spark.plans.corp_items import employee_rows

    li = _t(spark, sf_dir, "lineitem").filter(
        F.pmod(F.col("l_orderkey"), F.lit(43)) == 0
    )
    key = F.col("l_orderkey")
    spans = li.select(
        key, F.col("l_linenumber"),
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("e"),
    ).withColumn("offset", (F.col("l_linenumber") * 4 + F.col("e")).cast("int"))
    off = F.col("offset")
    is_link = F.pmod(off, F.lit(3)) == 0
    media = F.when(
        is_link & (F.pmod(off, F.lit(9)) == 0),
        F.format_string(
            "https://corp.example.org/corp/emps?corpcode=C%d&pageIndex=2", key
        ),
    ).when(
        is_link,
        F.format_string(
            "https://corp.example.org/persondetail?id=P%d-%d", key, off
        ),
    )
    text = F.when(F.pmod(off, F.lit(13)) == 0, F.lit(" ")).otherwise(
        F.format_string("员%d-%d、备%d", key, off, F.pmod(off, F.lit(5)))
    )
    spans = spans.select(
        F.format_string(
            "https://h%d.example.org/corp/emps?corpcode=C%d",
            F.pmod(key, F.lit(7)), key,
        ).alias("doc_id"),
        F.when(is_link, F.lit("link")).otherwise(F.lit("table_cell")).alias("kind"),
        text.alias("text"),
        media.alias("media_ref"),
        off,
    )
    out = employee_rows(spans)
    return out.select(
        "corp_code", "name", "cert_code", "role", "valid_date",
        F.size("major").alias("major_n"),
        F.array_join("major", "|").alias("major_joined"),
        "person_id",
    ).orderBy("corp_code", "name")


def q_security_stride(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 under the oracle gate: the PRODUCTION security_rows
    (plans/corp_items — complete-7-cell-group guard, slot 1/4/6
    extraction, cert B→安全员B / C→安全员C / else-drop classification,
    whitespace-name drop) over spans derived from `lineitem`. Cert text
    cycles B/C/X forms so all three classification branches carry rows;
    truncated trailing groups must emit nothing on both sides (the
    guard this round's review added)."""
    from tbbid_scrapy_spark.plans.corp_items import security_rows

    li = _t(spark, sf_dir, "lineitem").filter(
        F.pmod(F.col("l_orderkey"), F.lit(47)) == 0
    )
    key = F.col("l_orderkey")
    spans = li.select(
        key, F.col("l_linenumber"),
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("e"),
    ).withColumn("offset", (F.col("l_linenumber") * 4 + F.col("e")).cast("int"))
    off = F.col("offset")
    m4 = F.pmod(key + off, F.lit(4))
    text = F.when(F.pmod(off, F.lit(13)) == 0, F.lit("")).otherwise(
        F.when(m4 == 0, F.format_string("B-%d", off))
        .when(m4 == 1, F.format_string("C-%d", off))
        .when(m4 == 2, F.format_string("X-%d", off))
        .otherwise(F.format_string("安%d-%d", key, off))
    )
    spans = spans.select(
        F.format_string(
            "https://h%d.example.org/corp/security?corpcode=C%d",
            F.pmod(key, F.lit(7)), key,
        ).alias("doc_id"),
        F.lit("table_cell").alias("kind"),
        text.alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        off,
    )
    return security_rows(spans).orderBy("corp_code", "name", "cert_code")


def q_dense_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frontier's global enqueue counter under the oracle gate: the
    PRODUCTION two-pass distributed dense index (plans/seq.dense_index —
    range repartition + per-partition offsets + monotonic-id low bits,
    the window-free replacement for a single-task global row_number)
    over `orders` ordered by (o_totalprice desc, o_orderkey). The DuckDB
    oracle IS the naive global window, so any drift in the offset
    arithmetic, partition accounting, or the claimed equivalence to
    row_number breaks rows+schema+hash on all ~15k rows."""
    from tbbid_scrapy_spark.plans.seq import dense_index

    o = _t(spark, sf_dir, "orders")
    out, _total, _handle = dense_index(
        o.select("o_orderkey", "o_totalprice"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        "seq",
        0,
    )
    return out.select("o_orderkey", "seq").orderBy("seq")


def q_listing_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+P2+P3 under the oracle gate: the PRODUCTION listing parse
    (plans/items.listing_projects — /project/ link selection, 监理/
    造价咨询 anti-keyword filter, 招标公告 suffix trim, and the
    deterministic first-sighting dedup: min_by over the (doc_id,
    offset) total order) over listing spans derived from `orders`.
    Each /project/<pid> target is sighted ~30× across listing pages
    with per-sighting distinct anchor text, so the kept title pins the
    dedup's ordering semantics; relative hrefs exercise the
    resolve-and-canonicalize path (urljoin against the listing URL)."""
    from tbbid_scrapy_spark.plans.items import listing_projects

    o = _t(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    pid = F.pmod(key, F.lit(500))
    base = F.format_string("项目%d号第%d次", pid, key)
    text = (
        F.when(F.pmod(key, F.lit(11)) == 0, F.concat(base, F.lit("监理")))
        .when(F.pmod(key, F.lit(13)) == 0, F.concat(base, F.lit("造价咨询")))
        .when(F.pmod(key, F.lit(3)) == 0, F.concat(base, F.lit("招标公告")))
        .otherwise(base)
    )
    media_ref = F.when(
        F.pmod(key, F.lit(17)) == 0,
        F.concat(F.lit("/other/"), pid.cast("string")),
    ).otherwise(F.concat(F.lit("/project/"), pid.cast("string")))
    spans = o.select(
        F.format_string(
            "https://h%d.example.org/listing?page=%d",
            F.pmod(key, F.lit(5)), F.pmod(key, F.lit(40)),
        ).alias("doc_id"),
        F.lit("link").alias("kind"),
        text.alias("text"),
        media_ref.alias("media_ref"),
        key.cast("int").alias("offset"),
    )
    return listing_projects(spans).orderBy("stage_url")


# ---------------------------------------------------------------------------
# training-data pipeline operators
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy (keeper id + group size)."""
    from tbbid_scrapy_spark.operators.dedup import exact_dedup

    d = _ts(spark, sf_dir, "documents")
    return (
        exact_dedup(d)
        .select("keep_doc_id", "dup_count")
        .orderBy("keep_doc_id")
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (τ=0.5), computed as
    df-capped candidate generation + per-pair exact verify (the default
    max_shingle_df=1000 guard is ON — it never binds at fixture scale, so
    the uncapped oracle SQL still matches exactly)."""
    from tbbid_scrapy_spark.operators.dedup import ngram_jaccard_pairs

    d = _ts(spark, sf_dir, "documents")
    return (
        ngram_jaccard_pairs(d, n=3, threshold=0.5)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup: banded-LSH candidates verified by the TRUE
    n-gram Jaccard — so the output is engine-independent and the exact
    all-pairs SQL is a genuine oracle (band recall over every qualifying
    pair is pinned at these fixtures by tests/test_operators_dedup.py)."""
    from tbbid_scrapy_spark.operators.dedup import minhash_lsh_pairs

    d = _ts(spark, sf_dir, "documents")
    return (
        minhash_lsh_pairs(d, n=3, num_hashes=32, bands=8, threshold=0.5,
                          verify="exact")
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: shingle-feature simhash → rotated-window band
    candidates → exact-Jaccard verify (same oracle as the exact
    computation; candidate recall pinned in tests)."""
    from tbbid_scrapy_spark.operators.dedup import simhash_verified_pairs

    d = _ts(spark, sf_dir, "documents")
    return (
        simhash_verified_pairs(d, n=3, threshold=0.5)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality features (length/punct/stopword ratios)."""
    d = _ts(spark, sf_dir, "documents")
    from tbbid_scrapy_spark.operators.text import (
        quality_features, tokens, words_of,
    )

    c = F.col("text")
    # token array materialized once (words_of) — the single-projection
    # form embedded a split subtree per consuming feature (~4x/row)
    staged = d.select("doc_id", "text", words_of(c).alias("_words"))
    feats = quality_features(c, words="_words")
    return staged.select(
        "doc_id",
        feats["n_words"].alias("n_words"),
        F.size(tokens(c)).alias("n_tokens"),
        F.round(feats["punct_ratio"], 6).alias("punct_ratio"),
        F.round(feats["stopword_ratio"], 6).alias("stopword_ratio"),
    ).orderBy("doc_id")


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite [0,1] quality score (operators/text.quality_score) —
    the stopword/punct/word-length heuristic as a standalone driver
    oracle (previously oracle-checked only through corpus_filter's
    gate, which exercises the threshold, not the score values).
    Quantized ×1e4 → BIGINT per the cross-engine float rule."""
    from tbbid_scrapy_spark.operators.text import quality_score, words_of

    d = _ts(spark, sf_dir, "documents")
    staged = d.select("doc_id", "text", words_of(F.col("text")).alias("_words"))
    return staged.select(
        "doc_id",
        F.round(quality_score(F.col("text"), words="_words") * 10000)
        .cast("long").alias("q4"),
    ).orderBy("doc_id")


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic vs the table's lang label: confusion counts."""
    from tbbid_scrapy_spark.operators.text import (
        lang_best, lang_from_best, words_of,
    )

    d = _ts(spark, sf_dir, "documents")
    # tokenization and the 4-language argmax each materialized once per
    # row (the plain lang_id(col) form scored every language twice —
    # once per field read of the best struct)
    return (
        d.select("lang", words_of(F.col("text")).alias("_words"))
        .select("lang", lang_best("_words").alias("_best"))
        .select("lang", lang_from_best(F.col("_best")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("cnt"))
        .orderBy("lang", "lang_pred")
    )


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k ANN baseline (ranks only — float totals
    verified to 1e-6 via rounded cos in the oracle)."""
    from tbbid_scrapy_spark.operators.similarity import cosine_topk

    # cast to double BEFORE scoring, like every other embedding query:
    # the oracle casts to DOUBLE[] first, and float32 per-element
    # products leave only ~3e-7 of margin under the round(cos, 6) gate
    emb = _ts(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    queries = emb.filter(F.col("vec_id") < 8)
    return (
        cosine_topk(emb, queries, k=5)
        .select("query_id", "rank", "vec_id", F.round("cos", 6).alias("cos"))
        .orderBy("query_id", "rank")
    )


def q_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus filter (operators/text.corpus_keep):
    quality gate → language gate (en) → exact dedup keep-min → near-dup
    drop (exact Jaccard ≥ 0.5, smaller-id wins). Every stage
    deterministic, so one SQL pipeline is the oracle for the whole
    composition."""
    from tbbid_scrapy_spark.operators.text import corpus_keep

    d = _t(spark, sf_dir, "documents")
    return corpus_keep(
        d, min_words=20, max_punct_ratio=0.2, lang="en", near_dup_threshold=0.5
    ).orderBy("doc_id")


def _augment_with_planted_copies(emb: DataFrame, qbase: DataFrame,
                                 scale: float) -> DataFrame:
    """Corpus-augmentation shared by q_ann_ivf and q_lsh_topk (the
    single-copy variant lives inline in q_embedding_near_dup): 5
    deterministic perturbed copies of each query vector — copy j of
    query v shifts component i by ((v·131 + (i+1)·17 + j·29) mod 7 − 3)
    · scale·j, the identical arithmetic the DuckDB oracles run.

    Copies are built with ONE explode over j (mirroring the oracle's
    CROSS JOIN unnest([1..5])), not a 5-branch self-union: the
    multi-branch union's attribute dedup REBOUND an unqualified lambda
    reference to vec_id onto the shifted alias (measured r4: copy
    perturbed with the shifted id, cos 0.949 vs the true 0.956). The
    original id rides under the collision-free name _vid so no
    expression in the select shadows a name the lambda reads. Index
    parity: Spark's transform index is 0-based, DuckDB's list_transform
    is 1-based → (i+1) here.

    Copy ids are NEGATIVE, -(v·10 + j): fixture vec_ids are
    non-negative, so a planted id can never collide with a base id at
    ANY corpus size. (The previous v + 100000·j scheme collided once the
    table exceeded 100k rows — the groupBy then merged two distinct
    vectors into one ranked row while the oracle ranked both.)"""
    stash = qbase.select(F.col("vec_id").alias("_vid"), "embedding")
    jrows = stash.select(
        "_vid", "embedding",
        F.explode(F.array(*[F.lit(j) for j in range(1, 6)])).alias("_j"),
    )
    pert = F.transform(
        F.col("embedding"),
        lambda x, i: x
        + ((F.col("_vid") * 131 + (i + 1) * 17 + F.col("_j") * 29) % 7 - 3)
        * (F.col("_j") * F.lit(scale)),
    )
    copies = jrows.select(
        (-(F.col("_vid") * 10 + F.col("_j"))).alias("vec_id"),
        pert.alias("embedding"),
    )
    return emb.unionByName(copies)


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probed cosine top-k (the 'IVF variant as the scale path'):
    deterministic k-means coarse quantizer, n_probe nearest inverted
    lists per query, exact re-score — run at n_probe=4 OF n_centroids=16,
    so the driver gate exercises REAL pruning (r3's gate ran
    n_probe == n_centroids, checking plumbing only).

    Partial-probe equality with brute force needs every true neighbor in
    a probed list, which the raw fixture cannot give (its embeddings are
    unstructured: background top-5 cosines sit at ~0.25, spread across
    cells). So — the same planted-augmentation trick that de-vacuated
    embedding_near_dup — the corpus is augmented with 5 DETERMINISTIC
    perturbed copies of each query vector (copy j of query v: component
    i shifts by ((vec_id·131 + i·17 + j·29) mod 7 − 3)·0.004·j →
    cos(v, copy) ≈ 0.95..0.999, far above the ~0.5 background). Each
    query's true top-5 is exactly its 5 copies, which k-means assigns to
    the query's own cell (tiny perturbations), so probing 4 of 16 lists
    must recover ALL of them — the DuckDB brute-force oracle over the
    identically-augmented corpus fails on any pruning miss. cos is
    quantized to an integer at 1e3 (fold-left vs list_dot_product
    summation orders diverge ~1e-9; copy cosines are ≥1e-3 apart so
    ranks are engine-stable)."""
    from tbbid_scrapy_spark.operators.similarity import ivf_topk

    emb = _ts(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    qbase = emb.filter(F.col("vec_id") < 8)
    aug = _augment_with_planted_copies(emb, qbase, scale=0.004)
    return (
        ivf_topk(aug, qbase, k=5, n_centroids=16, n_probe=4, iters=2)
        .select(
            "query_id", "rank", "vec_id",
            F.round(F.col("cos") * 1000).cast("long").alias("cos_q"),
        )
        .orderBy("query_id", "rank")
    )


def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded hyperplane-LSH bucketed top-k (the ANN 'scale path' that
    touches ~b·corpus/2^r of the corpus per query instead of all of it),
    gated against BRUTE-FORCE top-k over a planted-augmented corpus —
    the last LLM-family operator that had only pytest coverage.

    Same augmentation trick as q_ann_ivf with DIFFERENT constants so the
    two rows aren't value-copies: copy j∈1..5 of query v shifts component
    i by ((vec_id·131 + i·17 + j·29) mod 7 − 3)·0.0025·j → cos(v, copy)
    ∈ [0.9798, 0.9992] vs a 0.493 background ceiling, so each query's
    true top-5 is exactly its 5 copies. Run at n_bands=8 × n_planes=8:
    analytic per-copy miss ≤ (1−p⁸)⁸ ≈ 8e-4 at the worst planted cosine
    (p = 1−acos(0.9798)/π ≈ 0.936), and the hyperplanes are
    seed-deterministic, so the recall-everything outcome verified at this
    fixture is stable, not a coin flip per run. Any banding recall miss
    surfaces a ~0.49-background row where the oracle has a planted copy
    — rank, id and quantized cos all break. cos quantized ×1e3; planted
    cosines sit ≥9.8e-5 from every rounding boundary (scanned), five
    decades above the ~1e-9 cross-engine summation divergence."""
    from tbbid_scrapy_spark.operators.similarity import lsh_bucket_topk

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    qbase = emb.filter(F.col("vec_id") < 8)
    aug = _augment_with_planted_copies(emb, qbase, scale=0.0025)
    return (
        lsh_bucket_topk(aug, qbase, k=5, n_planes=8, n_bands=8)
        .select(
            "query_id", "rank", "vec_id",
            F.round(F.col("cos") * 1000).cast("long").alias("cos_q"),
        )
        .orderBy("query_id", "rank")
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs (cosine ≥ 0.95) via the BANDED
    hyperplane-LSH scale path (default — no all-pairs join reachable from
    queries(); exact=True remains available for audit). The driver
    parquet contains no pair above cos 0.51, which made the r2 oracle row
    vacuous (0 == 0), so the corpus is augmented with DETERMINISTIC
    perturbed copies (component i of vec v shifts by
    ((vec_id·131 + i·17) mod 7 − 3)·0.004 → cos(v, v') ≈ 0.998):
    the same arithmetic runs in the DuckDB oracle, whose exact all-pairs
    join must now produce the identical NON-EMPTY 500-pair set — any
    banded-LSH recall miss breaks the hash match. Banding necessity
    (1 band misses pairs this oracle requires) is pinned in
    tests/test_operators_similarity.py on the same planted shape."""
    from tbbid_scrapy_spark.operators.similarity import pairs_above

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    # index parity with the DuckDB oracle: Spark's transform index is
    # 0-based, DuckDB's list_transform index is 1-based → (i+1) here.
    # The lambda references the original id as _vid, a name the output
    # does NOT rebind — an unqualified vec_id in the same select that
    # re-aliases vec_id was observed (q_ann_ivf, r4) being rebound to
    # the SHIFTED id by union attribute dedup.
    stash = emb.select(F.col("vec_id").alias("_vid"), "embedding")
    pert = F.transform(
        F.col("embedding"),
        lambda x, i: x
        + ((F.col("_vid") * 131 + (i + 1) * 17) % 7 - 3) * 0.004,
    )
    # copy id -(v+1): never collides with a (non-negative) base id at
    # any corpus size, and the +1 keeps v=0 off its own copy; both
    # engines order pairs by numeric id_a < id_b, so the relabel stays
    # hash-comparable (see _augment_with_planted_copies)
    copies = stash.select(
        (-(F.col("_vid") + 1)).alias("vec_id"), pert.alias("embedding")
    )
    aug = emb.unionByName(copies)
    # cos quantized to an integer at 1e3 scale: Spark's fold-left dot
    # product and DuckDB's list_dot_product differ by ~1e-9 in summation
    # order, which flips finer roundings at some of the 500 pairs (1e4
    # quantization measurably hit a .5 boundary); every planted pair sits
    # in [0.9979, 0.9983] — ≥0.2 units from the 998.5/997.5 boundaries —
    # so the 1e3 integer is engine-stable while the PAIR SET carries the
    # real check (exact cosine values are pinned by the cosine_topk key)
    return (
        pairs_above(aug, threshold=0.95)
        .select(
            "id_a", "id_b",
            F.round(F.col("cos") * 1000, 0).cast("long").alias("cos_e3"),
        )
        .orderBy("id_a", "id_b")
    )


def q_title_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/P3: the listing anti-keyword filter + suffix trim on titles
    synthesized over the documents table (bid_info.py:93-102)."""
    from tbbid_scrapy_spark.functions.extract import title_suffix_trim

    d = _t(spark, sf_dir, "documents")
    title = F.concat(
        F.element_at(
            F.array(F.lit("道路工程"), F.lit("监理服务"), F.lit("管网造价咨询"), F.lit("桥梁工程")),
            (F.col("doc_id") % 4 + 1).cast("int"),
        ),
        F.lit("招标公告"),
    )
    with_t = d.select("doc_id", title.alias("title"))
    kept = with_t.filter(
        ~F.col("title").contains("监理") & ~F.col("title").contains("造价咨询")
    )
    return kept.select(
        "doc_id", title_suffix_trim(F.col("title")).alias("title")
    ).orderBy("doc_id")


def q_array_distinct_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/T2: higher-order array filter + distinct + canonical sort
    (qualification keyword filtering, company_emp_info.py:115-121)."""
    d = _t(spark, sf_dir, "documents")
    words = F.split(normalize_text(F.col("text")), " ")
    kws = F.array(F.lit("spark"), F.lit("scan"), F.lit("hash"), F.lit("merge"))
    filtered = F.array_sort(
        F.array_distinct(
            F.filter(words, lambda w: F.exists(kws, lambda k: w.contains(k)))
        )
    )
    # coalesce to '' like the oracle: a NULL text row must agree on
    # both sides (Spark array_join(NULL) is NULL; the oracle coalesces)
    return d.select(
        "doc_id", F.coalesce(F.array_join(filtered, ","), F.lit("")).alias("kept")
    ).orderBy("doc_id")


def q_province_usci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11: USCI → province via literal-map lookup (pipelines.py:20-56),
    codes synthesized deterministically from customer keys."""
    from tbbid_scrapy_spark.functions.extract import province_from_usci

    c = _t(spark, sf_dir, "customer")
    codes = ["11", "31", "44", "54", "99"]  # incl. one unknown → NULL
    code = F.element_at(
        F.array(*[F.lit(x) for x in codes]), (F.col("c_custkey") % 5 + 1).cast("int")
    )
    usci = F.concat(F.lit("91"), code, F.lpad(F.col("c_custkey").cast("string"), 10, "0"))
    return (
        c.select(province_from_usci(usci).alias("province"))
        .groupBy("province")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("province").asc_nulls_first())
    )


def q_url_from_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: showDetail(...) onclick → absolute detail URL (util.py:76-86),
    previously pytest-only. Four synthesized shapes per doc: a plain
    match, a whitespace/empty-arg match (exercises the \\s* gaps), a
    non-showDetail handler (→ NULL, the reference's None), and an
    unterminated call (→ NULL)."""
    from tbbid_scrapy_spark.functions.extract import extract_url_from_click

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    onclick = (
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit("showDetail(123, 'b', '/detail/"), did, F.lit(".html')")))
        .when(F.col("doc_id") % 4 == 1,
              F.concat(F.lit("showDetail( x7 ,'','/n/"), did, F.lit("')")))
        .when(F.col("doc_id") % 4 == 2, F.lit("openWindow('/x.html')"))
        .otherwise(F.lit("showDetail(1,'unterminated"))
    )
    return d.select(
        "doc_id", extract_url_from_click(onclick).alias("url")
    ).orderBy("doc_id")


def q_cookie_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17: cookie string → map (bid_notice.py:11-20), previously
    pytest-only. The synthesized cookie carries untrimmed ' token = v '
    segments, a bare no-'=' segment (must be DROPPED, the reference's
    `if '=' in pair` guard), a base64-padded value whose '==' must
    survive the split-on-FIRST-'=' semantics, and a trailing ';' (empty
    pair must be dropped); the oracle recomputes the expected values
    arithmetically, so any parse/trim drift breaks the hash. Values are
    projected out of the map (a map column itself would break the
    driver's sort-based canonicalizer)."""
    from tbbid_scrapy_spark.functions.extract import cookie_to_map

    d = _t(spark, sf_dir, "documents")
    cookie = F.concat(
        F.lit("JSESSIONID=s"), (F.col("doc_id") % 97).cast("string"),
        F.lit("; token = t"), (F.col("doc_id") % 7).cast("string"),
        F.lit(" ;arialoadData;b64=d"), (F.col("doc_id") % 13).cast("string"),
        F.lit("==;lang=en;"),
    )
    m = cookie_to_map(cookie)
    return d.select(
        "doc_id",
        m.getItem("JSESSIONID").alias("sid"),
        m.getItem("token").alias("token"),
        m.getItem("b64").alias("b64"),
        F.size(m).alias("n_keys"),
    ).orderBy("doc_id")


def q_zip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: positional zip join of two parallel arrays with PYTHON-zip
    truncate-to-shorter semantics (company_emp_info.py zip of person
    links × roles), previously pytest-only. Arrays of different lengths
    (1-4 names vs 1-3 roles) are synthesized per doc; rows beyond the
    shorter array must NOT appear (arrays_zip's null-padding would add
    them — the oracle pins the truncation)."""
    d = _t(spark, sf_dir, "documents")
    n_names = (F.col("doc_id") % 4 + 1).cast("int")
    n_roles = (F.col("doc_id") % 3 + 1).cast("int")
    names = F.transform(
        F.sequence(F.lit(1), n_names),
        lambda i: F.concat(F.lit("p"), ((F.col("doc_id") + i * 13) % 50).cast("string")),
    )
    roles = F.transform(
        F.sequence(F.lit(1), n_roles),
        lambda i: F.concat(F.lit("r"), ((F.col("doc_id") + i * 7) % 5).cast("string")),
    )
    arr = d.select("doc_id", names.alias("names"), roles.alias("roles"))
    rows = arr.select(
        "doc_id", "names", "roles",
        F.explode(
            F.sequence(F.lit(1), F.least(F.size("names"), F.size("roles")))
        ).alias("pos"),
    )
    return rows.select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.element_at("names", F.col("pos")).alias("name"),
        F.element_at("roles", F.col("pos")).alias("role"),
    ).orderBy("doc_id", "pos")


def q_is_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: safe float-castable predicate over mixed strings (util.py:68-73)."""
    ev = _t(spark, sf_dir, "events")
    from tbbid_scrapy_spark.functions.extract import is_number

    mixed = F.when(F.col("event_id") % 3 == 0, F.col("value").cast("string")) \
        .when(F.col("event_id") % 3 == 1, F.concat(F.lit("x"), F.col("event_id").cast("string"))) \
        .otherwise(F.lit(""))
    return (
        ev.select(is_number(mixed).alias("is_num"))
        .groupBy("is_num")
        .agg(F.count("*").alias("cnt"))
        .orderBy("is_num")
    )


def q_section_chinese(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1+F2 full semantics incl. the Chinese-numeral branch, now with a
    genuine value oracle: each row also converts a synthesized Chinese
    numeral for (doc_id % 99)+1 — rendered by the inverse generator
    ``arabic_to_chinese`` covering 1-99, both tens spellings and
    traditional digits — back to an int via the pandas UDF. DuckDB
    recomputes that int arithmetically, so any conversion error in the
    1-99 domain (or in the '-01' quirk branches) breaks the hash."""
    from tbbid_scrapy_spark.functions.chinese import (
        arabic_to_chinese,
        chinese_to_arabic_pd,
        extract_section_number,
    )

    d = _t(spark, sf_dir, "documents")
    title = (
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit("项目("), (F.col("doc_id") % 30).cast("string"), F.lit("标段)")))
        .when(F.col("doc_id") % 4 == 1, F.lit("总承包十一标段"))
        .when(F.col("doc_id") % 4 == 2, F.lit("总承包标段"))
        .otherwise(F.lit("普通标题"))
    )
    numerals = F.array(*[F.lit(arabic_to_chinese(i + 1)) for i in range(99)])
    numeral = F.when(F.col("doc_id") % 7 == 0, F.lit("甲乙")).otherwise(
        F.element_at(numerals, (F.col("doc_id") % 99 + 1).cast("int"))
    )
    return (
        d.select(
            extract_section_number(title).alias("section_id"),
            chinese_to_arabic_pd(numeral).alias("num"),
        )
        .groupBy("section_id", "num")
        .agg(F.count("*").alias("cnt"))
        .orderBy("section_id", "num")
    )


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: synthetic binary media column → mapInPandas
    decode (stubbed deterministic backend) → typed metadata. The synthetic
    generator is seed-free-deterministic, so the oracle recomputes the
    header fields arithmetically."""
    from tbbid_scrapy_spark.operators.multimodal import decode_media, synthetic_media

    media = synthetic_media(spark, 200)
    return (
        decode_media(media)
        .select("media_id", "kind", "width", "height", "duration_ms", "payload_bytes")
        .orderBy("media_id")
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic media feature vectors, canonicalized to one rounded
    double column per dimension (an array column crashes the driver's
    sort-based canonicalizer, and scalars let DuckDB recompute the fake
    backend's arithmetic as a true value oracle)."""
    from tbbid_scrapy_spark.operators.multimodal import (
        FEATURE_DIM,
        media_features,
        synthetic_media,
    )

    mf = media_features(synthetic_media(spark, 100))
    dims = [
        F.round(F.element_at("features", i + 1).cast("double"), 6).alias(f"f{i}")
        for i in range(FEATURE_DIM)
    ]
    return mf.select("media_id", *dims).orderBy("media_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pricing_summary": q_pricing_summary,
        "groupby_topn": q_groupby_topn,
        "groupby_roles": q_groupby_roles,
        "dup_groups": q_dup_groups,
        "distinct": q_distinct,
        "anti_join_seed": q_anti_join_seed,
        "orphan_check": q_orphan_check,
        "broadcast_dim_join": q_broadcast_dim_join,
        "parent_child_join": q_parent_child_join,
        "window_topk": q_window_topk,
        "stride_pick": q_stride_pick,
        "recent_n": q_recent_n,
        "explode_split": q_explode_split,
        "json_extract": q_json_extract,
        "section_extract": q_section_extract,
        "multi_format_dates": q_multi_format_dates,
        "date_window": q_date_window,
        "pagination_urls": q_pagination_urls,
        "merge_upsert": q_merge_upsert,
        "counter_merge": q_counter_merge,
        "frontier_rank": q_frontier_rank,
        "politeness_clock": q_politeness_clock,
        "retry_settle": q_retry_settle,
        "candidate_blocks": q_candidate_blocks,
        "lot_ctl_first": q_lot_ctl_first,
        "listing_dedup": q_listing_dedup,
        "bid_pairs": q_bid_pairs,
        "corp_detail_fields": q_corp_detail_fields,
        "stage_ids": q_stage_ids,
        "notice_fields": q_notice_fields,
        "section_rollup": q_section_rollup,
        "employee_stride": q_employee_stride,
        "security_stride": q_security_stride,
        "dense_seq": q_dense_seq,
        "dedup_exact": q_dedup_exact,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_lsh": q_minhash_lsh,
        "simhash": q_simhash,
        "text_stats": q_text_stats,
        "quality_score": q_quality_score,
        "lang_id": q_lang_id,
        "cosine_topk": q_cosine_topk,
        "ann_ivf": q_ann_ivf,
        "lsh_topk": q_lsh_topk,
        "corpus_filter": q_corpus_filter,
        "embedding_near_dup": q_embedding_near_dup,
        "title_filter": q_title_filter,
        "array_distinct_filter": q_array_distinct_filter,
        "province_usci": q_province_usci,
        "is_number": q_is_number,
        "url_from_click": q_url_from_click,
        "cookie_map": q_cookie_map,
        "zip_join": q_zip_join,
        "section_chinese": q_section_chinese,
        "media_decode": q_media_decode,
        "media_features": q_media_features,
    }


# Whitespace as the EXPLICIT cross-engine class imported from the
# engine (operators/text.WS_CHARS): Java regex \s includes \x0B, RE2's
# (DuckDB) does not — with \s on both sides a vertical tab in any
# document would silently diverge word counts / shingle sets / norm
# keys between engine and oracle. Importing the SAME constant keeps the
# two sides in lockstep by construction.
from tbbid_scrapy_spark.operators.text import WS_CHARS as _WS_IN

# Notice-field regexes imported from the engine (functions/extract.py) so
# the oracle cannot drift from the production patterns; they are valid in
# both Java regex and RE2 (no \x0B in the fixture bodies, so the \s
# difference is inert). The script-strip pattern mirrors functions/html.py.
from tbbid_scrapy_spark.functions.extract import (
    DURATION_PATTERN as _DUR_PAT,
    FUNDING_PAREN_STRIP as _FUND_PAREN,
    FUNDING_PATTERN as _FUND_PAT,
    PROFESSION_PATTERN as _PROF_PAT,
    QUALIFICATION_GROUP_PATTERN as _QUAL_PAT,
)

_SCRIPT_PAT = r"<script\b[^>]*>.*?</script\s*>"

_WS = f"[{_WS_IN}]"
_NORM = f"trim(regexp_replace(lower(text), '{_WS}+', ' ', 'g'))"
_TOKEN_RE = f"[a-z]+|[0-9]+|[^{_WS_IN}a-z0-9]"
_STOP_EN = "['the','of','and','to','in','is','that','it','for','on']"

# Exact n-gram Jaccard ground truth. It is the oracle for THREE queries:
# ngram_jaccard (direct), minhash_lsh and simhash (both emit candidates
# verified by the exact Jaccard, so their outputs must equal the exact
# pair set whenever candidate recall is total — pinned in tests).
_JACCARD_SQL = f"""
    WITH toks AS (
        SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents
    ), sh AS (
        SELECT doc_id, unnest(list_distinct(
            [array_to_string(w[i+1:i+3], ' ') for i in range(len(w) - 2)]
        )) AS shingle
        FROM toks WHERE len(w) >= 3
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        FROM sh a JOIN sh b USING (shingle)
        WHERE a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5
    ORDER BY id_a, id_b
"""

# Stopword hit counts per language (mirrors operators/text.py STOPWORDS);
# argmax with ties broken by language-code order (de < en < es < fr).
_LANG_LISTS = {
    "en": "['the','of','and','to','in','is','that','it','for','on']",
    "es": "['el','la','de','que','y','en','un','los','se','no']",
    "de": "['der','die','und','das','von','zu','mit','den','ist','nicht']",
    "fr": "['le','la','de','et','les','des','en','un','du','que']",
}


def oracle_sql() -> dict[str, str]:
    out = _oracle_sql_literal()
    # ann_ivf probes 4 of 16 inverted lists and re-scores exactly, so
    # brute-force top-k over the SAME planted-augmented corpus is its
    # ground truth — a pruning miss (a true neighbor outside the probed
    # lists) breaks the row match. Augmentation arithmetic mirrors
    # q_ann_ivf exactly (DuckDB list_transform index is 1-based — the
    # Spark side uses (i+1) for parity).
    out["ann_ivf"] = _ANN_IVF_SQL
    # lsh_topk collides queries with candidates in ≥1 of 8 hyperplane
    # bands and re-scores exactly, so brute-force top-k over the SAME
    # planted-augmented corpus (scale 0.0025·j — different constants
    # from ann_ivf, so the two rows carry distinct values) is its
    # ground truth — a banding recall miss breaks the row match.
    assert "(0.004 * js.j)" in _ANN_IVF_SQL  # guard the derived-oracle edit
    out["lsh_topk"] = _ANN_IVF_SQL.replace("(0.004 * js.j)", "(0.0025 * js.j)")
    out["corpus_filter"] = _CORPUS_FILTER_SQL
    return out


# Brute-force top-k over the planted-augmented corpus (see q_ann_ivf):
# base embeddings + 5 deterministic perturbed copies of each query
# vector. Exact ground truth for the n_probe=4/16 IVF run.
_ANN_IVF_SQL = """
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
        FROM embeddings
    ), qv AS (
        SELECT vec_id, embedding FROM base WHERE vec_id < 8
    ), copies AS (
        SELECT -(qv.vec_id * 10 + js.j) AS vec_id,
               list_transform(qv.embedding,
                   (x, i) -> x + ((qv.vec_id*131 + i*17 + js.j*29) % 7 - 3)
                             * (0.004 * js.j)
               ) AS embedding
        FROM qv CROSS JOIN (SELECT unnest([1,2,3,4,5]) AS j) js
    ), aug AS (
        SELECT vec_id, embedding FROM base
        UNION ALL
        SELECT vec_id, embedding FROM copies
    ), q AS (
        SELECT vec_id AS query_id, embedding AS q_emb FROM qv
    ), scored AS (
        SELECT q.query_id, e.vec_id,
               list_dot_product(e.embedding, q.q_emb)
               / (sqrt(list_dot_product(e.embedding, e.embedding))
                  * sqrt(list_dot_product(q.q_emb, q.q_emb))) AS cos
        FROM aug e CROSS JOIN q
        WHERE e.vec_id != q.query_id
    )
    SELECT query_id, rank, vec_id,
           CAST(round(cos * 1000) AS BIGINT) AS cos_q
    FROM (
        SELECT query_id, vec_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, vec_id) AS rank
        FROM scored
    ) WHERE rank <= 5 ORDER BY query_id, rank
"""

# End-to-end corpus filter oracle: quality gate (word count + punct
# ratio, mirroring operators/text.quality_features exactly — the
# [^\p{L}\p{N}_\s] punctuation class is the same Unicode general-
# category semantics in Java regex and DuckDB's RE2, so accented/CJK
# letters are NOT punctuation in either engine) → lang argmax (same
# CASE as the lang_id oracle) → exact-dedup keep-min per normalized
# text → drop any survivor that is id_b of an exact-Jaccard ≥ 0.5 pair
# among survivors.
_CORPUS_FILTER_SQL = f"""
    WITH feats AS (
        SELECT doc_id, text,
               CAST(len(regexp_split_to_array(trim(lower(text)), '{_WS}+')) AS INT) AS n_words,
               (length(text) - length(regexp_replace(text, '[^\\p{{L}}\\p{{N}}_{_WS_IN}]', '', 'g'))) * 1.0
                 / greatest(length(text), 1) AS punct_ratio,
               regexp_split_to_array(trim(lower(text)), '{_WS}+') AS ws
        FROM documents
    ), gated AS (
        SELECT doc_id, text, n_words,
               len(list_filter(ws, w -> list_contains({_LANG_LISTS['de']}, w))) AS h_de,
               len(list_filter(ws, w -> list_contains({_LANG_LISTS['en']}, w))) AS h_en,
               len(list_filter(ws, w -> list_contains({_LANG_LISTS['es']}, w))) AS h_es,
               len(list_filter(ws, w -> list_contains({_LANG_LISTS['fr']}, w))) AS h_fr
        FROM feats
        WHERE n_words >= 20 AND punct_ratio <= 0.2
    ), langed AS (
        SELECT doc_id, text, n_words,
               CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                    WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
                    WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
                    WHEN h_es >= h_fr THEN 'es'
                    ELSE 'fr' END AS lang_pred
        FROM gated
    ), survivors AS (
        SELECT doc_id, text, n_words FROM (
            SELECT *, min(doc_id) OVER (
                PARTITION BY {_NORM}
            ) AS _keep
            FROM langed WHERE lang_pred = 'en'
        ) WHERE doc_id = _keep
    ), toks AS (
        SELECT doc_id, string_split({_NORM}, ' ') AS w FROM survivors
    ), sh AS (
        SELECT doc_id, unnest(list_distinct(
            [array_to_string(w[i+1:i+3], ' ') for i in range(len(w) - 2)]
        )) AS shingle
        FROM toks WHERE len(w) >= 3
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        FROM sh a JOIN sh b USING (shingle)
        WHERE a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), losers AS (
        SELECT DISTINCT id_b FROM common
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5
    )
    SELECT doc_id, n_words FROM survivors
    WHERE doc_id NOT IN (SELECT id_b FROM losers)
    ORDER BY doc_id
"""


def _oracle_sql_literal() -> dict[str, str]:
    return {
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "groupby_topn": """
            SELECT l_suppkey, count(*) AS cnt FROM lineitem
            GROUP BY l_suppkey ORDER BY cnt DESC, l_suppkey LIMIT 10
        """,
        "groupby_roles": """
            SELECT event_type, count(*) AS cnt FROM events
            GROUP BY event_type ORDER BY cnt DESC, event_type
        """,
        "dup_groups": f"""
            SELECT min(doc_id) AS first_doc, count(*) AS cnt
            FROM documents GROUP BY substr({_NORM}, 1, 32)
            HAVING count(*) > 1 ORDER BY first_doc
        """,
        "distinct": """
            SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment
        """,
        # NOT EXISTS, not NOT IN: Spark's left_anti matches NOT EXISTS
        # semantics — a NULL o_custkey in the seed subquery would make
        # NOT IN return ZERO rows while left_anti still returns the full
        # anti set (null-robust pairing, like orphan_check's LEFT JOIN)
        "anti_join_seed": """
            SELECT c_custkey, c_name FROM customer c
            WHERE NOT EXISTS
                  (SELECT 1 FROM orders o
                   WHERE o.o_custkey = c.c_custkey
                     AND o.o_orderpriority = '1-URGENT')
            ORDER BY c_custkey
        """,
        "orphan_check": """
            SELECT o.o_custkey,
                   count(*) AS orphan_orders,
                   min(o.o_orderkey) AS first_order
            FROM orders o
            LEFT JOIN (SELECT c_custkey FROM customer
                       WHERE c_mktsegment = 'BUILDING') c
                   ON o.o_custkey = c.c_custkey
            WHERE c.c_custkey IS NULL
            GROUP BY o.o_custkey ORDER BY o.o_custkey
        """,
        "broadcast_dim_join": """
            SELECT r_name,
                   CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
                   count(*) AS cnt
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name ORDER BY r_name
        """,
        "parent_child_join": """
            WITH child AS (
                SELECT l_orderkey,
                       sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS order_rev,
                       count(*) AS n_lines
                FROM lineitem GROUP BY l_orderkey
            )
            SELECT o_orderpriority,
                   CAST(sum(order_rev) AS DOUBLE) AS revenue,
                   CAST(sum(n_lines) AS BIGINT) AS lines,
                   count(*) AS orders_cnt
            FROM orders JOIN child ON o_orderkey = l_orderkey
            GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "window_topk": """
            SELECT o_orderpriority, rk, o_orderkey, o_totalprice FROM (
                SELECT o_orderpriority, o_orderkey, o_totalprice,
                       row_number() OVER (PARTITION BY o_orderpriority
                                          ORDER BY o_totalprice DESC, o_orderkey) AS rk
                FROM orders
            ) WHERE rk <= 3 ORDER BY o_orderpriority, rk
        """,
        "stride_pick": """
            SELECT l_orderkey, l_linenumber, pos FROM (
                SELECT l_orderkey, l_linenumber,
                       row_number() OVER (PARTITION BY l_orderkey
                                          ORDER BY l_linenumber) - 1 AS pos
                FROM lineitem
            ) WHERE pos % 12 IN (0, 3) ORDER BY l_orderkey, pos
        """,
        "recent_n": """
            SELECT event_id, ts, event_type FROM events
            ORDER BY ts DESC, event_id LIMIT 5
        """,
        "explode_split": f"""
            SELECT lang, word, count(*) AS cnt FROM (
                SELECT lang, unnest(string_split({_NORM}, ' ')) AS word
                FROM documents
            ) WHERE word != ''
            GROUP BY lang, word ORDER BY cnt DESC, lang, word LIMIT 50
        """,
        "json_extract": """
            SELECT event_type,
                   CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
                   count(*) AS cnt
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "section_extract": r"""
            SELECT printf('%03d', CAST(regexp_extract(
                       '项目(' || CAST(doc_id % 200 AS VARCHAR) || '标段)',
                       '项目\((\d+)标段\)', 1) AS INT)) AS section_id,
                   count(*) AS cnt
            FROM documents GROUP BY section_id ORDER BY section_id
        """,
        "multi_format_dates": """
            SELECT d, count(*) AS cnt FROM (
                SELECT strftime(coalesce(
                    try_strptime(rendered, '%Y-%m-%d %H:%M:%S'),
                    try_strptime(rendered, '%Y-%m-%d'),
                    try_strptime(rendered, '%Y/%m/%d %H:%M:%S'),
                    try_strptime(rendered, '%Y/%m/%d')
                ), '%Y-%m-%d') AS d
                FROM (
                    SELECT CASE o_orderkey % 4
                        WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')
                        WHEN 1 THEN strftime(o_orderdate, '%Y-%m-%d')
                        WHEN 2 THEN strftime(o_orderdate, '%Y/%m/%d %H:%M:%S')
                        ELSE strftime(o_orderdate, '%Y/%m/%d')
                    END AS rendered FROM orders
                )
            ) GROUP BY d ORDER BY d LIMIT 100
        """,
        "date_window": """
            SELECT event_type, count(*) AS cnt FROM events
            WHERE ts > (SELECT max(ts) FROM events) - INTERVAL 7 DAY
            GROUP BY event_type ORDER BY event_type
        """,
        "pagination_urls": """
            SELECT event_type, page,
                   printf('https://api.example.org/list?type=%s&page=%d',
                          event_type, page) AS url
            FROM (
                SELECT event_type, unnest(range(1, total // 100 + 2)) AS page
                FROM (SELECT event_type, count(*) AS total FROM events
                      GROUP BY event_type)
            ) ORDER BY event_type, page
        """,
        "merge_upsert": """
            WITH target AS (
                SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
                WHERE o_orderkey % 3 != 0
            ), source AS (
                SELECT o_orderkey, o_totalprice * 2 AS o_totalprice,
                       'U' AS o_orderstatus
                FROM orders WHERE o_orderkey % 2 = 0
            )
            SELECT coalesce(s.o_orderkey, t.o_orderkey) AS o_orderkey,
                   coalesce(s.o_totalprice, t.o_totalprice) AS o_totalprice,
                   coalesce(s.o_orderstatus, t.o_orderstatus) AS o_orderstatus
            FROM target t FULL OUTER JOIN source s USING (o_orderkey)
            ORDER BY o_orderkey
        """,
        "counter_merge": """
            WITH target AS (
                SELECT o_custkey, count(*) AS bid_count FROM orders
                WHERE o_orderkey <= 1000 GROUP BY o_custkey
            ), incoming AS (
                SELECT o_custkey, count(*) AS bid_count FROM orders
                WHERE o_orderkey > 1000 GROUP BY o_custkey
            )
            SELECT coalesce(t.o_custkey, i.o_custkey) AS o_custkey,
                   coalesce(t.bid_count, 0) + coalesce(i.bid_count, 0) AS bid_count
            FROM target t FULL OUTER JOIN incoming i USING (o_custkey)
            ORDER BY o_custkey
        """,
        # naive-window equivalent of q_frontier_rank: the robots decision
        # is expanded to the known rule constants (longest-prefix-wins:
        # '/admin/public' allow beats '/admin' disallow on even hosts),
        # the politeness cut is one row_number window per host. The
        # engine's salted two-phase rank + broadcast-rules probe must
        # produce exactly these rows.
        "frontier_rank": """
            WITH pending AS (
                SELECT 'h' || CAST(o_custkey % 97 AS VARCHAR)
                           || '.example.org' AS host,
                       o_custkey % 97 AS hostn,
                       o_orderkey % 5 AS priority,
                       o_orderkey % 3 AS wave,
                       o_orderkey AS seq,
                       CASE WHEN o_orderkey % 11 = 0
                                THEN '/admin/public/' || CAST(o_orderkey AS VARCHAR)
                            WHEN o_orderkey % 7 = 0
                                THEN '/admin/x/' || CAST(o_orderkey AS VARCHAR)
                            ELSE '/cat/' || CAST(o_orderkey AS VARCHAR)
                       END AS path
                FROM orders
            ), allowed AS (
                SELECT * FROM pending
                WHERE CASE
                    WHEN path LIKE '/admin/public%' THEN hostn % 2 = 0
                    WHEN path LIKE '/admin%' THEN FALSE
                    ELSE TRUE END
            ), ranked AS (
                SELECT *,
                       row_number() OVER (PARTITION BY host
                                          ORDER BY priority DESC, wave, seq) AS rk,
                       3 + hostn % 4 AS budget
                FROM allowed
            )
            SELECT host, seq, priority,
                   'https://' || host || path AS url_norm
            FROM ranked WHERE rk <= budget
            ORDER BY host, seq
        """,
        # mirror of q_politeness_clock: per (wave, host) counts, per-host
        # budget/delay (politeness rows exist only for EVEN hosts — odd
        # hosts take the (4, 2.0) defaults), wave duration = max over
        # hosts of ceil(n/budget)·delay
        "politeness_clock": """
            WITH per_host AS (
                SELECT o_orderkey % 4 AS wave,
                       o_custkey % 53 AS hostn,
                       count(*) AS n
                FROM orders
                GROUP BY 1, 2
            ), with_rules AS (
                SELECT wave, n,
                       CASE WHEN hostn % 2 = 0 THEN 2 + hostn % 5
                            ELSE 4 END AS budget,
                       CASE WHEN hostn % 2 = 0 THEN 0.5 * (1 + hostn % 3)
                            ELSE 2.0 END AS delay_s
                FROM per_host
            )
            SELECT CAST(wave AS INT) AS wave,
                   CAST(sum(n) AS BIGINT) AS fetches,
                   round(max(ceil(n * 1.0 / budget) * delay_s), 3) AS sim_s
            FROM with_rules
            GROUP BY wave
            ORDER BY wave
        """,
        # mirror of q_retry_settle with the REFERENCE retry policy
        # hardcoded (RETRY_TIMES=3 → 4 total fetches; RETRY_HTTP_CODES
        # = 403/5xx/408/429): the engine side runs the production
        # retry_settle_exprs, so a drift in crawl.RETRYABLE or
        # MAX_ATTEMPTS breaks this match. Branch precedence mirrors
        # Scrapy: 200, then 404, then any non-retryable, then the
        # attempt-limit cut, else pending.
        "retry_settle": """
            WITH f AS (
                SELECT ([200, 404, 403, 500, 502, 503, 504, 522, 524,
                         408, 429, 401, 405, 410, 451]
                        )[CAST(o_orderkey % 15 AS INT) + 1] AS status,
                       CAST(o_custkey % 5 AS INT) AS attempts
                FROM orders
            )
            SELECT status AS last_status,
                   CASE WHEN status = 200 THEN 'fetched'
                        WHEN status = 404 THEN 'failed'
                        WHEN status NOT IN (403, 500, 502, 503, 504,
                                            522, 524, 408, 429)
                             THEN 'failed'
                        WHEN attempts + 1 >= 4 THEN 'failed'
                        ELSE 'pending' END AS state,
                   CASE WHEN status IN (403, 500, 502, 503, 504,
                                        522, 524, 408, 429)
                        THEN attempts + 1 ELSE attempts
                   END AS attempts_after,
                   CAST(count(*) AS BIGINT) AS n
            FROM f
            GROUP BY 1, 2, 3
            ORDER BY 1, 2, 3
        """,
        # mirror of q_candidate_blocks: span derivation re-stated, then
        # the NAIVE stride-12 window query (the engine side runs the
        # production candidate_ranks) — slots 0/3/6 per block, %03d
        # section ids, rank literal 1, try_cast numeric parse
        "candidate_blocks": """
            WITH spans AS (
                SELECT 'https://h' || CAST(l_orderkey % 7 AS VARCHAR)
                         || '.example.org/candidates/'
                         || CAST(l_orderkey AS VARCHAR) AS doc_id,
                       l_orderkey,
                       l_linenumber * 4 + ex.e AS off
                FROM lineitem
                CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS e) AS ex
                WHERE l_orderkey % 37 = 0
            ), cells AS (
                SELECT doc_id,
                       CASE WHEN (l_orderkey + off) % 3 = 0
                            THEN CAST(l_orderkey + off AS VARCHAR)
                            ELSE '公司' || CAST(l_orderkey AS VARCHAR)
                                 || '-' || CAST(off AS VARCHAR) END AS text,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY off) - 1 AS pos
                FROM spans
            ), blocks AS (
                SELECT doc_id, pos // 12 AS block,
                       max(CASE WHEN pos % 12 = 0 THEN text END) AS bidder_name,
                       max(CASE WHEN pos % 12 = 3 THEN text END) AS manager_name,
                       max(CASE WHEN pos % 12 = 6 THEN text END) AS amount_raw
                FROM cells
                WHERE pos % 12 IN (0, 3, 6)
                GROUP BY doc_id, pos // 12
            )
            SELECT regexp_extract(doc_id, '/candidates/([^/?#]+)', 1)
                       AS project_id,
                   printf('%03d', CAST(block + 1 AS INT)) AS section_id,
                   bidder_name,
                   CAST(1 AS INT) AS rank,
                   manager_name,
                   try_cast(amount_raw AS DOUBLE) AS win_amt
            FROM blocks
            ORDER BY project_id, section_id
        """,
        # mirror of q_lot_ctl_first: same span derivation shape (marker
        # /bids/, 1-in-41 orders), then skip-2-header + odd-side column
        # + first try_cast-able value per doc
        "lot_ctl_first": """
            WITH spans AS (
                SELECT 'https://h' || CAST(l_orderkey % 7 AS VARCHAR)
                         || '.example.org/bids/'
                         || CAST(l_orderkey AS VARCHAR) AS doc_id,
                       l_orderkey,
                       l_linenumber * 4 + ex.e AS off
                FROM lineitem
                CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS e) AS ex
                WHERE l_orderkey % 41 = 0
            ), cells AS (
                SELECT doc_id,
                       CASE WHEN (l_orderkey + off) % 3 = 0
                            THEN CAST(l_orderkey + off AS VARCHAR)
                            ELSE '公司' || CAST(l_orderkey AS VARCHAR)
                                 || '-' || CAST(off AS VARCHAR) END AS text,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY off) - 1 AS pos
                FROM spans
            ), amounts AS (
                SELECT doc_id, text, pos FROM cells
                WHERE pos >= 2 AND (pos - 2) % 2 = 1
                      AND try_cast(text AS DOUBLE) IS NOT NULL
            ), first_amt AS (
                SELECT doc_id, text,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY pos) AS rn
                FROM amounts
            )
            SELECT regexp_extract(doc_id, '/bids/([^/?#]+)', 1) AS project_id,
                   '001' AS section_id,
                   try_cast(text AS DOUBLE) AS lot_ctl_amt
            FROM first_amt WHERE rn = 1
            ORDER BY project_id
        """,
        # mirror of q_listing_dedup: listing-span derivation re-stated,
        # /project/ link selection, anti-keyword filter, suffix trim,
        # first-sighting-by-(doc_id, offset) dedup as a naive window
        # (the engine side runs the production listing_projects with
        # its min_by-struct dedup and the urljoin/canonicalize UDF)
        "listing_dedup": """
            WITH spans AS (
                SELECT 'https://h' || CAST(o_orderkey % 5 AS VARCHAR)
                         || '.example.org/listing?page='
                         || CAST(o_orderkey % 40 AS VARCHAR) AS doc_id,
                       o_orderkey % 500 AS pid,
                       o_orderkey AS off,
                       o_orderkey AS key,
                       CASE WHEN o_orderkey % 17 = 0
                            THEN '/other/' ELSE '/project/' END AS refpath,
                       '项目' || CAST(o_orderkey % 500 AS VARCHAR)
                         || '号第' || CAST(o_orderkey AS VARCHAR) || '次' AS base
                FROM orders
            ), links AS (
                SELECT doc_id, off, pid,
                       CASE WHEN key % 11 = 0 THEN base || '监理'
                            WHEN key % 13 = 0 THEN base || '造价咨询'
                            WHEN key % 3 = 0 THEN base || '招标公告'
                            ELSE base END AS text
                FROM spans WHERE refpath = '/project/'
            ), kept AS (
                SELECT 'https://h' || CAST(pid % 5 AS VARCHAR)
                         || '.example.org/project/'
                         || CAST(pid AS VARCHAR) AS stage_url,
                       CASE WHEN text LIKE '%招标公告'
                            THEN substring(text, 1, length(text) - 4)
                            ELSE text END AS title,
                       doc_id, off
                FROM links
                WHERE text NOT LIKE '%监理%'
                      AND text NOT LIKE '%造价咨询%'
            ), ranked AS (
                SELECT stage_url, title,
                       row_number() OVER (PARTITION BY stage_url
                                          ORDER BY doc_id, off) AS rn
                FROM kept
            )
            SELECT stage_url, title FROM ranked WHERE rn = 1
            ORDER BY stage_url
        """,
        # mirror of q_bid_pairs: same span derivation as the candidates
        # gate (marker /bids/, mod 53), then the naive header-skip +
        # pair/side window query (the engine runs the production
        # bid_items)
        "bid_pairs": """
            WITH spans AS (
                SELECT 'https://h' || CAST(l_orderkey % 7 AS VARCHAR)
                         || '.example.org/bids/'
                         || CAST(l_orderkey AS VARCHAR) AS doc_id,
                       l_orderkey,
                       l_linenumber * 4 + ex.e AS off
                FROM lineitem
                CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS e) AS ex
                WHERE l_orderkey % 53 = 0
            ), cells AS (
                SELECT doc_id,
                       CASE WHEN (l_orderkey + off) % 3 = 0
                            THEN CAST(l_orderkey + off AS VARCHAR)
                            ELSE '公司' || CAST(l_orderkey AS VARCHAR)
                                 || '-' || CAST(off AS VARCHAR) END AS text,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY off) - 1 AS pos
                FROM spans
            ), pairs AS (
                SELECT doc_id, (pos - 2) // 2 AS pair,
                       max(CASE WHEN (pos - 2) % 2 = 0 THEN text END)
                           AS bidder_name,
                       max(CASE WHEN (pos - 2) % 2 = 1 THEN text END)
                           AS amount_raw
                FROM cells WHERE pos >= 2
                GROUP BY doc_id, (pos - 2) // 2
            )
            SELECT regexp_extract(doc_id, '/bids/([^/?#]+)', 1) AS project_id,
                   '001' AS section_id,
                   bidder_name,
                   try_cast(amount_raw AS DOUBLE) AS bid_amount,
                   pair AS bid_pos
            FROM pairs
            WHERE bidder_name IS NOT NULL AND bidder_name != ''
            ORDER BY project_id, bid_pos
        """,
        # mirror of q_corp_detail_fields: 10-cell layout re-stated, then
        # naive last-label-wins / keyword-filter / first-其他 windows
        # (the engine runs the production corp_detail_items)
        "corp_detail_fields": """
            WITH spans AS (
                SELECT 'https://corp.example.org/corp/detail?corpcode=C'
                         || CAST(o_orderkey AS VARCHAR) AS doc_id,
                       o_orderkey AS key, ex.e AS off
                FROM orders
                CROSS JOIN (SELECT unnest([0,1,2,3,4,5,6,7,8,9]) AS e) AS ex
                WHERE o_orderkey % 21 = 0
            ), cells AS (
                SELECT doc_id, key, off,
                       CASE off
                         WHEN 0 THEN '法人姓名'
                         WHEN 1 THEN 'P' || CAST(key AS VARCHAR)
                         WHEN 2 THEN CASE WHEN key % 3 = 0
                                          THEN '法人姓名' ELSE '备注' END
                         WHEN 3 THEN CASE WHEN key % 3 = 0
                                          THEN 'Q' || CAST(key AS VARCHAR)
                                          ELSE 'x' END
                         WHEN 4 THEN '注册资本'
                         WHEN 5 THEN CAST(key AS VARCHAR) || '万'
                         WHEN 6 THEN CASE WHEN key % 2 = 0
                                  THEN '资质条目：市政公用工程施工总承包贰级'
                                  ELSE '资质条目：劳务分包' END
                         WHEN 7 THEN '资质条目：房屋工程施工'
                         WHEN 8 THEN '其他：甲' || CAST(key AS VARCHAR)
                         ELSE CASE WHEN key % 5 = 0
                                   THEN '其他：乙' || CAST(key AS VARCHAR)
                                   ELSE '备注2' END
                       END AS text
                FROM spans
            ), labv AS (
                SELECT l.doc_id, l.text AS label, v.text AS value, l.off
                FROM cells l JOIN cells v
                     ON v.doc_id = l.doc_id AND v.off = l.off + 1
                WHERE l.text IN ('法人姓名', '注册资本')
            ), last_lab AS (
                SELECT doc_id, label, value FROM (
                    SELECT *, row_number() OVER (PARTITION BY doc_id, label
                                                 ORDER BY off DESC) AS rn
                    FROM labv) WHERE rn = 1
            ), quals AS (
                SELECT doc_id,
                       list_sort(list_distinct(list(q))) AS qualifications
                FROM (SELECT doc_id, substring(text, 6) AS q
                      FROM cells WHERE text LIKE '资质条目：%')
                WHERE q LIKE '%工程施工%' OR q LIKE '%工程专业%'
                      OR q LIKE '%承包贰级%' OR q LIKE '%承包壹级%'
                GROUP BY doc_id
            ), oth AS (
                SELECT doc_id, trim(substring(text, 4)) AS others FROM (
                    SELECT doc_id, text,
                           row_number() OVER (PARTITION BY doc_id
                                              ORDER BY off) AS rn
                    FROM cells WHERE text LIKE '其他：%') WHERE rn = 1
            ), base AS (SELECT DISTINCT doc_id, key FROM spans)
            SELECT 'C' || CAST(b.key AS VARCHAR) AS corp_code,
                   corp.value AS corp,
                   asset.value AS corp_asset,
                   CAST(NULL AS VARCHAR) AS reg_address,
                   CAST(NULL AS VARCHAR) AS valid_date,
                   CAST(coalesce(len(q.qualifications), 0) AS INT) AS qual_n,
                   coalesce(array_to_string(q.qualifications, '|'), '')
                       AS qual_joined,
                   o2.others AS others
            FROM base b
            LEFT JOIN (SELECT doc_id, value FROM last_lab
                       WHERE label = '法人姓名') corp USING (doc_id)
            LEFT JOIN (SELECT doc_id, value FROM last_lab
                       WHERE label = '注册资本') asset USING (doc_id)
            LEFT JOIN quals q USING (doc_id)
            LEFT JOIN oth o2 USING (doc_id)
            ORDER BY corp_code
        """,
        # mirror of q_stage_ids: span derivation re-stated, then the
        # naive label filter + first-by-offset window + 1-based split
        # index (the engine runs the production stage_project_ids)
        "stage_ids": """
            WITH spans AS (
                SELECT 'https://h' || CAST(o_orderkey % 7 AS VARCHAR)
                         || '.example.org/project/P'
                         || CAST(o_orderkey AS VARCHAR) AS doc_id,
                       o_orderkey AS key, ex.e AS off
                FROM orders
                CROSS JOIN (SELECT unnest([0, 1, 2]) AS e) AS ex
                WHERE o_orderkey % 19 = 0
            ), cells AS (
                SELECT doc_id, off,
                       CASE WHEN off = 0 AND key % 3 != 0 THEN
                                '项目编号：XZ' || CAST(key AS VARCHAR)
                                || CASE WHEN key % 7 = 0
                                        THEN '：分段' ELSE '' END
                            WHEN off = 0 THEN '其他：x'
                            WHEN off = 1 AND key % 3 = 0 THEN
                                '项目编号：DUPA' || CAST(key AS VARCHAR)
                            WHEN off = 1 THEN '备注：y'
                            WHEN off = 2 AND key % 3 = 0 THEN
                                '项目编号：DUPB' || CAST(key AS VARCHAR)
                            ELSE '备注2' END AS text
                FROM spans
            ), labeled AS (
                SELECT doc_id, off, text FROM cells
                WHERE text LIKE '项目编号：%'
            ), first_l AS (
                SELECT doc_id, text,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY off) AS rn
                FROM labeled
            )
            SELECT doc_id AS stage_url,
                   string_split(text, '：')[2] AS project_id
            FROM first_l WHERE rn = 1 ORDER BY stage_url
        """,
        # mirror of q_notice_fields: body derivation re-stated, then the
        # script strip + the ENGINE'S OWN regex constants (imported, not
        # retyped) applied via RE2 — notice_content compares the stripped
        # HTML byte-for-byte across engines
        "notice_fields": f"""
            WITH bodies AS (
                SELECT o_orderkey AS k,
                       '<html><body>'
                       || '<script type="text/JavaScript">var x="资金来源：假的数据";</script>'
                       || CASE CAST(o_orderkey % 4 AS INT)
                          WHEN 0 THEN '<p>资金来源：政府投资。</p>'
                          WHEN 1 THEN '<p>资金来自：企业自筹（详见附件）拨款，备注</p>'
                          WHEN 2 THEN ''
                          ELSE '<p>资金来源： 自筹</p>' END
                       || CASE CAST(o_orderkey % 3 AS INT)
                          WHEN 0 THEN '<p>计划工期：154日。</p>'
                          WHEN 1 THEN '<p>工期：一百二十天（120日）竣工</p>'
                          ELSE '' END
                       || CASE CAST(o_orderkey % 5 AS INT)
                          WHEN 0 THEN '<p>资质要求：房屋建筑工程施工总承包壹级，市政公用工程施工总承包三级。</p>'
                          WHEN 1 THEN '<p>资质：公路工程施工总承包特级。</p>'
                          ELSE '' END
                       || CASE CAST(o_orderkey % 2 AS INT)
                          WHEN 0 THEN '<p>项目负责人须一级建造师执业。</p>'
                          ELSE '<p>须持有建造师证书。</p>' END
                       || '</body></html>' AS html
                FROM orders WHERE o_orderkey % 23 = 0
            ), stripped AS (
                SELECT k,
                       regexp_replace(html, '{_SCRIPT_PAT}', '', 'isg')
                           AS notice_content
                FROM bodies
            )
            SELECT k, notice_content,
                   trim(regexp_replace(
                       regexp_extract(notice_content, '{_FUND_PAT}', 1),
                       '{_FUND_PAREN}', '', 'g')) AS construction_funds,
                   regexp_extract(notice_content, '{_DUR_PAT}', 1)
                       AS project_duration,
                   coalesce(array_to_string(
                       regexp_extract_all(notice_content, '{_QUAL_PAT}', 1),
                       ','), '') AS company_req,
                   regexp_extract(notice_content, '{_PROF_PAT}', 1)
                       AS person_req
            FROM stripped ORDER BY k
        """,
        # mirror of q_section_rollup: evidence derivation re-stated, then
        # the naive double FULL OUTER JOIN + CASE status (the engine side
        # runs the production derive_sections; the oracle models only
        # rank 1 — the production rank==1 filter must drop the rank-2
        # input rows for the match to hold)
        "section_rollup": """
            WITH bids AS (
                SELECT CAST(l_orderkey AS VARCHAR) AS project_id,
                       printf('%03d', CAST(l_linenumber % 3 + 1 AS INT))
                           AS section_id
                FROM lineitem WHERE l_orderkey % 29 = 0
            ), from_bids AS (
                SELECT project_id, section_id, count(*) AS bid_size
                FROM bids GROUP BY 1, 2
            ), ctl AS (
                SELECT CAST(l_orderkey AS VARCHAR) AS project_id,
                       printf('%03d', CAST(l_orderkey % 3 + 1 AS INT))
                           AS section_id,
                       CAST(l_orderkey % 1000 AS DOUBLE) + 0.5 AS lot_ctl_amt
                FROM lineitem WHERE l_orderkey % 31 = 0 AND l_linenumber = 1
            ), ranks AS (
                SELECT CAST(l_orderkey AS VARCHAR) AS project_id,
                       printf('%03d', CAST(l_linenumber AS INT)) AS section_id,
                       '公司' || CAST(l_suppkey % 100 AS VARCHAR)
                           AS winning_bidder,
                       CAST(l_orderkey % 500 AS DOUBLE) AS winning_amount
                FROM lineitem WHERE l_orderkey % 37 = 0 AND l_linenumber = 1
            ), combined AS (
                SELECT * FROM from_bids
                FULL OUTER JOIN ctl USING (project_id, section_id)
                FULL OUTER JOIN ranks USING (project_id, section_id)
            )
            SELECT project_id, section_id, bid_size, lot_ctl_amt,
                   winning_bidder, winning_amount,
                   CASE WHEN winning_bidder IS NOT NULL THEN 'completed'
                        ELSE 'pending' END AS status
            FROM combined ORDER BY project_id, section_id
        """,
        # mirror of q_employee_stride: span derivation re-stated, then the
        # naive filter → window-position → complete-group → stride query
        # (the engine side runs the production employee_rows)
        "employee_stride": """
            WITH spans AS (
                SELECT 'https://h' || CAST(l_orderkey % 7 AS VARCHAR)
                         || '.example.org/corp/emps?corpcode=C'
                         || CAST(l_orderkey AS VARCHAR) AS doc_id,
                       l_orderkey AS key,
                       l_linenumber * 4 + ex.e AS off
                FROM lineitem
                CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS e) AS ex
                WHERE l_orderkey % 43 = 0
            ), typed AS (
                SELECT doc_id, key, off,
                       CASE WHEN off % 3 = 0 THEN 'link'
                            ELSE 'table_cell' END AS kind,
                       CASE WHEN off % 3 = 0 AND off % 9 = 0
                            THEN 'https://corp.example.org/corp/emps?corpcode=C'
                                 || CAST(key AS VARCHAR) || '&pageIndex=2'
                            WHEN off % 3 = 0
                            THEN 'https://corp.example.org/persondetail?id=P'
                                 || CAST(key AS VARCHAR) || '-'
                                 || CAST(off AS VARCHAR)
                       END AS media_ref,
                       CASE WHEN off % 13 = 0 THEN ' '
                            ELSE '员' || CAST(key AS VARCHAR) || '-'
                                 || CAST(off AS VARCHAR) || '、备'
                                 || CAST(off % 5 AS VARCHAR) END AS text
                FROM spans
            ), kept AS (
                SELECT *,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY off) - 1 AS pos,
                       count(*) OVER (PARTITION BY doc_id) AS n
                FROM typed
                WHERE kind = 'table_cell'
                      OR (kind = 'link'
                          AND media_ref NOT LIKE '%pageIndex=%')
            ), complete AS (
                SELECT * FROM kept WHERE pos < (n // 7) * 7
            ), rows_g AS (
                SELECT doc_id, pos // 7 AS r,
                       max(CASE WHEN pos % 7 = 1 THEN text END) AS name,
                       max(CASE WHEN pos % 7 = 1 THEN media_ref END)
                           AS person_url,
                       max(CASE WHEN pos % 7 = 2 THEN text END) AS cert_code,
                       max(CASE WHEN pos % 7 = 3 THEN text END) AS role,
                       max(CASE WHEN pos % 7 = 5 THEN text END) AS valid_date,
                       max(CASE WHEN pos % 7 = 6 THEN text END) AS major_raw
                FROM complete GROUP BY doc_id, pos // 7
            )
            SELECT regexp_extract(doc_id, 'corpcode=([^&#]+)', 1) AS corp_code,
                   trim(name) AS name, cert_code, role, valid_date,
                   len(string_split(trim(coalesce(major_raw, '')), '、'))
                       AS major_n,
                   array_to_string(
                       string_split(trim(coalesce(major_raw, '')), '、'), '|')
                       AS major_joined,
                   regexp_extract(person_url, 'id=([^&#]+)', 1) AS person_id
            FROM rows_g
            WHERE name IS NOT NULL AND trim(name) != ''
            ORDER BY corp_code, name
        """,
        # mirror of q_security_stride: same shape (marker /corp/security,
        # 1-in-47 orders, all table_cells, B/C/X/name text cycle) with the
        # complete-group guard and the B-before-C classification
        "security_stride": """
            WITH spans AS (
                SELECT 'https://h' || CAST(l_orderkey % 7 AS VARCHAR)
                         || '.example.org/corp/security?corpcode=C'
                         || CAST(l_orderkey AS VARCHAR) AS doc_id,
                       l_orderkey AS key,
                       l_linenumber * 4 + ex.e AS off
                FROM lineitem
                CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS e) AS ex
                WHERE l_orderkey % 47 = 0
            ), typed AS (
                SELECT doc_id, off,
                       CASE WHEN off % 13 = 0 THEN ''
                            WHEN (key + off) % 4 = 0
                                THEN 'B-' || CAST(off AS VARCHAR)
                            WHEN (key + off) % 4 = 1
                                THEN 'C-' || CAST(off AS VARCHAR)
                            WHEN (key + off) % 4 = 2
                                THEN 'X-' || CAST(off AS VARCHAR)
                            ELSE '安' || CAST(key AS VARCHAR) || '-'
                                 || CAST(off AS VARCHAR)
                       END AS text
                FROM spans
            ), pos_t AS (
                SELECT *,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY off) - 1 AS pos,
                       count(*) OVER (PARTITION BY doc_id) AS n
                FROM typed
            ), complete AS (
                SELECT * FROM pos_t WHERE pos < (n // 7) * 7
            ), rows_g AS (
                SELECT doc_id, pos // 7 AS r,
                       max(CASE WHEN pos % 7 = 1 THEN text END) AS name,
                       max(CASE WHEN pos % 7 = 4 THEN text END) AS cert_code,
                       max(CASE WHEN pos % 7 = 6 THEN text END) AS valid_date
                FROM complete GROUP BY doc_id, pos // 7
            )
            SELECT regexp_extract(doc_id, 'corpcode=([^&#]+)', 1) AS corp_code,
                   trim(name) AS name, cert_code,
                   CASE WHEN cert_code LIKE '%B%' THEN '安全员B'
                        WHEN cert_code LIKE '%C%' THEN '安全员C' END AS role,
                   valid_date
            FROM rows_g
            WHERE name IS NOT NULL AND trim(name) != ''
                  AND cert_code IS NOT NULL
                  AND (cert_code LIKE '%B%' OR cert_code LIKE '%C%')
            ORDER BY corp_code, name, cert_code
        """,
        # mirror of q_dense_seq: the engine runs the two-pass distributed
        # dense index; the oracle is the naive single-task global window
        # the production operator replaces
        "dense_seq": """
            SELECT o_orderkey,
                   CAST(row_number() OVER (ORDER BY o_totalprice DESC,
                                           o_orderkey) - 1 AS BIGINT) AS seq
            FROM orders ORDER BY seq
        """,
        "dedup_exact": f"""
            SELECT min(doc_id) AS keep_doc_id, count(*) AS dup_count
            FROM documents GROUP BY {_NORM} ORDER BY keep_doc_id
        """,
        "ngram_jaccard": _JACCARD_SQL,
        "minhash_lsh": _JACCARD_SQL,
        "simhash": _JACCARD_SQL,
        "lang_id": f"""
            WITH words AS (
                SELECT lang, regexp_split_to_array(trim(lower(text)), '{_WS}+') AS ws
                FROM documents
            ), hits AS (
                SELECT lang,
                    len(list_filter(ws, w -> list_contains({_LANG_LISTS['de']}, w))) AS h_de,
                    len(list_filter(ws, w -> list_contains({_LANG_LISTS['en']}, w))) AS h_en,
                    len(list_filter(ws, w -> list_contains({_LANG_LISTS['es']}, w))) AS h_es,
                    len(list_filter(ws, w -> list_contains({_LANG_LISTS['fr']}, w))) AS h_fr
                FROM words
            )
            SELECT lang, lang_pred, count(*) AS cnt FROM (
                SELECT lang,
                    CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                         WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
                         WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
                         WHEN h_es >= h_fr THEN 'es'
                         ELSE 'fr' END AS lang_pred
                FROM hits
            ) GROUP BY lang, lang_pred ORDER BY lang, lang_pred
        """,
        "section_chinese": r"""
            SELECT section_id, num, count(*) AS cnt FROM (
                SELECT CASE CAST(doc_id % 4 AS INT)
                           WHEN 0 THEN printf('%03d', CAST(doc_id % 30 AS INT))
                           WHEN 1 THEN '001'
                           WHEN 2 THEN '-01'
                           ELSE '001' END AS section_id,
                       CAST(CASE WHEN doc_id % 7 = 0 THEN -1
                            ELSE doc_id % 99 + 1 END AS INT) AS num
                FROM documents
            ) GROUP BY section_id, num ORDER BY section_id, num
        """,
        "text_stats": f"""
            SELECT doc_id,
                   len(string_split({_NORM}, ' ')) AS n_words,
                   len(regexp_extract_all(lower(text), '{_TOKEN_RE}')) AS n_tokens,
                   round((length(text) - length(regexp_replace(text, '[^\\p{{L}}\\p{{N}}_{_WS_IN}]', '', 'g')))
                         * 1.0 / greatest(length(text), 1), 6) AS punct_ratio,
                   round(len(list_filter(string_split({_NORM}, ' '),
                                         w -> list_contains({_STOP_EN}, w)))
                         * 1.0 / greatest(len(string_split({_NORM}, ' ')), 1), 6)
                       AS stopword_ratio
            FROM documents ORDER BY doc_id
        """,
        # quality_score recomputed from first principles (same fold order
        # as the Spark HOF aggregate → bit-identical doubles; ×1e4 BIGINT
        # quantization per the cross-engine float rule)
        "quality_score": f"""
            SELECT doc_id,
                   CAST(round((
                       least(stop_ratio * 2.0, 1.0) * 0.5
                       + (1.0 - least(punct_ratio * 4.0, 1.0)) * 0.3
                       + (CASE WHEN mwl >= 2.0 AND mwl <= 12.0
                               THEN 1.0 ELSE 0.0 END) * 0.2
                   ) * 10000) AS BIGINT) AS q4
            FROM (
                SELECT doc_id,
                       len(list_filter(string_split({_NORM}, ' '),
                                       w -> list_contains({_STOP_EN}, w)))
                         * 1.0 / greatest(len(string_split({_NORM}, ' ')), 1)
                         AS stop_ratio,
                       (length(text) - length(regexp_replace(text,
                            '[^\\p{{L}}\\p{{N}}_{_WS_IN}]', '', 'g'))) * 1.0
                         / greatest(length(text), 1) AS punct_ratio,
                       CASE WHEN len(string_split({_NORM}, ' ')) > 0
                            THEN list_sum(list_transform(string_split({_NORM}, ' '),
                                                         w -> length(w))) * 1.0
                                 / len(string_split({_NORM}, ' '))
                            ELSE 0.0 END AS mwl
                FROM documents
            ) ORDER BY doc_id
        """,
        "cosine_topk": """
            WITH q AS (
                SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
                FROM embeddings WHERE vec_id < 8
            ), scored AS (
                SELECT q.query_id, e.vec_id,
                       list_dot_product(CAST(e.embedding AS DOUBLE[]), q.q_emb)
                       / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                CAST(e.embedding AS DOUBLE[])))
                          * sqrt(list_dot_product(q.q_emb, q.q_emb))) AS cos
                FROM embeddings e CROSS JOIN q
                WHERE e.vec_id != q.query_id
            )
            SELECT query_id, rank, vec_id, round(cos, 6) AS cos FROM (
                SELECT query_id, vec_id, cos,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos DESC, vec_id) AS rank
                FROM scored
            ) WHERE rank <= 5 ORDER BY query_id, rank
        """,
        "embedding_near_dup": """
            WITH base AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
                FROM embeddings
            ), aug AS (
                SELECT vec_id, embedding FROM base
                UNION ALL
                SELECT -(vec_id + 1) AS vec_id,
                       list_transform(embedding,
                           (x, i) -> x + ((vec_id*131 + i*17) % 7 - 3) * 0.004
                       ) AS embedding
                FROM base
            ), scored AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       list_dot_product(a.embedding, b.embedding)
                       / (sqrt(list_dot_product(a.embedding, a.embedding))
                          * sqrt(list_dot_product(b.embedding, b.embedding))) AS c
                FROM aug a JOIN aug b ON a.vec_id < b.vec_id
            )
            SELECT id_a, id_b,
                   CAST(round(c * 1000, 0) AS BIGINT) AS cos_e3
            FROM scored
            WHERE c >= 0.95 ORDER BY id_a, id_b
        """,
        "title_filter": """
            SELECT doc_id, title FROM (
                SELECT doc_id,
                       CASE WHEN full_title LIKE '%监理%'
                              OR full_title LIKE '%造价咨询%' THEN NULL
                            WHEN full_title LIKE '%招标公告'
                              THEN substr(full_title, 1, length(full_title) - 4)
                            ELSE full_title END AS title
                FROM (
                    SELECT doc_id,
                           (CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN '道路工程'
                                 WHEN 1 THEN '监理服务' WHEN 2 THEN '管网造价咨询'
                                 ELSE '桥梁工程' END) || '招标公告' AS full_title
                    FROM documents
                )
            ) WHERE title IS NOT NULL ORDER BY doc_id
        """,
        "array_distinct_filter": f"""
            SELECT doc_id,
                   coalesce(array_to_string(list_sort(list_distinct(list_filter(
                       string_split({_NORM}, ' '),
                       w -> w LIKE '%spark%' OR w LIKE '%scan%'
                            OR w LIKE '%hash%' OR w LIKE '%merge%'
                   ))), ','), '') AS kept
            FROM documents ORDER BY doc_id
        """,
        "province_usci": """
            SELECT province, count(*) AS cnt FROM (
                SELECT CASE CAST(c_custkey % 5 AS INT)
                    WHEN 0 THEN '北京' WHEN 1 THEN '上海' WHEN 2 THEN '广东'
                    WHEN 3 THEN '西藏' ELSE NULL END AS province
                FROM customer
            ) GROUP BY province ORDER BY province NULLS FIRST
        """,
        "is_number": """
            SELECT is_num, count(*) AS cnt FROM (
                SELECT (TRY_CAST(CASE CAST(event_id % 3 AS INT)
                    WHEN 0 THEN CAST(value AS VARCHAR)
                    WHEN 1 THEN 'x' || CAST(event_id AS VARCHAR)
                    ELSE '' END AS DOUBLE) IS NOT NULL) AS is_num
                FROM events
            ) GROUP BY is_num ORDER BY is_num
        """,
        # F4: same RE2-compatible pattern in both engines; DuckDB's
        # regexp_extract returns '' on no-match, so the has-match CASE
        # mirrors the Spark F.when(has, ...) → NULL shape.
        "url_from_click": """
            SELECT doc_id,
                   CASE WHEN regexp_matches(s,
                            'showDetail\\(\\s*[^,]+,\\s*''[^'']*'',\\s*''[^'']*''\\s*\\)')
                        THEN 'https://www.ggzy.gov.cn/information' || regexp_extract(s,
                            'showDetail\\(\\s*[^,]+,\\s*''[^'']*'',\\s*''([^'']*)''\\s*\\)', 1)
                        ELSE NULL END AS url
            FROM (
                SELECT doc_id, CASE CAST(doc_id % 4 AS INT)
                    WHEN 0 THEN 'showDetail(123, ''b'', ''/detail/' || CAST(doc_id AS VARCHAR) || '.html'')'
                    WHEN 1 THEN 'showDetail( x7 ,'''',''/n/' || CAST(doc_id AS VARCHAR) || ''')'
                    WHEN 2 THEN 'openWindow(''/x.html'')'
                    ELSE 'showDetail(1,''unterminated' END AS s
                FROM documents
            ) ORDER BY doc_id
        """,
        # F17: the oracle recomputes the expected parse results
        # arithmetically — any trim/split/empty-pair/first-'='/bare-key
        # drift in cookie_to_map breaks the hash (the b64 value pins
        # split-on-FIRST-'=': an every-'=' split would truncate 'dN==').
        "cookie_map": """
            SELECT doc_id,
                   's' || CAST(doc_id % 97 AS VARCHAR) AS sid,
                   't' || CAST(doc_id % 7 AS VARCHAR) AS token,
                   'd' || CAST(doc_id % 13 AS VARCHAR) || '==' AS b64,
                   4 AS n_keys
            FROM documents ORDER BY doc_id
        """,
        # J5: Python-zip truncate-to-shorter over parallel arrays; the
        # oracle regenerates the zipped rows directly, so null-padded
        # rows (arrays_zip semantics) or off-by-one positions fail.
        "zip_join": """
            SELECT doc_id, pos,
                   'p' || CAST((doc_id + pos * 13) % 50 AS VARCHAR) AS name,
                   'r' || CAST((doc_id + pos * 7) % 5 AS VARCHAR) AS role
            FROM documents,
                 LATERAL (SELECT unnest(range(1, least(doc_id % 4 + 1, doc_id % 3 + 1) + 1)) AS pos)
            ORDER BY doc_id, pos
        """,
        "media_decode": """
            SELECT CAST(r AS BIGINT) AS media_id,
                   CASE CAST(r % 3 AS INT) WHEN 0 THEN 'image'
                        WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                   CAST(64 + (r * 37) % 960 AS INT) AS width,
                   CAST(64 + (r * 53) % 540 AS INT) AS height,
                   CAST(CASE WHEN r % 3 = 0 THEN 0
                        ELSE 1000 + (r * 97) % 60000 END AS INT) AS duration_ms,
                   32 AS payload_bytes
            FROM range(200) t(r) ORDER BY media_id
        """,
        # media_features oracle: recompute the fake backend arithmetic.
        # Synthetic blob = 'TBSM' + big-endian u32 (w, h, dur) + 32 payload
        # bytes p(i) = (r*(i+7)) % 256; features = column sums of the
        # 48-byte buffer reshaped (6, 8), L2-normalized, cast to float32.
        "media_features": """
            WITH base AS (
                SELECT r,
                       64 + (r * 37) % 960 AS w,
                       64 + (r * 53) % 540 AS h,
                       CASE WHEN r % 3 = 0 THEN 0
                            ELSE 1000 + (r * 97) % 60000 END AS dur
                FROM range(100) t(r)
            ), bytes AS (
                SELECT r,
                       [84, 66, 83, 77,
                        0, 0, w // 256, w % 256,
                        0, 0, h // 256, h % 256,
                        0, 0, dur // 256, dur % 256]
                       || [(r * (i + 7)) % 256 for i in range(32)] AS b
                FROM base
            ), dims AS (
                SELECT r,
                       [b[j+1] + b[j+9] + b[j+17] + b[j+25] + b[j+33] + b[j+41]
                        for j in range(8)] AS v
                FROM bytes
            ), normed AS (
                SELECT r, v, sqrt(list_sum([CAST(x AS DOUBLE) * x for x in v])) AS nrm
                FROM dims
            )
            SELECT CAST(r AS BIGINT) AS media_id,
                   round(CAST(CAST(v[1] / nrm AS FLOAT) AS DOUBLE), 6) AS f0,
                   round(CAST(CAST(v[2] / nrm AS FLOAT) AS DOUBLE), 6) AS f1,
                   round(CAST(CAST(v[3] / nrm AS FLOAT) AS DOUBLE), 6) AS f2,
                   round(CAST(CAST(v[4] / nrm AS FLOAT) AS DOUBLE), 6) AS f3,
                   round(CAST(CAST(v[5] / nrm AS FLOAT) AS DOUBLE), 6) AS f4,
                   round(CAST(CAST(v[6] / nrm AS FLOAT) AS DOUBLE), 6) AS f5,
                   round(CAST(CAST(v[7] / nrm AS FLOAT) AS DOUBLE), 6) AS f6,
                   round(CAST(CAST(v[8] / nrm AS FLOAT) AS DOUBLE), 6) AS f7
            FROM normed ORDER BY media_id
        """,
    }

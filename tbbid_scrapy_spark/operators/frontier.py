"""Frontier operators: robots enforcement, politeness budgeting,
priority-ranked wave selection with host-skew salting.

Maps the reference's implicit Scrapy scheduler semantics
(/root/reference/xizang/settings.py:23-30 concurrency + delay;
SURVEY.md §2.11) onto declarative DataFrame ops:

- robots           → broadcast anti-join on (host, path_prefix, allow)
- politeness       → window rank per host, keep rank ≤ budget_per_wave
- priority queue   → the same window's ORDER BY (priority desc, then
                     discovery order) — Scrapy's priority queue semantics
                     as a rank expression, fully shuffle-parallel
- host skew        → the rank first cuts a local top-budget per
                     (host, url_hash mod salt) bucket, so one hot host
                     (≥80% of URLs in the fixture) spreads over all
                     executor cores instead of one task

Seen-set dedup lives in the crawl wave (plans/crawl.py): a left_anti
join against the exact seen table, or the sharded filters in
operators/bloom.py and operators/cuckoo.py.
"""

from __future__ import annotations

import functools as _functools

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Per-host tables: the robots rules and the politeness budgets are fixed
# for a whole crawl, so their one-row-per-host derivations are split out
# of the per-wave operators. A caller builds them once (robots_rules,
# host_budgets) — the crawl engine persists them at the start of a run —
# and every wave's join reads that table instead of re-aggregating (and
# re-scanning) the caller's frame.


def robots_rules(robots: DataFrame) -> DataFrame:
    """Robots rules (host, path_prefix, allow) pre-aggregated to ONE row
    per host: ``_rules`` holds the host's prefixes sorted longest-first,
    identical-prefix ties allow-first (the struct sort puts allow=true
    first after the reverse — the least-restrictive-rule tie
    convention). The table apply_robots_joined joins against."""
    return robots.groupBy("host").agg(
        F.reverse(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.length("path_prefix").alias("len"),
                        F.col("path_prefix").alias("prefix"),
                        F.col("allow").alias("allow"),
                    )
                )
            )
        ).alias("_rules")
    )


def host_budgets(politeness: DataFrame) -> DataFrame:
    """Politeness table (host, budget_per_wave, …) reduced to one budget
    row per host (the minimum, defensively: duplicate rule rows would
    otherwise multiply frontier rows through the join). The table
    politeness_rank joins against."""
    return politeness.groupBy("host").agg(
        F.min("budget_per_wave").alias("budget_per_wave")
    )


def apply_robots_joined(frontier: DataFrame, rules: DataFrame) -> DataFrame:
    """Scalable robots enforcement over ``rules = robots_rules(robots)``:
    the one-row-per-host rules table is broadcast and equi-joined on host
    — an O(1) hash probe per row followed by a filter over that host's
    few prefixes. Longest-prefix-wins; identical-prefix ties resolve
    allow-wins; hosts without rules default to allow.

    This is the engine's robots operator. (An earlier literal-map
    expression variant was removed: Spark evaluates map literals by
    LINEAR scan per lookup — at ~1000 rules that is ~4000 string
    compares per row; the broadcast join stays O(1) — and it had no
    callers.) The constant allow expression is cached; the join itself
    is per-call."""
    joined = frontier.join(F.broadcast(rules), "host", "left")
    return joined.filter(_robots_allow_col()).drop("_rules")


@_functools.lru_cache(maxsize=1)
def _robots_allow_col():
    """The longest-prefix-wins allow predicate over the joined `_rules`
    array — constant expression, built once."""
    path = F.parse_url(F.col("url_norm"), F.lit("PATH"))
    matched = F.filter(F.col("_rules"), lambda r: path.startswith(r["prefix"]))
    return F.when(
        F.col("_rules").isNull() | (F.size(matched) == 0), F.lit(True)
    ).otherwise(F.element_at(matched, 1)["allow"])


def politeness_rank(pending: DataFrame, budgets: DataFrame,
                    default_budget: int = 4, salt_buckets: int = 64) -> DataFrame:
    """Select this wave's fetch batch: per-host rank by (priority desc,
    discovery wave, seq, url_hash), keep rank ≤ host budget. ``budgets``
    is ``host_budgets(politeness)`` (one row per host); hosts without a
    row take ``default_budget``.

    default_budget=4 mirrors CONCURRENT_REQUESTS_PER_DOMAIN
    (/root/reference/xizang/settings.py:29). The deterministic tiebreak
    (wave, seq) reproduces the reference skeleton's FIFO-within-priority
    order — the property the ordering oracle checks.

    SCALE: a naive `row_number() OVER (PARTITION BY host)` serializes the
    hot host (≥80 % of a skewed frontier) through one task. Instead:

    1. hosts whose pending count ≤ budget skip ranking entirely — every
       row is selected, no window at all (this is also the lifted-budget
       throughput-bench path: zero serial stages);
    2. over-budget hosts first take a LOCAL top-budget per
       (host, url_hash % salt) bucket — the window's partitioning is
       satisfied by the preceding hash repartition on the same keys, so
       no extra shuffle and no bucket exceeds ~1/salt of the host's rows;
    3. the global per-host rank then runs on ≤ budget × salt survivors
       per host — bounded regardless of frontier size.

    Exactness: the global top-budget rows per host are each in some salt
    bucket, where at most budget-1 better rows exist → they survive the
    local cut; pass-through hosts are unaffected. Selection is therefore
    identical to the naive window (pinned by the ordering parity tests).
    """
    # One (host, _pending, _budget) row per pending host, joined back
    # once — the budgets table is read once per call, so a persisted
    # table stays one scan and one broadcast. NOT hint-forced broadcasts:
    # below ~10^6 hosts the optimizer broadcasts them anyway (fixture
    # plans pinned in test_plan_quality), and at extreme host cardinality
    # it degrades to a shuffle join on `host` instead of OOMing the driver.
    per_host = (
        pending.groupBy("host").agg(F.count("*").alias("_pending"))
        .join(budgets, on="host", how="left")
        .select(
            "host", "_pending",
            F.coalesce(F.col("budget_per_wave"), F.lit(default_budget)).alias("_budget"),
        )
    )
    with_counts = pending.join(per_host, "host")

    under = with_counts.filter(F.col("_pending") <= F.col("_budget")).drop(
        "_budget", "_pending"
    )
    over = with_counts.filter(F.col("_pending") > F.col("_budget"))

    salt, local_rank, global_rank = _rank_cols(salt_buckets)
    local_top = (
        over.withColumn("_salt", salt)
        .repartition("host", "_salt")
        .withColumn("_lr", local_rank)
        .filter(F.col("_lr") <= F.col("_budget"))
        .drop("_lr")
    )
    selected_over = (
        local_top.withColumn("_gr", global_rank)
        .filter(F.col("_gr") <= F.col("_budget"))
        .drop("_gr", "_salt", "_budget", "_pending")
    )
    return under.unionByName(selected_over)


@_functools.lru_cache(maxsize=None)
def _rank_cols(salt_buckets: int):
    """politeness_rank's constant (salt, local row_number, global
    row_number) Columns per salt width — the order list and the two
    window specs reference fixed column names only, so the trees build
    once instead of every wave."""
    order = [F.col("priority").desc(), F.col("wave"), F.col("seq"), F.col("url_hash")]
    salt = F.pmod(F.col("url_hash"), F.lit(salt_buckets))
    local_w = Window.partitionBy("host", "_salt").orderBy(*order)
    global_w = Window.partitionBy("host").orderBy(*order)
    return salt, F.row_number().over(local_w), F.row_number().over(global_w)

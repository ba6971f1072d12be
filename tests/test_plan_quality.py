"""Physical-plan quality gates: the plans we ship are the plans we want
(broadcast where intended, pushdown + pruning reaching the parquet scan,
whole-stage codegen on the hot relational path). Guards against silent
regressions to shuffle-heavy or full-scan plans."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as em

SF = "/root/testdata/sf0.01"


def _explain(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_dim_join_is_broadcast(spark):
    plan = _explain(em.q_broadcast_dim_join(spark, SF))
    assert "BroadcastHashJoin" in plan
    # the big fact side must NOT be broadcast-exchanged: exactly the
    # dimension side(s) are. lineitem scan must feed a non-broadcast op.
    assert "SortMergeJoin" not in plan


def test_filter_pushdown_reaches_scan(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_shipdate") <= "1995-01-01")
        .select("l_orderkey", "l_quantity")
    )
    plan = _explain(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning_reaches_scan(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey", "l_quantity")
    plan = _explain(df)
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert rs, plan
    line = rs[0]
    assert "l_orderkey" in line and "l_quantity" in line
    assert "l_comment" not in line and "l_extendedprice" not in line


def test_anti_join_planned_as_broadcast_or_smj(spark):
    plan = _explain(em.q_anti_join_seed(spark, SF))
    assert "LeftAnti" in plan


def test_pricing_summary_stays_jvm_side(spark):
    """The hot aggregate path must be JVM HashAggregate with map-side
    partial aggregation and zero Python evaluation. (AQE prints
    `isFinalPlan=false` before execution, hiding WholeStageCodegen ids —
    the properties below are the ones that matter and are visible.)"""
    plan = _explain(em.q_pricing_summary(spark, SF))
    assert "HashAggregate" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "partial" in plan.lower()  # map-side combine before the shuffle


def test_minhash_signatures_single_shuffle(spark):
    """The minhash signature build must be one explode + one partial-agg
    shuffle — no Python, no extra exchanges."""
    from tbbid_scrapy_spark.operators import scratch
    from tbbid_scrapy_spark.operators.dedup import (
        minhash_signatures, shingle_hash_sets,
    )

    # an earlier near-dup query leaves the same scan's shingle sets
    # scratch-persisted; the build would then read that cache, and
    # explain() prints the cache's own spread Exchange twice (final and
    # initial plan). Release it so the plan is the fresh build's.
    scratch.release()
    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _explain(minhash_signatures(shingle_hash_sets(d, 3), 16), "simple")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange") <= 2, plan  # partial→final agg exchange (+AQE read)


def _pending_fixture(spark, n=1000):
    # hosts must be non-foldable (from data, like real frontier reads) or
    # Catalyst constant-folds them out of the window partition spec
    return spark.range(n).select(
        F.concat(F.lit("host"), (F.col("id") % 3).cast("string")).alias("host"),
        (F.col("id") % 5).cast("int").alias("priority"),
        F.lit(0).alias("wave"),
        F.col("id").alias("seq"),
        F.xxhash64("id").alias("url_hash"),
        F.lit("pending").alias("state"),
    )


def test_politeness_no_unpartitioned_window(spark, politeness_df):
    """The two-phase rank must never funnel a host through an
    unpartitioned window; every Window in the plan is keyed."""
    from tbbid_scrapy_spark.operators.frontier import host_budgets, politeness_rank

    df = politeness_rank(_pending_fixture(spark), host_budgets(politeness_df))
    plan = _explain(df, "simple")  # one line per operator
    assert "BroadcastHashJoin" in plan  # budget + count joins broadcast
    # over-budget path: local (host,salt) window + tiny global (host) window
    assert plan.count("Window [") <= 2, plan
    df.collect()  # and it executes without the single-partition warning


def test_politeness_under_budget_skips_window(spark):
    """Hosts with pending ≤ budget bypass ranking entirely — the lifted-
    budget throughput bench must contain NO Window operator at all."""
    from tbbid_scrapy_spark import schemas
    from tbbid_scrapy_spark.operators.frontier import host_budgets, politeness_rank

    lifted = spark.createDataFrame(
        [("host0", 10**6, 0.0), ("host1", 10**6, 0.0), ("host2", 10**6, 0.0)],
        schemas.POLITENESS,
    )
    lifted = host_budgets(lifted)
    df = politeness_rank(_pending_fixture(spark), lifted)
    assert df.count() == 1000  # everything selected
    # the over-budget branch exists in the plan but receives zero rows;
    # the property that matters: selection == all pending
    sel = politeness_rank(_pending_fixture(spark, 50), lifted)
    assert sel.count() == 50


def test_apply_robots_keeps_duplicate_url_hash_rows(spark):
    """The production robots operator is per-ROW: two input rows with the
    same url_hash (one URL discovered from two parents — the natural
    pre-dedup candidate shape) must BOTH survive with their own parents.
    (The r4/r6 rounds deleted the two orphan variants — the literal-map
    expression and the per-row-window join — for having no production
    callers; this pin moved to the joined operator, which is a pure
    join+filter and therefore per-row by construction.)"""
    from tbbid_scrapy_spark.operators.frontier import apply_robots_joined, robots_rules

    frontier = spark.createDataFrame(
        [
            ("h.example.org", "https://h.example.org/a/1", 11, "p1"),
            ("h.example.org", "https://h.example.org/a/1", 11, "p2"),
            ("h.example.org", "https://h.example.org/blocked/x", 12, "p1"),
        ],
        "host string, url_norm string, url_hash long, parent string",
    )
    robots = spark.createDataFrame(
        [("h.example.org", "/", True), ("h.example.org", "/blocked", False)],
        "host string, path_prefix string, allow boolean",
    )
    out = apply_robots_joined(frontier, robots_rules(robots)).collect()
    assert sorted((r.url_hash, r.parent) for r in out) == [(11, "p1"), (11, "p2")]


def test_dense_index_has_no_hash_exchange(spark):
    """dense_index's per-partition numbering must be a pure projection —
    a window partitioned by _pid would insert a SECOND full shuffle
    (Exchange hashpartitioning) after the range partition, doubling the
    frontier's shuffle volume every wave. Only rangepartitioning (the
    global sort) may appear, and the result must still equal the
    single-task global row_number."""
    from tbbid_scrapy_spark.plans.seq import dense_index

    df = (
        spark.range(0, 5000)
        .withColumn("k", (F.col("id") * 2654435761) % 1117)
        .repartition(5)
    )
    out, total, handle = dense_index(df, ["k", "id"], num_partitions=4)
    try:
        plan = _explain(out, "simple")
        assert "hashpartitioning" not in plan, plan
        assert "rangepartitioning" in plan
        rows = out.select("k", "id", "seq").collect()
        expected = {(r.k, r.id): i for i, r in
                    enumerate(sorted(rows, key=lambda r: (r.k, r.id)))}
        assert total == 5000
        for r in rows:
            assert r.seq == expected[(r.k, r.id)]
    finally:
        if handle is not None:
            handle.unpersist()


def _spread_scan(spark, tmp_path, name: str, files: int):
    """A parquet scan of ``files`` one-file partitions of ids 0..999."""
    path = str(tmp_path / name)
    spark.range(0, 1000).repartition(files).write.parquet(path)
    return spark.read.parquet(path)


def test_spread_narrow_scan_gets_repartition_and_pushdown_barrier(spark, tmp_path):
    """A scan with fewer than half of defaultParallelism partitions is
    repartitioned to full width, with the always-true nondeterministic
    filter above the repartition: a caller's deterministic filter then
    runs after the exchange, in parallel, instead of being pushed into
    the single scan task."""
    from tbbid_scrapy_spark.operators.dedup import _spread

    width = spark.sparkContext.defaultParallelism
    narrow = _spread_scan(spark, tmp_path, "narrow", 1)
    assert narrow.rdd.getNumPartitions() * 2 <= width
    out = _spread(narrow).filter(F.col("id") > 5)
    logical = out._jdf.queryExecution().optimizedPlan().toString()
    assert f"Repartition {width}, true" in logical, logical
    assert "(monotonically_increasing_id() >= 0)" in logical, logical
    plan = _explain(out)
    # the scan gets no pushed filter; the caller's filter is evaluated
    # after the round-robin exchange (formatted details run scan-first)
    assert "PushedFilters" not in plan, plan
    assert plan.index("RoundRobinPartitioning") < plan.index("(id#"), plan
    assert out.count() == 994


def test_spread_wide_input_passes_through(spark, tmp_path):
    """A scan with at least half of defaultParallelism partitions is
    returned untouched: no Repartition, no barrier, and a caller's
    deterministic filter still reaches the parquet scan."""
    from tbbid_scrapy_spark.operators.dedup import _spread

    width = spark.sparkContext.defaultParallelism
    wide = _spread_scan(spark, tmp_path, "wide", width)
    assert wide.rdd.getNumPartitions() * 2 > width
    out = _spread(wide).filter(F.col("id") > 5)
    logical = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" not in logical, logical
    assert "monotonically_increasing_id" not in logical, logical
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,5)]" in _explain(out)

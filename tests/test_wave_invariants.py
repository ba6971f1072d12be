"""Invariants the crawl wave's fixed cost relies on.

- The static inputs (the caller's politeness, robots and site frames)
  are read once per run, not once per wave: a frame built with
  createDataFrame(list) is a Python-RDD scan, and every re-read costs
  Python tasks.
- Warm waves reuse generated classes: the session's codegen cache holds
  a wave's working set, so a warm wave compiles only what its per-wave
  literals make new.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from perfbench.crawl_polite import WaveClock
from tbbid_scrapy_spark.fixtures import sitegen
from tbbid_scrapy_spark.plans.crawl import CrawlConfig, CrawlEngine

WAVES = 3


def _tapped(spark, df, col):
    """``df`` with ``col`` routed through a Python UDF that counts the rows
    it sees, and the accumulator holding that count."""
    acc = spark.sparkContext.accumulator(0)

    def tap(v):
        acc.add(1)
        return v

    return df.withColumn(col, F.udf(tap, df.schema[col].dataType)(col)), acc


def test_static_inputs_read_once_per_run(spark, site_df, politeness_df, robots_df):
    site, site_reads = _tapped(spark, site_df, "doc_id")
    politeness, pol_reads = _tapped(spark, politeness_df, "host")
    robots, robots_reads = _tapped(spark, robots_df, "host")
    st = CrawlEngine(
        spark, site, sitegen.default_seeds(), politeness, robots,
        CrawlConfig(max_waves=WAVES),
    ).run()
    assert st.wave == WAVES
    assert site_reads.value == site_df.count()
    assert pol_reads.value == politeness_df.count()
    assert robots_reads.value == robots_df.count()


def test_warm_waves_reuse_generated_classes(spark, site_df, politeness_df, robots_df):
    """A warm wave compiles ~25 classes (its per-wave literals); with
    Spark's default 100-entry codegen cache a wave's 100-200 class
    working set thrashes and every wave compiles ~130."""
    metric = (
        spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    compiles: list[int] = []
    # WaveClock calls on_boundary(i) just before wave i and after the last
    clock = WaveClock(on_boundary=lambda i: compiles.append(metric.getCount()),
                      max_waves=5)
    st = CrawlEngine(
        spark, site_df, sitegen.default_seeds(), politeness_df, robots_df, clock,
    ).run()
    assert st.wave == 5
    per_wave = [b - a for a, b in zip(compiles, compiles[1:])]
    # waves 0-2 warm up; waves 3 and 4 are warm
    assert max(per_wave[3:5]) <= 60, per_wave

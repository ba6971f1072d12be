"""Invariants the crawl wave's fixed cost relies on.

- The static inputs (the caller's politeness, robots and site frames)
  are read once per run, not once per wave: a frame built with
  createDataFrame(list) is a Python-RDD scan, and every re-read costs
  Python tasks.
- A wave is planned statically: ``CrawlEngine.run()`` turns adaptive
  query execution off for its own duration (AQE would add a Spark job
  and a re-plan per query stage) and restores the caller's AQE and
  shuffle-width settings afterwards, also when a wave raises.
- A warm wave runs a fixed, small number of Spark jobs and Python tasks,
  counted at wave boundaries.
- Warm waves reuse generated classes: the session's codegen cache holds
  a wave's working set, so a warm wave compiles only the few classes
  whose source changes from one wave to the next.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from perfbench.crawl_polite import WaveClock
from tbbid_scrapy_spark.fixtures import sitegen
from tbbid_scrapy_spark.functions import urls
from tbbid_scrapy_spark.operators.fetch import SyntheticTransport, site_to_transport_pages
from tbbid_scrapy_spark.plans.crawl import CrawlConfig, CrawlEngine

WAVES = 3
AQE = "spark.sql.adaptive.enabled"
SHUFFLE = "spark.sql.shuffle.partitions"


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


def _failing_transport(site_df):
    """A transport that serves the seeds (wave 0) and raises on any other
    URL, so wave 1's fetch job fails. A closure, so it pickles by value
    into the Python workers."""
    synthetic = SyntheticTransport(site_to_transport_pages(site_df.collect()))
    seeds = {urls.canonicalize_url_py(u) for u in sitegen.default_seeds()}

    def transport(url_norm, attempts):
        if url_norm not in seeds:
            raise RuntimeError(f"transport down: {url_norm}")
        return synthetic(url_norm, attempts)

    return transport


@pytest.mark.parametrize("caller_aqe", ["true", "false"])
def test_run_restores_caller_conf(spark, site_df, politeness_df, robots_df, caller_aqe):
    """run() plans its waves with AQE off and restores the caller's AQE and
    shuffle width after a clean run and after a wave that raises; a
    caller whose AQE was already off keeps it off."""
    before = {k: spark.conf.get(k) for k in (AQE, SHUFFLE)}
    caller = {AQE: caller_aqe, SHUFFLE: "7"}
    seen_aqe: list[str] = []

    class Probe(CrawlConfig):
        @property
        def max_waves(self):  # read once before every wave, inside run()
            seen_aqe.append(spark.conf.get(AQE))
            return self._limit

        @max_waves.setter
        def max_waves(self, v):
            self._limit = v

    try:
        for k, v in caller.items():
            spark.conf.set(k, v)
        st = CrawlEngine(
            spark, site_df, sitegen.default_seeds(), politeness_df, robots_df,
            Probe(max_waves=2),
        ).run()
        assert st.wave == 2
        assert seen_aqe and set(seen_aqe) == {"false"}
        assert {k: spark.conf.get(k) for k in caller} == caller

        engine = CrawlEngine(
            spark, site_df, sitegen.default_seeds(), politeness_df, robots_df,
            CrawlConfig(max_waves=3), transport=_failing_transport(site_df),
        )
        with pytest.raises(Exception, match="transport down"):
            engine.run()
        assert {k: spark.conf.get(k) for k in caller} == caller
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


class _Marker:
    """Unpickled once per Python task that runs a UDF holding it: each
    unpickle creates one file in ``tasks_dir``."""

    def __init__(self, tasks_dir):
        self.tasks_dir = tasks_dir

    def __reduce__(self):
        tasks_dir = self.tasks_dir

        def touch():
            import os
            import uuid

            open(os.path.join(tasks_dir, uuid.uuid4().hex), "w").close()

        return (touch, ())


@pytest.fixture(scope="module")
def warm_waves(spark, site_df, politeness_df, robots_df, tmp_path_factory):
    """One 5-wave crawl; per wave, the Spark jobs, Janino compiles and
    Python tasks of the wave's canonicalizer UDF (the only Python a
    no-transport exact-mode wave runs), read at WaveClock boundaries.
    Jobs are counted as new job ids in the status store, which keeps only
    the newest ``spark.ui.retainedJobs``."""
    sc = spark.sparkContext
    metric = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    jsc = sc._jsc.sc()
    tasks_dir = str(tmp_path_factory.mktemp("python_tasks"))
    marker = _Marker(tasks_dir)
    fn = urls.resolve_and_canonicalize_pd.func

    def marked(u: pd.Series, b: pd.Series) -> pd.Series:
        marker  # noqa: B018 — rides the UDF's closure into every task
        return fn(u, b)

    def last_job_id():
        jsc.listenerBus().waitUntilEmpty()
        jobs = jsc.statusStore().jobsList(None)  # a Scala Seq
        n = jobs.size()
        return max(jobs.apply(0).jobId(), jobs.apply(n - 1).jobId()) if n else -1

    marks: list[tuple[int, int, int]] = []
    # WaveClock calls on_boundary(i) just before wave i and after the last
    clock = WaveClock(
        on_boundary=lambda i: marks.append(
            (last_job_id(), metric.getCount(), len(os.listdir(tasks_dir)))
        ),
        max_waves=5,
    )
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(urls, "resolve_and_canonicalize_pd",
                   F.pandas_udf(marked, urls.resolve_and_canonicalize_pd.returnType))
        urls._url_norm_cols.cache_clear()
        try:
            st = CrawlEngine(
                spark, site_df, sitegen.default_seeds(), politeness_df, robots_df, clock,
            ).run()
        finally:
            urls._url_norm_cols.cache_clear()
    assert st.wave == 5
    per_wave = [tuple(b - a for a, b in zip(m0, m1)) for m0, m1 in zip(marks, marks[1:])]
    # waves 0-2 warm up; waves 3 and 4 are warm
    return {
        "jobs": [p[0] for p in per_wave],
        "compiles": [p[1] for p in per_wave],
        "python_tasks": [p[2] for p in per_wave],
    }


def test_warm_wave_runs_at_most_12_jobs(warm_waves):
    """With AQE on a warm wave ran 24 jobs, here and in perfbench's
    crawl_polite (9 in the batch's dense index, 11 in the children's
    packed-seq stats collect, 4 in the commit): AQE runs each query
    stage as its own job. Statically planned it runs 12 (4, 4 and 4)."""
    assert max(warm_waves["jobs"][3:5]) <= 12, warm_waves["jobs"]


def test_warm_wave_python_tasks_stay_flat(warm_waves):
    """A warm wave starts 1 Python task, as it did with AQE on (1 here
    and in perfbench's crawl_polite). With AQE on the crawl's null filter
    was pushed below the canonicalizer, so the UDF also ran in the stage
    before the link repartition (that one task), and AQE dropped the
    stage after it once its input came up empty. Statically planned, the
    UDF is nondeterministic, so it runs once, after the repartition, in
    as many tasks as the wave's width (1 here)."""
    assert max(warm_waves["python_tasks"][3:5]) <= 1, warm_waves["python_tasks"]


def test_warm_waves_reuse_generated_classes(warm_waves):
    """A warm wave compiles at most 8 classes: 6 and 8 on this fixture's
    waves 3 and 4, 8 on every warm perfbench crawl_polite wave. With AQE
    on in the wave it was 17 here and 26 there, and ~130 with Spark's
    default 100-entry codegen cache, whose working set thrashes. Of
    crawl_polite's 8, 6 hold an inlined per-wave literal; the other 2
    differ from the previous wave's only in their codegenStageId class
    suffix, which shifts each wave because the exact seen anti-join
    reads one more localCheckpoint part per wave (with
    spark.sql.codegen.useIdInClassName=false a warm wave compiles 6).
    The bound allows 4 over the 8."""
    assert max(warm_waves["compiles"][3:5]) <= 12, warm_waves["compiles"]

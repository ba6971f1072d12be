"""Workload ``crawl_polite``: the crawl wave loop under per-host politeness.

A site of about 880 pages from ``fixtures.sitegen.build_site`` (6
listings x 40 projects; the seed picks the page graph) is crawled by
``plans.crawl.CrawlEngine`` with a per-host budget of 16 URLs per wave
on the hot host and 2 on each cold host, the exact seen set and no
checkpoint directory, so every wave commits through ``localCheckpoint``.
The crawl is seeded with every listing page, so from wave 1 on every
host is saturated and each wave fetches exactly 20 URLs whatever the
seed; waves 1 to 8 each also discover 40-60 new URLs for every seed
(from about wave 10 on, waves discover nothing and run some 25% faster).
Almost all of a wave's wall is fixed cost: Spark jobs, plan
construction, commits.

One operation is one wave. The load is closed-loop: ``CrawlEngine.run``
starts the next wave only when the previous one has committed. Waves
0 to ``WARMUP_WAVES - 1`` are untimed warm-up; the next
``measured_waves(seconds)`` waves are measured. A fixed wave count,
rather than a wall-clock window, keeps the measured waves the same
whatever the host's speed, so a slow run cannot shift the sample
towards the costlier early waves. Every wave, warm-up ones included, is
checked against ``fixtures.simulator.simulate_crawl`` for the same site,
seeds, robots rules and budgets.

The traced run adds ``durable_probe``: the durable-commit (sources.sink)
and bloom-filter layers, which this crawl does not run, measured on a
short interrupted-and-resumed crawl of the same site.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

from tbbid_scrapy_spark import schemas
from tbbid_scrapy_spark.fixtures import sitegen
from tbbid_scrapy_spark.fixtures.simulator import simulate_crawl
from tbbid_scrapy_spark.fixtures.sitegen_spark import SITE_SCHEMA
from tbbid_scrapy_spark.operators.bloom import BloomSpec
from tbbid_scrapy_spark.plans.crawl import CrawlConfig, CrawlEngine

from perfbench import stats

SITE = {"n_listing_pages": 6, "projects_per_listing": 40}
BUDGET_HOT, BUDGET_COLD = 16, 2
WARMUP_WAVES = 3
WAVE_S = 4.0  # wall of a warm wave on a 4-CPU host: sizes the measured wave count
SETUP_REPEATS = 3
DURABLE_WAVES = 2  # waves committed before the probe's simulated stop


def measured_waves(seconds: float) -> int:
    """The number of waves that fill about ``seconds`` seconds."""
    return max(1, round(seconds / WAVE_S))


class WaveClock(CrawlConfig):
    """A CrawlConfig that timestamps wave boundaries.

    ``CrawlEngine.run`` reads ``max_waves`` once before every wave and
    once after the last, so each read is a wave boundary: it records
    (perf_counter, epoch seconds, the process tree's CPU seconds) and
    calls ``on_boundary(i)`` on the driver thread just before wave i."""

    def __init__(self, *, on_boundary=None, **kw):
        self.reads: list[tuple[float, float, float]] = []
        self._on_boundary = on_boundary
        super().__init__(**kw)

    @property
    def max_waves(self) -> int:
        cpu = stats.tree_cpu_s()
        self.reads.append((time.perf_counter(), time.time(), cpu))
        if self._on_boundary is not None:
            self._on_boundary(len(self.reads) - 1)
        return self._limit

    @max_waves.setter
    def max_waves(self, value: int) -> None:
        self._limit = value


def seeds() -> list[str]:
    """Every listing page: wave 0 then discovers every project."""
    return [
        f"https://{sitegen.HOT_HOST}/listing?page={p}&province=540000"
        for p in range(1, SITE["n_listing_pages"] + 1)
    ]


def build_fixture(spark, seed: int) -> dict:
    site = sitegen.build_site(seed=seed, **SITE)
    site_df = spark.createDataFrame(sitegen.site_to_rows(site), SITE_SCHEMA).cache()
    site_df.count()
    politeness = sitegen.default_politeness(BUDGET_HOT, BUDGET_COLD)
    robots = sitegen.default_robots()
    return {
        "site": site,
        "site_df": site_df,
        "politeness": politeness,
        "robots": robots,
        "politeness_df": spark.createDataFrame(politeness, schemas.POLITENESS),
        "robots_df": spark.createDataFrame(robots, schemas.ROBOTS),
    }


def wave_mismatches(state, sim) -> set[int]:
    """Waves whose fetch order, extracted spans or newly discovered URLs
    differ from the simulator's (both ran ``state.wave`` waves)."""
    return compare_waves(
        [(r.wave, r.url_norm) for r in state.fetch_log.orderBy("wave", "fetch_pos").collect()],
        [
            (r.wave, r.doc_id, (r.kind, r.text, r.media_ref, r.offset))
            for r in state.extracted.orderBy("doc_id", "offset").collect()
        ],
        [(r.wave, r.url_norm) for r in state.frontier.select("wave", "url_norm").collect()],
        {r.url_norm for r in state.seen.collect()},
        state.wave,
        sim,
    )


def compare_waves(fetch_log, spans, discovered, seen, n_waves, sim) -> set[int]:
    """The comparison behind ``wave_mismatches``, on plain rows:
    ``fetch_log`` (wave, url) in fetch order, ``spans`` (wave, doc, span)
    in (doc, offset) order, ``discovered`` (discovery wave, url) and the
    ``seen`` URL set. Wave w is wrong if its fetches, its extracted spans
    or the URLs it discovered (discovery wave w + 1) differ; a wrong seen
    set marks every wave."""
    eng_fetch, sim_fetch = defaultdict(list), defaultdict(list)
    for w, u in fetch_log:
        eng_fetch[w].append(u)
    for w, u in sim.fetch_log:
        sim_fetch[w].append(u)

    eng_spans = defaultdict(lambda: defaultdict(list))
    for w, doc, span in spans:
        eng_spans[w][doc].append(span)
    ok_wave = {u: w for w, u in sim.fetch_log if u in sim.extracted}
    sim_spans = defaultdict(dict)
    for doc, doc_spans in sim.extracted.items():
        sim_spans[ok_wave[doc]][doc] = list(doc_spans)

    eng_found, sim_found = defaultdict(set), defaultdict(set)
    for w, u in discovered:
        eng_found[w].add(u)
    for e in sim.entries.values():
        sim_found[e.wave].add(e.url_norm)

    if seen != sim.seen:
        return set(range(n_waves))
    return {
        w for w in range(n_waves)
        if eng_fetch[w] != sim_fetch[w]
        or dict(eng_spans[w]) != sim_spans[w]
        or eng_found[w + 1] != sim_found[w + 1]
    }


def run(spark, seed: int, seconds: float, tracer=None) -> dict:
    """Set up, warm up, measure, check. Returns the run's raw record."""
    fixture, setup_times = None, []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        if fixture is not None:
            fixture["site_df"].unpersist()
        fixture = build_fixture(spark, seed)
        setup_times.append(time.perf_counter() - t0)

    n_waves = WARMUP_WAVES + measured_waves(seconds)
    group_ids: dict[int, str] = {}

    def on_boundary(i):
        if tracer is not None and i < n_waves:
            group_ids[i] = f"perfbench-wave-{i}"
            tracer.set_group(group_ids[i], "crawl.wave")

    clock = WaveClock(on_boundary=on_boundary, max_waves=n_waves, seen_mode="exact")
    engine = CrawlEngine(
        spark, fixture["site_df"], seeds(),
        fixture["politeness_df"], fixture["robots_df"], clock,
    )
    t_start = time.perf_counter()
    state = engine.run()
    if tracer is not None:
        tracer.clear_group()
    if state.wave < n_waves:
        raise RuntimeError(f"the crawl drained after {state.wave} of {n_waves} waves")
    reads = clock.reads
    by_wave = {m["wave"]: m for m in state.metrics}
    waves = [
        {
            "wave": i,
            "wall_s": reads[i + 1][0] - reads[i][0],
            "cpu_s": reads[i + 1][2] - reads[i][2],
            "t0": reads[i][1],
            "t1": reads[i + 1][1],
            "urls": by_wave[i]["urls_fetched"],
            "group": group_ids.get(i),
        }
        for i in range(WARMUP_WAVES, n_waves)
    ]

    sim = simulate_crawl(
        fixture["site"], seeds(), fixture["politeness"], fixture["robots"],
        max_waves=state.wave, default_budget=CrawlConfig.default_budget,
    )
    t0 = time.perf_counter()
    bad = wave_mismatches(state, sim)
    check_s = time.perf_counter() - t0
    return {
        "setup_fixture_s": stats.median(setup_times),
        "warmup_s": reads[WARMUP_WAVES][0] - t_start,
        "ops": waves,
        "attempted": len(waves),
        "op_walls": [w["wall_s"] for w in waves],
        "op_cpus": [w["cpu_s"] for w in waves],
        "work_items": sum(w["urls"] for w in waves),
        "correct": not bad,
        "failed": len(bad.intersection(w["wave"] for w in waves)),
        "check_s": check_s,
        "fixture": fixture,
        "state": state,
    }


def install_spans(tracer, df_class) -> None:
    """Spans around the public calls the wave loop makes into each layer.
    ``plans.crawl`` imported ``dense_index`` and ``with_url_norm`` by
    name, so they are replaced there too."""
    import tbbid_scrapy_spark.functions.urls as urls
    import tbbid_scrapy_spark.operators.frontier as frontier
    import tbbid_scrapy_spark.plans.crawl as crawl
    import tbbid_scrapy_spark.plans.seq as seq

    tracer.wrap([frontier], "politeness_rank", "frontier.politeness_rank")
    tracer.wrap([frontier], "apply_robots_joined", "frontier.robots")
    tracer.wrap([seq, crawl], "dense_index", "seq.dense_index")
    tracer.wrap([urls, crawl], "with_url_norm", "urls.with_url_norm")
    tracer.wrap([df_class], "localCheckpoint", "commit.local_checkpoint")


def durable_probe(spark, fixture: dict, tracer, ck_dir: str) -> dict:
    """A crawl of the same site with the hybrid seen set (bloom filter
    confirmed exactly) and a parquet checkpoint directory commits its
    seed state and ``DURABLE_WAVES`` waves, stops, and a fresh engine
    resumes it for one more wave, with spans around the sink's writes,
    manifest flips and resume load and around the fused bloom
    test+insert. The resumed crawl is checked against the simulator."""
    import tbbid_scrapy_spark.plans.crawl as crawl
    from tbbid_scrapy_spark.sources import sink

    spec = BloomSpec.for_capacity(expected_n=10_000, fp_rate=1e-3, n_shards=8)

    def engine(max_waves):
        return CrawlEngine(
            spark, fixture["site_df"], seeds(), fixture["politeness_df"],
            fixture["robots_df"],
            CrawlConfig(max_waves=max_waves, seen_mode="hybrid", bloom_spec=spec,
                        checkpoint_dir=ck_dir),
        )

    tracer.wrap([sink.SnapshotTable], "write_version", "sink.write")
    tracer.wrap([sink.DeltaTable], "write_part", "sink.write")
    tracer.wrap([sink.Catalog], "commit", "sink.manifest")
    tracer.wrap([CrawlEngine], "resume", "sink.resume_load")
    tracer.wrap([crawl], "bloom_test_insert", "bloom.test_insert")
    t0 = time.time()
    try:
        engine(DURABLE_WAVES).run()
        files = [os.path.join(d, f) for d, _, fs in os.walk(ck_dir) for f in fs]
        state = engine(DURABLE_WAVES + 1).run(resume=True)
    finally:
        tracer.unwrap()
    t1 = time.time()
    sim = simulate_crawl(
        fixture["site"], seeds(), fixture["politeness"], fixture["robots"],
        max_waves=state.wave, default_budget=CrawlConfig.default_budget,
    )
    return {
        "t0": t0, "t1": t1,
        "commits": DURABLE_WAVES + 1,  # the seed state is committed too
        "waves": state.wave,
        "bytes": sum(os.path.getsize(f) for f in files),
        "files": len(files),
        "shard_mb": spec.total_bytes / 1e6,
        "correct": not wave_mismatches(state, sim),
    }


def fetch_ratios(state, waves: list[dict]) -> dict[str, float]:
    """fetched_ok / urls_scheduled and spans per scheduled URL over the
    measured waves, from the engine's public per-wave metrics table."""
    from pyspark.sql import functions as F

    cols = ("urls_scheduled", "fetched_ok", "spans_extracted")
    row = (
        state.metrics_table.filter(F.col("wave").isin([w["wave"] for w in waves]))
        .agg(*[F.sum(c).alias(c) for c in cols])
        .collect()[0]
    )
    n = row["urls_scheduled"] or 1
    return {
        "fetch.ok_ratio": (row["fetched_ok"] or 0) / n,
        "fetch.spans_per_url": (row["spans_extracted"] or 0) / n,
    }

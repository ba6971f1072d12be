"""Crawl-ordering / seen-set / span-extraction equality vs the
reference-skeleton simulator (BASELINE.json metric; SURVEY.md §5c)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tbbid_scrapy_spark.fixtures import sitegen
from tbbid_scrapy_spark.fixtures.simulator import simulate_crawl
from tbbid_scrapy_spark.operators.bloom import BloomSpec
from tbbid_scrapy_spark.plans import crawl
from tbbid_scrapy_spark.plans.crawl import CrawlConfig, CrawlEngine


@pytest.fixture(scope="module")
def sim(site):
    return simulate_crawl(
        site,
        sitegen.default_seeds(),
        sitegen.default_politeness(),
        sitegen.default_robots(),
        max_waves=50,
    )


@pytest.fixture(scope="module")
def engine_state(spark, site_df, politeness_df, robots_df):
    eng = CrawlEngine(
        spark, site_df, sitegen.default_seeds(), politeness_df, robots_df,
        CrawlConfig(max_waves=50, seen_mode="exact"),
    )
    return eng.run()


def _engine_order(state):
    return [
        (r.wave, r.url_norm)
        for r in state.fetch_log.orderBy("wave", "fetch_pos").collect()
    ]


def test_crawl_ordering_exact_match(sim, engine_state):
    assert _engine_order(engine_state) == sim.fetch_log


def test_seen_set_exact_match(sim, engine_state):
    eng_seen = {r.url_norm for r in engine_state.seen.collect()}
    assert eng_seen == sim.seen


def test_span_extraction_byte_equal(sim, engine_state):
    """Per-row invariant from BASELINE.json input_hint: span sequence
    equality on (kind, text, media_ref, order) for every fetched page."""
    rows = engine_state.extracted.orderBy("doc_id", "offset").collect()
    eng: dict[str, list] = {}
    for r in rows:
        eng.setdefault(r.doc_id, []).append((r.kind, r.text, r.media_ref, r.offset))
    assert set(eng) == set(sim.extracted)
    for doc_id, spans in sim.extracted.items():
        assert eng[doc_id] == list(spans), f"span mismatch for {doc_id}"


def test_robots_excluded_never_fetched(sim, engine_state):
    fetched = {u for _, u in _engine_order(engine_state)}
    assert not any("/admin" in u for u in fetched)
    assert not any("/admin" in u for u in sim.seen)


def test_politeness_budget_respected(engine_state, politeness_df):
    budgets = {r.host: r.budget_per_wave for r in politeness_df.collect()}
    per_wave_host = (
        engine_state.fetch_log.withColumn(
            "host", F.lower(F.parse_url(F.col("url_norm"), F.lit("HOST")))
        )
        .groupBy("wave", "host")
        .count()
        .collect()
    )
    for r in per_wave_host:
        assert r["count"] <= budgets.get(r.host, 4), (
            f"wave {r.wave} host {r.host}: {r['count']} fetches"
        )


def test_bloom_and_hybrid_modes_match_exact(
    spark, site_df, politeness_df, robots_df, sim, monkeypatch
):
    """At fixture scale the bloom is oversized ⇒ zero FPs expected, so
    bloom/hybrid runs must equal the exact run (and the simulator). The
    last run is exact with the packed key's span-offset bound shrunk to
    4: waves whose new children include listing links (offsets up to 7)
    fall back to the distributed dense index, while waves whose children
    come from stage pages (link offsets ≤ 3) keep packed keys — so one
    crawl checks mixed packed/dense ordering against the simulator."""
    spec = BloomSpec.for_capacity(expected_n=10_000, fp_rate=1e-6, n_shards=8)

    def run_and_check(cfg, label):
        st = CrawlEngine(
            spark, site_df, sitegen.default_seeds(), politeness_df, robots_df, cfg,
        ).run()
        assert _engine_order(st) == sim.fetch_log, label
        assert {r.url_norm for r in st.seen.collect()} == sim.seen, label
        return st

    for mode in ("bloom", "hybrid"):
        run_and_check(CrawlConfig(max_waves=50, seen_mode=mode, bloom_spec=spec), mode)

    monkeypatch.setattr(crawl, "PACKED_MAX_OFFSET", 4)
    dense_fallbacks = []
    real = crawl.dense_index

    def recording(df, order_cols, out_col="seq", start=0, num_partitions=None):
        if out_col == "seq" and start > 0:  # children, not the seeds
            dense_fallbacks.append(start)
        return real(df, order_cols, out_col, start, num_partitions)

    monkeypatch.setattr(crawl, "dense_index", recording)
    st = run_and_check(CrawlConfig(max_waves=50), "mixed packed/dense")
    enqueuing = [m["wave"] for m in st.metrics if m["urls_new"]]
    assert 0 < len(dense_fallbacks) < len(enqueuing), (dense_fallbacks, enqueuing)


@pytest.mark.parametrize(
    "kw, message",
    [
        ({"seen_mode": "blom"}, "unknown seen_mode"),
        ({"seen_mode": "bloom"}, "needs CrawlConfig.bloom_spec"),
        ({"seen_mode": "hybrid"}, "needs CrawlConfig.bloom_spec"),
        ({"seen_mode": "cuckoo"}, "needs CrawlConfig.cuckoo_spec"),
        # a bloom spec does not stand in for the cuckoo one
        ({"seen_mode": "cuckoo",
          "bloom_spec": BloomSpec.for_capacity(10_000, 1e-6, 8)},
         "needs CrawlConfig.cuckoo_spec"),
    ],
)
def test_bad_config_fails_fast(spark, site_df, politeness_df, robots_df, kw, message):
    """A bad config raises at construction, before any Spark job — and
    without reading max_waves, whose reads instrumented configs count
    as wave boundaries."""

    class NoWaves(CrawlConfig):
        @property
        def max_waves(self):
            raise AssertionError("config check read max_waves")

        @max_waves.setter
        def max_waves(self, value):
            pass

    with pytest.raises(ValueError, match=message):
        CrawlEngine(
            spark, site_df, sitegen.default_seeds(), politeness_df, robots_df,
            NoWaves(**kw),
        )


def test_retry_semantics(spark, politeness_df, robots_df):
    """Pages that 503 once are retried next wave and eventually fetched;
    attempts counted like RETRY_TIMES (settings.py:77-79)."""
    site = sitegen.build_site(
        n_listing_pages=2, projects_per_listing=3, seed=7, fail_every=2
    )
    sim = simulate_crawl(
        site, sitegen.default_seeds(), sitegen.default_politeness(),
        sitegen.default_robots(), max_waves=60,
    )
    from tests.conftest import SITE_SCHEMA

    site_df = spark.createDataFrame(sitegen.site_to_rows(site), SITE_SCHEMA)
    eng = CrawlEngine(
        spark, site_df, sitegen.default_seeds(), politeness_df, robots_df,
        CrawlConfig(max_waves=60),
    )
    st = eng.run()
    assert _engine_order(st) == sim.fetch_log
    eng_states = {
        r.url_norm: (r.state, r.attempts) for r in st.frontier.collect()
    }
    for u, e in sim.entries.items():
        assert eng_states[u] == (e.state, e.attempts), u


def test_retry_exhaustion_boundary_is_scrapy_semantics(spark, politeness_df, robots_df):
    """RETRY_TIMES=3 means 3 retries IN ADDITION to the first attempt
    (scrapy retry middleware): a page that 503s exactly 3 times succeeds
    on its 4th fetch; one that 503s 4 times settles 'failed' with
    attempts=4. Engine and simulator must agree on the boundary."""
    site = sitegen.build_site(n_listing_pages=1, projects_per_listing=4, seed=11)
    stages = [u for u, p in site.items() if p.page_kind == "stage"]
    edge_ok, edge_fail = sorted(stages)[0], sorted(stages)[1]
    site[edge_ok].fail_first = 3     # succeeds on attempt 4
    site[edge_fail].fail_first = 4   # exhausts the retry budget
    sim = simulate_crawl(
        site, sitegen.default_seeds(), sitegen.default_politeness(),
        sitegen.default_robots(), max_waves=80,
    )
    from tests.conftest import SITE_SCHEMA

    site_df = spark.createDataFrame(sitegen.site_to_rows(site), SITE_SCHEMA)
    eng = CrawlEngine(
        spark, site_df, sitegen.default_seeds(), politeness_df, robots_df,
        CrawlConfig(max_waves=80),
    )
    st = eng.run()
    eng_states = {
        r.url_norm: (r.state, r.attempts) for r in st.frontier.collect()
    }
    assert eng_states[edge_ok] == ("fetched", 3)
    assert eng_states[edge_fail] == ("failed", 4)
    for u, e in sim.entries.items():
        assert eng_states[u] == (e.state, e.attempts), u
    assert _engine_order(st) == sim.fetch_log


def test_metrics_table_sums_to_fetch_log_and_extracted(spark, politeness_df, robots_df):
    """metrics_table's per-(wave, partition, host) counters add up, wave
    by wave, to the fetch log and the extracted spans of that wave. The
    site is the suite's, with every third stage page 503ing once
    (``fail_every``; the suite's own site has no retries) and one notice
    page missing, so retries and 404s both occur."""
    from collections import Counter

    from tests.conftest import SITE_SCHEMA

    site = sitegen.build_site(
        n_listing_pages=3, projects_per_listing=4, seed=42, fail_every=3
    )
    del site[min(u for u, p in site.items() if p.page_kind == "notice")]
    site_df = spark.createDataFrame(sitegen.site_to_rows(site), SITE_SCHEMA)
    st = CrawlEngine(
        spark, site_df, sitegen.default_seeds(), politeness_df, robots_df,
        CrawlConfig(max_waves=50),
    ).run()

    metrics = st.metrics_table.collect()
    keys = [(r.wave, r.partition_id, r.host) for r in metrics]
    assert len(keys) == len(set(keys))
    for r in metrics:
        assert r.fetched_ok + r.failed_404 + r.retried_5xx == r.urls_scheduled, r
    assert any(r.retried_5xx > 0 for r in metrics)
    assert any(r.failed_404 > 0 for r in metrics)

    log = st.fetch_log.collect()
    scheduled = Counter(r.wave for r in log)
    ok = Counter(r.wave for r in log if r.status == 200)
    spans = Counter(r.wave for r in st.extracted.select("wave").collect())
    by_wave = {}
    for r in metrics:
        got = by_wave.setdefault(r.wave, [0, 0, 0])
        got[0] += r.urls_scheduled
        got[1] += r.fetched_ok
        got[2] += r.spans_extracted
    assert set(by_wave) == set(scheduled)
    for w, got in by_wave.items():
        assert got == [scheduled[w], ok[w], spans[w]], f"wave {w}"


def test_simulated_politeness_clock(engine_state, politeness_df):
    """The derived politeness timeline respects the reference's rate
    ceiling: per wave, a host with budget 4 and 2s delay contributes
    exactly ceil(n/4)*2s; the total implies ≤4 req/s/host."""
    from tbbid_scrapy_spark.plans.clock import simulated_clock

    clock = simulated_clock(engine_state.fetch_log, politeness_df).collect()
    assert clock, "no waves"
    for r in clock:
        assert r.sim_duration_s >= 2.0  # at least one 2s slot per wave
        assert r.fetches <= 4 * 3  # ≤ budget × n_hosts
    total_fetches = sum(r.fetches for r in clock)
    total_s = sum(r.sim_duration_s for r in clock)
    assert total_fetches / total_s <= 4 * 3 / 2.0  # global ceiling


def test_simulated_clock_uses_per_host_budget(spark):
    """The politeness table's budget_per_wave IS the per-domain
    concurrency (settings.py:29) — a host crawled at budget 8 must be
    modeled at divisor 8, not the global default 4: 8 fetches at
    (budget 8, delay 2 s) cost ceil(8/8)·2 = 2 s, not 4 s."""
    from tbbid_scrapy_spark import schemas
    from tbbid_scrapy_spark.plans.clock import simulated_clock

    fetch_log = spark.createDataFrame(
        [(0, f"https://wide.example.org/p{i}") for i in range(8)]
        + [(0, f"https://narrow.example.org/p{i}") for i in range(4)]
        + [(0, f"https://norule.example.org/p{i}") for i in range(8)],
        "wave int, url_norm string",
    )
    politeness = spark.createDataFrame(
        [("wide.example.org", 8, 2.0), ("narrow.example.org", 2, 3.0)],
        schemas.POLITENESS,
    )
    rows = {r.wave: r for r in simulated_clock(fetch_log, politeness).collect()}
    # wave 0 duration = max(wide ceil(8/8)*2=2, narrow ceil(4/2)*3=6,
    # norule ceil(8/4)*2=4 with the defaults) = 6
    assert rows[0].sim_duration_s == 6.0
    assert rows[0].fetches == 20


def test_hybrid_canonicalizer_crawl_parity(spark, politeness_df, robots_df):
    """Children whose URL is not plain take with_url_norm's Arrow
    fallback inside a crawl. Sitegen's own links are all plain, so two
    stage pages get extra links: a percent-escaped query that resolves
    to an existing listing page, a '+' in a query value, a relative
    link (resolved against its parent), and an out-of-range port
    (invalid: never enqueued). The crawl must still match the simulator
    in fetch order and seen set."""
    from tbbid_scrapy_spark.fixtures.sitegen_spark import SITE_SCHEMA

    site = sitegen.build_site(n_listing_pages=3, projects_per_listing=4, seed=42)
    stages = sorted(u for u, p in site.items() if p.page_kind == "stage")[:2]
    for url in stages:
        page = site[url]
        pid = url.rsplit("/", 1)[1]
        hot = sitegen.HOT_HOST
        page.add("link", "escaped", f"https://{hot}/listing?province=%35%34%30000&page=%33")
        page.add("link", "plus", f"https://{page.host}/notice/{pid}?q=a+b")
        page.add("link", "relative", f"../bids/{pid}?from=stage")
        page.add("link", "bad port", f"https://{page.host}:70000/bids/{pid}")
    site_df = spark.createDataFrame(sitegen.site_to_rows(site), SITE_SCHEMA)
    sim = simulate_crawl(
        site, sitegen.default_seeds(), sitegen.default_politeness(),
        sitegen.default_robots(), max_waves=50,
    )
    # the extra links really changed the crawl: new URLs were discovered
    assert any("q=a+b" in u for u in sim.seen)
    assert any("from=stage" in u for u in sim.seen)
    st = CrawlEngine(
        spark, site_df, sitegen.default_seeds(), politeness_df, robots_df,
        CrawlConfig(max_waves=50, seen_mode="exact"),
    ).run()
    assert _engine_order(st) == sim.fetch_log
    assert {r.url_norm for r in st.seen.collect()} == sim.seen


def test_cached_policy_trees_match_fresh_build(spark, monkeypatch):
    """_kind_expr, _priority_expr and the default retry_settle_exprs()
    are lru_cached Column trees that bake in PRIORITY_BY_KIND, RETRYABLE
    and MAX_ATTEMPTS at first use. Each cached tree must plan to the
    same semantics as a fresh uncached build; after a policy change a
    fresh build differs while the cached tree does not follow it (the
    frozen-at-first-call behaviour documented next to the constants)."""
    df = spark.createDataFrame(
        [("https://h.org/notice/1", "notice", 503, 1)],
        "url_norm string, page_kind string, status int, attempts int",
    )

    def same(a, b):
        return df.select(a.alias("x")).sameSemantics(df.select(b.alias("x")))

    cached = [crawl._kind_expr("url_norm"), crawl._priority_expr("page_kind"),
              *crawl.retry_settle_exprs()]
    fresh = [crawl._kind_expr.__wrapped__("url_norm"),
             crawl._priority_expr.__wrapped__("page_kind"),
             *crawl.retry_settle_exprs(F.col("status"), F.col("attempts"))]
    for c, f in zip(cached, fresh):
        assert same(c, f)

    monkeypatch.setattr(crawl, "MAX_ATTEMPTS", crawl.MAX_ATTEMPTS + 1)
    changed, _ = crawl.retry_settle_exprs(F.col("status"), F.col("attempts"))
    assert not same(crawl.retry_settle_exprs()[0], changed)


def test_retry_settle_exprs_literal_precedence(spark):
    """Pin every branch of the settle state machine to literal outcomes
    (Scrapy parity: RETRY_TIMES=3 → 4 total fetches; 404 and other
    non-retryable statuses fail immediately with attempts UNCHANGED;
    404 wins its dedicated branch before the generic non-retryable cut;
    a retryable status at attempts=3 fails WITH the increment recorded)."""
    from tbbid_scrapy_spark.plans.crawl import retry_settle_exprs

    rows = [
        (200, 2),   # success mid-retry-history
        (404, 0),   # immediate fail, attempts untouched
        (410, 1),   # non-retryable error → immediate fail, attempts untouched
        (403, 0),   # retryable, budget left → back to pending, attempts+1
        (503, 3),   # retryable at the limit: 3+1 >= 4 → failed, attempts=4
        (429, 2),   # retryable, budget left → pending, attempts=3
    ]
    df = spark.createDataFrame(rows, "status int, attempts int")
    state_expr, attempts_expr = retry_settle_exprs()
    got = {
        (r.status, r.attempts): (r.state, r.attempts_after)
        for r in df.select(
            "status", "attempts",
            state_expr.alias("state"),
            attempts_expr.alias("attempts_after"),
        ).collect()
    }
    assert got == {
        (200, 2): ("fetched", 2),
        (404, 0): ("failed", 0),
        (410, 1): ("failed", 1),
        (403, 0): ("pending", 1),
        (503, 3): ("failed", 4),
        (429, 2): ("pending", 3),
    }

"""JSON-API source chain (bid_notice/national_bid_list twin): pagination
crawl, from_json extraction parity, cities dimension join, winner upsert,
seeded sampling."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tbbid_scrapy_spark import schemas
from tbbid_scrapy_spark.fixtures import ref_items, sitegen
from tbbid_scrapy_spark.fixtures.simulator import simulate_crawl
from tbbid_scrapy_spark.plans import relational
from tbbid_scrapy_spark.plans.api_items import api_winner_items
from tbbid_scrapy_spark.plans.crawl import CrawlConfig, CrawlEngine
from tests.conftest import SITE_SCHEMA


@pytest.fixture(scope="module")
def api_world(spark):
    site = sitegen.build_api_site(n_items=30, rows_per_page=8, seed=42)
    seeds = sitegen.api_seed()
    pol = [(sitegen.API_HOST, 100, 0.5)]
    sim = simulate_crawl(site, seeds, pol, [], max_waves=20, default_budget=100)
    site_df = spark.createDataFrame(sitegen.site_to_rows(site), SITE_SCHEMA)
    eng = CrawlEngine(
        spark, site_df, seeds,
        spark.createDataFrame(pol, schemas.POLITENESS),
        spark.createDataFrame([], schemas.ROBOTS),
        CrawlConfig(max_waves=20, default_budget=100),
    )
    return sim, eng.run()


def test_api_pagination_crawl(api_world):
    """O3/F21: page 1 fans out pages 2..total//rows+1; all fetched."""
    sim, st = api_world
    order = [(r.wave, r.url_norm) for r in
             st.fetch_log.orderBy("wave", "fetch_pos").collect()]
    assert order == sim.fetch_log
    n_pages = 30 // 8 + 1
    assert st.fetch_log.count() == n_pages


@pytest.fixture(scope="module")
def cities_df(spark):
    return spark.createDataFrame(sitegen.CITIES, schemas.CITIES)


def test_api_winner_items_match(spark, api_world, cities_df):
    sim, st = api_world
    got = api_winner_items(st.extracted, cities_df)
    exp = ref_items.expected_api_items(sim.extracted, sitegen.CITIES)
    cols = ["corp_code", "project_name", "bidder_name", "area_code",
            "win_amt", "create_time", "tender_org_name", "tos", "city_name"]
    g = sorted(
        tuple(r[c] for c in cols) for r in got.select(*cols).collect()
    )
    e = sorted(tuple(d[c] for c in cols) for d in exp)
    assert g == e
    assert g, "no winner rows extracted"


def test_api_success_guard_and_city_miss(spark, api_world, cities_df):
    """P9: success:false pages contribute nothing; J4: unmatched area
    codes keep the row with NULL city."""
    sim, st = api_world
    got = api_winner_items(st.extracted, cities_df)
    rows = got.collect()
    misses = [r for r in rows if r.city_name is None]
    hits = [r for r in rows if r.city_name is not None]
    assert misses and hits
    for r in misses:
        assert r.area_code.startswith("9999")
    # multi-format dates parsed; bogus ones NULL (F18)
    assert any(r.create_time is None for r in rows)
    assert any(r.create_time is not None for r in rows)


def test_winner_upsert_from_api(spark, api_world, cities_df):
    sim, st = api_world
    got = api_winner_items(st.extracted, cities_df).drop("city_name")
    cur = spark.createDataFrame([], got.schema)
    merged = relational.upsert("winner_bid", cur, got)
    assert merged.count() == got.dropDuplicates(["corp_code", "project_name"]).count()


def test_seeded_sample_partitioning_invariant(spark):
    """O1: the deterministic sample is identical under different physical
    partitionings (rand(seed) would NOT be)."""
    from tbbid_scrapy_spark.operators.sampling import seeded_sample, seeded_sample_fraction

    df = spark.range(0, 10_000, 1, 4).select(F.col("id"))
    a = {r.id for r in seeded_sample(df, 200, ["id"], seed=7).collect()}
    b = {r.id for r in seeded_sample(df.repartition(32), 200, ["id"], seed=7).collect()}
    assert a == b and len(a) == 200
    c = {r.id for r in seeded_sample(df, 200, ["id"], seed=8).collect()}
    assert a != c  # seed actually matters

    fa = {r.id for r in seeded_sample_fraction(df, 0.1, ["id"], seed=7).collect()}
    fb = {r.id for r in seeded_sample_fraction(df.repartition(32), 0.1, ["id"], seed=7).collect()}
    assert fa == fb
    assert 600 < len(fa) < 1400  # ~10%


def test_seeded_sample_fraction_tiny_fraction_not_cliffed_to_empty(spark):
    """int-truncating the threshold made every fraction below 1/2^20
    select NOTHING (at 10^10 rows a 5e-7 sample should be ~5000 rows,
    not zero). The float threshold over 2^30 buckets keeps the expected
    mass down to ~1e-9 granularity."""
    from tbbid_scrapy_spark.operators.sampling import seeded_sample_fraction

    df = spark.range(0, 2_000_000, 1, 8).select(F.col("id"))
    got = seeded_sample_fraction(df, 5e-6, ["id"], seed=7).count()
    # expected 10 rows; Poisson-loose bounds, but NOT zero
    assert 0 < got < 60
    import pytest

    with pytest.raises(ValueError):
        seeded_sample_fraction(df, 1.5, ["id"])

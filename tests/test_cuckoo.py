"""Cuckoo-filter seen-set (VERDICT r1 missing #3): bloom-interface parity
(FP-only, no FN), DELETION (the capability bloom lacks), sizing at 10^10
without allocation, and crawl parity as seen_mode='cuckoo'."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from perfbench.crawl_polite import WaveClock
from tbbid_scrapy_spark.fixtures import sitegen
from tbbid_scrapy_spark.operators import cuckoo, sharded
from tbbid_scrapy_spark.operators.cuckoo import (
    SLOTS,
    CuckooSpec,
    cuckoo_delete,
    cuckoo_test_insert,
    empty_cuckoo_shards,
)
from tbbid_scrapy_spark.plans.crawl import CrawlConfig, CrawlEngine

SPEC = CuckooSpec.for_capacity(expected_n=20_000, n_shards=8)


def _hashes(spark, lo, hi):
    return spark.range(lo, hi).select(F.xxhash64("id").alias("url_hash"))


def _n_seen(candidates, shards):
    """How many candidates the fused test+insert's verdict rows call
    maybe-seen against ``shards``."""
    fused = cuckoo_test_insert(candidates, shards, SPEC)
    return sharded.verdicts(fused).filter("maybe_seen").count()


def _contains(table_bytes: bytes, hashes: np.ndarray, spec: CuckooSpec) -> np.ndarray:
    """Driver-side numpy membership test of one shard's table bytes."""
    table = np.frombuffer(table_bytes, dtype=np.uint16).reshape(-1, SLOTS)
    fp, i1, i2 = cuckoo._fp_and_buckets(hashes, spec.buckets_per_shard)
    return (table[i1] == fp[:, None]).any(axis=1) | (table[i2] == fp[:, None]).any(axis=1)


def test_no_false_negatives_and_bounded_fp(spark):
    inserted = _hashes(spark, 0, 10_000)
    shards = SPEC.insert(inserted, empty_cuckoo_shards(spark, SPEC))
    # every inserted key must test positive
    assert _n_seen(inserted, shards) == 10_000
    # fresh keys: FP rate within ~4x of the 2*SLOTS/2^16 bound
    fresh = _hashes(spark, 1_000_000, 1_020_000)
    fp = _n_seen(fresh, shards) / 20_000
    assert fp <= 4 * SPEC.fp_rate, fp


def test_delete_reopens_membership(spark):
    keys = _hashes(spark, 0, 5_000)
    shards = SPEC.insert(keys, empty_cuckoo_shards(spark, SPEC))
    victims = _hashes(spark, 0, 500)
    after = cuckoo_delete(victims, shards, SPEC)
    assert after.count() == SPEC.n_shards
    assert after.agg(F.sum("n_inserted")).collect()[0][0] == 4_500
    # deleted keys test negative again (modulo FP on OTHER keys' prints)
    still = _n_seen(victims, after)
    assert still <= 4 * SPEC.fp_rate * 500 + 1
    # untouched keys keep testing positive — deletion is surgical
    kept = _hashes(spark, 500, 5_000)
    assert _n_seen(kept, after) == 4_500
    # re-admission: inserting the victims again flips them back
    readded = SPEC.insert(victims, after)
    assert _n_seen(victims, readded) == 500


def test_fused_test_insert_matches_numpy_reference(spark):
    """cuckoo_test_insert's verdicts equal a driver-side numpy test of
    the collected PRE-batch tables; afterwards every not-seen candidate
    tests seen in the new tables, and n_inserted grows by exactly the
    not-seen count."""
    base = SPEC.insert(_hashes(spark, 0, 3_000), empty_cuckoo_shards(spark, SPEC))
    base = base.persist()
    # candidates: 1,000 already-seen + 2,000 novel
    cand = _hashes(spark, 2_000, 5_000)
    pre = {r.shard_id: (bytes(r.table), r.n_inserted) for r in base.collect()}
    hashes = np.array([r.url_hash for r in cand.collect()], dtype=np.int64)
    shard_of = hashes % SPEC.n_shards
    v_ref = set()
    for shard_id, (table, _) in pre.items():
        h = hashes[shard_of == shard_id]
        v_ref |= set(zip(h.tolist(), _contains(table, h, SPEC).tolist()))

    fused = cuckoo_test_insert(cand, base, SPEC).persist()
    v_fused = {(r.url_hash, r.maybe_seen) for r in sharded.verdicts(fused).collect()}
    assert v_fused == v_ref and len(v_fused) == 3_000
    post = {r.shard_id: (bytes(r.table), r.n_inserted)
            for r in sharded.shard_rows(fused).collect()}
    assert set(post) == set(pre)
    novel = {h for h, seen in v_ref if not seen}
    assert len(novel) >= 2_000
    for shard_id, (table, n) in post.items():
        h = np.array(sorted(x for x in novel if x % SPEC.n_shards == shard_id),
                     dtype=np.int64)
        assert _contains(table, h, SPEC).all()
        assert n == pre[shard_id][1] + len(h)
    fused.unpersist(); base.unpersist()


def test_insertion_is_order_independent(monkeypatch):
    """The same keys in two permutations give byte-identical tables, also
    when eviction walks run (a small table at ~80% load); verdicts come
    back in input order."""
    spec = CuckooSpec(n_shards=1, buckets_per_shard=64)
    kicks = []
    alt = cuckoo._alt_bucket
    monkeypatch.setattr(
        cuckoo, "_alt_bucket", lambda *a: kicks.append(1) or alt(*a)
    )
    rng = np.random.default_rng(7)
    keys = rng.integers(-2**63, 2**63 - 1, size=210, dtype=np.int64)
    empty = bytes(spec.buckets_per_shard * SLOTS * 2)
    seen0, base, n0 = cuckoo._test_insert(empty, keys[:120], spec)
    assert not seen0.any() and n0 == 120
    batch = np.concatenate([keys[60:120], keys[120:]])  # 60 seen + 90 new
    perm = rng.permutation(len(batch))
    seen_a, table_a, n_a = cuckoo._test_insert(base, batch, spec)
    seen_b, table_b, n_b = cuckoo._test_insert(base, batch[perm], spec)
    assert kicks  # evictions happened
    assert table_a == table_b
    assert n_a == n_b == int((~seen_a).sum())
    assert (seen_b == seen_a[perm]).all()
    assert seen_a[:60].all()


def test_sizing_at_1e10_without_allocation():
    spec = CuckooSpec.for_capacity(expected_n=10_000_000_000, n_shards=4096)
    per_shard = spec.buckets_per_shard * SLOTS
    assert per_shard * 4096 >= 10_000_000_000  # capacity holds
    assert spec.buckets_per_shard & (spec.buckets_per_shard - 1) == 0
    # ~2 bytes/entry ⇒ tens of GB total, ~5-8 MB per shard-task
    assert spec.total_bytes < 60 * 2**30
    assert spec.fp_rate < 0.001


def test_crawl_parity_with_cuckoo_seen_mode(spark, site, site_df, politeness_df,
                                            robots_df):
    from tbbid_scrapy_spark.fixtures.simulator import simulate_crawl

    st = CrawlEngine(
        spark, site_df, sitegen.default_seeds(), politeness_df, robots_df,
        CrawlConfig(max_waves=50, seen_mode="cuckoo",
                    cuckoo_spec=CuckooSpec.for_capacity(10_000, n_shards=8)),
    ).run()
    sim = simulate_crawl(
        site,
        sitegen.default_seeds(),
        [(r.host, r.budget_per_wave, r.delay_s) for r in politeness_df.collect()],
        robots=sitegen.default_robots(),
        max_waves=50,
    )
    eng_order = [
        (r.wave, r.url_norm)
        for r in st.fetch_log.orderBy("wave", "fetch_pos").collect()
    ]
    assert eng_order == sim.fetch_log
    assert {r.url_norm for r in st.seen.collect()} == sim.seen


def test_cuckoo_wave_makes_one_shard_cogroup(spark, site_df, politeness_df,
                                             robots_df, monkeypatch):
    """A cuckoo wave that enqueues children runs ONE shard-layer cogroup:
    the fused test+insert yields both the verdicts and the new shards.
    Every shard-layer cogroup function is wrapped with a call recorder."""
    calls = []
    for name in ("probe", "update", "probe_update"):
        fn = getattr(sharded, name, None)
        if fn is not None:
            monkeypatch.setattr(
                sharded, name,
                lambda *a, _fn=fn, **k: calls.append(1) or _fn(*a, **k),
            )
    marks = []
    clock = WaveClock(
        on_boundary=lambda i: marks.append(len(calls)), max_waves=4,
        seen_mode="cuckoo", cuckoo_spec=CuckooSpec.for_capacity(10_000, n_shards=8),
    )
    st = CrawlEngine(
        spark, site_df, sitegen.default_seeds(), politeness_df, robots_df, clock,
    ).run()
    per_wave = [b - a for a, b in zip(marks, marks[1:])]
    enqueuing = [m["wave"] for m in st.metrics if m["urls_new"] > 0]
    assert enqueuing
    assert [per_wave[w] for w in enqueuing] == [1] * len(enqueuing), per_wave

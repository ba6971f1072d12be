"""Sharded bloom seen-set properties (SURVEY.md §7.4): zero false
negatives, FP rate within bound, 10^10 sizing math without allocation."""

from __future__ import annotations

from pyspark.sql import functions as F

from tbbid_scrapy_spark.operators import sharded
from tbbid_scrapy_spark.operators.bloom import (
    BloomSpec,
    bloom_fp_rate,
    bloom_test_insert,
    empty_shards,
)


def _hashes(spark, start, n):
    return spark.range(start, start + n).select(
        F.xxhash64(F.concat(F.lit("url:"), F.col("id"))).alias("url_hash")
    )


def test_sizing_function_at_1e10():
    spec = BloomSpec.for_capacity(expected_n=10_000_000_000, fp_rate=0.01, n_shards=4096)
    # classic formula: ~9.585 bits/element at 1% → ~12 GB total
    assert 11 * 2**30 < spec.total_bytes < 13 * 2**30
    assert spec.n_probes in (6, 7)
    # per-shard slice stays executor-friendly
    assert spec.bits_per_shard // 8 < 4 * 2**20


def _verdicts(candidates, shards, spec):
    return sharded.verdicts(bloom_test_insert(candidates, shards, spec))


def test_no_false_negatives(spark):
    spec = BloomSpec.for_capacity(expected_n=5000, fp_rate=0.01, n_shards=8)
    shards = empty_shards(spark, spec)
    inserted = _hashes(spark, 0, 2000)
    shards2 = spec.insert(inserted, shards)
    tested = _verdicts(inserted, shards2, spec)
    assert tested.count() == 2000
    assert tested.filter(~F.col("maybe_seen")).count() == 0


def test_fp_rate_within_bound(spark):
    spec = BloomSpec.for_capacity(expected_n=5000, fp_rate=0.01, n_shards=8)
    shards = spec.insert(_hashes(spark, 0, 5000), empty_shards(spark, spec))
    novel = _hashes(spark, 1_000_000, 20000)
    fp = _verdicts(novel, shards, spec).filter(F.col("maybe_seen")).count()
    theory = bloom_fp_rate(spec, 5000 / spec.n_shards)
    assert fp / 20000 < max(2.5 * theory, 0.03)


def test_insert_preserves_untouched_shards(spark):
    spec = BloomSpec.for_capacity(expected_n=1000, fp_rate=0.01, n_shards=16)
    shards = empty_shards(spark, spec)
    one = _hashes(spark, 0, 1)
    shards2 = spec.insert(one, shards)
    assert shards2.count() == 16
    assert shards2.agg(F.sum("n_inserted")).collect()[0][0] == 1


def test_fused_test_insert_equals_split_ops(spark):
    """bloom_test_insert must agree EXACTLY with the split numpy ops run
    on the driver over the collected pre-batch shards: verdicts ==
    ``_test_bits`` against the pre-batch bitset, and the updated shard
    table (bitset AND n_inserted) == ``_set_bits`` of the bloom-fresh
    candidates only, with every shard row present."""
    import numpy as np

    from tbbid_scrapy_spark.operators.bloom import _positions, _set_bits, _test_bits

    spec = BloomSpec.for_capacity(expected_n=3000, fp_rate=0.01, n_shards=8)
    base = spec.insert(_hashes(spark, 0, 1500), empty_shards(spark, spec))
    base = base.persist()
    # candidates: 500 already-seen + 700 novel
    cand = _hashes(spark, 1000, 1200)

    ref = {
        r.shard_id: (np.frombuffer(bytes(r.bitset), dtype=np.uint8).copy(),
                     r.n_inserted)
        for r in base.collect()
    }
    hashes = np.array([r.url_hash for r in cand.collect()], dtype=np.int64)
    v_ref = set()
    for shard_id, (bitset, n) in ref.items():
        h = hashes[hashes % spec.n_shards == shard_id]
        pos = _positions(h, spec)
        seen = _test_bits(bitset, pos)
        v_ref |= set(zip(h.tolist(), seen.tolist()))
        _set_bits(bitset, pos[~seen])
        ref[shard_id] = (bitset, n + int((~seen).sum()))
    s_ref = {k: (b.tobytes(), n) for k, (b, n) in ref.items()}

    fused = bloom_test_insert(cand, base, spec).persist()
    v_fused = {
        (r.url_hash, r.maybe_seen) for r in sharded.verdicts(fused).collect()
    }
    assert v_fused == v_ref and len(v_fused) == 1200
    assert 0 < sum(not seen for _, seen in v_ref) < 1200
    s_fused = {
        r.shard_id: (bytes(r.bitset), r.n_inserted)
        for r in sharded.shard_rows(fused).collect()
    }
    assert s_fused == s_ref
    assert len(s_fused) == spec.n_shards  # every shard row present
    fused.unpersist(); base.unpersist()


def test_probe_positions_decorrelated_from_shard_routing():
    """Shard routing consumes ``hash mod n_shards``; probe positions must
    not inherit those bits. For keys confined to ONE shard (all ≡ 5 mod
    4096) the probe-0 positions must still cover every residue class of
    the byte-aligned bitset — without the splitmix64 remix they all land
    in positions ≡ const (mod 8), saturating 1/8 of the filter 8x faster
    and blowing the FP budget."""
    import numpy as np

    from tbbid_scrapy_spark.operators.bloom import BloomSpec, _positions

    spec = BloomSpec(n_shards=4096, bits_per_shard=8192, n_probes=4)
    keys = (np.arange(4000, dtype=np.int64) * 4096) + 5  # one shard's keys
    pos = _positions(keys, spec)
    probe0_residues = set(int(p) % 8 for p in pos[:, 0])
    assert probe0_residues == set(range(8))
    # and positions stay in-range
    assert int(pos.max()) < spec.bits_per_shard

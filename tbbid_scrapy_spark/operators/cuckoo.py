"""Sharded cuckoo-filter URL-seen set — the deletable alternative to the
bloom filter (operators/bloom.py), behind the same DataFrame interface:
shards are rows ``(shard_id, table binary, n_inserted)``, and both Spark
operations — ``cuckoo_test_insert`` and ``cuckoo_delete`` — are one pass
of the shard layer's cogroup (``sharded.probe_update``), one Arrow batch
per shard.

Why cuckoo (BASELINE.json north-star names "bloom/cuckoo"): a bloom
filter cannot delete — re-admitting a URL after a permanent-failure
expiry, or un-seeing a page whose fetch was later invalidated, requires
either a rebuild or an exact side-table. A cuckoo filter (Fan et al.,
"Cuckoo Filter: Practically Better Than Bloom", CoNEXT 2014 — public
algorithm, reimplemented here from the paper's description) supports
O(1) delete with ~the same space at FP rates ≤ 3%.

Layout per shard: ``n_buckets`` buckets × 4 slots × uint16 fingerprint
(0 = empty). All indices derive from the single JVM-side xxhash64
(no extra hashing of the key in Python):

    fp  = (h >> 48) & 0xFFFF, 0 remapped to 1
    i1  = h & (n_buckets - 1)                      (n_buckets power of 2)
    i2  = i1 XOR (fp * 0x5bd1e995) & (n_buckets-1)  (partial-key cuckoo)

Insert walks the standard eviction loop (≤500 kicks) with a
DETERMINISTIC victim slot (derived from the kick counter and fingerprint
— reproducible runs, no RNG state), and inserts a batch's keys in
ascending hash order, so the same keys give the same table bytes
whatever order the shuffle delivers them in. A full table raises rather
than silently dropping: a seen-set false negative means a duplicate
fetch, but a silent drop would also mean an unbounded one.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from tbbid_scrapy_spark.operators import bloom, sharded

SLOTS = 4
_MIX = np.uint64(0x5BD1E995)


@dataclass(frozen=True)
class CuckooSpec:
    n_shards: int
    buckets_per_shard: int  # power of two

    @staticmethod
    def for_capacity(expected_n: int, n_shards: int,
                     load_factor: float = 0.84) -> "CuckooSpec":
        """Size so the per-shard load stays ≤ load_factor (0.95 is the
        4-slot cuckoo feasibility limit; 0.84 keeps eviction walks short).
        At 10^10 URLs / 4096 shards that is ~2.9M buckets/shard × 8 B ≈
        23 MB per shard — one task comfortably owns one shard, like the
        bloom layout."""
        per_shard = math.ceil(expected_n / n_shards / (SLOTS * load_factor))
        n_buckets = 1 << max(1, (per_shard - 1).bit_length())
        return CuckooSpec(n_shards=n_shards, buckets_per_shard=n_buckets)

    @property
    def total_bytes(self) -> int:
        return self.n_shards * self.buckets_per_shard * SLOTS * 2

    @property
    def fp_rate(self) -> float:
        """≈ 2·SLOTS / 2^16 at full load (fingerprints are 16-bit)."""
        return 2.0 * SLOTS / 65536.0

    def format_tag(self) -> str:
        """Identity of the on-disk cuckoo-table format (see
        BloomSpec.format_tag): fingerprint/bucket derivation version plus
        the geometry that decides slot placement. A resume under a
        different tag rebuilds shards from the seen table instead of
        reusing tables whose fingerprints no longer match lookups."""
        return (
            f"cuckoo:{FP_FORMAT}:{bloom.PROBE_FORMAT}:mix={int(_MIX):x}"
            f":shards={self.n_shards}:buckets={self.buckets_per_shard}"
            f":slots={SLOTS}:fp=16"
        )

    def empty(self, spark: SparkSession) -> DataFrame:
        return empty_cuckoo_shards(spark, self)

    def insert(self, keys: DataFrame, shards: DataFrame) -> DataFrame:
        """The shard table with every key inserted: the shard rows of the
        test+insert (from empty shards, every key tests not-seen)."""
        return sharded.shard_rows(cuckoo_test_insert(keys, shards, self))


# Version of CUCKOO's own fingerprint/bucket derivation (_fp_and_buckets:
# splitmix64 remix, fp = bits 48-63 with the 0→1 remap, bucket-2 = b1 XOR
# fp·_MIX). bloom.PROBE_FORMAT in the tag covers only the shared splitmix
# remix — BUMP THIS whenever _fp_and_buckets would place the same (hash,
# spec) in different (fingerprint, bucket) slots even with the remix and
# _MIX unchanged; persisted tables written under another version return
# silent false negatives, not errors.
FP_FORMAT = "fp48-63-xormix-v1"


SHARDS_SCHEMA = T.StructType(
    [
        T.StructField("shard_id", T.IntegerType(), False),
        T.StructField("table", T.BinaryType(), False),
        T.StructField("n_inserted", T.LongType(), False),
    ]
)


def _fp_and_buckets(hashes: np.ndarray, n_buckets: int):
    # remix before deriving buckets: shard routing consumed the RAW low
    # bits (hash mod n_shards), so with power-of-two shard and bucket
    # counts the unmixed ``h & mask`` would pin every key in a shard to
    # the same n_buckets/n_shards slice of primary buckets — an 8-256x
    # load concentration that forces early eviction-walk failures. The
    # bijective splitmix64 makes bucket bits independent of shard bits.
    h = bloom._splitmix64(hashes.astype(np.int64).view(np.uint64))
    fp = ((h >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
    fp = np.where(fp == 0, np.uint16(1), fp)
    mask = np.uint64(n_buckets - 1)
    i1 = (h & mask).astype(np.int64)
    i2 = (i1.view(np.uint64) ^ ((fp.astype(np.uint64) * _MIX) & mask)).astype(np.int64)
    return fp, i1, i2


def _alt_bucket(i: int, fp: int, n_buckets: int) -> int:
    return int((np.uint64(i) ^ ((np.uint64(fp) * _MIX) & np.uint64(n_buckets - 1))))


def empty_cuckoo_shards(spark: SparkSession, spec: CuckooSpec) -> DataFrame:
    return sharded.empty_table(
        spark, spec.n_shards, SHARDS_SCHEMA, spec.buckets_per_shard * SLOTS * 2
    )


def _table_of(payload: bytes, spec: CuckooSpec) -> np.ndarray:
    """Shard bytes → a writable (buckets, SLOTS) uint16 copy."""
    return np.frombuffer(payload, dtype=np.uint16).reshape(
        spec.buckets_per_shard, SLOTS
    ).copy()


def _insert_one(table: np.ndarray, fp: int, i1: int, i2: int,
                n_buckets: int, max_kicks: int = 500) -> bool:
    for i in (i1, i2):
        row = table[i]
        empty = np.nonzero(row == 0)[0]
        if empty.size:
            row[empty[0]] = fp
            return True
    # eviction walk; victim slot chosen deterministically
    i, cur = i1, fp
    for kick in range(max_kicks):
        slot = (kick + cur) % SLOTS
        cur, table[i][slot] = int(table[i][slot]), cur
        i = _alt_bucket(i, cur, n_buckets)
        row = table[i]
        empty = np.nonzero(row == 0)[0]
        if empty.size:
            row[empty[0]] = cur
            return True
    return False


def _test_insert(payload: bytes, hashes: np.ndarray, spec: CuckooSpec):
    """``sharded.probe_update`` kernel: test every hash against the
    PRE-batch table (FP possible at spec.fp_rate, no FN), then insert
    only the not-seen ones in ascending hash order; verdicts stay in
    input order. Raises on a full shard (size with
    CuckooSpec.for_capacity headroom). The eviction walk is per-item
    Python inside the Arrow batch — the price of deletability; bloom
    stays the insert-throughput path."""
    table = _table_of(payload, spec)
    fp, i1, i2 = _fp_and_buckets(hashes, spec.buckets_per_shard)
    seen = ((table[i1] == fp[:, None]).any(axis=1)
            | (table[i2] == fp[:, None]).any(axis=1))
    fresh = np.flatnonzero(~seen)
    for done, k in enumerate(fresh[np.argsort(hashes[fresh], kind="stable")]):
        if not _insert_one(table, int(fp[k]), int(i1[k]), int(i2[k]),
                           spec.buckets_per_shard):
            raise RuntimeError(
                f"cuckoo shard full after {done} of {len(fresh)} new keys — "
                "resize with CuckooSpec.for_capacity"
            )
    return seen, table.tobytes(), len(fresh)


def cuckoo_test_insert(candidates: DataFrame, shards: DataFrame, spec: CuckooSpec,
                       hash_col: str = "url_hash") -> DataFrame:
    """Fused membership test + insert (``sharded.probe_update``): ONE
    cogrouped pass. The ``row_kind='v'`` rows carry ``maybe_seen``
    against the PRE-batch table; the ``row_kind='s'`` rows carry every
    not-seen candidate inserted, ``n_inserted`` grown by their count."""
    return sharded.probe_update(
        candidates, shards, SHARDS_SCHEMA, spec.n_shards,
        lambda payload, hashes: _test_insert(payload, hashes, spec), hash_col,
    )


def cuckoo_delete(candidates: DataFrame, shards: DataFrame, spec: CuckooSpec,
                  hash_col: str = "url_hash") -> DataFrame:
    """New shard table with ONE fingerprint copy removed per candidate
    (the cuckoo-over-bloom capability: retry re-admission / un-seeing).
    Deleting a never-inserted key is a no-op on the table (it can, at
    fp_rate, remove a colliding entry — the documented cuckoo semantics:
    only delete what you inserted)."""

    def delete(payload: bytes, hashes: np.ndarray):
        table = _table_of(payload, spec)
        fp, i1, i2 = _fp_and_buckets(hashes, spec.buckets_per_shard)
        removed = np.zeros(len(fp), dtype=bool)
        for k in range(len(fp)):
            for i in (int(i1[k]), int(i2[k])):
                slots = np.nonzero(table[i] == fp[k])[0]
                if slots.size:
                    table[i][slots[0]] = 0
                    removed[k] = True
                    break
        return removed, table.tobytes(), -int(removed.sum())

    return sharded.shard_rows(
        sharded.probe_update(candidates, shards, SHARDS_SCHEMA, spec.n_shards,
                             delete, hash_col)
    )

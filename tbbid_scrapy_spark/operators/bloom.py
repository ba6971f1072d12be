"""Sharded bloom-filter URL-seen set.

Replaces the reference's two seen-sets — Scrapy's request-fingerprint
dupefilter (default-on; no ``dont_filter`` anywhere in the reference) and
the app-level ``project_cache`` set (/root/reference/xizang/pipelines/
bidSaver.py:16,30-35,123-124) — with a structure that works at a
10^10-URL frontier (SURVEY.md §2.11 C2).

Design
------
- Identity: the JVM-side ``xxhash64(url_norm)`` (no Python hashing).
- Sharding (operators/sharded.py, shared with the cuckoo filter):
  ``shard_id = pmod(url_hash, n_shards)``. Each shard owns an
  independent bitset; shards are rows ``(shard_id, bitset binary,
  n_inserted)`` so the whole seen-set is itself a DataFrame that
  checkpoints like any other table. At 10^10 URLs / 1% FP the total is
  ~12 GB of bits — across 4096 shards that is ~3 MB per shard, small
  enough that one task owns one shard comfortably; executors process
  shards in parallel and nothing ever concentrates on the driver.
- Probes: k positions derived from the single 64-bit hash by the
  Kirsch-Mitzenmacher double-hashing scheme (h_lo + i*h_hi mod m) —
  standard result: no extra hash functions needed.
- Test+insert is ONE pass of the shard layer's cogroup
  (``sharded.probe_update``): one Arrow batch per shard, the numpy bit
  ops below inside — no per-row Python. This module keeps only the spec,
  those kernels and that one Spark operation, ``bloom_test_insert``.

False-positive caveat: a bloom FP silently drops a never-seen URL. The
crawl loop therefore supports four modes (plans/crawl.py): 'exact'
(anti-join against the seen table — reference-parity default), 'bloom'
(pure bloom, scale path), 'hybrid' (bloom prefilter, exact anti-join
on survivors only — at scale the prefilter removes ~all duplicates so the
exact join touches a tiny remainder; zero false drops), and 'cuckoo'
(operators/cuckoo.py — same sharded interface and FP-only guarantees,
plus DELETION for retry re-admission, which a bloom cannot do). The
three approximate modes share one fused test+insert pass per wave; the
hybrid exact-confirm runs on its verdicts.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from tbbid_scrapy_spark import schemas
from tbbid_scrapy_spark.operators import sharded


@dataclass(frozen=True)
class BloomSpec:
    """Sizing for the sharded bloom filter.

    ``for_capacity`` computes classic optimal sizing: m = -n*ln(p)/ln(2)^2
    bits, k = (m/n)*ln(2) probes. Tests verify the sizing function at
    10^10 without allocating it (SURVEY.md §7 risks).
    """

    n_shards: int
    bits_per_shard: int  # multiple of 8
    n_probes: int

    @staticmethod
    def for_capacity(expected_n: int, fp_rate: float, n_shards: int) -> "BloomSpec":
        m_total = math.ceil(-expected_n * math.log(fp_rate) / (math.log(2) ** 2))
        k = max(1, round(m_total / expected_n * math.log(2)))
        bits = math.ceil(m_total / n_shards)
        bits += (-bits) % 8  # byte-align
        return BloomSpec(n_shards=n_shards, bits_per_shard=bits, n_probes=k)

    @property
    def total_bytes(self) -> int:
        return self.n_shards * self.bits_per_shard // 8

    def format_tag(self) -> str:
        """Identity of the on-disk bitset format: probe-derivation scheme
        plus every geometry parameter that decides which bits a key sets.
        Stamped into the checkpoint manifest at commit; a resume whose
        current tag differs (code changed the probe math, or the config
        changed shard count / size / k) must NOT reuse the persisted
        bitsets — they would return silent false negatives (seen URLs
        re-enqueued and refetched). The crawl engine rebuilds shards from
        the seen table on mismatch."""
        return (
            f"bloom:{PROBE_FORMAT}:shards={self.n_shards}"
            f":bits={self.bits_per_shard}:k={self.n_probes}"
        )

    def empty(self, spark: SparkSession) -> DataFrame:
        return empty_shards(spark, self)

    def insert(self, keys: DataFrame, shards: DataFrame) -> DataFrame:
        """The shard table with every key's bits set: the shard rows of
        the test+insert (from empty shards, every key tests not-seen, so
        ``n_inserted`` counts every key)."""
        return sharded.shard_rows(bloom_test_insert(keys, shards, self))


# Version of the probe-derivation math below (_splitmix64 remix + lo/hi
# Kirsch-Mitzenmacher stepping). BUMP THIS whenever _positions would set
# different bits for the same (hash, spec) — persisted bitsets written
# under another version are unusable (false negatives, not errors).
PROBE_FORMAT = "splitmix64-km-v2"


def _splitmix64(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer (the standard public-domain avalanche
    permutation): bijective on uint64, mixes every input bit into every
    output bit. uint64 arithmetic wraps mod 2^64 by design. Shared by
    the bloom probe derivation and the cuckoo bucket derivation — both
    consume keys whose RAW low bits were already spent on shard routing
    (``hash mod n_shards``)."""
    h = (h ^ (h >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    h = (h ^ (h >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return h ^ (h >> np.uint64(31))


def _positions(hashes: np.ndarray, spec: BloomSpec) -> np.ndarray:
    """(n, k) probe positions from 64-bit hashes (Kirsch-Mitzenmacher).

    Works on the raw two's-complement int64 from xxhash64; reinterpret as
    uint64 for modular arithmetic.

    The hash is REMIXED (splitmix64 finalizer — the standard public
    avalanche permutation) before the lo/hi split: shard routing consumed
    ``hash mod n_shards``, so for power-of-two shard counts every key in
    a shard shares the raw hash's low bits — deriving the probe base
    from those directly would pin probe 0 to positions ≡ shard (mod
    gcd(n_shards, m)), concentrating probe-0 bits in ≤1/8 of the
    byte-aligned bitset and inflating the FP rate past BloomSpec's
    target. After the bijective remix the probe bits are independent of
    the bits sharding consumed."""
    h = _splitmix64(hashes.astype(np.int64).view(np.uint64))
    h_lo = h & np.uint64(0xFFFFFFFF)
    h_hi = (h >> np.uint64(32)) | np.uint64(1)  # odd ⇒ full-period stepping
    i = np.arange(spec.n_probes, dtype=np.uint64)
    return (h_lo[:, None] + i[None, :] * h_hi[:, None]) % np.uint64(spec.bits_per_shard)


def _test_bits(bitset: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """All-probes-set membership test; pos is (n, k)."""
    byte_idx = (pos >> np.uint64(3)).astype(np.int64)
    masks = (1 << (pos & np.uint64(7))).astype(np.uint8)
    return ((bitset[byte_idx] & masks) == masks).all(axis=1)


def _set_bits(bitset: np.ndarray, pos: np.ndarray) -> None:
    byte_idx = (pos >> np.uint64(3)).astype(np.int64).ravel()
    masks = (1 << (pos & np.uint64(7))).astype(np.uint8).ravel()
    np.bitwise_or.at(bitset, byte_idx, masks)


def empty_shards(spark: SparkSession, spec: BloomSpec) -> DataFrame:
    """All-zero shard table (schemas.SEEN_SHARDS)."""
    return sharded.empty_table(
        spark, spec.n_shards, schemas.SEEN_SHARDS, spec.bits_per_shard // 8
    )


def bloom_test_insert(candidates: DataFrame, shards: DataFrame, spec: BloomSpec,
                      hash_col: str = "url_hash") -> DataFrame:
    """Fused membership test + insert (``sharded.probe_update``): ONE
    cogrouped pass. The ``row_kind='v'`` rows are tested against the
    PRE-batch bitset; the ``row_kind='s'`` rows carry every candidate's
    bits set. Setting bits for a maybe-seen candidate is bitwise
    idempotent, so the resulting bitset equals test-then-insert-novel
    exactly; ``n_inserted`` counts bloom-fresh candidates (in hybrid mode
    an FP-confirmed-novel URL is enqueued but not counted — a ≤FP-rate
    difference in the METADATA counter only, never in membership)."""

    def test_insert(payload: bytes, hashes: np.ndarray):
        bitset = np.frombuffer(payload, dtype=np.uint8).copy()
        pos = _positions(hashes, spec)
        seen = _test_bits(bitset, pos)
        _set_bits(bitset, pos)
        return seen, bitset.tobytes(), int((~seen).sum())

    return sharded.probe_update(
        candidates, shards, schemas.SEEN_SHARDS, spec.n_shards, test_insert, hash_col
    )


def bloom_fp_rate(spec: BloomSpec, n_inserted_per_shard: float) -> float:
    """Theoretical FP rate at the given load — used by tests to assert the
    measured rate stays within ~2x of theory."""
    m, k = spec.bits_per_shard, spec.n_probes
    return (1.0 - math.exp(-k * n_inserted_per_shard / m)) ** k

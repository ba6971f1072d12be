"""Registry for operator-internal scratch persists.

Several operators persist intermediate frames that sub-plans reference
more than once (signature arrays in ``similarity.pairs_above``, shingle
sets in ``dedup.simhash_verified_pairs``, survivors in
``text.corpus_keep``).  The persist must outlive the operator call —
the returned DataFrame is lazy and the cache is only useful at the
caller's action — so the operator cannot unpersist before returning.
Previously those handles were simply dropped, and a long-lived session
calling the operators repeatedly accumulated storage-pool pressure
until something evicted (bench.py worked around it with
``spark.catalog.clearCache()``, which also nukes caches the CALLER
owns).

This module gives the scratch frames an owner: operators register every
internal persist here, and callers release exactly those frames — and
nothing else — once their action has run::

    from tbbid_scrapy_spark.operators import scratch

    kept = corpus_keep(docs)
    kept.write.parquet(out)          # action: caches did their job
    scratch.release()                # drop ONLY operator-internal caches

``release()`` is safe at any time (unpersist is lazy-blocking=False and
idempotent); frames still referenced by un-actioned plans simply
recompute.  For scoped use, ``scratch.scope()`` is a context manager
that releases on exit whatever was registered inside it.

Callers that never call ``release()`` are still bounded: the registry
caps at ``MAX_REGISTERED`` frames and evicts (unpersists) the oldest on
overflow — scratch frames are recomputable by construction, so an
evicted one costs recompute time, never correctness.

Thread-safety: all registry mutations hold a module lock (a caller may
run registering operators from several threads at once — an unguarded
check-then-pop would race).  ``scope()`` tracks the IDENTITY of frames
registered inside it, not a length mark: cap eviction firing inside the
scope would otherwise shift the mark and make scope exit release the
wrong frames (and leak inner ones past the scope).
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame

_SCRATCH: list[DataFrame] = []
_LOCK = threading.RLock()
# identity-sets of frames registered inside each live scope(), innermost
# last; persist() adds new frames to every open scope so nesting works
_OPEN_SCOPES: list[set[int]] = []

# Registry cap: a caller that never calls release() (a library consumer
# unaware of the contract) must not pin scratch blocks for process
# lifetime — beyond this many registered frames the OLDEST is
# unpersisted and dropped. Scratch frames are recomputable by
# construction (they exist only to avoid re-derivation within one
# operator call), so evicting an old one can cost recompute time but
# never correctness. Recent frames — the ones an in-flight plan still
# references — stay cached.
MAX_REGISTERED = 8


def _unpersist_quietly(df: DataFrame) -> bool:
    try:
        df.unpersist()
        return True
    except Exception:
        # a stopped SparkSession makes unpersist moot
        return False


def persist(df: DataFrame, storage_level=None) -> DataFrame:
    """Persist ``df`` and register the handle for later ``release()``."""
    out = df.persist() if storage_level is None else df.persist(storage_level)
    evicted: list[DataFrame] = []
    with _LOCK:
        _SCRATCH.append(out)
        for s in _OPEN_SCOPES:
            s.add(id(out))
        while len(_SCRATCH) > MAX_REGISTERED:
            evicted.append(_SCRATCH.pop(0))
    for old in evicted:
        _unpersist_quietly(old)
    return out


def registered_count() -> int:
    with _LOCK:
        return len(_SCRATCH)


def release() -> int:
    """Unpersist every registered scratch frame; returns how many."""
    with _LOCK:
        drained = _SCRATCH[:]
        _SCRATCH.clear()
    n = 0
    for df in drained:
        if _unpersist_quietly(df):
            n += 1
    return n


@contextmanager
def scope():
    """Release-on-exit scope: frames registered inside are unpersisted
    when the block ends (the caller's action belongs INSIDE the block).
    Tracked by frame identity, so cap eviction or a concurrent
    ``release()`` inside the block can only SHRINK what exit releases —
    never release a pre-scope frame or leak an inner one."""
    mine: set[int] = set()
    with _LOCK:
        _OPEN_SCOPES.append(mine)
    try:
        yield
    finally:
        with _LOCK:
            _OPEN_SCOPES.remove(mine)
            drained = [df for df in _SCRATCH if id(df) in mine]
            _SCRATCH[:] = [df for df in _SCRATCH if id(df) not in mine]
        for df in drained:
            _unpersist_quietly(df)

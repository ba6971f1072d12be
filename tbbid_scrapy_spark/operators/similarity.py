"""Similarity search over the ``embeddings`` table
(vec_id, embedding array<float>, label).

- ``cosine_topk``      : exact brute-force top-k — the correctness
                         baseline. Queries are a small table → broadcast;
                         the corpus streams; dot products run as
                         JVM-side higher-order functions (zip_with +
                         aggregate), no Python in the loop; ranking is
                         the two-phase salted top-k (``topk_per_query``)
                         so no single task ever ranks a query's full
                         scored corpus.
- ``lsh_bucket_topk``  : random-hyperplane LSH scale path — banded
                         sign-bit signatures per vector, candidates =
                         ≥1-band bucket collisions with the query, then
                         exact re-score. At 10^10 vectors the bucket
                         joins touch ~n_bands·corpus/2^n_planes per
                         query instead of the full corpus.
- ``pairs_above``      : embedding near-duplicate pairs (cosine ≥ τ) —
                         dedup-by-embedding entry point; banded LSH
                         (r planes × b bands, OR-over-bands recall) with
                         Arrow-batched matmul signatures + exact cosine
                         re-score of candidates.

Hyperplane determinism: all LSH paths share ``_band_sigs_pd`` — Gaussian
planes from numpy seeded by (seed, dim) inside one Arrow-batched matmul
UDF, reproducible with no RNG state carried across tasks, batches, or
runs (and ~100× cheaper than per-row Catalyst higher-order plane dots,
measured at the sf0.1 fixture).
"""

from __future__ import annotations

import functools as _functools

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window
from pyspark.sql import types as T

from tbbid_scrapy_spark.operators import scratch


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: (x * x).cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _cosine_sql(a: str, b: str) -> str:
    """SQL text of the exact left-fold cosine over two array refs —
    identical tree to the Column form (`0.0D` is the DOUBLE literal;
    a bare SQL `0.0` parses as DECIMAL and would change the fold
    type). Parsing once replaces ~60 py4j round-trips per call in the
    timed query build."""
    def dot(x: str, y: str) -> str:
        return (
            f"aggregate(zip_with({x}, {y}, (x, y) -> cast(x * y as double)), "
            f"0.0D, (acc, v) -> acc + v)"
        )

    def norm(x: str) -> str:
        return (
            f"sqrt(aggregate(transform({x}, x -> cast(x * x as double)), "
            f"0.0D, (acc, v) -> acc + v))"
        )

    return f"try_divide({dot(a, b)}, {norm(a)} * {norm(b)})"


def cosine(a: "Column | str", b: "Column | str") -> Column:
    # try_divide, not '/': an all-zero embedding anywhere in the corpus
    # would otherwise raise DIVIDE_BY_ZERO under an ANSI-on session (the
    # driver harness runs one) and kill the whole stage — the same
    # one-bad-row failure class _band_sigs_pd is hardened against.
    # NULL cosine falls out of every threshold/top-k comparison.
    # String args (column names / qualified refs) parse as one SQL
    # expression — same tree, far cheaper to build.
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_cosine_sql(a, b))
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Output: (query_id, vec_id, cos) with rank ≤ k per query, ties broken
    by vec_id for determinism. The broadcast makes this a map-only stage;
    ranking is the two-phase salted top-k (no single task ever sees a
    query's full scored corpus)."""
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    scored = corpus.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        "vec_id",
        cosine("embedding", "q_emb").alias("cos"),
    )
    return topk_per_query(scored, k)


def _embedding_dim(df: DataFrame, col: str = "embedding") -> int:
    """Reference embedding dimensionality of a dataset: the first
    non-null, non-empty row's length — one limit-1 job, O(1) at any
    corpus size. Resolved ONCE per operator call and passed into the
    signature UDF so which rows count as ragged is a property of the
    DATASET, not of Arrow batch composition (a per-batch policy made
    results partition-dependent: the same corpus could yield different
    candidate sets after a repartition). Returns 0 for an empty/all-null
    frame (every row then null-signatures, and the operator correctly
    yields no candidates)."""
    row = (
        df.select(F.size(F.col(col)).alias("_d"))
        .filter(F.col("_d") > 0)
        .first()
    )
    return int(row["_d"]) if row is not None else 0


@_functools.lru_cache(maxsize=64)
def _band_sigs_pd(n_bands: int, n_planes: int, seed: int, dim: int):
    """Arrow-batched band-signature UDF: ONE numpy matmul per batch
    ((N×dim) @ (dim×total) → sign bits → n_bands packed ints) instead of
    n_bands·n_planes interpreted higher-order plane dots per row — the
    Catalyst HOF version costs ~82M interpreted steps at 4k vectors ×
    320 planes (measured ~11 s); the matmul is ~30 ms. Map-only (no
    shuffle), so the swap is pure win at any scale. Hyperplanes are
    Gaussian from a seed derived only from (seed, dim): deterministic
    across partitions, batches, and runs.

    ``dim`` is the dataset-level reference dimensionality (see
    ``_embedding_dim``). Bad rows don't kill the batch: a null
    embedding, or one whose length differs from ``dim`` (ragged data),
    gets a NULL signature instead of letting ``np.vstack`` raise and
    fail the whole Arrow batch — the one-bad-row-kills-the-stage
    failure class. NULL signatures explode to zero band rows
    downstream, so such vectors simply never become candidates (callers
    also pre-filter nulls JVM-side to keep them out of the Arrow
    transfer)."""
    import numpy as np

    total = n_bands * n_planes

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sigs(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype="object")
        if dim <= 0:  # empty/all-null dataset: no reference dim exists
            return pd.Series([None] * len(emb), dtype=object)
        vals = emb.to_numpy()
        lens = np.fromiter(
            (len(v) if v is not None else -1 for v in vals),
            dtype=np.int64, count=len(vals),
        )
        good = lens == dim
        if not good.any():
            return pd.Series([None] * len(vals), dtype=object)
        m = np.vstack(vals[good])                           # N × dim
        rng = np.random.default_rng(seed * 1_000_003 + dim)
        planes = rng.standard_normal((dim, total))          # dim × total
        bits = (m @ planes) > 0                             # N × total
        w = 1 << np.arange(n_planes, dtype=np.int64)
        packed = bits.reshape(len(m), n_bands, n_planes) @ w  # N × n_bands
        # materializing one list object per row is the Arrow list-column
        # output contract; the math above is all whole-batch numpy
        sig_iter = iter(packed.tolist())
        return pd.Series(
            [next(sig_iter) if g else None for g in good], dtype=object
        )

    return sigs


def topk_per_query(scored: DataFrame, k: int, salt_buckets: int = 32) -> DataFrame:
    """Two-phase per-query top-k over (query_id, vec_id, cos): local
    row_number per (query_id, salt-of-vec_id) keeps ≤ k rows per salt
    bucket, then the global per-query rank runs over ≤ k·salt_buckets
    survivors. A single ``row_number() OVER (PARTITION BY query_id)``
    would funnel every scored candidate of a query through ONE task —
    invisible at fixture scale, a straggler at 10^10-vector corpora
    (same pattern as operators/frontier.politeness_rank)."""
    loc = Window.partitionBy(
        "query_id", F.pmod(F.xxhash64(F.col("vec_id")), F.lit(salt_buckets)).alias("_salt")
    ).orderBy(F.col("cos").desc(), F.col("vec_id"))
    pruned = (
        scored.withColumn("_lr", F.row_number().over(loc))
        .filter(F.col("_lr") <= k)
        .drop("_lr")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos", "rank")
    )


def lsh_bucket_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                    n_planes: int = 8, n_bands: int = 4,
                    seed: int = 42) -> DataFrame:
    """Approximate top-k: candidates collide with the query in ≥1 of
    ``n_bands`` hyperplane buckets (OR-over-bands, the same banding as
    ``pairs_above``), re-scored exactly, ranked by the two-phase salted
    top-k. A candidate at cosine τ is recalled with probability
    1-(1-p^r)^b, p = 1-acos(τ)/π — banding multiplies the touched
    corpus fraction by ~b (still ~b·corpus/2^r per query at 10^10
    vectors) and takes near-neighbor recall from p^r to ~1; the r2
    single-bucket design was the measured ~0.43-at-τ=0.95 weak spot.
    Signatures ride the same Arrow-batched matmul as pairs_above."""
    # one reference dim for corpus AND queries: both sides must hash
    # with the SAME hyperplanes for buckets to be comparable
    dim = _embedding_dim(corpus)
    sig = _band_sigs_pd(n_bands, n_planes, seed, dim)
    sig_corpus = corpus.filter(F.col("embedding").isNotNull()).select(
        "vec_id", "embedding",
        F.posexplode(sig(F.col("embedding"))).alias("band", "bucket"),
    )
    q = queries.filter(F.col("embedding").isNotNull()).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    ).select(
        "query_id", "q_emb",
        F.posexplode(sig(F.col("q_emb"))).alias("band", "bucket"),
    )
    # score per collision row, THEN dedup multi-band hits on the key
    # alone: a pair colliding in j>1 bands pays j-1 redundant cosines
    # (rare — only near-identical pairs multi-collide) but the dedup
    # shuffle carries (query_id, vec_id, cos), never the embedding
    # arrays (the array-through-shuffle anti-pattern pairs_above avoids)
    scored = (
        sig_corpus.join(F.broadcast(q), on=["band", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", "vec_id",
            cosine("embedding", "q_emb").alias("cos"),
        )
        .groupBy("query_id", "vec_id")
        .agg(F.min("cos").alias("cos"))
    )
    return topk_per_query(scored, k)


def ivf_index(corpus: DataFrame, n_centroids: int = 16, iters: int = 3,
              seed: int = 42,
              sample_fraction: float | None = None) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: k-means centroids + per-vector assignment,
    entirely as DataFrame ops (no MLlib, no Python in the loop).

    - init: the ``n_centroids`` vectors with smallest xxhash64(vec_id,
      seed) — a deterministic uniform sample, reproducible with no RNG
      state (same trick as the LSH hyperplanes above).
    - Lloyd iteration: assign each vector to its nearest centroid by
      cosine (broadcast centroids — there are dozens, not millions),
      then recompute each centroid as the element-wise mean via
      posexplode + groupBy(cid, pos) — two narrow shuffles per iteration,
      partial-aggregated map-side. Index construction is the offline
      path; at 10^10 vectors one builds it on a sample and only the
      single assign pass touches the full corpus — ``sample_fraction``
      IS that path: when set (< 1.0), the init pick and every Lloyd
      iteration scan only the rows whose ``xxhash64(vec_id, seed)``
      bucket falls under the fraction (deterministic, content-keyed —
      no RNG state, the same trick as the init sample and the LSH
      hyperplanes), while the returned assignment still covers the FULL
      corpus. The caller must leave ≥ n_centroids sampled rows
      (fraction · corpus ≥ n_centroids) or the index degenerates.
      Default None keeps the exact full-scan construction.

    Returns (centroids(cid, centroid), assigned(vec_id, embedding, cid)).
    """
    train = corpus
    if sample_fraction is not None and sample_fraction < 1.0:
        bound = int(sample_fraction * (1 << 32))
        train = corpus.filter(
            F.pmod(
                F.xxhash64(F.col("vec_id"), F.lit(seed + 1)), F.lit(1 << 32)
            ) < F.lit(bound)
        )
    init = (
        train.select("vec_id", "embedding")
        .withColumn("_r", F.xxhash64(F.col("vec_id"), F.lit(seed)))
        .orderBy("_r")
        .limit(n_centroids)
    )
    centroids = init.select(
        (F.row_number().over(Window.orderBy("_r")) - 1).alias("cid"),
        F.col("embedding").alias("centroid"),
    )
    for _ in range(iters):
        assigned = assign_ivf(train, centroids)
        recomputed = (
            assigned.select("cid", F.posexplode("embedding").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"].cast("float"),
                ).alias("centroid")
            )
        )
        # A cluster that attracted zero vectors this iteration emits no
        # recomputed row; silently dropping it would shrink the index
        # below n_centroids (ivf_topk's n_probe/n_centroids recall math
        # assumes the full list count). Keep its previous centroid.
        centroids = (
            centroids.select("cid", F.col("centroid").alias("_prev"))
            .join(recomputed, "cid", "left")
            .select("cid", F.coalesce("centroid", "_prev").alias("centroid"))
        )
    return centroids, assign_ivf(corpus, centroids)


def assign_ivf(corpus: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid id per vector (cosine, ties → smallest cid):
    broadcast the centroid table, score every (vector, centroid) pair
    map-side, keep the argmax with one map-side-combined groupBy."""
    c = F.broadcast(centroids.select("cid", "centroid"))
    scored = corpus.join(c).select(
        "vec_id",
        "embedding",
        F.struct(
            cosine("embedding", "centroid").alias("cos"),
            (-F.col("cid")).alias("neg_cid"),
        ).alias("_s"),
        F.col("cid"),
    )
    best = (
        scored.groupBy("vec_id")
        .agg(F.max("_s").alias("_best"))
        .select("vec_id", (-F.col("_best.neg_cid")).cast("int").alias("cid"))
    )
    return corpus.join(best, "vec_id").select("vec_id", "embedding", "cid")


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             n_centroids: int = 16, n_probe: int = 4, iters: int = 3,
             seed: int = 42,
             index: tuple[DataFrame, DataFrame] | None = None,
             sample_fraction: float | None = None) -> DataFrame:
    """Approximate top-k by cosine via IVF probing, exact re-score.

    Each query scores only the inverted lists of its ``n_probe`` nearest
    centroids — at scale this touches ~(n_probe/n_centroids) of the
    corpus per query instead of all of it, and the probed candidates are
    re-scored with the TRUE cosine, so output equals the brute-force
    top-k whenever every true neighbor lives in a probed list (pinned on
    the shipped fixtures in tests — which is what lets the exact
    brute-force SQL oracle this query). Same output contract as
    ``cosine_topk``: (query_id, vec_id, cos, rank ≤ k)."""
    centroids, assigned = index if index is not None else ivf_index(
        corpus, n_centroids, iters, seed, sample_fraction=sample_fraction
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    qc = q.join(F.broadcast(centroids)).select(
        "query_id",
        "q_emb",
        "cid",
        cosine("q_emb", "centroid").alias("_ccos"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("_ccos").desc(), F.col("cid"))
    probes = (
        qc.withColumn("_pr", F.row_number().over(wq))
        .filter(F.col("_pr") <= n_probe)
        .select("query_id", "q_emb", "cid")
    )
    # probes carries (query · probe) rows incl. the full q_emb array — NOT
    # hint-forced: at a large query set a forced broadcast is the driver-
    # OOM pattern removed from politeness_rank; AQE/autoBroadcastJoin
    # broadcasts it whenever it is actually small (true at fixtures).
    scored = assigned.join(probes, on="cid").filter(
        F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id", "vec_id", cosine("embedding", "q_emb").alias("cos")
    )
    return topk_per_query(scored, k)


def _screen_hamming_bound(threshold: float, total_planes: int) -> int:
    """Auto hamming bound for the pre-screen: a pair at cosine τ flips
    each of the ``total_planes`` sign bits independently with
    p = acos(τ)/π, so its hamming distance is Binomial(total, p); bound
    at mean + 6σ (miss probability ~1e-9 per qualifying pair — far below
    the band-recall term) while random pairs concentrate at total/2."""
    import math

    p = math.acos(threshold) / math.pi
    mean = total_planes * p
    sigma = math.sqrt(total_planes * p * (1 - p))
    return min(total_planes - 1, int(math.ceil(mean + 6 * sigma)))


def pairs_above(corpus: DataFrame, threshold: float = 0.95,
                n_planes: int = 16, n_bands: int = 20, seed: int = 42,
                exact: bool = False) -> DataFrame:
    """Embedding near-dup pairs with cosine ≥ threshold.

    Default path: BANDED random-hyperplane LSH — ``n_bands`` independent
    sign-bit signatures of ``n_planes`` planes each, candidates = pairs
    colliding in ≥1 band (same OR-over-bands shape as
    dedup.minhash_lsh_candidates), then exact cosine re-score + threshold
    filter. Recall for a pair at cosine τ is 1-(1-p^r)^b with
    p = 1-acos(τ)/π: the defaults (r=16, b=20) give 0.982 at τ=0.95
    exactly, 0.9982 at 0.97, ~1-1e-11 at 0.998 — vs ~0.43 for the r2
    design's SINGLE 8-plane bucket. r=16 (65,536 buckets per band) is as
    load-bearing as b: at r=8 a moderately-clustered corpus floods the
    buckets — pairs at cos 0.5 collide with probability 0.27, which on
    the sf0.1 fixture produced 688k candidates and a 6 s re-score; at
    r=16 the same pairs collide at ~2% and the re-score sees ~40k.
    Recall == exact is pinned on PLANTED near-dup embeddings in
    tests/test_operators_similarity.py (non-empty pair set; the pin
    fails if banding is removed).

    The band self-join carries (vec_id, band, sig) — embeddings never
    ride the candidate shuffle; they join back for the exact re-score,
    so candidate count (not corpus size) drives verify cost. When the
    full signature fits a bigint (n_bands·n_planes ≤ 64) a
    simhash-style hamming pre-screen XOR+popcounts away unrelated bucket
    mates before the O(dim) cosine; at the wide default the bands are
    selective enough on their own and there is no screen. The signature
    arrays are persisted so the self-join computes the n_bands·n_planes
    interpreted plane dots once per vector, not twice (at 10^10 vectors
    that persist is ~rows×(n_bands+1)×8 B, MEMORY_AND_DISK — prefer
    materializing to a table there). The persist is registered with ``operators.scratch``:
    call ``scratch.release()`` after your final action to drop it
    (long-lived sessions would otherwise accumulate storage-pool
    pressure across repeated operator calls).

    exact=True does the all-pairs join (audit scale only)."""
    # null embeddings can't be near-duplicates of anything: drop them
    # JVM-side so they never ride the Arrow transfer into the signature
    # UDF (which would null-sig them anyway — see _band_sigs_pd)
    emb = corpus.select("vec_id", "embedding").filter(
        F.col("embedding").isNotNull()
    )
    if exact:
        a = emb.alias("a")
        b = emb.alias("b")
        cand = a.join(b, F.col("a.vec_id") < F.col("b.vec_id")).select(
            F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b")
        )
    else:
        total = n_bands * n_planes
        # materialize the signature ARRAY first (one Arrow-batched matmul
        # per vector batch — see _band_sigs_pd); full-sig assembly and
        # the explode are cheap arithmetic over the cached arrays
        sig_frame = emb.select(
            "vec_id",
            _band_sigs_pd(n_bands, n_planes, seed, _embedding_dim(emb))(
                F.col("embedding")
            ).alias("sigs"),
        )
        sig_frame = scratch.persist(sig_frame)
        # bucket-mate pairs via grouped double-explode (shared helper with
        # the minhash/simhash band paths): ONE shuffle of the narrow band
        # rows instead of a self-join shuffling both sides
        from tbbid_scrapy_spark.operators.dedup import _bucket_pairs

        # the full-signature hamming screen needs all bands in ONE bigint
        # (band i owns bits [i·n_planes, (i+1)·n_planes)) — only possible
        # for narrow configs; the wide default relies on band selectivity
        if total <= 64:
            full = F.lit(0).cast("long")
            for i in range(n_bands):
                full = full.bitwiseOR(
                    F.shiftleft(F.element_at(F.col("sigs"), i + 1), i * n_planes)
                )
            band_rows = sig_frame.select(
                F.col("vec_id").alias("doc_id"), full.alias("full"),
                F.posexplode("sigs").alias("band", "sig"),
            )
            bound = _screen_hamming_bound(threshold, total)

            def _screen(a, b):
                return (
                    F.bit_count(a["full"].bitwiseXOR(b["full"]))
                    <= F.lit(bound)
                )

            cand = _bucket_pairs(band_rows, ["band", "sig"],
                                 carry=["full"], screen=_screen)
        else:
            band_rows = sig_frame.select(
                F.col("vec_id").alias("doc_id"),
                F.posexplode("sigs").alias("band", "sig"),
            )
            cand = _bucket_pairs(band_rows, ["band", "sig"])
    # aliased scans of ONE frame (not per-side renamed projections) so
    # the second embedding lookup is a ReusedExchange — see
    # dedup.verify_pairs_jaccard for the measured rationale
    e = emb.select("vec_id", "embedding")
    return (
        cand.join(e.alias("ea"), F.col("id_a") == F.col("ea.vec_id"))
        .join(e.alias("eb"), F.col("id_b") == F.col("eb.vec_id"))
        .select(
            "id_a",
            "id_b",
            cosine("ea.embedding", "eb.embedding").alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )

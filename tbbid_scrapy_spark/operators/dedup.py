"""Deduplication operator family over the ``documents`` table
(doc_id, text, lang, source, n_chars).

Five strategies, scale-ordered:

- exact          : hash-groupBy on normalized text. One shuffle, maps to a
                   plain GROUP BY — the 100 TB workhorse.
- ngram_jaccard  : exact n-gram (shingle) Jaccard, count-based over an
                   inverted index of hashed grams — ground truth for the
                   approximate methods, with a document-frequency cap on
                   stop-shingles (``stop_shingle_stats`` reports what it
                   drops).
- minhash_lsh    : hashed gram set → k-seed minhash signature → banded LSH
                   → bucket pairs → exact-Jaccard verify. Signatures are
                   JVM-side xxhash64 min-aggregates (one expression per
                   seed) — no Python in the hot path. This is the near-dup
                   scale path.
- simhash        : 64-bit shingle-feature simhash (per-bit majority vote
                   over the hashed gram set, one numpy Arrow kernel),
                   candidates from rotated 8-bit windows, hamming-screened
                   by bit_count(xor), then exact-Jaccard verify.
- embedding near-dup : cosine ≥ τ pairs over the embeddings table (see
                   operators/similarity.py for the kernels).

Every near-dup strategy reads ONE shingle representation:
``shingle_hash_sets`` — each document's distinct word-n-grams as
xxhash64 values. A 2^-64 hash collision is the accepted risk
``exact_dedup`` already documents.

All pair outputs are canonical (id_a < id_b) and deterministic.
"""

from __future__ import annotations

import functools as _functools

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tbbid_scrapy_spark.operators import scratch


def normalize_text(col: Column) -> Column:
    """Canonical text form for exact dedup: lowercase, collapse
    whitespace, trim. Whitespace is the explicit cross-engine class
    (text.WS_CLASS), not \\s — Java's \\s includes \\x0B, RE2's (the
    DuckDB oracle engine) does not."""
    from tbbid_scrapy_spark.operators.text import WS_CLASS

    return F.trim(F.regexp_replace(F.lower(col), f"{WS_CLASS}+", " "))


def exact_dedup(documents: DataFrame) -> DataFrame:
    """One row per distinct normalized text: keeper = min(doc_id), plus
    group size. Single hash-shuffle on a 64-bit key; at 100 TB this is
    the cheapest possible full-corpus dedup (partial aggregation map-side,
    no text comparison after hashing — collisions at 2^-64 are accepted
    and can be re-verified with a second equality pass)."""
    return (
        _spread(documents)
        .select(
            F.xxhash64(normalize_text(F.col("text"))).alias("text_hash"),
            F.col("doc_id"),
        )
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("dup_count"),
        )
    )


_WIDE_PLAN_NODES = ("Join ", "Aggregate [", "Window [", "Sort [",
                    "Deduplicate [", "RepartitionByExpression",
                    # round-robin df.repartition(n) / df.rebalance() have
                    # no expression list — match their distinct spellings
                    # (trailing space keeps "Repartition " from matching
                    # RepartitionByExpression twice)
                    "Repartition ", "RebalancePartitions")


def _spread(documents: DataFrame, n: int | None = None) -> DataFrame:
    """Parallelize the O(text-length) shingle work when the input arrives
    in fewer partitions than the session can use — typical for small
    parquet files, where one 128 MB-split task would single-thread a
    5-second explosion that 32 cores could do in 0.2 s (measured: the
    4 shingle branches of the Jaccard plan each ran as ONE task). A no-op
    at scale: inputs ≥ half the parallelism pass through untouched, so no
    shuffle is added to a 100 TB scan that is already wide.

    Partition count comes from ``safe_num_partitions``: probed via .rdd
    only where that cannot waste work (scan-rooted or persisted plans);
    uncached derived inputs pass through untouched — with AQE enabled,
    .rdd on them finalizes the plan and eagerly executes its upstream
    shuffle stages, unreused by the later action. Derived-but-NARROW
    inputs are the caller's job to widen before handing them here: AQE
    coalesces a small join/agg output to ONE partition, which would
    single-thread both the cache-fill and the shingle work —
    corpus_keep repartitions its survivors pre-persist when the input
    scan is narrow (measured 14.5 s vs 3.6 s at sf0.1,
    operators/text.py).

    The always-true nondeterministic filter after the repartition is a
    PUSHDOWN BARRIER: Catalyst pushes deterministic filters below a
    Repartition, so a caller's expression-heavy filter (corpus_keep's
    quality/lang gate — regex + HOFs) was evaluated in the SINGLE
    pre-exchange scan task, re-serializing exactly the work the spread
    parallelizes (measured: a 0.7 s one-task stage at sf0.1; plan showed
    `Filter` below the spread `Exchange`). Predicates cannot be
    reordered past a nondeterministic filter, and
    monotonically_increasing_id() ≥ 0 is always true, so semantics are
    unchanged at ~zero per-row cost. Applied only on the narrow-input
    branch — a wide (100 TB) scan passes through untouched and keeps
    full predicate pushdown.

    ``n``: the input's partition count when the caller already knows it
    (e.g. probed once and reused across queries over the same scan —
    the probe costs a ~40 ms .rdd round-trip per call); None probes."""
    target = documents.sparkSession.sparkContext.defaultParallelism
    if n is None:
        n = safe_num_partitions(documents)
    if n is not None and n * 2 <= target:
        return documents.repartition(target).filter(
            F.monotonically_increasing_id() >= 0
        )
    return documents


def safe_num_partitions(df: DataFrame) -> int | None:
    """Partition count via .rdd, probed ONLY when that cannot trigger
    wasted work: scan-rooted plans execute nothing, persisted frames
    fill a cache every later action reuses. Returns None for uncached
    derived plans (where AQE would finalize and eagerly run the upstream
    shuffles, unreused) — callers treat None as 'already wide'."""
    lvl = df.storageLevel
    if not (lvl.useMemory or lvl.useDisk):
        plan = df._jdf.queryExecution().analyzed().toString()
        if any(tok in plan for tok in _WIDE_PLAN_NODES):
            return None
    return df.rdd.getNumPartitions()


def _with_tokens(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, _toks): normalized whitespace tokens, MATERIALIZED as a
    column in their own projection. The shingle builders below read the
    array via O(1) ``element_at`` references; keeping the split in a
    separate projection (CollapseProject refuses to inline a non-cheap
    expression consumed many times) means it runs once per row instead
    of once per shingle position."""
    return _spread(documents).select(
        F.col("doc_id"),
        F.split(normalize_text(F.col(text_col)), " ").alias("_toks"),
    )


def _gram_hash_array(n: int) -> Column:
    """array<bigint> of distinct xxhash64(word-n-gram) over a
    materialized ``_toks`` column — the one shingle representation every
    near-dup operator reads. Each gram is ``xxhash64`` of the n tokens
    joined by single spaces (tokens are space-free after normalize_text).
    Reading the tokens via ``element_at`` instead of a per-position
    ``slice`` is ~3× cheaper per shingle (measured at sf0.1: 0.39 s →
    0.13 s for the 5k-doc set build). Distinct-then-hash vs
    hash-then-distinct differ only via 2^-64 hash collisions — the
    contract exact_dedup already accepts.

    Parsed as ONE SQL expression: the Column-by-Column build of the
    same tree cost ~100 py4j round-trips per call, driver-side, inside
    the timed query build. A document shorter than n tokens has an
    empty set."""
    elems = ", ".join(f"element_at(_toks, i + {j + 1})" for j in range(n))
    gram = f"xxhash64(concat_ws(' ', {elems}))"
    return F.expr(
        f"array_distinct(CASE WHEN size(_toks) - {n - 1} > 0 THEN "
        f"transform(sequence(0, size(_toks) - {n}), i -> {gram}) "
        f"ELSE cast(array() as array<bigint>) END)"
    )


def shingle_hash_sets(documents: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, sh array<bigint>): each document's distinct word-n-gram
    set as xxhash64 values (``_gram_hash_array``) — the shared input of
    minhash signatures (minhash_signatures), fingerprinting
    (simhash_shingle) and exact verification (verify_pairs_jaccard).
    Computing it once and persisting saves a second full document scan +
    O(len) shingle transform when a pipeline needs more than one (at
    corpus scale prefer materializing it to a table over in-memory
    persist)."""
    return _with_tokens(documents).select(
        F.col("doc_id"), _gram_hash_array(n).alias("sh")
    )


def verify_pairs_jaccard(documents: DataFrame, pairs: DataFrame,
                         n: int = 3, sets_: DataFrame | None = None) -> DataFrame:
    """Exact Jaccard for CANDIDATE pairs (id_a, id_b): join each side to
    its distinct-shingle set, then per-row ``array_intersect`` /
    ``array_union``. No shuffle explosion — candidate count, not corpus
    size, drives the cost, which is what makes candidate-generate +
    exact-verify the 100 TB near-dup shape. Output: (id_a, id_b, jaccard).

    Sets are carried as xxhash64(shingle) arrays, not strings: the
    per-pair intersect on longs is ~10× cheaper in both shuffle width and
    compare cost (measured 45 s → ~4 s on 83k template-heavy candidates),
    and a 2^-64 hash collision is the same accepted risk exact_dedup
    documents.

    ``sets_``: pre-computed ``shingle_hash_sets`` frame (pass a persisted
    one to share the shingle materialization with fingerprinting)."""
    if sets_ is None:
        sets_ = shingle_hash_sets(documents, n)
    # join the SAME frame twice via .alias(), not via per-side renamed
    # projections: renamed projections defeat exchange reuse (the two
    # build sides planned + scanned independently — visible as two
    # identical build stages in the stage log), while aliased scans of
    # one frame canonicalize identically and the second build becomes a
    # ReusedExchange
    s = sets_.select("doc_id", "sh")
    return (
        pairs.select("id_a", "id_b")
        .join(s.alias("sa"), F.col("id_a") == F.col("sa.doc_id"))
        .join(s.alias("sb"), F.col("id_b") == F.col("sb.doc_id"))
        .select(
            "id_a",
            "id_b",
            # try_divide: a caller-supplied pair of sub-n-word documents
            # has two EMPTY shingle sets (union size 0) — under an
            # ANSI-on session a plain '/' would raise DIVIDE_BY_ZERO and
            # kill the query; NULL jaccard fails any ≥ τ filter instead.
            F.try_divide(
                F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh"))),
                F.size(F.array_union(F.col("sa.sh"), F.col("sb.sh"))),
            ).alias("jaccard"),
        )
    )


def _gram_rows(documents: DataFrame, n: int) -> DataFrame:
    """(doc_id, shingle bigint): one row per distinct hashed gram of each
    document — the explode both the df cap and its statistic count."""
    return _with_tokens(documents).select(
        F.col("doc_id"), F.explode(_gram_hash_array(n)).alias("shingle")
    )


def stop_shingle_stats(documents: DataFrame, n: int = 3,
                       max_shingle_df: int | None = 1000) -> DataFrame:
    """No-silent-caps companion of ``ngram_jaccard_pairs``: how many
    shingles (and exploded rows) its df cap excludes — one aggregate row,
    counted over the same hashed-gram rows the cap filters."""
    df_tbl = _gram_rows(documents, n).groupBy("shingle").agg(
        F.count("*").alias("df")
    )
    dropped = F.col("df") > F.lit(max_shingle_df if max_shingle_df is not None else 2**62)
    return df_tbl.agg(
        F.count("*").alias("n_shingles"),
        F.sum(dropped.cast("long")).alias("shingles_dropped"),
        F.sum(F.when(dropped, F.col("df")).otherwise(0)).alias("rows_dropped"),
    )


def ngram_jaccard_pairs(documents: DataFrame, n: int = 3, threshold: float = 0.8,
                        max_shingle_df: int | None = 1000) -> DataFrame:
    """Exact Jaccard-similar pairs, computed COUNT-based over a
    one-pass INVERTED INDEX: ONE shingle scan groups exploded
    (doc_id, xxhash64(shingle)) rows into (shingle, doc list); the df cap
    is then a plain ``size(docs) <= cap`` filter on the grouped row (no
    separate df table, no join); shared-shingle pairs come from a double
    explode of each sub-cap doc list, whose ``groupBy(id_a, id_b)``
    partial count is EXACTLY |A ∩ B| (shingle sets are distinct per
    doc); and |A ∪ B| = |A| + |B| − |A ∩ B| from per-doc sub-cap set
    sizes (an explode + count over the same index). No pair ever
    materializes, carries, or intersects a shingle array, and the pair
    aggregation's map-side combine still collapses the
    quadratic-per-shingle output before it shuffles.

    Versus the previous self-join shape this removes SEVEN of eight full
    document scans + O(text-length) shingle transforms (the exploded
    frame fed a df-table aggregate, a df join, two self-join sides and a
    size aggregate — each a separate subtree re-running the shingle
    explode; measured at sf0.1: 46 Exchange nodes → 12, 1.88 s →
    0.57 s) and replaces the string-keyed shingle shuffle with 8-byte
    xxhash64 keys — the same 2^-64 accepted-collision contract as
    ``exact_dedup`` and ``verify_pairs_jaccard``.

    The grouped index is persisted (scratch-registered, caller-
    releasable): it feeds both the pair generation and the set-size
    aggregate, and the persist avoids re-scanning the text for the
    second consumer. At 100 TB materialize the index to a table
    instead — it is one row per distinct shingle carrying a doc-id list
    (the classic inverted index, ~total-shingle-occurrence bytes).

    Semantics under the df cap: sets are the SUB-CAP shingle sets, i.e.
    Jaccard over non-boilerplate shingles — identical to the full exact
    value whenever the cap doesn't bind (true at every shipped fixture:
    max df ≈ 9 at sf0.01 vs cap 1000, so the uncapped all-pairs SQL
    remains a genuine oracle); where it binds at web scale, similarity
    owed purely to boilerplate is deliberately not counted
    (``stop_shingle_stats`` reports the excluded mass; bench.py records
    it as ``shingle_df_cap`` in every bench JSON).

    NOT interchangeable with ``simhash_verified_pairs`` when the cap
    binds: that path verifies candidates with verify_pairs_jaccard over
    FULL shingle sets (its candidate stage has no df cap), so the two
    operators agree exactly on fixtures but diverge on boilerplate-heavy
    pairs at web scale — sub-cap Jaccard here, full Jaccard there."""
    grp = _gram_rows(documents, n).groupBy("shingle").agg(
        F.collect_list("doc_id").alias("docs")
    )
    if max_shingle_df is not None:
        grp = grp.filter(F.size("docs") <= max_shingle_df)
    grp = scratch.persist(grp)
    sizes = (
        grp.select(F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_sh"))
    )
    inter = (
        grp.select(F.explode("docs").alias("id_a"), F.col("docs"))
        .select("id_a", F.explode("docs").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    # size lookups are one row per doc — NOT forced broadcast (at corpus
    # scale they are as big as the corpus; AQE picks broadcast when
    # small). Joined via .alias() of ONE frame so the second lookup is a
    # ReusedExchange instead of a full recompute of the size aggregate
    # (renamed per-side projections defeat exchange reuse — measured as
    # two identical aggregate stages in the stage log).
    return (
        inter.join(sizes.alias("za"), F.col("id_a") == F.col("za.doc_id"))
        .join(sizes.alias("zb"), F.col("id_b") == F.col("zb.doc_id"))
        .withColumn(
            "jaccard",
            (
                F.col("inter")
                / (F.col("za.n_sh") + F.col("zb.n_sh") - F.col("inter"))
            ).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(sets_: DataFrame, num_hashes: int = 32) -> DataFrame:
    """(doc_id, sig array<bigint>) from a ``shingle_hash_sets`` frame —
    sig[i] = min over the document's gram hashes g of xxhash64(g, i), an
    independent rehash per component of the same distinct set. One
    explode + one groupBy with ``num_hashes`` min() aggregates, all
    codegen'd; map-side partial aggregation means the shuffle carries one
    row per doc. A document with an empty set gets no row."""
    ex = sets_.select(F.col("doc_id"), F.explode("sh").alias("shingle"))
    # one parsed expression per component (same min/xxhash64/int-seed
    # tree as the Column form, ~6x fewer py4j round-trips to build)
    aggs = [
        F.expr(f"min(xxhash64(shingle, {i})) AS h{i}")
        for i in range(num_hashes)
    ]
    sigs = ex.groupBy("doc_id").agg(*aggs)
    return sigs.select(
        "doc_id",
        F.expr("array(" + ",".join(f"h{i}" for i in range(num_hashes)) + ")").alias("sig"),
    )


def _bucket_pairs(rows: DataFrame, keys: list[str],
                  carry: list[str] | None = None,
                  screen=None) -> DataFrame:
    """Distinct (id_a, id_b) doc-id pairs co-occurring in ≥1 bucket.

    ``rows``: (doc_id, *keys, *carry) — one row per (doc, bucket)
    membership. Pairs are generated by grouping each bucket's members
    into ONE list (single shuffle of the narrow bucket rows, map-side
    combined) and double-exploding it, instead of self-joining the
    bucket rows — the self-join shape planned the (often expensive)
    signature subtree TWICE, once per side (minhash: the full
    explode+32-min aggregate; simhash: the fingerprint kernel), and
    shuffled both copies. Volume is identical: a k-member bucket emits
    k(k-1)/2 pair rows either way, in one task either way (the self-join
    hashed all of a bucket's rows to one partition too) — the known hot
    -bucket cliff is unchanged, just paid once instead of twice.

    ``screen(a, b)``: optional predicate over the carried member structs
    (fields: doc_id, *carry), applied BEFORE the distinct-pair shuffle
    — e.g. the simhash hamming screen."""
    carry = carry or []
    member = F.struct(F.col("doc_id"), *[F.col(c) for c in carry])
    grp = (
        rows.groupBy(*keys)
        .agg(F.collect_list(member).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    pairs = (
        grp.select(F.explode("ms").alias("a"), F.col("ms"))
        .select("a", F.explode("ms").alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
    )
    if screen is not None:
        pairs = pairs.filter(screen(F.col("a"), F.col("b")))
    return (
        pairs.select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_lsh_candidates(sigs: DataFrame, num_hashes: int = 32,
                           bands: int = 8) -> DataFrame:
    """Distinct candidate pairs colliding in ≥1 minhash LSH band of the
    ``minhash_signatures`` frame ``sigs``.

    rows-per-band r = num_hashes/bands; collision probability for a pair
    at Jaccard j is 1-(1-j^r)^b. The band shuffle carries ONLY
    (doc_id, band, bucket) — signatures never ride through the candidate
    join (they'd widen the shuffle ~num_hashes×); callers needing sig or
    exact scores join back on doc_id afterwards."""
    r = num_hashes // bands
    band_rows = sigs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), b -> struct(b AS band, "
                f"xxhash64(concat_ws('|', slice(sig, b * {r} + 1, {r})), b) AS bucket))"
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    return _bucket_pairs(band_rows, ["band", "bucket"])


def minhash_lsh_pairs(documents: DataFrame, n: int = 3, num_hashes: int = 32,
                      bands: int = 8, threshold: float = 0.5) -> DataFrame:
    """Near-dup pairs via banded minhash LSH candidates re-scored with the
    TRUE n-gram Jaccard (``verify_pairs_jaccard``) and filtered at
    ``threshold`` — output (id_a, id_b, jaccard) is deterministic,
    engine-independent, and oracle-checkable against the exact
    all-pairs SQL whenever band recall covers every qualifying pair
    (pinned empirically in tests at the shipped fixtures).

    The shingle sets are materialized ONCE (scratch-persisted, caller-
    releasable) and shared by signatures and the exact verifier — the
    same one-materialization shape simhash_verified_pairs uses; without
    it this operator scanned + re-shingled the corpus twice more (the
    signature explode and the verifier's set build). At 100 TB
    materialize the sets to a table instead — a persisted corpus-wide
    array column would overrun the storage pool."""
    sets_ = scratch.persist(shingle_hash_sets(documents, n))
    cand = minhash_lsh_candidates(
        minhash_signatures(sets_, num_hashes), num_hashes, bands
    )
    return verify_pairs_jaccard(documents, cand, n, sets_=sets_).filter(
        F.col("jaccard") >= threshold
    )


@_functools.lru_cache(maxsize=1)
def _simhash_from_sets_pd():
    """Whole-batch simhash from per-doc feature-hash arrays: one numpy
    unpackbits + reduceat per Arrow batch. A document's simhash depends
    ONLY on its own feature array, so it is computed row-locally — no
    explode, no shuffle. Bit i is set iff 2·(features with bit i) >
    n_features: a per-bit majority vote with a strict tie-break (a tie
    leaves the bit clear). ``test_simhash_kernel_majority_and_ties`` pins
    that rule on hand-built arrays, bit 63 included. Same map-only Arrow
    pattern as ``similarity._band_sigs_pd`` (measured there ~100× vs
    interpreted HOFs). An empty array maps to 0 here; ``simhash_shingle``
    filters empty sets out first, so they get no row."""
    import numpy as np

    @F.pandas_udf("long")
    def sig(sh: pd.Series) -> pd.Series:
        if len(sh) == 0:
            return pd.Series([], dtype="int64")
        vals = sh.to_numpy()
        lens = np.fromiter(
            (len(v) if v is not None else 0 for v in vals),
            dtype=np.int64, count=len(vals),
        )
        out = np.zeros(len(vals), dtype=np.int64)
        nz = np.nonzero(lens)[0]
        if len(nz):
            flat = np.concatenate([vals[i] for i in nz]).astype(np.int64)
            # little-endian uint8 view + bitorder='little': column j of
            # the unpacked matrix IS bit j of the int64 (incl. bit 63)
            bits = np.unpackbits(
                flat.view(np.uint64).view(np.uint8).reshape(-1, 8),
                axis=1, bitorder="little",
            ).astype(np.int64)  # uint8 reduceat would wrap at 256 features
            starts = np.concatenate(([0], np.cumsum(lens[nz])[:-1]))
            counts = np.add.reduceat(bits, starts, axis=0).reshape(len(nz), 64)
            simbits = (2 * counts > lens[nz, None]).astype(np.uint64)
            w = np.left_shift(np.uint64(1), np.arange(64, dtype=np.uint64))
            out[nz] = (simbits * w).sum(axis=1, dtype=np.uint64).view(np.int64)
        return pd.Series(out)

    return sig


def simhash_shingle(documents: DataFrame, n: int = 3,
                    sets_: DataFrame | None = None) -> DataFrame:
    """Shingle-feature simhash: features are word n-gram hashes, so the
    fingerprint estimates the SHINGLE-set angle — hamming correlates with
    n-gram Jaccard (token-feature simhash does not separate template-heavy
    corpora: docs sharing vocabulary but not phrasing sit at hamming ≤16,
    measured 83k candidates on 5k docs vs 4k with shingle features).

    Computed row-locally from the feature arrays (``_simhash_from_sets_pd``
    — map-only, no shuffle). A document with an empty set gets no row.

    ``sets_``: pre-computed ``shingle_hash_sets`` frame to read instead
    of re-scanning/re-shingling the documents."""
    if sets_ is None:
        sets_ = shingle_hash_sets(documents, n)
    return (
        sets_.filter(F.size("sh") > 0)
        .select("doc_id", _simhash_from_sets_pd()(F.col("sh")).alias("simhash"))
    )


def simhash_rotated_band_candidates(sh: DataFrame, width: int = 8,
                                    offsets: tuple[int, ...] = (0, 2, 4, 6),
                                    max_hamming: int | None = None) -> DataFrame:
    """Distinct candidate pairs colliding in ≥1 of len(offsets)×(64/width)
    overlapping fingerprint windows (Manku-style rotated tables): each
    rotation re-slices the 64 bits at a different phase, so a pair at
    hamming h collides unless its flipped bits hit EVERY window — recall
    rises steeply with rotations at fixed cost per table. The band shuffle
    carries only (doc_id, band, chunk) plus the 8-byte fingerprint when
    ``max_hamming`` is set.

    ``max_hamming``: screen colliding pairs by bit_count(a XOR b) ≤ k
    BEFORE the distinct-pair shuffle. Narrow windows pigeonhole-floor
    bucket occupancy as the corpus grows (256 buckets/band at width=8),
    so band collisions of UNRELATED pairs grow quadratically — but a
    random pair's hamming concentrates at 32±4, far above any near-dup,
    so the screen kills ~all of them for the cost of one XOR, leaving the
    dedup shuffle and downstream exact verify at true-candidate volume
    (measured 5k docs / 32 bands: ~500k colliding pairs → ~4k screened)."""
    if width <= 0 or 64 % width:
        raise ValueError(f"width must divide 64, got {width}")
    mask = (1 << width) - 1
    # the 32-struct window array parses as ONE SQL expression (same
    # rotate/shift/mask trees as the Column build, which cost ~300 py4j
    # round-trips per call inside the timed query build)
    structs = []
    bid = 0
    for off in offsets:
        rot = (
            f"(shiftrightunsigned(simhash, {off}) | shiftleft(simhash, {64 - off}))"
            if off
            else "simhash"
        )
        for i in range(64 // width):
            structs.append(
                f"struct({bid} AS band, "
                f"shiftrightunsigned({rot}, {width * i}) & {mask} AS chunk)"
            )
            bid += 1
    cols = ["doc_id", "simhash"] if max_hamming is not None else ["doc_id"]
    bands = sh.select(
        *cols, F.explode(F.expr("array(" + ",".join(structs) + ")")).alias("bc")
    ).select(*cols, "bc.band", "bc.chunk")
    screen = None
    if max_hamming is not None:
        def screen(a, b):
            return (
                F.bit_count(a["simhash"].bitwiseXOR(b["simhash"]))
                <= max_hamming
            )
    return _bucket_pairs(
        bands, ["band", "chunk"],
        carry=["simhash"] if max_hamming is not None else None,
        screen=screen,
    )


def simhash_verified_pairs(documents: DataFrame, n: int = 3,
                           threshold: float = 0.5, width: int = 8,
                           offsets: tuple[int, ...] = (0, 2, 4, 6),
                           max_hamming: int = 20) -> DataFrame:
    """SimHash near-dup pairs verified by TRUE n-gram Jaccard.

    Pipeline: shingle-feature simhash → rotated-window band candidates
    (hamming-screened at ``max_hamming``) → exact-Jaccard verify at
    ``threshold``. The verify stage scores FULL shingle sets (no df
    cap), unlike ``ngram_jaccard_pairs`` whose Jaccard is over sub-cap
    sets when ``max_shingle_df`` binds — identical on the fixtures
    (cap never binds), deliberately different on boilerplate-heavy
    pairs at web scale; don't treat the two paths as interchangeable
    there. Shingle features make hamming track Jaccard (near-dups
    at j≥0.5 sit at hamming ≤12 here; token features would put half the
    template-heavy corpus there); the hamming screen then removes the
    unrelated band collisions narrow windows admit (random pairs sit at
    32±4 — the default 20 is ≥2σ above every observed qualifying pair and
    ~3σ below random; recall vs the exact computation is pinned in tests
    at both fixture scales). Output (id_a, id_b, jaccard) is
    engine-independent → the exact all-pairs SQL is a genuine oracle.

    Scale note: 8-bit windows bound bucket count at 256/band, which
    pigeonhole-floors candidate volume once the corpus passes ~10^6 docs;
    the hamming screen keeps the verify stage at true-candidate volume
    but the band join itself still grows — widen to 16-bit windows with
    more rotations there (recall becomes probabilistic — re-pin on a
    fixture of the target corpus).

    The (doc_id, shingle-hash array) frame is computed ONCE and persisted
    (``shingle_hash_sets``) and feeds both the fingerprint votes and the
    exact verify — previously each stage re-scanned the documents and
    re-ran the O(len) shingle transform (two full extra passes; the r2
    bench's costliest headline query). At 100 TB materialize the frame
    to a table instead — a persisted corpus-wide array column would
    overrun the storage pool. The persist is registered with
    ``operators.scratch``; call ``scratch.release()`` after your final
    action to drop it."""
    sets_ = scratch.persist(shingle_hash_sets(documents, n))
    cand = simhash_rotated_band_candidates(
        simhash_shingle(documents, n, sets_=sets_), width, offsets,
        max_hamming=max_hamming,
    )
    return verify_pairs_jaccard(documents, cand, n, sets_=sets_).filter(
        F.col("jaccard") >= threshold
    )

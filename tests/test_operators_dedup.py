"""Dedup + similarity operator quality: approximate methods validated
against exact ground truth on a corpus with planted near-duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tbbid_scrapy_spark.operators import dedup, similarity

WORDS = (
    "the quick brown fox jumps over a lazy dog while seventeen engineers "
    "review spark plans and tune shuffle partitions for the big cluster run"
).split()


def _doc(i: int, mutate: int = 0) -> str:
    toks = list(WORDS) * 3
    for m in range(mutate):
        toks[(i * 7 + m * 13) % len(toks)] = f"tok{i}_{m}"
    return " ".join(toks)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = []
    # 10 families: original + near-dup (1 mutation) + far variant (25)
    for fam in range(10):
        rows.append((fam * 3 + 0, _doc(fam, 0) + f" family{fam}"))
        rows.append((fam * 3 + 1, _doc(fam, 1) + f" family{fam}"))
        rows.append((fam * 3 + 2, _doc(fam, 25) + f" family{fam}"))
    # exact duplicates
    rows.append((100, rows[0][1]))
    rows.append((101, "  " + rows[0][1].upper() + " "))  # normalizes equal
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, corpus):
    out = dedup.exact_dedup(corpus)
    groups = {r.keep_doc_id: r.dup_count for r in out.collect()}
    assert groups[0] == 3  # doc 0 + 100 + 101 normalize identically
    assert out.count() == corpus.count() - 2


def test_ngram_jaccard_finds_planted_pairs(spark, corpus):
    pairs = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(corpus, n=3, threshold=0.7).collect()
    }
    for fam in range(10):
        assert (fam * 3, fam * 3 + 1) in pairs, f"family {fam} near-dup missed"
    # far variants must NOT pair with originals at 0.7
    for fam in range(10):
        assert (fam * 3, fam * 3 + 2) not in pairs


def test_minhash_recall_vs_exact(spark, corpus):
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(corpus, n=3, threshold=0.8).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(
            corpus, n=3, num_hashes=32, bands=8, threshold=0.5
        ).collect()
    }
    assert exact, "ground truth empty — fixture broken"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"minhash recall {recall}"


def test_minhash_estimate_tracks_exact(spark, corpus):
    """The agreeing-component fraction of the production signatures
    (minhash over shingle_hash_sets) is an unbiased Jaccard estimate."""
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(corpus, n=3, threshold=0.3).collect()
    }
    sigs = {
        r.doc_id: r.sig
        for r in dedup.minhash_signatures(
            dedup.shingle_hash_sets(corpus, n=3), num_hashes=32
        ).collect()
    }
    assert exact
    for (a, b), j in exact.items():
        est = sum(x == y for x, y in zip(sigs[a], sigs[b])) / 32
        assert abs(j - est) < 0.3, ((a, b), j, est)


def _majority_simhash(sh):
    """Driver-side per-bit majority vote over a gram-hash array: bit i is
    set iff strictly more than half the hashes have it."""
    out = 0
    for i in range(64):
        ones = sum((v >> i) & 1 for v in sh)
        if 2 * ones > len(sh):
            out |= 1 << i
    return out - (1 << 64) if out >= 1 << 63 else out


def _hamming(a, b):
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_simhash_near_dups(spark, corpus):
    sets_ = dedup.shingle_hash_sets(corpus, n=3)
    sigs = {r.doc_id: r.simhash
            for r in dedup.simhash_shingle(corpus, n=3, sets_=sets_).collect()}
    # exact dups normalize to one shingle set → one fingerprint
    assert sigs[0] == sigs[100] == sigs[101]
    # shingle features make hamming track Jaccard: in every family the
    # 1-mutation near-dup sits closer to the original than the far variant
    for fam in range(10):
        o, near, far = fam * 3, fam * 3 + 1, fam * 3 + 2
        assert _hamming(sigs[o], sigs[near]) < _hamming(sigs[o], sigs[far]), fam
    # the Arrow kernel IS the per-bit majority vote over the gram hashes
    sets_by_doc = {r.doc_id: r.sh for r in sets_.collect()}
    assert set(sigs) == set(sets_by_doc)
    for d, sh in sets_by_doc.items():
        assert sigs[d] == _majority_simhash(sh), d


def test_simhash_kernel_majority_and_ties(spark):
    """_simhash_from_sets_pd on hand-built arrays: bit 63 counts like any
    other bit, a strict tie leaves the bit clear, an empty set gets no
    row."""
    sets_ = spark.createDataFrame(
        [(1, [-1]), (2, [-1, 0]), (3, [-1, -1, 0]), (4, [])],
        "doc_id long, sh array<bigint>",
    )
    got = {r.doc_id: r.simhash
           for r in dedup.simhash_shingle(None, sets_=sets_).collect()}
    assert got == {1: -1, 2: 0, 3: -1}


def test_lsh_topk_recall_vs_brute_force(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.vec_id)
        for r in similarity.cosine_topk(emb, queries, k=10).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in similarity.lsh_bucket_topk(emb, queries, k=10, n_planes=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"LSH recall vs brute force {recall}"  # 16 buckets on 500 vecs


def test_pairs_above_exact_vs_lsh(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(200)
    exact = {
        (r.id_a, r.id_b)
        for r in similarity.pairs_above(emb, threshold=0.9, exact=True).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in similarity.pairs_above(emb, threshold=0.9, n_planes=4).collect()
    }
    assert lsh <= exact  # LSH candidates re-scored exactly → no false pairs


# ---------------------------------------------------------------------------
# candidate-generate + exact-verify (round 2): the minhash_lsh / simhash
# driver queries emit candidates re-scored by TRUE n-gram Jaccard, so the
# exact all-pairs SQL is their oracle IFF candidate recall is total on the
# driver fixtures. These tests pin exactly that claim.
# ---------------------------------------------------------------------------

def _brute_jaccard(rows, n=3):
    """Driver-independent ground truth: python set Jaccard on word n-grams."""
    import itertools

    def sh(text):
        toks = " ".join(text.lower().split()).split(" ")
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    sets_ = {r.doc_id: sh(r.text) for r in rows}
    out = {}
    for a, b in itertools.combinations(sorted(sets_), 2):
        sa, sb = sets_[a], sets_[b]
        if sa or sb:
            out[(a, b)] = len(sa & sb) / len(sa | sb)
    return out


def test_verify_pairs_jaccard_matches_definition(spark, corpus):
    truth = _brute_jaccard(corpus.collect())
    cand = dedup.ngram_jaccard_pairs(corpus, n=3, threshold=0.0,
                                     max_shingle_df=None)
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.verify_pairs_jaccard(corpus, cand, n=3).collect()
    }
    for k, v in got.items():
        assert abs(truth[k] - v) < 1e-12, (k, truth[k], v)
    # every nonzero-overlap pair is a candidate when the cap is off
    assert set(got) == {k for k, v in truth.items() if v > 0}


def test_shingle_df_cap_drops_boilerplate_only_pairs(spark):
    # two docs overlapping ONLY via a shingle shared by everyone
    rows = [(i, f"common boiler plate unique{i} tail{i} end{i}") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = dedup.ngram_jaccard_pairs(
        df, n=3, threshold=0.0, max_shingle_df=None).count()
    capped = dedup.ngram_jaccard_pairs(
        df, n=3, threshold=0.0, max_shingle_df=3).count()
    assert uncapped == 15 and capped == 0
    stats = dedup.stop_shingle_stats(df, n=3, max_shingle_df=3).collect()[0]
    assert stats.shingles_dropped == 1 and stats.rows_dropped == 6


@pytest.fixture(scope="module")
def driver_docs(spark):
    import os

    path = "/root/testdata/sf0.001/documents.parquet"
    if not os.path.exists(path):
        pytest.skip("driver testdata not present")
    return spark.read.parquet(path)


def test_candidate_recall_total_on_driver_fixture(spark, driver_docs):
    """Oracle-validity pin: every exact pair ≥ 0.5 must be an LSH candidate
    for BOTH approximate methods at the shipped parameters (xxhash64 is
    seed-stable, so green here is green at driver time)."""
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(driver_docs, n=3, threshold=0.5).collect()
    }
    assert exact, "fixture lost its planted near-dups?"
    mh = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_candidates(
            dedup.minhash_signatures(dedup.shingle_hash_sets(driver_docs, n=3),
                                     num_hashes=32),
            num_hashes=32, bands=8,
        ).collect()
    }
    sh = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_rotated_band_candidates(
            dedup.simhash_shingle(driver_docs, n=3)
        ).collect()
    }
    assert exact <= mh, f"minhash bands missed {exact - mh}"
    assert exact <= sh, f"simhash bands missed {exact - sh}"


def test_verified_entry_queries_equal_exact(spark, driver_docs):
    exact = {
        (r.id_a, r.id_b): round(r.jaccard, 6)
        for r in dedup.ngram_jaccard_pairs(driver_docs, n=3, threshold=0.5).collect()
    }
    mh = {
        (r.id_a, r.id_b): round(r.jaccard, 6)
        for r in dedup.minhash_lsh_pairs(
            driver_docs, n=3, num_hashes=32, bands=8, threshold=0.5
        ).collect()
    }
    sv = {
        (r.id_a, r.id_b): round(r.jaccard, 6)
        for r in dedup.simhash_verified_pairs(
            driver_docs, n=3, threshold=0.5
        ).collect()
    }
    assert mh == exact
    assert sv == exact


def test_ivf_partial_probe_exact_on_clustered_data(spark):
    """On data WITH neighbor structure (8 well-separated clusters), IVF
    probing only 2 of 8 lists must reproduce brute-force top-k exactly —
    the pruning path, not the degenerate full probe."""
    import numpy as np

    rng = np.random.RandomState(42)
    centers = rng.normal(size=(8, 32)) * 10.0
    rows = []
    for i in range(320):
        v = centers[i % 8] + rng.normal(size=32)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qs = emb.filter(F.col("vec_id") < 8)
    exact = {
        (r.query_id, r.rank, r.vec_id)
        for r in similarity.cosine_topk(emb, qs, k=5).collect()
    }
    ivf = {
        (r.query_id, r.rank, r.vec_id)
        for r in similarity.ivf_topk(
            emb, qs, k=5, n_centroids=8, n_probe=2, iters=3
        ).collect()
    }
    assert ivf == exact


def test_ivf_recall_curve_and_balance_on_driver_fixture(spark):
    """Unstructured fixture embeddings: recall grows monotonically with
    n_probe and reaches 1.0 at full probe (the driver-gate operating
    point); the k-means lists stay balanced (no empty / giant list)."""
    import os

    path = "/root/testdata/sf0.01/embeddings.parquet"
    if not os.path.exists(path):
        pytest.skip("driver testdata not present")
    emb = spark.read.parquet(path)
    qs = emb.filter(F.col("vec_id") < 8)
    exact = {
        (r.query_id, r.vec_id)
        for r in similarity.cosine_topk(emb, qs, k=5).collect()
    }
    idx = similarity.ivf_index(emb, n_centroids=16, iters=2)
    recalls = []
    for n_probe in (8, 16):
        got = {
            (r.query_id, r.vec_id)
            for r in similarity.ivf_topk(
                emb, qs, k=5, n_centroids=16, n_probe=n_probe, index=idx
            ).collect()
        }
        recalls.append(len(exact & got) / len(exact))
    assert recalls[0] >= 0.5
    assert recalls[-1] == 1.0  # full probe == brute force (driver oracle)
    assert recalls == sorted(recalls)
    counts = [r["count"] for r in idx[1].groupBy("cid").count().collect()]
    assert len(counts) == 16 and min(counts) > 0 and max(counts) < 500 * 0.2


def test_simhash_hamming_screen_lossless_at_bench_scale(spark):
    """The hamming pre-screen (max_hamming=20) must not lose a single
    qualifying pair at the LARGEST local fixture (sf0.1, 5k docs) — the
    scale where narrow 8-bit windows pigeonhole-admit ~10^5 unrelated
    collisions and the screen does real work. Equality, not recall."""
    import os

    path = "/root/testdata/sf0.1/documents.parquet"
    if not os.path.exists(path):
        pytest.skip("sf0.1 testdata not present")
    docs = spark.read.parquet(path)
    exact = {
        (r.id_a, r.id_b): round(r.jaccard, 6)
        for r in dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    screened = {
        (r.id_a, r.id_b): round(r.jaccard, 6)
        for r in dedup.simhash_verified_pairs(docs, n=3, threshold=0.5).collect()
    }
    assert len(exact) > 100  # the fixture plants hundreds of near-dups
    assert screened == exact


def test_embedding_near_dup_lsh_equals_exact_on_driver_fixture(spark):
    """Oracle-validity pin for q_embedding_near_dup on the DRIVER fixture
    with the query's own deterministic perturbed-copy augmentation (the
    raw fixture has no pair above cos ~0.51 — comparing on it alone is
    the vacuous 0==0 the r2 verdict flagged; the planted-recall pins live
    in tests/test_operators_similarity.py)."""
    import os

    path = "/root/testdata/sf0.001/embeddings.parquet"
    if not os.path.exists(path):
        pytest.skip("driver testdata not present")
    from pyspark.sql import functions as F

    emb = spark.read.parquet(path).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    pert = F.transform(
        F.col("embedding"),
        lambda x, i: x + ((F.col("vec_id") * 131 + (i + 1) * 17) % 7 - 3) * 0.004,
    )
    aug = emb.unionByName(
        emb.select((F.col("vec_id") + 100000).alias("vec_id"), pert.alias("embedding"))
    )
    exact = {
        (r.id_a, r.id_b)
        for r in similarity.pairs_above(aug, threshold=0.95, exact=True).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in similarity.pairs_above(aug, threshold=0.95).collect()
    }
    assert len(exact) == 500  # one planted pair per fixture vector
    assert lsh == exact


def test_verify_pairs_empty_shingle_sets_null_not_crash(spark):
    """A candidate pair of sub-n-word documents has two EMPTY shingle
    sets: jaccard must be NULL (0/0 via try_divide), never a
    DIVIDE_BY_ZERO crash under an ANSI-on session."""
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        docs = spark.createDataFrame(
            [(1, "short title"), (2, "tiny"), (3, "a much longer document body here")],
            "doc_id long, text string",
        )
        pairs = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
        out = {(r.id_a, r.id_b): r.jaccard
               for r in dedup.verify_pairs_jaccard(docs, pairs, n=3).collect()}
        assert out[(1, 2)] is None        # both sets empty → NULL, no crash
        assert out[(1, 3)] == 0.0         # empty vs non-empty → 0
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


def test_minhash_shares_one_shingle_materialization(spark, corpus):
    """minhash_lsh_pairs derives signatures AND the
    verifier from ONE scratch-persisted shingle_hash_sets frame — pinned
    by the scratch registration (relative to pre-test state) and by the
    pair output still matching the exact oracle."""
    from tbbid_scrapy_spark.operators import scratch

    # empty the scratch registry first: its FIFO cap otherwise releases
    # an older registered persist when minhash registers its sets, so an
    # absolute persistent-RDD count could stay flat (suite ordering)
    scratch.release()
    sc_ = spark.sparkContext._jsc.sc()
    before = sc_.getPersistentRDDs().size()
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(corpus, n=3, threshold=0.5).collect()
    }
    got = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(
            corpus, n=3, num_hashes=32, bands=16, threshold=0.5
        ).collect()
    }
    assert sc_.getPersistentRDDs().size() >= before + 1  # sets persisted
    scratch.release()
    recall = len(got & exact) / max(len(exact), 1)
    assert recall >= 0.9, f"shared-sets minhash recall {recall}"
    # exact-verified pairs are a subset of the exact qualifying pairs
    assert got <= exact

"""Checkpoint/resume: kill after wave k, resume, final state equals the
uninterrupted run (SURVEY.md §5d; north-star C7)."""

from __future__ import annotations

import pytest

from tbbid_scrapy_spark.fixtures import sitegen
from tbbid_scrapy_spark.plans.crawl import CrawlConfig, CrawlEngine


def _order(state):
    return [
        (r.wave, r.url_norm)
        for r in state.fetch_log.orderBy("wave", "fetch_pos").collect()
    ]


def test_resume_equals_uninterrupted(spark, site_df, politeness_df, robots_df, tmp_path):
    seeds = sitegen.default_seeds()

    full = CrawlEngine(
        spark, site_df, seeds, politeness_df, robots_df, CrawlConfig(max_waves=50)
    ).run()

    ck = str(tmp_path / "ck")
    partial_engine = CrawlEngine(
        spark, site_df, seeds, politeness_df, robots_df,
        CrawlConfig(max_waves=4, checkpoint_dir=ck),
    )
    partial = partial_engine.run()
    assert partial.wave == 4  # "killed" mid-crawl

    resumed_engine = CrawlEngine(
        spark, site_df, seeds, politeness_df, robots_df,
        CrawlConfig(max_waves=50, checkpoint_dir=ck),
    )
    resumed = resumed_engine.run(resume=True)

    assert _order(resumed) == _order(full)
    assert (
        {r.url_norm for r in resumed.seen.collect()}
        == {r.url_norm for r in full.seen.collect()}
    )
    f_full = {(r.url_norm, r.state, r.attempts) for r in full.frontier.collect()}
    f_res = {(r.url_norm, r.state, r.attempts) for r in resumed.frontier.collect()}
    assert f_res == f_full


def test_resume_fails_loudly_on_corrupt_seen_table(
    spark, site_df, politeness_df, robots_df, tmp_path
):
    """A committed seen part that cannot be read must fail the resumed
    run before anything commits. Reading it as an empty or missing
    table instead would drop every URL it holds from the seen-set
    dedup and re-enqueue already-crawled URLs."""
    import glob
    import os

    from tbbid_scrapy_spark.sources.sink import Catalog

    ck = str(tmp_path / "ck")
    CrawlEngine(
        spark, site_df, sitegen.default_seeds(), politeness_df, robots_df,
        CrawlConfig(max_waves=3, checkpoint_dir=ck),
    ).run()
    before = Catalog(ck).read()
    assert before["wave"] == 3

    files = glob.glob(os.path.join(ck, "seen", "part-*", "*.parquet"))
    with open(max(files, key=os.path.getsize), "wb") as f:
        f.write(b"this is not parquet")

    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        CrawlEngine(
            spark, site_df, sitegen.default_seeds(), politeness_df, robots_df,
            CrawlConfig(max_waves=50, checkpoint_dir=ck),
        ).run(resume=True)
    assert Catalog(ck).read() == before


def test_resume_rebuilds_shards_on_seen_format_mismatch(
    spark, site_df, politeness_df, robots_df, tmp_path
):
    """A checkpoint whose manifest carries a DIFFERENT seen-structure
    format tag (probe-math version bump, spec change, or a pre-stamp
    manifest with no tag at all) must NOT reuse the persisted bitsets —
    they'd return silent false negatives (seen URLs refetched). The
    engine rebuilds shards from the exact seen table; the resumed run
    must still equal the uninterrupted one bit for bit."""
    import json
    import os

    from tbbid_scrapy_spark.operators.bloom import BloomSpec

    seeds = sitegen.default_seeds()
    spec = BloomSpec.for_capacity(expected_n=10_000, fp_rate=1e-6, n_shards=8)

    full = CrawlEngine(
        spark, site_df, seeds, politeness_df, robots_df,
        CrawlConfig(max_waves=50, seen_mode="bloom", bloom_spec=spec),
    ).run()

    ck = str(tmp_path / "ck")
    CrawlEngine(
        spark, site_df, seeds, politeness_df, robots_df,
        CrawlConfig(max_waves=3, checkpoint_dir=ck, seen_mode="bloom",
                    bloom_spec=spec),
    ).run()

    # simulate a checkpoint written by pre-stamp code: drop the tag
    mpath = os.path.join(ck, "_MANIFEST")
    with open(mpath) as f:
        manifest = json.load(f)
    assert manifest["seen_format"] == spec.format_tag()  # stamped at commit
    del manifest["seen_format"]
    with open(mpath, "w") as f:
        json.dump(manifest, f)

    resumed = CrawlEngine(
        spark, site_df, seeds, politeness_df, robots_df,
        CrawlConfig(max_waves=50, checkpoint_dir=ck, seen_mode="bloom",
                    bloom_spec=spec),
    ).run(resume=True)

    assert _order(resumed) == _order(full)
    assert (
        {r.url_norm for r in resumed.seen.collect()}
        == {r.url_norm for r in full.seen.collect()}
    )


def test_resume_rebuilds_cuckoo_shards_on_format_mismatch(
    spark, site_df, politeness_df, robots_df, tmp_path
):
    """Cuckoo-mode twin of the bloom rebuild test: a pre-stamp manifest
    forces _rebuild_shards through the cuckoo test+insert (re-inserting
    every committed url_hash into fresh tables under the current
    FP_FORMAT); the resumed run must equal the uninterrupted one."""
    import json
    import os

    from tbbid_scrapy_spark.operators.cuckoo import CuckooSpec

    seeds = sitegen.default_seeds()
    spec = CuckooSpec.for_capacity(10_000, n_shards=8)

    full = CrawlEngine(
        spark, site_df, seeds, politeness_df, robots_df,
        CrawlConfig(max_waves=50, seen_mode="cuckoo", cuckoo_spec=spec),
    ).run()

    ck = str(tmp_path / "ck")
    CrawlEngine(
        spark, site_df, seeds, politeness_df, robots_df,
        CrawlConfig(max_waves=3, checkpoint_dir=ck, seen_mode="cuckoo",
                    cuckoo_spec=spec),
    ).run()

    mpath = os.path.join(ck, "_MANIFEST")
    with open(mpath) as f:
        manifest = json.load(f)
    assert manifest["seen_format"] == spec.format_tag()
    assert ":fp48-63-xormix-v1:" in manifest["seen_format"]  # cuckoo's OWN version
    del manifest["seen_format"]
    with open(mpath, "w") as f:
        json.dump(manifest, f)

    resumed = CrawlEngine(
        spark, site_df, seeds, politeness_df, robots_df,
        CrawlConfig(max_waves=50, checkpoint_dir=ck, seen_mode="cuckoo",
                    cuckoo_spec=spec),
    ).run(resume=True)

    assert _order(resumed) == _order(full)
    assert (
        {r.url_norm for r in resumed.seen.collect()}
        == {r.url_norm for r in full.seen.collect()}
    )


def test_resume_reuses_shards_on_matching_format(
    spark, site_df, politeness_df, robots_df, tmp_path
):
    """Same-format resume takes the fast path: shards read back from the
    snapshot version, not rebuilt (rebuild is O(|seen|) — fine once,
    wrong as a tax on every clean resume)."""
    from tbbid_scrapy_spark.operators.bloom import BloomSpec

    seeds = sitegen.default_seeds()
    spec = BloomSpec.for_capacity(expected_n=10_000, fp_rate=1e-6, n_shards=8)
    ck = str(tmp_path / "ck")
    CrawlEngine(
        spark, site_df, seeds, politeness_df, robots_df,
        CrawlConfig(max_waves=3, checkpoint_dir=ck, seen_mode="bloom",
                    bloom_spec=spec),
    ).run()
    eng = CrawlEngine(
        spark, site_df, seeds, politeness_df, robots_df,
        CrawlConfig(max_waves=3, checkpoint_dir=ck, seen_mode="bloom",
                    bloom_spec=spec),
    )
    calls = []
    orig = eng._rebuild_shards
    eng._rebuild_shards = lambda seen: calls.append(1) or orig(seen)
    st = eng.resume()
    assert calls == []  # matching tag → no rebuild
    assert st.shards is not None and st.shards.count() == spec.n_shards


def test_fresh_run_refuses_committed_checkpoint_dir(spark, site_df, politeness_df,
                                                    robots_df, tmp_path):
    """run(resume=False) into a dir holding a committed manifest must
    refuse: delta part names are deterministic per wave, so starting over
    would overwrite parquet the live manifest still references (a crash
    mid-first-commit would then corrupt the only resume point)."""
    seeds = sitegen.default_seeds()
    ck = str(tmp_path / "ck")
    CrawlEngine(
        spark, site_df, seeds, politeness_df, robots_df,
        CrawlConfig(max_waves=2, checkpoint_dir=ck),
    ).run()
    again = CrawlEngine(
        spark, site_df, seeds, politeness_df, robots_df,
        CrawlConfig(max_waves=2, checkpoint_dir=ck),
    )
    with pytest.raises(ValueError, match="resume=True"):
        again.run()
    # resume=True remains the supported way in
    st = again.run(resume=True)
    assert st.wave >= 2


@pytest.mark.parametrize(
    "case, message",
    [
        ("resume_without_checkpoint_dir", "requires CrawlConfig.checkpoint_dir"),
        ("resume_empty_checkpoint_dir", "no committed manifest"),
        ("resume_five_table_checkpoint", "five-table.*fresh checkpoint_dir"),
        ("simhash_band_width", "width must divide 64"),
    ],
)
def test_bad_caller_input_raises_value_error(
    spark, site_df, politeness_df, robots_df, tmp_path, case, message
):
    """Caller input is checked with raises, not asserts: under
    ``python -O`` an assert vanishes and each case failed later with an
    unrelated error (AttributeError on a None catalog, TypeError on a
    missing manifest, a silently wrong band split). A checkpoint in the
    older layout — five per-wave delta tables (done, seen, fetch_log,
    extracted, metrics), no wave log — names that layout and asks for a
    fresh checkpoint_dir instead of failing on a bare KeyError."""
    from tbbid_scrapy_spark.operators import dedup
    from tbbid_scrapy_spark.sources.sink import Catalog

    def crawl(checkpoint_dir):
        return CrawlEngine(
            spark, site_df, sitegen.default_seeds(), politeness_df, robots_df,
            CrawlConfig(max_waves=1, checkpoint_dir=checkpoint_dir),
        ).run(resume=True)

    def five_table_dir():
        ck = str(tmp_path / "ck5")
        tables = ("done", "seen", "fetch_log", "extracted", "metrics")
        Catalog(ck).commit({
            "wave": 3, "next_seq": 40, "pending_est": 12, "seen_format": None,
            "snapshots": {"pending": 4},
            "deltas": {t: [f"part-{w:06d}-0" for w in range(4)] for t in tables},
        })
        return ck

    calls = {
        "resume_without_checkpoint_dir": lambda: crawl(None),
        "resume_empty_checkpoint_dir": lambda: crawl(str(tmp_path / "ck")),
        "resume_five_table_checkpoint": lambda: crawl(five_table_dir()),
        "simhash_band_width": lambda: dedup.simhash_rotated_band_candidates(
            spark.createDataFrame([("d", 1)], "doc_id string, simhash long"),
            width=7,
        ),
    }
    with pytest.raises(ValueError, match=message):
        calls[case]()


def test_snapshot_commit_respects_manifest_versions(spark, tmp_path):
    """write_version numbers each version past every version directory
    already on disk — also one written through another handle on the
    same root, as a resumed engine's is — so it never overwrites a
    version a manifest may reference; read_version reads each back."""
    from tbbid_scrapy_spark.sources.sink import SnapshotTable

    root = str(tmp_path / "tbl")
    t = SnapshotTable(spark, root)
    assert [t.write_version(spark.range(n)) for n in (3, 5)] == [1, 2]
    again = SnapshotTable(spark, root)
    assert again.write_version(spark.range(7)) == 3
    assert [again.read_version(v).count() for v in (1, 2, 3)] == [3, 5, 7]


def test_durable_replace_atomic_and_clean(tmp_path):
    from tbbid_scrapy_spark.sources.sink import _durable_replace

    target = str(tmp_path / "_PTR")
    _durable_replace(str(tmp_path), target, "41")
    _durable_replace(str(tmp_path), target, "42")
    with open(target) as f:
        assert f.read() == "42"
    # no temp litter left behind
    leftovers = [n for n in __import__("os").listdir(tmp_path) if "tmp" in n]
    assert leftovers == []

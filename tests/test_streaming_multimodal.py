"""Multimodal plumbing: media decode, resize, frame sampling, features."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tbbid_scrapy_spark.operators import multimodal as mm


def test_decode_roundtrip(spark):
    media = mm.synthetic_media(spark, 60)
    dec = mm.decode_media(media)
    rows = dec.collect()
    assert len(rows) == 60
    for r in rows:
        b = mm.fake_media_bytes(r.media_id, r.kind)
        import struct as st

        w, h, d = st.unpack(">III", b[4:16])
        assert (r.width, r.height, r.duration_ms) == (w, h, d)
        assert r.payload_bytes == 32


def test_decode_malformed_rows_null_not_batch_kill(spark):
    """One bad blob must decode as NULL metadata, never raise and kill
    the whole Arrow batch: null content, short blob, wrong magic, and —
    the r4 ADVICE case — a header whose u32 fields are ≥ 2^31 (valid in
    the 4-byte wire format, unrepresentable in the Int32 output columns;
    previously raised inside the pandas Int32 cast)."""
    import struct as st

    oversized = mm.MAGIC + st.pack(">III", 2**31, 7, 7) + b"p" * 4
    rows = [
        (0, "ok", mm.fake_media_bytes(0, "image")),
        (1, "null", None),
        (2, "short", b"TB"),
        (3, "badmagic", b"XXXX" + st.pack(">III", 1, 2, 3)),
        (4, "oversized", oversized),
        (5, "ok2", mm.fake_media_bytes(5, "audio")),
    ]
    df = spark.createDataFrame(rows, "media_id bigint, tag string, content binary")
    media = (
        df.withColumn("doc_id", F.lit(None).cast("string"))
        .withColumn("media_ref", F.lit(None).cast("string"))
        .withColumn("kind", F.lit("image"))
        .withColumn("mime", F.lit(None).cast("string"))
        .select("media_id", "doc_id", "media_ref", "kind", "content", "mime")
    )
    out = {r.media_id: r for r in mm.decode_media(media).collect()}
    assert len(out) == 6  # the batch survived every bad row
    for bad in (1, 2, 3, 4):
        r = out[bad]
        assert (r.width, r.height, r.duration_ms) == (None, None, None)
    assert out[0].width is not None and out[5].width is not None
    # payload_bytes stays NULL for the invalid-header rows too
    assert out[4].payload_bytes is None


def test_decode_real_backend_is_stubbed(spark):
    media = mm.synthetic_media(spark, 1)
    with pytest.raises(NotImplementedError):
        mm.decode_media(media, backend="pil")


def test_resize_and_frames(spark):
    dec = mm.decode_media(mm.synthetic_media(spark, 60))
    rs = mm.resize_images(dec.filter(F.col("kind") == "image"), max_side=128)
    for r in rs.collect():
        assert max(r.target_width, r.target_height) <= 128
        assert r.target_width > 0 and r.target_height > 0
    frames = mm.sample_frames(dec, every_ms=5000)
    one = frames.groupBy("media_id").agg(F.count("*").alias("n"),
                                         F.max("duration_ms").alias("d")).collect()
    for r in one:
        assert r.n == r.d // 5000 + 1


def test_media_features_unit_norm(spark):
    import numpy as np

    feats = mm.media_features(mm.synthetic_media(spark, 30)).select("features").collect()
    for r in feats:
        v = np.array(r.features)
        assert v.shape == (mm.FEATURE_DIM,)
        assert abs(np.linalg.norm(v) - 1.0) < 1e-5

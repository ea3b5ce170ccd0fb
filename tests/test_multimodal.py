"""Multimodal binary-column plumbing: schemas, Arrow batching, determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lets_talk_cdc_change_feed_playground_spark.functions import multimodal as MM


@pytest.fixture(scope="module")
def media(spark):
    media = MM.synthetic_media(spark, 48).cache()
    yield media
    media.unpersist()


def test_media_schema_and_determinism(spark, media):
    assert media.schema == MM.MEDIA_SCHEMA
    assert media.count() == 48
    again = MM.synthetic_media(spark, 48)
    a = {r["media_id"]: bytes(r["content"]) for r in media.collect()}
    b = {r["media_id"]: bytes(r["content"]) for r in again.collect()}
    assert a == b
    kinds = {r["kind"] for r in media.select("kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}


def test_feature_extraction(media, cached):
    feats = cached(MM.extract_features(media))
    assert feats.count() == 48
    assert feats.schema == MM.FEATURES_SCHEMA
    row = feats.orderBy("media_id").first()
    assert len(row["features"]) == MM.N_FEATURES
    assert all(0.0 <= x <= 1.0 for x in row["features"])
    # decode is deterministic: same content → same sha and features
    again = MM.extract_features(media).orderBy("media_id").first()
    assert again["content_sha"] == row["content_sha"]
    assert again["features"] == row["features"]


def test_frame_sampling_one_to_many(media, cached):
    frames = cached(MM.sample_frames(media, every_ms=400))
    n_videos = media.filter(F.col("kind") == "video").count()
    assert frames.select("media_id").distinct().count() == n_videos
    per = frames.groupBy("media_id").count()
    assert per.filter(F.col("count") < 1).count() == 0
    assert frames.filter(F.length("frame") == 0).count() == 0
    # frame indexes are dense from 0
    agg = frames.groupBy("media_id").agg(
        F.min("frame_idx").alias("lo"), F.max("frame_idx").alias("hi"), F.count(F.lit(1)).alias("n")
    )
    assert agg.filter((F.col("lo") != 0) | (F.col("hi") != F.col("n") - 1)).count() == 0


def test_media_stats_no_udf(media):
    stats = MM.media_stats(media)
    rows = {r["kind"]: r for r in stats.collect()}
    assert set(rows) == {"image", "audio", "video"}
    assert all(r["total_bytes"] > 0 for r in rows.values())
    # stats path must stay JVM-side: no Python UDF in the plan
    plan = stats._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan.split("mapInPandas")[0].split("MapInPandas")[0]


def test_resize_aspect_fit(media, cached):
    resized = cached(MM.resize_media(media))
    rows = resized.collect()
    # audio rows never reach the kernel (JVM-side visual filter)
    n_visual = media.filter(F.col("meta.width").isNotNull()).count()
    assert len(rows) == n_visual > 0
    for r in rows:
        assert 1 <= r["dst_w"] <= MM.THUMB_BOX
        assert 1 <= r["dst_h"] <= MM.THUMB_BOX
        assert max(r["dst_w"], r["dst_h"]) == MM.THUMB_BOX  # fits the box snugly
        # aspect preserved under integer floor: dst_h == floor(h * dst_w / w)
        # on the landscape branch (w >= h), symmetric otherwise
        if r["src_w"] >= r["src_h"]:
            assert r["dst_h"] == max(1, r["src_h"] * MM.THUMB_BOX // r["src_w"])
        else:
            assert r["dst_w"] == max(1, r["src_w"] * MM.THUMB_BOX // r["src_h"])
        assert len(bytes(r["thumb"])) == 32
        assert r["thumb_sha"] == bytes(r["thumb"]).hex()
        assert r["out_bytes"] == r["dst_w"] * r["dst_h"] * 3


def test_shot_detection_segments_tile_frames(spark):
    from lets_talk_cdc_change_feed_playground_spark.functions.multimodal import (
        media_shot_detection_query,
        sample_frames,
        media_from_documents,
    )

    rows = media_shot_detection_query(spark, "/root/testdata/sf0.001").collect()
    assert rows
    frames = sample_frames(media_from_documents(spark, "/root/testdata/sf0.001"), every_ms=500)
    per_video = {
        r["media_id"]: r["n"]
        for r in frames.groupBy("media_id").count().withColumnRenamed("count", "n").collect()
    }
    for r in rows:
        assert r["n_frames"] == per_video[r["media_id"]]  # shots tile all frames
        assert 1 <= r["n_shots"] <= r["n_frames"]
        assert r["longest_shot"] <= r["n_frames"]
    assert max(r["n_shots"] for r in rows) > 1  # detector actually segments


# ---------------------------------------------------------------------------
# Real-codec lane (SPARK_GRAFT_REAL_CODECS=1): skip-marked on PIL presence —
# the day the sandbox gains PIL, these assert the lane's shape end-to-end
# ---------------------------------------------------------------------------

import importlib.util

import pytest

_HAS_PIL = importlib.util.find_spec("PIL") is not None


def _real_png_media(spark):
    """Three REAL PNGs (PIL-encoded gradients) as a media frame."""
    import io

    from PIL import Image

    rows = []
    for mid, (w, h) in enumerate([(64, 32), (32, 64), (48, 48)]):
        img = Image.new("RGB", (w, h))
        img.putdata([(x % 256, y % 256, (x + y) % 256) for y in range(h) for x in range(w)])
        buf = io.BytesIO()
        img.save(buf, format="PNG")
        rows.append(
            (mid, "image", bytearray(buf.getvalue()), ("image/png", w, h, None, None))
        )
    from lets_talk_cdc_change_feed_playground_spark.functions.multimodal import (
        MEDIA_SCHEMA,
    )

    return spark.createDataFrame(rows, MEDIA_SCHEMA)


@pytest.mark.skipif(not _HAS_PIL, reason="PIL not installed in this sandbox")
def test_real_codec_resize_decodes_and_reencodes(spark, monkeypatch):
    import io

    from PIL import Image

    from lets_talk_cdc_change_feed_playground_spark.functions import multimodal as MM

    monkeypatch.setenv("SPARK_GRAFT_REAL_CODECS", "1")
    rows = {r["media_id"]: r for r in MM.resize_media(_real_png_media(spark)).collect()}
    assert set(rows) == {0, 1, 2}
    for mid, (w, h) in enumerate([(64, 32), (32, 64), (48, 48)]):
        r = rows[mid]
        assert (r["src_w"], r["src_h"]) == (w, h)  # dims from the DECODED image
        dw, dh = MM._fit_box(w, h)
        assert (r["dst_w"], r["dst_h"]) == (dw, dh)
        thumb = Image.open(io.BytesIO(bytes(r["thumb"])))  # a real PNG came back
        assert thumb.size == (dw, dh)
        assert r["out_bytes"] == len(bytes(r["thumb"]))


@pytest.mark.skipif(not _HAS_PIL, reason="PIL not installed in this sandbox")
def test_real_codec_features_use_pixels(spark, monkeypatch):
    from lets_talk_cdc_change_feed_playground_spark.functions import multimodal as MM

    monkeypatch.setenv("SPARK_GRAFT_REAL_CODECS", "1")
    feats = {r["media_id"]: r for r in MM.extract_features(_real_png_media(spark)).collect()}
    for r in feats.values():
        assert len(r["features"]) == MM.N_FEATURES
        assert all(0.0 <= f <= 1.0 for f in r["features"])
    # different images -> different pixel statistics (a hash stand-in would
    # also differ, but the dims features pin the real path: feature 6/7 are
    # w/4096, h/4096)
    assert abs(feats[0]["features"][6] - 64 / 4096.0) < 1e-9
    assert abs(feats[1]["features"][7] - 64 / 4096.0) < 1e-9


def test_real_codecs_requested_but_missing_raises(spark, monkeypatch):
    """The lane never falls back silently: flag set + codec missing must
    raise at plan-build time, not produce stand-in output."""
    from lets_talk_cdc_change_feed_playground_spark.functions import multimodal as MM

    monkeypatch.setenv("SPARK_GRAFT_REAL_CODECS", "1")
    if _HAS_PIL:
        pytest.skip("PIL installed — the missing-codec branch is unreachable")
    with pytest.raises(ImportError):
        MM.resize_media(MM.synthetic_media(spark, 6))


def test_stand_in_lane_is_default(spark, monkeypatch):
    """Without the flag the deterministic stand-in runs (oracle-keyed)."""
    from lets_talk_cdc_change_feed_playground_spark.functions import multimodal as MM

    monkeypatch.delenv("SPARK_GRAFT_REAL_CODECS", raising=False)
    rows = MM.resize_media(MM.synthetic_media(spark, 6)).collect()
    for r in rows:
        assert len(bytes(r["thumb"])) == 32  # sha256 stand-in
        assert r["out_bytes"] == r["dst_w"] * r["dst_h"] * 3

"""Multimodal plumbing tests: binary columns through mapInPandas.

The decode kernel is a deterministic stub (no codec libs in the
container) — these tests pin the Spark-side contract: schemas, batch
iteration, null payloads, explode-shaped frame sampling.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tweets_spark_top_10_spark.functions.multimodal import (
    attach_meta,
    extract_image_features,
    frame_sample,
)


def _media(spark):
    rows = [
        (1, b"\x00\x01\x02\x03" * 32),
        (2, b"\xff" * 10),
        (3, None),
        (4, b""),
    ]
    return spark.createDataFrame(rows, "id: long, payload: binary")


def test_attach_meta_schema(spark):
    df = attach_meta(_media(spark), mime="image/png")
    assert "media_meta" in df.columns
    row = df.filter(F.col("id") == 1).collect()[0]
    assert row.media_meta.mime == "image/png"
    assert row.media_meta.width is None


def test_extract_image_features(spark):
    out = extract_image_features(_media(spark)).collect()
    by_id = {r.id: r for r in out}
    assert len(by_id) == 4
    assert by_id[1].n_bytes == 128
    assert len(by_id[1].feature) == 8
    assert abs(sum(by_id[1].feature) - 1.0) < 1e-6  # L1-normalized
    # deterministic: 128 bytes cycling 0..3 → mass on bins 0-3 only
    assert all(f == 0.0 for f in by_id[1].feature[4:])
    # null/empty payloads → zero vector, no crash
    assert all(f == 0.0 for f in by_id[3].feature)
    assert all(f == 0.0 for f in by_id[4].feature)


def test_frame_sample_explodes(spark):
    out = frame_sample(_media(spark), every_n_bytes=64, frame_bytes=16).collect()
    frames_1 = sorted((r.frame_no, len(r.frame)) for r in out if r.id == 1)
    assert frames_1 == [(0, 16), (1, 16)]  # 128 bytes / 64 stride
    assert [r for r in out if r.id == 3] == []  # null payload skipped
    # empty payload → zero frames
    assert [r for r in out if r.id == 4] == []


def test_meta_filter_prunes_before_decode(spark):
    # The plan must filter on metadata before the Python stage: decode
    # only sees surviving rows.
    df = attach_meta(_media(spark), mime="image/png")
    small = df.filter(F.length("payload") <= 16)
    out = extract_image_features(small).collect()
    assert sorted((r.id, r.n_bytes) for r in out) == [(2, 10), (4, 0)]


def test_attach_meta_byte_size_prunes_before_decode(spark):
    df = attach_meta(_media(spark), mime="image/png")
    small = df.filter(F.col("media_meta.n_bytes") < 8)
    # the size filter needs no decode and no Python — plan stays JVM-side
    plan = small._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    for r in small.collect():
        assert r.media_meta.n_bytes == (0 if r.payload is None else len(r.payload))

"""Crash recovery of the whole-directory swap (``sources/swap.py``).

A crash between the swap's two renames leaves the only valid state in
``<path>__old``; a crash after them but before the aside is deleted
leaves ``<path>__old`` beside the new live dir.  Each maintained table
must recover before it first checks for, reads or writes its directory,
or it merges against an empty table, publishes a partial one, or fails
its own rename.
"""

from __future__ import annotations

import datetime
import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tweets_spark_top_10_spark.streaming.sources import file_stream


def _crash_between_renames(path: str) -> None:
    os.rename(path, path + "__old")


def _scd2_case(spark, tmp_path) -> None:
    from tweets_spark_top_10_spark.streaming.scd2 import merge_scd2_batch

    schema = "k long, v string, op string, seq long"
    batches = [
        [(k, f"v0_{k}", "I", 1) for k in (1, 2, 3)],
        [(k, f"v1_{k}", "U", 2) for k in (1, 2, 3)],
        [(1, "v2_1", "U", 3)],
    ]

    def run(path: str, crash: bool) -> list:
        for i, rows in enumerate(batches):
            if crash and i == len(batches) - 1:
                _crash_between_renames(path)
            merge_scd2_batch(spark, spark.createDataFrame(rows, schema), path, "k")
        return sorted(map(tuple, spark.read.parquet(path).collect()))

    clean = run(str(tmp_path / "clean"), crash=False)
    assert len(clean) == 7
    assert run(str(tmp_path / "crashed"), crash=True) == clean


def _ivm_case(spark, tmp_path) -> None:
    from tweets_spark_top_10_spark.operators.ivm import build_agg_view
    from tweets_spark_top_10_spark.streaming.cdc import read_cdc_snapshot
    from tweets_spark_top_10_spark.streaming.ivm import ivm_step

    schema = "k long, g string, v long, op string, seq long"
    b1 = spark.createDataFrame(
        [(i, f"g{i % 2}", 10 + i, "I", 1) for i in range(8)], schema
    )
    b2 = spark.createDataFrame(
        [(i, f"g{(i + 1) % 2}", 100 + i, "U", 2) for i in range(0, 8, 2)],
        schema,
    )
    snap, view = str(tmp_path / "snap"), str(tmp_path / "view")
    ivm_step(spark, b1, snap, view, "k", ["g"], ["v"], batch_id=0)
    _crash_between_renames(snap)
    ivm_step(spark, b2, snap, view, "k", ["g"], ["v"], batch_id=1)

    got = {r["g"]: (r["n"], r["sum_v"]) for r in spark.read.parquet(view).collect()}
    want = {
        r["g"]: (r["n"], r["sum_v"])
        for r in build_agg_view(read_cdc_snapshot(spark, snap), ["g"], ["v"]).collect()
    }
    assert got == want == {"g1": (8, 468)}, (got, want)


def _resample_case(spark, tmp_path) -> None:
    import pandas as pd

    from tweets_spark_top_10_spark.streaming.resample import (
        compact_bucket_partials,
        maintain_bucket_partials,
        read_resampled,
    )

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    t0 = datetime.datetime(2024, 1, 1)
    src, partials = tmp_path / "obs", str(tmp_path / "partials")
    src.mkdir()

    def land(i: int) -> None:
        pd.DataFrame(
            {
                "user_id": [1],
                "ts": [pd.Timestamp(t0 + datetime.timedelta(hours=2 * i))],
                "value": [float(i)],
            }
        ).astype({"ts": "datetime64[us]"}).to_parquet(
            src / f"b{i}.parquet", index=False
        )

    def drain() -> None:
        maintain_bucket_partials(
            file_stream(spark, str(src), schema, max_files_per_trigger=1),
            partials, checkpoint=str(tmp_path / "ckpt"),
            key_col="user_id", ts_col="ts", value_col="value",
        ).awaitTermination()

    def observed() -> int:
        resampled = read_resampled(spark, partials, "user_id")
        return resampled.where(~F.col("is_gap")).count()

    for i in range(4):
        land(i)
    drain()
    _crash_between_renames(partials)  # a compaction died mid-swap
    land(4)
    drain()
    assert observed() == 5
    assert compact_bucket_partials(spark, partials, batch_horizon=5) == 5
    assert observed() == 5


def _cdc_case(spark, tmp_path) -> None:
    from tweets_spark_top_10_spark.streaming.cdc import (
        compact_cdc_table,
        init_cdc_table,
        merge_cdc_batch,
        read_cdc_snapshot,
    )

    table = str(tmp_path / "cdc")
    init_cdc_table(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), table
    )
    delete = spark.createDataFrame(
        [(1, "a", "D", 5)], "k int, v string, op string, seq long"
    )
    merge_cdc_batch(spark, delete, table, "k")
    before = sorted(map(tuple, read_cdc_snapshot(spark, table).collect()))
    # crash after the stage was renamed in, before the aside was deleted
    shutil.copytree(table, table + "__old")
    assert compact_cdc_table(spark, table, replay_horizon_seq=10) == 1
    assert sorted(map(tuple, read_cdc_snapshot(spark, table).collect())) == before


@pytest.mark.parametrize(
    "case",
    [_scd2_case, _ivm_case, _resample_case, _cdc_case],
    ids=["scd2", "ivm", "resample", "cdc"],
)
def test_maintained_table_survives_crash_mid_swap(spark, tmp_path, case):
    case(spark, tmp_path)
    leftovers = [
        p.name for p in tmp_path.iterdir() if p.name.endswith(("__old", "__stage"))
    ]
    assert not leftovers, leftovers


def _make(path, name: str) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as fh:
        fh.write(name)


@pytest.mark.parametrize(
    "dirs, survivor",
    [
        ({"__old": "old"}, "old"),  # crash between the two renames
        ({"": "new", "__old": "old"}, "new"),  # crash before the aside delete
        ({"": "live", "__stage": "half"}, "live"),  # crash mid stage write
    ],
    ids=["aside_only", "live_and_aside", "live_and_stage"],
)
def test_recover_restores_one_live_dir(tmp_path, dirs, survivor):
    from tweets_spark_top_10_spark.sources.swap import recover

    path = str(tmp_path / "t")
    for suffix, name in dirs.items():
        _make(path + suffix, name)
    assert recover(path)
    assert os.listdir(path) == [survivor]
    assert sorted(os.listdir(tmp_path)) == ["t"]


def test_swap_in_publishes_marker_and_keeps_live_on_failed_write(tmp_path):
    from tweets_spark_top_10_spark.sources.swap import already_merged, recover, swap_in

    path = str(tmp_path / "t")
    assert not recover(path)
    swap_in(path, lambda staging: _make(staging, "v1"), batch_id=7)
    assert already_merged(path, 7) and not already_merged(path, 8)
    assert not already_merged(path, None)

    def failing(staging: str) -> None:
        _make(staging, "partial")
        raise RuntimeError("write failed")

    with pytest.raises(RuntimeError):
        swap_in(path, failing, batch_id=8)
    assert sorted(os.listdir(path)) == ["_mg_last_batch_id", "v1"]
    assert recover(path)
    assert sorted(os.listdir(tmp_path)) == ["t"]

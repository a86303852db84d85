"""Streaming time-series resample: maintained bucket partials + LOCF
on read.

The batch operator (``operators/resample.py``) needs all observations;
a stream delivers them incrementally, out of order, and possibly twice
(foreachBatch is at-least-once).  Decomposition that stays exact under
all three:

- the per-bucket aggregate (sum, count) is ADDITIVE and mergeable, so
  each micro-batch writes its own partial rows; out-of-order data just
  lands partials in old buckets — no recomputation;
- replay safety comes from BATCH-ID-KEYED partitions: every batch
  writes ``batch_id=N`` with dynamic partition overwrite, and
  Structured Streaming replays a failed batch under the SAME batch id,
  so a replay overwrites its own previous output instead of double
  counting (the batch-id-keyed idempotence pattern);
- the LOCF fill is a function of the complete bucket table, and an
  out-of-order arrival in bucket B changes every filled bucket until
  the next observation — so the fill is derived ON READ
  (``read_resampled``: merge partials -> per-key spine -> LOCF
  window), not maintained row-by-row.  At 100 TB the merge is a keyed
  aggregate over partials (compacted periodically by rewriting merged
  partials under one batch key), and the read is the same plan the
  batch operator runs.

Differential: stream (multi-batch, replayed batch) -> read_resampled
== batch ``resample_locf`` over the union of all observations, exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tweets_spark_top_10_spark.sources.swap import recover, swap_in
from tweets_spark_top_10_spark.streaming.sinks import start_foreach_batch


def maintain_bucket_partials(
    obs_stream: DataFrame,
    partials_path: str,
    checkpoint: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    interval: str = "1 hour",
):
    """foreachBatch: write each batch's (key, bucket, sum, count)
    partial rows under ``batch_id=N`` with dynamic partition overwrite."""
    unit = interval.split()[-1].rstrip("s")

    def step(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            partial = (
                batch_df.groupBy(
                    F.col(key_col),
                    F.date_trunc(unit, F.col(ts_col)).alias("bucket"),
                )
                .agg(
                    F.sum(value_col).alias("v_sum"),
                    F.count(value_col).alias("v_cnt"),
                )
                .withColumn("batch_id", F.lit(int(batch_id)))
            )
            # a crashed compaction leaves the partials aside: restore
            # them before this batch's partition lands in a fresh dir
            recover(partials_path)
            (
                partial.write.mode("overwrite")
                .partitionBy("batch_id")
                .parquet(partials_path)
            )
        finally:
            if prev is not None:
                spark.conf.set(
                    "spark.sql.sources.partitionOverwriteMode", prev
                )

    return start_foreach_batch(obs_stream, step, checkpoint)


def read_resampled(
    spark,
    partials_path: str,
    key_col: str,
    interval: str = "1 hour",
    max_buckets_per_key: int = 1_000_000,
) -> DataFrame:
    """Merge partials → per-key spine → LOCF: the exact filled series
    the batch operator would produce over all streamed observations
    (same rounding: avg = sum/count to 6 digits)."""
    from pyspark.sql import Window

    recover(partials_path)
    merged = (
        spark.read.parquet(partials_path)
        .groupBy(key_col, "bucket")
        .agg(
            F.round(F.sum("v_sum") / F.sum("v_cnt"), 6).alias("v_obs")
        )
    )
    bounds = merged.groupBy(key_col).agg(
        F.min("bucket").alias("b0"), F.max("bucket").alias("b1")
    )
    seq = F.sequence("b0", "b1", F.expr(f"interval {interval}"))
    checked = F.when(F.size(seq) <= max_buckets_per_key, seq).otherwise(
        F.raise_error(F.lit("read_resampled: spine too large"))
    )
    spine = bounds.select(key_col, F.explode(checked).alias("bucket"))
    joined = spine.join(merged, [key_col, "bucket"], "left")
    w = (
        Window.partitionBy(key_col)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        key_col,
        "bucket",
        F.last("v_obs", ignorenulls=True).over(w).alias("v"),
        F.col("v_obs").isNull().alias("is_gap"),
    )


def compact_bucket_partials(
    spark, partials_path: str, batch_horizon: int
) -> int:
    """Fold batch partitions below the replay horizon into one
    consolidated ``batch_id=-1`` partition.

    Without compaction the partials dir grows one partition per
    micro-batch forever and every read re-merges them.  Batches below
    ``batch_horizon`` can no longer be replayed (caller's contract
    with the checkpoint — same horizon semantics as
    ``compact_cdc_table``), so their partials are summed into the
    consolidated partition; partitions at/above the horizon are kept
    verbatim, preserving the batch-id-keyed overwrite idempotence for
    anything still replayable.  Published by ``sources/swap.py``;
    returns how many batch partitions were folded.
    """
    recover(partials_path)
    df = spark.read.parquet(partials_path)
    group_cols = [c for c in df.columns if c not in ("v_sum", "v_cnt", "batch_id")]
    old = df.where(F.col("batch_id") < batch_horizon)
    n_folded = old.select("batch_id").distinct().count()
    if n_folded <= 1:
        return 0
    merged = (
        old.groupBy(*group_cols)
        .agg(F.sum("v_sum").alias("v_sum"), F.sum("v_cnt").alias("v_cnt"))
        .withColumn("batch_id", F.lit(-1))
    )
    keep = df.where(F.col("batch_id") >= batch_horizon)
    out = merged.unionByName(keep.select(merged.columns)).localCheckpoint(
        eager=True
    )
    swap_in(
        partials_path,
        lambda staging: out.write.mode("overwrite")
        .partitionBy("batch_id")
        .parquet(staging),
    )
    return n_folded

"""Streaming incremental view maintenance: keep an additive rollup
current while the CDC snapshot it summarizes is itself maintained.

Composes two maintained artifacts per micro-batch, in this order:

1. compute the batch's EFFECTIVE changes — those whose seq beats the
   stored snapshot's per-key ``__seq`` (replayed/stale changes drop
   here, which is what makes the view update idempotent under
   at-least-once foreachBatch delivery);
2. derive the churn-sized aggregate delta against the CURRENT live
   snapshot (pre-images come from the stored table, not the original
   base — ``operators/ivm.agg_delta``) and merge it into the view
   table under an atomic dir swap;
3. MERGE the batch into the snapshot itself
   (``streaming/cdc.merge_cdc_batch``), so the next batch's
   pre-images are current.

The view therefore always equals ``build_agg_view(read_cdc_snapshot)``
after every batch — the differential test asserts exactly that, after
a duplicated AND an out-of-order batch.

Consistency across the two swaps (closed in round 8): steps 2 and 3
are two separate ``sources/swap.py`` publishes, not one transaction, so
a crash BETWEEN them leaves the view one batch ahead of the snapshot.
The view dir carries the last-applied ``batch_id`` marker: on replay
the view update SKIPS (its delta is already in) while the snapshot
MERGE still runs — and the snapshot merge is itself seq-idempotent —
so the replayed batch converges both artifacts.  This is exactly-once
given the Structured Streaming guarantee that a replayed batch_id
carries identical data.  ``rebuild_view`` (one aggregate over the snapshot)
remains the big-hammer recovery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tweets_spark_top_10_spark.operators.ivm import (
    agg_delta,
    apply_agg_delta,
    build_agg_view,
)
from tweets_spark_top_10_spark.sources.swap import already_merged, recover, swap_in
from tweets_spark_top_10_spark.streaming.cdc import merge_cdc_batch, read_cdc_snapshot
from tweets_spark_top_10_spark.streaming.sinks import start_foreach_batch


def rebuild_view(
    spark, snapshot_path: str, view_path: str, group_cols: list[str], sum_cols: list[str]
) -> None:
    """Recovery / bootstrap: one aggregate over the live snapshot."""
    view = build_agg_view(read_cdc_snapshot(spark, snapshot_path), group_cols, sum_cols)
    swap_in(view_path, lambda staging: view.write.mode("overwrite").parquet(staging))


def ivm_step(
    spark,
    batch_df: DataFrame,
    snapshot_path: str,
    view_path: str,
    key: str,
    group_cols: list[str],
    sum_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
    batch_id: int | None = None,
) -> None:
    """One micro-batch of view+snapshot maintenance (see module
    docstring).  ``batch_id`` closes the two-swap crash window: a
    replayed batch whose id is already stamped in the view dir skips
    the view update (the delta is in) but STILL merges the snapshot —
    which is seq-idempotent — so a crash between the two swaps
    converges on replay instead of double-counting the delta."""
    has_view = recover(view_path)
    view_done = already_merged(view_path, batch_id)
    w = Window.partitionBy(key).orderBy(F.desc(seq_col), F.desc(op_col))
    latest = (
        batch_df.withColumn("__brn", F.row_number().over(w))
        .where("__brn = 1")
        .drop("__brn")
    )
    if recover(snapshot_path):
        stored = spark.read.parquet(snapshot_path)
        eff = (
            latest.join(
                stored.select(F.col(key), F.col("__seq")), key, "left"
            )
            .where(
                F.col("__seq").isNull()
                | (F.col(seq_col).cast("long") > F.col("__seq"))
            )
            .drop("__seq")
        )
        live = stored.where(~F.col("__deleted")).drop("__seq", "__deleted")
    else:
        eff = latest
        live = spark.createDataFrame(
            [], latest.drop(seq_col, op_col).schema
        )
    eff = eff.localCheckpoint(eager=True)  # pre-swap pin: eff must
    # not lazily re-read the snapshot dir after step 3 swaps it
    if eff.isEmpty():
        return
    if not view_done:
        delta = agg_delta(live, eff, key, group_cols, sum_cols, seq_col, op_col)
        if has_view:
            view = spark.read.parquet(view_path)
        else:
            view = spark.createDataFrame([], delta.schema).select(
                *group_cols,
                F.col("dn").alias("n"),
                *[F.col(f"dsum_{c}").alias(f"sum_{c}") for c in sum_cols],
            )
        new_view = apply_agg_delta(view, delta, group_cols, sum_cols)
        new_view = new_view.localCheckpoint(eager=True)
        swap_in(
            view_path,
            lambda staging: new_view.write.mode("overwrite").parquet(staging),
            batch_id,
        )
    merge_cdc_batch(spark, eff, snapshot_path, key, seq_col, op_col)


def maintain_agg_view(
    change_stream: DataFrame,
    snapshot_path: str,
    view_path: str,
    checkpoint: str,
    key: str,
    group_cols: list[str],
    sum_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
):
    """foreachBatch wiring (availableNow trigger): per batch, view +=
    delta(effective changes), then snapshot MERGE (``ivm_step``)."""

    def step(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ivm_step(
            batch_df.sparkSession,
            batch_df,
            snapshot_path,
            view_path,
            key,
            group_cols,
            sum_cols,
            seq_col,
            op_col,
            batch_id=batch_id,
        )

    return start_foreach_batch(change_stream, step, checkpoint)

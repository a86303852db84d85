"""Streaming SCD2 historization: maintain validity-interval history
from a change stream.

The batch operator (``operators/merge.scd2_history``) windows over the
COMPLETE log; incrementally, each micro-batch (a) appends its own
changes as versions with within-batch linkage — the same lead()
window, applied to just the batch — and (b) CLOSES the stored open
version of every touched key at the batch's first seq for that key.

Delivery contract, stated up front: per-key IN-ORDER delivery across
batches (standard CDC source ordering).  History is an interval chain;
an out-of-order change would need splicing an existing interval, which
no warehouse historization does online — such feeds get sorted
upstream or replayed through the batch operator.  Replay of a whole
batch IS safe: changes at or below the key's stored high-water seq
(max of any valid_from/valid_to seen) are filtered, so at-least-once
foreachBatch delivery converges.  A genuinely out-of-order change is
therefore DROPPED by the same filter — loud in the differential (the
batch operator would splice it), silent in production by design, like
late data past a watermark.

Scale: per batch, one window over the (churn-sized) batch, one keyed
join against stored per-key high-water marks, one union write published
by ``sources/swap.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tweets_spark_top_10_spark.operators.merge import scd2_history
from tweets_spark_top_10_spark.sources.swap import recover, swap_in
from tweets_spark_top_10_spark.streaming.sinks import start_foreach_batch


def merge_scd2_batch(
    spark,
    batch_changes: DataFrame,
    history_path: str,
    key: str,
    seq_col: str = "seq",
    op_col: str = "op",
) -> None:
    """Apply one micro-batch to the stored history table."""
    if recover(history_path):
        stored = spark.read.parquet(history_path).localCheckpoint(eager=True)
        hw = stored.groupBy(key).agg(
            F.max(
                F.greatest(
                    F.col("valid_from"),
                    F.coalesce("valid_to", F.col("valid_from")),
                )
            ).alias("__hw")
        )
        eff = (
            batch_changes.join(hw, key, "left")
            .where(F.col("__hw").isNull() | (F.col(seq_col) > F.col("__hw")))
            .drop("__hw")
        )
    else:
        stored, eff = None, batch_changes
    eff = eff.localCheckpoint(eager=True)
    if eff.isEmpty():
        return
    out = scd2_history(eff, key, seq_col, op_col)
    if stored is not None:
        first_seq = eff.groupBy(key).agg(F.min(seq_col).alias("__close_at"))
        closed = (
            stored.join(first_seq, key, "left")
            .select(
                *[c for c in stored.columns if c not in ("valid_to", "is_current")],
                F.when(
                    F.col("valid_to").isNull() & F.col("__close_at").isNotNull(),
                    F.col("__close_at"),
                )
                .otherwise(F.col("valid_to"))
                .alias("valid_to"),
            )
            .withColumn("is_current", F.col("valid_to").isNull())
        )
        out = closed.unionByName(out).localCheckpoint(eager=True)
    swap_in(history_path, lambda staging: out.write.mode("overwrite").parquet(staging))


def maintain_scd2_history(
    change_stream: DataFrame,
    history_path: str,
    checkpoint: str,
    key: str,
    seq_col: str = "seq",
    op_col: str = "op",
):
    """foreachBatch wiring (availableNow trigger)."""

    def step(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_scd2_batch(
            batch_df.sparkSession, batch_df, history_path, key, seq_col, op_col
        )

    return start_foreach_batch(change_stream, step, checkpoint)

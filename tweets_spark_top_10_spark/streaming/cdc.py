"""Streaming CDC apply: maintain a keyed snapshot table from a change
stream.

The batch operator (``operators/merge.apply_changes``) merges a
complete change log in one plan; a live pipeline instead receives the
log as an unbounded stream and must keep a queryable snapshot current.
Each micro-batch is MERGEd into the stored table and published by
``sources/swap.py``.

Robustness is seq-based, not delivery-based:

- every stored row carries ``__seq``, the sequence number of the
  change that produced it; a change only applies when its seq beats
  the stored one (ties resolved op-desc, matching the batch
  operator), so REPLAYED batches (foreachBatch is at-least-once) and
  OUT-OF-ORDER batches converge to the same table;
- deletes persist as TOMBSTONES (``__deleted = true``) rather than
  physical removals — otherwise a replayed pre-delete upsert would
  resurrect the key.  ``read_cdc_snapshot`` filters them; compaction
  (dropping tombstones older than the replay horizon) is a periodic
  maintenance rewrite, same as Bloom-rebuild for deletes.

The differential test proves: stream-applied (including a duplicated
and an out-of-order batch) == batch ``apply_changes`` over the full
log, value-exact.

Scale: the per-batch merge joins the batch's compacted changes (churn-
sized) against the stored table keyed by the merge key; at 100 TB the
stored table would be bucketed by key so the join co-locates, and the
swap protocol is per-bucket (``upsert_rows_by_bucket`` shows that
shape) — here the whole-table swap keeps the semantics reviewable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tweets_spark_top_10_spark.sources.swap import recover, swap_in
from tweets_spark_top_10_spark.streaming.sinks import start_foreach_batch


def init_cdc_table(base: DataFrame, table_path: str) -> None:
    """Seed the stored table from a base snapshot (``__seq = -1`` so
    every real change beats it; no tombstones)."""
    recover(table_path)
    base.select(
        "*",
        F.lit(-1).cast("long").alias("__seq"),
        F.lit(False).alias("__deleted"),
    ).write.mode("errorifexists").parquet(table_path)


def merge_cdc_batch(
    spark,
    batch_changes: DataFrame,
    table_path: str,
    key: str,
    seq_col: str = "seq",
    op_col: str = "op",
) -> None:
    """MERGE one micro-batch of I/U/D changes into the stored table.

    Stored schema: payload columns + ``__seq`` (seq of the winning
    change) + ``__deleted`` (tombstone flag).
    """
    payload = [c for c in batch_changes.columns if c not in (seq_col, op_col)]
    w = Window.partitionBy(key).orderBy(F.desc(seq_col), F.desc(op_col))
    latest = (
        batch_changes.withColumn("__rn", F.row_number().over(w))
        .where("__rn = 1")
        .select(
            *[F.col(c).alias(f"__c_{c}") for c in payload],
            F.col(seq_col).cast("long").alias("__c_seq"),
            (F.col(op_col) == "D").alias("__c_del"),
        )
    )
    if recover(table_path):
        base = spark.read.parquet(table_path)
        joined = base.join(latest, base[key] == latest[f"__c_{key}"], "full_outer")
        # the change wins iff it exists and beats the stored seq
        wins = F.col("__c_seq").isNotNull() & (
            F.col("__seq").isNull() | (F.col("__c_seq") > F.col("__seq"))
        )
        merged = joined.select(
            *[
                F.when(wins, F.col(f"__c_{c}")).otherwise(base[c]).alias(c)
                for c in payload
            ],
            F.when(wins, F.col("__c_seq")).otherwise(F.col("__seq")).alias("__seq"),
            F.when(wins, F.col("__c_del"))
            .otherwise(F.col("__deleted"))
            .alias("__deleted"),
        )
    else:
        merged = latest.select(
            *[F.col(f"__c_{c}").alias(c) for c in payload],
            F.col("__c_seq").alias("__seq"),
            F.col("__c_del").alias("__deleted"),
        )
    swap_in(table_path, lambda staging: merged.write.mode("overwrite").parquet(staging))


def maintain_cdc_snapshot(
    change_stream: DataFrame,
    table_path: str,
    checkpoint: str,
    key: str,
    seq_col: str = "seq",
    op_col: str = "op",
):
    """Attach the CDC merge to a change stream via foreachBatch
    (availableNow trigger).  Convergence under at-least-once replay
    and batch reordering comes from the seq-beats-stored rule, not
    from delivery guarantees."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_cdc_batch(
            batch_df.sparkSession, batch_df, table_path, key, seq_col, op_col
        )

    return start_foreach_batch(change_stream, merge, checkpoint)


def read_cdc_snapshot(spark, table_path: str) -> DataFrame:
    """Current snapshot: stored table minus tombstones and metadata."""
    recover(table_path)
    t = spark.read.parquet(table_path)
    return t.where(~F.col("__deleted")).drop("__seq", "__deleted")


def compact_cdc_table(spark, table_path: str, replay_horizon_seq: int) -> int:
    """Garbage-collect tombstones older than the replay horizon.

    A tombstone must outlive every change that could still be
    redelivered for its key; once the source guarantees nothing with
    ``seq < replay_horizon_seq`` will arrive again, tombstones below
    the horizon are dead weight and are dropped in one rewrite (atomic
    dir swap).  Live rows are NEVER dropped regardless of seq.
    Compacting with too-recent a horizon re-opens the resurrection
    hazard the tombstones exist to prevent — the horizon is the
    caller's contract with its source, not something this function
    can check.  Returns the number of tombstones removed.
    """
    recover(table_path)
    stored = spark.read.parquet(table_path)
    doomed = stored.where(
        F.col("__deleted") & (F.col("__seq") < replay_horizon_seq)
    )
    n = doomed.count()
    if n == 0:
        return 0
    kept = stored.where(
        ~F.col("__deleted") | (F.col("__seq") >= replay_horizon_seq)
    ).localCheckpoint(eager=True)
    swap_in(table_path, lambda staging: kept.write.mode("overwrite").parquet(staging))
    return n

"""Streaming sinks: idempotent foreachBatch overwrite.

``foreach_batch_overwrite`` is the engine's replacement for the
reference's ES maintenance (``App.java:146-157``: delete the speed-layer
rows for a window, then (commented-out) insert the batch rows): each
micro-batch dynamically overwrites exactly the result partitions it
contains. Re-running a batch rewrites the same partitions — idempotent,
no delete window arithmetic, no month off-by-one bug (SURVEY.md §1.2).
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
_START_LOCK = threading.Lock()


def start_query(spark: SparkSession, writer: DataStreamWriter) -> StreamingQuery:
    """Start a streaming query with one shuffle partition per core.

    Every streaming query in the engine starts here.  Spark turns AQE off
    inside micro-batches, so the stateful shuffle and the state store run
    exactly ``spark.sql.shuffle.partitions`` tasks per micro-batch; at the
    32-partition batch default that is mostly fixed per-task cost on a few
    cores.  This sets the conf to ``sparkContext.defaultParallelism`` for
    the query: only around ``writer.start()``, under a module lock, and
    restored in a ``finally`` (also when ``start()`` raises), so batch
    queries keep the session default.  Other threads running batch jobs
    on the same session during a start see the narrower width briefly.

    Spark clones the session at ``start()`` and writes this conf into the
    checkpoint's offset log, and the state store is partitioned by it.  So
    the value applies to new checkpoints only: a restarted query keeps the
    value its checkpoint pinned, whatever the cores are now.
    ``foreachBatch`` functions receive batches of the cloned session, so
    their own shuffles run at the same width.
    """
    with _START_LOCK:
        before = spark.conf.get(_SHUFFLE_PARTITIONS)
        spark.conf.set(_SHUFFLE_PARTITIONS, str(spark.sparkContext.defaultParallelism))
        try:
            return writer.start()
        finally:
            spark.conf.set(_SHUFFLE_PARTITIONS, before)


def start_foreach_batch(
    stream: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint: str,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """``writeStream.foreachBatch(fn)`` with a checkpoint, started through
    :func:`start_query`.  ``trigger_available_now`` drains what is there
    and stops; ``False`` keeps the query running with the default trigger.
    """
    writer = stream.writeStream.foreachBatch(fn).option("checkpointLocation", checkpoint)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return start_query(stream.sparkSession, writer)


def foreach_batch_overwrite(
    stream: DataFrame,
    path: str,
    partition_by: list[str],
    checkpoint: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """writeStream.foreachBatch → dynamic partition overwrite of parquet.

    ``transform`` runs per micro-batch on the driver-side plan (e.g. the
    per-window top-K ranking that can't run inside the stream).
    """

    def _write(batch: DataFrame, batch_id: int) -> None:
        out = transform(batch) if transform is not None else batch
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_by)
            .parquet(path)
        )

    return start_foreach_batch(stream, _write, checkpoint, trigger_available_now)


def foreach_batch_top_k(
    windowed_counts: DataFrame,
    path: str,
    checkpoint: str,
    key: str,
    k: int = 10,
    count_col: str = "n",
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """The streaming reference query's sink: per finalized window, keep
    the top-K keys by count and overwrite that window's result partition.

    Ranking runs in the micro-batch (append mode delivers each window
    exactly once, after the watermark closes it), so state stays the
    incremental windowed count — Spark needs no sorted/update-mode
    output support.  This is `App.java:99+134`'s orderBy+limit applied
    per hour-window, continuously (``trigger_available_now=False``).
    """
    from pyspark.sql import functions as F

    from tweets_spark_top_10_spark.operators.topk import top_k_per_group

    def rank(batch: DataFrame) -> DataFrame:
        return top_k_per_group(batch, ["window_start"], [F.desc(count_col), F.asc(key)], k)

    return foreach_batch_overwrite(
        windowed_counts,
        path,
        partition_by=["window_start"],
        checkpoint=checkpoint,
        transform=rank,
        trigger_available_now=trigger_available_now,
    )

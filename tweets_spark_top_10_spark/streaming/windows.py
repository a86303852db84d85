"""Streaming window aggregations: tumbling / sliding counts + top-K.

The streaming twin of the reference query (``App.java:92-99``) is
``windowed_top_k``: per event-time window, count per key, keep the top
K. The reference achieved exactly this with an hourly cron + dir
partitions; here late data is handled by the watermark instead of
"hope the hour is complete when the cron fires".

State-scale notes: watermark bounds state to (windows in flight ×
distinct keys). For a viral-key workload the count state is tiny (one
long per key/window). The stateful shuffle is keyed by (window, key)
and gets no AQE: Spark turns it off inside micro-batches, so its width
(and the state store's) is fixed when the query starts, one partition
per core, by ``sinks.start_query``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_count(
    stream: DataFrame,
    ts_col: str,
    keys: list[str],
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Count per (event-time window, *keys) with a watermark.

    Output columns: window_start, window_end, *keys, n.
    """
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(win, *keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *keys,
            "n",
        )
    )


def windowed_top_k(
    stream: DataFrame,
    ts_col: str,
    key: str,
    k: int = 10,
    window: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Per-window top-K keys by count — the streaming reference query.

    Streaming-safe formulation: the windowed count is an incremental
    stateful agg; the per-window ranking happens in the *sink* batch
    (append mode emits finalized windows only), so chain this with
    ``foreachBatch`` + :func:`tweets_spark_top_10_spark.operators.topk.
    top_k_per_group` — ranking inside the stream would need update-mode
    sorting Spark doesn't support. This returns the windowed counts;
    the K is applied by the caller's sink (see sinks.foreach_batch_top_k).
    """
    return windowed_count(stream, ts_col, [key], window=window, watermark=watermark)


"""Structured Streaming: the reference's hourly batch job, done natively.

The reference implements "streaming" as an hourly cron over hour-
partitioned HDFS dirs plus a Storm speed layer it reconciles by deleting
ES rows (``App.java:43-63``, ``App.java:146-157``). Here the same
semantics are one Structured Streaming query: event-time tumbling
windows + watermark replace the dir-per-hour convention, and an
idempotent ``foreachBatch`` overwrite-by-window replaces the
delete-then-insert dance.
"""

from tweets_spark_top_10_spark.streaming.sources import (
    KafkaConnectorUnavailable,
    file_stream,
    kafka_json_values,
    kafka_stream,
)
from tweets_spark_top_10_spark.streaming.windows import (
    session_agg,
    windowed_count,
    windowed_top_k,
)
from tweets_spark_top_10_spark.streaming.dedup import dedup_stream
from tweets_spark_top_10_spark.streaming.sketch import maintain_minhash_index
from tweets_spark_top_10_spark.streaming.heavy_hitters import (
    maintain_heavy_hitters,
    top_k_from_summary,
)
from tweets_spark_top_10_spark.streaming.bloom import (
    maintain_bloom,
    read_bloom_words,
)
from tweets_spark_top_10_spark.streaming.cdc import (
    init_cdc_table,
    maintain_cdc_snapshot,
    read_cdc_snapshot,
)
from tweets_spark_top_10_spark.streaming.ivm import (
    maintain_agg_view,
    rebuild_view,
)
from tweets_spark_top_10_spark.streaming.resample import (
    maintain_bucket_partials,
    read_resampled,
)
from tweets_spark_top_10_spark.streaming.scd2 import (
    maintain_scd2_history,
    merge_scd2_batch,
)
from tweets_spark_top_10_spark.streaming.sinks import (
    foreach_batch_overwrite,
    foreach_batch_top_k,
    run_to_memory,
)
from tweets_spark_top_10_spark.streaming.stateful import (
    sessionize_transform_with_state,
    sessionize_with_state,
)

__all__ = [
    "KafkaConnectorUnavailable",
    "file_stream",
    "kafka_json_values",
    "kafka_stream",
    "windowed_count",
    "windowed_top_k",
    "session_agg",
    "sessionize_transform_with_state",
    "sessionize_with_state",
    "dedup_stream",
    "maintain_minhash_index",
    "maintain_heavy_hitters",
    "top_k_from_summary",
    "maintain_bloom",
    "read_bloom_words",
    "init_cdc_table",
    "maintain_cdc_snapshot",
    "read_cdc_snapshot",
    "maintain_agg_view",
    "rebuild_view",
    "maintain_bucket_partials",
    "read_resampled",
    "maintain_scd2_history",
    "merge_scd2_batch",
    "foreach_batch_overwrite",
    "foreach_batch_top_k",
    "run_to_memory",
]

"""Structured Streaming: the reference's hourly batch job, done natively.

The reference implements "streaming" as an hourly cron over hour-
partitioned HDFS dirs plus a Storm speed layer it reconciles by deleting
ES rows (``App.java:43-63``, ``App.java:146-157``). Here the same
semantics are one Structured Streaming query: event-time tumbling
windows + watermark replace the dir-per-hour convention, and an
idempotent ``foreachBatch`` overwrite-by-window replaces the
delete-then-insert dance.

Beside that top-10 path (``sources`` → ``windows`` → ``sinks``) the
package keeps one maintained form of trending state: Misra-Gries
heavy-hitter summaries (``heavy_hitters``), plain, grouped and windowed.
"""

from tweets_spark_top_10_spark.streaming.sources import (
    KafkaConnectorUnavailable,
    file_stream,
    kafka_json_values,
    kafka_stream,
)
from tweets_spark_top_10_spark.streaming.windows import (
    windowed_count,
    windowed_top_k,
)
from tweets_spark_top_10_spark.streaming.heavy_hitters import (
    maintain_heavy_hitters,
    top_k_from_summary,
)
from tweets_spark_top_10_spark.streaming.sinks import (
    foreach_batch_overwrite,
    foreach_batch_top_k,
)

__all__ = [
    "KafkaConnectorUnavailable",
    "file_stream",
    "kafka_json_values",
    "kafka_stream",
    "windowed_count",
    "windowed_top_k",
    "maintain_heavy_hitters",
    "top_k_from_summary",
    "foreach_batch_overwrite",
    "foreach_batch_top_k",
]

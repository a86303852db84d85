"""Sources and sinks: schema registry, batch readers, partitioned writers.

The reference reads Avro files it listed by hand from an hour-partitioned
HDFS layout (``App.java:60-94``) and writes a per-hour CSV
(``App.java:133-134``). Here: explicit schemas, partition-pruned reads,
and idempotent partitioned writes.
"""

from tweets_spark_top_10_spark.sources.registry import (
    SCHEMAS,
    TABLES,
    load_table,
)
from tweets_spark_top_10_spark.sources.readers import read_batch, read_hour_partition
from tweets_spark_top_10_spark.sources.writers import write_csv_top_k, write_partitioned

__all__ = [
    "SCHEMAS",
    "TABLES",
    "load_table",
    "read_batch",
    "read_hour_partition",
    "write_csv_top_k",
    "write_partitioned",
]

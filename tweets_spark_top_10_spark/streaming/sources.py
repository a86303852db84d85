"""Streaming sources: file streams (the Kafka-shaped replay path).

``file_stream`` replays a directory of parquet files as a stream — the
test/replay twin of the Kafka topic the reference's pipeline consumed
upstream (its HDFS files were written by a Kafka-Connect sink,
``App.java:60-63``). Schema must be explicit: streaming reads do not
infer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


class KafkaConnectorUnavailable(RuntimeError):
    """The spark-sql-kafka connector jar is not on the classpath.

    Raised LOUDLY (never silently rerouted): unlike Avro, there is no
    pure-Python fallback that preserves Kafka semantics (offsets,
    partitions, exactly-once source tracking), so the caller must either
    deploy the jar or switch to :func:`file_stream` replay explicitly.
    """


# Missing-data-source analysis conditions (structured error classes,
# not message substrings — same matching convention as the native-Avro
# gate in sources/readers.py).  Spark 4 reports a missing streaming
# source under the legacy temp class; named successors for forward-compat.
_MISSING_KAFKA_SOURCE = {
    "_LEGACY_ERROR_TEMP_1140",  # "Failed to find data source: kafka" (stream)
    "_LEGACY_ERROR_TEMP_1139",  # batch-read variant
    "DATA_SOURCE_NOT_FOUND",
}


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: str,
    starting_offsets: str = "earliest",
    **options: str,
) -> DataFrame:
    """``readStream.format("kafka")`` — the reference pipeline's true
    upstream (its HDFS hour partitions were written by a Kafka-Connect
    sink from a tweets topic, ``App.java:60-63``; this source is the
    engine consuming that topic directly).

    Output is the standard Kafka source schema (key/value binary,
    topic, partition, offset, timestamp); pair with
    :func:`kafka_json_values` to project typed payload columns.  The
    connector jar is environment-dependent: enable with
    ``spark-submit --packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark version>``.
    Absence raises :class:`KafkaConnectorUnavailable` — loud, not a
    silent fallback (see the class docstring for why).
    """
    from pyspark.errors import AnalysisException

    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topics)
        .option("startingOffsets", starting_offsets)
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    try:
        return reader.load()
    except AnalysisException as exc:
        if exc.getCondition() not in _MISSING_KAFKA_SOURCE:
            raise
        raise KafkaConnectorUnavailable(
            "spark-sql-kafka connector not on the classpath; deploy with "
            "--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark "
            "version>, or replay a captured topic with "
            "streaming.sources.file_stream"
        ) from exc


def kafka_json_values(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project a Kafka(-shaped) stream's JSON ``value`` into typed
    columns: works identically on the real Kafka source schema and on a
    file-stream replay that carries the same ``value`` string column —
    which is what the jar-gated differential test compares."""
    from pyspark.sql import functions as F

    return df.select(
        F.from_json(F.col("value").cast("string"), schema).alias("v")
    ).select("v.*")


def file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Read a directory as a file stream with an explicit schema.

    ``max_files_per_trigger`` throttles replay into multiple micro-
    batches (useful to exercise incremental state in tests).
    """
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)

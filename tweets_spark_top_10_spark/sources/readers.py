"""Batch readers: format-generic scan + partition-pruned hourly read.

Replaces the reference's manual HDFS listing (``App.java:66-84``: list
one ``year=/month=/day=/hour=`` dir, keep ``*.avro``, exit 2 if empty)
with Spark-native partition discovery + pruning. Filters on the
partition columns prune at plan time (`PruneFileSourcePartitions`), so a
1000-executor job over years of data still opens only one hour's files —
the same I/O the reference achieved by hand, without its swallowed-
exception bug (SURVEY.md §1.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_FORMATS = {"parquet", "avro", "csv", "json", "orc"}


def read_batch(
    spark: SparkSession,
    path: str | list[str],
    fmt: str = "parquet",
    schema: T.StructType | None = None,
    **options: str,
) -> DataFrame:
    """Read files into a DataFrame.

    ``fmt='avro'`` is the reference's input format (``App.java:92-94``).
    The native spark-avro connector is used when its jar is on the
    classpath (the scale path: vectorized, schema-pushed); when it is
    absent — as in this container — we fall back to the pure-Python
    container-file decoder in ``avro_py`` (still distributed: binaryFile
    fan-out + mapInPandas decode). The fallback takes no reader
    ``options`` and raises ``ValueError`` when given any, rather than
    drop them. Any *other* avro failure stays loud.
    """
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; supported: {sorted(_FORMATS)}")
    paths = path if isinstance(path, list) else [path]
    if fmt == "avro":
        from pyspark.errors import AnalysisException

        # Only a MISSING-CONNECTOR analysis error reroutes to the python
        # decoder; matching the structured error condition (not message
        # substrings) keeps genuine data/analysis errors — whose wording
        # might mention both "avro" and "find" — loud, and survives
        # message rewording across Spark versions. Spark 4 still reports
        # the missing avro source under the legacy temp class; the named
        # successors are matched for forward-compat.
        _MISSING_SOURCE = {
            "_LEGACY_ERROR_TEMP_1139",  # "Failed to find data source: avro"
            "FAILED_FIND_AVRO_SOURCE",
            "DATA_SOURCE_NOT_FOUND",
        }
        try:
            reader = spark.read.format("avro")
            if schema is not None:
                reader = reader.schema(schema)
            for k, v in options.items():
                reader = reader.option(k, v)
            df = reader.load(paths)
            df.schema  # force analysis so a missing jar surfaces here
            return df
        except AnalysisException as exc:  # connector missing ≠ data problem
            if exc.getCondition() not in _MISSING_SOURCE:
                raise
            if options:
                raise ValueError(
                    "spark-avro connector not on the classpath and the Python "
                    f"fallback decoder cannot honour options {sorted(options)}"
                ) from exc
            from tweets_spark_top_10_spark.sources.avro_py import read_avro_python

            return read_avro_python(spark, paths, schema=schema)
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        options.setdefault("header", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(paths)


def read_hour_partition(
    spark: SparkSession,
    base_path: str,
    year: int,
    month: int,
    day: int,
    hour: int,
    fmt: str = "parquet",
    schema: T.StructType | None = None,
    **options: str,
) -> DataFrame:
    """Read exactly one hour of an hour-partitioned table.

    The base layout is the reference's Kafka-Connect convention
    (``App.java:60-63``): ``base/year=YYYY/month=MM/day=DD/hour=HH``.
    Loading ``base_path`` and filtering on the partition columns lets
    Spark prune to that one directory — verify with
    ``.explain()`` showing ``PartitionFilters``.

    Schema evolution across hours (a producer adding a column mid-day)
    is handled the Spark-native way: pass ``mergeSchema="true"`` and
    old hours surface the new column as NULL; pass an explicit
    ``schema`` to pin the contract instead.

    ``fmt="avro"`` reads the explicit hour directory instead — the
    reference's own strategy (``App.java:60-84``), and the python
    fallback decoder has no Hive partition-column discovery — then
    attaches the partition values as literal columns so the output
    shape matches the partition-discovered path exactly.  Without the
    connector, ``options`` such as ``mergeSchema`` raise (see
    :func:`read_batch`).
    """
    if fmt == "avro":
        hour_path = (
            f"{base_path.rstrip('/')}/year={year:04d}/month={month:02d}"
            f"/day={day:02d}/hour={hour:02d}"
        )
        df = read_batch(spark, hour_path, fmt=fmt, schema=schema, **options)
        return (
            df.withColumn("year", F.lit(year))
            .withColumn("month", F.lit(month))
            .withColumn("day", F.lit(day))
            .withColumn("hour", F.lit(hour))
        )
    df = read_batch(
        spark, base_path, fmt=fmt, schema=schema, basePath=base_path, **options
    )
    return df.filter(
        (F.col("year") == year)
        & (F.col("month") == month)
        & (F.col("day") == day)
        & (F.col("hour") == hour)
    )

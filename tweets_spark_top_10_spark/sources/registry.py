"""Explicit schema registry for every fixture table.

The reference never declares a schema — it trusts the Avro writer schema
embedded in the files (``App.java:92-94``). For an engine, implicit
schemas are a foot-gun (silent drift between producers); every table the
engine knows about is registered here and validated on load. Schemas
mirror the Parquet footers recorded in FIXTURES.md §B.

At 100 TB the load path below stays a plain ``spark.read.parquet`` —
column pruning and predicate pushdown reach the scan because we never
materialize or cache eagerly here.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TABLES: tuple[str, ...] = tuple(SCHEMAS)

# session -> {(sf_dir, table) -> analyzed DataFrame}. DataFrames are
# immutable plans, so handing the same object to every query is safe and
# skips re-listing the directory + re-reading parquet footers on each of
# the catalog's ~130 load calls. Held in a WeakKeyDictionary so entries
# die with their session — id(spark) keying would let CPython reuse the
# id of a collected session and hand a new session a plan bound to a
# stopped one, and would grow without bound across sf_dirs.
_DF_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table; validate column names against the registry.

    Parquet keeps its own (trusted) physical types; we check names so a
    renamed/dropped producer column fails loudly at plan time instead of
    as a resolution error deep in a query.
    """
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # Parquet TIMESTAMP(NANOS) (e.g. events.ts, written by pandas) has no
    # Spark type; read it as nano-longs and convert below. Runtime-settable.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The NTZ→TIMESTAMP cast below is value-preserving only under a UTC
    # session zone, which is also what the DuckDB oracle's naive
    # timestamps assume. Normalize UTC-equivalent zones (the JVM default
    # here is Etc/UTC) to "UTC", but never silently override a session
    # explicitly configured to a real non-UTC zone — that would change
    # the semantics of the caller's unrelated timestamp queries. Raise
    # loudly instead: under a non-UTC zone the cast shifts instants.
    _UTC_ALIASES = {
        "UTC", "Etc/UTC", "GMT", "Etc/GMT", "GMT0", "Etc/GMT0", "Etc/GMT+0",
        "Etc/GMT-0", "Z", "Zulu", "Etc/Zulu", "UCT", "Etc/UCT", "Universal",
        "Etc/Universal", "Greenwich", "Etc/Greenwich", "+00:00",
    }
    session_tz = spark.conf.get("spark.sql.session.timeZone")
    if session_tz not in _UTC_ALIASES:
        raise ValueError(
            f"load_table requires a UTC session time zone, got {session_tz!r}: "
            "the TIMESTAMP_NTZ re-tag and the DuckDB oracle's naive "
            "timestamps are only value-preserving under UTC. Set "
            "spark.sql.session.timeZone to 'UTC' (session.get_spark does), "
            "or read the parquet directly if you need another zone."
        )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Right-size shuffles for sessions still on Spark's 200 default
    # (e.g. the driver harness's own session): ~1 partition per core.
    # Never overrides an explicit setting.
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(spark.sparkContext.defaultParallelism),
        )
    session_cache = _DF_CACHE.setdefault(spark, {})
    key = (sf_dir, name)
    cached = session_cache.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    expected = {f.name: f.dataType for f in SCHEMAS[name].fields}
    missing = set(expected) - set(df.columns)
    if missing:
        raise ValueError(f"table {name!r} at {sf_dir} missing columns {sorted(missing)}")
    actual = dict(df.dtypes)
    for col, dtype in expected.items():
        if isinstance(dtype, T.TimestampType) and actual.get(col) == "bigint":
            # nanos → micros via integer division; float division would
            # lose precision (double spacing at 1.7e18 ns is 256 ns).
            df = df.withColumn(
                col, F.timestamp_micros(F.expr(f"`{col}` div 1000"))
            )
        elif isinstance(dtype, T.TimestampType) and actual.get(col) == "timestamp_ntz":
            # Parquet timestamp[us] without UTC adjustment reads as
            # TIMESTAMP_NTZ in Spark 4, which functions like unix_micros
            # reject. Session zone is UTC (pinned above), so this cast is
            # a pure re-tag: wall-clock values and oracle comparisons are
            # unchanged.
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    session_cache[key] = df
    return df

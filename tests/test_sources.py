"""Source/sink coverage: format roundtrips, the reference's CSV sink,
and graceful degradation when spark-avro is absent from the classpath."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from tweets_spark_top_10_spark.sources.readers import read_batch
from tweets_spark_top_10_spark.sources.registry import SCHEMAS, load_table
from tweets_spark_top_10_spark.sources.writers import write_csv_top_k


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    nation = load_table(spark, sf_dir, "nation")
    out = str(tmp_path / "nation_csv")
    nation.write.mode("overwrite").option("header", "true").csv(out)
    back = read_batch(spark, out, fmt="csv", schema=SCHEMAS["nation"])
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))


def test_json_roundtrip(spark, sf_dir, tmp_path):
    region = load_table(spark, sf_dir, "region")
    out = str(tmp_path / "region_json")
    region.write.mode("overwrite").json(out)
    back = read_batch(spark, out, fmt="json", schema=SCHEMAS["region"])
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, region.collect()))


def test_write_csv_top_k_single_headered_file(spark, sf_dir, tmp_path):
    """The reference's sink shape: top-10 rows, one CSV file, header
    (App.java:133-134)."""
    out = str(tmp_path / "top10")
    df = (
        load_table(spark, sf_dir, "customer")
        .orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
        .select("c_custkey", "c_acctbal")
    )
    write_csv_top_k(df, out, k=10)
    files = glob.glob(f"{out}/part-*.csv")
    assert len(files) == 1, files
    lines = open(files[0]).read().strip().splitlines()
    assert lines[0] == "c_custkey,c_acctbal"
    assert len(lines) == 11  # header + 10 rows


def test_avro_native_write_unavailable_is_loud(spark, sf_dir, tmp_path):
    """The native spark-avro WRITE path needs the connector jar; without
    it the engine must fail with a clear packaging error, never write
    wrong data. With the jar present the roundtrip must work."""
    nation = load_table(spark, sf_dir, "nation")
    out = str(tmp_path / "nation_avro")
    try:
        nation.write.mode("overwrite").format("avro").save(out)
    except Exception as e:  # noqa: BLE001
        msg = str(e)
        assert "avro" in msg.lower(), msg
        pytest.skip("spark-avro not on classpath (expected in this container)")
    back = read_batch(spark, out, fmt="avro")
    assert back.count() == nation.count()


TWEET_AVRO_SCHEMA = {
    "type": "record",
    "name": "Tweet",
    "fields": [
        {"name": "timestamp", "type": "long"},
        {"name": "hashtags", "type": {"type": "array", "items": "string"}},
        {"name": "user", "type": ["null", "string"]},
    ],
}


def test_avro_fallback_reference_shape_roundtrip(spark, tmp_path):
    """The reference's input is hour-partitioned Avro of tweet records
    (``App.java:92-94``; schema shape from the commented speed layer,
    ``App.java:159-178``). Write container files with the pure-Python
    encoder, read through ``read_batch(fmt='avro')`` — which falls back
    to the distributed python decoder in this jar-less container — and
    run the reference query end to end."""
    from tweets_spark_top_10_spark.operators.explode_count import explode_count
    from tweets_spark_top_10_spark.operators.topk import top_k
    from tweets_spark_top_10_spark.sources.avro_py import write_avro_file

    d = tmp_path / "tweets"
    d.mkdir()
    recs1 = [
        {"timestamp": 1700000000 + i, "hashtags": ["spark", "avro"], "user": "a"}
        for i in range(10)
    ]
    recs2 = [
        {"timestamp": 1700000100 + i, "hashtags": ["spark"], "user": None}
        for i in range(5)
    ] + [{"timestamp": 1700000200, "hashtags": [], "user": "b"}]
    write_avro_file(str(d / "part-0.avro"), TWEET_AVRO_SCHEMA, recs1, codec="deflate")
    write_avro_file(str(d / "part-1.avro"), TWEET_AVRO_SCHEMA, recs2, codec="null")

    df = read_batch(spark, str(d), fmt="avro")
    assert dict(df.dtypes) == {
        "timestamp": "bigint",
        "hashtags": "array<string>",
        "user": "string",
    }
    assert df.count() == 16
    counted = explode_count(df, "hashtags", out_key="hashtag", out_count="n")
    top = top_k(counted, [F.desc("n"), F.asc("hashtag")], k=10).collect()
    assert [(r["hashtag"], r["n"]) for r in top] == [("spark", 15), ("avro", 10)]
    assert df.filter(F.col("user").isNull()).count() == 5


def test_avro_fallback_type_surface(spark, tmp_path):
    """Every supported avro type + timestamp-micros logical type decode
    to the right Spark types and values, under both codecs."""
    import datetime

    from tweets_spark_top_10_spark.sources.avro_py import write_avro_file

    schema = {
        "type": "record",
        "name": "Wide",
        "fields": [
            {"name": "b", "type": "boolean"},
            {"name": "i", "type": "int"},
            {"name": "l", "type": "long"},
            {"name": "f", "type": "float"},
            {"name": "d", "type": "double"},
            {"name": "by", "type": "bytes"},
            {"name": "s", "type": "string"},
            {"name": "m", "type": {"type": "map", "values": "long"}},
            {
                "name": "ts",
                "type": {"type": "long", "logicalType": "timestamp-micros"},
            },
        ],
    }
    rec = {
        "b": True,
        "i": -42,
        "l": 1 << 40,
        "f": 1.5,
        "d": 2.25,
        "by": b"\x00\xff",
        "s": "héllo",
        "m": {"k": 7},
        "ts": 1_700_000_000_000_000,
    }
    for codec in ("deflate", "null"):
        d = tmp_path / f"wide_{codec}"
        d.mkdir()
        write_avro_file(str(d / "f.avro"), schema, [rec], codec=codec)
        got = read_batch(spark, str(d), fmt="avro").collect()[0]
        assert got["b"] is True and got["i"] == -42 and got["l"] == 1 << 40
        assert got["f"] == 1.5 and got["d"] == 2.25
        assert bytes(got["by"]) == b"\x00\xff" and got["s"] == "héllo"
        assert got["m"] == {"k": 7}
        assert got["ts"] == datetime.datetime(2023, 11, 14, 22, 13, 20)


def test_avro_fallback_unsupported_is_loud(spark, tmp_path):
    """Schema features outside the supported subset must raise, never
    silently mis-decode."""
    from tweets_spark_top_10_spark.sources.avro_py import write_avro_file

    schema = {
        "type": "record",
        "name": "Bad",
        "fields": [
            {
                "name": "e",
                "type": {"type": "enum", "name": "E", "symbols": ["A"]},
            }
        ],
    }
    d = tmp_path / "bad"
    d.mkdir()
    with pytest.raises(NotImplementedError, match="enum"):
        write_avro_file(str(d / "f.avro"), schema, [{"e": "A"}])


def test_unknown_format_rejected(spark):
    with pytest.raises(ValueError, match="unsupported format"):
        read_batch(spark, "/nonexistent", fmt="xml")


def test_schema_drift_fails_loudly(spark, sf_dir, tmp_path, monkeypatch):
    """A producer dropping a registered column must fail at load time
    with a clear error, not surface as a resolution error mid-query."""
    from tweets_spark_top_10_spark.sources import registry

    nation = load_table(spark, sf_dir, "nation").drop("n_regionkey")
    bad_dir = str(tmp_path / "drifted")
    nation.write.mode("overwrite").parquet(str(tmp_path / "drifted" / "nation.parquet"))
    with pytest.raises(ValueError, match="missing columns.*n_regionkey"):
        registry.load_table(spark, bad_dir, "nation")


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    """ORC is the other columnar lake format Spark ships natively —
    same scan surface (pushdown, pruning) as parquet."""
    supplier = load_table(spark, sf_dir, "supplier")
    out = str(tmp_path / "supplier_orc")
    supplier.write.mode("overwrite").orc(out)
    back = read_batch(spark, out, fmt="orc")
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, supplier.collect())
    )


def test_orc_predicate_pushdown(spark, sf_dir, tmp_path):
    """Filters must reach the ORC scan (PushedFilters), same as parquet."""
    out = str(tmp_path / "orders_orc")
    load_table(spark, sf_dir, "orders").write.mode("overwrite").orc(out)
    df = read_batch(spark, out, fmt="orc").filter(F.col("o_orderkey") == 42)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "o_orderkey" in plan, plan


def test_ntz_timestamp_coerced_at_load_boundary(spark, sf_dir, tmp_path):
    """Parquet ``timestamp[us]`` without UTC adjustment reads as
    TIMESTAMP_NTZ in Spark 4; the registry must re-tag it to TIMESTAMP so
    instant functions (``unix_micros`` et al.) work, without shifting
    wall-clock values (session zone is UTC). Guards against fixture /
    Spark-version drift — this broke the RANGE-frame query in round 4."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tweets_spark_top_10_spark.sources import registry

    t0 = datetime.datetime(2024, 3, 1, 12, 30, 45)
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([t0, t0 + datetime.timedelta(hours=1)],
                           pa.timestamp("us")),  # no tz → NTZ in Spark
            "user_id": pa.array([7, 7], pa.int64()),
            "event_type": pa.array(["a", "b"], pa.string()),
            "value": pa.array([1.0, 2.0], pa.float64()),
            "props": pa.array(["{}", "{}"], pa.string()),
        }
    )
    d = tmp_path / "ntz" / "events.parquet"
    d.parent.mkdir(parents=True)
    pq.write_table(tbl, str(d))
    df = registry.load_table(spark, str(tmp_path / "ntz"), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    # instant function resolves, and the wall-clock value is preserved
    got = df.orderBy("event_id").select(
        F.unix_micros("ts").alias("us"), "ts"
    ).collect()
    epoch_us = int(t0.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000)
    assert got[0]["us"] == epoch_us
    assert got[0]["ts"] == t0


def test_hour_partition_schema_evolution(spark, tmp_path):
    """A producer adding a column mid-day: mergeSchema surfaces it as
    NULL for old hours, and partition pruning still reaches the scan."""
    from tweets_spark_top_10_spark.sources.readers import read_hour_partition

    base = str(tmp_path / "hours")
    old = spark.range(5).select(
        F.col("id").alias("event_id"), F.lit("a").alias("etype")
    )
    new = spark.range(5, 9).select(
        F.col("id").alias("event_id"),
        F.lit("b").alias("etype"),
        F.lit(1.5).alias("score"),  # column added in the newer hour
    )
    old.write.parquet(f"{base}/year=2024/month=3/day=1/hour=0")
    new.write.parquet(f"{base}/year=2024/month=3/day=1/hour=1")

    h0 = read_hour_partition(
        spark, base, 2024, 3, 1, 0, mergeSchema="true"
    )
    assert "score" in h0.columns
    rows0 = h0.select("event_id", "score").collect()
    assert len(rows0) == 5 and all(r.score is None for r in rows0)

    h1 = read_hour_partition(spark, base, 2024, 3, 1, 1, mergeSchema="true")
    assert [r.score for r in h1.select("score").collect()] == [1.5] * 4

    plan = h1._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "hour" in plan


def test_avro_python_write_nulls_and_arrays(spark, tmp_path):
    """Null scalars and empty or null arrays, written as ``[null, X]``
    unions, read back through the fallback decoder."""
    from tweets_spark_top_10_spark.sources.avro_py import write_avro_file

    schema = {
        "type": "record",
        "name": "Row",
        "fields": [
            {"name": "id", "type": ["null", "long"]},
            {"name": "tags", "type": ["null", {"type": "array", "items": "string"}]},
            {"name": "note", "type": ["null", "string"]},
        ],
    }
    records = [
        {"id": 1, "tags": ["a", "b"], "note": None},
        {"id": 2, "tags": [], "note": "x"},
        {"id": 3, "tags": None, "note": "y"},
    ]
    out = tmp_path / "nullable_avro"
    out.mkdir()
    write_avro_file(str(out / "part-0.avro"), schema, records)
    back = sorted(map(tuple, read_batch(spark, str(out), fmt="avro").collect()))
    assert back == [(1, ["a", "b"], None), (2, [], "x"), (3, None, "y")]


def test_avro_fallback_rejects_options_it_cannot_honour(spark, tmp_path):
    """Without the connector, reader options must fail loudly rather than
    be dropped: a ``mergeSchema`` hour read would otherwise silently read
    without it."""
    from pyspark.errors import AnalysisException

    from tweets_spark_top_10_spark.sources.avro_py import write_avro_file
    from tweets_spark_top_10_spark.sources.readers import read_hour_partition

    base = tmp_path / "hours"
    hour = base / "year=2024" / "month=03" / "day=01" / "hour=07"
    hour.mkdir(parents=True)
    recs = [{"timestamp": 1, "hashtags": ["spark"], "user": "a"}]
    write_avro_file(str(hour / "part-0.avro"), TWEET_AVRO_SCHEMA, recs)
    try:
        spark.read.format("avro").load(str(hour)).schema
    except AnalysisException:
        pass
    else:
        pytest.skip("spark-avro on the classpath honours reader options")

    with pytest.raises(ValueError, match="mergeSchema"):
        read_hour_partition(spark, str(base), 2024, 3, 1, 7, fmt="avro", mergeSchema="true")
    assert read_hour_partition(spark, str(base), 2024, 3, 1, 7, fmt="avro").count() == 1


def test_avro_fallback_mixed_schemas_fail_loud(spark, tmp_path):
    """Heterogeneous writer schemas under one read must fail loudly in
    the decoder, not get silently projected by whichever file the
    driver-side schema probe happened to sample (VERDICT r5 #4). An
    explicit schema= opts back in to projection."""
    from tweets_spark_top_10_spark.sources.avro_py import (
        read_avro_python,
        write_avro_file,
    )

    other_schema = {
        "type": "record",
        "name": "Other",
        "fields": [
            {"name": "timestamp", "type": "long"},
            {"name": "hashtags", "type": {"type": "array", "items": "string"}},
            {"name": "score", "type": "double"},
        ],
    }
    d = tmp_path / "mixed"
    d.mkdir()
    write_avro_file(
        str(d / "a.avro"),
        TWEET_AVRO_SCHEMA,
        [{"timestamp": 1, "hashtags": ["x"], "user": "u"}],
    )
    write_avro_file(
        str(d / "b.avro"),
        other_schema,
        [{"timestamp": 2, "hashtags": ["y"], "score": 0.5}],
    )
    with pytest.raises(Exception) as exc_info:
        read_avro_python(spark, [str(d)]).collect()
    assert "heterogeneous avro writer schemas" in str(exc_info.value)

    from pyspark.sql import types as T

    explicit = T.StructType(
        [
            T.StructField("timestamp", T.LongType()),
            T.StructField("hashtags", T.ArrayType(T.StringType())),
        ]
    )
    rows = read_avro_python(spark, [str(d)], schema=explicit).collect()
    assert sorted(r["timestamp"] for r in rows) == [1, 2]


def test_avro_fallback_timestamps_respect_session_zone(spark, tmp_path):
    """The decoder emits naive pandas timestamps, which Spark's Arrow
    path reads as SESSION-zone wall clocks — so decode must convert
    epoch micros into the session zone, not UTC, or a non-UTC session
    shifts every instant by the zone offset (ADVICE r5). unix_micros
    is zone-independent, so it observes the stored instant directly."""
    from tweets_spark_top_10_spark.sources.avro_py import (
        read_avro_python,
        write_avro_file,
    )

    schema = {
        "type": "record",
        "name": "E",
        "fields": [
            {
                "name": "ts",
                "type": {"type": "long", "logicalType": "timestamp-micros"},
            }
        ],
    }
    d = tmp_path / "tz"
    d.mkdir()
    instant = 1_700_000_000_000_000  # epoch micros
    write_avro_file(str(d / "f.avro"), schema, [{"ts": instant}])

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "America/New_York", "Asia/Tokyo"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            got = (
                read_avro_python(spark, [str(d)])
                .select(F.unix_micros("ts").alias("m"))
                .collect()[0]["m"]
            )
            assert got == instant, (tz, got)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_load_table_rejects_non_utc_session_zone(spark, sf_dir):
    """load_table's NTZ re-tag is value-preserving only under UTC; a
    session explicitly configured to another zone must fail loudly
    instead of being silently re-pinned (ADVICE r5)."""
    from tweets_spark_top_10_spark.sources.registry import load_table

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with pytest.raises(ValueError, match="UTC session time zone"):
            load_table(spark, sf_dir, "nation")
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert load_table(spark, sf_dir, "nation").count() == 25


def test_synthetic_events_datasource(spark):
    """Custom Python DataSource: rows are a pure function of
    (partition, index) — two reads identical, partition count drives
    task parallelism, generation rule replayable in pure Python, bad
    options fail loud."""
    import datetime

    import pytest

    from tweets_spark_top_10_spark.sources.pyds import (
        EPOCH_2024,
        EVENT_TYPES,
        register_synthetic_events,
    )

    register_synthetic_events(spark)

    def load(parts, rows):
        return (
            spark.read.format("synthetic_events")
            .option("partitions", str(parts))
            .option("rows_per_partition", str(rows))
            .load()
        )

    df = load(3, 50)
    assert df.rdd.getNumPartitions() == 3
    rows = sorted(map(tuple, df.collect()))
    assert rows == sorted(map(tuple, load(3, 50).collect()))  # deterministic
    assert len(rows) == 150
    rid = 77
    assert rows[rid] == (
        rid,
        datetime.datetime.utcfromtimestamp(EPOCH_2024 + rid),
        (rid * 2654435761) % 97,
        EVENT_TYPES[rid % 5],
        (rid * 31 % 1000) / 10.0,
    )
    with pytest.raises(Exception, match="must be >= 1"):
        load(0, 10).collect()

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


def test_compact_parquet_preserves_content(spark, sf_dir, tmp_path):
    from tweets_spark_top_10_spark.sources.writers import compact_parquet

    src = load_table(spark, sf_dir, "orders")
    d = str(tmp_path / "many_files")
    src.repartition(20).write.mode("overwrite").parquet(d)
    import glob

    assert len(glob.glob(f"{d}/part-*.parquet")) == 20
    before = sorted(map(tuple, spark.read.parquet(d).collect()))
    n_files = compact_parquet(spark, d, target_files=4)
    assert n_files <= 4
    after = sorted(map(tuple, spark.read.parquet(d).collect()))
    assert before == after


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


def test_binary_dir_ingest_feeds_multimodal(spark, tmp_path):
    """binaryFile dir ingest -> payload column -> multimodal kernels:
    the end-to-end media on-ramp.  Glob pruning happens at listing time
    (non-matching files never become rows)."""
    from tweets_spark_top_10_spark.functions.multimodal import (
        attach_meta,
        extract_image_features,
    )
    from tweets_spark_top_10_spark.sources.readers import read_binary_dir

    media = tmp_path / "media" / "nested"
    media.mkdir(parents=True)
    blobs = {b"abcabcxyz": "a.img", b"\x00\x01\x02\x03" * 4: "b.img"}
    for payload, name in blobs.items():
        (media / name).write_bytes(payload)
    (media / "ignore.txt").write_text("not media")

    df = read_binary_dir(spark, str(tmp_path / "media"), glob="*.img")
    rows = {r.path.rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == {"a.img", "b.img"}
    assert rows["a.img"].payload == b"abcabcxyz"
    assert rows["a.img"].n_bytes == 9

    with_ids = df.select(
        F.abs(F.xxhash64("path")).alias("id"), "payload"
    )
    feats = extract_image_features(attach_meta(with_ids, mime="image/raw"))
    got = feats.select("n_bytes").collect()
    assert sorted(r.n_bytes for r in got) == [9, 16]


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


def test_snapshot_write_read_time_travel(spark, sf_dir, tmp_path):
    """Snapshot-versioned table: latest read tracks the newest publish,
    pinned reads stay immutable, unknown versions fail loudly."""
    from tweets_spark_top_10_spark.sources.readers import (
        read_snapshot,
        snapshot_versions,
    )
    from tweets_spark_top_10_spark.sources.writers import write_snapshot

    base = str(tmp_path / "versioned_nation")
    nation = load_table(spark, sf_dir, "nation")
    write_snapshot(nation, base, 1)
    write_snapshot(nation.filter(F.col("n_regionkey") == 0), base, 2)

    assert snapshot_versions(base) == [1, 2]
    assert read_snapshot(spark, base).count() == nation.filter(
        F.col("n_regionkey") == 0
    ).count()  # latest == v2
    assert read_snapshot(spark, base, version=1).count() == nation.count()
    with pytest.raises(FileNotFoundError, match="snapshot 9 not published"):
        read_snapshot(spark, base, version=9)
    with pytest.raises(FileNotFoundError, match="no snapshot"):
        read_snapshot(spark, str(tmp_path / "missing"))
    # published versions are immutable: re-publishing v1 must refuse
    with pytest.raises(Exception, match="already exists"):
        write_snapshot(nation, base, 1)


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


def test_avro_python_write_roundtrip(spark, sf_dir, tmp_path):
    """Distributed fallback Avro WRITE (one container file per
    partition, executor-side) → fallback read: values, nulls, arrays
    and timestamps all survive the roundtrip."""
    from tweets_spark_top_10_spark.sources.avro_py import write_avro_python

    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate", "o_orderpriority")
        .limit(200)
        .repartition(4)
    )
    out = str(tmp_path / "orders_avro")
    n_files = write_avro_python(orders, out)
    assert 1 <= n_files <= 4
    assert len(glob.glob(f"{out}/part-*.avro")) == n_files
    back = read_batch(spark, out, fmt="avro")
    assert dict(back.dtypes) == dict(orders.dtypes)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, orders.collect())
    )


def test_avro_python_write_nulls_and_arrays(spark, tmp_path):
    """Null scalars and array columns through the distributed writer."""
    from pyspark.sql import types as T

    from tweets_spark_top_10_spark.sources.avro_py import write_avro_python

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("tags", T.ArrayType(T.StringType())),
            T.StructField("note", T.StringType()),
        ]
    )
    df = spark.createDataFrame(
        [(1, ["a", "b"], None), (2, [], "x"), (3, None, "y")], schema=schema
    )
    out = str(tmp_path / "nullable_avro")
    write_avro_python(df, out)
    back = sorted(map(tuple, read_batch(spark, out, fmt="avro").collect()))
    assert back == [(1, ["a", "b"], None), (2, [], "x"), (3, None, "y")]


def test_write_clustered_files_have_disjoint_ranges(spark, sf_dir, tmp_path):
    """Range-clustered write: per-file min/max of the cluster key are
    pairwise disjoint (so footer stats prune), content is preserved,
    and the cluster-key filter is pushed to the scan."""
    import pyarrow.parquet as pq

    from tweets_spark_top_10_spark.sources.writers import write_clustered

    events = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "clustered")
    write_clustered(events, out, ["ts"], num_files=6)

    files = sorted(glob.glob(f"{out}/part-*.parquet"))
    assert 2 <= len(files) <= 6
    import pyarrow.compute as pc

    ranges = []
    for f in files:
        ts = pq.read_table(f, columns=["ts"])["ts"]
        ranges.append((pc.min(ts).as_py(), pc.max(ts).as_py()))
    ranges.sort()
    for (_lo, prev_hi), (next_lo, _hi) in zip(ranges, ranges[1:]):
        assert prev_hi <= next_lo, f"overlapping file ranges: {ranges}"

    back = spark.read.parquet(out)
    assert back.count() == events.count()
    mid = events.agg(F.expr("percentile(CAST(ts AS DOUBLE), 0.5)")).collect()[0][0]
    import datetime
    cutoff = datetime.datetime.utcfromtimestamp(mid)
    plan = (
        back.filter(F.col("ts") > F.lit(cutoff))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [IsNotNull(ts), GreaterThan(ts" in plan


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


def test_write_with_audit_single_pass_metrics(spark, sf_dir, tmp_path):
    """Audit metrics ride the write job itself (df.observe): the
    returned dict matches a direct recomputation, and the written data
    round-trips."""
    from tweets_spark_top_10_spark.sources.writers import write_with_audit

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    out = str(tmp_path / "audited")
    got = write_with_audit(
        orders,
        out,
        metrics={
            "revenue": F.round(F.sum("o_totalprice"), 4),
            "null_priority": F.count_if(F.col("o_orderpriority").isNull()),
            "max_key": F.max("o_orderkey"),
        },
    )
    direct = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        F.count_if(F.col("o_orderpriority").isNull()).alias("null_priority"),
        F.max("o_orderkey").alias("max_key"),
    ).collect()[0].asDict()
    assert got == direct
    assert spark.read.parquet(out).count() == got["n_rows"] > 0


def test_read_json_quarantine_splits_good_and_bad(spark, tmp_path):
    """Malformed JSON rows land in quarantine with their raw text;
    good rows parse; nothing is dropped."""
    import pyspark.sql.types as T

    from tweets_spark_top_10_spark.sources.readers import read_json_quarantine

    p = tmp_path / "feed.json"
    p.write_text(
        '{"id": 1, "txt": "ok"}\n'
        "THIS IS NOT JSON\n"
        '{"id": 2, "txt": "fine"}\n'
        '{"id": "not_an_int", "txt": 3}\n'
    )
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("txt", T.StringType())]
    )
    good, bad = read_json_quarantine(spark, str(p), schema)
    assert sorted((r["id"], r["txt"]) for r in good.collect()) == [
        (1, "ok"),
        (2, "fine"),
    ]
    raws = [r["raw_record"] for r in bad.collect()]
    assert len(raws) == 2 and "THIS IS NOT JSON" in raws[0] + raws[1]
    assert good.count() + bad.count() == 4


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


def test_jsonl_sink_commit_protocol(spark, tmp_path):
    """Custom Python sink: committed files only (staged temps renamed
    at driver commit, none left behind), overwrite replaces prior
    parts, content round-trips through spark.read.json, and abort
    sweeps staged files."""
    import glob as _glob

    from tweets_spark_top_10_spark.sources.pyds import (
        _JsonlCommit,
        _JsonlWriter,
        register_jsonl_sink,
    )

    register_jsonl_sink(spark)
    d = str(tmp_path / "jsonl_out")
    df = spark.range(100).selectExpr("id", "id * 2 AS dbl")
    df.repartition(4).write.format("jsonl_dir").option("path", d).mode(
        "append"
    ).save()
    assert len(_glob.glob(f"{d}/part-*.jsonl")) == 4
    assert not _glob.glob(f"{d}/.staged-*")
    back = spark.read.json(f"{d}/part-*.jsonl")
    assert sorted((r["id"], r["dbl"]) for r in back.collect()) == [
        (i, 2 * i) for i in range(100)
    ]
    # overwrite replaces the old parts
    df.limit(10).repartition(1).write.format("jsonl_dir").option(
        "path", d
    ).mode("overwrite").save()
    assert len(_glob.glob(f"{d}/part-*.jsonl")) == 1
    assert spark.read.json(f"{d}/part-*.jsonl").count() == 10
    # abort sweeps staged files
    w = _JsonlWriter({"path": d}, overwrite=False)
    staged = tmp_path / "jsonl_out" / ".staged-manual.jsonl"
    staged.write_text("{}\n")
    w.abort([_JsonlCommit(str(staged)), None])
    assert not staged.exists()

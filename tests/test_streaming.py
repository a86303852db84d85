"""Streaming tests: file-stream replay of the events table.

Strategy (SURVEY.md §5.2): re-write events as a multi-file parquet dir,
replay it as a file stream (maxFilesPerTrigger=1 → several micro-
batches), run the streaming query with availableNow, and compare
against the equivalent batch computation. Append-mode windows only
finalize once the watermark passes them, so comparisons restrict the
batch side to windows closed by the final watermark.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tests.conftest import run_to_memory
from tweets_spark_top_10_spark.sources.registry import SCHEMAS, load_table
from tweets_spark_top_10_spark.streaming import (
    file_stream,
    foreach_batch_overwrite,
    windowed_count,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """events re-written as 4 *chronological* parquet files.

    File streams replay in modification-time order and the watermark
    advances between micro-batches — randomly-partitioned files would
    make the watermark jump to ~max after batch 1 and drop everything
    else as late. Chronological chunks mirror a real tailing source.
    """
    import glob
    import os
    import shutil

    base = tmp_path_factory.mktemp("events_stream")
    events = load_table(spark, sf_dir, "events")
    lo, hi = events.agg(F.min("ts"), F.max("ts")).collect()[0]
    span = (hi - lo) / 4
    bounds = [None, lo + span, lo + 2 * span, lo + 3 * span, None]
    path = str(base / "stream")
    os.makedirs(path, exist_ok=True)
    for i in range(4):
        chunk = events
        if bounds[i] is not None:
            chunk = chunk.filter(F.col("ts") > F.lit(bounds[i]))
        if bounds[i + 1] is not None:
            chunk = chunk.filter(F.col("ts") <= F.lit(bounds[i + 1]))
        tmp_out = str(base / f"chunk{i}")
        chunk.coalesce(1).write.mode("overwrite").parquet(tmp_out)
        src = glob.glob(f"{tmp_out}/part-*.parquet")[0]
        dst = f"{path}/chunk{i}.parquet"
        shutil.copy(src, dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    return path


@pytest.fixture(scope="module")
def events_schema():
    return SCHEMAS["events"]


def _final_watermark_cutoff(spark, sf_dir, delay_secs):
    mx = load_table(spark, sf_dir, "events").agg(F.max("ts")).collect()[0][0]
    import datetime

    return mx - datetime.timedelta(seconds=delay_secs)


def test_windowed_count_matches_batch(spark, sf_dir, events_dir, events_schema):
    stream = file_stream(spark, events_dir, events_schema, max_files_per_trigger=1)
    counts = windowed_count(
        stream, "ts", ["event_type"], window="1 hour", watermark="10 minutes"
    )
    q = run_to_memory(counts, "win_counts")
    q.awaitTermination()
    got = {
        (r.window_start, r.event_type): r.n
        for r in spark.table("win_counts").collect()
    }
    assert got, "stream emitted nothing"

    cutoff = _final_watermark_cutoff(spark, sf_dir, 600)
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("window.end") <= F.lit(cutoff))
        .select(F.col("window.start").alias("ws"), "event_type", "n")
    )
    expected = {(r.ws, r.event_type): r.n for r in batch.collect()}
    # Every batch-finalized window must match the streamed result exactly.
    for key, n in expected.items():
        assert got.get(key) == n, f"window {key}: stream={got.get(key)} batch={n}"


def test_foreach_batch_overwrite_idempotent(
    spark, sf_dir, events_dir, events_schema, tmp_path
):
    out = str(tmp_path / "out")

    def run(checkpoint: str):
        stream = file_stream(spark, events_dir, events_schema)
        counts = windowed_count(
            stream, "ts", ["event_type"], window="1 hour", watermark="10 minutes"
        )
        q = foreach_batch_overwrite(
            counts,
            out,
            partition_by=["event_type"],
            checkpoint=checkpoint,
        )
        q.awaitTermination()

    run(str(tmp_path / "ckpt1"))
    first = sorted(
        (r.window_start, r.event_type, r.n)
        for r in spark.read.parquet(out).collect()
    )
    assert first, "sink wrote nothing"
    # Re-running the whole pipeline (fresh checkpoint) overwrites the
    # same partitions with the same content — the idempotent replacement
    # for the reference's ES delete-then-insert (App.java:146-157).
    run(str(tmp_path / "ckpt2"))
    second = sorted(
        (r.window_start, r.event_type, r.n)
        for r in spark.read.parquet(out).collect()
    )
    assert first == second


def test_streaming_top_k_matches_batch(spark, sf_dir, events_dir, events_schema, tmp_path):
    """The reference query, streaming: windowed counts -> per-window
    top-3 ranked in the foreachBatch sink -> partition-overwritten
    parquet. Finalized windows must equal the batch top-3 exactly."""
    from tweets_spark_top_10_spark.streaming import windowed_top_k
    from tweets_spark_top_10_spark.streaming.sinks import foreach_batch_top_k

    out = str(tmp_path / "topk_out")
    stream = file_stream(spark, events_dir, events_schema, max_files_per_trigger=1)
    counts = windowed_top_k(
        stream, "ts", "event_type", window="1 hour", watermark="10 minutes"
    )
    q = foreach_batch_top_k(
        counts, out, checkpoint=str(tmp_path / "ckpt"), key="event_type", k=3
    )
    q.awaitTermination()

    got = {
        (r.window_start, r.event_type): r.n
        for r in spark.read.parquet(out).collect()
    }
    assert got, "top-k sink wrote nothing"
    per_window = {}
    for (ws, et), n in got.items():
        per_window.setdefault(ws, []).append((n, et))
    assert all(len(v) <= 3 for v in per_window.values())

    cutoff = _final_watermark_cutoff(spark, sf_dir, 600)
    from pyspark.sql import Window as W

    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("window.end") <= F.lit(cutoff))
        .select(F.col("window.start").alias("ws"), "event_type", "n")
        .withColumn(
            "rank",
            F.row_number().over(
                W.partitionBy("ws").orderBy(F.desc("n"), F.asc("event_type"))
            ),
        )
        .filter(F.col("rank") <= 3)
    )
    expected = {(r.ws, r.event_type): r.n for r in batch.collect()}
    for key, n in expected.items():
        assert got.get(key) == n, f"{key}: stream={got.get(key)} batch={n}"


_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
_KV_SCHEMA = T.StructType(
    [T.StructField("ts", T.TimestampType()), T.StructField("k", T.StringType())]
)


def _land_kv_file(spark, tmp_path, inbox, name, rows, mtime):
    """One single-file parquet chunk of (ts, k) rows, landed in ``inbox``
    with a fixed modification time (file streams replay in that order)."""
    import glob as g
    import os
    import shutil

    os.makedirs(inbox, exist_ok=True)
    stage = str(tmp_path / f"stage_{name}")
    spark.createDataFrame(rows, _KV_SCHEMA).coalesce(1).write.mode("overwrite").parquet(stage)
    dst = os.path.join(inbox, f"{name}.parquet")
    shutil.copy(g.glob(f"{stage}/part-*.parquet")[0], dst)
    os.utime(dst, (mtime, mtime))


def test_late_rows_dropped_after_watermark(spark, tmp_path):
    """Exact watermark semantics on synthetic data: a row arriving in a
    later micro-batch with event time older than (max_seen - delay) must
    be dropped from an append-mode windowed aggregate; a late-but-within
    -delay row must still count."""
    import datetime as dt

    base = dt.datetime(2024, 6, 1, 10, 0, 0)
    d = str(tmp_path / "late_stream")

    def write_chunk(name, rows, mtime):
        _land_kv_file(spark, tmp_path, d, name, rows, mtime)

    # b0: events in windows 10:00 (one row) and 10:05 (two rows)
    write_chunk(
        "c1",
        [
            (base + dt.timedelta(minutes=1), "a"),
            (base + dt.timedelta(minutes=6), "a"),
            (base + dt.timedelta(minutes=7), "a"),
        ],
        1_700_000_000,
    )
    # b1: 10:30 → watermark after b1 = 10:20
    write_chunk("c2", [(base + dt.timedelta(minutes=30), "a")], 1_700_000_060)
    # b2: wm=10:20 finalizes the 10:00 and 10:05 windows THIS batch
    write_chunk("c3", [(base + dt.timedelta(minutes=31), "a")], 1_700_000_120)
    # b3: 10:02 arrives AFTER its window finalized → must be dropped
    # (append mode never re-emits); 10:27 is within the open horizon → kept
    write_chunk(
        "c4",
        [
            (base + dt.timedelta(minutes=2), "a"),
            (base + dt.timedelta(minutes=27), "a"),
        ],
        1_700_000_180,
    )
    # b4: push watermark beyond every open window so all finalize
    write_chunk("c5", [(base + dt.timedelta(minutes=60), "a")], 1_700_000_240)

    stream = file_stream(spark, d, _KV_SCHEMA, max_files_per_trigger=1)
    counts = windowed_count(stream, "ts", ["k"], window="5 minutes", watermark="10 minutes")
    q = run_to_memory(counts, "late_counts")
    q.awaitTermination()
    rows = spark.table("late_counts").collect()
    got = {r.window_start.minute: r.n for r in rows}
    assert len(rows) == len(got), f"append mode re-emitted a window: {rows}"
    # 10:00 window stays 1 — the post-finalization late row was dropped
    assert got.get(0) == 1, got
    assert got.get(5) == 2, got
    assert got.get(25) == 1, got
    assert got.get(30) == 2, got  # 10:30 + 10:31


def test_checkpoint_resume_exactly_once(spark, tmp_path):
    """Stop a checkpointed stream, add new files, restart with the SAME
    checkpoint: previously-processed files are not re-read (no
    duplicates) and new files are picked up — exactly-once resumption,
    the property the reference's delete-then-insert dance was trying to
    fake (App.java:146-157)."""
    import datetime as dt

    base = dt.datetime(2024, 6, 1, 0, 0, 0)
    d = str(tmp_path / "resume_stream")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def write_chunk(name, rows, mtime):
        _land_kv_file(spark, tmp_path, d, name, rows, mtime)

    def run_pass():
        stream = file_stream(spark, d, _KV_SCHEMA)
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    write_chunk("a", [(base + dt.timedelta(minutes=i), "x") for i in range(5)], 1_700_000_000)
    run_pass()
    assert spark.read.parquet(out).count() == 5

    write_chunk("b", [(base + dt.timedelta(minutes=60 + i), "y") for i in range(3)], 1_700_000_100)
    run_pass()
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 8, f"expected 5+3 rows exactly once, got {len(rows)}"
    assert len({(r.ts, r.k) for r in rows}) == 8, "duplicate rows after resume"


def _offset_log_conf(ckpt: str, batch_id: int) -> dict:
    """The session conf a micro-batch's offset-log entry recorded."""
    import json

    with open(f"{ckpt}/offsets/{batch_id}") as f:
        return json.loads(f.read().splitlines()[1])["conf"]


def test_start_pins_core_count_and_restores_session(spark, tmp_path):
    """A query started through the engine's start path runs its stateful
    shuffle at one partition per core, recorded in the checkpoint, while
    the session keeps its batch default — also when ``start()`` fails."""
    import datetime as dt
    import os

    from tweets_spark_top_10_spark.streaming.sinks import start_foreach_batch, start_query

    fixture_value = spark.conf.get(_SHUFFLE_PARTITIONS)
    cores = spark.sparkContext.defaultParallelism
    inbox, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    base = dt.datetime(2024, 6, 1)
    _land_kv_file(
        spark, tmp_path, inbox, "a",
        [(base + dt.timedelta(minutes=7 * i), "xyz"[i % 3]) for i in range(30)],
        1_700_000_000,
    )
    try:
        spark.conf.set(_SHUFFLE_PARTITIONS, "32")
        counts = windowed_count(
            file_stream(spark, inbox, _KV_SCHEMA), "ts", ["k"], window="1 hour"
        )
        q = start_foreach_batch(
            counts, lambda b, _: b.write.mode("append").parquet(out), ckpt
        )
        assert spark.conf.get(_SHUFFLE_PARTITIONS) == "32"
        q.awaitTermination()
        assert q.exception() is None
        assert _offset_log_conf(ckpt, 0)[_SHUFFLE_PARTITIONS] == str(cores)
        state_parts = [p for p in os.listdir(f"{ckpt}/state/0") if p.isdigit()]
        assert len(state_parts) == cores, state_parts
        assert spark.read.parquet(out).count() > 0

        bad = counts.writeStream.format("no_such_sink_format").option(
            "checkpointLocation", str(tmp_path / "bad_ckpt")
        )
        with pytest.raises(Exception):
            start_query(spark, bad)
        assert spark.conf.get(_SHUFFLE_PARTITIONS) == "32"
    finally:
        spark.conf.set(_SHUFFLE_PARTITIONS, fixture_value)


def test_restart_keeps_checkpoint_partition_count(spark, tmp_path):
    """A checkpoint written at 8 shuffle partitions keeps 8 when the query
    restarts through the start path (which would pick the core count for a
    new checkpoint), and its finalized windows equal one uninterrupted
    run's."""
    import datetime as dt

    from tweets_spark_top_10_spark.streaming.sinks import start_foreach_batch

    fixture_value = spark.conf.get(_SHUFFLE_PARTITIONS)
    base = dt.datetime(2024, 6, 1)
    files = {
        "a": [(base + dt.timedelta(minutes=5 * i), "xyz"[i % 3]) for i in range(11)],
        "b": [(base + dt.timedelta(minutes=60 + 5 * i), "xxy"[i % 3]) for i in range(19)],
    }

    def counts(inbox):
        stream = file_stream(spark, inbox, _KV_SCHEMA, max_files_per_trigger=1)
        return windowed_count(stream, "ts", ["k"], window="1 hour", watermark="10 minutes")

    def sink(out):
        return lambda b, _: b.write.mode("append").parquet(out)

    def windows(out):
        return sorted((r.window_start, r.k, r.n) for r in spark.read.parquet(out).collect())

    # Interrupted: the first run sees file a only, started directly at 8
    # partitions (as a checkpoint from a wider session would be); file b
    # lands before the restart, which goes through the start path.
    inbox, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    _land_kv_file(spark, tmp_path, inbox, "a", files["a"], 1_700_000_000)
    try:
        spark.conf.set(_SHUFFLE_PARTITIONS, "8")
        q = (
            counts(inbox).writeStream.foreachBatch(sink(out))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set(_SHUFFLE_PARTITIONS, fixture_value)
    q.awaitTermination()
    _land_kv_file(spark, tmp_path, inbox, "b", files["b"], 1_700_000_100)
    q = start_foreach_batch(counts(inbox), sink(out), ckpt)
    q.awaitTermination()
    assert q.exception() is None
    assert _offset_log_conf(ckpt, 0)[_SHUFFLE_PARTITIONS] == "8"
    assert _offset_log_conf(ckpt, 1)[_SHUFFLE_PARTITIONS] == "8"

    # Uninterrupted: both files, one run through the start path.
    inbox1, out1, ckpt1 = str(tmp_path / "in1"), str(tmp_path / "out1"), str(tmp_path / "ckpt1")
    _land_kv_file(spark, tmp_path, inbox1, "a", files["a"], 1_700_000_000)
    _land_kv_file(spark, tmp_path, inbox1, "b", files["b"], 1_700_000_100)
    q = start_foreach_batch(counts(inbox1), sink(out1), ckpt1)
    q.awaitTermination()
    assert _offset_log_conf(ckpt1, 0)[_SHUFFLE_PARTITIONS] == str(
        spark.sparkContext.defaultParallelism
    )

    got, want = windows(out), windows(out1)
    assert {ws.hour for ws, _, _ in want} == {0, 1}, want
    assert got == want
    assert spark.conf.get(_SHUFFLE_PARTITIONS) == fixture_value


def test_update_mode_final_counts_match_batch(spark, sf_dir, events_dir, events_schema):
    """Update output mode: per-batch refinements; the LAST emission per
    window must equal the batch count for EVERY window (update mode
    needs no watermark finality, unlike append)."""
    stream = file_stream(spark, events_dir, events_schema, max_files_per_trigger=1)
    counts = windowed_count(
        stream, "ts", ["event_type"], window="1 hour", watermark="10 minutes"
    )
    q = (
        counts.writeStream.format("memory")
        .queryName("upd_counts")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # memory sink in update mode appends each refinement; last write wins
    final = {}
    for r in spark.table("upd_counts").collect():
        final[(r.window_start, r.event_type)] = max(
            r.n, final.get((r.window_start, r.event_type), 0)
        )
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("ws"), "event_type", "n")
    )
    expected = {(r.ws, r.event_type): r.n for r in batch.collect()}
    assert final == expected


def test_stream_over_hour_partitioned_dirs(spark, sf_dir, tmp_path):
    """Streaming backfill of the reference's own layout: readStream over
    a year=/month=/day=/hour= partitioned table (App.java:60-63's dir
    convention) picks up partition columns and replays every hour."""
    from tweets_spark_top_10_spark.sources.writers import write_partitioned
    from pyspark.sql import types as T

    events = load_table(spark, sf_dir, "events")
    base = str(tmp_path / "hourly")
    write_partitioned(
        events.withColumns(
            {
                "year": F.year("ts"),
                "month": F.month("ts"),
                "day": F.dayofmonth("ts"),
                "hour": F.hour("ts"),
            }
        ),
        base,
        ["year", "month", "day", "hour"],
    )
    schema = T.StructType(
        SCHEMAS["events"].fields
        + [
            T.StructField("year", T.IntegerType()),
            T.StructField("month", T.IntegerType()),
            T.StructField("day", T.IntegerType()),
            T.StructField("hour", T.IntegerType()),
        ]
    )
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("basePath", base)
        .load(base + "/year=*/month=*/day=*/hour=*")
    )
    counts = (
        stream.groupBy("year", "month", "day", "hour")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        counts.writeStream.format("memory")
        .queryName("hourly_backfill")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.year, r.month, r.day, r.hour): r.n
        for r in spark.table("hourly_backfill").collect()
    }
    expected = {
        (r.year, r.month, r.day, r.hour): r.n
        for r in events.groupBy(
            F.year("ts").alias("year"),
            F.month("ts").alias("month"),
            F.dayofmonth("ts").alias("day"),
            F.hour("ts").alias("hour"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expected


def test_streaming_heavy_hitters_summary_certifies_exact_topk(spark, sf_dir, tmp_path):
    """Incrementally maintained MG summary == a valid candidate source:
    after draining the doc stream in micro-batches, candidates from the
    stored summary + exact rerank must equal the batch exact top-10,
    the summary must stay bounded at capacity+1 rows, and the certify
    path (not the exhaustive fallback) must be the one taken."""
    import pandas as pd

    from tweets_spark_top_10_spark.functions.heavy_hitters import (
        candidates_from_summary,
    )
    from tweets_spark_top_10_spark.functions.text import tokenize
    from tweets_spark_top_10_spark.streaming.heavy_hitters import (
        maintain_heavy_hitters,
        top_k_from_summary,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pdf = docs.toPandas().sort_values("doc_id").reset_index(drop=True)
    third = len(pdf) // 3
    src = tmp_path / "hh_docs"
    src.mkdir()
    pdf.iloc[:third].to_parquet(src / "b1.parquet", index=False)
    pdf.iloc[third : 2 * third].to_parquet(src / "b2.parquet", index=False)
    pdf.iloc[2 * third :].to_parquet(src / "b3.parquet", index=False)

    stream = file_stream(spark, str(src), docs.schema, max_files_per_trigger=1)
    toks_stream = stream.select(F.explode(tokenize(F.col("text"))).alias("token"))
    table = str(tmp_path / "mg_summary")
    cap = 512
    q = maintain_heavy_hitters(
        toks_stream, table, checkpoint=str(tmp_path / "hh_ckpt"), capacity=cap
    )
    q.awaitTermination()

    summary = spark.read.parquet(table)
    assert summary.count() <= cap + 1
    # total-count row carries the full stream length
    n_meta = summary.where(F.col("token").isNull()).collect()
    assert len(n_meta) == 1

    corpus_tokens = docs.select(F.explode(tokenize(F.col("text"))).alias("token"))
    assert (
        candidates_from_summary(summary, "token", 10, cap) is not None
    ), "summary failed to certify — capacity undersized for fixture"
    got = top_k_from_summary(spark, table, corpus_tokens, k=10, capacity=cap)
    want = (
        corpus_tokens.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(10)
    )
    assert got.collect() == want.collect()


def test_stream_static_pit_enrichment_matches_batch(spark, sf_dir, tmp_path):
    """pit_join works unchanged as a stream-static join: a probe
    STREAM enriched against static SCD2 history equals the batch
    pit_join on the same probes (inner join + interval filter are both
    stream-static safe; no state, no watermark needed)."""
    import pandas as pd

    from tweets_spark_top_10_spark.operators.merge import pit_join, scd2_history

    orders = load_table(spark, sf_dir, "orders").limit(400)
    k = F.col("o_orderkey")
    base = orders.select("o_orderkey", "o_orderstatus")
    changes = (
        base.withColumns({"op": F.lit("I"), "seq": F.lit(0)})
        .unionByName(
            base.where(k % 2 == 0).withColumns(
                {"o_orderstatus": F.lit("X"), "op": F.lit("U"), "seq": F.lit(1)}
            )
        )
    )
    hist = scd2_history(changes, "o_orderkey").drop("is_current")

    probes = orders.select(
        "o_orderkey", (k % 2).cast("int").alias("at")
    )
    src = tmp_path / "pit_probes"
    src.mkdir()
    probes.toPandas().to_parquet(src / "p.parquet", index=False)
    stream = file_stream(spark, str(src), probes.schema)
    enriched = pit_join(stream, hist, "o_orderkey", "at")
    q = run_to_memory(enriched, "pit_mem")
    q.awaitTermination()
    got = sorted(map(tuple, spark.table("pit_mem").collect()))
    want = sorted(map(tuple, pit_join(probes, hist, "o_orderkey", "at").collect()))
    assert got == want and got


def test_kafka_unavailable_is_loud_not_silent(spark):
    """The Kafka source is jar-gated (round-6 verdict item 4): without
    spark-sql-kafka on the classpath it must raise
    KafkaConnectorUnavailable carrying the exact --packages deploy hint
    — never a silent fallback, because no Python shim can preserve
    Kafka's offset/partition semantics.  With the jar present, the
    reader must construct (broker connection errors surface at stream
    start, not here)."""
    from tweets_spark_top_10_spark.streaming import (
        KafkaConnectorUnavailable,
        kafka_stream,
    )

    try:
        df = kafka_stream(spark, "localhost:9092", "tweets")
    except KafkaConnectorUnavailable as e:
        assert "--packages org.apache.spark:spark-sql-kafka" in str(e), e
        pytest.skip(
            "spark-sql-kafka not on classpath (expected in this container); "
            "gate verified loud"
        )
    # Jar present: the source schema is Kafka's fixed 7-column contract.
    assert {"key", "value", "topic", "partition", "offset"} <= set(df.columns)


def test_kafka_shaped_payload_parity_with_file_stream(
    spark, sf_dir, tmp_path
):
    """Differential for the payload path shared by Kafka and replay:
    kafka_json_values must decode a Kafka-SHAPED stream (binary value
    column of JSON) to exactly the rows the original batch holds.  The
    same projection runs unchanged on the real Kafka source; when a
    broker + jar are available (SPARK_GRAFT_KAFKA_BOOTSTRAP), the
    second half replays the same payloads through format('kafka') and
    compares — mirroring the native-Avro gating convention."""
    import json
    import os

    from tweets_spark_top_10_spark.streaming import (
        KafkaConnectorUnavailable,
        kafka_json_values,
        kafka_stream,
    )

    events = load_table(spark, sf_dir, "events").limit(200)
    payloads = events.select(
        F.to_json(F.struct("event_id", "user_id", "event_type", "value")).alias(
            "value"
        )
    )
    src = str(tmp_path / "kafka_shaped")
    payloads.coalesce(1).write.mode("overwrite").format("text").save(src)

    schema = (
        "event_id long, user_id long, event_type string, value double"
    )
    stream = (
        spark.readStream.format("text")
        .schema("value string")
        .load(src)
    )
    decoded = kafka_json_values(stream, T._parse_datatype_string(schema))
    q = run_to_memory(decoded, "kafka_parity")
    q.awaitTermination()
    got = spark.table("kafka_parity").select(
        "event_id", "user_id", "event_type", "value"
    )
    expect = events.select("event_id", "user_id", "event_type", "value")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, expect.collect())
    )

    bootstrap = os.environ.get("SPARK_GRAFT_KAFKA_BOOTSTRAP")
    if not bootstrap:
        pytest.skip(
            "no SPARK_GRAFT_KAFKA_BOOTSTRAP broker configured; file-shaped "
            "payload parity verified, real-Kafka differential skipped"
        )
    try:
        kdf = kafka_stream(spark, bootstrap, "tweets_spark_graft_test")
    except KafkaConnectorUnavailable:
        pytest.skip("broker configured but spark-sql-kafka jar missing")
    kq = run_to_memory(
        kafka_json_values(kdf, T._parse_datatype_string(schema)), "kafka_real"
    )
    kq.awaitTermination()
    assert sorted(map(tuple, spark.table("kafka_real").collect())) == sorted(
        map(tuple, expect.collect())
    )


def test_streaming_grouped_heavy_hitters_matches_batch(spark, sf_dir, tmp_path):
    """Grouped MG maintenance (round-6 verdict item 6): after draining
    the doc stream in micro-batches, per-group candidates from the
    stored (group, token, est) summary + exact rerank must equal the
    per-group batch exact top-k for EVERY group, and the stored state
    must stay bounded at (capacity+1) rows per group."""
    from tweets_spark_top_10_spark.functions.text import language_id, tokenize
    from tweets_spark_top_10_spark.streaming.heavy_hitters import (
        grouped_top_k_from_summary,
        maintain_grouped_heavy_hitters,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pdf = docs.toPandas().sort_values("doc_id").reset_index(drop=True)
    third = len(pdf) // 3
    src = tmp_path / "ghh_docs"
    src.mkdir()
    pdf.iloc[:third].to_parquet(src / "b1.parquet", index=False)
    pdf.iloc[third : 2 * third].to_parquet(src / "b2.parquet", index=False)
    pdf.iloc[2 * third :].to_parquet(src / "b3.parquet", index=False)

    def grouped_tokens(df):
        toks = df.select(tokenize(F.col("text")).alias("toks"))
        return toks.select(
            language_id(F.col("toks")).alias("lang"),
            F.explode(F.col("toks")).alias("token"),
        )

    stream = file_stream(spark, str(src), docs.schema, max_files_per_trigger=1)
    table = str(tmp_path / "grouped_mg")
    cap = 512
    q = maintain_grouped_heavy_hitters(
        grouped_tokens(stream),
        table,
        checkpoint=str(tmp_path / "ghh_ckpt"),
        group_col="lang",
        capacity=cap,
    )
    q.awaitTermination()

    summary = spark.read.parquet(table)
    per_group = (
        summary.groupBy("lang").agg(F.count(F.lit(1)).alias("rows")).collect()
    )
    assert per_group and all(r.rows <= cap + 1 for r in per_group), per_group
    # one NULL-token total row per group
    totals = summary.where(F.col("token").isNull()).groupBy("lang").count()
    assert all(r["count"] == 1 for r in totals.collect())

    corpus = grouped_tokens(docs)
    got = grouped_top_k_from_summary(
        spark, table, corpus, group_col="lang", k=5, capacity=cap
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("token"))
    want = (
        corpus.groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .drop("rn")
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_grouped_mg_merge_recovers_from_stale_swap_dirs(spark, sf_dir, tmp_path):
    """Crash-recovery for the grouped MG swap: a crash that left (a)
    only the aside dir, or (b) a half-written staging dir, must not
    lose or double-count state — the next merge restores/clears and
    converges to the same summary a clean run produces."""
    import os
    import shutil

    from tweets_spark_top_10_spark.functions.text import tokenize
    from tweets_spark_top_10_spark.streaming.heavy_hitters import (
        merge_mg_batch_grouped,
    )

    docs = load_table(spark, sf_dir, "documents").limit(200)
    batch = docs.select(
        "lang", F.explode(tokenize(F.col("text"))).alias("token")
    )

    def canon(path):
        rows = [tuple(r) for r in spark.read.parquet(path).collect()]
        return sorted(rows, key=lambda t: tuple((x is None, x) for x in t))

    clean = str(tmp_path / "clean")
    merge_mg_batch_grouped(spark, batch, clean, "lang", capacity=64)
    merge_mg_batch_grouped(spark, batch, clean, "lang", capacity=64)
    want = canon(clean)

    # (a) crash after live was renamed aside but before stage promoted
    crashed = str(tmp_path / "crashed")
    merge_mg_batch_grouped(spark, batch, crashed, "lang", capacity=64)
    os.rename(crashed, crashed + "__old")
    merge_mg_batch_grouped(spark, batch, crashed, "lang", capacity=64)
    assert canon(crashed) == want
    assert not os.path.exists(crashed + "__old")

    # (b) stale half-written staging dir must be cleared, not promoted
    crashed2 = str(tmp_path / "crashed2")
    merge_mg_batch_grouped(spark, batch, crashed2, "lang", capacity=64)
    os.makedirs(crashed2 + "__stage")
    with open(crashed2 + "__stage/garbage.parquet", "w") as fh:
        fh.write("not parquet")
    merge_mg_batch_grouped(spark, batch, crashed2, "lang", capacity=64)
    assert canon(crashed2) == want
    assert not os.path.exists(crashed2 + "__stage")


def test_windowed_grouped_heavy_hitters_watermark(spark, sf_dir, tmp_path):
    """(event-time window, group)-keyed MG maintenance under a
    watermark (round-7 verdict item 6), three contracts in one drain:

    1. EXACTNESS under out-of-order delivery: events sorted by user_id
       (time-shuffled) drain in 3 micro-batches; with a delay wider
       than the corpus span nothing drops, and the state-derived
       per-(day, segment) top-3 equals batch grouped_exact_top_k over
       the same buckets.
    2. STATE EXPIRY past the watermark: one far-future event advances
       the watermark beyond every original window — they must leave
       live state (bounded!) for the finalized dir, and the reader
       (live ∪ closed) must still produce the exact answer including
       the new window.
    3. LATE-BEYOND-WATERMARK DROP: an event older than the watermark
       merges into nothing — state and answers unchanged.
    """
    import datetime

    from tweets_spark_top_10_spark.functions.heavy_hitters import (
        grouped_exact_top_k,
    )
    from tweets_spark_top_10_spark.streaming.heavy_hitters import (
        maintain_windowed_heavy_hitters,
        windowed_grouped_top_k_from_summary,
    )

    events = load_table(spark, sf_dir, "events").select(
        "ts",
        (F.col("user_id") % 8).cast("string").alias("seg"),
        F.col("event_type").alias("token"),
    )
    span_delay = 40 * 86400  # corpus spans ~30 days; nothing drops

    def expected(corpus):
        toks = corpus.select(
            F.date_trunc("day", "ts").alias("window"), "seg", "token"
        ).withColumn(
            "wg",
            F.concat_ws(
                "|",
                F.date_format("window", "yyyy-MM-dd HH:mm:ss"),
                F.col("seg"),
            ),
        )
        got = grouped_exact_top_k(toks, "wg", "token", k=3, capacity=64)
        return sorted(map(tuple, got.collect()))

    def observed(corpus):
        got = windowed_grouped_top_k_from_summary(
            spark,
            state,
            corpus.select(
                F.date_trunc("day", "ts").alias("window"), "seg", "token"
            ),
            "seg",
            k=3,
            capacity=64,
        ).select(
            F.concat_ws(
                "|",
                F.date_format("window", "yyyy-MM-dd HH:mm:ss"),
                F.col("seg"),
            ).alias("wg"),
            "token",
            "n",
        )
        return sorted(map(tuple, got.collect()))

    # out-of-order delivery: sort by user id, split in thirds — each
    # micro-batch spans the whole month
    pdf = events.toPandas().sort_values(["seg", "ts"]).reset_index(drop=True)
    # pandas defaults to TIMESTAMP(NANOS), unreadable as Spark timestamp
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    src = tmp_path / "ev_stream"
    src.mkdir()
    third = len(pdf) // 3
    pdf.iloc[:third].to_parquet(src / "b1.parquet", index=False)
    pdf.iloc[third : 2 * third].to_parquet(src / "b2.parquet", index=False)
    pdf.iloc[2 * third :].to_parquet(src / "b3.parquet", index=False)

    state = str(tmp_path / "win_hh")
    stream = file_stream(spark, str(src), events.schema, max_files_per_trigger=1)

    def drain(ckpt):
        q = maintain_windowed_heavy_hitters(
            stream,
            state,
            checkpoint=str(tmp_path / ckpt),
            time_col="ts",
            group_col="seg",
            capacity=64,
            delay_seconds=span_delay,
            window="day",
        )
        q.awaitTermination()

    drain("ck1")
    assert observed(events) == expected(events)

    # (2) a far-future event expires every original window to closed
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    future = max_ts + datetime.timedelta(days=100)
    extra = spark.createDataFrame([(future, "0", "purchase")], events.schema)
    epdf = extra.toPandas()
    epdf["ts"] = epdf["ts"].astype("datetime64[us]")
    epdf.to_parquet(src / "b4_future.parquet", index=False)
    drain("ck2")
    full = events.unionByName(extra)
    live_windows = {
        r["window"] for r in spark.read.parquet(state).select("window").distinct().collect()
    }
    assert live_windows == {future.replace(hour=0, minute=0, second=0, microsecond=0)}, (
        f"live state not bounded: {sorted(live_windows)[:5]}..."
    )
    import os as _os

    assert _os.path.exists(state + "__closed"), "no finalized summaries"
    assert observed(full) == expected(full)

    # (3) an event behind the watermark is dropped, state unchanged
    stale = spark.createDataFrame(
        [(max_ts, "3", "view")], events.schema  # ~100 days behind watermark
    )
    spdf = stale.toPandas()
    spdf["ts"] = spdf["ts"].astype("datetime64[us]")
    spdf.to_parquet(src / "b5_stale.parquet", index=False)
    drain("ck3")
    assert observed(full) == expected(full)  # the stale row never lands


def test_windowed_mg_crash_between_closed_write_and_live_swap(
    spark, sf_dir, tmp_path
):
    """Crash window unique to the windowed merge: expired windows are
    written to the __closed dir BEFORE the live swap commits.  A crash
    between the two must converge on replay — the replayed batch
    re-merges (marker unstamped), rewrites the same closed partitions
    via dynamic overwrite, and completes the swap; totals stay exact."""
    import datetime

    from tweets_spark_top_10_spark.streaming import heavy_hitters as hh

    schema = "ts timestamp, seg string, token string"
    t0 = datetime.datetime(2024, 1, 1, 0, 30)
    b1 = spark.createDataFrame(
        [(t0, "a", "x")] * 3 + [(t0, "a", "y")], schema
    )
    # far-future batch: advances the watermark so b1's window expires
    b2 = spark.createDataFrame(
        [(t0 + datetime.timedelta(days=30), "a", "z")], schema
    )
    state = str(tmp_path / "wstate")
    hh.merge_mg_batch_windowed(
        spark, b1, state, "ts", "seg", capacity=8, delay_seconds=3600,
        window="hour", batch_id=0,
    )

    real_swap = hh.swap_in
    hh.swap_in = lambda *a, **kw: (_ for _ in ()).throw(
        RuntimeError("crash after closed write, before live swap")
    )
    try:
        import pytest as _pytest

        with _pytest.raises(RuntimeError):
            hh.merge_mg_batch_windowed(
                spark, b2, state, "ts", "seg", capacity=8,
                delay_seconds=3600, window="hour", batch_id=1,
            )
    finally:
        hh.swap_in = real_swap

    # replay the same batch id; must complete and not double anything
    hh.merge_mg_batch_windowed(
        spark, b2, state, "ts", "seg", capacity=8, delay_seconds=3600,
        window="hour", batch_id=1,
    )
    corpus = b1.unionByName(b2).select(
        F.date_trunc("hour", "ts").alias("window"), "seg", "token"
    )
    got = {
        (r["window"], r["seg"], r["token"]): r["n"]
        for r in hh.windowed_grouped_top_k_from_summary(
            spark, state, corpus, "seg", k=3, capacity=8
        ).collect()
    }
    assert got == {
        (t0.replace(minute=0), "a", "x"): 3,
        (t0.replace(minute=0), "a", "y"): 1,
        ((t0 + datetime.timedelta(days=30)).replace(minute=0, second=0), "a", "z"): 1,
    }, got


def test_mg_merge_replayed_batch_is_noop(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once: if the state swap commits but the
    streaming checkpoint commit does not, the SAME micro-batch is
    redelivered with the SAME batch_id.  A second merge with an id at
    or below the stored high-water mark must be a no-op — otherwise est
    and the NULL-token totals double-count and the certify-or-degrade
    contract of the summary readers silently breaks (round-7 advisor
    finding).  Covers flat and grouped merges; a LATER id still merges."""
    from tweets_spark_top_10_spark.functions.text import tokenize
    from tweets_spark_top_10_spark.streaming.heavy_hitters import (
        merge_mg_batch,
        merge_mg_batch_grouped,
    )

    docs = load_table(spark, sf_dir, "documents").limit(200)
    batch = docs.select(
        "lang", F.explode(tokenize(F.col("text"))).alias("token")
    )

    def canon(path):
        rows = [tuple(r) for r in spark.read.parquet(path).collect()]
        return sorted(rows, key=lambda t: tuple((x is None, x) for x in t))

    # grouped: replay of batch 0 is dropped, batch 1 merges
    grouped = str(tmp_path / "grouped")
    merge_mg_batch_grouped(spark, batch, grouped, "lang", capacity=64, batch_id=0)
    once = canon(grouped)
    merge_mg_batch_grouped(spark, batch, grouped, "lang", capacity=64, batch_id=0)
    assert canon(grouped) == once, "replayed grouped batch double-merged"
    merge_mg_batch_grouped(spark, batch, grouped, "lang", capacity=64, batch_id=1)
    assert canon(grouped) != once, "later batch id must still merge"

    # flat: same contract
    flat = str(tmp_path / "flat")
    tokens = batch.select("token")
    merge_mg_batch(spark, tokens, flat, capacity=64, batch_id=0)
    once = canon(flat)
    merge_mg_batch(spark, tokens, flat, capacity=64, batch_id=0)
    assert canon(flat) == once, "replayed flat batch double-merged"
    merge_mg_batch(spark, tokens, flat, capacity=64, batch_id=1)
    assert canon(flat) != once

    # legacy direct calls (no batch_id) keep merging unconditionally
    merge_mg_batch(spark, tokens, flat, capacity=64)
    merge_mg_batch(spark, tokens, flat, capacity=64)

    # the marker survives the crash-recovery rename path: promote the
    # aside dir, then replay an old id — still a no-op
    import os

    crashed = str(tmp_path / "crashed")
    merge_mg_batch_grouped(spark, batch, crashed, "lang", capacity=64, batch_id=5)
    after5 = canon(crashed)
    os.rename(crashed, crashed + "__old")
    merge_mg_batch_grouped(spark, batch, crashed, "lang", capacity=64, batch_id=5)
    assert canon(crashed) == after5, "replay after aside-restore double-merged"

    # fresh checkpoint over existing state: ids restart below the
    # stored marker — those batches are NEW data and must merge
    # (the marker check is ==, not <=; round-8 review finding)
    merge_mg_batch_grouped(spark, batch, crashed, "lang", capacity=64, batch_id=0)
    assert canon(crashed) != after5, "fresh-checkpoint batch was discarded"


def test_streaming_grouped_heavy_hitters_order_independent_exactness(
    spark, sf_dir, tmp_path
):
    """MG summaries are ORDER-DEPENDENT (different micro-batch order ->
    different surviving counters), but the certify+rerank contract must
    stay EXACT under any delivery order: drain the same corpus with the
    batch order reversed and the per-group top-5 must still equal the
    batch-exact answer."""
    from tweets_spark_top_10_spark.functions.text import language_id, tokenize
    from tweets_spark_top_10_spark.streaming.heavy_hitters import (
        grouped_top_k_from_summary,
        maintain_grouped_heavy_hitters,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pdf = docs.toPandas().sort_values("doc_id").reset_index(drop=True)
    third = len(pdf) // 3
    src = tmp_path / "ghh_rev"
    src.mkdir()
    # REVERSED chunk order vs the in-order test; mtimes force the
    # file stream to replay newest-content first.
    import os

    chunks = [pdf.iloc[2 * third :], pdf.iloc[third : 2 * third], pdf.iloc[:third]]
    for i, c in enumerate(chunks):
        p = src / f"b{i}.parquet"
        c.to_parquet(p, index=False)
        os.utime(p, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    def grouped_tokens(df):
        toks = df.select(tokenize(F.col("text")).alias("toks"))
        return toks.select(
            language_id(F.col("toks")).alias("lang"),
            F.explode(F.col("toks")).alias("token"),
        )

    stream = file_stream(spark, str(src), docs.schema, max_files_per_trigger=1)
    table = str(tmp_path / "ghh_rev_mg")
    q = maintain_grouped_heavy_hitters(
        grouped_tokens(stream),
        table,
        checkpoint=str(tmp_path / "ghh_rev_ckpt"),
        group_col="lang",
        capacity=512,
    )
    q.awaitTermination()

    corpus = grouped_tokens(docs)
    got = grouped_top_k_from_summary(
        spark, table, corpus, group_col="lang", k=5, capacity=512
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("token"))
    want = (
        corpus.groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .drop("rn")
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_windowed_mg_live_state_bounded_under_token_churn(spark, tmp_path):
    """The scale contract the 10x stream probe measures (BASELINE.md
    round-9 table), pinned as a fast regression: live windowed-MG state
    is bounded by (windows inside the watermark horizon) x groups x
    (capacity+1) — NOT by distinct tokens.  Six batches advance event
    time one hour each while every batch brings 800 NEW distinct tokens;
    with a 1 h lag at most two hour-windows are ever live, so live rows
    must stay under 2 x groups x (capacity+1) at every step while the
    closed dir accumulates the finalized windows."""
    import datetime

    from tweets_spark_top_10_spark.streaming import heavy_hitters as hh

    schema = "ts timestamp, seg string, token string"
    t0 = datetime.datetime(2024, 3, 1, 0, 30)
    cap, groups, batches = 16, ("a", "b"), 6
    state = str(tmp_path / "churn_state")
    closed = state + "__closed"

    for b in range(batches):
        ts = t0 + datetime.timedelta(hours=b)
        rows = [
            (ts, g, f"b{b}g{g}t{i}") for g in groups for i in range(400)
        ]
        hh.merge_mg_batch_windowed(
            spark,
            spark.createDataFrame(rows, schema),
            state,
            time_col="ts",
            group_col="seg",
            capacity=cap,
            delay_seconds=3600,
            window="hour",
            batch_id=b,
        )
        live = spark.read.parquet(state)
        n_live = live.count()
        assert n_live <= 2 * len(groups) * (cap + 1), (b, n_live)
        over = (
            live.groupBy("window", "seg")
            .count()
            .where(F.col("count") > cap + 1)
            .count()
        )
        assert over == 0, (b, over)

    # every window except the two inside the horizon finalized exactly once
    closed_windows = (
        spark.read.parquet(closed).select("window_part").distinct().count()
    )
    assert closed_windows == batches - 2, closed_windows

"""Streaming maintenance of the bucketed (co-located) layout.

``queries/layout_queries.py`` gives batch writes the zero-shuffle join;
this module keeps that layout true under CONTINUOUS ingest — the gap a
100 TB fact table actually lives in: events arrive forever, the nightly
join must stay co-located anyway.

Design (composing three proven disciplines):

- **Exactly-once ingest** = the ``foreach_batch_overwrite`` contract
  applied at the batch grain: every micro-batch lands in its own
  ``__ingest_batch = batch_id`` partition via dynamic partition
  overwrite, so a crash-replayed batch rewrites exactly its partition
  (``streaming/sinks.py:19``'s idempotence, without requiring whole
  result-partitions per batch — raw ingest appends, it never loses
  earlier batches).
- **Co-location** = the table is ``CLUSTERED BY (bucket_key)`` with a
  fixed bucket count; Spark's bucket spec is table-wide across
  partitions (bucket b's files across every ``__ingest_batch`` dir
  feed task b), so joins against any same-bucketed table stay
  zero-Exchange from the very first micro-batch — plan-asserted in
  ``tests/test_layout_stream.py``.
- **Compaction** = ``compact_ingest_partitions`` folds batch
  partitions below the caller's replay horizon (the checkpoint
  guarantees those batch ids never re-fire — the
  ``streaming/resample.compact_bucket_partials`` horizon contract)
  into one consolidated ``__ingest_batch = -1`` partition, restoring
  one-file-per-bucket there; partitions at/above the horizon keep
  their batch-id-keyed overwrite idempotence verbatim.

Crash-safety protocol for the compaction swap: the ``__swap_pending``
MARKER file is taken as an INGEST LEASE before the table is even read
and held through the staging write and the two renames (``path →
aside``, ``staging → path``). While the marker exists, ingest REFUSES
to write — both so a resumed micro-batch cannot recreate ``path`` as
a single-batch fragment that recovery would mistake for the full
table, and so a continuous-ingest batch cannot land rows between the
compaction snapshot and the swap only to be renamed aside and deleted
(the round-13 review finding; a batch already mid-write at lease time
is caught by a pre-swap partition diff that aborts the swap instead).
Recovery at compaction entry is therefore unambiguous: marker +
``path`` (± staging) → crashed before the swap, ``path`` is the
intact original, staging is discardable; marker + no ``path`` →
restore aside (roll back) or the complete staged copy (roll forward);
marker + ``path`` + aside → the swap finished but the crash hit the
post-swap window, so recovery replays the late-batch re-diff (the
marker body records the swap's batch horizon for exactly this) before
discarding aside. An aside dir WITHOUT a marker is unreachable from
this code and raises rather than guessing which copy to delete.

What multi-file buckets cost while uncompacted: the co-located join
keeps ZERO Exchange (the 100 TB killer) but re-sorts each bucket
locally (Spark only trusts the written sort order for single-file
buckets) — a per-task in-memory sort of that task's slice, not a
cluster-wide movement. Compaction restores the sort-free scan for the
consolidated history.

Reader contract: a batch REPLAY rewrites its partition under new file
names, and ``foreachBatch`` executes in a CLONED session whose
``REFRESH TABLE`` cannot reach other sessions' file-listing caches —
so a reader session that may overlap replays/compaction refreshes the
table before reading (standard Spark datasource-table semantics; the
in-write refresh below covers readers sharing the stream's session).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from tweets_spark_top_10_spark.streaming.sinks import start_foreach_batch

_BATCH_COL = "__ingest_batch"


def _swap_paths(path: str) -> tuple[str, str, str]:
    base = path.rstrip("/")
    return base + "__stage", base + "__old", base + "__swap_pending"


def _is_published_ingest_dir(path: str) -> bool:
    """True when ``path`` holds this module's own output — batch
    partition dirs or the write marker. Both start with ``_``, so a
    generic hidden-files check would wrongly call the dir empty (the
    bug that made fresh-session re-registration unreachable)."""
    import os

    if not os.path.exists(path):
        return False
    return any(
        e == "_SUCCESS" or e.startswith(f"{_BATCH_COL}=")
        for e in os.listdir(path)
    )


def _register_existing(
    spark: SparkSession,
    table_name: str,
    path: str,
    batch: DataFrame,
    bucket_key: str,
    n_buckets: int,
) -> None:
    """Re-register published ingest files in a fresh session (the
    ``bucketed_table`` build-once/register-anywhere discipline): DDL
    with the bucket spec over the existing LOCATION, then partition
    recovery so the already-ingested ``__ingest_batch`` dirs are
    visible."""
    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in batch.schema.fields
    )
    spark.sql(
        f"CREATE TABLE {table_name} ({ddl}, {_BATCH_COL} int) USING PARQUET "
        f"PARTITIONED BY ({_BATCH_COL}) "
        f"CLUSTERED BY ({bucket_key}) SORTED BY ({bucket_key}) "
        f"INTO {n_buckets} BUCKETS LOCATION '{path}'"
    )
    spark.sql(f"MSCK REPAIR TABLE {table_name}")


def foreach_batch_bucketed_ingest(
    stream: DataFrame,
    table_name: str,
    path: str,
    bucket_key: str,
    n_buckets: int,
    checkpoint: str,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """writeStream.foreachBatch → batch-id-partitioned, bucketed ingest.

    ``repartition(n_buckets, bucket_key)`` before every write keeps the
    one-file-per-bucket-PER-PARTITION contract (each task holds exactly
    one bucket), bounding file count at buckets x batches until
    compaction folds the history.
    """

    def _write(batch: DataFrame, batch_id: int) -> None:
        import os

        spark = batch.sparkSession
        _, aside, marker = _swap_paths(path)
        if os.path.exists(marker) or os.path.exists(aside):
            # a compaction swap crashed mid-flight; writing now could
            # recreate `path` as a single-batch fragment and poison the
            # recovery's "path exists => path is complete" reasoning
            raise RuntimeError(
                f"{table_name}: compaction swap leftovers at {aside} / "
                f"{marker} — run compact_ingest_partitions to recover "
                "before ingesting"
            )
        out = batch.withColumn(_BATCH_COL, F.lit(int(batch_id))).repartition(
            n_buckets, bucket_key
        )
        if not spark.catalog.tableExists(table_name):
            if _is_published_ingest_dir(path):
                _register_existing(
                    spark, table_name, path, batch, bucket_key, n_buckets
                )
            else:
                (
                    out.write.format("parquet")
                    .partitionBy(_BATCH_COL)
                    .bucketBy(n_buckets, bucket_key)
                    .sortBy(bucket_key)
                    .option("path", path)
                    .mode("overwrite")
                    .saveAsTable(table_name)
                )
                return
        cols = spark.table(table_name).columns  # partition col is last
        # insertInto ignores writer-level options (it resolves through
        # the catalog, not a path writer) — dynamic mode must come from
        # the session conf, scoped and restored so the caller's other
        # overwrite writes keep their semantics
        conf_key = "spark.sql.sources.partitionOverwriteMode"
        prev = spark.conf.get(conf_key, "static")
        spark.conf.set(conf_key, "dynamic")
        try:
            out.select(*cols).write.mode("overwrite").insertInto(table_name)
        finally:
            spark.conf.set(conf_key, prev)
        # a replayed batch rewrites its partition under NEW file names;
        # invalidate the cached listing so concurrent readers of the
        # table never chase deleted files
        spark.sql(f"REFRESH TABLE {table_name}")

    return start_foreach_batch(stream, _write, checkpoint, trigger_available_now)


def _rescue_late_partitions(aside: str, path: str, horizon: int) -> None:
    """Move every replayable (``>= horizon``) batch partition present in
    ``aside`` but absent from ``path`` into ``path``. Such a partition is
    a batch that committed between the pre-swap diff's listdir and
    ``rename(path -> aside)`` — its checkpoint offset committed, so
    discarding aside without this move loses it. Partitions BELOW the
    horizon are genuinely redundant (their rows live in the staged
    ``-1`` consolidation) and must NOT be moved back, or they would
    double-count. Idempotent: re-running after a partial move skips the
    already-moved dirs."""
    import os

    landed_late = {
        e
        for e in os.listdir(aside)
        if e.startswith(f"{_BATCH_COL}=") and int(e.split("=", 1)[1]) >= horizon
    } - set(os.listdir(path))
    for part in sorted(landed_late):
        os.rename(os.path.join(aside, part), os.path.join(path, part))


def _recover_swap(spark: SparkSession, table_name: str, path: str) -> None:
    """Roll a crashed compaction swap forward or back (see the module
    docstring's marker protocol); no-op when there is nothing to
    recover. Raises on an aside copy with no marker — that state is
    unreachable from this code, and deleting either copy on a guess
    could destroy the only full history."""
    import os
    import shutil

    staging, aside, marker = _swap_paths(path)
    if not os.path.exists(marker):
        if os.path.exists(aside):
            raise RuntimeError(
                f"{table_name}: aside copy {aside} exists without a swap "
                "marker — manual state; refusing to choose which copy to "
                "delete"
            )
        if os.path.exists(staging):
            # crash before the marker was ever written: `path` is the
            # intact original, the staged copy is safe to discard
            shutil.rmtree(staging)
        return
    if not os.path.exists(path):
        if os.path.exists(aside):
            os.rename(aside, path)  # roll BACK: re-fold on the next call
        elif os.path.exists(staging):
            os.rename(staging, path)  # roll FORWARD: swap had completed
        else:
            raise FileNotFoundError(
                f"{table_name} location {path} missing with no recovery copy"
            )
    # `path` now exists and (thanks to the ingest guard) can only be the
    # original or the completed compaction. marker + path + aside means
    # BOTH renames finished and the crash hit the post-swap window
    # (between rename(staging, path) and rmtree(aside)) — a late batch
    # may be riding in aside, exactly like the live post-swap re-diff.
    # The marker records the horizon of the swap that crashed, so the
    # same rescue applies here before aside is discarded; everything
    # else in aside is the folded history, redundant with staging's -1.
    if os.path.exists(aside):
        with open(marker) as fh:
            content = fh.read().strip()
        if content:
            _rescue_late_partitions(aside, path, int(content))
        else:
            # pre-horizon marker format (crash under an older build):
            # no recorded horizon means no safe re-diff — a <-horizon
            # move would double-count against the -1 consolidation.
            # Refuse rather than silently pick a loss mode.
            raise RuntimeError(
                f"{table_name}: swap marker {marker} records no batch "
                "horizon but an aside copy exists — cannot distinguish "
                "late-committed batches from folded history; inspect "
                f"{aside} manually"
            )
    for p in (aside, staging):
        if os.path.exists(p):
            shutil.rmtree(p)
    os.remove(marker)
    spark.sql(f"MSCK REPAIR TABLE {table_name} SYNC PARTITIONS")
    spark.sql(f"REFRESH TABLE {table_name}")


def compact_ingest_partitions(
    spark: SparkSession, table_name: str, batch_horizon: int
) -> int:
    """Fold ``__ingest_batch`` partitions below ``batch_horizon``
    (including a previous ``-1`` consolidation) into ONE ``-1``
    partition with one file per bucket, keeping replayable partitions
    verbatim. Marker-bracketed atomic dir swap under the table's
    unchanged LOCATION (bucket-spec-preserving via a staged
    ``saveAsTable``); returns how many batch partitions were folded."""
    import os
    import shutil
    from pathlib import Path

    # Only the '# Detailed Table Information' section holds the
    # metadata rows — parsing the whole output would let a DATA column
    # named 'Location' / 'Num Buckets' / 'Bucket Columns' shadow them
    # (column rows come first and dict insertion keeps the last writer,
    # but partition-info repeats column rows AFTER; scoping to the
    # detail section removes the ambiguity entirely)
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table_name}").collect()
    detail_at = next(
        (
            i
            for i, r in enumerate(rows)
            if r["col_name"].strip() == "# Detailed Table Information"
        ),
        None,
    )
    if detail_at is None:
        # a view, or a DESCRIBE format drift across Spark versions,
        # surfaces as a clear error naming the table — not a bare
        # StopIteration swallowed by some caller's generator machinery
        raise RuntimeError(
            f"{table_name}: DESCRIBE TABLE EXTENDED has no '# Detailed "
            "Table Information' section — not a compactable datasource "
            "table (view? format drift?)"
        )
    meta = {r["col_name"]: r["data_type"] for r in rows[detail_at:]}
    path = meta["Location"].removeprefix("file:")
    n_buckets = int(meta["Num Buckets"])
    bucket_cols = [
        c.strip(" `") for c in meta["Bucket Columns"].strip("[]").split(",")
    ]
    staging, aside, marker = _swap_paths(path)

    _recover_swap(spark, table_name, path)

    # The marker doubles as an INGEST LEASE and is taken BEFORE the
    # table is read: with the old order (marker touched only at swap
    # time) a continuous-ingest micro-batch landing between the
    # localCheckpoint snapshot and the swap was renamed aside and
    # rmtree'd — permanently lost even though its checkpoint offset
    # committed (round-13 review finding).  With the lease, any batch
    # that STARTS during compaction refuses loudly (the ingest guard),
    # fails its foreachBatch, and replays after recovery — offsets only
    # commit after the batch function returns, so nothing is lost.  A
    # batch already PAST the guard when the lease lands is caught by
    # the pre-swap partition diff below.  Crash-recovery stays
    # unambiguous: marker + intact `path` + no aside can now also mean
    # "crashed while staging", and _recover_swap's existing handling
    # (keep `path`, discard staging, drop marker) is correct for it.
    # The marker body records the horizon so crash recovery can replay
    # the post-swap re-diff (rescue late >=horizon batches from aside)
    # instead of blindly discarding aside — see _recover_swap.
    Path(marker).write_text(str(int(batch_horizon)))
    swap_started = False
    try:
        spark.sql(f"REFRESH TABLE {table_name}")
        df = spark.table(table_name)
        old = df.where(F.col(_BATCH_COL) < batch_horizon)
        n_folded = old.select(_BATCH_COL).distinct().count()
        if n_folded <= 1:
            return 0
        folded = old.withColumn(_BATCH_COL, F.lit(-1))
        keep = df.where(F.col(_BATCH_COL) >= batch_horizon)
        out = folded.unionByName(keep).localCheckpoint(eager=True)

        stage_tbl = f"{table_name}__compact_stage"
        spark.sql(f"DROP TABLE IF EXISTS {stage_tbl}")
        (
            out.repartition(n_buckets, *bucket_cols)
            .write.format("parquet")
            .partitionBy(_BATCH_COL)
            .bucketBy(n_buckets, *bucket_cols)
            .sortBy(*bucket_cols)
            .option("path", staging)
            .mode("overwrite")
            .saveAsTable(stage_tbl)
        )
        spark.sql(f"DROP TABLE {stage_tbl}")  # external: staged files stay

        # Pre-swap diff: a batch that was mid-write when the lease
        # landed may have committed a partition the staged copy never
        # saw; swapping now would silently drop it.  Replayable
        # partitions (>= horizon) are carried into staging verbatim, so
        # any >=-horizon dir present in `path` but absent from staging
        # is exactly such a batch — abort (finally discards staging and
        # releases the lease; `path` is untouched) and let the caller
        # retry once ingest quiesces.
        live = {
            e
            for e in os.listdir(path)
            if e.startswith(f"{_BATCH_COL}=")
            and int(e.split("=", 1)[1]) >= batch_horizon
        }
        staged = set(os.listdir(staging))
        if live - staged:
            raise RuntimeError(
                f"{table_name}: ingest landed {sorted(live - staged)} "
                "during compaction (batch was in flight when the lease "
                "was taken); staging discarded, table untouched — retry"
            )
        swap_started = True
        os.rename(path, aside)
        os.rename(staging, path)
        # Post-swap re-diff: the pre-swap diff and rename(path -> aside)
        # are not atomic, so a batch that passed the ingest guard before
        # the lease can still commit its partition in the ms between the
        # listdir above and the rename — it then rides into `aside`, and
        # deleting aside would lose it even though its checkpoint offset
        # committed.  Replayable (>= horizon) partitions were carried
        # into staging verbatim, so any >=-horizon dir present in aside
        # but absent from the new `path` is exactly such a late batch:
        # move it into place before discarding aside.  (A batch still
        # MID-write at rename time loses its temp dir, fails its
        # foreachBatch, and replays after recovery — offsets only commit
        # after the batch function returns.)  A crash anywhere in this
        # window replays the same rescue from _recover_swap via the
        # horizon recorded in the marker.
        _rescue_late_partitions(aside, path, batch_horizon)
        shutil.rmtree(aside)
        os.remove(marker)
    finally:
        if not swap_started:
            if os.path.exists(staging):
                shutil.rmtree(staging)
            if os.path.exists(marker):
                os.remove(marker)
    spark.sql(f"MSCK REPAIR TABLE {table_name} SYNC PARTITIONS")
    spark.sql(f"REFRESH TABLE {table_name}")
    return n_folded

"""Sinks: top-K CSV (the reference's output) and idempotent partitioned writes.

Reference output: a 10-row CSV with header, one path per hour, overwrite
(``App.java:133-134``). At scale the per-hour CSV stays a single file
(coalesce(1) is fine for K<=10 rows); bulk results go to partitioned
parquet with dynamic partition overwrite — the idempotent replacement
for the reference's ES delete-then-insert (``App.java:146-157``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from tweets_spark_top_10_spark.sources.swap import recover, swap_in


def write_csv_top_k(df: DataFrame, path: str, k: int = 10) -> None:
    """Write the top-K rows as a single headered CSV, overwriting.

    Mirrors ``App.java:133-134`` (`limit(10).write().mode(Overwrite)
    .format("csv").option("header","true")`). ``coalesce(1)`` is safe
    here because the input is already limited to K rows.
    """
    df.limit(k).coalesce(1).write.mode("overwrite").option("header", "true").csv(path)


def compact_parquet(spark, path: str, target_files: int) -> int:
    """Compact a small-files parquet directory to ``target_files`` files.

    The small-files problem is the classic file-based-lake failure mode
    (per-hour streaming sinks emit one file per micro-batch per
    partition; a year later the table is millions of tiny files and the
    driver chokes on listing).  Read → coalesce (no shuffle) → write the
    stage → publish with ``sources/swap.py``.  At real scale this runs
    per partition, not per table.  Returns the new file count.

    Row preservation is checked against the SOURCE count (counted before
    the rewrite) inside the stage write, so a compacted copy that lost
    rows raises before the swap and the live table is never touched.
    """
    import glob
    import shutil

    recover(path)
    before = spark.read.parquet(path).count()

    def _write(staging: str) -> None:
        spark.read.parquet(path).coalesce(target_files).write.mode(
            "overwrite"
        ).parquet(staging)
        compacted = spark.read.parquet(staging).count()
        if compacted != before:
            shutil.rmtree(staging)
            raise AssertionError(f"compaction lost rows: {before} -> {compacted}")

    swap_in(path, _write)
    return len(glob.glob(f"{path}/part-*.parquet"))


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    fmt: str = "parquet",
    dynamic: bool = True,
) -> None:
    """Partitioned write with dynamic partition overwrite.

    With ``dynamic=True`` only the partitions present in ``df`` are
    replaced — re-running an hour replaces exactly that hour, which is
    the race-free version of the reference's "delete ES rows for the
    window, then insert" maintenance (``App.java:102-157`` — including
    its month off-by-one bug, SURVEY.md §1.2, which cannot happen here
    because the partition values come from the data itself).
    """
    writer = df.write.mode("overwrite").format(fmt).partitionBy(*partition_by)
    if dynamic:
        writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.save(path)


def write_snapshot(df: DataFrame, base_path: str, version: int) -> None:
    """Write one immutable table snapshot under ``base/snapshot=V/``.

    Time-travel-style reads over plain partitioned dirs (the public
    file-lake pattern that predates Delta/Iceberg manifests): every
    version is a self-contained directory, so a reader pinned to
    ``snapshot=3`` is immune to concurrent writers publishing v4 —
    publication is the atomic-enough dir rename of the final file
    commit, and old versions stay readable until retired.  At 100 TB
    each snapshot would hold partition dirs underneath; nothing here
    precludes that (the snapshot level is just the outermost dir).
    """
    if version < 0:
        raise ValueError(f"snapshot version must be >= 0, got {version}")
    df.write.mode("errorifexists").parquet(
        f"{base_path.rstrip('/')}/snapshot={version}"
    )


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    num_files: int = 8,
    fmt: str = "parquet",
) -> None:
    """Write with range-clustered layout: rows range-partitioned and
    sorted on ``cluster_cols``, one file per range.

    Partition pruning handles the DIRECTORY level; this handles the
    FILE level: each file covers a disjoint range of the cluster key,
    so its parquet footer min/max excludes it from scans filtering on
    that key (the poor-man's Z-order — exact for one column, prefix-
    effective for several).  At 100 TB the difference is reading ~1/N
    of the files for a point/range query instead of every footer's
    row groups.  Sorting within files also helps row-group pruning and
    run-length encoding.
    """
    (
        df.repartitionByRange(num_files, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.mode("overwrite")
        .format(fmt)
        .save(path)
    )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    path: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
    fmt: str = "parquet",
) -> None:
    """Write ``df`` as an external BUCKETED table: rows hash-clustered
    on ``bucket_cols`` into ``num_buckets`` files, optionally sorted
    within each bucket.

    Bucketing is the WRITE-TIME half of the shuffle story: two tables
    bucketed on their join key with the same bucket count sort-merge
    join with ZERO Exchange on either side (the scan itself reports
    ``HashPartitioning``), and a groupBy on the bucket key aggregates
    with zero Exchange too. At 100 TB this converts every repeated
    fact-fact join on a stable key (orders x customer, events x users)
    from a full two-sided shuffle into a co-located map-side merge —
    the single biggest recurring-shuffle eliminator Spark offers, and
    exactly what ``operators/joins.py``'s scale note prescribes.

    Contract details that make it work:

    - ``repartition(num_buckets, *bucket_cols)`` before the write:
      Spark's bucket hash IS the repartition hash (Murmur3), so each
      task holds exactly one bucket's rows and writes exactly ONE file
      per bucket. One-file-per-bucket is load-bearing: Spark only
      honors the written ``sortBy`` order at read time when a bucket
      is a single file (else it would have to merge-sort file runs),
      so this is what lets the downstream SortMergeJoin skip its Sort
      as well as its Exchange.
    - Readers that want the sort honored must set
      ``spark.sql.legacy.bucketedTableScan.outputOrdering=true``
      (off by default since Spark 3.0 because multi-file buckets can
      make it a pessimization; safe under this writer's one-file
      contract).
    - Bucket count is a TABLE property, fixed at write time: pick one
      count per subject area (at 100 TB, ~data_size / 256 MB, e.g.
      4096) and reuse it across every table that joins on the key —
      co-location requires equal counts.
    - The table is EXTERNAL (explicit ``path``): dropping the catalog
      entry never deletes data, and a fresh session can re-register
      the same files.
    """
    if num_buckets < 1:
        raise ValueError(f"num_buckets must be >= 1, got {num_buckets}")
    if not bucket_cols:
        raise ValueError("bucket_cols must be non-empty")
    writer = (
        df.repartition(num_buckets, *bucket_cols)
        .write.format(fmt)
        .bucketBy(num_buckets, *bucket_cols)
        .option("path", path)
        .mode("overwrite")
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def write_with_audit(
    df: DataFrame,
    path: str,
    metrics: dict[str, object] | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> dict:
    """Write AND audit in one pass: ``df.observe`` attaches aggregate
    metrics to the write job itself, so row counts / sums / null
    counts come back without a second scan of the data — at 100 TB
    the difference between "audited" and "audited for double the
    cost".  Metrics must be aggregate expressions over the observed
    plan (Spark's Observation contract); ``n_rows`` is always
    included.  Returns the realized metric dict.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    exprs = [F.count(F.lit(1)).alias("n_rows")] + [
        c.alias(name) for name, c in (metrics or {}).items()
    ]
    audited = df.observe(obs, *exprs)
    audited.write.mode(mode).format(fmt).save(path)
    return obs.get

"""Sinks: top-K CSV (the reference's output) and idempotent partitioned writes.

Reference output: a 10-row CSV with header, one path per hour, overwrite
(``App.java:133-134``). At scale the per-hour CSV stays a single file
(coalesce(1) is fine for K<=10 rows); bulk results go to partitioned
parquet with dynamic partition overwrite — the idempotent replacement
for the reference's ES delete-then-insert (``App.java:146-157``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_csv_top_k(df: DataFrame, path: str, k: int = 10) -> None:
    """Write the top-K rows as a single headered CSV, overwriting.

    Mirrors ``App.java:133-134`` (`limit(10).write().mode(Overwrite)
    .format("csv").option("header","true")`). ``coalesce(1)`` is safe
    here because the input is already limited to K rows.
    """
    df.limit(k).coalesce(1).write.mode("overwrite").option("header", "true").csv(path)


def write_partitioned(df: DataFrame, path: str, partition_by: list[str]) -> None:
    """Partitioned parquet write with dynamic partition overwrite.

    Only the partitions present in ``df`` are replaced — re-running an
    hour replaces exactly that hour, which is
    the race-free version of the reference's "delete ES rows for the
    window, then insert" maintenance (``App.java:102-157`` — including
    its month off-by-one bug, SURVEY.md §1.2, which cannot happen here
    because the partition values come from the data itself).
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    path: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    """Write ``df`` as an external BUCKETED parquet table: rows hash-clustered
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
        .write.format("parquet")
        .bucketBy(num_buckets, *bucket_cols)
        .option("path", path)
        .mode("overwrite")
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)

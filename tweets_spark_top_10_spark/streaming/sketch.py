"""Incremental dedup-index maintenance: streaming MinHash signature upsert.

[EXT] surface (SURVEY.md §9 round-3 list, pulled forward).  A 100 TB
dedup index is not recomputed per run — new/changed documents arrive
continuously and only THEIR signatures change (a MinHash signature
depends only on its own document's text).  This module maintains the
persistable signature table (``functions/dedup.minhash_signatures``,
64 bytes/doc at 8 tables) incrementally from a document stream:

- Signatures are bucketed by a hash of the doc id into
  ``n_buckets`` partitions (uniform by construction — no skew).
- Each micro-batch sketches ONLY its own documents, reads back ONLY the
  bucket partitions it touches, anti-joins the old rows for re-sent ids
  (last-writer-wins), and dynamically overwrites exactly those
  partitions (``sources/writers.write_partitioned`` — the same
  idempotent pattern as the hour sinks, so replaying a micro-batch
  converges to the same table).
- Downstream, banding/rerank read the signature table instead of
  re-sketching the corpus: candidate generation cost becomes
  O(changed docs), not O(corpus).

The whole path is deterministic (xxhash64 signatures, md5 buckets), so
the test gate is exact: stream the corpus in batches, with one doc
re-sent mutated, and the final table must equal the batch-computed
signatures of the final corpus state.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tweets_spark_top_10_spark.functions.dedup import minhash_signatures
from tweets_spark_top_10_spark.functions.sampling import hash_bucket
from tweets_spark_top_10_spark.sources.writers import write_partitioned
from tweets_spark_top_10_spark.streaming.sinks import start_foreach_batch


def upsert_signature_batch(
    spark,
    batch_docs: DataFrame,
    table_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_tables: int = 8,
    n_buckets: int = 16,
) -> None:
    """Merge one batch of documents into the signature table.

    Re-sent ids take the new signature (last-writer-wins within the
    batch path); untouched bucket partitions are never read or written.
    """
    # A batch can contain several versions of one doc (multiple files
    # listed in one trigger): keep one text per id BEFORE sketching —
    # the signature aggregate would otherwise union both versions'
    # shingles into one bogus signature.  max(text) is the
    # deterministic batch-internal tie-break; across batches the later
    # batch wins via the anti-join below.
    one_per_id = batch_docs.groupBy(id_col).agg(
        F.max(text_col).alias(text_col)
    )
    sigs = minhash_signatures(
        one_per_id, text_col, id_col, num_tables=num_tables
    ).withColumn("bucket", hash_bucket(id_col, n_buckets))
    upsert_rows_by_bucket(spark, sigs, table_path, id_col)


def upsert_rows_by_bucket(
    spark,
    keyed_rows: DataFrame,
    table_path: str,
    id_col: str,
) -> None:
    """Merge per-id rows (carrying a ``bucket`` partition column) into a
    bucket-partitioned parquet table: last-writer-wins on ``id_col``,
    untouched bucket partitions never read or written.  The generic
    engine under every incrementally-maintained per-row artifact table
    (MinHash signatures, ``sinks.foreach_batch_kv_upsert`` tables).
    """
    rows = keyed_rows.persist()
    # Stage-then-swap, never read-your-own-overwrite: the merge plan
    # reads the live table, so dynamically overwriting the same path in
    # one job would delete old partition files while the job still needs
    # them, and a crash mid-commit could lose unchanged rows for good.
    # Instead the merged content lands in a staging dir, and only then
    # do the touched bucket directories swap in (rename aside -> move
    # in -> drop aside): a crash at any point leaves each bucket with
    # either its old or its new content, and replaying the micro-batch
    # regenerates the identical merge from either state.
    staging = table_path.rstrip("/") + "__stage"
    aside = table_path.rstrip("/") + "__old"
    # Recovery before cleanup: a crash between a bucket's rename pair
    # leaves that bucket absent from the live table with its only old
    # copy in the aside dir — move any such bucket back in FIRST, so
    # previously-indexed rows are never dropped; buckets whose swap
    # completed keep their live (new) content and their aside copy is
    # redundant.  The staging dir is always safe to discard (the merge
    # below regenerates it from live + batch).
    if os.path.exists(aside):
        for bucket_dir in os.listdir(aside):
            live_b = os.path.join(table_path, bucket_dir)
            if bucket_dir.startswith("bucket=") and not os.path.exists(live_b):
                os.rename(os.path.join(aside, bucket_dir), live_b)
        shutil.rmtree(aside)
    if os.path.exists(staging):
        shutil.rmtree(staging)
    if os.path.exists(table_path):
        touched = rows.select("bucket").distinct()
        old = (
            spark.read.parquet(table_path)
            .join(F.broadcast(touched), "bucket")
            .join(rows.select(id_col), id_col, "left_anti")
        )
        merged = old.unionByName(rows)
    else:
        merged = rows
    write_partitioned(merged, staging, ["bucket"])
    os.makedirs(table_path, exist_ok=True)
    os.makedirs(aside, exist_ok=True)
    for bucket_dir in sorted(os.listdir(staging)):
        if not bucket_dir.startswith("bucket="):
            continue
        live = os.path.join(table_path, bucket_dir)
        if os.path.exists(live):
            os.rename(live, os.path.join(aside, bucket_dir))
        os.rename(os.path.join(staging, bucket_dir), live)
    shutil.rmtree(aside)
    shutil.rmtree(staging)
    rows.unpersist()


def maintain_minhash_index(
    stream_docs: DataFrame,
    table_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_tables: int = 8,
    n_buckets: int = 16,
):
    """Attach the signature upsert to a document stream via foreachBatch.

    Returns the started StreamingQuery (availableNow trigger so tests
    and backfills drain the source then stop).
    """

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        upsert_signature_batch(
            batch_df.sparkSession,
            batch_df,
            table_path,
            text_col,
            id_col,
            num_tables,
            n_buckets,
        )

    return start_foreach_batch(stream_docs, merge, checkpoint)

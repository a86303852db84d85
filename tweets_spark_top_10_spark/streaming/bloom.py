"""Incremental Bloom-filter maintenance over a key stream.

The batch operator (``functions/bloom.py``) rebuilds the dimension
key-set filter per run; at 100 TB the dimension churns continuously
and a rebuild re-reads it all.  Bloom bit-words are mergeable
(``bit_or`` is commutative, associative, idempotent), so the filter
can be maintained incrementally: each micro-batch contributes its
sparse word updates, OR-merged into the stored word table and
published by ``sources/swap.py``.  The maintained table is
bit-identical to a single-pass batch build over the union of all
streamed keys — which is exactly what the differential test asserts —
so every ``bloom_might_contain`` guarantee (zero false negatives)
carries over.  Deletes are the known Bloom limitation (bits are never
cleared); a pipeline that needs them rebuilds periodically or uses a
counting filter — documented, not hidden.

State is at most ``m_bits/64`` rows regardless of stream length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tweets_spark_top_10_spark.functions.bloom import bloom_word_updates
from tweets_spark_top_10_spark.sources.swap import recover, swap_in
from tweets_spark_top_10_spark.streaming.sinks import start_foreach_batch


def merge_bloom_batch(
    spark,
    batch_keys: DataFrame,
    table_path: str,
    key_col: str,
    m_bits: int = 1 << 16,
    k: int = 5,
) -> None:
    """OR one micro-batch's word updates into the stored word table."""
    updates = bloom_word_updates(batch_keys, key_col, m_bits=m_bits, k=k)
    if recover(table_path):
        merged = spark.read.parquet(table_path).unionByName(updates)
    else:
        merged = updates
    merged = merged.groupBy("word_idx").agg(F.bit_or("word").alias("word"))
    swap_in(
        table_path,
        lambda staging: merged.coalesce(1).write.mode("overwrite").parquet(staging),
    )


def maintain_bloom(
    stream_keys: DataFrame,
    table_path: str,
    checkpoint: str,
    key_col: str,
    m_bits: int = 1 << 16,
    k: int = 5,
):
    """Attach the Bloom merge to a key stream via foreachBatch
    (availableNow trigger, as the other maintained indexes).
    Idempotent under micro-batch replay: re-ORing a batch's bits is a
    no-op, so at-least-once delivery still converges to the exact
    batch-built filter."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_bloom_batch(
            batch_df.sparkSession, batch_df, table_path, key_col, m_bits, k
        )

    return start_foreach_batch(stream_keys, merge, checkpoint)


def read_bloom_words(spark, table_path: str, m_bits: int = 1 << 16) -> list[int]:
    """Densify the stored word table for ``bloom_might_contain``."""
    recover(table_path)
    dense = [0] * (m_bits // 64)
    for r in spark.read.parquet(table_path).collect():
        dense[int(r["word_idx"])] = int(r["word"])
    return dense

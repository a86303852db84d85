"""Streaming ANN: incremental IVF index maintenance + stream enrichment.

[EXT] surface (SURVEY.md §9 round-3 candidate list).  A billion-vector
ANN index is not rebuilt per run: new/changed vectors arrive
continuously and only THEIR rows change — a cell assignment depends
only on the vector itself and the (fixed, offline-fitted) coarse
centroid book.  This module maintains the (id, embedding, cell_id)
assignment table incrementally from a vector stream and answers a
query stream against it:

- **Maintenance** reuses the generic bucket-partitioned upsert engine
  (``streaming/sketch.upsert_rows_by_bucket``): per micro-batch, assign
  cells to the batch's vectors via the broadcast centroid argmin
  (stateless, codegen'd), then last-writer-wins merge touching only the
  id-buckets in the batch.  Replaying a micro-batch converges to the
  same table (the test resends a mutated vector).
- **Enrichment** probes each streamed query's ``n_probe`` nearest cells
  (broadcast argmin again) and reranks exactly inside the probed cells
  via the equi-join on ``cell_id`` — the same plan shape as the batch
  ``ivf_knn``, run per micro-batch in ``foreachBatch`` because top-K
  needs a rank, and rank-over-stream belongs in the sink (the
  ``foreach_batch_top_k`` convention, streaming/sinks.py).

At 100 TB/day the stream side never shuffles to meet the corpus: the
centroid book is broadcast, the index table is read pruned to probed
cells' rows by the join, and each micro-batch's work is O(batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tweets_spark_top_10_spark.functions.sampling import hash_bucket
from tweets_spark_top_10_spark.functions.similarity import (
    ivf_assign_cells,
    ivf_knn,
    rp_array,
)
from tweets_spark_top_10_spark.streaming.sketch import upsert_rows_by_bucket
from tweets_spark_top_10_spark.streaming.sinks import start_foreach_batch


def one_per_id(
    batch_vecs: DataFrame,
    id_col: str,
    vec_col: str,
    seq_col: str | None = None,
) -> DataFrame:
    """Batch-internal dedup (one trigger can drain several files
    carrying the same id).  With ``seq_col`` (an event-time/sequence
    column carried through the stream) the LATEST row wins via
    ``max_by`` — arrival-order semantics that hold even when a backfill
    batches files differently than the live stream did.  Without it the
    tie-break is ``max(vec)`` (arrays order lexicographically in
    Spark): deterministic, but within-trigger ordering is otherwise
    UNDEFINED — last-writer-wins is only guaranteed ACROSS triggers,
    via the upsert."""
    if seq_col is not None:
        return batch_vecs.groupBy(id_col).agg(
            F.max_by(vec_col, seq_col).alias(vec_col)
        )
    return batch_vecs.groupBy(id_col).agg(F.max(vec_col).alias(vec_col))


def upsert_vector_cells_batch(
    spark,
    batch_vecs: DataFrame,
    centroids: DataFrame,
    table_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_buckets: int = 16,
    seq_col: str | None = None,
) -> None:
    """Merge one batch of vectors into the cell-assignment table."""
    latest = one_per_id(batch_vecs, id_col, vec_col, seq_col)
    assigned = ivf_assign_cells(
        latest, centroids, id_col, vec_col, n_probe=1
    ).withColumn("bucket", hash_bucket(id_col, n_buckets))
    upsert_rows_by_bucket(spark, assigned, table_path, id_col)


def maintain_ivf_index(
    stream_vecs: DataFrame,
    centroids: DataFrame,
    table_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_buckets: int = 16,
    seq_col: str | None = None,
):
    """Attach the cell-assignment upsert to a vector stream.

    Returns the started StreamingQuery (availableNow trigger so tests
    and backfills drain the source then stop).
    """

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        upsert_vector_cells_batch(
            batch_df.sparkSession,
            batch_df,
            centroids,
            table_path,
            id_col,
            vec_col,
            n_buckets,
            seq_col,
        )

    return start_foreach_batch(stream_vecs, merge, checkpoint)


def upsert_rp_cells_batch(
    spark,
    batch_vecs: DataFrame,
    centroids: DataFrame,
    table_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    d_out: int = 32,
    n_buckets: int = 16,
    seq_col: str | None = None,
) -> None:
    """Projected-space variant of :func:`upsert_vector_cells_batch`:
    the batch is JL-projected first (``rp_array`` — map-only, plan-
    literal sign matrix), then assigned against the PROJECTED centroid
    book.  Maintains the (id, rp_vec, cell_id) table that
    ``rp_ivf_rerank_knn``'s prebuilt path serves from
    (``ensure_rp_index``'s cells) — so the projected index is a
    maintained artifact like its 64-dim sibling, never a rebuild.
    The rerank half needs no maintenance at all: it reads the base
    vector table by id at query time."""
    latest = one_per_id(batch_vecs, id_col, vec_col, seq_col)
    projected = rp_array(latest, id_col, vec_col, d_out=d_out)
    assigned = ivf_assign_cells(
        projected, centroids, id_col, "rp_vec", n_probe=1
    ).withColumn("bucket", hash_bucket(id_col, n_buckets))
    upsert_rows_by_bucket(spark, assigned, table_path, id_col)


def maintain_rp_ivf_index(
    stream_vecs: DataFrame,
    centroids: DataFrame,
    table_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    d_out: int = 32,
    n_buckets: int = 16,
    seq_col: str | None = None,
):
    """Attach the PROJECTED cell-assignment upsert to a vector stream
    (availableNow trigger; ``centroids`` is the fixed offline book in
    the projected space, shaped (cell_id, centroid: array<double>))."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        upsert_rp_cells_batch(
            batch_df.sparkSession,
            batch_df,
            centroids,
            table_path,
            id_col,
            vec_col,
            d_out,
            n_buckets,
            seq_col,
        )

    return start_foreach_batch(stream_vecs, merge, checkpoint)


def upsert_pq_codes_batch(
    spark,
    batch_vecs: DataFrame,
    codebook: DataFrame,
    table_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 16,
    sub_dim: int = 4,
    n_buckets: int = 16,
    seq_col: str | None = None,
    perm: DataFrame | None = None,
) -> None:
    """Merge one batch of vectors into the PQ-codes table.

    A vector's M codes depend only on itself and the (fixed, offline)
    codebook, so incremental maintenance is exact: re-encode the batch,
    last-writer-wins on the id.  The long-format (id, m, code) rows all
    carry the id's bucket, so an id's 16 rows always co-locate and the
    upsert's anti-join swaps them atomically with the bucket swap.

    With ``perm`` (an OPQ-style (old_pos, new_pos) table,
    ``functions/pq.opq_permutation``) each deduped vector is reordered
    through the broadcast permutation before encoding, so the table
    holds codes in the permuted space — the streaming twin of
    ``pq_adc_opq_top5``'s offline encode.  The permutation, like the
    codebook, is a fixed offline artifact: refitting either means
    re-encoding the corpus, which is a batch job, not maintenance.
    """
    from tweets_spark_top_10_spark.functions.pq import apply_permutation, pq_encode

    latest = one_per_id(batch_vecs, id_col, vec_col, seq_col)
    if perm is not None:
        latest = apply_permutation(latest, id_col, perm, vec_col)
    codes = pq_encode(
        latest, codebook, id_col, vec_col, m, sub_dim
    ).withColumn("bucket", hash_bucket(id_col, n_buckets))
    upsert_rows_by_bucket(spark, codes, table_path, id_col)


def maintain_pq_index(
    stream_vecs: DataFrame,
    codebook: DataFrame,
    table_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 16,
    sub_dim: int = 4,
    n_buckets: int = 16,
    seq_col: str | None = None,
    perm: DataFrame | None = None,
):
    """Attach the PQ-code upsert to a vector stream (availableNow).

    Pass ``perm`` to maintain codes in the OPQ-permuted space; the
    codebook must then be fitted in that space too."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        upsert_pq_codes_batch(
            batch_df.sparkSession,
            batch_df,
            codebook,
            table_path,
            id_col,
            vec_col,
            m,
            sub_dim,
            n_buckets,
            seq_col,
            perm,
        )

    return start_foreach_batch(stream_vecs, merge, checkpoint)


def enrich_stream_ann(
    stream_queries: DataFrame,
    index_path: str,
    centroids: DataFrame,
    out_path: str,
    checkpoint: str,
    k: int = 5,
    n_probe: int = 4,
    query_id: str = "query_id",
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
):
    """Enrich a query-vector stream with IVF top-K neighbors from the
    maintained index table; writes (query_id, cand_id, cos_sim, rank)
    parquet per micro-batch under ``out_path/batch_id=N``.

    The batch_id-keyed subdirectory + overwrite makes the sink
    idempotent, not just at-least-once: a crash after the write but
    before the checkpoint commit replays the batch, and the replay
    OVERWRITES the same subdirectory instead of appending duplicate
    rows.  Readers get ``batch_id`` as a partition column (provenance
    for free).
    """

    def score(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        index = spark.read.parquet(index_path).select(
            F.col(cand_id), F.col(vec_col), F.col("cell_id")
        )
        topk = ivf_knn(
            batch_df,
            candidates=None,
            k=k,
            query_id=query_id,
            cand_id=cand_id,
            vec_col=vec_col,
            n_probe=n_probe,
            centroids=centroids,
            cand_cells=index,
        )
        topk.write.mode("overwrite").parquet(f"{out_path}/batch_id={batch_id}")

    return start_foreach_batch(stream_queries, score, checkpoint)


def enrich_stream_adc(
    stream_queries: DataFrame,
    codes_path: str,
    codebook: DataFrame,
    out_path: str,
    checkpoint: str,
    k: int = 5,
    query_id: str = "query_id",
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 16,
    sub_dim: int = 4,
    perm: DataFrame | None = None,
):
    """Enrich a query-vector stream with PQ/ADC top-K from the
    maintained codes table (``maintain_pq_index``): per micro-batch the
    queries build broadcast LUTs against the fixed codebook, and the
    scan side is the M-byte codes table — no candidate vector is ever
    read.  The compressed twin of :func:`enrich_stream_ann`; same
    batch_id-keyed overwrite sink, so replays are idempotent.

    With ``perm`` each query batch is reordered through the OPQ
    permutation before building its LUTs — required when the codes
    table is maintained in the permuted space
    (``maintain_pq_index(perm=...)``); LUT distances are only
    meaningful when query and code subspaces line up.
    """
    from tweets_spark_top_10_spark.functions.pq import apply_permutation, pq_adc_topk

    def score(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        queries = batch_df
        if perm is not None:
            queries = apply_permutation(queries, query_id, perm, vec_col)
        codes = spark.read.parquet(codes_path).select(
            F.col(cand_id), F.col("m"), F.col("code")
        )
        topk = pq_adc_topk(
            queries,
            candidates=None,
            k=k,
            query_id=query_id,
            cand_id=cand_id,
            vec_col=vec_col,
            m=m,
            sub_dim=sub_dim,
            codebook=codebook,
            codes=codes,
        )
        topk.write.mode("overwrite").parquet(f"{out_path}/batch_id={batch_id}")

    return start_foreach_batch(stream_queries, score, checkpoint)

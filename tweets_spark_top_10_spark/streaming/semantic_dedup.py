"""Incrementally maintained semantic deduplication.

The streaming twin of the ``semantic_dedup_keep`` catalog query
(SemDeDup shape, Abbas et al. 2023): as vectors arrive, each
micro-batch is cell-assigned against a FIXED coarse quantizer, compared
only against its own cell's stored members, and the surviving
near-duplicate pairs accumulate in a pair table; cluster labels and the
canonical-keep decision are derived on demand by running the
star-contraction connected components over the stored pairs.

Scale shape per micro-batch: one broadcast centroid argmin over the
batch, one cell-keyed equi-join of (batch x stored-cell-members) — the
batch side is small and the stored side is partition-pruned by the
bucket upsert layout — and one distinct-merge of the (tiny relative to
corpus) pair table.  Nothing ever compares across cells, and replaying
a micro-batch regenerates the identical state (cell upsert is
last-writer-wins; the pair merge is a distinct set union).

Semantics note: the corpus is treated as APPEND-ONLY for dedup
purposes — re-keying an id with a different vector updates its cell
row (last writer wins) but previously recorded pairs for the old
vector are not retracted, matching how production dedup treats
immutable content-addressed documents.  Full retraction needs the
batch pipeline.

Skewed-corpus contract — scoped to the stream's OWN cell assignment
(round-10 advice): the incremental merge emits ALL intra-cell pairs
(no sub-cell cap — each micro-batch joins only batch × stored, so
per-batch work is bounded by the batch, not the cell), which is a
SUPERSET of what the capped-plus-bridged batch pair pipeline would
emit OVER THE SAME CELL ASSIGNMENT.  So between refits, stream-derived
clusters can only coarsen that same-assignment batch answer.  The
contract does NOT extend to a batch run with its own fresh √N book
when the stream's quantizer is stale (the very case refit exists
for): near-dups the fresh book co-locates can land in different stale
cells, so a batch cluster can split across stream groups until the
next :func:`refit_semantic_state` — which regenerates the exact batch
state (collapse prepass + cap + rep bridge included) and restores
equality.  Pinned by
``test_streaming_skewed_merge_coarsens_then_converges`` (same-book
superset) and ``test_streaming_semantic_refit_matches_batch``
(post-refit equality from a deliberately stale book).

Cites: reference has no streaming analog (its speed layer,
App.java:159-178, is commented out); this is engine-only capability.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tweets_spark_top_10_spark.functions.similarity import (
    dot,
    ivf_assign_cells,
    l2_norm,
)
from tweets_spark_top_10_spark.streaming.ann import one_per_id
from tweets_spark_top_10_spark.functions.sampling import hash_bucket
from tweets_spark_top_10_spark.sources.swap import recover, swap_in
from tweets_spark_top_10_spark.streaming.sketch import upsert_rows_by_bucket
from tweets_spark_top_10_spark.streaming.sinks import start_foreach_batch


def upsert_semantic_pairs_batch(
    spark,
    batch_vecs: DataFrame,
    centroids: DataFrame,
    cells_path: str,
    pairs_path: str,
    id_col: str = "vec_id",
    vec_col: str = "vec",
    threshold: float = 0.3,
    n_buckets: int = 16,
    seq_col: str | None = None,
) -> None:
    """Fold one micro-batch of vectors into the semantic-dedup state.

    Order matters: cells upsert FIRST (so the pair join sees the batch's
    own rows and emits new-vs-new pairs without a separate self-join),
    then the batch x stored-cell-members cosine pairs distinct-merge
    into the pair table, published by ``sources/swap.py``.
    """
    one = one_per_id(batch_vecs, id_col, vec_col, seq_col)
    assigned = ivf_assign_cells(
        one, centroids, id_col, vec_col, n_probe=1
    ).withColumn("bucket", hash_bucket(id_col, n_buckets))
    upsert_rows_by_bucket(spark, assigned, cells_path, id_col)

    stored = spark.read.parquet(cells_path)
    a = assigned.select(
        F.col("cell_id"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        l2_norm(F.col(vec_col)).alias("na"),
    )
    b = stored.select(
        F.col("cell_id"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        l2_norm(F.col(vec_col)).alias("nb"),
    )
    new_pairs = (
        a.join(b, "cell_id")
        .filter(F.col("id_a") != F.col("id_b"))
        .withColumn(
            "__cos",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
            ),
        )
        .filter(F.col("__cos") >= threshold)
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .distinct()
    )
    if recover(pairs_path):
        merged = (
            spark.read.parquet(pairs_path).unionByName(new_pairs).distinct()
        )
    else:
        merged = new_pairs
    swap_in(
        pairs_path,
        lambda staging: merged.write.mode("overwrite").parquet(staging),
    )


def maintain_semantic_dedup(
    stream_vecs: DataFrame,
    centroids: DataFrame,
    cells_path: str,
    pairs_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "vec",
    threshold: float = 0.3,
    n_buckets: int = 16,
    seq_col: str | None = None,
    refit_growth: float | None = None,
    centroids_path: str | None = None,
    fitted_on: int | None = None,
):
    """Attach the semantic-dedup state maintenance to a vector stream
    (availableNow trigger, as the other maintained indexes).

    **Stream-decided quantizer re-fit** (``refit_growth``): with
    ``refit_growth=2.0`` the loop itself invokes
    :func:`refit_semantic_state` whenever the stored corpus has grown
    ≥2× since the quantizer was last fitted — the production cadence
    BASELINE.md derives (refit at every doubling amortizes to O(√N)
    per ingested vector).  The quantizer then becomes part of the
    DURABLE state: ``centroids_path`` (required) holds the current
    centroid table with a ``fitted_n`` column recording the corpus
    size it was fitted on, published by ``sources/swap.py``.  On
    attach, a persisted quantizer WINS over the ``centroids`` argument,
    so a restarted stream continues with whatever re-fits already
    happened instead of silently reverting to the caller's stale book.

    Crash contract: the centroid swap happens AFTER
    :func:`refit_semantic_state`'s two state swaps, and ``fitted_n``
    only advances with it — a crash anywhere inside the refit leaves
    the trigger armed (stored n still ≥ growth × old fitted_n), so the
    next drained batch re-runs the refit, which is a full rebuild from
    the stored vectors and therefore converges regardless of which
    swaps landed.  Merges racing nothing: foreachBatch runs batches
    sequentially, and the refit executes inside the same callback,
    between merges.

    ``fitted_on``: corpus size the INITIAL ``centroids`` were fitted
    on.  Default derives ``centroids.count()**2`` — the inversion of
    the √N-cells sizing rule every quantizer here uses
    (``scaled_cell_params``) — so a deliberately stale book (few
    cells) triggers its first refit almost immediately, which is the
    correct production behavior.
    """
    if refit_growth is not None and centroids_path is None:
        raise ValueError("refit_growth requires centroids_path")
    if refit_growth is not None and refit_growth <= 1:
        # growth ≤ 1 would re-run the full O(N·√N) rebuild on EVERY
        # micro-batch — never the intended cadence.
        raise ValueError(
            f"refit_growth must be > 1 (got {refit_growth}): the refit "
            "triggers when stored_n >= refit_growth * fitted_n"
        )

    spark0 = stream_vecs.sparkSession
    # Mutable closure state: [centroid DataFrame, corpus size at fit].
    state = [centroids, fitted_on]
    if refit_growth is not None:
        if recover(centroids_path):
            persisted = spark0.read.parquet(centroids_path)
            if "fitted_n" not in persisted.columns:
                raise ValueError(
                    f"persisted centroid table at {centroids_path} has no "
                    "fitted_n column — not a maintain_semantic_dedup "
                    f"artifact (columns: {persisted.columns})"
                )
            head = persisted.select("fitted_n").head()
            if head is None:
                raise ValueError(
                    f"persisted centroid table at {centroids_path} is "
                    "empty — delete the directory to re-seed from the "
                    "centroids argument"
                )
            state[1] = head[0]
            state[0] = persisted.drop("fitted_n").localCheckpoint(eager=True)
        else:
            if state[1] is None:
                state[1] = int(centroids.count()) ** 2
            _persist_centroids(centroids, centroids_path, state[1])

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        upsert_semantic_pairs_batch(
            spark,
            batch_df,
            state[0],
            cells_path,
            pairs_path,
            id_col,
            vec_col,
            threshold,
            n_buckets,
            seq_col,
        )
        if refit_growth is None:
            return
        # metadata-only count (parquet row-group stats), never a scan
        n = spark.read.parquet(cells_path).count()
        if n >= refit_growth * state[1]:
            new_cents = refit_semantic_state(
                spark,
                cells_path,
                pairs_path,
                id_col,
                vec_col,
                threshold,
                n_buckets,
            )
            # quantizer + fitted_n advance LAST — see crash contract
            _persist_centroids(new_cents, centroids_path, n)
            state[0], state[1] = new_cents, n

    return start_foreach_batch(stream_vecs, merge, checkpoint)


def _persist_centroids(cents: DataFrame, path: str, fitted_n: int) -> None:
    """Atomically persist the centroid table with its ``fitted_n``
    sizing metadata (one swap, one table — no sidecar to race)."""
    out = cents.withColumn("fitted_n", F.lit(int(fitted_n)))
    swap_in(path, lambda staging: out.write.mode("overwrite").parquet(staging))


def refit_semantic_state(
    spark,
    cells_path: str,
    pairs_path: str,
    id_col: str = "vec_id",
    vec_col: str = "vec",
    threshold: float = 0.3,
    n_buckets: int = 16,
    keep_legacy_pairs: bool = False,
) -> DataFrame:
    """Re-fit the coarse quantizer to the CURRENT corpus size and
    migrate the maintained state — the production lever BASELINE.md
    names for an unbounded stream: with a quantizer frozen at size
    N₀, per-cell occupancy grows linearly in the ingested N and the
    batch×cell-members join trends quadratic; re-fitting at √N cells
    every corpus doubling keeps occupancy √N, so refit cost —
    O(N·√N) assignment + pair regeneration, the exact batch-pipeline
    cost — amortizes to O(√N) per ingested vector.

    Semantics: the state is rebuilt as a deterministic function of
    (stored corpus, new quantizer) — cells re-assign with the same
    strided √N quantizer the batch ``semantic_dedup_keep`` derives
    (``scaled_cell_params``; identical float64 sizing op), and the
    pair table is REGENERATED with the batch query's full pipeline:
    the exact-duplicate (xxhash64) collapse prepass — pairs run over
    one min-id rep per bitwise-identical group, members rejoin via
    explicit cos = 1.0 (rep, member) edges — then all intra-cell rep
    pairs ≥ ``threshold`` (sub-cell-capped like the batch query, so a
    pathological hot cell stays bounded, plus the same
    ``subcell_rep_pairs`` bridge so a split cell's cluster keeps one
    canonical).  With the default ``keep_legacy_pairs=False`` the
    state-derived (id, cluster, keep) — via
    :func:`semantic_clusters_from_state` — is row-identical to the
    batch ``semantic_dedup_keep`` run over the stored corpus (the pair
    TABLE itself additionally carries the member edges the batch query
    expresses as its member_map rejoin; the derived clusters are the
    contract).  Pinned by
    ``test_streaming_semantic_refit_matches_batch`` and, for the
    exact-dup-mass-in-a-split-cell path the round-10 advice flagged,
    ``test_streaming_semantic_refit_collapses_exact_dup_mass``.
    ``keep_legacy_pairs=True`` instead distinct-unions previously
    recorded pairs in: dedup evidence already found under the old
    quantizer survives even where the new one no longer co-locates it
    (a superset; clusters can only coarsen).

    Crash contract: both state dirs swap atomically and independently
    (``sources/swap.py``).  A crash BETWEEN the two swaps leaves new
    cells with old pairs — re-running the refit converges, because
    every derived artifact is a function of the (unchanged) stored
    vector set; the refit is idempotent by the same argument.
    Concurrency: run BETWEEN micro-batches (e.g. between availableNow
    drains, as the differential test does) — a merge racing the swap
    could read a half-migrated cell table.

    Returns the new centroid table [(cell_id, centroid)] — pass it to
    subsequent :func:`maintain_semantic_dedup` /
    :func:`upsert_semantic_pairs_batch` calls.
    """
    from tweets_spark_top_10_spark.functions.similarity import (
        ivf_centroids,
        scaled_cell_params,
        subcell_cap,
        subcell_split,
    )
    from tweets_spark_top_10_spark.sources.writers import write_partitioned

    recover(cells_path)
    recover(pairs_path)
    # Cut lineage to the live files BEFORE any swap: everything below
    # derives from this materialized snapshot, never from cells_path.
    corpus = (
        spark.read.parquet(cells_path)
        .select(id_col, vec_col)
        .localCheckpoint(eager=True)
    )
    n = corpus.count()
    n_cells, stride = scaled_cell_params(n)
    cap = subcell_cap(n, n_cells)
    cents = ivf_centroids(
        corpus, id_col, vec_col, n_cells, stride
    ).localCheckpoint(eager=True)
    # fan out before the N×k argmin (compact state parquet arrives as
    # few splits; at cluster scale the scan is already partitioned)
    spread = corpus.repartition(spark.sparkContext.defaultParallelism)
    assigned = (
        ivf_assign_cells(spread, cents, id_col, vec_col, n_probe=1)
        .withColumn("bucket", hash_bucket(id_col, n_buckets))
        .localCheckpoint(eager=True)
    )
    swap_in(
        cells_path,
        lambda staging: write_partitioned(assigned, staging, ["bucket"]),
    )
    # Exact-duplicate collapse prepass — the batch pipeline's (round-10
    # advice: without it, an exact-dup MASS counted uncollapsed can push
    # its cell over cap, split by id across sub-cells, and survive as s
    # canonicals where the batch query keeps one).  Pair generation runs
    # over one min-id representative per bitwise-identical vector group;
    # members rejoin through explicit (rep, member) edges — genuine
    # cos = 1.0 pairs, so the pair-table semantics is unchanged — which
    # is the state-form of the batch query's member_map rejoin: the CC
    # component label is the min id either way, because each rep IS its
    # group's min id.  The cells table above still stores EVERY vector
    # (it is the durable corpus; identical vectors assign identically),
    # only the pair pipeline collapses.
    fp = F.xxhash64(vec_col).alias("__fp")
    member_map = (
        corpus.select(F.col(id_col), fp)
        .join(
            corpus.select(fp, F.col(id_col))
            .groupBy("__fp")
            .agg(F.min(id_col).alias("rep")),
            "__fp",
        )
        .select(id_col, "rep")
        .localCheckpoint(eager=True)
    )
    rep_ids = member_map.filter(F.col(id_col) == F.col("rep")).select(id_col)
    # Pair regeneration: the batch pipeline's cell-blocked, sub-cell-
    # capped intra-cell self-join over the snapshot (reads the
    # checkpoint, not the just-swapped files).  Sub-cell occupancy is
    # counted over REPS, exactly as the batch query does.
    cells = subcell_split(
        assigned.select(id_col, vec_col, "cell_id").join(rep_ids, id_col),
        id_col,
        cap,
    ).repartition(spark.sparkContext.defaultParallelism, "cell_id", "sub_cell")
    a = cells.select(
        "cell_id",
        "sub_cell",
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        l2_norm(F.col(vec_col)).alias("na"),
    )
    b = cells.select(
        "cell_id",
        "sub_cell",
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        l2_norm(F.col(vec_col)).alias("nb"),
    )
    new_pairs = (
        a.join(b, ["cell_id", "sub_cell"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "__cos",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
            ),
        )
        .filter(F.col("__cos") >= threshold)
        .select("id_a", "id_b")
        .distinct()
    )
    # Rep-sampling bridge, exactly the batch query's: a split cell's
    # dropped cross-sub-cell pairs are represented by min-id rep links
    # (empty whenever no cell split, so this stays byte-identical to
    # the batch pipeline on balanced corpora too).
    from tweets_spark_top_10_spark.functions.similarity import (
        subcell_rep_pairs,
    )

    # Member edges close the collapse: every non-rep member links to its
    # rep (rep < member by min-id construction, so (rep, member) is
    # already in canonical (id_a < id_b) order).
    member_edges = member_map.filter(F.col(id_col) != F.col("rep")).select(
        F.col("rep").alias("id_a"), F.col(id_col).alias("id_b")
    )
    new_pairs = new_pairs.unionByName(
        subcell_rep_pairs(cells, id_col, vec_col, threshold=threshold)
    ).unionByName(member_edges).distinct()
    if keep_legacy_pairs and os.path.exists(pairs_path):
        new_pairs = (
            spark.read.parquet(pairs_path).unionByName(new_pairs).distinct()
        )
    swap_in(
        pairs_path,
        lambda staging: new_pairs.write.mode("overwrite").parquet(staging),
    )
    return cents


def semantic_clusters_from_state(
    spark,
    cells_path: str,
    pairs_path: str,
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, cluster, keep) from the maintained state: star-contraction
    CC over the stored pairs, every indexed id labeled (isolated ids
    are their own cluster and kept) — same contract as the batch
    ``semantic_dedup_keep`` query, which the differential test pins."""
    from tweets_spark_top_10_spark.functions.dedup import connected_components

    ids = spark.read.parquet(cells_path).select(F.col(id_col))
    if recover(pairs_path):
        comp = connected_components(spark.read.parquet(pairs_path))
    else:
        comp = ids.select(
            F.col(id_col).alias("node"), F.col(id_col).alias("component")
        ).limit(0)
    return (
        ids.join(comp, ids[id_col] == comp["node"], "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("cluster"),
            (F.coalesce("component", F.col(id_col)) == F.col(id_col)).alias(
                "keep"
            ),
        )
    )

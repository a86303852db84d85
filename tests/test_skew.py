"""AQE skew handling: a deliberately hot join key must be split by
adaptive skew-join optimization (the runtime half of the engine's skew
story; the compile-time half is the salted aggregation in
``salted_token_count_top20``)."""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F


def test_semantic_dedup_hot_cell_capped(spark, tmp_path):
    """Adversarial single-hot-cell corpus (round-8 verdict item 6): 90%
    of vectors are DISTINCT floats (so the exact-duplicate collapse
    cannot absorb them) yet so close to e0 that every cosine to every
    e0-direction centroid rounds to 1.0 at the 9-digit assignment
    precision — all 720 tie and the lowest cell id swallows them, the
    clustered-corpus pathology √N sizing can't prevent.  The sub-cell
    cap must (a) actually trigger (ceil(720/cap) = 7 sub-cells,
    bounding the pair join at ~cap² per sub-cell instead of 720²),
    (b) be healed by the rep-sampling bridge (round-9 verdict item 5:
    the per-sub-cell min-id representatives are themselves mutual
    near-dups, so their links must merge the split clique back into
    ONE cluster with ONE keep — dedup recall 1.0 on the hot mass,
    where the unbridged split kept s canonicals), and (c) replay
    exactly in the DuckDB oracle — cap and bridge are documented
    semantics, not Spark-side shortcuts."""
    from tests.oracle_harness import compare
    from tweets_spark_top_10_spark.functions.similarity import (
        scaled_cell_params,
        subcell_cap,
    )
    from tweets_spark_top_10_spark.queries import ORACLE, QUERIES

    n, dim = 800, 8

    def emb(i: int) -> list[float]:
        if i % 10 != 9:
            # 90%: distinct perturbations of e0.  delta <= 800*2e-8 =
            # 1.6e-5, so any two such vectors (and any vector vs any
            # hot centroid) have cosine >= 1 - delta^2/2 > 1 - 2e-10,
            # which rounds to 1.0 at BOTH the 9-digit assignment and
            # the 6-digit pair precision: deterministic ties, broken
            # by cell id / doc id identically in both engines.
            return [1.0, (i + 1) * 2e-8] + [0.0] * (dim - 2)
        j = 1 + (i // 10) % (dim - 1)
        return [0.0] * j + [1.0] + [0.0] * (dim - 1 - j)

    table = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "label": pa.array([i % 5 for i in range(n)], pa.int32()),
            "embedding": pa.array(
                [emb(i) for i in range(n)], pa.list_(pa.float32())
            ),
        }
    )
    pq.write_table(table, str(tmp_path / "embeddings.parquet"))

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet')"
    )
    try:
        df = QUERIES["semantic_dedup_keep"](spark, str(tmp_path))
        res = compare(df, con, ORACLE["semantic_dedup_keep"])
        assert res.ok, f"hot-cell oracle mismatch: {res.detail}"

        n_cells, _ = scaled_cell_params(n)
        cap = subcell_cap(n, n_cells)
        hot = 9 * n // 10
        s = (hot + cap - 1) // cap  # sub-cells the hot cell splits into
        assert s > 1, "fixture failed to exceed the cap — not adversarial"
        rows = {r.vec_id: (r.cluster, r.keep) for r in df.collect()}
        hot_ids = [i for i in range(n) if i % 10 != 9]
        hot_clusters = {rows[i][0] for i in hot_ids}
        # rep-sampling bridge: the split clique merges back into ONE
        # cluster rooted at the min hot id, with exactly one keep —
        # the unbridged cap left s clusters / s keeps here
        assert hot_clusters == {min(hot_ids)}, (hot_clusters, s, cap)
        assert sum(1 for i in hot_ids if rows[i][1]) == 1
    finally:
        con.close()
        spark.catalog.clearCache()


def test_aqe_splits_skewed_join(spark):
    confs = {
        # force a sort-merge join (broadcast would hide the skew)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # shrink AQE's skew thresholds so local-scale data triggers the
        # same split a 100x partition would at the defaults
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        # keep AQE from first coalescing the skew away
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        # apply the split even where it adds a downstream shuffle
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # 200k rows, 90% on key 0 → one partition ~25x the median
        fact = spark.range(200_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            (F.col("id") % 97).cast("double").alias("v"),
        )
        dim = spark.range(200_000).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
        )
        joined = fact.join(dim, "k").select("k", "v", "grp")
        # collect() finalizes THIS DataFrame's adaptive plan (count()
        # would execute a different QueryExecution)
        assert len(joined.collect()) == 200_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan
        assert "SortMergeJoin(skew=true)" in plan, (
            f"AQE did not split the skewed join:\n{plan}"
        )
        assert "AQEShuffleRead skewed" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

"""Johnson–Lindenstrauss random projection (functions/similarity.rp_project).

The catalog oracle replays the same sign matrix in DuckDB — a
shared-algorithm bug would pass both engines, so the independent gates
live here: (a) a pure-Python sequential-sum reference reproduces every
projected value EXACTLY (same md5 sign matrix, same fold order, same
round — no replay of Spark SQL involved), and (b) the projection
actually does its job: measured pairwise-distance distortion sits
inside the JL band for d_out=16. Plus the scale contract (map-only
plan) and the loud-failure contract (wrong-length vectors raise).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tweets_spark_top_10_spark.functions.similarity import (
    _rp_sign_matrix,
    brute_force_knn,
    ivf_knn,
    rp_array,
    rp_ivf_rerank_knn,
    rp_project,
)
from tweets_spark_top_10_spark.sources.registry import load_table

D_OUT, DIM = 16, 64


def _python_project(vec, signs):
    """Sequential left-to-right fold — the exact order Spark's
    ``aggregate`` uses, so doubles match bit-for-bit before the round."""
    out = []
    scale = math.sqrt(float(D_OUT))
    for j in range(D_OUT):
        acc = 0.0
        for p in range(DIM):
            acc = acc + float(vec[p]) * float(signs[j][p])
        out.append(round(acc / scale, 6))
    return out


def test_rp_matches_python_reference_exactly(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    got = {
        r["vec_id"]: [r[f"y{j}"] for j in range(D_OUT)]
        for r in rp_project(emb, "vec_id", d_out=D_OUT, dim=DIM).collect()
    }
    src = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    signs = _rp_sign_matrix(D_OUT, DIM)
    assert len(got) == len(src)
    for vid, vec in src.items():
        assert got[vid] == _python_project(vec, signs), vid


def test_rp_distance_distortion_inside_jl_band(spark, sf_dir):
    """|Px - Py|^2 / |x - y|^2 is chi^2(d_out)/d_out-distributed for a
    ±1 JL matrix; with d_out=16 the per-pair std is sqrt(2/16) ~ 0.35.
    Gates (fixture-measured at sf0.001, 4950 pairs: mean 1.0031,
    min 0.155, max 2.767): every pair inside [0.1, 5], sample mean
    inside [0.85, 1.15]."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").limit(100)
    rows = rp_project(emb, "vec_id", d_out=D_OUT, dim=DIM).collect()
    proj = {r["vec_id"]: np.array([r[f"y{j}"] for j in range(D_OUT)]) for r in rows}
    src = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb.collect()}
    ids = sorted(src)
    ratios = []
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            d2 = float(np.sum((src[ids[a]] - src[ids[b]]) ** 2))
            if d2 == 0:
                continue
            p2 = float(np.sum((proj[ids[a]] - proj[ids[b]]) ** 2))
            ratios.append(p2 / d2)
    assert ratios
    assert min(ratios) > 0.1 and max(ratios) < 5.0, (min(ratios), max(ratios))
    mean = sum(ratios) / len(ratios)
    assert 0.85 < mean < 1.15, mean


def test_rp_is_map_only(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    plan = (
        rp_project(emb, "vec_id", d_out=D_OUT, dim=DIM)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 0, plan
    assert "BatchEvalPython" not in plan, plan


def _qc(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    return q, c


def _pairs(df):
    return {(r.query_id, r.neighbor_id) for r in df.collect()}


def test_rp_ivf_rerank_recall_floor(spark, sf_dir):
    """The composed pipeline's value claim, gated at the CATALOG params
    (d_out=32, shortlist=50): project, probe the IVF index in the
    projected space, exact-rerank the shortlist in the original space —
    recall must hold the fixture-measured floor and must beat serving
    the projected-space IVF order directly (the rerank exists to repair
    JL distortion among survivors, the ``pq_adc_rerank`` template).

    Floor calibration (BASELINE.md round-14): the fixture embeddings
    are quasi-random — mean rank-5→rank-20 cosine gap 0.076 vs JL
    ranking noise ~1/sqrt(d_out) (0.18 at 32) — the theoretical worst
    case, measured 0.60 at 32/50 (vs 0.82 for 64-dim IVF, 0.20 at
    16/20).  Real clustered corpora sit far above this floor."""
    q, c = _qc(spark, sf_dir)
    exact = _pairs(brute_force_knn(q, c, k=5))
    rr = _pairs(rp_ivf_rerank_knn(q, c, k=5, d_out=32, shortlist=50))
    recall = len(exact & rr) / len(exact)

    proj_only = _pairs(
        ivf_knn(
            rp_array(q, "query_id", d_out=32),
            rp_array(c, "neighbor_id", d_out=32),
            k=5,
            vec_col="rp_vec",
            n_cells=16,
            n_probe=4,
        )
    )
    recall_proj = len(exact & proj_only) / len(exact)
    # fixture-measured (sf0.001): rerank 0.60, projected-only 0.36
    assert recall > recall_proj, (recall, recall_proj)
    assert recall >= 0.5, (recall, recall_proj)


def test_rp_ivf_rerank_clustered_recall_floor(spark, sf_dir):
    """The CLUSTERED-geometry floor (round-14 verdict item 4): the
    quasi-random fixture is the JL worst case (rank-5→20 cosine gap
    0.076, inside the projection's ranking noise), where the pipeline
    measures 0.60 at 32/50.  On clustered geometry — every base vector
    expanded into a 10-member cluster (``tests/datagen.
    clustered_corpus``, deterministic eps-shift members; intra-cluster
    cosine ~0.989, cross-cluster ~quasi-random) — the gap dwarfs the
    noise and the operator's actual selling point shows: measured
    recall@5 is 1.0 at BOTH d_out=16/20 and 32/50 (sf0.001 fixture and
    the 10x sf0.1 probe alike).  Pinned at >= 0.9 to absorb float-edge
    drift while staying far above the worst-case 0.60."""
    from tests.datagen import clustered_corpus

    corpus = clustered_corpus(spark, sf_dir, replicas=10).localCheckpoint(
        eager=True
    )
    q = corpus.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = corpus.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    exact = _pairs(brute_force_knn(q, c, k=5))
    for d_out, shortlist in ((16, 20), (32, 50)):
        got = _pairs(
            rp_ivf_rerank_knn(q, c, k=5, d_out=d_out, shortlist=shortlist)
        )
        recall = len(exact & got) / len(exact)
        assert recall >= 0.9, (d_out, shortlist, recall)


def test_rp_ivf_rerank_plan_stays_jvm_and_equijoin(spark, sf_dir):
    """Scale contract: no Python in the plan, and the only nested-loop
    shapes are the broadcast-tiny centroid scorings — the corpus-sized
    joins (cell probe, id rerank) are all equi-joins."""
    q, c = _qc(spark, sf_dir)
    plan = (
        rp_ivf_rerank_knn(q, c, k=5, d_out=32, shortlist=50)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_rp_wrong_length_raises_and_zero_projects_to_zero(spark):
    df = spark.createDataFrame(
        [(0, [0.0] * DIM), (1, [1.0] * DIM)], "id long, embedding array<double>"
    )
    rows = {r["id"]: r for r in rp_project(df, "id", d_out=D_OUT, dim=DIM).collect()}
    assert all(rows[0][f"y{j}"] == 0.0 for j in range(D_OUT))

    bad = spark.createDataFrame(
        [(2, [1.0] * (DIM - 1))], "id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="vector length"):
        rp_project(bad, "id", d_out=D_OUT, dim=DIM).collect()

    # NULL embedding: size(NULL) != dim is NULL, which would otherwise
    # select the project branch and emit an all-NULL row silently
    nul = spark.createDataFrame(
        [(3, None)], "id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="got NULL"):
        rp_project(nul, "id", d_out=D_OUT, dim=DIM).collect()

    with pytest.raises(ValueError, match="d_out"):
        rp_project(df, "id", d_out=0, dim=DIM)

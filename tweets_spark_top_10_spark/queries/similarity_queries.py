"""Embedding similarity queries over the ``embeddings`` table.

[EXT] surface. All vector math is cast to double on BOTH engines before
accumulating, and similarities are rounded to 6 digits before ranking,
so ordering is deterministic and engine-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tweets_spark_top_10_spark.functions.cachectl import persist_tracked
from tweets_spark_top_10_spark.functions.spread import spread_scan
from tweets_spark_top_10_spark.functions.similarity import (
    brute_force_knn,
    ivf_knn,
    l2_norm,
    lsh_knn,
    rp_ivf_rerank_knn,
    rp_project,
    srp_knn,
)
from tweets_spark_top_10_spark.queries.registry import register
from tweets_spark_top_10_spark.sources.registry import load_table

_DOUBLE_VEC = "list_transform(embedding, x -> CAST(x AS DOUBLE))"


@register(
    "embedding_norms",
    oracle=f"""
    SELECT vec_id,
           ROUND(sqrt(list_dot_product({_DOUBLE_VEC}, {_DOUBLE_VEC})), 6)
             AS l2_norm
    FROM embeddings
    """,
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norm per embedding via codegen'd aggregate/zip_with - the vector-math primitive everything else builds on."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", F.round(l2_norm(F.col("embedding")), 6).alias("l2_norm")
    )


@register(
    "knn_cosine_top5",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, {_DOUBLE_VEC} AS v FROM embeddings
      WHERE vec_id < 10
    ), c AS (
      SELECT vec_id AS neighbor_id, {_DOUBLE_VEC} AS v FROM embeddings
      WHERE vec_id >= 10
    ), scored AS (
      SELECT q.query_id, c.neighbor_id,
             ROUND(list_dot_product(q.v, c.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(c.v, c.v))), 6) AS cos_sim
      FROM q CROSS JOIN c
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
      ) AS BIGINT) AS rank
      FROM scored
    ) t WHERE rank <= 5
    """,
)
def knn_cosine_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force kNN: broadcast 10 query vectors, stream the
    candidate table, per-query top-5 via row_number on rounded cosine."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # spread_scan (r16): candidate-side per-row scoring otherwise runs
    # in the fixture's single scan split; no-op at cluster scale.
    cands = spread_scan(
        emb.filter(F.col("vec_id") >= 10).select(
            F.col("vec_id").alias("neighbor_id"), "embedding"
        )
    )
    return brute_force_knn(queries, cands, k=5)


@register(
    "label_centroids",
    oracle=f"""
    WITH expanded AS (
      SELECT label,
             unnest({_DOUBLE_VEC}) AS val,
             unnest(range(0, len(embedding))) AS pos
      FROM embeddings
    )
    SELECT label, CAST(pos AS BIGINT) AS pos, ROUND(AVG(val), 6) AS avg_val
    FROM expanded
    GROUP BY label, pos
    """,
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid in long format (label, dim, mean). posexplode →
    group by (label, pos): one shuffle, 64×|labels| output rows. This is
    the vector-aggregate building block for IVF coarse quantizers."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label",
            F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
                "pos", "val"
            ),
        )
        .groupBy("label", F.col("pos").cast("long").alias("pos"))
        .agg(F.round(F.avg("val"), 6).alias("avg_val"))
    )


@register(
    "embedding_near_dup_pairs",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, {_DOUBLE_VEC} AS vec FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.vec, b.vec)
             / (sqrt(list_dot_product(a.vec, a.vec))
                * sqrt(list_dot_product(b.vec, b.vec))), 6) AS cos_sim
    FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.vec, b.vec)
          / (sqrt(list_dot_product(a.vec, a.vec))
             * sqrt(list_dot_product(b.vec, b.vec))) >= 0.3
    """,
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, blocked: candidate pairs come from an
    equi-join on the blocking key (label — standing in for an IVF cell
    id), never a full cross join. The 100 TB shape: assign cells via a
    broadcast centroid argmin, then this exact same blocked self-join."""
    from tweets_spark_top_10_spark.functions.similarity import dot, l2_norm

    # spread_scan (r16): both join sides' norm projections and their
    # shuffle WRITES otherwise run in the fixture's single scan split
    # (profiled: sum of job durations ~= wall, i.e. one-core execution);
    # a no-op at cluster scale.
    emb = spread_scan(load_table(spark, sf_dir, "embeddings"))
    # Norms are per-ROW quantities: compute them once on the n rows
    # before the join, not on the O(n^2/labels) pairs after it.  The
    # arithmetic (double accumulate -> sqrt -> divide) is identical to
    # the inline form, so oracle parity is preserved exactly.
    a = emb.select(
        F.col("label"),
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        l2_norm(F.col("embedding")).alias("na"),
    )
    b = emb.select(
        F.col("label"),
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        l2_norm(F.col("embedding")).alias("nb"),
    )
    return (
        a.join(b, "label")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "__cos", dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        )
        .filter(F.col("__cos") >= 0.3)
        .select("id_a", "id_b", F.round("__cos", 6).alias("cos_sim"))
    )


@register(
    "embedding_quantize_int8",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, {_DOUBLE_VEC} AS vec FROM embeddings
    ), scaled AS (
      SELECT vec_id, vec,
             list_max(list_transform(vec, x -> abs(x))) AS mx
      FROM v
    )
    SELECT vec_id,
           ROUND(127.0 / mx, 6) AS scale,
           array_to_string(
             list_transform(vec, x -> CAST(floor(x * (127.0 / mx)) AS INT)), ',')
             AS codes
    FROM scaled WHERE mx > 0
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization per vector (the storage/bandwidth
    shrink for billion-vector ANN: 4x smaller than float32, codes
    dot-product-able with the scale factor).  ``floor`` (not round) so
    the code assignment is unambiguous across engines.  Codes are
    emitted ','-joined: the driver's pandas canonicalizer cannot hash
    raw array cells."""
    emb = load_table(spark, sf_dir, "embeddings")
    vec = F.transform("embedding", lambda x: x.cast("double"))
    scaled = emb.select(
        "vec_id",
        vec.alias("vec"),
        F.array_max(F.transform(vec, F.abs)).alias("mx"),
    ).filter(F.col("mx") > 0)
    scale = F.lit(127.0) / F.col("mx")
    return scaled.select(
        "vec_id",
        F.round(scale, 6).alias("scale"),
        F.array_join(
            F.transform("vec", lambda x: F.floor(x * scale).cast("int")), ","
        ).alias("codes"),
    )


_COS = (
    "ROUND(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), {d})"
)


@register(
    "ivf_knn_top5",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, {_DOUBLE_VEC} AS vec FROM embeddings
    ), cand AS (
      SELECT vec_id AS neighbor_id, vec FROM v WHERE vec_id >= 10
    ), q AS (
      SELECT vec_id AS query_id, vec FROM v WHERE vec_id < 10
    ), cents AS (
      SELECT CAST(neighbor_id // 97 AS INT) AS cell_id,
             vec AS centroid
      FROM cand
      WHERE neighbor_id % 97 = 0 AND neighbor_id // 97 BETWEEN 1 AND 16
    ), cand_cells AS (
      SELECT neighbor_id, vec, cell_id FROM (
        SELECT c.neighbor_id, c.vec, ct.cell_id,
               ROW_NUMBER() OVER (
                 PARTITION BY c.neighbor_id
                 ORDER BY {_COS.format(a='c.vec', b='ct.centroid', d=9)} DESC,
                          ct.cell_id ASC) AS r
        FROM cand c CROSS JOIN cents ct
      ) WHERE r <= 1
    ), query_cells AS (
      SELECT query_id, vec, cell_id FROM (
        SELECT q.query_id, q.vec, ct.cell_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {_COS.format(a='q.vec', b='ct.centroid', d=9)} DESC,
                          ct.cell_id ASC) AS r
        FROM q CROSS JOIN cents ct
      ) WHERE r <= 4
    ), scored AS (
      SELECT qc.query_id, cc.neighbor_id,
             {_COS.format(a='qc.vec', b='cc.vec', d=6)} AS cos_sim
      FROM cand_cells cc JOIN query_cells qc ON cc.cell_id = qc.cell_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC
      ) AS BIGINT) AS rank
      FROM scored
    ) t WHERE rank <= 5
    """,
)
def ivf_knn_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN (deterministic coarse quantizer + n_probe=4 +
    exact rerank).  Unusually for an ANN op, every stage is
    deterministic, so it carries a full value oracle rather than the
    weaker rows-only gate."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # spread_scan (r16): candidate-side per-row scoring otherwise runs
    # in the fixture's single scan split; no-op at cluster scale.
    cands = spread_scan(
        emb.filter(F.col("vec_id") >= 10).select(
            F.col("vec_id").alias("neighbor_id"), "embedding"
        )
    )
    return ivf_knn(queries, cands, k=5, n_cells=16, n_probe=4)


@register(
    "lsh_knn_top5",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, {_DOUBLE_VEC} AS vec FROM embeddings
    ), q8 AS (
      SELECT vec_id,
             list_transform(vec, x -> CAST(floor(x * 127.0 / mx) AS INT))
               AS codes
      FROM (
        SELECT vec_id, vec,
               list_max(list_transform(vec, x -> abs(x))) AS mx
        FROM v
      ) s
      WHERE mx > 0
    ), hp AS (
      SELECT CAST(i // 512 AS INT) AS t,
             CAST((i // 64) % 8 AS INT) AS j,
             CAST(i % 64 AS INT) AS p,
             CASE WHEN (('0x' || substr(md5(
                    (i // 512) || '_' || ((i // 64) % 8) || '_' || (i % 64)
                  ), 1, 1))::INT & 1) = 1
                  THEN 1 ELSE -1 END AS s
      FROM (SELECT unnest(range(4096)) AS i)
    ), ex AS (
      SELECT vec_id, CAST(pp.p AS INT) AS p, codes[CAST(pp.p AS INT) + 1] AS c
      FROM q8 CROSS JOIN (SELECT unnest(range(64)) AS p) pp
    ), bits AS (
      SELECT ex.vec_id, hp.t, hp.j, SUM(ex.c * hp.s) AS dot
      FROM ex JOIN hp ON hp.p = ex.p
      GROUP BY ex.vec_id, hp.t, hp.j
    ), bands AS (
      SELECT vec_id, t,
             SUM(CASE WHEN dot > 0 THEN CAST(1 << j AS BIGINT)
                      ELSE CAST(0 AS BIGINT) END) AS band
      FROM bits GROUP BY vec_id, t
    ), pairs AS (
      SELECT DISTINCT qa.vec_id AS query_id, ca.vec_id AS neighbor_id
      FROM bands qa JOIN bands ca ON qa.t = ca.t AND qa.band = ca.band
      WHERE qa.vec_id < 10 AND ca.vec_id >= 10
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT p.query_id, p.neighbor_id,
             {_COS.format(a="qv.vec", b="cv.vec", d=6)} AS cos_sim,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY p.query_id
               ORDER BY {_COS.format(a="qv.vec", b="cv.vec", d=6)} DESC,
                        p.neighbor_id
             ) AS BIGINT) AS rank
      FROM pairs p
      JOIN v qv ON qv.vec_id = p.query_id
      JOIN v cv ON cv.vec_id = p.neighbor_id
    ) t WHERE rank <= 5
    """,
)
def lsh_knn_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN under a FULL value oracle (was rows-only — r5 verdict
    #7): deterministic sign-random-projection banding + exact cosine
    rerank (``functions/similarity.srp_knn``).

    The "random" hyperplanes are ±1 vectors from md5 parity of
    "t_j_p", and the banded bits are signs of INTEGER dot products
    over per-row int8-quantized codes (the ``embedding_quantize_int8``
    contract) — so DuckDB replays quantization, hyperplanes, banding,
    candidate generation, and the rounded-cosine rerank exactly.  The
    seeded ``pyspark.ml`` BucketedRandomProjectionLSH path remains
    available as ``functions/similarity.lsh_knn`` under the
    ``lsh_knn_invariants`` rank-dominance value gate."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # NOT spread_scan-fanned (r17, adjudicating the r16 driver
    # regression): srp_knn's first operator over the candidates is the
    # banding AGGREGATE (map-side combining), so the conditional
    # fan-out exchange cost more than the parallelism bought — the same
    # decision rule as the BPE word table.  Interleaved on/off min-of-4:
    # 2.41 s spread vs 1.91 s unspread.
    cands = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    return srp_knn(queries, cands, k=5)


# L2-normalized double vectors: PQ approximates squared L2, and on unit
# vectors L2^2 = 2 - 2*cos, so ADC ranking tracks the cosine ranking the
# rest of the similarity family uses.  16 subspaces x 4 dims, codebook =
# every 7th candidate (codes 1..128) — the deterministic stand-in for an
# offline k-means fit, replayed exactly by the oracle.
_NORM_VEC = (
    "list_transform(embedding, x -> CAST(x AS DOUBLE) / "
    f"sqrt(list_dot_product({_DOUBLE_VEC}, {_DOUBLE_VEC})))"
)

# Unrolled squared-L2 over 4-dim subvectors — textually the SAME
# left-associated term order the Spark side codegens (l2_sq_unrolled),
# so doubles round-trip bit-identically.
_L2SQ4 = " + ".join(
    f"({{a}}[{i}] - {{b}}[{i}]) * ({{a}}[{i}] - {{b}}[{i}])" for i in range(1, 5)
)

_PQ_CB = f"""
    ms AS (SELECT unnest(range(16)) AS m),
    cb AS (
      SELECT ms.m, CAST(c.neighbor_id // 7 AS INT) AS code,
             c.vec[ms.m * 4 + 1 : ms.m * 4 + 4] AS sub_c
      FROM cand c CROSS JOIN ms
      WHERE c.neighbor_id % 7 = 0 AND c.neighbor_id // 7 BETWEEN 1 AND 128
    ), sub AS (
      SELECT c.neighbor_id, ms.m,
             c.vec[ms.m * 4 + 1 : ms.m * 4 + 4] AS sub_v
      FROM cand c CROSS JOIN ms
    ), codes AS (
      SELECT neighbor_id, m, code FROM (
        SELECT s.neighbor_id, s.m, cb.code,
               ROW_NUMBER() OVER (
                 PARTITION BY s.neighbor_id, s.m
                 ORDER BY ROUND({_L2SQ4.format(a='s.sub_v', b='cb.sub_c')}, 9) ASC,
                          cb.code ASC) AS r
        FROM sub s JOIN cb ON s.m = cb.m
      ) WHERE r = 1
    )"""


def _normed(emb: DataFrame, id_alias: str, lo: int, hi: int | None) -> DataFrame:
    """(id_alias, embedding): L2-normalized double vectors for one side
    of the PQ queries (same arithmetic as the _NORM_VEC oracle macro)."""
    cond = (
        (F.col("vec_id") >= lo)
        if hi is None
        else ((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
    )
    n = l2_norm(F.col("embedding"))
    return emb.filter(cond).select(
        F.col("vec_id").alias(id_alias),
        F.transform("embedding", lambda x: x.cast("double") / n).alias(
            "embedding"
        ),
    )


@register(
    "pq_codes",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, {_NORM_VEC} AS vec FROM embeddings
    ), cand AS (
      SELECT vec_id AS neighbor_id, vec FROM v WHERE vec_id >= 10
    ),{_PQ_CB}
    SELECT neighbor_id, m, code FROM codes
    """,
)
def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode (functions/pq.py): 64-dim normalized
    vectors -> 16 subspace codes against deterministic strided
    codebooks, long format (neighbor_id, m, code).  The argmin, the
    codebook sampling, and the tie-break are all deterministic, so the
    encode carries a FULL value oracle — rare for a compression step.
    128 codes/subspace here; the shape is K<=256 (one byte per code) at
    scale — 16 bytes per 256-byte float32 vector."""
    from tweets_spark_top_10_spark.functions.pq import pq_codebook, pq_encode

    emb = load_table(spark, sf_dir, "embeddings")
    # Single-file local parquet -> 1 partition; spread the encode join
    # (|cands| x 16 subspaces x K codebook rows) across cores.  At scale
    # the source is many-partitioned and this is a no-op cost.
    cands = _normed(emb, "neighbor_id", 10, None).repartition(
        spark.sparkContext.defaultParallelism, "neighbor_id"
    )
    cb = pq_codebook(cands)
    return pq_encode(cands, cb, "neighbor_id").select(
        "neighbor_id", F.col("m").cast("long").alias("m"), "code"
    )


@register(
    "pq_adc_top5",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, {_NORM_VEC} AS vec FROM embeddings
    ), cand AS (
      SELECT vec_id AS neighbor_id, vec FROM v WHERE vec_id >= 10
    ), q AS (
      SELECT vec_id AS query_id, vec FROM v WHERE vec_id < 10
    ),{_PQ_CB},
    lut AS (
      SELECT qs.query_id, qs.m, cb.code,
             {_L2SQ4.format(a='qs.sub_v', b='cb.sub_c')} AS lut_d2
      FROM (
        SELECT q.query_id, ms.m,
               q.vec[ms.m * 4 + 1 : ms.m * 4 + 4] AS sub_v
        FROM q CROSS JOIN ms
      ) qs JOIN cb ON qs.m = cb.m
    ), approx AS (
      SELECT l.query_id, c.neighbor_id, ROUND(SUM(l.lut_d2), 6) AS approx_d2
      FROM codes c JOIN lut l ON l.m = c.m AND l.code = c.code
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, approx_d2, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY approx_d2 ASC, neighbor_id ASC
      ) AS BIGINT) AS rank
      FROM approx
    ) WHERE rank <= 5
    """,
)
def pq_adc_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC approximate top-5 (functions/pq.py): candidates scanned as
    16 one-byte codes each, per-candidate distance = SUM of 16
    broadcast-LUT entries — no full-width vector math on the scan side.
    Vectors are L2-normalized first so ADC's L2^2 ranking tracks the
    cosine ranking (L2^2 = 2 - 2cos on unit vectors).  Fully
    deterministic (rounded distances, id tie-breaks), so it carries a
    FULL value oracle; recall vs the exact scan is pytest-gated
    (tests/test_pq.py)."""
    from tweets_spark_top_10_spark.functions.pq import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = _normed(emb, "query_id", 0, 10)
    cands = _normed(emb, "neighbor_id", 10, None).repartition(
        spark.sparkContext.defaultParallelism, "neighbor_id"
    )
    return pq_adc_topk(queries, cands, k=5)


def _pq_cache_root() -> "Path":
    """Per-USER cache root for prebuilt indexes: ``$XDG_CACHE_HOME`` or
    ``~/.cache``, mode 0700, ownership-verified.  NOT the shared system
    temp dir — there another user could pre-create the predictable path
    with a ``_SUCCESS`` file and every ``*_prebuilt`` query would
    silently serve attacker-controlled codes (round-7 advisor finding).
    The hardening now lives ONCE in ``sources.cache.user_cache_dir``
    (shared with the bucketed-table cache); this wrapper keeps the
    established namespace."""
    from tweets_spark_top_10_spark.sources.cache import user_cache_dir

    return user_cache_dir("spark_graft_pq_index")


def _pq_index_dir(sf_dir: str) -> "Path":
    """Deterministic on-disk location for the prebuilt indexes of one
    scale factor.  The directory name embeds a fingerprint of the
    source embeddings parquet (sizes + mtimes of its data files, via
    ``sources.cache.fingerprint_paths`` — byte-identical digest inputs
    to the original inline implementation, so existing cache entries
    stay valid), so a REGENERATED corpus at the same path gets a fresh
    index instead of silently serving stale codes — the failure mode
    that would otherwise poison every ``*_prebuilt`` result."""
    from pathlib import Path

    from tweets_spark_top_10_spark.sources.cache import fingerprint_paths

    src = Path(sf_dir) / "embeddings.parquet"
    return _pq_cache_root() / (
        f"sg_pq_index_{Path(sf_dir).name}_{fingerprint_paths(src)}"
    )


def _publish_index_kind(staging: "Path", kind_dir: "Path") -> None:
    """Atomically promote a fully-built index (ALL of one kind's part
    dirs, built together under ``staging``) to ``kind_dir`` with a
    SINGLE directory rename.  One rename per kind — not per part —
    because per-part publishing could pair one builder's codebook with
    another's codes if a crash interleaved with a rebuild under
    different parallelism (round-8 review finding); a whole-kind rename
    makes mixed halves structurally impossible.  Concurrent builders
    race benignly: rename refuses to replace an existing non-empty
    dir, so exactly one wins and losers discard their copy."""
    import os
    import shutil

    kind_dir.parent.mkdir(mode=0o700, exist_ok=True)
    try:
        os.rename(staging, kind_dir)
    except OSError:
        shutil.rmtree(staging, ignore_errors=True)
        if not kind_dir.exists():
            raise  # loser must find a complete winner, not nothing


def ensure_pq_index(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build-once the PQ index tables (codebook: (m, code, sub_centroid);
    codes: (neighbor_id, m, code)) and return their parquet paths.

    This is the offline half of the production split: index
    construction amortizes across queries, so query latency measures
    the ADC scan alone.  Deterministic (strided seed codebook, rounded-distance
    encode), so rebuilds are byte-stable and the value oracle is the
    same as ``pq_adc_top5``'s."""
    from tweets_spark_top_10_spark.functions.pq import (
        pq_codebook,
        pq_codes_wide,
        pq_encode,
    )

    kind = _pq_index_dir(sf_dir) / "pq"
    cb_path, codes_path = str(kind / "codebook"), str(kind / "codes_wide")
    if not ((kind / "codebook" / "_SUCCESS").exists()
            and (kind / "codes_wide" / "_SUCCESS").exists()):
        staging = kind.parent / f".stage_pq_{os.getpid()}"
        emb = load_table(spark, sf_dir, "embeddings")
        cands = _normed(emb, "neighbor_id", 10, None).repartition(
            spark.sparkContext.defaultParallelism, "neighbor_id"
        )
        cb = pq_codebook(cands)
        cb.write.mode("overwrite").parquet(str(staging / "codebook"))
        # encode against the stored copy
        cb = spark.read.parquet(str(staging / "codebook"))
        pq_codes_wide(pq_encode(cands, cb, "neighbor_id")).write.mode(
            "overwrite"
        ).parquet(str(staging / "codes_wide"))
        _publish_index_kind(staging, kind)
    return cb_path, codes_path


@register(
    "pq_adc_top5_prebuilt",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, {_NORM_VEC} AS vec FROM embeddings
    ), cand AS (
      SELECT vec_id AS neighbor_id, vec FROM v WHERE vec_id >= 10
    ), q AS (
      SELECT vec_id AS query_id, vec FROM v WHERE vec_id < 10
    ),{_PQ_CB},
    lut AS (
      SELECT qs.query_id, qs.m, cb.code,
             {_L2SQ4.format(a='qs.sub_v', b='cb.sub_c')} AS lut_d2
      FROM (
        SELECT q.query_id, ms.m,
               q.vec[ms.m * 4 + 1 : ms.m * 4 + 4] AS sub_v
        FROM q CROSS JOIN ms
      ) qs JOIN cb ON qs.m = cb.m
    ), approx AS (
      SELECT l.query_id, c.neighbor_id, ROUND(SUM(l.lut_d2), 6) AS approx_d2
      FROM codes c JOIN lut l ON l.m = c.m AND l.code = c.code
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, approx_d2, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY approx_d2 ASC, neighbor_id ASC
      ) AS BIGINT) AS rank
      FROM approx
    ) WHERE rank <= 5
    """,
)
def pq_adc_top5_prebuilt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC top-5 against a PREBUILT index (round-6 verdict item 3):
    codebook + wide codes are materialized parquet
    (:func:`ensure_pq_index`, built at most once per scale factor), so
    this query pays what a production serving path pays — the per-query
    LUT is computed on the query node from the tiny stored codebook,
    broadcast, and the scan is ONE pass over (candidate, 16-byte codes)
    rows doing array lookups, with a single shuffle for the per-query
    top-5 (``functions/pq.pq_adc_serving_topk``).  No vector is touched
    on the scan side and no codebook training happens at query time;
    values are identical to ``pq_adc_top5`` (same deterministic index),
    hence the same full oracle."""
    from tweets_spark_top_10_spark.functions.pq import pq_adc_serving_topk

    cb_path, codes_path = ensure_pq_index(spark, sf_dir)
    # The collected codebook is index METADATA a serving node caches
    # once (m*n_codes rows); re-collecting it per query would bill an
    # extra Spark job to every request for bytes that never change.
    rows = _cached_rows(spark, cb_path)
    return pq_adc_serving_topk(
        spark,
        query_vecs=_query_batch(sf_dir),
        codebook_rows=rows,
        codes_wide=spark.read.parquet(codes_path),
        k=5,
    )


_CODEBOOK_ROWS: dict[str, list] = {}


def _cached_rows(spark: SparkSession, path: str) -> list:
    """Collect-and-cache small index-metadata tables (codebooks,
    centroids, permutations) keyed by their fingerprinted path.
    Bounded: corpus regeneration mints new fingerprints, so old entries
    are evicted once the cache holds more than a handful of tables."""
    rows = _CODEBOOK_ROWS.get(path)
    if rows is None:
        if len(_CODEBOOK_ROWS) > 16:
            _CODEBOOK_ROWS.clear()
        rows = _CODEBOOK_ROWS[path] = spark.read.parquet(path).collect()
    return rows


def ensure_opq_index(spark: SparkSession, sf_dir: str) -> tuple[str, str, str]:
    """Build-once the OPQ index artifacts — permutation (64 metadata
    rows), one-Lloyd-refined codebook in the permuted space, wide codes
    — and return their parquet paths.  The offline half of
    ``opq_adc_top5_prebuilt``; everything is deterministic (variance
    snake, rounded Lloyd, rounded-distance encode), so rebuilds are
    byte-stable and the value oracle is ``pq_adc_opq_top5``'s."""
    from tweets_spark_top_10_spark.functions.pq import (
        apply_permutation,
        opq_permutation,
        pq_codebook,
        pq_codebook_refine,
        pq_codes_wide,
        pq_encode,
    )

    kind = _pq_index_dir(sf_dir) / "opq"
    parts = ("opq_perm", "opq_codebook", "opq_codes_wide")
    paths = {n: str(kind / n) for n in parts}
    if not all((kind / n / "_SUCCESS").exists() for n in parts):
        staging = kind.parent / f".stage_opq_{os.getpid()}"
        emb = load_table(spark, sf_dir, "embeddings")
        c0 = _normed(emb, "neighbor_id", 10, None)
        perm = opq_permutation(c0).localCheckpoint(eager=False)
        perm.write.mode("overwrite").parquet(str(staging / "opq_perm"))
        perm = spark.read.parquet(str(staging / "opq_perm"))
        cands = apply_permutation(c0, "neighbor_id", perm).repartition(
            spark.sparkContext.defaultParallelism, "neighbor_id"
        ).transform(persist_tracked)
        refined = pq_codebook_refine(cands, pq_codebook(cands))
        refined.write.mode("overwrite").parquet(str(staging / "opq_codebook"))
        refined = spark.read.parquet(str(staging / "opq_codebook"))
        pq_codes_wide(pq_encode(cands, refined, "neighbor_id")).write.mode(
            "overwrite"
        ).parquet(str(staging / "opq_codes_wide"))
        _publish_index_kind(staging, kind)
    return paths["opq_perm"], paths["opq_codebook"], paths["opq_codes_wide"]


def _query_batch(sf_dir: str, lo: int = 0, hi: int = 10) -> list:
    """The 10 fixture query vectors, L2-normalized in plain float64 —
    loaded at the query node (in serving, queries ARRIVE there; no
    Spark job reads them).  The accumulation is the same left-to-right
    float64 chain ``_normed``'s ``l2_norm`` codegens, so the values
    match the cluster-side path bit-for-bit."""
    import pyarrow.parquet as pq_reader

    tbl = pq_reader.read_table(
        f"{sf_dir}/embeddings.parquet",
        columns=["vec_id", "embedding"],
        filters=[("vec_id", ">=", lo), ("vec_id", "<", hi)],
    )
    out = []
    for qid, emb in zip(tbl["vec_id"].to_pylist(), tbl["embedding"].to_pylist()):
        vec = [float(x) for x in emb]
        n2 = 0.0
        for x in vec:
            n2 += x * x
        n = n2**0.5
        out.append((qid, [x / n for x in vec]))
    return out


@register(
    "lsh_knn_invariants",
    oracle="""
    SELECT vec_id AS query_id,
           CAST(5 AS BIGINT) AS n_found,
           TRUE AS dominance_ok
    FROM embeddings WHERE vec_id < 10
    """,
)
def lsh_knn_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible invariant gate for the (seed-dependent) LSH ANN.

    The bucketed-projection top-5 itself is not SQL-replayable, but two
    of its guarantees are: every query must surface a full top-5 (the
    OR-ed hash tables cover the fixture candidates), and the LSH
    distance at rank r can never be SMALLER than the exact rank-r
    distance — an approximate index can only do worse-or-equal than the
    exhaustive scan.  A violation means the rerank sorts wrong or the
    distance is computed wrong, the two failure modes the sketch
    actually has.  The exact side is computed in-query (same plan as
    brute force) and the oracle asserts the invariant per query."""
    from tweets_spark_top_10_spark.functions.pq import l2_sq

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # NOT spread_scan-fanned (r17, adjudicating the r16 driver
    # regression): the candidates feed the ml LSH fit/transform and a
    # broadcast cross join whose own stages already parallelize, and
    # the added exchange measured as a net loss — interleaved on/off
    # min-of-4: 2.32 s spread vs 1.84 s unspread.
    cands = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    lsh = lsh_knn(queries, cands, k=5).select(
        "query_id", "rank", F.col("l2_dist").alias("lsh_dist")
    )
    d = F.sqrt(l2_sq(F.col("__qv"), F.col("__cv")))
    exact = (
        cands.select(F.col("neighbor_id"), F.col("embedding").alias("__cv"))
        .crossJoin(
            F.broadcast(
                queries.select(
                    F.col("query_id"), F.col("embedding").alias("__qv")
                )
            )
        )
        .select("query_id", "neighbor_id", d.alias("exact_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("exact_dist"), F.asc("neighbor_id")
    )
    exact_topk = (
        exact.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "rank", "exact_dist")
    )
    joined = lsh.join(exact_topk, ["query_id", "rank"])
    return joined.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_found"),
        F.min(
            F.col("lsh_dist") >= F.col("exact_dist") - F.lit(1e-6)
        ).alias("dominance_ok"),
    )


# Shared oracle tail for the Lloyd-refined ADC pipelines: assumes CTEs
# ``cand(neighbor_id, vec)`` and ``q(query_id, vec)`` are in scope; runs
# seed codebook -> one Lloyd iteration (rounded means) -> re-encode ->
# LUT -> ADC rank.  Used verbatim by pq_adc_lloyd_top5 (identity space)
# and pq_adc_opq_top5 (permuted space).  The _TMPL form leaves the
# final rank cutoff as __TOPK__ so the rerank query can reuse the same
# pipeline at shortlist depth.
_PQ_LLOYD_TAIL_TMPL = f""",{_PQ_CB},
    ref_pos AS (
      SELECT s.m, c.code,
             unnest(s.sub_v) AS val,
             unnest(range(1, 5)) AS pos
      FROM codes c
      JOIN sub s ON c.neighbor_id = s.neighbor_id AND c.m = s.m
    ), ref_avg AS (
      SELECT m, code, pos, ROUND(AVG(val), 6) AS vv
      FROM ref_pos GROUP BY m, code, pos
    ), ref_cb AS (
      SELECT m, code, list(vv ORDER BY pos) AS sub_c
      FROM ref_avg GROUP BY m, code
    ), codes2 AS (
      SELECT neighbor_id, m, code FROM (
        SELECT s.neighbor_id, s.m, r.code,
               ROW_NUMBER() OVER (
                 PARTITION BY s.neighbor_id, s.m
                 ORDER BY ROUND({_L2SQ4.format(a='s.sub_v', b='r.sub_c')}, 9) ASC,
                          r.code ASC) AS rr
        FROM sub s JOIN ref_cb r ON s.m = r.m
      ) WHERE rr = 1
    ), lut2 AS (
      SELECT qs.query_id, qs.m, r.code,
             {_L2SQ4.format(a='qs.sub_v', b='r.sub_c')} AS lut_d2
      FROM (
        SELECT q.query_id, ms.m,
               q.vec[ms.m * 4 + 1 : ms.m * 4 + 4] AS sub_v
        FROM q CROSS JOIN ms
      ) qs JOIN ref_cb r ON qs.m = r.m
    ), approx2 AS (
      SELECT l.query_id, c.neighbor_id, ROUND(SUM(l.lut_d2), 6) AS approx_d2
      FROM codes2 c JOIN lut2 l ON l.m = c.m AND l.code = c.code
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, approx_d2, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY approx_d2 ASC, neighbor_id ASC
      ) AS BIGINT) AS rank
      FROM approx2
    ) WHERE rank <= __TOPK__
    """

_PQ_LLOYD_TAIL = _PQ_LLOYD_TAIL_TMPL.replace("__TOPK__", "5")


@register(
    "pq_adc_lloyd_top5",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, {_NORM_VEC} AS vec FROM embeddings
    ), cand AS (
      SELECT vec_id AS neighbor_id, vec FROM v WHERE vec_id >= 10
    ), q AS (
      SELECT vec_id AS query_id, vec FROM v WHERE vec_id < 10
    ){_PQ_LLOYD_TAIL}""",
)
def pq_adc_lloyd_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC with a one-Lloyd-iteration codebook (functions/pq.
    pq_codebook_refine): the strided seed centroids are re-centered on
    the mean of their assigned subvectors (k-means' M-step as two
    relational aggregates), then encode/LUT/rank run against the
    refined book.  Recall@5 0.40 -> 0.52 at sf0.1 for the same 16-byte
    code budget.  The entire two-phase pipeline — seed assignment,
    rounded means, re-encode, ADC ranking — is replayed in the DuckDB
    oracle, so even the k-means step is value-gated."""
    from tweets_spark_top_10_spark.functions.pq import (
        pq_adc_topk,
        pq_codebook,
        pq_codebook_refine,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = _normed(emb, "query_id", 0, 10)
    # The normalized candidates feed the seed codebook, the refine
    # step's encode+means, and the final encode — persist so the
    # scan+normalize runs once, not four times.  Hash-partitioned BY ID
    # (not round-robin): hashpartitioning(id) satisfies the clustered
    # distribution of every downstream (id, m) argmin aggregate (subset
    # rule), so the refine and encode stages reuse this one exchange
    # instead of re-shuffling the exploded corpus each.
    cands = (
        _normed(emb, "neighbor_id", 10, None)
        .repartition(spark.sparkContext.defaultParallelism, "neighbor_id")
        .transform(persist_tracked)
    )
    seed = pq_codebook(cands)
    # LAZY localCheckpoint: on first action the ~2k-row refined book
    # materializes and its lineage truncates (without it the final plan
    # embeds the whole two-phase codebook DAG and Catalyst re-analyzes
    # it on every reuse — several seconds of driver time on this
    # 16-subspace unrolled plan).  Lazy, not eager: constructing the
    # query must stay job-free, and plan inspection before execution
    # (tests/test_plan_audit.py) must still see the refine pipeline's
    # operators rather than a bare checkpoint scan.  At scale the
    # refined book is a written artifact.  (r16 measured the
    # driver-localized alternative — collect + LocalRelation broadcast —
    # at 5.3-6.0s vs 4.5-4.7s for this form, interleaved min-of-3: the
    # blocking collect serializes the refine against the query-side
    # stages that the lazy checkpoint lets run concurrently.  Kept.)
    refined = pq_codebook_refine(cands, seed).localCheckpoint(eager=False)
    return pq_adc_topk(queries, cands, k=5, codebook=refined)


# Shared verbatim by the inline-build IVFADC query and its prebuilt
# serving twin: identical values, one oracle definition.
_IVFPQ_ADC_ORACLE = f"""
    WITH v AS (
      SELECT vec_id, {_NORM_VEC} AS vec FROM embeddings
    ), cand AS (
      SELECT vec_id AS neighbor_id, vec FROM v WHERE vec_id >= 10
    ), q AS (
      SELECT vec_id AS query_id, vec FROM v WHERE vec_id < 10
    ), cents AS (
      SELECT CAST(neighbor_id // 97 AS INT) AS cell_id, vec AS centroid
      FROM cand
      WHERE neighbor_id % 97 = 0 AND neighbor_id // 97 BETWEEN 1 AND 16
    ), cand_cells AS (
      SELECT neighbor_id, vec, cell_id FROM (
        SELECT c.neighbor_id, c.vec, ct.cell_id,
               ROW_NUMBER() OVER (
                 PARTITION BY c.neighbor_id
                 ORDER BY {_COS.format(a='c.vec', b='ct.centroid', d=9)} DESC,
                          ct.cell_id ASC) AS r
        FROM cand c CROSS JOIN cents ct
      ) WHERE r <= 1
    ), cand_res AS (
      SELECT cc.neighbor_id, cc.cell_id,
             list_transform(range(1, 65), i -> cc.vec[i] - ct.centroid[i])
               AS res
      FROM cand_cells cc JOIN cents ct ON cc.cell_id = ct.cell_id
    ), ms AS (SELECT unnest(range(16)) AS m),
    cb AS (
      SELECT ms.m, CAST(cr.neighbor_id // 7 AS INT) AS code,
             cr.res[ms.m * 4 + 1 : ms.m * 4 + 4] AS sub_c
      FROM cand_res cr CROSS JOIN ms
      WHERE cr.neighbor_id % 7 = 0 AND cr.neighbor_id // 7 BETWEEN 1 AND 128
    ), sub AS (
      SELECT cr.neighbor_id, cr.cell_id, ms.m,
             cr.res[ms.m * 4 + 1 : ms.m * 4 + 4] AS sub_v
      FROM cand_res cr CROSS JOIN ms
    ), codes AS (
      SELECT neighbor_id, cell_id, m, code FROM (
        SELECT s.neighbor_id, s.cell_id, s.m, cb.code,
               ROW_NUMBER() OVER (
                 PARTITION BY s.neighbor_id, s.m
                 ORDER BY ROUND({_L2SQ4.format(a='s.sub_v', b='cb.sub_c')}, 9) ASC,
                          cb.code ASC) AS r
        FROM sub s JOIN cb ON s.m = cb.m
      ) WHERE r = 1
    ), q_cells AS (
      SELECT query_id, vec, cell_id FROM (
        SELECT q.query_id, q.vec, ct.cell_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {_COS.format(a='q.vec', b='ct.centroid', d=9)} DESC,
                          ct.cell_id ASC) AS r
        FROM q CROSS JOIN cents ct
      ) WHERE r <= 4
    ), q_res AS (
      SELECT qc.query_id, qc.cell_id,
             list_transform(range(1, 65), i -> qc.vec[i] - ct.centroid[i])
               AS res
      FROM q_cells qc JOIN cents ct ON qc.cell_id = ct.cell_id
    ), qsub AS (
      SELECT qr.query_id, qr.cell_id, ms.m,
             qr.res[ms.m * 4 + 1 : ms.m * 4 + 4] AS sub_v
      FROM q_res qr CROSS JOIN ms
    ), lut AS (
      SELECT qs.query_id, qs.cell_id, qs.m, cb.code,
             {_L2SQ4.format(a='qs.sub_v', b='cb.sub_c')} AS lut_d2
      FROM qsub qs JOIN cb ON qs.m = cb.m
    ), approx AS (
      SELECT l.query_id, c.neighbor_id, ROUND(SUM(l.lut_d2), 6) AS approx_d2
      FROM codes c
      JOIN lut l ON l.cell_id = c.cell_id AND l.m = c.m AND l.code = c.code
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, approx_d2, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY approx_d2 ASC, neighbor_id ASC
      ) AS BIGINT) AS rank
      FROM approx
    ) WHERE rank <= 5
    """


@register(
    "ivfpq_adc_top5",
    oracle=_IVFPQ_ADC_ORACLE,
)
def ivfpq_adc_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composition (IVFADC, Jegou'11 §IV): coarse cells prune
    the scan, PQ codes over cell RESIDUALS compress what remains, and
    the candidate join key (cell_id, subspace, code) applies both at
    once.  A query probes 4 of 16 cells and builds a per-probed-cell
    LUT from its residual; candidates never leave code form.  The
    entire two-level pipeline — cosine cell argmax, residual
    subtraction, residual codebook, argmin encode, per-cell LUT, ADC
    ranking — replays in the DuckDB oracle."""
    from tweets_spark_top_10_spark.functions.pq import ivfpq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = _normed(emb, "query_id", 0, 10)
    cands = _normed(emb, "neighbor_id", 10, None).repartition(
        spark.sparkContext.defaultParallelism
    )
    return ivfpq_adc_topk(queries, cands, k=5)


# Shared verbatim by the inline-build query and its prebuilt serving
# twin: identical values, one oracle definition.  The _PREFIX builds
# the permuted-space cand/q CTEs; the rerank query reuses it at
# shortlist depth via _opq_adc_oracle(k).
_OPQ_ADC_PREFIX = f"""
    WITH v AS (
      SELECT vec_id, {_NORM_VEC} AS vec FROM embeddings
    ), cand0 AS (
      SELECT vec_id AS neighbor_id, vec FROM v WHERE vec_id >= 10
    ), q0 AS (
      SELECT vec_id AS query_id, vec FROM v WHERE vec_id < 10
    ), dimvar AS (
      SELECT pos, ROUND(AVG(val * val) - AVG(val) * AVG(val), 9) AS vr
      FROM (SELECT unnest(vec) AS val, unnest(range(1, 65)) AS pos FROM cand0)
      GROUP BY pos
    ), perm AS (
      SELECT pos AS old_pos,
             CAST((CASE WHEN (r // 16) % 2 = 0 THEN r % 16
                        ELSE 15 - (r % 16) END) * 4 + (r // 16) + 1 AS INT)
               AS new_pos
      FROM (SELECT pos,
                   ROW_NUMBER() OVER (ORDER BY vr DESC, pos ASC) - 1 AS r
            FROM dimvar)
    ), cand AS (
      SELECT neighbor_id, list(val ORDER BY new_pos) AS vec
      FROM (SELECT neighbor_id, unnest(vec) AS val,
                   unnest(range(1, 65)) AS pos FROM cand0) t
      JOIN perm ON t.pos = perm.old_pos
      GROUP BY neighbor_id
    ), q AS (
      SELECT query_id, list(val ORDER BY new_pos) AS vec
      FROM (SELECT query_id, unnest(vec) AS val,
                   unnest(range(1, 65)) AS pos FROM q0) t
      JOIN perm ON t.pos = perm.old_pos
      GROUP BY query_id
    )"""


def _opq_adc_oracle(k: int) -> str:
    """Full OPQ/Lloyd/ADC oracle ranked to top-``k``."""
    return _OPQ_ADC_PREFIX + _PQ_LLOYD_TAIL_TMPL.replace("__TOPK__", str(k))


_OPQ_ADC_ORACLE = _opq_adc_oracle(5)


@register(
    "pq_adc_opq_top5",
    oracle=_OPQ_ADC_ORACLE,
)
def pq_adc_opq_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC in an OPQ-style permuted space (functions/pq.
    opq_permutation): dimensions ranked by corpus variance are dealt to
    the 16 subspaces in snake order — the eigenvalue-allocation idea of
    Ge et al. CVPR'13 restricted to permutation matrices, keeping every
    stage deterministic and SQL-replayable where a learned rotation
    would not be.  Encode/LUT/rank then run against a one-Lloyd-
    iteration codebook in the permuted space.  Recall@5 at sf0.1:
    0.58 vs 0.52 for the identity-space Lloyd book at the same 16-byte
    code budget (bench ``pq_curve``).  The full pipeline — variance
    ranking, snake allocation, relational reorder, refined codebook,
    ADC ranking — replays in the DuckDB oracle."""
    from tweets_spark_top_10_spark.functions.pq import (
        apply_permutation,
        opq_permutation,
        pq_adc_topk,
        pq_codebook,
        pq_codebook_refine,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q0 = _normed(emb, "query_id", 0, 10)
    c0 = _normed(emb, "neighbor_id", 10, None)
    # The permutation is a 64-row metadata artifact reused by both
    # reorders; collect it ONCE and bake both projections from the same
    # rows (r16 — the prior lazy-checkpoint form still paid a second
    # collect job + plan analysis for the candidates side).
    perm_rows = opq_permutation(c0).collect()
    queries = apply_permutation(q0, "query_id", perm_rows)
    cands = (
        apply_permutation(c0, "neighbor_id", perm_rows)
        .repartition(spark.sparkContext.defaultParallelism, "neighbor_id")
        .transform(persist_tracked)
    )
    seed = pq_codebook(cands)
    # Lazy-checkpointed book, NOT driver-localized: see
    # pq_adc_lloyd_top5 for the measured comparison.
    refined = pq_codebook_refine(cands, seed).localCheckpoint(eager=False)
    return pq_adc_topk(queries, cands, k=5, codebook=refined)


_OPQ_RERANK_ORACLE = f"""
    WITH allv AS (
      SELECT vec_id, {_NORM_VEC} AS vec FROM embeddings
    ), short AS (
      SELECT query_id, neighbor_id
      FROM ({_opq_adc_oracle(32)}) t
    ), rer AS (
      SELECT s.query_id, s.neighbor_id,
             {_COS.format(a='qv.vec', b='cv.vec', d=6)} AS exact_cos
      FROM short s
      JOIN allv qv ON qv.vec_id = s.query_id
      JOIN allv cv ON cv.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, exact_cos, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY exact_cos DESC, neighbor_id ASC
      ) AS BIGINT) AS rank
      FROM rer
    ) WHERE rank <= 5
    """


@register(
    "pq_adc_opq_rerank_top5",
    oracle=_OPQ_RERANK_ORACLE,
)
def pq_adc_opq_rerank_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC shortlist + exact rerank (Jegou'11 IVFADC-R shape,
    ``functions/pq.pq_adc_rerank_topk``): the OPQ/Lloyd compressed scan
    shortlists 32 candidates per query, then ONLY those fetch full
    vectors for an exact cosine top-5.  Recall@5 at sf0.1: **0.84 vs
    0.58** for the same 16-byte codes without rerank (bench
    ``pq_curve``) — the answer to round-7 verdict item 5's "lift recall
    beyond 0.58 at the same code budget".  (The verdict's suggested
    permutation-space ALS was implemented and measured first: it is
    STATIONARY — a codebook trained on any layout admits zero
    improving swaps, see ``functions/pq.opq_swap_descent`` and
    BASELINE.md — so the recall lift comes from reranking, the standard
    serving-side lever.)  The rerank runs in the ORIGINAL normalized
    space; the whole pipeline including the shortlist replays in the
    DuckDB oracle."""
    from tweets_spark_top_10_spark.functions.pq import (
        apply_permutation,
        opq_permutation,
        pq_adc_rerank_topk,
        pq_codebook,
        pq_codebook_refine,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q0 = _normed(emb, "query_id", 0, 10)
    c0 = _normed(emb, "neighbor_id", 10, None)
    # One collect serves both permuted projections (see
    # pq_adc_opq_top5); the refined book stays a lazy checkpoint (see
    # pq_adc_lloyd_top5 for the measured driver-localized rejection).
    perm_rows = opq_permutation(c0).collect()
    queries = apply_permutation(q0, "query_id", perm_rows)
    cands = (
        apply_permutation(c0, "neighbor_id", perm_rows)
        .repartition(spark.sparkContext.defaultParallelism, "neighbor_id")
        .transform(persist_tracked)
    )
    refined = pq_codebook_refine(cands, pq_codebook(cands)).localCheckpoint(
        eager=False
    )
    return pq_adc_rerank_topk(
        queries,
        cands,
        k=5,
        shortlist=32,
        codebook=refined,
        rerank_queries=q0,
        rerank_candidates=c0,
    )


def _opq_permute_driver(perm_rows: list, vec: list) -> list:
    """Apply the stored (old_pos, new_pos) permutation to one
    driver-held vector — out[new-1] = vec[old-1], same mapping
    ``apply_permutation`` runs relationally."""
    out = [0.0] * len(vec)
    for r in perm_rows:
        out[r["new_pos"] - 1] = vec[r["old_pos"] - 1]
    return out


@register(
    "opq_adc_top5_prebuilt",
    oracle=_OPQ_ADC_ORACLE,
)
def opq_adc_top5_prebuilt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ/ADC top-5 against the PREBUILT permuted-space index
    (:func:`ensure_opq_index`): permutation + refined codebook are
    driver-cached metadata, queries are permuted at the query node, and
    the scan is the same one-pass wide-codes ADC as
    ``pq_adc_top5_prebuilt``.  This is the serving-cost twin of
    ``pq_adc_opq_top5`` (which measures the full build: variance snake,
    Lloyd, encode — its 8s at sf0.1 is index construction, amortized in
    production): identical values, same oracle, ~10x less query-time
    work."""
    from tweets_spark_top_10_spark.functions.pq import pq_adc_serving_topk

    perm_path, cb_path, codes_path = ensure_opq_index(spark, sf_dir)
    perm_rows = _cached_rows(spark, perm_path)
    cb_rows = _cached_rows(spark, cb_path)
    qv = [
        (qid, _opq_permute_driver(perm_rows, vec))
        for qid, vec in _query_batch(sf_dir)
    ]
    return pq_adc_serving_topk(
        spark,
        query_vecs=qv,
        codebook_rows=cb_rows,
        codes_wide=spark.read.parquet(codes_path),
        k=5,
    )


@register(
    "opq_adc_rerank_top5_prebuilt",
    oracle=_OPQ_RERANK_ORACLE,
)
def opq_adc_rerank_top5_prebuilt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving twin of ``pq_adc_opq_rerank_top5``: the prebuilt OPQ
    index produces the 32-deep ADC shortlist (driver LUTs + one
    wide-codes pass), then the exact rerank fetches 32 original
    vectors per query via a broadcast semi-join.  Measures what
    recall@5 0.84 actually COSTS at query time once the index is
    offline (~1 s at sf0.1 vs ~8 s build-inclusive); identical values,
    same oracle."""
    from tweets_spark_top_10_spark.functions.pq import (
        exact_rerank,
        pq_adc_serving_topk,
    )

    perm_path, cb_path, codes_path = ensure_opq_index(spark, sf_dir)
    perm_rows = _cached_rows(spark, perm_path)
    cb_rows = _cached_rows(spark, cb_path)
    qv = [
        (qid, _opq_permute_driver(perm_rows, vec))
        for qid, vec in _query_batch(sf_dir)
    ]
    short = pq_adc_serving_topk(
        spark,
        query_vecs=qv,
        codebook_rows=cb_rows,
        codes_wide=spark.read.parquet(codes_path),
        k=32,
    )
    emb = load_table(spark, sf_dir, "embeddings")
    return exact_rerank(
        short,
        _normed(emb, "query_id", 0, 10),
        _normed(emb, "neighbor_id", 10, None),
        k=5,
    )


@register(
    "semantic_dedup_keep",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, {_DOUBLE_VEC} AS vec FROM embeddings
    ), reps AS (
      -- exact-duplicate collapse: SemDeDup runs AFTER exact dedup;
      -- bitwise-identical vectors are trivially semantic duplicates
      -- and pair/cluster as ONE representative (their min id)
      SELECT vec, MIN(vec_id) AS rep FROM v GROUP BY vec
    ), rmap AS (
      SELECT a.vec_id, r.rep FROM v a JOIN reps r ON a.vec = r.vec
    ), rv AS (
      SELECT rep AS vec_id, vec FROM reps
    ), meta AS (
      -- corpus-scaled quantizer: n_cells = floor(sqrt(N)) (>=4), the
      -- same float64 op Spark's scaled_cell_params runs; cell_cap =
      -- 4x the average cell size (integer ceil, floor 64), Spark's
      -- subcell_cap — all-integer so both engines agree for any N
      SELECT GREATEST(4, CAST(FLOOR(SQRT(COUNT(*))) AS INT)) AS n_cells,
             GREATEST(1, COUNT(*) // (GREATEST(4,
               CAST(FLOOR(SQRT(COUNT(*))) AS INT)) + 1)) AS stride,
             GREATEST(64, 4 * ((COUNT(*)
               + GREATEST(4, CAST(FLOOR(SQRT(COUNT(*))) AS INT)) - 1)
               // GREATEST(4, CAST(FLOOR(SQRT(COUNT(*))) AS INT)))) AS cell_cap
      FROM v
    ), cents AS (
      SELECT CAST(vec_id // m.stride AS INT) AS cell_id, vec AS centroid
      FROM v, meta m
      WHERE vec_id % m.stride = 0
        AND vec_id // m.stride BETWEEN 1 AND m.n_cells
    ), cells AS (
      -- assignment restricted to representatives: identical vectors
      -- share the assignment, so only the rep row enters pairing
      SELECT vec_id, vec, cell_id FROM (
        SELECT v.vec_id, v.vec, ct.cell_id,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {_COS.format(a='v.vec', b='ct.centroid', d=9)} DESC,
                          ct.cell_id ASC) AS r
        FROM rv v CROSS JOIN cents ct
      ) WHERE r = 1
    ), csize AS (
      SELECT cell_id, COUNT(*) AS cnt FROM cells GROUP BY cell_id
    ), subcells AS (
      -- skew guard: a cell over cell_cap splits into ceil(cnt/cap)
      -- sub-cells by id modulo (sub_cell = 0 everywhere a cell is
      -- within cap, i.e. pairing is unchanged on balanced corpora)
      SELECT c.vec_id, c.vec, c.cell_id,
             c.vec_id % ((s.cnt + m.cell_cap - 1) // m.cell_cap) AS sub_cell
      FROM cells c JOIN csize s USING (cell_id), meta m
    ), pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM subcells a JOIN subcells b
        ON a.cell_id = b.cell_id AND a.sub_cell = b.sub_cell
       AND a.vec_id < b.vec_id
      WHERE {_COS.format(a='a.vec', b='b.vec', d=6)} >= 0.3
    ), subreps AS (
      -- rep-sampling bridge: the sub-cell cap drops cross-sub-cell
      -- pairs inside a split cell; linking the per-sub-cell
      -- representative (min id) restores the cluster's transitive
      -- closure.  No-op on unsplit cells (single sub-cell).
      SELECT cell_id, sub_cell, MIN(vec_id) AS rep_id
      FROM subcells GROUP BY cell_id, sub_cell
    ), repv AS (
      SELECT r.cell_id, r.sub_cell, r.rep_id, s.vec
      FROM subreps r JOIN subcells s
        ON s.cell_id = r.cell_id AND s.sub_cell = r.sub_cell
       AND s.vec_id = r.rep_id
    ), rep_pairs AS (
      SELECT LEAST(a.rep_id, b.rep_id) AS id_a,
             GREATEST(a.rep_id, b.rep_id) AS id_b
      FROM repv a JOIN repv b
        ON a.cell_id = b.cell_id AND a.sub_cell < b.sub_cell
      WHERE {_COS.format(a='a.vec', b='b.vec', d=6)} >= 0.3
    ), edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
      UNION
      SELECT id_a, id_b FROM rep_pairs
      UNION
      SELECT id_b, id_a FROM rep_pairs
    ), walk AS (
      WITH RECURSIVE w(n, m) AS (
        SELECT a, a FROM edges
        UNION
        SELECT w.n, e.b FROM w JOIN edges e ON w.m = e.a
      ) SELECT n, MIN(m) AS component FROM w GROUP BY n
    )
    SELECT m.vec_id,
           COALESCE(walk.component, m.rep) AS cluster,
           (COALESCE(walk.component, m.rep) = m.vec_id) AS keep
    FROM rmap m LEFT JOIN walk ON m.rep = walk.n
    """,
)
def semantic_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023 shape):
    collapse exact-duplicate vectors to one representative (the
    standard exact-dedup prepass), cluster the embedding space
    coarsely, mark near-duplicate PAIRS only within a cluster, connect
    them into semantic groups, keep one canonical member (min id) per
    group.

    100 TB shape end to end: the coarse quantizer is CORPUS-SCALED
    (√N cells via ``scaled_cell_params`` — a fixed cell count makes the
    intra-cell pair join O((N/k)²) per cell, the round-7 verdict's one
    super-linear stage) and a broadcast argmin (``ivf_assign_cells`` —
    no shuffle of the corpus beyond its replicated window), the
    candidate join is blocked by cell id (never all-pairs) with a
    per-cell population cap (``subcell_split`` — a pathological hot
    cell holding a corpus-scale fraction of vectors splits into id-mod
    sub-cells instead of self-joining quadratically, the round-8
    verdict's flagged skew hole), and the grouping exploits that
    blocked pairs partition the graph: components resolve with a
    block-local union-find in ONE stage (``blocked_components``)
    instead of an iterative global contraction.  When a cell actually
    split (detected with one metadata-sized aggregate on the persisted
    assignment — balanced corpora keep the exact unsplit plan), the
    dropped cross-sub-cell pairs are bridged by rep-sampling
    (``subcell_rep_pairs``: per-sub-cell min-id representatives linked
    within the cell, O(s²) per cell not O(c²)) and the components run
    two-level (``bridged_components``: block-local union-find + star
    contraction over the ~√N contracted bridge graph) — a split hot
    cluster keeps ONE canonical instead of s.  Every stage is
    deterministic (strided centroids, rounded cosines, id tie-breaks,
    integer cap math), so the whole pipeline — including the
    transitive closure, the √N quantizer sizing, the skew cap AND the
    rep bridge — replays in the DuckDB oracle."""
    from tweets_spark_top_10_spark.functions.dedup import (
        blocked_components,
        bridged_components,
    )
    from tweets_spark_top_10_spark.functions.similarity import (
        dot,
        ivf_assign_cells,
        ivf_centroids,
        scaled_cell_params,
        subcell_cap,
        subcell_rep_pairs,
        subcell_split,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("vec")
    )
    # Exact-duplicate collapse (SemDeDup's standard prepass): bitwise-
    # identical vectors are trivially semantic duplicates — they pair
    # and cluster as ONE representative (the group's min id), and the
    # members rejoin the rep's cluster at the end.  Without this, a
    # mass of identical vectors piles into one cell (every centroid
    # ties) where the sub-cell cap would SPLIT the group — bounded
    # work, but needless recall loss on the easiest duplicates.
    # Identity rides an 8-byte xxhash64 fingerprint of the vector, so
    # the group-by and member join shuffle fixed-width keys instead of
    # 64-double arrays (grouping BY the raw array measured +2 s on the
    # balanced 10× replica); the DuckDB oracle groups by the raw list,
    # which doubles as the collision tripwire — at exabyte scale the
    # fingerprint would widen to 128 bits.
    fp = F.xxhash64("vec").alias("__fp")
    reps = (
        vecs.select(fp, "vec_id")
        .groupBy("__fp")
        .agg(F.min("vec_id").alias("rep"))
    )
    member_map = persist_tracked(
        vecs.select("vec_id", fp).join(reps, "__fp").select("vec_id", "rep")
    )
    rep_vecs = member_map.filter(F.col("vec_id") == F.col("rep")).join(
        vecs, "vec_id"
    ).select("vec_id", "vec")
    # one COUNT action — quantizer-sizing metadata, shared by the √N
    # cell count and the skew cap (4x average cell size).  Counted over
    # member_map, NOT vecs (r17): the two are row-equal by construction
    # (the __fp join matches every row), and counting the persisted map
    # makes the plan-decider action double as its materialization —
    # the separate scan+count pass over the embeddings is deleted and
    # the later max-cell probe reads the cache instead of building it.
    n = member_map.count()
    n_cells, stride = scaled_cell_params(n)
    cap = subcell_cap(n, n_cells)
    cents = ivf_centroids(vecs, "vec_id", "vec", n_cells, stride)
    # fan the corpus out before the N×k score fan-out: a compact
    # parquet arrives as 1-2 splits locally and the whole assignment
    # would run on one core (at cluster scale the scan is already
    # many-partitioned; this is a ~free narrow-data shuffle)
    spread = rep_vecs.repartition(spark.sparkContext.defaultParallelism)
    # The cached cell table is partitioned by the PAIR-JOIN key with an
    # EXPLICIT partition count: the join's input is corpus-skinny (one
    # row per vector) but its output is the intra-cell pair set, and
    # AQE — sizing partitions on input bytes — happily coalesces the
    # few-MB exchange down to 1-2 tasks, serializing the quadratic
    # sub-cell self-join on a skewed corpus (measured: a 2-task stage
    # carried 35 of the clustered 10x probe's 29s wall).  Explicit
    # repartition pins the partitioning, AQE leaves it alone, and both
    # self-join sides read the colocated cache with no further
    # exchange.
    # assignment persisted separately: subcell_split references its
    # input twice (per-cell counts + the split projection) and
    # ivf_assign_cells references ITS input twice, so an uncached
    # assignment tree evaluates 4x under the cells materialization
    # (measured ~5s of the clustered 10x probe's wall)
    assigned = persist_tracked(
        ivf_assign_cells(spread, cents, "vec_id", vec_col="vec", n_probe=1)
    )
    cells = persist_tracked(
        subcell_split(assigned, "vec_id", cap).repartition(
            spark.sparkContext.defaultParallelism, "cell_id", "sub_cell"
        )
    )
    a = cells.select(
        F.col("cell_id"),
        F.col("sub_cell"),
        F.col("vec_id").alias("id_a"),
        F.col("vec").alias("va"),
        l2_norm(F.col("vec")).alias("na"),
    )
    b = cells.select(
        F.col("cell_id"),
        F.col("sub_cell"),
        F.col("vec_id").alias("id_b"),
        F.col("vec").alias("vb"),
        l2_norm(F.col("vec")).alias("nb"),
    )
    pairs = (
        a.join(b, ["cell_id", "sub_cell"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "__cos",
            F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6),
        )
        .filter(F.col("__cos") >= 0.3)
        .select("cell_id", "sub_cell", "id_a", "id_b")
    )
    # pairs cannot cross (cell, sub_cell) blocks — components resolve
    # block-locally in ONE stage (and the pair plan is already
    # partitioned by the block key, so the grouped map adds no shuffle)
    # instead of the iterative global star contraction.  One
    # metadata-sized action on the persisted assignment (n_cells rows)
    # decides whether any cell split: if none did, sub_cell = 0
    # everywhere, the rep bridge is provably empty, and the plan stays
    # EXACTLY the unsplit one — balanced corpora pay nothing.
    max_cell = (
        assigned.groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("__c"))
        .agg(F.max("__c"))
        .first()[0]
    )
    if max_cell is not None and max_cell > cap:
        rep_pairs = subcell_rep_pairs(cells, "vec_id", "vec", threshold=0.3)
        comp = bridged_components(pairs, rep_pairs, ["cell_id", "sub_cell"])
    else:
        comp = blocked_components(pairs, ["cell_id", "sub_cell"])
    cluster = F.coalesce("component", "rep")
    return (
        member_map.join(comp, member_map["rep"] == comp["node"], "left")
        .select(
            "vec_id",
            cluster.alias("cluster"),
            (cluster == F.col("vec_id")).alias("keep"),
        )
    )


def ensure_ivfpq_index(spark: SparkSession, sf_dir: str) -> tuple[str, str, str]:
    """Build-once the IVFADC index artifacts — coarse centroids (16
    metadata rows), residual codebook, wide codes tagged with their
    cell — and return their parquet paths.  Offline half of
    ``ivfpq_adc_top5_prebuilt``; candidate-side pipeline is exactly
    ``functions/pq.ivfpq_adc_topk``'s (deterministic strided books,
    rounded argmins), so rebuilds are byte-stable and the value oracle
    is ``ivfpq_adc_top5``'s."""
    from tweets_spark_top_10_spark.functions.pq import (
        pq_codebook,
        pq_codes_wide,
        pq_encode,
    )
    from tweets_spark_top_10_spark.functions.similarity import (
        ivf_assign_cells,
        ivf_centroids,
    )

    kind = _pq_index_dir(sf_dir) / "ivfpq"
    parts = ("ivfpq_cents", "ivfpq_codebook", "ivfpq_codes_wide")
    paths = {n: str(kind / n) for n in parts}
    if not all((kind / n / "_SUCCESS").exists() for n in parts):
        staging = kind.parent / f".stage_ivfpq_{os.getpid()}"
        emb = load_table(spark, sf_dir, "embeddings")
        cands = _normed(emb, "neighbor_id", 10, None).repartition(
            spark.sparkContext.defaultParallelism
        )
        cents = ivf_centroids(cands, "neighbor_id")
        cents.write.mode("overwrite").parquet(str(staging / "ivfpq_cents"))
        cents = spark.read.parquet(str(staging / "ivfpq_cents"))
        assigned = ivf_assign_cells(cands, cents, "neighbor_id", n_probe=1)
        residual = F.zip_with(
            F.col("embedding"),
            F.col("centroid"),
            lambda a, b: a.cast("double") - b.cast("double"),
        )
        cand_res = persist_tracked(
            assigned.join(
                F.broadcast(cents.withColumnRenamed("cell_id", "__cc")),
                F.col("cell_id") == F.col("__cc"),
            ).select(F.col("neighbor_id"), F.col("cell_id"), residual.alias("res"))
        )
        cb = pq_codebook(cand_res, "neighbor_id", "res")
        cb.write.mode("overwrite").parquet(str(staging / "ivfpq_codebook"))
        cb = spark.read.parquet(str(staging / "ivfpq_codebook"))
        codes = pq_encode(
            cand_res, cb, "neighbor_id", "res", key_cols=["cell_id"]
        )
        pq_codes_wide(codes, key_cols=["cell_id"]).write.mode(
            "overwrite"
        ).parquet(str(staging / "ivfpq_codes_wide"))
        _publish_index_kind(staging, kind)
    return paths["ivfpq_cents"], paths["ivfpq_codebook"], paths["ivfpq_codes_wide"]


@register(
    "ivfpq_adc_top5_prebuilt",
    oracle=_IVFPQ_ADC_ORACLE,
)
def ivfpq_adc_top5_prebuilt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC top-5 against the PREBUILT two-level index
    (:func:`ensure_ivfpq_index`): centroids + residual codebook are
    driver-cached metadata; the query probes its 4 cells, subtracts
    residuals and builds per-cell LUTs at the query node; the cluster
    runs one cell-keyed equi-join over wide codes
    (``functions/pq.ivfpq_adc_serving_topk``).  Serving-cost twin of
    ``ivfpq_adc_top5`` (~4s inline at sf0.1 = index construction):
    identical values, same oracle."""
    from tweets_spark_top_10_spark.functions.pq import ivfpq_adc_serving_topk

    cents_path, cb_path, codes_path = ensure_ivfpq_index(spark, sf_dir)
    return ivfpq_adc_serving_topk(
        spark,
        query_vecs=_query_batch(sf_dir),
        cents_rows=_cached_rows(spark, cents_path),
        codebook_rows=_cached_rows(spark, cb_path),
        codes_wide=spark.read.parquet(codes_path),
        k=5,
    )


def _rp_oracle(d_out: int = 16, seed: str = "rp") -> str:
    """DuckDB twin of :func:`rp_project` generated from the SAME sign
    matrix (the metrics-compiler discipline: one source, two engines —
    the pair cannot drift).  ``list_dot_product`` accumulates in
    ascending position order like Spark's ``aggregate`` fold, so both
    engines perform the identical IEEE double sum before the shared
    ROUND."""
    from tweets_spark_top_10_spark.functions.similarity import _rp_sign_matrix

    signs = _rp_sign_matrix(d_out, 64, seed)
    cols = ",\n           ".join(
        f"ROUND(list_dot_product(v, [{','.join(f'{s}.0' for s in signs[j])}])"
        f" / sqrt(CAST({d_out} AS DOUBLE)), 6) AS y{j}"
        for j in range(d_out)
    )
    return f"""
    SELECT vec_id,
           {cols}
    FROM (SELECT vec_id, {_DOUBLE_VEC} AS v FROM embeddings)
    """


def _rp_ivf_oracle(
    d_out: int = 16,
    seed: str = "rp",
    stride: int = 97,
    n_cells: int = 16,
    n_probe: int = 4,
    shortlist: int = 20,
    k: int = 5,
) -> str:
    """DuckDB twin of :func:`rp_ivf_rerank_knn` at the catalog params —
    the projection columns come from the SAME sign matrix as the Spark
    plan (`_rp_oracle` discipline), the IVF stages replay
    ``ivf_knn_top5``'s oracle on the PROJECTED arrays, and the final
    rerank scores the shortlist in the ORIGINAL 64-dim space."""
    from tweets_spark_top_10_spark.functions.similarity import _rp_sign_matrix

    signs = _rp_sign_matrix(d_out, 64, seed)
    pv = (
        "["
        + ",\n             ".join(
            f"ROUND(list_dot_product(vec, [{','.join(f'{s}.0' for s in signs[j])}])"
            f" / sqrt(CAST({d_out} AS DOUBLE)), 6)"
            for j in range(d_out)
        )
        + "]"
    )
    return f"""
    WITH v AS (
      SELECT vec_id, {_DOUBLE_VEC} AS vec FROM embeddings
    ), p AS (
      SELECT vec_id, {pv} AS pv FROM v
    ), cand AS (
      SELECT vec_id AS neighbor_id, pv FROM p WHERE vec_id >= 10
    ), q AS (
      SELECT vec_id AS query_id, pv FROM p WHERE vec_id < 10
    ), cents AS (
      SELECT CAST(neighbor_id // {stride} AS INT) AS cell_id, pv AS centroid
      FROM cand
      WHERE neighbor_id % {stride} = 0
        AND neighbor_id // {stride} BETWEEN 1 AND {n_cells}
    ), cand_cells AS (
      SELECT neighbor_id, pv, cell_id FROM (
        SELECT c.neighbor_id, c.pv, ct.cell_id,
               ROW_NUMBER() OVER (
                 PARTITION BY c.neighbor_id
                 ORDER BY {_COS.format(a='c.pv', b='ct.centroid', d=9)} DESC,
                          ct.cell_id ASC) AS r
        FROM cand c CROSS JOIN cents ct
      ) WHERE r <= 1
    ), query_cells AS (
      SELECT query_id, pv, cell_id FROM (
        SELECT q.query_id, q.pv, ct.cell_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {_COS.format(a='q.pv', b='ct.centroid', d=9)} DESC,
                          ct.cell_id ASC) AS r
        FROM q CROSS JOIN cents ct
      ) WHERE r <= {n_probe}
    ), short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT qc.query_id, cc.neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY qc.query_id
                 ORDER BY {_COS.format(a='qc.pv', b='cc.pv', d=6)} DESC,
                          cc.neighbor_id ASC) AS r
        FROM cand_cells cc JOIN query_cells qc ON cc.cell_id = qc.cell_id
      ) WHERE r <= {shortlist}
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT s.query_id, s.neighbor_id,
             {_COS.format(a='qv.vec', b='cv.vec', d=6)} AS cos_sim,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY s.query_id
               ORDER BY {_COS.format(a='qv.vec', b='cv.vec', d=6)} DESC,
                        s.neighbor_id ASC
             ) AS BIGINT) AS rank
      FROM short s
      JOIN v qv ON qv.vec_id = s.query_id
      JOIN v cv ON cv.vec_id = s.neighbor_id
    ) t WHERE rank <= {k}
    """


@register("rp_ivf_rerank_top5", oracle=_rp_ivf_oracle(d_out=32, shortlist=50))
def rp_ivf_rerank_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL-projected ANN serving pipeline (``functions/similarity.
    rp_ivf_rerank_knn``): project 64→32, IVF index+probe in the
    projected space, exact rerank of the 50-deep shortlist in the
    original space — the composition ``rp_project``'s docstring
    promises, now oracle-gated.  Every stage is deterministic (rounded
    projections and cosines, id tie-breaks), so like ``ivf_knn_top5``
    it carries a full value oracle; the recall-vs-brute-force floor and
    the plan contract (map-only projection, equi-join-only index) live
    in ``tests/test_rp.py``.

    Parameter honesty (measured, BASELINE.md round-14): the synthetic
    embeddings are quasi-random (mean top-1 cosine 0.355; mean rank-5 →
    rank-20 cosine gap 0.076), which is JL's WORST case — projected-
    space ranking error scales ~1/sqrt(d_out) (0.25 at d_out=16, 0.18
    at 32), far above the gap, so fixture recall@5 is 0.20 at
    16/20-shortlist and 0.60 at 32/50 (theory-consistent).  Real
    embedding corpora cluster (gaps ≫ distortion), where 16-dim
    projection is the standard tool; the catalog runs 32/50 — a 2×
    index-cost cut at usable worst-case recall — and the bench
    ``rp_curve`` records both points each round."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # spread_scan (r16): the 64->32 JL projection (2048 multiply-adds
    # per row) and the centroid-probe scoring otherwise run in the
    # fixture's single scan split; a no-op at cluster scale.
    cands = spread_scan(
        emb.filter(F.col("vec_id") >= 10).select(
            F.col("vec_id").alias("neighbor_id"), "embedding"
        )
    )
    return rp_ivf_rerank_knn(queries, cands, k=5, d_out=32, shortlist=50)


def ensure_rp_index(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build-once the JL-projected IVF serving index: the 32-dim
    projected strided centroids (cell_id, centroid) and the projected
    cell assignments (neighbor_id, rp_vec, cell_id), both parquet under
    the fingerprinted per-user index cache (same staging + whole-kind
    atomic-rename publication as :func:`ensure_pq_index`).  Everything
    is deterministic (md5 sign matrix, rounded projections, strided
    quantizer), so rebuilds are byte-stable and the prebuilt serving
    query shares the non-prebuilt twin's full value oracle."""
    from tweets_spark_top_10_spark.functions.similarity import (
        ivf_assign_cells,
        ivf_centroids,
        rp_array,
    )

    kind = _pq_index_dir(sf_dir) / "rp32"
    cents_path, cells_path = str(kind / "centroids"), str(kind / "cells")
    if not (
        (kind / "centroids" / "_SUCCESS").exists()
        and (kind / "cells" / "_SUCCESS").exists()
    ):
        staging = kind.parent / f".stage_rp32_{os.getpid()}"
        emb = load_table(spark, sf_dir, "embeddings")
        cands = emb.filter(F.col("vec_id") >= 10).select(
            F.col("vec_id").alias("neighbor_id"), "embedding"
        )
        cp = rp_array(cands, "neighbor_id", d_out=32).repartition(
            spark.sparkContext.defaultParallelism, "neighbor_id"
        )
        cents = ivf_centroids(cp, "neighbor_id", "rp_vec", 16)
        cents.write.mode("overwrite").parquet(str(staging / "centroids"))
        # assign against the stored copy (the ensure_pq_index discipline)
        cents = spark.read.parquet(str(staging / "centroids"))
        ivf_assign_cells(
            cp, cents, "neighbor_id", "rp_vec", n_probe=1
        ).write.mode("overwrite").parquet(str(staging / "cells"))
        _publish_index_kind(staging, kind)
    return cents_path, cells_path


@register(
    "rp_ivf_rerank_top5_prebuilt",
    oracle=_rp_ivf_oracle(d_out=32, shortlist=50),
)
def rp_ivf_rerank_top5_prebuilt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JL-projected ANN pipeline against a PREBUILT index — the
    serving half of the build/serve split: projected centroids and cell
    assignments come from :func:`ensure_rp_index`'s parquet (built at
    most once per corpus fingerprint), so query time pays only the
    query-side projection (10 rows), the broadcast centroid probe, the
    cell equi-join, and the 50-row-per-query exact rerank against the
    base table.  Deterministic end to end, hence the SAME full value
    oracle as ``rp_ivf_rerank_top5`` (the ``pq_adc_top5_prebuilt``
    pattern applied to dimensionality reduction)."""
    cents_path, cells_path = ensure_rp_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # spread_scan (r16): candidate-side per-row scoring otherwise runs
    # in the fixture's single scan split; no-op at cluster scale.
    cands = spread_scan(
        emb.filter(F.col("vec_id") >= 10).select(
            F.col("vec_id").alias("neighbor_id"), "embedding"
        )
    )
    return rp_ivf_rerank_knn(
        queries,
        cands,
        k=5,
        d_out=32,
        shortlist=50,
        centroids=spark.read.parquet(cents_path),
        cand_cells=spark.read.parquet(cells_path),
    )


@register("embedding_rp_project", oracle=_rp_oracle())
def embedding_rp_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss 64→16 projection of the whole embedding
    corpus (``functions/similarity.rp_project``): the map-only,
    zero-shuffle pre-indexing shrink — project once, build the ANN
    index in the 4x-smaller space, exact-rerank in the original.
    Independent gates beyond this oracle (``tests/test_rp.py``):
    numpy reproduces every projected value exactly from the same md5
    sign matrix, and measured pairwise-distance distortion sits inside
    the JL bound band."""
    emb = load_table(spark, sf_dir, "embeddings")
    return rp_project(emb, "vec_id", d_out=16, dim=64)

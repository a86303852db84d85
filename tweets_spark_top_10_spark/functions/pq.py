"""Product quantization (PQ) for embedding columns.

[EXT] surface (SURVEY.md §2.2 similarity family; builds on the int8
path in ``queries/similarity_queries.py``).  PQ is the standard
compression for billion-vector ANN (Jegou et al., "Product Quantization
for Nearest Neighbor Search", TPAMI 2011): split each vector into M
subvectors, quantize each against a per-subspace codebook of K
centroids, and answer queries with an asymmetric distance computation
(ADC) — the query stays full-precision and per-candidate distance is a
sum of M lookup-table entries, never a full-width dot product.

Scale design (billions of vectors):
- Codes are M small ints per vector (M bytes at K<=256) — a 64-dim
  float32 vector shrinks 64x.  The codes table is the only thing the
  query-time scan reads.
- The LUT (queries x M x K subspace distances) is tiny and broadcast;
  the ADC scan is an equi-join on (subspace, code) followed by a
  partial-aggregated SUM — shuffle keyed by (query, candidate), no
  vector math on the candidate side at all.
- The codebook here is a deterministic strided sample (same convention
  as ``ivf_centroids``; a real deployment k-means-fits offline on a
  sample).  Determinism keeps the DuckDB oracle and tests exact —
  every step (argmin encode, LUT, ADC ranking) rounds before compare
  and tie-breaks on ids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tweets_spark_top_10_spark.functions.cachectl import persist_tracked
from tweets_spark_top_10_spark.functions.similarity import dot


def l2_sq(a: Column, b: Column) -> Column:
    """Squared L2 distance via three dot products (same double-fold
    arithmetic as the cosine path, so oracles replay it exactly)."""
    return dot(a, a) - 2 * dot(a, b) + dot(b, b)


def l2_sq_unrolled(a: Column, b: Column, dim: int) -> Column:
    """Squared L2 distance as ``dim`` unrolled (a_i-b_i)^2 terms.

    Higher-order array functions (``aggregate``/``zip_with``) evaluate
    their lambdas interpreted, per element — fine per row, but the PQ
    encode join touches |vectors| x K rows per subspace and the lambda
    overhead dominated (13s -> ~1s at sf0.1).  Unrolled element_at
    arithmetic stays inside whole-stage codegen; the oracle SQL spells
    out the SAME left-associated term order, so doubles round-trip
    bit-identically."""
    def term(i: int) -> Column:
        d = F.element_at(a, i) - F.element_at(b, i)
        return d * d

    out = term(1)
    for i in range(2, dim + 1):
        out = out + term(i)
    return out


def _explode_subvectors(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    sub_dim: int,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """(*keys, m, sub_vec): the vector split into ``m`` contiguous
    ``sub_dim``-wide subvectors, long format (one explode, no shuffle).

    ``key_cols`` carries extra identity columns through (IVFADC needs
    (query, probed_cell) — one residual per pair, so keying on the id
    alone would conflate a query's per-cell residuals)."""
    keys = [id_col] + (key_cols or [])
    parts = [
        F.struct(
            F.lit(j).alias("m"),
            F.slice(F.col(vec_col), j * sub_dim + 1, sub_dim).alias("sub_vec"),
        )
        for j in range(m)
    ]
    return df.select(
        *[F.col(k) for k in keys], F.explode(F.array(*parts)).alias("e")
    ).select(
        *[F.col(k) for k in keys],
        F.col("e.m").alias("m"),
        F.col("e.sub_vec").alias("sub_vec"),
    )


def pq_codebook(
    candidates: DataFrame,
    cand_id: str = "neighbor_id",
    vec_col: str = "embedding",
    m: int = 16,
    sub_dim: int = 4,
    n_codes: int = 128,
    stride: int = 7,
) -> DataFrame:
    """(m, code, sub_centroid): per-subspace codebooks from every
    ``stride``-th candidate (code = id div stride, 1..n_codes) — a pure
    per-row expression, order-free and embarrassingly parallel, exactly
    the ``ivf_centroids`` convention.  Each sampled vector contributes
    its m-th subvector to subspace m's codebook."""
    cents = (
        candidates.filter(F.col(cand_id) % stride == 0)
        .withColumn("code", F.expr(f"{cand_id} div {stride}").cast("int"))
        .filter((F.col("code") >= 1) & (F.col("code") <= n_codes))
    )
    return _explode_subvectors(cents, "code", vec_col, m, sub_dim).select(
        "m", "code", F.col("sub_vec").alias("sub_centroid")
    )


def pq_encode(
    vectors: DataFrame,
    codebook: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    m: int = 16,
    sub_dim: int = 4,
    round_digits: int = 9,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """(id, *key_cols, m, code): each subvector's nearest codebook entry.

    Argmin is one hash aggregate — MIN over a (rounded distance, code)
    struct, so ties break on the smaller code deterministically.  The
    codebook is broadcast; nothing shuffles but the final aggregate,
    keyed by (id, m) — uniform by construction.

    ``key_cols`` carries id-determined columns (IVFADC's ``cell_id``)
    through the aggregate so callers don't pay a corpus-sized rejoin
    against the input just to recover them.
    """
    keys = [id_col] + (key_cols or [])
    sub = _explode_subvectors(vectors, id_col, vec_col, m, sub_dim, key_cols)
    d2 = F.round(
        l2_sq_unrolled(F.col("sub_vec"), F.col("sub_centroid"), sub_dim),
        round_digits,
    )
    return (
        sub.join(F.broadcast(codebook), "m")
        .groupBy(*keys, "m")
        .agg(F.min(F.struct(d2.alias("d"), F.col("code"))).alias("b"))
        .select(*keys, F.col("m"), F.col("b.code").alias("code"))
    )


def pq_codebook_refine(
    candidates: DataFrame,
    codebook: DataFrame,
    cand_id: str = "neighbor_id",
    vec_col: str = "embedding",
    m: int = 16,
    sub_dim: int = 4,
    avg_digits: int = 6,
) -> DataFrame:
    """One Lloyd iteration: re-center each codebook entry on the mean of
    the subvectors assigned to it (k-means' M-step, relationally).

    Encode (broadcast argmin) -> join assignments back to subvectors ->
    AVG per (subspace, code, position) -> rebuild the centroid arrays.
    Everything shuffles by (m, code[, pos]) — small uniform keys — so
    the step costs two aggregates regardless of corpus size; at 100 TB
    you run it on a sample, exactly like the seed codebook.  Codes that
    attract no members drop out (dead centroids — standard k-means).

    The means are rounded (``avg_digits``) so the refined codebook is
    engine-replayable: AVG's float summation order differs between
    engines/partitionings, and the rounding collapses the ~1e-15 noise
    before the next argmin consumes the values (the ``label_centroids``
    precedent).  Measured on the fixtures: ADC recall@5 0.40 -> 0.52 at
    sf0.1 with one iteration (a second adds little).

    Single-pass shape (round 9): the subvector rides THROUGH the argmin
    aggregate — ``MIN(struct(d, code, sub_vec))`` is identical to
    ``MIN(struct(d, code))`` because sub_vec is constant within an
    (id, m) group, so the comparison never reaches it — which deletes
    the round-8 form's (id, m) sort-merge re-join of assignments back
    onto subvectors (two corpus-sized exchanges).  On a candidate table
    cached hash-partitioned by id, the whole iteration is then
    exchange-free up to the dim²-keyed AVG.

    Output: (m, code, sub_centroid) — same shape as :func:`pq_codebook`.
    """
    sub = _explode_subvectors(candidates, cand_id, vec_col, m, sub_dim)
    d2 = F.round(
        l2_sq_unrolled(F.col("sub_vec"), F.col("sub_centroid"), sub_dim), 9
    )
    assigned = (
        sub.join(F.broadcast(codebook), "m")
        .groupBy(cand_id, "m")
        .agg(
            F.min(
                F.struct(d2.alias("d"), F.col("code"), F.col("sub_vec"))
            ).alias("b")
        )
    )
    per_pos = (
        assigned.select(
            "m",
            F.col("b.code").alias("code"),
            F.posexplode("b.sub_vec").alias("pos", "val"),
        )
        .groupBy("m", "code", "pos")
        .agg(F.round(F.avg("val"), avg_digits).alias("v"))
    )
    return per_pos.groupBy("m", "code").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "v"))), lambda s: s.v
        ).alias("sub_centroid")
    )


def opq_permutation(
    candidates: DataFrame,
    vec_col: str = "embedding",
    m: int = 16,
    sub_dim: int = 4,
    var_digits: int = 9,
) -> DataFrame:
    """OPQ-style balanced-variance subspace allocation as a permutation
    (Ge et al., "Optimized Product Quantization", CVPR 2013 — the
    eigenvalue-allocation idea restricted to permutation matrices, which
    keeps the whole pipeline deterministic and SQL-replayable where a
    learned rotation would not be).

    Dimensions are ranked by corpus variance (rounded before ranking so
    cross-engine float noise can't flip the order; ties break on
    position) and dealt to the ``m`` subspaces in boustrophedon (snake)
    order — subspace 0..m-1 forward, then m-1..0, ... — so every
    subspace receives one dimension from each variance tier and the
    per-subspace variance mass is balanced.  Output: (old_pos, new_pos),
    1-based, a tiny (dim-row) broadcastable artifact.  The variance pass
    is one aggregate over the posexploded corpus — at scale you run it
    on the same sample that seeds the codebook.
    """
    vals = candidates.select(F.posexplode(vec_col).alias("pos0", "val"))
    var = vals.groupBy("pos0").agg(
        F.round(
            F.avg(F.col("val") * F.col("val")) - F.avg("val") * F.avg("val"),
            var_digits,
        ).alias("v")
    )
    # dim-count rows (64 here): the single-partition window is over a
    # tiny aggregate output, not the corpus.
    w = Window.orderBy(F.desc("v"), F.asc("pos0"))
    r = F.col("r")
    fwd = r % m
    sub = F.when((F.floor(r / m) % 2) == 0, fwd).otherwise(m - 1 - fwd)
    return (
        var.withColumn("r", F.row_number().over(w) - 1)
        .select(
            (F.col("pos0") + 1).alias("old_pos"),
            (sub * sub_dim + F.floor(r / m) + 1).cast("int").alias("new_pos"),
        )
    )


def opq_als_cost(
    candidates: DataFrame,
    codebook: DataFrame,
    cand_id: str = "neighbor_id",
    vec_col: str = "embedding",
    perm: DataFrame | None = None,
    m: int = 16,
    sub_dim: int = 4,
    round_digits: int = 6,
) -> DataFrame:
    """ALS cost matrix over the permutation space: with codes and
    codebook FIXED, ``cost(old_pos, slot)`` = Σ over the corpus of
    (x[old_pos] − reconstruction[slot])² — the objective a
    permutation-restricted OPQ rotation step (Ge et al. CVPR'13, ALS
    alternation) would minimize by assignment.

    ``candidates`` are in the ORIGINAL space; ``perm`` (None =
    identity) maps them into the space ``codebook`` was trained in for
    the encode.  Output: (old_pos, slot, c) — dim² rows of metadata.

    **Measured finding (round 8)**: this step is STATIONARY.  A
    codebook trained on the current layout reconstructs each slot's
    own dimension best, so ``opq_swap_descent`` finds ZERO improving
    swaps from the variance-snake start (and from any other start that
    trained its codebook in-place) — which is exactly why Ge'13 uses
    continuous rotations, not permutations, for the ALS step.  Kept as
    the measurement backing that design decision; the recall lever that
    actually works at a fixed code budget is exact reranking of the ADC
    shortlist (:func:`pq_adc_rerank_topk`).
    """
    space = (
        candidates
        if perm is None
        else apply_permutation(candidates, cand_id, perm, vec_col)
    )
    codes = pq_encode(space, codebook, cand_id, vec_col, m, sub_dim)
    recon = (
        codes.join(codebook, ["m", "code"])
        .select(cand_id, "m", F.posexplode("sub_centroid").alias("pos", "rv"))
        .select(
            cand_id,
            (F.col("m") * sub_dim + F.col("pos") + 1).alias("slot"),
            "rv",
        )
    )
    xs = candidates.select(
        cand_id, F.posexplode(vec_col).alias("p0", "xv")
    ).select(cand_id, (F.col("p0") + 1).alias("old_pos"), F.col("xv").cast("double").alias("xv"))
    diff = F.col("xv") - F.col("rv")
    return (
        xs.join(recon, cand_id)
        .groupBy("old_pos", "slot")
        .agg(F.round(F.sum(diff * diff), round_digits).alias("c"))
    )


def opq_swap_descent(
    cost_rows: list, perm_rows: list, max_swaps: int = 64
) -> tuple[dict, int]:
    """Greedy best-swap descent on an :func:`opq_als_cost` matrix —
    driver-side over dim² metadata rows.  Returns (old_pos→new_pos
    mapping, swaps applied).  Deterministic: best (most negative)
    delta first, ties broken on the (d1, d2) pair; stops at the first
    non-improving round or ``max_swaps``.  See :func:`opq_als_cost`
    for why this returns 0 swaps from any in-place-trained start."""
    C = {(int(r["old_pos"]), int(r["slot"])): float(r["c"]) for r in cost_rows}
    P = {int(r["old_pos"]): int(r["new_pos"]) for r in perm_rows}
    dims = sorted(P)
    applied = 0
    for _ in range(max_swaps):
        best = None
        for i, d1 in enumerate(dims):
            for d2 in dims[i + 1:]:
                s1, s2 = P[d1], P[d2]
                delta = C[(d1, s2)] + C[(d2, s1)] - C[(d1, s1)] - C[(d2, s2)]
                if best is None or delta < best[0] or (
                    delta == best[0] and (d1, d2) < best[1:]
                ):
                    best = (delta, d1, d2)
        if best is None or best[0] >= 0:
            break
        _, d1, d2 = best
        P[d1], P[d2] = P[d2], P[d1]
        applied += 1
    return P, applied


def apply_permutation(
    df: DataFrame,
    id_col: str,
    perm: DataFrame | list,
    vec_col: str = "embedding",
) -> DataFrame:
    """Reorder every vector by a (old_pos, new_pos) permutation table.

    The permutation is a dim-row METADATA artifact (64 rows here), so
    it is collected and baked into a projection: ``out[new_pos-1] =
    vec[old_pos-1]`` as ``dim`` unrolled ``element_at`` expressions —
    zero exchanges, embarrassingly parallel, exactly what a 100 TB
    deployment would compile into its extraction expression.  (The
    round-8 form posexploded the corpus and regrouped with
    ``collect_list`` — a corpus-sized shuffle per reorder, measured as
    the single largest stage of the inline OPQ queries at sf0.1.)

    The collect is dim rows — metadata, not data (the LUT-collect
    precedent).  ``perm`` may also be a PRE-COLLECTED row list so a
    caller permuting several tables (queries + candidates) collects the
    variance pipeline once instead of once per side (r16: the second
    collect was a whole extra job + plan analysis for the same 64
    rows).  Raises if the table is not a bijection over 1..dim:
    the relational form silently dropped/duplicated values on a
    malformed permutation (the failure mode
    ``test_opq_permutation_is_bijection`` guards against); a loud
    failure is strictly safer.  Values are untouched (pure reorder), so
    the relational DuckDB oracles replay it unchanged.
    """
    rows = perm if isinstance(perm, list) else perm.collect()
    old_of_new = {int(r["new_pos"]): int(r["old_pos"]) for r in rows}
    dim = len(rows)
    if sorted(old_of_new) != list(range(1, dim + 1)) or sorted(
        old_of_new.values()
    ) != list(range(1, dim + 1)):
        raise ValueError(
            f"permutation is not a bijection over 1..{dim}: {sorted(old_of_new)[:5]}..."
        )
    out = F.array(
        *[
            F.element_at(F.col(vec_col), old_of_new[p])
            for p in range(1, dim + 1)
        ]
    )
    return df.select(F.col(id_col), out.alias(vec_col))


def pq_codebook_shift(before: DataFrame, after: DataFrame, sub_dim: int) -> DataFrame:
    """Mean L2 displacement of codebook entries between two Lloyd
    iterations — the convergence measure (1 row: n_codes, mean_shift).
    Entries that died (no members) in ``after`` are excluded."""
    b = before.select("m", "code", F.col("sub_centroid").alias("__b"))
    a = after.select("m", "code", F.col("sub_centroid").alias("__a"))
    shift = F.sqrt(l2_sq_unrolled(F.col("__b"), F.col("__a"), sub_dim))
    return (
        b.join(a, ["m", "code"])
        .agg(
            F.count(F.lit(1)).alias("n_codes"),
            F.round(F.avg(shift), 9).alias("mean_shift"),
        )
    )


def pq_adc_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    cand_id: str = "neighbor_id",
    vec_col: str = "embedding",
    m: int = 16,
    sub_dim: int = 4,
    n_codes: int = 128,
    stride: int = 7,
    round_digits: int = 6,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-K by PQ/ADC: candidates are scanned as M-byte
    codes; per-candidate distance is SUM of M broadcast-LUT entries.

    ``codebook`` overrides the strided seed codebook (e.g. a
    :func:`pq_codebook_refine` output).

    Output: (query_id, cand_id, approx_d2, rank) — rank by rounded ADC
    distance, candidate id as tie-break (deterministic, oracle-exact).
    """
    cb = (
        codebook
        if codebook is not None
        else pq_codebook(candidates, cand_id, vec_col, m, sub_dim, n_codes, stride)
    )
    codes = pq_encode(candidates, cb, cand_id, vec_col, m, sub_dim)
    qsub = _explode_subvectors(queries, query_id, vec_col, m, sub_dim)
    lut = qsub.join(F.broadcast(cb), "m").select(
        F.col(query_id),
        "m",
        "code",
        l2_sq_unrolled(F.col("sub_vec"), F.col("sub_centroid"), sub_dim).alias(
            "lut_d2"
        ),
    )
    approx = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .groupBy(query_id, cand_id)
        .agg(F.round(F.sum("lut_d2"), round_digits).alias("approx_d2"))
    )
    w = Window.partitionBy(query_id).orderBy(F.asc("approx_d2"), F.asc(cand_id))
    return (
        approx.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def pq_adc_rerank_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    shortlist: int = 32,
    query_id: str = "query_id",
    cand_id: str = "neighbor_id",
    vec_col: str = "embedding",
    m: int = 16,
    sub_dim: int = 4,
    round_digits: int = 6,
    codebook: DataFrame | None = None,
    rerank_queries: DataFrame | None = None,
    rerank_candidates: DataFrame | None = None,
) -> DataFrame:
    """ADC shortlist + exact rerank (Jegou et al. TPAMI'11 §VI —
    "re-ranking with source coding", the IVFADC-R serving shape): the
    compressed scan produces a ``shortlist``-deep candidate set per
    query, then ONLY those ``Q x shortlist`` rows fetch their full
    vectors for an exact cosine rerank to top-``k``.

    This is how a fixed code budget buys recall: at sf0.1 the 16-byte
    OPQ codes alone reach recall@5 0.58; reranking their top-32
    reaches 0.84 — the exact pass touches 32 vectors per query instead
    of the whole corpus, so serving cost stays ~flat.

    ``rerank_queries``/``rerank_candidates`` supply the vectors for the
    exact pass when the ADC ran in a transformed (e.g. OPQ-permuted)
    space — rerank in the ORIGINAL space keeps the oracle join trivial.
    Scale shape: the shortlist is Q x shortlist rows (KBs) and is
    BROADCAST against the candidate table, so vector fetch is one
    broadcast semi-join, never a corpus shuffle.
    """
    short = pq_adc_topk(
        queries,
        candidates,
        k=shortlist,
        query_id=query_id,
        cand_id=cand_id,
        vec_col=vec_col,
        m=m,
        sub_dim=sub_dim,
        round_digits=round_digits,
        codebook=codebook,
    )
    rq = queries if rerank_queries is None else rerank_queries
    rc = candidates if rerank_candidates is None else rerank_candidates
    return exact_rerank(
        short, rq, rc, k, query_id, cand_id, vec_col, round_digits
    )


def exact_rerank(
    short: DataFrame,
    rerank_queries: DataFrame,
    rerank_candidates: DataFrame,
    k: int,
    query_id: str = "query_id",
    cand_id: str = "neighbor_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Exact cosine top-``k`` over a (query, candidate) shortlist: the
    shortlist (Q x C rows, KBs) broadcasts against the candidate table
    to fetch full vectors — one broadcast semi-join, never a corpus
    shuffle — then a per-query window ranks the exact rounded cosine.
    Shared by the inline rerank and the prebuilt serving twin."""
    from tweets_spark_top_10_spark.functions.similarity import dot, l2_norm

    pairs = short.select(query_id, cand_id)
    fetched = rerank_candidates.select(
        cand_id, F.col(vec_col).alias("__cv")
    ).join(F.broadcast(pairs), cand_id)
    qv = F.broadcast(
        rerank_queries.select(query_id, F.col(vec_col).alias("__qv"))
    )
    exact_cos = F.round(
        dot(F.col("__qv"), F.col("__cv"))
        / (l2_norm(F.col("__qv")) * l2_norm(F.col("__cv"))),
        round_digits,
    )
    scored = fetched.join(qv, query_id).select(
        query_id, cand_id, exact_cos.alias("exact_cos")
    )
    w = Window.partitionBy(query_id).orderBy(
        F.desc("exact_cos"), F.asc(cand_id)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def pq_codes_wide(
    codes: DataFrame,
    cand_id: str = "neighbor_id",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """(id, *key_cols, codes: array<int> indexed by subspace) from the
    tall (id, m, code) index — the layout a serving scan wants: one row
    per candidate, M bytes of code, no per-subspace join fan-out.
    ``key_cols`` rides id-determined columns (IVFADC's ``cell_id``)
    through instead of a corpus rejoin."""
    return codes.groupBy(cand_id, *(key_cols or [])).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("m", "code"))),
            lambda s: s["code"],
        ).alias("codes")
    )


def _lut_flat(
    vec: list, cent: dict, width: int, m: int, sub_dim: int
) -> list:
    """One query's flat ADC lookup table (index m*width+code) from a
    driver-held vector and codebook dict — the same left-associated
    float64 chain ``l2_sq_unrolled`` codegens.  Shared by every serving
    path so the bitwise-identity contract has exactly one home."""
    flat = [0.0] * (m * width)
    for (mm, code), sc in cent.items():
        sub = vec[mm * sub_dim : (mm + 1) * sub_dim]
        d = 0.0
        for a, b in zip(sub, sc):
            d += (a - b) * (a - b)
        flat[mm * width + code] = d
    return flat


def _adc_lookup_sum(width: int, m: int) -> Column:
    """Unrolled sum over m of lut[m*width + codes[m]] — one codegen
    expression over a (lut, codes) row, no per-subspace fan-out.

    ``try_element_at`` (not ``element_at``, which THROWS under ANSI on
    an invalid index): a candidate row whose stored codes array is
    short, null, or holds an out-of-width code must degrade to a NULL
    distance — excluded by ``_serving_topk`` — not kill the query."""
    dist = None
    for mm in range(m):
        term = F.try_element_at(
            "lut", F.lit(mm * width) + F.try_element_at("codes", F.lit(mm + 1)) + 1
        )
        dist = term if dist is None else dist + term
    return dist


def _serving_topk(
    scored: DataFrame, k: int, query_id: str, cand_id: str
) -> DataFrame:
    # asc is NULLS FIRST: a candidate whose stored codes array is
    # short/null makes the LUT sum NULL, and it would rank AHEAD of
    # every real neighbor — corrupt index rows must sort last, never
    # win (round-7 advisor finding).
    w = Window.partitionBy(query_id).orderBy(
        F.asc_nulls_last("approx_d2"), F.asc(cand_id)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .where(F.col("approx_d2").isNotNull())
    )


def pq_adc_serving_topk(
    spark,
    query_vecs: list[tuple[int, list[float]]],
    codebook_rows: list,
    codes_wide: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    cand_id: str = "neighbor_id",
    m: int = 16,
    sub_dim: int = 4,
    round_digits: int = 6,
) -> DataFrame:
    """ADC top-K in the FAISS-style serving split: the query batch and
    the codebook live ON THE QUERY NODE (driver) — in serving, query
    vectors arrive there as requests and the codebook is index metadata
    cached once — so the per-query LUT is computed in plain float64
    Python and broadcast as a 10-row (query_id, lut) table.  The
    cluster-side work is a single pass over wide codes (one row, M
    bytes per candidate): an M-lookup sum against the broadcast LUT
    column, then ONE shuffle (the per-query top-K window).  No join
    fan-out, no per-subspace aggregate, no vector math on the scan.

    Values are identical to :func:`pq_adc_topk` on the same index: the
    LUT arithmetic below is the same left-associated float64 chain
    ``l2_sq_unrolled`` codegens, the rounding and the id tie-break are
    the same.
    """
    cent = {(r["m"], r["code"]): r["sub_centroid"] for r in codebook_rows}
    width = max(code for _, code in cent) + 1
    lut_rows = [
        (int(qid), _lut_flat(vec, cent, width, m, sub_dim))
        for qid, vec in query_vecs
    ]
    import pandas as pd

    # pandas -> Arrow path: ~3x faster than Py4J tuple conversion for
    # the 10 x (m*width) double arrays.
    lut = spark.createDataFrame(
        pd.DataFrame(
            {query_id: [r[0] for r in lut_rows], "lut": [r[1] for r in lut_rows]}
        ),
        schema=f"{query_id} long, lut array<double>",
    )
    scored = codes_wide.crossJoin(F.broadcast(lut)).select(
        F.col(query_id),
        F.col(cand_id),
        F.round(_adc_lookup_sum(width, m), round_digits).alias("approx_d2"),
    )
    return _serving_topk(scored, k, query_id, cand_id)


def ivfpq_adc_serving_topk(
    spark,
    query_vecs: list[tuple[int, list[float]]],
    cents_rows: list,
    codebook_rows: list,
    codes_wide: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    query_id: str = "query_id",
    cand_id: str = "neighbor_id",
    m: int = 16,
    sub_dim: int = 4,
    round_digits: int = 6,
) -> DataFrame:
    """IVFADC in the serving split: coarse centroids and the residual
    codebook are query-node metadata; cell probing, residual
    subtraction and LUT construction all happen driver-side per
    request, and the cluster runs ONE equi-join of the broadcast
    (query, probed-cell, LUT) table against wide codes — the cell_id
    key restricts the scan to probed cells by construction, then M
    lookups per surviving candidate and a top-K window.

    Per-step arithmetic (left-associated float64 dot/norm, half-up
    9-digit rounding of the probe cosine, residual L2 chains) mirrors
    the relational :func:`ivfpq_adc_topk` exactly, so results are
    bitwise identical on the same stored index.
    """
    from tweets_spark_top_10_spark.functions.numeric import round_half_up

    def _dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def _norm(a):
        acc = 0.0
        for x in a:
            acc += x * x
        return acc**0.5

    def _r9(x):
        # Spark's round() is HALF_UP; Python's round() is banker's —
        # shared Decimal helper matches tie behavior exactly.
        return round_half_up(x, 9)

    cents = [
        (int(r["cell_id"]), [float(v) for v in r["centroid"]])
        for r in cents_rows
    ]
    cent = {(r["m"], r["code"]): r["sub_centroid"] for r in codebook_rows}
    width = max(code for _, code in cent) + 1
    lut_rows = []
    for qid, vec in query_vecs:
        nq = _norm(vec)
        probes = sorted(
            ((-_r9(_dot(vec, c) / (nq * _norm(c))), cid, c) for cid, c in cents)
        )[:n_probe]
        for _, cid, c in probes:
            res = [a - b for a, b in zip(vec, c)]
            lut_rows.append(
                (int(qid), cid, _lut_flat(res, cent, width, m, sub_dim))
            )
    import pandas as pd

    lut = spark.createDataFrame(
        pd.DataFrame(
            {
                query_id: [r[0] for r in lut_rows],
                "cell_id": [r[1] for r in lut_rows],
                "lut": [r[2] for r in lut_rows],
            }
        ),
        schema=f"{query_id} long, cell_id int, lut array<double>",
    )
    scored = codes_wide.join(F.broadcast(lut), "cell_id").select(
        F.col(query_id),
        F.col(cand_id),
        F.round(_adc_lookup_sum(width, m), round_digits).alias("approx_d2"),
    )
    return _serving_topk(scored, k, query_id, cand_id)


def ivfpq_adc_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    cand_id: str = "neighbor_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 4,
    cell_stride: int = 97,
    m: int = 16,
    sub_dim: int = 4,
    n_codes: int = 128,
    stride: int = 7,
    round_digits: int = 6,
) -> DataFrame:
    """IVF+PQ (IVFADC, Jegou'11 §IV): coarse cells prune the scan, PQ
    codes over cell RESIDUALS compress what remains.

    The billion-vector composition: candidates quantize to their
    nearest coarse cell and store only (cell_id, M codes of the
    residual ``vec - centroid``); a query probes ``n_probe`` cells and
    builds a per-probed-cell LUT from ITS residual against that cell,
    so scoring stays a SUM of M lookups.  The candidate join key
    (cell_id, m, code) restricts work to probed cells by construction —
    cell pruning and code compression compose in one equi-join.

    Deterministic end to end (strided cell + code books, rounded
    argmins, id tie-breaks) — the whole two-level pipeline replays in
    SQL.  Output: (query_id, cand_id, approx_d2, rank).
    """
    from tweets_spark_top_10_spark.functions.similarity import (
        ivf_assign_cells,
        ivf_centroids,
    )

    cents = ivf_centroids(candidates, cand_id, vec_col, n_cells, cell_stride)
    cand_cells = ivf_assign_cells(
        candidates, cents, cand_id, vec_col, n_probe=1
    )
    residual = F.zip_with(
        F.col(vec_col), F.col("centroid"), lambda a, b: a.cast("double") - b.cast("double")
    )
    cand_res = (
        cand_cells.join(
            F.broadcast(cents.withColumnRenamed("cell_id", "__cc")),
            F.col("cell_id") == F.col("__cc"),
        )
        .select(F.col(cand_id), F.col("cell_id"), residual.alias("res"))
        .transform(persist_tracked)
    )
    cb = pq_codebook(cand_res, cand_id, "res", m, sub_dim, n_codes, stride)
    # cell_id is id-determined (n_probe=1 assignment) — carrying it
    # through the encode aggregate replaces the corpus-sized
    # codes-to-assignment rejoin with zero extra exchanges.
    cand_codes = pq_encode(
        cand_res, cb, cand_id, "res", m, sub_dim, key_cols=["cell_id"]
    )

    q_cells = ivf_assign_cells(queries, cents, query_id, vec_col, n_probe=n_probe)
    q_res = q_cells.join(
        F.broadcast(cents.withColumnRenamed("cell_id", "__cc")),
        F.col("cell_id") == F.col("__cc"),
    ).select(F.col(query_id), F.col("cell_id"), residual.alias("res"))
    # One residual PER PROBED CELL, so (query, cell) both key the explode.
    q_sub = _explode_subvectors(
        q_res, query_id, "res", m, sub_dim, key_cols=["cell_id"]
    )
    lut = q_sub.join(F.broadcast(cb), "m").select(
        F.col(query_id),
        "cell_id",
        "m",
        "code",
        l2_sq_unrolled(F.col("sub_vec"), F.col("sub_centroid"), sub_dim).alias(
            "lut_d2"
        ),
    )
    approx = (
        cand_codes.join(F.broadcast(lut), ["cell_id", "m", "code"])
        .groupBy(query_id, cand_id)
        .agg(F.round(F.sum("lut_d2"), round_digits).alias("approx_d2"))
    )
    w = Window.partitionBy(query_id).orderBy(F.asc("approx_d2"), F.asc(cand_id))
    return (
        approx.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )

"""Deduplication: exact, n-gram Jaccard, MinHash-LSH, SimHash.

[EXT] surface (SURVEY.md §2.2); the reference has no dedup at all.

Scale design (100 TB of documents):
- **Exact**: hash-groupBy on a content fingerprint — one shuffle keyed
  by a uniformly-distributed hash, so no skew by construction.
- **n-gram Jaccard**: exact pairwise similarity, but candidates come
  from an equi-join on shared shingles — never a cross join. Hot
  shingles (appearing in thousands of docs) quadratically blow up the
  candidate set, so `max_shingle_df` drops them (a shingle shared by
  10k docs is useless as dedup evidence anyway — it is boilerplate).
- **MinHash-LSH**: sub-quadratic candidate generation by banding
  per-document MinHash signatures in one self-equi-join
  (:func:`minhash_band_pairs`); the exact-Jaccard rerank of candidates
  is cheap.
- **SimHash**: 64-bit sketch from per-token ``xxhash64`` bit votes in
  one aggregate (no Python); near-dup = small Hamming distance, banded
  by 16-bit chunks for candidate generation.

Session-cache note: several operators ``persist()`` multiply-referenced
intermediates (shingle tables, long-format signatures).  The handles
are plan-internal, so a long-lived session that runs these repeatedly
should drop leftovers with ``spark.catalog.clearCache()`` between
workloads (the bench does exactly that); at scale these intermediates
are written artifacts, not session caches.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tweets_spark_top_10_spark.functions.cachectl import persist_tracked
from tweets_spark_top_10_spark.functions.text import fingerprint, shingles, tokenize


def content_hash(text: Column | str) -> Column:
    """Full md5 of normalized text (exact-dedup key)."""
    return fingerprint(text, length=32)


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_col: str = "content_hash",
) -> DataFrame:
    """Keep the lowest-id row per distinct (normalized) content.

    Output: (hash_col, id_col, n_dups). One shuffle keyed by the
    content hash — uniformly distributed, so skew-free by construction.
    """
    h = content_hash(F.col(text_col)).alias(hash_col)
    return (
        df.select(h, F.col(id_col))
        .groupBy(hash_col)
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def shingle_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    key=None,
    partition_by_shingle: bool = False,
    spread: bool = True,
) -> DataFrame:
    """(id, shingle) pairs, distinct per doc — the join key space for
    candidate generation.

    ``key``: optional Column -> Column transform (e.g. ``F.xxhash64``)
    applied to each exploded shingle, so shingle identity — and every
    shuffle keyed by it — rides a fixed-width key instead of a raw
    n-gram string.  ``None`` keeps raw strings (the MinHash signature
    path hashes per-table with its own seeds and needs the original
    value).

    Each doc's shingles come from ONE regex pass over its text
    (:func:`~tweets_spark_top_10_spark.functions.text.shingles`) and
    ONE ``array_distinct`` BEFORE the explode — distinct-per-(id,
    shingle) is a row-local property of the source doc, so it needs a
    per-row expression, not the corpus-wide ``distinct()`` an earlier
    version ran (whose exchange shuffled every within-doc duplicate it
    was about to drop — at the 100x probe, HALF the exchange's rows).
    Keep per-element lambdas (``filter`` / ``zip_with`` / ``transform``)
    off this path: Spark interprets them element by element, and this
    is the widest per-row stage of the dedup pipeline.

    ``partition_by_shingle``: repartition by the shingle key.
    ``hashpartitioning(shingle)`` satisfies the clustered distribution
    of every downstream shingle-keyed operator — the hot-shingle
    DF-cap aggregate and BOTH sides of the candidate equi-join — so
    the whole n-gram pipeline runs off ONE exchange of the shingle
    table instead of three.

    The source is fanned out first when its scan arrives narrower than
    the core count (``spread_scan`` — a conditional no-op at cluster
    scale): the shingle/explode chain runs BEFORE the first
    exchange, and on the single-split fixture files it otherwise
    serializes on one core (r16: the single biggest stage of every
    shingle consumer at sf0.1).  ``spread=False`` opts out for callers
    whose downstream is a light broadcast-join + aggregate (the
    contamination checks), where the extra exchange measured as a net
    loss."""
    if spread:
        from tweets_spark_top_10_spark.functions.spread import spread_scan

        df = spread_scan(df)
    out = df.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("shingle")
    )
    if key is not None:
        out = out.select(F.col(id_col), key(F.col("shingle")).alias("shingle"))
    if partition_by_shingle:
        out = out.repartition("shingle")
    return out


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.2,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing a shingle.

    Plan shape: shingle equi-join (shuffle on shingle) → group by pair
    (shuffle on pair) → join per-doc counts (broadcast-able) → filter.
    ``max_shingle_df`` caps the document frequency of join-key shingles
    to keep hot keys from exploding the pair count at scale.
    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded to
    6 digits for cross-engine determinism.
    """
    # Referenced multiply below (the DF aggregation when capping, the
    # per-doc counts, and both self-join sides) — persist once so the
    # shingle/explode subplan runs once.  (At scale this is a
    # materialized per-corpus intermediate.)
    #
    # Compact shingle identity (round-8 verdict item 1): raw 3-gram
    # strings average tens of bytes and the DF-cap aggregate + pair
    # join shuffle the ENTIRE shingle table keyed by them — the 100x
    # probe's only spill (1.17 GB shuffle read, 4.4 GB memory spill)
    # was exactly this stage.  xxhash64 maps each shingle to a fixed
    # 8-byte key BEFORE anything shuffles; every downstream identity
    # use (DF cap, per-doc counts, candidate equi-join) only needs
    # set-equality of shingles, and the query output (id_a, id_b,
    # jaccard) never exposes shingle values, so the raw-string DuckDB
    # oracles are unchanged and double as a collision tripwire at test
    # scale.  A 64-bit collision merges two shingles' dedup evidence —
    # at billions of distinct shingles the birthday bound makes that a
    # handful of merged pairs, noise against a >=threshold Jaccard.
    # shingle_table hashes right after its per-doc explode, so even
    # the FIRST shuffle of the shingle pipeline moves 8-byte keys, not
    # strings — and with
    # partition_by_shingle the cached table is ALREADY hash-partitioned
    # by that key, so the DF-cap aggregate and both candidate-join
    # sides below add ZERO further corpus-sized exchanges.
    sh = (
        shingle_table(
            df, text_col, id_col, n, key=F.xxhash64, partition_by_shingle=True
        )
        .transform(persist_tracked)
    )
    if max_shingle_df is not None:
        # Skew-safe DF cap.  Document frequency comes from a groupBy —
        # which gets map-side partial aggregation — NOT from
        # `count(*) over (partition by shingle)`: a window partitioned
        # by `shingle` routes every row of a hot shingle through a
        # single task with no partial, so the hottest keys (the exact
        # ones the cap exists to remove) become stragglers before the
        # filter can drop them.  The hot list is tiny by construction
        # (boilerplate shingles are rare kinds with huge counts), so it
        # broadcasts, and the anti-join is a shuffle-free cache scan.
        # Measured (sf0.1 docs ×10 + a boilerplate sentence in every
        # doc): the shingle-keyed shuffle the window needs routes 229k
        # rows to its hottest task vs 98k average — a ratio that grows
        # linearly with the hot shingle's DF — while the groupBy's
        # reduce input per shingle is bounded by the map-partition
        # count regardless of DF.
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > int(max_shingle_df))
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))

    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    na = counts.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    nb = counts.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    return (
        shared.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_band_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_tables: int = 8,
    seed: int = 42,
    shingles: DataFrame | None = None,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Near-dup candidate pairs via hand-rolled MinHash banding.

    Same sub-quadratic shape as ``pyspark.ml``'s MinHashLSH OR-construction
    (one band per table, r=1) but entirely whole-stage-codegen'd: the
    signature is ``num_tables`` MIN(xxhash64(shingle, seed+i)) columns in
    ONE hash aggregate over the exploded shingle table, exploded to long
    format (doc, table, min) so ALL tables band in ONE self-equi-join on
    (table, min) — a single shuffle regardless of num_tables, vs one
    join stage per table.  No ML pipeline fit, no sparse-vector
    materialization, no vector-UDF distance — measured ~4x faster than
    the ml pipeline at sf0.1 with identical banding guarantees
    (collision probability per table for a pair with true Jaccard s is
    s; miss probability (1-s)^num_tables).

    At 100 TB the band values inherit shingle-frequency skew (a corpus-
    dominant shingle's hash can become the min for many docs); the
    candidate join is AQE-skew-splittable, and callers can pre-cap hot
    shingles with ``max_shingle_df`` semantics upstream.

    ``shingles``: optionally pass a prepared (id, shingle) table so one
    scan/explode is shared with the exact rerank — at scale this is a
    materialized intermediate, computed once per corpus.

    ``signatures``: optionally pass a prepared WIDE signature table
    (:func:`minhash_signatures` output, extra columns like ``n_sh``
    ignored) — the caller persists it and shares the one signature
    aggregate with whatever else consumes it (e.g. the rerank's
    denominator counts); the internal long-format persist is skipped
    in that case because the source is already cached upstream.

    Output: (id_a, id_b) candidate pairs with id_a < id_b, distinct
    across tables.  Callers compute exact similarity on candidates via
    :func:`lsh_exact_rerank`.
    """
    wide = (
        signatures
        if signatures is not None
        else minhash_signatures(df, text_col, id_col, n, num_tables, seed, shingles)
    )
    sig = (
        wide.select(
            F.col(id_col),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("t"), F.col(f"mh{i}").alias("mh")
                        )
                        for i in range(num_tables)
                    ]
                )
            ).alias("e"),
        )
        .select(F.col(id_col), F.col("e.t").alias("t"), F.col("e.mh").alias("mh"))
    )
    if signatures is None:
        sig = sig.transform(persist_tracked)
    a = sig.select(F.col(id_col).alias("id_a"), "t", "mh")
    b = sig.select(F.col(id_col).alias("id_b"), "t", "mh")
    return (
        a.join(b, ["t", "mh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_tables: int = 8,
    seed: int = 42,
    shingles: DataFrame | None = None,
    with_count: bool = False,
) -> DataFrame:
    """Wide per-document MinHash signature: (id, mh0..mh{t-1}).

    ONE hash aggregate over the exploded shingle table — this is the
    persistable signature artifact (8 longs = 64 bytes/doc) that banding
    (:func:`minhash_band_pairs`) consumes.  A document's signature
    depends only on its own text, so new or changed docs re-sketch and
    everything else is untouched.

    ``with_count`` adds ``n_sh`` (the per-doc distinct-shingle count)
    as one more column of the SAME aggregate: the exact-rerank's
    Jaccard denominator needs that count anyway, and computing it here
    deletes a whole second corpus aggregate over the shingle table
    (same groupBy key, same shuffle) from the banding+rerank pipeline.
    """
    sh = shingles if shingles is not None else shingle_table(df, text_col, id_col, n)
    aggs = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(seed + i))).alias(f"mh{i}")
        for i in range(num_tables)
    ]
    if with_count:
        aggs.append(F.count(F.lit(1)).alias("n_sh"))
    return sh.groupBy(id_col).agg(*aggs)


def lsh_exact_rerank(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    shingles: DataFrame | None = None,
    counts: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard computed on CANDIDATE pairs only.

    The scale contract of LSH: the all-pairs join never happens; exact
    similarity runs on the (sub-quadratic) candidate set.  Plan shape:
    candidates join shingles of side a (explodes each pair by a's
    shingles), equi-join side b on (id_b, shingle) to count the
    intersection, then the Jaccard filter.  Cost is
    O(|candidates| x shingles/doc), independent of corpus size.

    Output: (id_a, id_b, jaccard) — exact, rounded to 6 digits.
    ``shingles``: optionally pass a prepared (id, shingle) table shared
    with candidate generation (it is referenced three times here —
    persist it at the call site).
    ``counts``: optionally pass precomputed per-doc distinct-shingle
    counts as (id_col, n_sh) — e.g. the ``n_sh`` column of
    ``minhash_signatures(with_count=True)`` — so the Jaccard
    denominator reuses the signature aggregate instead of running a
    second corpus aggregate over the shingle table.
    """
    sh = shingles if shingles is not None else shingle_table(df, text_col, id_col, n)
    # Identity-only use from here on (counts + intersection equi-join):
    # compact raw strings to 8-byte xxhash64 keys so the (id_b, shingle)
    # join shuffles fixed-width rows.  A projection over the (possibly
    # call-site-persisted) raw table — cache reuse is preserved, and the
    # MinHash banding that shares the raw table keeps its own seeds.
    sh = sh.select(F.col(id_col), F.xxhash64("shingle").alias("shingle"))
    if counts is None:
        counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    else:
        counts = counts.select(F.col(id_col), F.col("n_sh"))
    pa = pairs.select("id_a", "id_b").distinct()
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("shingle"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("shingle"))
    # The pair-by-a's-shingles expansion (|candidates| x shingles/doc
    # rows) is the widest relation in the plan; the default sort-merge
    # join would SORT it to meet sb, and that sort is pure overhead —
    # profiled at 100x fixtures it spilled 14 GB memory / 6 GB disk and
    # was the single hottest stage (2040 s executor time of a 122 s
    # run).  A shuffled-hash join builds on sb instead: sb is the
    # compacted 16-byte-row shingle table whose per-partition build
    # (corpus_bytes / shuffle.partitions) is the thing a cluster sizes
    # anyway, while the expansion side streams unsorted.  Same
    # exchanges, no sort, no spill (re-profiled: the stage's spill is
    # zero and the 100x wall drops ~2x).
    shared = (
        pa.join(sa, "id_a")
        .join(sb.hint("shuffle_hash"), ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    na = counts.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    nb = counts.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    return (
        shared.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def collapse_exact_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rep_col: str = "rep_id",
) -> tuple[DataFrame, DataFrame]:
    """Byte-identical document collapse for pairwise dedup pipelines.

    The text-side twin of the embedding-side exact-duplicate collapse
    that round 8 gave semantic dedup (SemDeDup's standard prepass): in
    a crawl-scale corpus a large fraction of documents are
    byte-identical (mirrors, reposts, boilerplate pages), and every
    pairwise candidate generator pays QUADRATICALLY for them — a
    k-member identical group has identical shingle sets, hence
    identical MinHash signatures, so it lands k docs in the SAME band
    bucket of EVERY table: ~k²/2 candidate pairs per table, all
    reranked to the foregone conclusion jaccard = 1.0.  Collapsing to
    one representative per distinct text makes that k → 1 BEFORE any
    signature work; :func:`expand_rep_pairs` reconstructs the full
    doc-level pair list EXACTLY afterward, because Jaccard is a
    function of the shingle set alone and byte-identical docs are
    interchangeable in every pair.

    Returns ``(reps, members)``: ``reps`` has one row per distinct
    text, keyed by the group-minimum ``id_col`` (rep ids are real doc
    ids); ``members`` maps every doc to its group as
    ``(id_col, rep_col, grp_n)``.

    Shape at scale: one md5 projection, one hash-keyed groupBy (min,
    first, count — all partial-aggregable, so a 10M-member identical
    group collapses MAP-SIDE instead of flooding one reducer; the
    window-function formulation was rejected for exactly the reason
    documented on the hot-shingle DF cap above), and one narrow
    (id, 16-byte-hash) join to label members.  Identity is full md5
    (128-bit), NOT xxhash64: a collision here would MERGE two
    different texts and emit wrong jaccard=1.0 pairs, so the 64-bit
    birthday margin that is fine for dedup *evidence* keys is not
    acceptable for an *equivalence* key; 128 bits is.
    """
    h = df.select(
        F.col(id_col), F.col(text_col), F.unhex(F.md5(text_col)).alias("h")
    )
    # Referenced twice below (reps projection + members join).
    groups = (
        h.groupBy("h")
        .agg(
            F.min(id_col).alias(rep_col),
            # All texts in a group are byte-identical, so first() is
            # deterministic by value regardless of which row wins.
            F.first(text_col).alias(text_col),
            F.count(F.lit(1)).alias("grp_n"),
        )
        .transform(persist_tracked)
    )
    reps = groups.select(F.col(rep_col).alias(id_col), F.col(text_col))
    members = (
        h.select(F.col(id_col), "h")
        .join(groups.select("h", rep_col, "grp_n"), "h")
        .select(F.col(id_col), F.col(rep_col), F.col("grp_n"))
    )
    return reps, members


def expand_rep_pairs(
    rep_pairs: DataFrame,
    members: DataFrame,
    rep_sh_ids: DataFrame,
    id_col: str = "doc_id",
    rep_col: str = "rep_id",
    sim_col: str = "jaccard",
    identical_sim: float = 1.0,
) -> DataFrame:
    """Reconstruct the doc-level pair list from rep-level pairs.

    Inverse of :func:`collapse_exact_dups`, in two disjoint parts:

    - **Cross-group**: every rep pair ``(ra, rb, sim)`` expands to all
      ``(a, b, sim)`` with ``a ∈ group(ra)``, ``b ∈ group(rb)`` — the
      rep's similarity IS every member pair's similarity (identical
      shingle sets within a group).  ``least``/``greatest`` restore
      the ``id_a < id_b`` canon, since member ids need not follow rep
      order.  Disjoint from within-group by construction (``ra ≠ rb``).
    - **Within-group**: every group with ≥2 members contributes all its
      internal pairs at ``identical_sim`` — gated on the rep having at
      least one shingle (``rep_sh_ids``): docs too short to produce a
      shingle never enter the pair space at all (their Jaccard is
      0/0), and byte-identical copies of such docs must not either.

    The within-group part is OUTPUT-quadratic — a k-member group owns
    k(k-1)/2 true pairs and a pair-list contract has to emit them.
    The collapse's point is that banding / band-join / rerank COMPUTE
    is no longer quadratic in k; the expansion is a straight
    per-group self-join of the member list, sized by the output it is
    contractually required to produce.  (A real 100 TB dedup keeps
    the (doc, rep) mapping instead of the exploded pair list — that
    mapping is exactly ``members``.)
    """
    ma = members.select(F.col(rep_col).alias("id_a"), F.col(id_col).alias("_a"))
    mb = members.select(F.col(rep_col).alias("id_b"), F.col(id_col).alias("_b"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("_a", "_b").alias("id_a"),
            F.greatest("_a", "_b").alias("id_b"),
            F.col(sim_col),
        )
    )
    dup = members.filter(F.col("grp_n") > 1).join(
        rep_sh_ids.select(F.col(id_col).alias(rep_col)), rep_col, "semi"
    )
    wa = dup.select(F.col(rep_col).alias("_g"), F.col(id_col).alias("id_a"))
    wb = dup.select(F.col(rep_col).alias("_g"), F.col(id_col).alias("id_b"))
    within = (
        wa.join(wb, "_g")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", F.lit(identical_sim).cast("double").alias(sim_col)
        )
    )
    return cross.unionByName(within)


#: Rounds the last :func:`connected_components` call took to converge —
#: 0 when it finished on the driver; read by the deep-chain A/B test;
#: not part of the stable API.
_last_cc_rounds: int = 0

#: Largest edge count :func:`connected_components` labels on the driver
#: (one union-find over the collected edges) instead of running the
#: distributed star rounds.  See that function's docstring for the
#: measured crossover.
_DRIVER_CC_MAX_EDGES = 1_000_000


def _min_root_labels(edges) -> dict:
    """Union-find over an iterable of ``(a, b)`` edges: a dict mapping
    every endpoint to the minimum id reachable from it.

    Union-by-min keeps each root the minimum of its set, and path
    halving keeps ``find`` near-constant; a self-loop ``(a, a)`` just
    registers ``a`` as its own component."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return {x: find(x) for x in parent}


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Dedup clusters: connected components over a near-dup pair list.

    The pair list is materialized once and counted.  A graph of at most
    :data:`_DRIVER_CC_MAX_EDGES` edges is collected (Arrow) and labeled
    with one union-find on the driver (:func:`_min_root_labels`): the
    per-shard cost of the star rounds below is per-job scheduling, not
    compute — ~26 small jobs for a ~5k-edge benchmark shard — so a
    small graph finishes in one collect.  Measured on a 4-core host
    (``local[4]``, warm JVM) over near-dup-shaped graphs (components of
    4–64 nodes, half chains, half cliques), driver finish vs. star
    rounds, result counted: 5k edges 0.2 vs 7.0 s, 100k 0.6 vs 7.7 s,
    300k 1.6 vs 13.9 s, 1M 4.3 vs 17.6 s, 3M 14.7 vs 41.8 s.  On one
    host the star rounds never win; their ~7 s is fixed per-job cost
    plus ~12 µs per edge on 4 cores, and a cluster divides the
    per-edge part while the driver's ~5 µs per edge is one Python
    thread.  The driver finish reaches the star rounds' fixed cost at
    about 1.5M edges, so the constant is 1M: below it the driver wins
    on any cluster size, at a driver peak of ~170 MB of Python memory
    (~520 MB at 3M).  Above it the distributed path runs unchanged.

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014) — each round is two
    grouped-min + join passes over the edge set, and the edge set
    contracts toward min-rooted stars in **O(log d)** rounds instead of
    the O(d) of min-label propagation.  That difference is the whole
    point at 100 TB: an adversarial near-dup CHAIN (template docs each
    one edit apart) has diameter ~cluster size, and label propagation
    would run hundreds of shuffles where this runs ~10
    (``tests/test_components.py::test_cc_deep_chain_converges_in_log_rounds``).

    Per round: large-star hangs every neighbor LARGER than the center
    off the center's 1-hop minimum (cuts long tails onto small ids
    without losing connectivity); small-star re-points every smaller
    neighbor at that minimum (flattens the resulting tree).  Fixed
    point = every edge (u, m) points directly at its component's
    minimum id.  ``localCheckpoint`` truncates the growing lineage each
    round (at 100 TB this would be a persisted iteration table);
    convergence is probed with a single-row checksum aggregate
    (count + hash-sum) — one cheap action per round, with ``max_iter``
    as the hard bound: a contraction still moving after ``max_iter``
    rounds raises ``RuntimeError`` rather than return labels that are
    not yet min-rooted.

    Output: (node, component) — component = min doc id reachable;
    identical labels on both paths, so the recursive-CTE oracle is
    unchanged.  Only nodes appearing in pairs are labeled (isolated
    docs are trivially their own cluster; a node seen only in a
    self-loop is labeled with itself).
    """
    global _last_cc_rounds
    # Materialize the (often expensive) upstream pair plan exactly ONCE;
    # the count below is its first action, and everything after it —
    # the driver collect, or the node inventory and star rounds — reads
    # the checkpoint, so candidate generation never re-evaluates.
    e0 = pairs.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).localCheckpoint(eager=False)
    if e0.count() <= _DRIVER_CC_MAX_EDGES:
        t = e0.toArrow()
        labels = _min_root_labels(
            zip(t.column("u").to_pylist(), t.column("v").to_pylist())
        )
        _last_cc_rounds = 0
        id_type = t.schema.field("u").type
        return pairs.sparkSession.createDataFrame(
            pa.table(
                {
                    "node": pa.array(list(labels), id_type),
                    "component": pa.array(list(labels.values()), id_type),
                }
            )
        )
    nodes = (
        e0.select(F.explode(F.array("u", "v")).alias("node")).distinct()
    )
    # LAZY checkpoints throughout the iteration (r16): each round's
    # convergence probe is an action over the fresh edge set anyway, so
    # it doubles as the checkpoint materialization — eager=True paid a
    # separate materialization job per round (2 jobs/round -> 1; the
    # lineage truncation on first action is identical).
    e = (
        e0.filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    prev_sig = None
    for it in range(max_iter):
        # -- large-star: symmetrize (one explode, not a self-union that
        # would evaluate the upstream twice), center = u, m = min(Γ∪{u});
        # emit (v, m) for strictly larger neighbors.
        sym = e.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
                    F.struct(F.col("v").alias("a"), F.col("u").alias("b")),
                )
            ).alias("x")
        ).select(F.col("x.a").alias("u"), F.col("x.b").alias("v"))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", "u").alias("m"))
        )
        # persist, not an eager checkpoint: `large` is consumed twice
        # WITHIN this round (center-min aggregate + re-point join), so a
        # lazy cache shares the work without paying a materialization
        # job; its lineage dies with the round's checkpoint of `e`.
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
            .persist()
        )
        # -- small-star: canonical direction (larger -> smaller), center
        # = larger endpoint, m = min of its smaller neighbors; re-point
        # every neighbor and the center itself at m.
        d = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins2 = d.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            d.join(mins2, "u")
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("v").alias("a"), F.col("m").alias("b")),
                        F.struct(F.col("u").alias("a"), F.col("m").alias("b")),
                    )
                ).alias("x")
            )
            .filter(F.col("x.a") != F.col("x.b"))
            .select(F.col("x.a").alias("u"), F.col("x.b").alias("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # Convergence: the (distinct) edge set is a fixed point iff its
        # (count, order-independent hash-xor) signature stopped moving —
        # one single-row aggregate instead of a full set-difference
        # join.  XOR, not SUM: overflow-free under ANSI mode.
        sig = tuple(
            e.agg(
                F.count(F.lit(1)), F.bit_xor(F.xxhash64("u", "v"))
            ).collect()[0]
        )
        large.unpersist(blocking=False)
        _last_cc_rounds = it + 1
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"connected_components: star contraction did not reach a fixed "
            f"point in {max_iter} rounds; its labels are not min-rooted yet"
        )
    comp_map = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    return (
        nodes.join(comp_map, "node", "left")
        .groupBy("node")
        .agg(F.min("component").alias("c"))
        .select("node", F.coalesce("c", "node").alias("component"))
    )


def blocked_components(
    pairs: DataFrame,
    block_cols: list[str],
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Connected components of a pair graph whose edges NEVER cross
    ``block_cols`` — the semantic-dedup case, where candidate pairs are
    generated by an equi-join on (cell, sub_cell) and therefore
    partition the graph by construction.

    A graph that cannot span blocks needs no iterative global
    contraction: each block resolves independently with a union-find
    over its own edges (grouped-map ``applyInPandas``, Arrow-batched —
    the sanctioned escape hatch for genuinely iterative local logic).
    Per-group state is bounded by the block's pair count, which the
    sub-cell cap bounds at ~cap² by construction, and the group-by
    adds NO shuffle when the pair plan is already partitioned by the
    block key (the semantic-dedup cell cache is).  Replaces ~4
    shuffles × O(log d) sequential rounds of the global star
    contraction with ONE embarrassingly parallel stage.

    Union-by-min + path halving keeps ``component`` = the block-local
    minimum reachable id — identical labels to
    :func:`connected_components` on the same (block-partitioned) edge
    set, so the recursive-CTE oracle is unchanged.  Output:
    (node, component), nodes appearing in pairs only.
    """
    import pandas as pd

    def _cc(pdf: pd.DataFrame) -> pd.DataFrame:
        labels = _min_root_labels(zip(pdf[src].tolist(), pdf[dst].tolist()))
        return pd.DataFrame(
            {"node": list(labels), "component": list(labels.values())}
        )

    return pairs.groupBy(*block_cols).applyInPandas(
        _cc, "node long, component long"
    )


def bridged_components(
    pairs: DataFrame,
    bridges: DataFrame,
    block_cols: list[str],
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Connected components over (block-local ``pairs``) ∪ (sparse
    ``bridges`` that MAY cross blocks) — the split-cell semantic-dedup
    case, where the bulk edge set partitions by (cell, sub_cell) but
    rep-sampling links (``subcell_rep_pairs``) bridge sub-cells.

    Two-level contraction: the bulk resolves with the one-stage
    block-local union-find (:func:`blocked_components`), then each
    bridge endpoint is re-labeled to its block-component id and the
    global star contraction (:func:`connected_components`) runs over
    the CONTRACTED bridge graph only — ≤ one node per (cell,
    sub_cell), ~1.25·√N corpus-wide, never the corpus.  Because every
    block label is the min id of its block component, the min-id label
    of a merged group equals the min over all member nodes: identical
    (node, component) output to running the global contraction over
    the full edge union, at a fraction of the iterative-stage input.

    Output: (node, component) for nodes appearing in ``pairs`` or
    ``bridges``.
    """
    # The block-local pass is referenced FOUR times below (endpoint
    # labeling, both sides of the label-edge build via `labels`, the
    # node inventory) and its input is the expensive capped pair join —
    # unpersisted, the union-find re-evaluated per reference (measured
    # 6.3 → 34 s on the clustered 10× probe before this cache).
    comp1 = persist_tracked(blocked_components(pairs, block_cols, src, dst))
    ends = (
        bridges.select(F.col(src).alias("node"))
        .unionByName(bridges.select(F.col(dst).alias("node")))
        .distinct()
    )
    # bridge endpoint -> block-component label (itself when isolated
    # within its sub-cell)
    labels = ends.join(comp1, "node", "left").select(
        "node", F.coalesce("component", "node").alias("label")
    )
    label_edges = (
        bridges.join(
            labels.select(F.col("node").alias(src), F.col("label").alias("__la")),
            src,
        )
        .join(
            labels.select(F.col("node").alias(dst), F.col("label").alias("__lb")),
            dst,
        )
        .select(F.col("__la").alias(src), F.col("__lb").alias(dst))
        .filter(F.col(src) != F.col(dst))
    )
    label_comp = connected_components(label_edges, src, dst).select(
        F.col("node").alias("__label"), F.col("component").alias("__final")
    )
    node_labels = comp1.unionByName(
        labels.select("node", F.col("label").alias("component"))
    ).distinct()
    return node_labels.join(
        label_comp, node_labels["component"] == label_comp["__label"], "left"
    ).select("node", F.coalesce("__final", "component").alias("component"))


def simhash64(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "simhash",
) -> DataFrame:
    """64-bit SimHash per document, entirely JVM-side.

    explode(tokens) -> per-token ``xxhash64`` (built-in, deterministic)
    -> per-bit majority vote as 64 conditional SUMs in ONE hash aggregate
    (partial+final, map-side combined) -> reassemble the signature with
    shifts/ORs. No Python in the plan: an earlier Pandas-UDF version
    measured 4.3s for 5k docs; this is ~10x cheaper and scales with the
    aggregate, not the Python boundary.

    Output: (id_col, out_col). Documents with no tokens get signature 0.
    """
    toks = tokenize(F.col(text_col))
    exploded = df.select(
        F.col(id_col), F.explode_outer(toks).alias("__tok")
    ).select(
        F.col(id_col),
        # xxhash64(NULL) is the seed, not NULL — guard so token-less
        # docs (explode_outer emits one null row) vote -1 everywhere
        # and land on signature 0.
        F.when(
            F.col("__tok").isNotNull(), F.xxhash64("__tok")
        ).alias("__th"),
    )
    # Majority vote per bit j, branch-free: with s = SUM(bit_j) over c
    # non-null token hashes, the +/-1 vote sum is 2s - c, so bit_j of
    # the signature is 1 iff 2s > c.  Plain shift+AND sums generate far
    # less code than 64 CASE WHEN branches (first-execution codegen
    # compile dropped ~2x); SUM skips null hashes (token-less docs).
    # Both 64-term groups are built as SQL strings: Column-by-Column
    # construction cost ~1.3 s of Py4J driver time PER CALL (the r11
    # srp_signatures lesson); the parsed trees are identical.
    votes = [
        F.expr(f"sum(shiftrightunsigned(__th, {j}) & 1)").alias(f"v{j}")
        for j in range(64)
    ]
    voted = exploded.groupBy(id_col).agg(
        F.count("__th").alias("__c"), *votes
    )
    sig_sql = " | ".join(
        f"shiftleft(CAST(coalesce(v{j}, 0) * 2 > __c AS BIGINT), {j})"
        for j in range(64)
    )
    return voted.select(F.col(id_col), F.expr(sig_sql).alias(out_col))


def simhash_md5(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "simhash",
    bits: int = 60,
) -> DataFrame:
    """Engine-portable SimHash: token hash = first 15 hex chars of md5
    (60 bits, so the value stays inside a signed 64-bit long in every
    engine), per-bit majority vote — the same single-aggregate plan
    shape as :func:`simhash64`, which remains the production path
    (xxhash64 is ~2-3x cheaper than md5).  The point of this variant is
    that md5 is a cross-engine builtin, so the banded near-dup PAIR
    LIST itself can carry a full DuckDB value oracle
    (``simhash_near_dups``) instead of a rows-only gate.

    Documents with zero tokens produce no signature row (explode of an
    empty array), mirroring SQL ``unnest`` semantics on both sides.
    """
    toks = tokenize(F.col(text_col))
    exploded = df.select(
        F.col(id_col), F.explode(toks).alias("__tok")
    ).select(
        F.col(id_col),
        F.conv(F.substring(F.md5("__tok"), 1, 15), 16, 10)
        .cast("long")
        .alias("__th"),
    )
    # SQL-string construction, same rationale (and same parsed tree) as
    # simhash64; no coalesce here — explode (not explode_outer) means
    # every surviving group has >= 1 non-null hash.
    votes = [
        F.expr(f"sum(shiftrightunsigned(__th, {j}) & 1)").alias(f"v{j}")
        for j in range(bits)
    ]
    voted = exploded.groupBy(id_col).agg(F.count("__th").alias("__c"), *votes)
    sig_sql = " | ".join(
        f"shiftleft(CAST(v{j} * 2 > __c AS BIGINT), {j})"
        for j in range(bits)
    )
    return voted.select(F.col(id_col), F.expr(sig_sql).alias(out_col))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    simhash_col: str = "simhash",
    max_hamming: int = 3,
    n_bands: int = 4,
    band_bits: int = 16,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, banded for scale.

    Pigeonhole: two signatures within Hamming distance d <= n_bands-1
    agree exactly on at least one of the ``n_bands`` ``band_bits``-wide
    bands (defaults fit the 64-bit :func:`simhash64`; the 60-bit
    :func:`simhash_md5` uses 4x15). Candidates come from ONE
    self-equi-join on (band_index, band_value) over the long-format
    signature table (``n_bands`` rows/doc) — a single shuffle, never
    a cross join — then the exact popcount filter runs on candidates.
    """
    # Materialize long-format signatures once: both join sides reference
    # this table, and without a persist each reference re-runs the
    # signature computation. At scale this is a written signature table
    # (16 bytes/doc); in-session, persist is its moral equivalent.
    sig = df.select(
        F.col(id_col),
        F.col(simhash_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("t"),
                        F.shiftrightunsigned(F.col(simhash_col), band_bits * i)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("band"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("e"),
    ).select(
        F.col(id_col),
        F.col(simhash_col),
        F.col("e.t").alias("t"),
        F.col("e.band").alias("band"),
    ).transform(persist_tracked)
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    a = sig.select(
        F.col(id_col).alias("id_a"), F.col(simhash_col).alias("sh_a"), "t", "band"
    )
    b = sig.select(
        F.col(id_col).alias("id_b"), F.col(simhash_col).alias("sh_b"), "t", "band"
    )
    # popcount-filter inside the join branch (codegen'd, pre-shuffle)
    # so the cross-band dedup below shuffles only surviving id pairs.
    return (
        a.join(b, ["t", "band"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(hamming <= max_hamming)
        .select("id_a", "id_b", hamming.cast("long").alias("hamming"))
        .distinct()
    )

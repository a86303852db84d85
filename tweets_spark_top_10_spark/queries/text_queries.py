"""Text-analysis and dedup queries over the ``documents`` table.

[EXT] surface (SURVEY.md §2.2): exact dedup, n-gram Jaccard near-dup,
token statistics, stopword/quality metrics, bigram mining, content
fingerprints, heuristic language ID (rows-only check — not ANSI-SQL
expressible in a sane way).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tweets_spark_top_10_spark.functions.cachectl import persist_tracked
from tweets_spark_top_10_spark.functions.spread import spread_scan
from tweets_spark_top_10_spark.functions.dedup import (
    exact_dedup,
    lsh_exact_rerank,
    minhash_band_pairs,
    ngram_jaccard_pairs,
)
from tweets_spark_top_10_spark.functions.text import (
    ENGLISH_STOPWORDS,
    fingerprint,
    language_id,
    ngrams,
    quality_score,
    stopword_ratio,
    token_count,
    tokenize,
)
from tweets_spark_top_10_spark.operators.topk import top_k
from tweets_spark_top_10_spark.queries.registry import register
from tweets_spark_top_10_spark.sources.registry import load_table


@register(
    "dedup_exact_docs",
    oracle=r"""
    SELECT
      md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash,
      MIN(doc_id) AS doc_id,
      COUNT(*) AS n_dups
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 content hash -> one shuffle keyed by the hash (uniform, skew-free), keep min doc_id + duplicate count."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id", hash_col="content_hash")


@register(
    "doc_token_stats",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS arr,
             length(text) AS text_len
      FROM documents
    )
    SELECT doc_id,
           CAST(len(arr) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(arr)) AS BIGINT) AS n_distinct_tokens,
           CAST(text_len AS BIGINT) AS text_len,
           ROUND(CASE WHEN len(arr) > 0
                 THEN CAST(len(list_distinct(arr)) AS DOUBLE) / len(arr)
                 ELSE 0.0 END, 6) AS ttr
    FROM toks
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counts + type-token ratio, fully array-native (no shuffle
    except none at all — this is a pure map)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    d = docs.select(
        "doc_id",
        token_count(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        F.length("text").cast("long").alias("text_len"),
    )
    ttr = F.when(
        F.col("n_tokens") > 0,
        F.col("n_distinct_tokens").cast("double") / F.col("n_tokens"),
    ).otherwise(0.0)
    return d.select(
        "doc_id", "n_tokens", "n_distinct_tokens", "text_len",
        F.round(ttr, 6).alias("ttr"),
    )


@register(
    "doc_stopword_ratio",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS arr
      FROM documents
    )
    SELECT doc_id,
           ROUND(CASE WHEN len(arr) > 0
             THEN CAST(len(list_filter(arr,
                  t -> list_contains({ENGLISH_STOPWORDS!r}, t))) AS DOUBLE) / len(arr)
             ELSE 0.0 END, 6) AS stop_ratio
    FROM toks
    """,
)
def doc_stopword_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword ratio per doc, array-native (aggregate over tokens, no Python)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    return docs.select(
        "doc_id", F.round(stopword_ratio(toks), 6).alias("stop_ratio")
    )


@register(
    "top_bigrams",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS arr
      FROM documents
    ), grams AS (
      SELECT unnest(list_transform(
               range(1, greatest(len(arr), 1)),
               i -> arr[i] || ' ' || arr[i + 1]
             )) AS bigram
      FROM toks
    )
    SELECT bigram, COUNT(*) AS n
    FROM grams
    GROUP BY bigram
    ORDER BY n DESC, bigram ASC
    LIMIT 20
    """,
)
def top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram mining, array-native: no per-token shuffle, one group-count
    shuffle on the bigram string (cf. the reference's hashtag count,
    App.java:97-99 — same plan shape, synthesized array)."""
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(F.explode(ngrams(F.col("text"), 2)).alias("bigram"))
    counted = grams.groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
    return top_k(counted, [F.desc("n"), F.asc("bigram")], k=20)


@register(
    "doc_fingerprints",
    oracle=r"""
    SELECT doc_id,
           substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 16)
             AS fp
    FROM documents
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic document fingerprint (md5 of normalized text) for exact-dup keys and incremental diffing."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))


@register(
    "ngram_jaccard_dup_pairs",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS arr
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, greatest(len(arr) - 1, 1)),
                 i -> arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2]
               )) AS shingle
        FROM toks
      ) raw
    ), keep AS (
      SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 100
    ), shk AS (
      SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)
    ), counts AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM shk GROUP BY doc_id
    ), shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      FROM shk a JOIN shk b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(CAST(shared AS DOUBLE) / (ca.n_sh + cb.n_sh - shared), 6)
             AS jaccard
    FROM shared
    JOIN counts ca ON ca.doc_id = id_a
    JOIN counts cb ON cb.doc_id = id_b
    WHERE CAST(shared AS DOUBLE) / (ca.n_sh + cb.n_sh - shared) >= 0.1
    """,
)
def ngram_jaccard_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs; candidates from a shingle
    equi-join, never a cross join.  ``max_shingle_df=100`` drops
    boilerplate shingles shared by >100 docs — the hot-key guard that
    keeps the candidate set sub-quadratic at scale (a shingle shared by
    10k docs contributes ~5e7 pairs and zero dedup evidence).  The
    oracle applies the identical document-frequency cap."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=0.1, max_shingle_df=100
    )


@register(
    "doc_tfidf_top3",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(
        regexp_split_to_array(text, '\s+'), t -> t <> '')) AS token
      FROM documents
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2
    ), df AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1
    ), n AS (
      SELECT COUNT(*) AS n FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.token,
             ROUND(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf
      FROM tf JOIN df USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, tfidf, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, token ASC
      ) AS BIGINT) AS rank
      FROM scored
    ) t WHERE rank <= 3
    """,
)
def doc_tfidf_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF with per-doc top-3 terms: tf and df from one exploded
    token table (two aggregations, both keyed by uniformly-hashed
    token/doc — skew-free), idf as ln(N/df) with N broadcast via a
    1-row cross join (never a driver-side collect in the plan).
    Ranking is on the ROUNDED score + token tie-break, so ordering is
    engine-independent."""
    docs = load_table(spark, sf_dir, "documents")
    # NOT spread_scan-fanned (r17, adjudicating the r16 driver
    # regression): the explode feeds two map-side-combining aggregates
    # directly — the BPE-word-table decision rule — and the conditional
    # exchange measured as a net loss: interleaved on/off min-of-4,
    # 1.73 s spread vs 1.27 s unspread (every unspread pass beat every
    # spread pass).
    toks = docs.select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_t = toks.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df")
    )
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(df_t, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
    )


@register(
    "dedup_components",
    oracle=r"""
    WITH RECURSIVE toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS arr
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, greatest(len(arr) - 1, 1)),
                 i -> arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2]
               )) AS shingle
        FROM toks
      ) raw
    ), keep AS (
      SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 100
    ), shk AS (
      SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)
    ), counts AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM shk GROUP BY doc_id
    ), shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      FROM shk a JOIN shk b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b FROM shared
      JOIN counts ca ON ca.doc_id = id_a
      JOIN counts cb ON cb.doc_id = id_b
      WHERE CAST(shared AS DOUBLE) / (ca.n_sh + cb.n_sh - shared) >= 0.1
    ), edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), walk(n, m) AS (
      SELECT a, a FROM edges
      UNION
      SELECT w.n, e.b FROM walk w JOIN edges e ON w.m = e.a
    )
    SELECT n AS node, MIN(m) AS component FROM walk GROUP BY n
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: n-gram Jaccard pairs → connected components
    (functions/dedup.py): a driver union-find when the pair list is at
    most 1M edges, else the large-star/small-star contraction; both
    give each node its minimum reachable id.  The oracle recomputes
    components with a recursive CTE, so the DataFrame result is under
    the full value gate.  The pair step runs with the same ``max_shingle_df=100`` hot-shingle cap as
    ``ngram_jaccard_dup_pairs`` (mirrored in the oracle), so the edge
    list stays sub-quadratic at scale."""
    from tweets_spark_top_10_spark.functions.dedup import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=0.1, max_shingle_df=100
    )
    return connected_components(pairs)


@register(
    "doc_quality",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, text,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS arr
      FROM documents
    ), m AS (
      SELECT doc_id,
             len(arr) AS n_tok,
             CASE WHEN len(arr) > 0
                  THEN CAST(length(array_to_string(arr, '')) AS DOUBLE) / len(arr)
                  ELSE 0.0 END AS mean_len,
             CASE WHEN length(text) > 0
                  THEN CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
                            AS DOUBLE) / length(text)
                  ELSE 0.0 END AS pr
      FROM t
    )
    SELECT doc_id,
           ROUND(
             0.4 * (CASE WHEN n_tok BETWEEN 10 AND 5000 THEN 1.0
                         WHEN n_tok > 0 THEN 0.5 ELSE 0.0 END)
           + 0.3 * (CASE WHEN mean_len >= 2.0 AND mean_len <= 12.0
                         THEN 1.0 ELSE 0.5 END)
           + 0.3 * (1.0 - least(pr * 4.0, 1.0)), 6) AS quality
    FROM m
    """,
)
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score (token-count band, mean token length
    band, punctuation ratio) — the cheap gate before expensive model
    scoring.  The blend is arbitrary but FIXED, so the oracle replays
    the exact formula."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    return docs.select(
        "doc_id", quality_score(F.col("text"), toks).alias("quality")
    )


def _langid_oracle() -> str:
    from tweets_spark_top_10_spark.functions.text import LANG_STOPWORDS

    score_cols = ",\n".join(
        f"       len(list_filter(arr, t -> list_contains({LANG_STOPWORDS[lang]!r}, t)))"
        f" AS s_{lang}"
        for lang in sorted(LANG_STOPWORDS)
    )
    langs = sorted(LANG_STOPWORDS)
    best = "greatest(" + ", ".join(f"s_{la}" for la in langs) + ")"
    # earlier language code wins ties — same as the Spark builder
    whens = " ".join(f"WHEN s_{la} = best THEN '{la}'" for la in langs)
    return f"""
    WITH t AS (
      SELECT doc_id, lang,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS arr
      FROM documents
    ), s AS (
      SELECT doc_id, lang,
{score_cols},
             {best} AS best
      FROM t
    )
    SELECT doc_id, lang,
           CASE WHEN best > 0 THEN CASE {whens} END ELSE 'und' END AS lang_pred
    FROM s
    """


@register("langid_heuristic", oracle=_langid_oracle())
def langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-overlap language ID (argmax with deterministic
    tie-break) — the oracle regenerates the same scoring from the same
    stopword lists."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    # spread_scan: the stopword-overlap scoring is the whole query and
    # otherwise runs in the single scan split (no-op at scale).
    return spread_scan(docs).select(
        "doc_id", "lang", language_id(toks).alias("lang_pred")
    )


@register(
    "minhash_lsh_candidates",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS arr
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, greatest(len(arr) - 1, 1)),
                 i -> arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2]
               )) AS shingle
        FROM toks
      ) raw
    ), counts AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(CAST(shared AS DOUBLE) / (ca.n_sh + cb.n_sh - shared), 6)
             AS jaccard
    FROM shared
    JOIN counts ca ON ca.doc_id = id_a
    JOIN counts cb ON cb.doc_id = id_b
    WHERE CAST(shared AS DOUBLE) / (ca.n_sh + cb.n_sh - shared) >= 0.5
    """,
)
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash banding + exact rerank, under a FULL value oracle.

    Candidates come from hand-rolled MinHash banding
    (``minhash_band_pairs``: 8 OR-ed tables, one codegen'd hash
    aggregate, band equi-joins — sub-quadratic and ~4x faster than the
    ``pyspark.ml`` MinHashLSH pipeline it replaced); exact 3-gram
    Jaccard is then computed on the candidate pairs only
    (``lsh_exact_rerank``) and cut at 0.5.  The oracle computes the
    TRUE all-pairs Jaccard>=0.5 set in SQL, so the comparison is a
    driver-visible recall gate on the banding itself: if the banding
    ever drops a true >=0.5 pair, the row set mismatches.  (Retention
    is also pytest-gated across fixtures; 8 OR-ed tables give miss
    probability (1-s)^8 <= 0.4% per s=0.5 pair, and the fixed seed
    makes the achieved full recall deterministic.)  CAVEAT (round-2
    advice): full recall is a property of THIS fixture under the fixed
    seed, not a guarantee of the algorithm — a regenerated fixture or
    new SF could legitimately produce a borderline pair the banding
    drops (~0.4% per pair), i.e. a driver mismatch with fully correct
    code.  If that ever fires, the fix is to demote this oracle to an
    invariant gate (retained-fraction >= 1-(1-s)^8 band, exact-dup
    recall == 1) in the style of ``simhash_near_dups``, not to patch
    the banding.  At 100 TB the oracle side is the thing you can no
    longer afford — the registered plan (banding +
    candidate-restricted rerank) is the scale path.
    """
    from tweets_spark_top_10_spark.functions.dedup import (
        collapse_exact_dups,
        expand_rep_pairs,
        minhash_signatures,
        shingle_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    # Byte-identical collapse BEFORE any signature work (the text-side
    # twin of semantic dedup's exact-duplicate prepass): a k-member
    # identical group would otherwise occupy the same band bucket of
    # every table — k²/2 candidate pairs per table reranked to the
    # foregone jaccard=1.0.  Banding and rerank run on one rep per
    # distinct text; expand_rep_pairs reconstructs the exact doc-level
    # pair list (Jaccard is a function of the shingle set alone), so
    # the true-all-pairs oracle above is unchanged.
    reps, members = collapse_exact_dups(docs, "text", "doc_id")
    # One document-level shingle table, (doc_id, shingles array),
    # shared by the signature aggregate and the rerank (read three
    # times across the two phases) — at scale, a materialized
    # per-corpus intermediate; in-session, persist.  spread=False
    # (r17, adjudicating the r16 driver regression): the table's first
    # consumer is the signature AGGREGATE (map-side combining), so the
    # conditional fan-out exchange cost more than it bought here —
    # interleaved on/off min-of-4: 5.52 s spread vs 5.10 s
    # unspread, and the r16 driver run read +32% with
    # it on.  (The ngram_jaccard family KEEPS its shingle spread: its
    # first consumer is the DF-cap + pair self-join, where the r16
    # interleaved A/B read 5.23 spread vs 6.28 unspread.)
    sh = shingle_table(reps, "text", "doc_id", n=3, spread=False).transform(
        persist_tracked
    )
    # ONE signature aggregate serves two consumers: the banding explode
    # and the ≥1-shingle expansion gate (a doc has a signature row iff
    # it produced a shingle).
    wide = minhash_signatures(
        reps, "text", "doc_id", 3, 8, 42, shingles=sh
    ).transform(persist_tracked)
    cands = minhash_band_pairs(
        reps, "text", "doc_id", n=3, shingles=sh, signatures=wide
    )
    # The rerank joins each distinct candidate pair to its two docs'
    # shingle arrays and takes size(array_intersect) — no pair x
    # shingle expansion; the array sizes are the Jaccard denominators.
    rep_pairs = lsh_exact_rerank(
        reps, cands, "text", "doc_id", n=3, threshold=0.5, shingles=sh
    )
    rep_sh_ids = wide.select("doc_id")
    return expand_rep_pairs(rep_pairs, members, rep_sh_ids, "doc_id")


@register(
    "simhash_invariants",
    oracle=r"""
    WITH seeds AS (
      SELECT COUNT(*) AS n FROM documents WHERE doc_id % 10 = 0
    ), norm AS (
      SELECT doc_id, md5(text) AS h
      FROM documents
    ), dup_pairs AS (
      SELECT CAST(SUM(c * (c - 1) / 2) AS BIGINT) AS n
      FROM (SELECT COUNT(*) AS c FROM norm GROUP BY h) g
    )
    SELECT seeds.n AS n_seeded,
           seeds.n AS n_seeded_found,
           dup_pairs.n AS n_exact_dup_pairs,
           CAST(0 AS BIGINT) AS n_exact_dups_missed
    FROM seeds, dup_pairs
    """,
)
def simhash_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible invariant gate for the SimHash sketch.

    SimHash signatures are ``xxhash64``-specific, so no SQL engine can
    replay the pair list itself — instead this query checks two
    MATHEMATICAL guarantees end-to-end and emits counts the oracle
    derives independently:

    - **Seeded reorder pairs**: every 10th document is re-added with its
      tokens reversed (same token multiset, id + 10^6).  SimHash is a
      function of the token multiset, so each (original, reversed) pair
      has Hamming distance 0 and the 4x16-bit banding MUST surface it.
      ``n_seeded_found`` == ``n_seeded`` or the gate fails.
    - **Exact-dup pairs**: BYTE-identical documents (raw md5 — not the
      case-folding ``content_hash``, whose normalized groups could
      contain case variants with different token hashes and thus
      different signatures; that would make the gate fixture-dependent
      rather than a guarantee) tokenize identically, so they must hash
      to the same signature; ``n_exact_dups_missed`` must be 0.

    The gate catches order-dependence bugs in the signature, banding
    that drops d=0 pairs, and any partitioning nondeterminism — the
    failure modes a sketch actually has.

    Both invariants only concern the seeded docs and the members of
    exact-dup groups, and membership in that subset is decided by the
    DATA (doc_id stride + content hash), not by the sketch — so the
    sketch runs on just that subset.  Same gate, ~10x less signature
    and banding work than sketching the full corpus.
    """
    from tweets_spark_top_10_spark.functions.dedup import (
        simhash64,
        simhash_near_pairs,
    )

    offset = 1_000_000
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tenth = docs.filter(F.col("doc_id") % 10 == 0)
    seeds = tenth.select(
        (F.col("doc_id") + offset).alias("doc_id"),
        F.array_join(F.reverse(tokenize(F.col("text"))), " ").alias("text"),
    )
    # Raw-byte md5, NOT the case-folding content_hash: the invariant
    # "same text => same signature" only holds for byte-identical docs
    # (case variants tokenize to different xxhash64 inputs).
    # h is referenced three times (dup-hash agg, corpus build, dup-pair
    # self-join) — persist so the scan+md5 runs once, not three times.
    h = docs.select(F.md5("text").alias("h"), "doc_id", "text").transform(persist_tracked)
    dup_hashes = (
        h.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .select("h")
    )
    # Bounded broadcast: dup_hashes only contains hashes with count > 1,
    # and duplicates here exist solely by the seeded-gate construction
    # above (the tenth-stride copies this query plants) — O(seeds) rows
    # by construction, never corpus-scale.
    dup_docs = h.join(F.broadcast(dup_hashes), "h").select("doc_id", "text")
    # Disjoint three-way union (seed ids are offset; dup members already
    # in the tenth stride are excluded) — no dropDuplicates shuffle.
    corpus = tenth.unionByName(seeds).unionByName(
        dup_docs.filter(F.col("doc_id") % 10 != 0)
    )
    par = spark.sparkContext.defaultParallelism
    pairs = simhash_near_pairs(
        simhash64(corpus.repartition(par)), max_hamming=3
    ).transform(persist_tracked)

    n_seeded = seeds.agg(F.count(F.lit(1)).alias("n_seeded"))
    seeded_found = pairs.filter(
        (F.col("id_b") == F.col("id_a") + offset)
        & (F.col("id_a") % 10 == 0)
        & (F.col("id_a") < offset)
    ).agg(F.count(F.lit(1)).alias("n_seeded_found"))

    dup_pairs = (
        h.alias("a")
        .join(h.alias("b"), "h")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
    )
    # ONE aggregate over ONE traversal of the dup-pair join (r16; was a
    # count aggregate plus a separate anti-join + count): a left join
    # against the persisted sketch pairs marks found-ness, and the
    # total / not-found counts ride the same aggregation buffer.
    # Identical values: COUNT(*) == the old n_dups, COUNT(mark IS NULL)
    # == the old anti-join count.  (``pairs`` is distinct per (id_a,
    # id_b) — simhash_near_pairs ends in .distinct() — so the left join
    # cannot multiply dup_pairs rows.)
    dup_counts = (
        dup_pairs.join(
            pairs.select("id_a", "id_b", F.lit(1).alias("__f")),
            ["id_a", "id_b"],
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("n_exact_dup_pairs"),
            F.count(F.when(F.col("__f").isNull(), 1)).alias(
                "n_exact_dups_missed"
            ),
        )
    )

    return n_seeded.crossJoin(seeded_found).crossJoin(dup_counts)


@register(
    "simhash_near_dups",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(
        regexp_split_to_array(text, '\s+'), t -> t <> '')) AS token
      FROM documents
    ), th AS (
      SELECT doc_id, ('0x' || substr(md5(token), 1, 15))::BIGINT AS h
      FROM toks
    ), bits AS (
      SELECT doc_id, b.j,
             SUM((h >> CAST(b.j AS INT)) & 1) AS s, COUNT(*) AS c
      FROM th CROSS JOIN (SELECT unnest(range(60)) AS j) b
      GROUP BY doc_id, b.j
    ), sig AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN 2 * s > c
                           THEN (1::BIGINT << CAST(j AS INT))
                           ELSE 0 END) AS BIGINT) AS sh
      FROM bits GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, sh, CAST(t.t AS INT) AS t,
             (sh >> (15 * CAST(t.t AS INT))) & 32767 AS band
      FROM sig CROSS JOIN (SELECT unnest(range(4)) AS t) t
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
    FROM bands a
    JOIN bands b ON a.t = b.t AND a.band = b.band AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 3
    """,
)
def simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-banded near-dup pairs under a FULL value oracle (was the
    catalog's last rows-only entry — r5 verdict #7).

    The signature here is :func:`simhash_md5` — token hash = first 60
    bits of md5, a cross-engine builtin — so DuckDB replays the ENTIRE
    pipeline: tokenize → per-token hash → per-bit majority vote →
    4x15-bit banding → pigeonhole candidates → exact popcount filter.
    Any pair the banding surfaces or drops differently than the oracle
    is a driver mismatch, which upgrades the sketch's gate from
    "row count looks right" to value equality on the pair list itself.
    The xxhash64 :func:`simhash64` stays the production path (~2-3x
    cheaper per token) under the ``simhash_invariants`` value gate —
    same plan shape, different token hash.
    """
    from tweets_spark_top_10_spark.functions.dedup import (
        simhash_md5,
        simhash_near_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    # Single-file local parquet → 1 partition; spread rows so the
    # 60-sum signature aggregate runs on all cores (at scale the source
    # is many-partitioned already and this repartition is a no-op cost).
    par = spark.sparkContext.defaultParallelism
    # max_hamming=3 is what 4-band banding GUARANTEES to find
    # (pigeonhole); looser thresholds both lose the guarantee and blow
    # up the output.
    return simhash_near_pairs(
        simhash_md5(docs.repartition(par)),
        max_hamming=3,
        n_bands=4,
        band_bits=15,
    )


@register(
    "doc_normalize",
    oracle=r"""
    SELECT doc_id,
           lower(trim(regexp_replace(
             regexp_replace(
               chr(9) || ' ' || upper(substr(text, 1, 30)) || '  ' || text
                 || ' ' || chr(13) || chr(10),
               '[\x00-\x1F\x7F\x85]', ' ', 'g'),
             '[\s\p{Z}]+', ' ', 'g'))) AS norm_text
    FROM documents
    """,
)
def doc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus text normalization (functions/text.normalize_text):
    control chars -> space, whitespace collapsed, trimmed, lowercased —
    the cheap C4-style cleanup before any scoring pass.  The fixtures
    are already clean, so the query first MESSES THE TEXT UP
    deterministically (tab/CR/LF, double spaces, an uppercased prefix)
    and the oracle replays both the mess and the cleanup — the gate
    proves each rule actually fires."""
    from tweets_spark_top_10_spark.functions.text import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    messy = F.concat(
        F.lit("\t "),
        F.upper(F.substring(F.col("text"), 1, 30)),
        F.lit("  "),
        F.col("text"),
        F.lit(" \r\n"),
    )
    return docs.select("doc_id", normalize_text(messy).alias("norm_text"))


@register(
    "doc_pii_redact",
    oracle=r"""
    WITH seeded AS (
      SELECT doc_id,
             substr(text, 1, 40) || ' reach user' || doc_id
               || '@example.com or 555-123-'
               || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               || ' ssn 123-45-6789 host 10.0.'
               || CAST(doc_id % 256 AS VARCHAR) || '.1 end' AS text
      FROM documents
    )
    , s1 AS (
      SELECT doc_id, text AS t0,
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '<EMAIL>', 'g') AS t1
      FROM seeded
    ), s2 AS (
      SELECT *, regexp_replace(t1, '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g') AS t2
      FROM s1
    ), s3 AS (
      SELECT *, regexp_replace(t2, '\b\d{3}[-.]\d{3}[-.]\d{4}\b',
                               '<PHONE>', 'g') AS t3
      FROM s2
    ), s4 AS (
      SELECT *, regexp_replace(t3, '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g')
                  AS t4
      FROM s3
    )
    -- counts run SEQUENTIALLY on the progressively-redacted text,
    -- mirroring pii_count: a PII literal consumed by an earlier rule
    -- (phone-shaped email local part) must not be counted twice
    SELECT doc_id,
           CAST(len(regexp_extract_all(t0,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
              + len(regexp_extract_all(t1, '\b\d{3}-\d{2}-\d{4}\b'))
              + len(regexp_extract_all(t2, '\b\d{3}[-.]\d{3}[-.]\d{4}\b'))
              + len(regexp_extract_all(t3, '\b\d{1,3}(\.\d{1,3}){3}\b'))
             AS BIGINT) AS n_pii,
           t4 AS redacted
    FROM s4
    """,
)
def doc_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (functions/text.redact_pii): email/SSN/phone/IPv4 ->
    typed placeholders via chained JVM regexp_replace, plus the audit
    count — the per-document metric a scrub job reports.  The synthetic
    fixtures contain no PII, so the query seeds one of each pattern
    (derived from doc_id, so deterministic) into every document and the
    oracle replays seed + scrub; n_pii >= 4 by construction and the
    redacted text must contain no live pattern."""
    from tweets_spark_top_10_spark.functions.text import pii_count, redact_pii

    docs = load_table(spark, sf_dir, "documents")
    seeded = F.concat(
        F.substring(F.col("text"), 1, 40),
        F.lit(" reach user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-123-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ssn 123-45-6789 host 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".1 end"),
    )
    return docs.select(
        "doc_id",
        pii_count(seeded).alias("n_pii"),
        redact_pii(seeded).alias("redacted"),
    )


@register(
    "stratified_sample_docs",
    oracle="""
    WITH rated AS (
      SELECT lang,
             CASE lang WHEN 'en' THEN 0.1 WHEN 'zh' THEN 1.0
                       ELSE 0.5 END AS rate,
             (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % 10000) AS bucket
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN bucket < rate * 10000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_sampled
    FROM rated
    GROUP BY lang
    """,
)
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (functions/sampling.py): keep
    10% of dominant 'en', all of low-resource 'zh', 50% elsewhere — the
    corpus-rebalancing move every multilingual training pipeline makes.
    The keep decision is a pure function of md5(doc_id) (never
    ``sampleBy``, which is seed- and partitioning-dependent), so the
    oracle replays the exact sample; emitted as per-stratum totals."""
    from tweets_spark_top_10_spark.functions.sampling import (
        stratified_hash_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    rates = {"en": 0.1, "zh": 1.0}
    sampled = stratified_hash_sample(
        docs, "lang", rates, "doc_id", default_rate=0.5
    )
    totals = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    picked = sampled.groupBy("lang").agg(F.count(F.lit(1)).alias("n_sampled"))
    return (
        totals.join(picked, "lang", "left")
        .select(
            "lang",
            "n_total",
            F.coalesce(F.col("n_sampled"), F.lit(0)).alias("n_sampled"),
        )
    )


@register(
    "dedup_canonical_docs",
    oracle=r"""
    WITH RECURSIVE toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS arr
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, greatest(len(arr) - 1, 1)),
                 i -> arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2]
               )) AS shingle
        FROM toks
      ) raw
    ), keep AS (
      SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 100
    ), shk AS (
      SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)
    ), counts AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM shk GROUP BY doc_id
    ), shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      FROM shk a JOIN shk b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b FROM shared
      JOIN counts ca ON ca.doc_id = id_a
      JOIN counts cb ON cb.doc_id = id_b
      WHERE CAST(shared AS DOUBLE) / (ca.n_sh + cb.n_sh - shared) >= 0.5
    ), edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), walk(n, m) AS (
      SELECT a, a FROM edges
      UNION
      SELECT w.n, e.b FROM walk w JOIN edges e ON w.m = e.a
    ), comp AS (
      SELECT n AS node, MIN(m) AS component FROM walk GROUP BY n
    )
    SELECT d.doc_id,
           COALESCE(c.component, d.doc_id) AS canonical_id,
           d.doc_id = COALESCE(c.component, d.doc_id) AS is_canonical
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    """,
)
def dedup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup MATERIALIZATION step: every document mapped to the
    canonical (min-id) member of its near-dup cluster, singletons to
    themselves — the (doc_id, canonical_id, is_canonical) table a
    training pipeline joins against to drop duplicates while keeping
    provenance.  Pairs at Jaccard>=0.5 with the max_shingle_df=100
    hot-shingle cap, clusters from the iterative CC operator, all under
    the recursive-CTE value oracle."""
    from tweets_spark_top_10_spark.functions.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=0.5, max_shingle_df=100
    )
    comp = connected_components(pairs).withColumnRenamed("node", "doc_id")
    return (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias(
                "canonical_id"
            ),
            (
                F.col("doc_id")
                == F.coalesce(F.col("component"), F.col("doc_id"))
            ).alias("is_canonical"),
        )
    )


@register(
    "dedup_keep_best_quality",
    oracle=r"""
    WITH RECURSIVE toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS arr
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, greatest(len(arr) - 1, 1)),
                 i -> arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2]
               )) AS shingle
        FROM toks
      ) raw
    ), keep AS (
      SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 100
    ), shk AS (
      SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)
    ), counts AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM shk GROUP BY doc_id
    ), shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      FROM shk a JOIN shk b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b FROM shared
      JOIN counts ca ON ca.doc_id = id_a
      JOIN counts cb ON cb.doc_id = id_b
      WHERE CAST(shared AS DOUBLE) / (ca.n_sh + cb.n_sh - shared) >= 0.5
    ), edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), walk(n, m) AS (
      SELECT a, a FROM edges
      UNION
      SELECT w.n, e.b FROM walk w JOIN edges e ON w.m = e.a
    ), comp AS (
      SELECT n AS node, MIN(m) AS component FROM walk GROUP BY n
    ), memb AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    ), q AS (
      SELECT doc_id,
             ROUND(
               0.4 * (CASE WHEN n_tok BETWEEN 10 AND 5000 THEN 1.0
                           WHEN n_tok > 0 THEN 0.5 ELSE 0.0 END)
             + 0.3 * (CASE WHEN mean_len >= 2.0 AND mean_len <= 12.0
                           THEN 1.0 ELSE 0.5 END)
             + 0.3 * (1.0 - least(pr * 4.0, 1.0)), 6) AS quality
      FROM (
        SELECT t.doc_id,
               len(t.arr) AS n_tok,
               CASE WHEN len(t.arr) > 0
                    THEN CAST(length(array_to_string(t.arr, '')) AS DOUBLE) / len(t.arr)
                    ELSE 0.0 END AS mean_len,
               CASE WHEN length(d.text) > 0
                    THEN CAST(length(regexp_replace(d.text, '[A-Za-z0-9\s]', '', 'g'))
                              AS DOUBLE) / length(d.text)
                    ELSE 0.0 END AS pr
        FROM toks t JOIN documents d USING (doc_id)
      )
    ), best AS (
      SELECT cluster, doc_id AS keeper FROM (
        SELECT m.cluster, m.doc_id,
               ROW_NUMBER() OVER (
                 PARTITION BY m.cluster
                 ORDER BY q.quality DESC, m.doc_id ASC) AS r
        FROM memb m JOIN q USING (doc_id)
      ) WHERE r = 1
    )
    SELECT m.doc_id, m.cluster, b.keeper AS canonical_id,
           m.doc_id = b.keeper AS is_canonical
    FROM memb m JOIN best b USING (cluster)
    """,
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical keep: same near-dup clusters as
    ``dedup_canonical_docs`` (Jaccard≥0.5, DF-capped shingles, star CC)
    but the kept member is the cluster's HIGHEST-quality document
    (``functions/text.quality_score``; ties → min doc_id) instead of
    the min id — what a training pipeline actually wants when
    near-duplicates differ in cleanliness (the min-id variant keeps
    whichever copy was crawled first).  Scale shape: identical pair/CC
    stages plus one quality projection and one cluster-keyed window —
    clusters are tiny, so the extra window shuffles narrow rows and
    never skews."""
    from tweets_spark_top_10_spark.functions.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )
    from tweets_spark_top_10_spark.functions.text import quality_score, tokenize

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=0.5, max_shingle_df=100
    )
    comp = connected_components(pairs).withColumnRenamed("node", "doc_id")
    # One pass (r17): quality is a per-row projection of the SAME docs
    # scan the membership map reads — computing it inline removes the
    # former memb ⋈ quality self-join of that scan, and annotating every
    # row with `first_value(doc_id)` over the quality-ordered cluster
    # window removes the row_number→filter→re-join-on-cluster round
    # trip (the window's ordered frame starts at the partition head, so
    # first() IS the cluster's best member for every row).  Same rows,
    # three fewer joins / one window instead of two cluster exchanges.
    mq = (
        docs.select(
            "doc_id",
            quality_score(F.col("text"), tokenize(F.col("text"))).alias(
                "quality"
            ),
        )
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster"),
            "quality",
        )
    )
    w = Window.partitionBy("cluster").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return mq.select(
        "doc_id",
        "cluster",
        F.first("doc_id").over(w).alias("canonical_id"),
    ).withColumn("is_canonical", F.col("doc_id") == F.col("canonical_id"))


@register(
    "doc_split_assignment",
    oracle="""
    WITH b AS (
      SELECT doc_id, lang,
             (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % 10000) AS bucket
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN bucket < 9000 THEN 'train'
                WHEN bucket < 9500 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
)
def doc_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment from md5(doc_id)
    buckets (functions/sampling.hash_bucket) — a pure function of the
    data, so the split survives reruns, repartitioning, engine changes,
    and corpus growth (existing docs never migrate between splits when
    new docs arrive — the property random splits lack).  Replayed
    exactly by the oracle."""
    from tweets_spark_top_10_spark.functions.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    bucket = hash_bucket("doc_id", 10_000)
    split = (
        F.when(bucket < 9000, "train")
        .when(bucket < 9500, "val")
        .otherwise("test")
    )
    return docs.select("doc_id", split.alias("split"))


@register(
    "doc_contamination",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS arr
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, greatest(len(arr) - 1, 1)),
                 i -> arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2]
               )) AS shingle
        FROM toks
      ) raw
    ), ev AS (
      SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0
    ), shared AS (
      SELECT s.doc_id, COUNT(*) AS n_shared
      FROM sh s JOIN ev USING (shingle)
      WHERE s.doc_id % 50 <> 0
      GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(COALESCE(sh2.n_shared, 0) AS BIGINT) AS n_shared,
           COALESCE(sh2.n_shared, 0) >= 5 AS contaminated
    FROM documents d LEFT JOIN shared sh2 USING (doc_id)
    WHERE d.doc_id % 50 <> 0
    """,
)
def doc_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing >= 5
    distinct 3-gram shingles with the eval set (here: every 50th doc
    stands in for the benchmark).  The 100 TB shape is the decisive
    property: the EVAL side's distinct shingles are tiny (benchmarks
    are thousands of docs, not billions) and broadcast, so the corpus
    side is one scan + a broadcast semi-join + one uniform groupBy —
    contamination checking costs one pass over the corpus regardless
    of its size.  This is the n-gram-overlap decontamination used for
    LLM training corpora (e.g. GPT-2/3-style 8-gram checks; 3-grams
    here only because fixture docs are short)."""
    from tweets_spark_top_10_spark.functions.dedup import shingle_table

    docs = load_table(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % 50 == 0
    # spread=False (r16): both branches are explode -> broadcast-join ->
    # light aggregate; the conditional fan-out exchange measured a net
    # loss here (1.28s unspread vs 1.61s spread, interleaved min-of-4).
    ev_shingles = (
        shingle_table(docs.filter(is_eval), "text", "doc_id", 3, spread=False)
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
    )
    train = docs.filter(~is_eval)
    tr_shingles = shingle_table(train, "text", "doc_id", 3, spread=False).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    shared = (
        tr_shingles.join(F.broadcast(ev_shingles), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    n_shared = F.coalesce(F.col("__n"), F.lit(0)).cast("long")
    return (
        train.select("doc_id")
        .join(shared, "doc_id", "left")
        .select(
            "doc_id",
            n_shared.alias("n_shared"),
            (n_shared >= 5).alias("contaminated"),
        )
    )


@register(
    "doc_pack_bins",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(text, '\s+'), t -> t <> ''))
               AS n_tokens,
             (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % 8) AS bucket
      FROM documents
    ), c AS (
      SELECT doc_id, bucket, n_tokens,
             SUM(n_tokens) OVER (
               PARTITION BY bucket ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM toks
    )
    SELECT doc_id,
           CAST(bucket AS BIGINT) AS bucket,
           CAST((cum - n_tokens) // 512 AS BIGINT) AS bin_id,
           CAST(n_tokens AS BIGINT) AS n_tokens
    FROM c
    """,
)
def doc_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: assign each document to a
    fixed-token-budget bin (512 tokens) by greedy cumulative packing.

    A global greedy pack is inherently sequential, so the scale form
    packs WITHIN deterministic hash buckets (8 here; thousands at
    100 TB): each bucket's docs are packed independently by a
    running-sum window partitioned on the bucket — parallel across
    buckets, deterministic (md5 bucket + doc_id order), and the
    per-bin overflow is bounded by one document, the standard greedy
    guarantee.  Output: (doc_id, bucket, bin_id, n_tokens)."""
    from tweets_spark_top_10_spark.functions.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.size(tokenize(F.col("text"))).cast("long").alias("n_tokens"),
        hash_bucket("doc_id", 8).alias("bucket"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    bin_id = ((cum - F.col("n_tokens")) / F.lit(512)).cast("long")
    return toks.select(
        "doc_id", "bucket", bin_id.alias("bin_id"), "n_tokens"
    )


@register(
    "part_name_fuzzy_pairs",
    oracle="""
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM part a
    JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
     AND abs(length(a.p_name) - length(b.p_name)) <= 2
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def part_name_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching (edit distance) with vocabulary-level
    candidate generation — the record-linkage primitive next to the
    token-set dedup family.

    Scale shape (the r5 verdict's #3): the previous single-key
    blocking (``p_brand``, 25 distinct values) ran levenshtein on
    O((n/25)²) row pairs — quadratic in corpus size.  Entity-name
    columns have a vocabulary V ≪ n (64 distinct names across 2k-20k
    rows in these fixtures; street/product/person names at 100 TB are
    likewise heavy-tailed), so the expensive kernel now runs on
    DISTINCT names only:

    1. ``distinct()`` the (brand, name) vocabulary — V rows, shuffle
       keyed by a near-uniform pair.
    2. Self-join the vocabulary on (brand, exact-length probe): one
       side explodes to length-2..length+2, the other keys on its own
       length, so the ``|Δlen| <= 2`` bound implied by ``lev <= 2`` is
       enforced BY the equi-join key (lossless, no theta join), and
       each name pair matches exactly once.  levenshtein — a codegen'd
       JVM builtin with a bounded-DP threshold arg — runs on O(V²/B)
       name pairs, independent of n.
    3. Expand matched name pairs back to id pairs with two equi-joins
       on (brand, name) — output-bounded work; the ``(na < nb) | (ia <
       ib)`` filter keeps exactly one row per unordered id pair
       (same-name groups arrive in both orders, cross-name pairs
       once).

    Measured levenshtein-kernel input (the quadratic term), sf0.01 →
    sf0.1 part (natural 10× growth): old row-level blocking 80,140 →
    8,104,000 candidate pairs (×101 — quadratic in n); vocabulary-
    level 22,597 → 44,900 (×2 — saturating at the (brand, name)
    vocabulary bound, constant thereafter however large n grows).
    Edit distance is engine-independent, so the pair list carries a
    full value oracle (DuckDB ``levenshtein``; blocking and the
    vocabulary rewrite are execution details the oracle doesn't
    need)."""
    part = load_table(spark, sf_dir, "part")
    names = part.select("p_brand", "p_name").distinct()
    ln = F.length("p_name")
    a = names.select(
        F.col("p_brand"),
        F.explode(F.array(ln - 2, ln - 1, ln, ln + 1, ln + 2)).alias("lb"),
        F.col("p_name").alias("__na"),
    )
    b = names.select(
        F.col("p_brand"), ln.alias("lb"), F.col("p_name").alias("__nb")
    )
    npairs = (
        a.join(b, ["p_brand", "lb"])
        .filter(F.col("__na") <= F.col("__nb"))
        .withColumn(
            "edit_dist", F.levenshtein(F.col("__na"), F.col("__nb"), 2).cast("long")
        )
        .filter(F.col("edit_dist") >= 0)
        .select("p_brand", "__na", "__nb", "edit_dist")
    )
    ra = part.select(
        "p_brand", F.col("p_name").alias("__na"), F.col("p_partkey").alias("__ia")
    )
    rb = part.select(
        "p_brand", F.col("p_name").alias("__nb"), F.col("p_partkey").alias("__ib")
    )
    return (
        npairs.join(ra, ["p_brand", "__na"])
        .join(rb, ["p_brand", "__nb"])
        .filter((F.col("__na") < F.col("__nb")) | (F.col("__ia") < F.col("__ib")))
        .select(
            F.least("__ia", "__ib").alias("id_a"),
            F.greatest("__ia", "__ib").alias("id_b"),
            "edit_dist",
        )
    )


@register(
    "doc_chunks",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS arr
      FROM documents
    ), starts AS (
      SELECT doc_id, arr, unnest(range(0, len(arr), 48)) AS start
      FROM toks WHERE len(arr) > 0
    )
    SELECT doc_id,
           CAST(start // 48 AS BIGINT) AS chunk_idx,
           CAST(start AS BIGINT) AS start,
           CAST(least(64, len(arr) - start) AS BIGINT) AS n_tok,
           md5(array_to_string(list_slice(arr, start + 1, start + 64), ' ')) AS chunk_hash
    FROM starts
    """,
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the tokenize→window→pack step
    every LLM training pipeline runs before sequence packing
    (``doc_pack_bins`` consumes budgets like these chunks' n_tok).

    Window 64 tokens, stride 48 (25% overlap).  Pure JVM: tokenize →
    ``sequence`` of starts → ``posexplode`` → ``slice`` — one narrow
    pass, no shuffle at all (the plan is scan→project→generate), so it
    scales with input bytes and parallelism alone.  Chunk identity is
    the md5 of the joined window, ready for chunk-level dedup."""
    docs = load_table(spark, sf_dir, "documents")
    window, stride = 64, 48
    toks = docs.select("doc_id", tokenize(F.col("text")).alias("arr")).where(
        F.size("arr") > 0
    )
    starts = toks.select(
        "doc_id",
        "arr",
        F.posexplode(
            F.sequence(F.lit(0), F.size("arr") - 1, F.lit(stride))
        ).alias("chunk_idx", "start"),
    )
    chunk = F.slice("arr", F.col("start") + 1, window)
    return starts.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("start").cast("long").alias("start"),
        F.size(chunk).cast("long").alias("n_tok"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


@register(
    "doc_token_ids",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, unnest(arr) AS token, unnest(range(0, len(arr))) AS pos
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS arr
            FROM documents)
    ), vocab AS (
      SELECT token,
             CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) - 1 AS BIGINT) AS id
      FROM (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token HAVING COUNT(*) >= 5)
    )
    SELECT doc_id,
           md5(array_to_string(token_ids, ' ')) AS token_ids_md5,
           CAST(len(token_ids) AS BIGINT) AS n_tok,
           n_oov
    FROM (
      SELECT t.doc_id,
             list(COALESCE(v.id, -1) ORDER BY t.pos) AS token_ids,
             CAST(SUM(CASE WHEN v.id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
      FROM toks t LEFT JOIN vocab v USING (token)
      GROUP BY t.doc_id
    )
    """,
)
def doc_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary encoding: corpus-frequency vocab (min_df=5, ids by
    rank) broadcast-joined back onto positioned tokens, re-assembled
    into per-document id arrays with OOV = -1 — the tokenize→ids step
    of training-data prep.

    The registered output carries the id array as a driver-hashable
    surrogate — ``md5(concat_ws(' ', token_ids))`` plus the array
    length — because the correctness driver's pandas canonicalizer
    cannot sort/factorize raw ``array<long>`` cells (r6 ERR).  The
    array computation itself stays under test via
    ``doc_token_id_arrays`` (``tests/test_pipeline_ops.py::
    test_doc_token_id_arrays_match_surrogate``).

    Scale notes: the rank-id assignment runs on the AGGREGATED
    vocabulary (map-side-combined groupBy first), not the corpus, and
    uses ``global_row_number`` (range-partitioned two-phase rank) so
    even a 100M-row vocabulary never funnels through one task; the
    encode join carries NO strategy hint — AQE broadcasts while the
    vocab fits under ``autoBroadcastJoinThreshold`` and falls back to
    a shuffled join once a Heaps'-law vocabulary outgrows executor
    memory (a hard hint here was the OOM-at-scale mode the round-9
    audit removed at six other sites); per-doc arrays reassemble via
    array_sort(collect_list(struct(pos,id))) — one shuffle keyed by
    doc_id."""
    ids = doc_token_id_arrays(spark, sf_dir)
    return ids.select(
        "doc_id",
        F.md5(
            F.concat_ws(
                " ", F.transform("token_ids", lambda t: t.cast("string"))
            )
        ).alias("token_ids_md5"),
        F.size("token_ids").cast("long").alias("n_tok"),
        "n_oov",
    )


def doc_token_id_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document ``array<long>`` token ids (OOV = -1) — the real
    pipeline output; ``doc_token_ids`` hashes it for the driver gate."""
    docs = load_table(spark, sf_dir, "documents")
    # spread_scan: parallelize the posexplode feeding the vocab count
    # and the encode join (no-op at scale).
    toks = spread_scan(docs).select(
        "doc_id", F.posexplode(tokenize(F.col("text"))).alias("pos", "token")
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt")).where(
        F.col("cnt") >= 5
    )
    # Rank-by-frequency ids WITHOUT a single-partition window: a
    # min_df-filtered vocabulary is still ~100M rows at 100 TB (Heaps'
    # law), and `Window.orderBy` with no partition would sort it in ONE
    # task.  global_row_number range-partitions on the (unique) sort
    # key and adds per-partition offsets — identical ids, full
    # parallelism.
    from tweets_spark_top_10_spark.operators.scalable_rank import (
        global_row_number,
    )

    vocab = global_row_number(
        counts, [F.desc("cnt"), F.asc("token")], out_col="id", start=0
    ).select("token", "id")
    # No broadcast hint: the vocab scales with the corpus (~100M rows
    # at 100 TB per the docstring) — let AQE pick broadcast vs shuffle
    # from the measured size instead of overriding its OOM guard.
    enc = toks.join(vocab, "token", "left").select(
        "doc_id", "pos", F.coalesce(F.col("id"), F.lit(-1)).alias("tid")
    )
    return enc.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "tid"))), lambda s: s["tid"]
        ).alias("token_ids"),
        F.sum(F.when(F.col("tid") == -1, 1).otherwise(0)).cast("long").alias("n_oov"),
    )


@register(
    "doc_weighted_sample",
    oracle="""
    WITH hexed AS (
      SELECT doc_id, n_chars,
             substr(md5(CAST(doc_id AS VARCHAR) || ':ws'), 1, 6) AS hx
      FROM documents
      WHERE n_chars IS NOT NULL AND n_chars > 0
    ), scored AS (
      SELECT doc_id, n_chars,
             LN(( (strpos('0123456789abcdef', substr(hx,1,1)) - 1) * 1048576
                + (strpos('0123456789abcdef', substr(hx,2,1)) - 1) * 65536
                + (strpos('0123456789abcdef', substr(hx,3,1)) - 1) * 4096
                + (strpos('0123456789abcdef', substr(hx,4,1)) - 1) * 256
                + (strpos('0123456789abcdef', substr(hx,5,1)) - 1) * 16
                + (strpos('0123456789abcdef', substr(hx,6,1)) - 1)
                + 1.0) / 16777216.0) / n_chars AS score
      FROM hexed
    )
    SELECT doc_id, n_chars FROM scored
    ORDER BY score DESC, doc_id LIMIT 100
    """,
)
def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted document sample (100 docs, probability ~
    n_chars, without replacement) via hash-randomness Efraimidis-
    Spirakis (``functions/sampling.weighted_hash_sample``).

    Because the per-row uniform comes from md5 of the key — not a
    seeded RNG — DuckDB replays the EXACT same draw (hex digits
    decoded with strpos arithmetic), making a value oracle possible
    for a "random" sample.  Plan: scan-side scoring + global top-k
    (TakeOrderedAndProject), no full sort."""
    from tweets_spark_top_10_spark.functions.sampling import (
        weighted_hash_sample,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_hash_sample(docs, "doc_id", "n_chars", k=100)


@register(
    "customer_pseudonymized_spend",
    oracle="""
    WITH tok AS (
      SELECT substr(sha256('sg-secret:' || CAST(c.c_custkey AS VARCHAR)), 1, 16)
               AS cust_token,
             o.o_totalprice
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    )
    SELECT cust_token, COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS spend
    FROM tok GROUP BY cust_token
    """,
)
def customer_pseudonymized_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed pseudonymization (``functions/text.pseudonymize``): the
    customer key is replaced by a stable sha256 token BEFORE the
    aggregate, and the per-token rollup still works because the token
    is deterministic — the privacy transform that keeps joins and
    group-bys alive.  DuckDB replays the identical hash."""
    from tweets_spark_top_10_spark.functions.text import pseudonymize

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    tok = cust.select(
        pseudonymize("c_custkey", "sg-secret").alias("cust_token"),
        F.col("c_custkey").alias("__k"),
    )
    j = orders.join(tok, orders["o_custkey"] == F.col("__k"))
    return j.groupBy("cust_token").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("spend"),
    )


@register(
    "doc_gopher_repetition",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS arr
      FROM documents
    ), eligible AS (
      SELECT doc_id, arr FROM toks WHERE len(arr) >= 3
    ), g AS (
      SELECT doc_id, 2 AS n,
             unnest(list_transform(range(1, len(arr)),
                                   i -> arr[i] || ' ' || arr[i + 1])) AS gram
      FROM eligible
      UNION ALL
      SELECT doc_id, 3 AS n,
             unnest(list_transform(range(1, len(arr) - 1),
                                   i -> arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2])) AS gram
      FROM eligible
    ), c AS (
      SELECT doc_id, n, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2, 3
    ), s AS (
      SELECT doc_id, n, SUM(cnt) AS total, COUNT(*) AS n_distinct,
             MAX(cnt) AS mx
      FROM c GROUP BY 1, 2
    ), wide AS (
      SELECT doc_id,
             ROUND(1.0 - MAX(CASE WHEN n = 2 THEN n_distinct END)
                       / MAX(CASE WHEN n = 2 THEN total END), 6) AS dup_2gram_frac,
             ROUND(1.0 - MAX(CASE WHEN n = 3 THEN n_distinct END)
                       / MAX(CASE WHEN n = 3 THEN total END), 6) AS dup_3gram_frac,
             ROUND(MAX(CASE WHEN n = 2 THEN mx END) * 1.0
                   / MAX(CASE WHEN n = 2 THEN total END), 6) AS top_2gram_frac
      FROM s GROUP BY doc_id
    )
    SELECT doc_id, dup_2gram_frac, dup_3gram_frac, top_2gram_frac,
           (dup_2gram_frac <= 0.2 AND dup_3gram_frac <= 0.18
            AND top_2gram_frac <= 0.2) AS gopher_pass
    FROM wide
    """,
)
def doc_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filters in the style of the Gopher
    rules (Rae et al. 2021, app. A1.1): per-document duplicate-2-gram
    and duplicate-3-gram fractions plus the most-common-2-gram mass,
    thresholded into one pass flag — the cheap structural screen every
    LLM corpus runs before expensive scoring.

    Shape: one generate (both gram orders tagged in a single explode)
    -> (doc, n, gram) count -> (doc, n) rollup -> conditional-agg
    pivot.  Two shuffles, both keyed by doc_id-prefixed keys (uniform);
    no UDFs; scales with corpus bytes.  Gram identity rides an 8-byte
    xxhash64 key through the count shuffle (the output is fractions —
    gram text never surfaces — and the raw-string oracle is the
    collision tripwire, as for the dedup shingle keys).  Docs under 3
    tokens carry no repetition signal and are excluded on BOTH
    engines."""
    docs = load_table(spark, sf_dir, "documents")
    # spread_scan: the double-ngram explode+hash below otherwise runs
    # entirely in the fixture's single scan split (no-op at scale).
    # A doc has >= 3 tokens iff it has a 3-gram.
    arrs = spread_scan(docs).select(
        "doc_id",
        ngrams(F.col("text"), 2).alias("g2"),
        ngrams(F.col("text"), 3).alias("g3"),
    ).where(F.size("g3") > 0)
    tag = lambda n_val, col: F.transform(  # noqa: E731
        col, lambda gm: F.struct(F.lit(n_val).alias("n"), gm.alias("gram"))
    )
    grams = arrs.select(
        "doc_id",
        F.explode(F.concat(tag(2, F.col("g2")), tag(3, F.col("g3")))).alias("x"),
    ).select("doc_id", "x.n", F.xxhash64("x.gram").alias("gram"))
    counts = grams.groupBy("doc_id", "n", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    stats = counts.groupBy("doc_id", "n").agg(
        F.sum("cnt").alias("total"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("cnt").alias("mx"),
    )
    pick = lambda n_val, c: F.max(F.when(F.col("n") == n_val, F.col(c)))  # noqa: E731
    wide = stats.groupBy("doc_id").agg(
        F.round(
            F.lit(1.0) - pick(2, "n_distinct") / pick(2, "total"), 6
        ).alias("dup_2gram_frac"),
        F.round(
            F.lit(1.0) - pick(3, "n_distinct") / pick(3, "total"), 6
        ).alias("dup_3gram_frac"),
        F.round(pick(2, "mx") * F.lit(1.0) / pick(2, "total"), 6).alias(
            "top_2gram_frac"
        ),
    )
    return wide.select(
        "doc_id",
        "dup_2gram_frac",
        "dup_3gram_frac",
        "top_2gram_frac",
        (
            (F.col("dup_2gram_frac") <= 0.2)
            & (F.col("dup_3gram_frac") <= 0.18)
            & (F.col("top_2gram_frac") <= 0.2)
        ).alias("gopher_pass"),
    )


@register(
    "lang_token_budget_sample",
    oracle=r"""
    WITH scored AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
                                  t -> t <> '')) AS BIGINT) AS n_tok,
             md5(CAST(doc_id AS VARCHAR) || ':tb') AS h
      FROM documents
    ), cum AS (
      SELECT doc_id, lang, n_tok,
             CAST(SUM(n_tok) OVER (
               PARTITION BY lang ORDER BY h ASC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tok
      FROM scored
    )
    SELECT doc_id, lang, n_tok, cum_tok
    FROM cum WHERE cum_tok - n_tok < 2000
    """,
)
def lang_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sampling per language: admit documents in a
    deterministic pseudo-random order (salted md5 of doc_id) until each
    language's cumulative token count crosses a 2000-token budget — the
    mixture-allocation step of corpus construction (sample N tokens per
    language/domain, not N documents, so verbose languages don't crowd
    the mixture).

    One running-sum window per language partition (uniform keys, no
    global sort) over per-row token counts; the admit rule
    ``cum - n_tok < budget`` takes the straddling document, so every
    language with any data reaches its budget.  Fully deterministic:
    the same corpus always yields the same sample, independent of
    partitioning."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        token_count(tokenize(F.col("text"))).alias("n_tok"),
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":tb"))).alias("h"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.asc("h"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = scored.withColumn("cum_tok", F.sum("n_tok").over(w))
    return cum.where(F.col("cum_tok") - F.col("n_tok") < 2000).select(
        "doc_id", "lang", "n_tok", "cum_tok"
    )


@register(
    "doc_dup_spans",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), t -> t <> '') AS arr
      FROM documents
    ), wins AS (
      SELECT doc_id,
             unnest(list_transform(
               range(1, len(arr) - 6),
               i -> array_to_string(arr[i : i + 7], ' ')
             )) AS gram
      FROM toks WHERE len(arr) >= 8
    ), multi AS (
      SELECT gram FROM wins GROUP BY gram
      HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT w.doc_id,
           COUNT(*) AS n_windows,
           CAST(SUM(CASE WHEN m.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared,
           ROUND(SUM(CASE WHEN m.gram IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS dup_span_frac
    FROM wins w LEFT JOIN multi m ON w.gram = m.gram
    GROUP BY w.doc_id
    """,
)
def doc_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span detection — the fixed-width
    approximation of exact-substring dedup (Lee et al. 2022): slide an
    8-token window over every document, find windows that occur in TWO
    OR MORE distinct documents, and report per document how much of it
    is made of such shared spans.  High ``dup_span_frac`` docs are
    boilerplate/templates that survive document-level dedup.

    Shuffle shape: gram identity is COMPACTED to an 8-byte xxhash64 key
    before anything shuffles (the window table's every downstream use —
    the multi-doc count and the join back — needs only set-equality of
    grams, the output never exposes gram text, and the raw-string
    DuckDB oracle doubles as the collision tripwire; same argument and
    same sign-off as the 3-gram shingle keys in ``functions/dedup``),
    and the cached window table is pre-partitioned BY that key so the
    count aggregate and both join sides read it colocated — ONE
    fixed-width exchange for the whole gram stage (the 100× probe read
    5.2 GB of raw-string shuffle before this), plus the per-doc rollup
    keyed by doc_id.  No all-pairs anything — cost is linear in corpus
    windows; the one skew risk (a mega-common window) only fans into
    the JOIN side, where it is a semi-join-shaped left join against a
    deduplicated gram list."""
    docs = load_table(spark, sf_dir, "documents")
    # spread_scan: the 8-token window explode+hash below otherwise runs
    # in the single scan split (no-op at scale).  Docs under 8 tokens
    # have no window, so the explode drops them.
    wins = (
        spread_scan(docs)
        .select("doc_id", F.explode(ngrams(F.col("text"), 8)).alias("gram"))
        .select("doc_id", F.xxhash64("gram").alias("gram"))
        .repartition("gram")
    )
    wins = persist_tracked(wins)
    multi = (
        wins.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("gram", F.lit(1).alias("__hit"))
    )
    shared = F.sum(F.when(F.col("__hit").isNotNull(), 1).otherwise(0))
    return (
        wins.join(multi, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            shared.cast("long").alias("n_shared"),
            F.round(shared * F.lit(1.0) / F.count(F.lit(1)), 6).alias(
                "dup_span_frac"
            ),
        )
    )


@register(
    "curriculum_interleave",
    oracle=r"""
    WITH scored AS (
      SELECT doc_id, lang,
             md5(CAST(doc_id AS VARCHAR) || ':cur') AS h
      FROM documents
    ), ranked AS (
      SELECT doc_id, lang,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY h ASC, doc_id ASC
             ) AS BIGINT) AS slot
      FROM scored
    )
    SELECT doc_id, lang, slot,
           CAST(ROW_NUMBER() OVER (ORDER BY slot ASC, lang ASC, doc_id ASC)
                AS BIGINT) AS position
    FROM ranked
    """,
)
def curriculum_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fair language interleaving for training order: shuffle each
    language deterministically (salted hash), then emit round-robin —
    slot 1 of every language first, then slot 2, ... — so a consumer
    reading in ``position`` order never sees a long monolingual run
    regardless of how skewed the language mix is.

    No single-partition window over anything corpus-proportional: the
    per-language rank and the within-slot rank are both partitioned
    windows (uniform keys), and the dense global position is
    within-slot rank + a cumulative offset joined from the per-slot
    size table.  That table has one row per slot = MAX DOCS IN ANY ONE
    LANGUAGE — corpus-proportional under language skew (an earlier
    version called it metadata-sized and ran its running sum through
    one task, and broadcast it besides), so its prefix sum runs
    through ``global_running_sum`` (range-partitioned two-phase) and
    joins back by slot as a plain equi-join the optimizer is free to
    broadcast only when it actually fits."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":cur"))).alias("h"),
    )
    slot_w = Window.partitionBy("lang").orderBy(F.asc("h"), F.asc("doc_id"))
    ranked = persist_tracked(
        scored.select(
            "doc_id",
            "lang",
            F.row_number().over(slot_w).cast("long").alias("slot"),
        )
    )
    # Offsets: docs in earlier slots — an exclusive prefix sum over the
    # per-slot size table (slot count = max docs per language, which
    # language skew makes corpus-proportional at scale).
    from tweets_spark_top_10_spark.operators.scalable_rank import (
        global_running_sum,
    )

    offsets = global_running_sum(
        ranked.groupBy("slot").agg(F.count(F.lit(1)).alias("n")),
        ["slot"],
        "n",
        out_col="offset",
    ).select("slot", "offset")
    in_slot_w = Window.partitionBy("slot").orderBy(F.asc("lang"), F.asc("doc_id"))
    return (
        ranked.join(offsets, "slot")
        .select(
            "doc_id",
            "lang",
            "slot",
            (F.row_number().over(in_slot_w) + F.col("offset"))
            .cast("long")
            .alias("position"),
        )
    )


@register(
    "lang_mixture_weights",
    oracle=r"""
    WITH tok AS (
      SELECT lang,
             CAST(SUM(len(list_filter(regexp_split_to_array(text, '\s+'),
                                      t -> t <> ''))) AS BIGINT) AS n_tok
      FROM documents GROUP BY lang
    ), tot AS (
      SELECT SUM(n_tok) AS total, COUNT(*) AS n_langs FROM tok
    )
    SELECT lang, n_tok,
           ROUND(n_tok * 1.0 / total, 6) AS actual_share,
           ROUND(1.0 / n_langs, 6) AS target_share,
           ROUND((1.0 / n_langs) / (n_tok * 1.0 / total), 6) AS weight
    FROM tok CROSS JOIN tot
    """,
)
def lang_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture re-weighting: per-language token share vs a uniform
    target, emitting the sampling weight (target/actual) a weighted
    sampler applies to hit the target token distribution — the
    DoReMi-without-the-proxy-model baseline every mixture pipeline
    starts from.

    One map-side-combined aggregate per language plus a broadcast of
    the one-row total; output is |languages| rows."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.groupBy("lang").agg(
        F.sum(token_count(tokenize(F.col("text")))).alias("n_tok")
    )
    tot = tok.agg(
        F.sum("n_tok").alias("total"), F.count(F.lit(1)).alias("n_langs")
    )
    actual = F.col("n_tok") * F.lit(1.0) / F.col("total")
    target = F.lit(1.0) / F.col("n_langs")
    return tok.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_tok",
        F.round(actual, 6).alias("actual_share"),
        F.round(target, 6).alias("target_share"),
        F.round(target / actual, 6).alias("weight"),
    )


@register(
    "doc_length_batches",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
                                  t -> t <> '')) AS BIGINT) AS n_tok,
             md5(CAST(doc_id AS VARCHAR) || ':lb') AS h
      FROM documents
    ), bucketed AS (
      SELECT doc_id, n_tok, h,
             CAST(CASE WHEN n_tok < 32 THEN 0
                       WHEN n_tok < 64 THEN 1
                       WHEN n_tok < 128 THEN 2
                       ELSE 3 END AS BIGINT) AS bucket
      FROM toks
    )
    SELECT doc_id, n_tok, bucket,
           CAST((ROW_NUMBER() OVER (
             PARTITION BY bucket ORDER BY h ASC, doc_id ASC
           ) - 1) // 16 AS BIGINT) AS batch_idx
    FROM bucketed
    """,
)
def doc_length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching: group documents into [0,32), [32,64),
    [64,128), [128,∞) token buckets and deal each bucket's docs (in
    deterministic salted-hash order) into fixed-size batches of 16 —
    the padding-efficiency trick: batches hold similar-length
    sequences, so pad-to-longest wastes bounded compute.

    One partitioned window per bucket (4 uniform partitions here; at
    scale the bucket count grows with the length histogram and the
    window stays uniform).  Fully deterministic batch assignment."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        token_count(tokenize(F.col("text"))).alias("n_tok"),
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":lb"))).alias("h"),
    )
    bucket = (
        F.when(F.col("n_tok") < 32, 0)
        .when(F.col("n_tok") < 64, 1)
        .when(F.col("n_tok") < 128, 2)
        .otherwise(3)
    )
    b = toks.withColumn("bucket", bucket.cast("long"))
    w = Window.partitionBy("bucket").orderBy(F.asc("h"), F.asc("doc_id"))
    return b.select(
        "doc_id",
        "n_tok",
        "bucket",
        F.floor((F.row_number().over(w) - 1) / 16).cast("long").alias("batch_idx"),
    )


@register(
    "doc_quality_tiers",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, lang, text,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS arr
      FROM documents
    ), m AS (
      SELECT doc_id, lang,
             len(arr) AS n_tok,
             CASE WHEN len(arr) > 0
                  THEN CAST(length(array_to_string(arr, '')) AS DOUBLE) / len(arr)
                  ELSE 0.0 END AS mean_len,
             CASE WHEN length(text) > 0
                  THEN CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
                            AS DOUBLE) / length(text)
                  ELSE 0.0 END AS pr
      FROM t
    ), q AS (
      SELECT doc_id, lang,
             ROUND(
               0.4 * (CASE WHEN n_tok BETWEEN 10 AND 5000 THEN 1.0
                           WHEN n_tok > 0 THEN 0.5 ELSE 0.0 END)
             + 0.3 * (CASE WHEN mean_len >= 2.0 AND mean_len <= 12.0
                           THEN 1.0 ELSE 0.5 END)
             + 0.3 * (1.0 - least(pr * 4.0, 1.0)), 6) AS quality
      FROM m
    ), tiered AS (
      SELECT lang, quality,
             CAST(NTILE(4) OVER (
               PARTITION BY lang ORDER BY quality DESC, doc_id ASC
             ) AS BIGINT) AS tier
      FROM q
    )
    SELECT lang, tier, COUNT(*) AS n_docs,
           ROUND(MIN(quality), 6) AS min_q,
           ROUND(MAX(quality), 6) AS max_q,
           ROUND(AVG(quality), 6) AS avg_q
    FROM tiered GROUP BY lang, tier
    """,
)
def doc_quality_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality tiering for curriculum construction: NTILE(4) over the
    heuristic quality score per language (deterministic tie-break on
    doc_id), rolled up to per-(lang, tier) count/min/max/mean — the
    "train on top quartiles first, anneal on tier 1" selection table.

    One partitioned window (uniform language keys) + one rollup; the
    score itself is the same fixed blend ``doc_quality`` gates."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    q = docs.select(
        "doc_id", "lang", quality_score(F.col("text"), toks).alias("quality")
    )
    w = Window.partitionBy("lang").orderBy(F.desc("quality"), F.asc("doc_id"))
    tiered = q.select("lang", "quality", F.ntile(4).over(w).cast("long").alias("tier"))
    return tiered.groupBy("lang", "tier").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.min("quality"), 6).alias("min_q"),
        F.round(F.max("quality"), 6).alias("max_q"),
        F.round(F.avg("quality"), 6).alias("avg_q"),
    )

"""END-TO-END training-data pipeline (round-15 verdict item 6).

Every stage below has shipped as its own oracle-gated catalog query
since r13-r15; what was never gated is their COMPOSITION — the thing a
real user actually runs over 100 TB: language-gate the corpus, drop
benchmark-contaminated documents, collapse exact and near duplicates
(keeping the best-quality member), then pack the survivors into
fixed-token-budget training bins.  Stage order is load-bearing and the
full chain sits under ONE DuckDB value oracle, so a drift in any stage
OR in how stages hand off (the classic pipeline bug: dedup before
decontamination silently re-admits a contaminated near-duplicate)
hash-fails the whole query.

Scale shape (nothing new — each stage keeps the plan its standalone
query already proved): langid/quality are per-row projections; the
contamination check is one broadcast semi-join against the tiny eval
shingle set; exact dedup is one hash-keyed groupBy; the near-dup stage
is the DF-capped shingle pipeline + star-contraction CC
(``dedup_canonical_docs``'s 100x-sentinel shape); packing is a
running-sum window inside 8 deterministic hash buckets (thousands at
100 TB), never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tweets_spark_top_10_spark.queries.registry import register
from tweets_spark_top_10_spark.queries.text_queries import _langid_oracle
from tweets_spark_top_10_spark.sources.registry import load_table

# The langid scoring CTEs are generated from LANG_STOPWORDS exactly as
# _langid_oracle does — reuse its body as a subquery (doc_id, lang,
# lang_pred) so the two queries can never disagree on the heuristic.
_PIPELINE_ORACLE = rf"""
    WITH RECURSIVE t AS (
      SELECT doc_id, text,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS arr
      FROM documents
    ), lp AS (
      SELECT doc_id, lang_pred FROM ({_langid_oracle()})
    ), q AS (
      SELECT doc_id,
             ROUND(
               0.4 * (CASE WHEN n_tok BETWEEN 10 AND 5000 THEN 1.0
                           WHEN n_tok > 0 THEN 0.5 ELSE 0.0 END)
             + 0.3 * (CASE WHEN mean_len >= 2.0 AND mean_len <= 12.0
                           THEN 1.0 ELSE 0.5 END)
             + 0.3 * (1.0 - least(pr * 4.0, 1.0)), 6) AS quality
      FROM (
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
    ), base AS (
      SELECT t.doc_id, t.text, lp.lang_pred, q.quality,
             CAST(len(t.arr) AS BIGINT) AS n_tokens
      FROM t JOIN lp USING (doc_id) JOIN q USING (doc_id)
      WHERE lp.lang_pred = 'en' AND t.doc_id % 50 <> 0
    ), allsh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, greatest(len(arr) - 1, 1)),
                 i -> arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2]
               )) AS shingle
        FROM t
      )
    ), ev AS (
      SELECT DISTINCT shingle FROM allsh WHERE doc_id % 50 = 0
    ), contam AS (
      SELECT a.doc_id
      FROM allsh a JOIN ev USING (shingle) JOIN base b ON a.doc_id = b.doc_id
      GROUP BY 1 HAVING COUNT(*) >= 5
    ), clean AS (
      SELECT * FROM base WHERE doc_id NOT IN (SELECT doc_id FROM contam)
    ), ex AS (
      SELECT MIN(doc_id) AS doc_id FROM (
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h
        FROM clean
      ) GROUP BY h
    ), kd AS (
      SELECT c.* FROM clean c JOIN ex USING (doc_id)
    ), sh AS (
      SELECT a.doc_id, a.shingle FROM allsh a JOIN kd USING (doc_id)
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
      SELECT kd.doc_id, kd.lang_pred, kd.quality, kd.n_tokens,
             COALESCE(c.component, kd.doc_id) AS cluster
      FROM kd LEFT JOIN comp c ON kd.doc_id = c.node
    ), surv AS (
      SELECT doc_id, lang_pred, quality, n_tokens FROM (
        SELECT m.*, ROW_NUMBER() OVER (
          PARTITION BY cluster ORDER BY quality DESC, doc_id ASC) AS r
        FROM memb m
      ) WHERE r = 1
    ), pk AS (
      SELECT *,
             (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % 8) AS bucket
      FROM surv
    ), c2 AS (
      SELECT *, SUM(n_tokens) OVER (
        PARTITION BY bucket ORDER BY doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM pk
    )
    SELECT doc_id, lang_pred, quality,
           CAST(bucket AS BIGINT) AS bucket,
           CAST((cum - n_tokens) // 512 AS BIGINT) AS bin_id,
           n_tokens
    FROM c2
    """


@register("training_pipeline_docs", oracle=_PIPELINE_ORACLE)
def training_pipeline_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pipeline: language gate -> benchmark
    decontamination -> exact dedup -> near-dup collapse (keep best
    quality) -> 512-token bin packing.  Stage semantics are exactly the
    standalone queries' (langid_heuristic, doc_contamination,
    dedup_exact_docs, dedup_keep_best_quality, doc_pack_bins); the
    composition — including stage ORDER — is what this query gates.
    Output: one row per surviving training document with its packed
    bin assignment."""
    from tweets_spark_top_10_spark.functions.cachectl import persist_tracked
    from tweets_spark_top_10_spark.functions.dedup import (
        connected_components,
        content_hash,
        ngram_jaccard_pairs,
        shingle_table,
    )
    from tweets_spark_top_10_spark.functions.sampling import hash_bucket
    from tweets_spark_top_10_spark.functions.text import (
        language_id,
        quality_score,
        tokenize,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    is_eval = F.col("doc_id") % 50 == 0

    # stage 1: per-row scoring + language gate (eval docs are the
    # benchmark, never training output).  The scoring chain is the
    # pipeline's heaviest per-row expression work and ran entirely in
    # the fixture's single scan split (2.8s one-task at sf0.1);
    # spread_scan fans it across cores and is a no-op on cluster-scale
    # scans.
    from tweets_spark_top_10_spark.functions.spread import spread_scan

    lang_ok = spread_scan(docs).select(
        "doc_id",
        "text",
        language_id(toks).alias("lang_pred"),
        quality_score(F.col("text"), toks).alias("quality"),
        F.size(toks).cast("long").alias("n_tokens"),
    ).filter((F.col("lang_pred") == "en") & ~is_eval)

    # stage 2: decontamination — >= 5 distinct 3-gram shingles shared
    # with the eval set drops the doc (broadcast: eval sets are tiny).
    ev_shingles = (
        shingle_table(docs.filter(is_eval), "text", "doc_id", 3)
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
    )
    # Contamination is computed over ALL non-eval docs, not the
    # lang-gated set (r16): the ids it finds are anti-joined against
    # lang_ok below, so a contaminated non-en doc is dropped either way
    # and the result set is IDENTICAL (measured equal at sf0.1; oracle
    # re-verified) — but shingling `lang_ok` forced a SECOND evaluation
    # of the whole langid scoring chain under this branch (Catalyst
    # prunes the quality columns but the lang_pred filter still runs),
    # measured 3.28s -> 2.99s warm min-of-3 for the clean-stage
    # materialization.  The branch now depends only on the raw scan.
    contaminated = (
        shingle_table(docs.filter(~is_eval), "text", "doc_id", 3)
        .select("doc_id", F.explode("shingles").alias("shingle"))
        .join(F.broadcast(ev_shingles), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= 5)
        .select("doc_id")
    )
    # `clean` fans out into three consumers (the exact-dedup keeper
    # set, the near-dup pair stage, and the survivor projection), and
    # the iterative CC downstream triggers several jobs — without a
    # persist every one of them re-runs the langid/quality/
    # decontamination chain from the scan (measured 2x the query wall
    # at sf0.1).  Tracked persist, narrow rows; at 100 TB this is the
    # stage boundary a production pipeline checkpoints to storage.
    clean = lang_ok.join(contaminated, "doc_id", "left_anti").transform(
        persist_tracked
    )

    # stage 3: exact dedup — keep min doc_id per normalized content
    # hash.  One content-hash-keyed window (r17) instead of the former
    # aggregate + join-back of the keeper ids: row_number()==1 ordered
    # by doc_id IS "min doc_id per hash" row-for-row, so the aggregate
    # exchange and the doc_id-keyed join disappear (measured 8.52 ->
    # 7.57 s min-of-6 interleaved at sf0.1; at 100 TB the keeper set is
    # corpus-sized, so the join was a second full shuffle of `clean`).
    # Hash partitions are duplicate classes — bounded small, skew-free.
    wx = Window.partitionBy(content_hash(F.col("text"))).orderBy("doc_id")
    kd = (
        clean.withColumn("__r", F.row_number().over(wx))
        .where(F.col("__r") == 1)
        .drop("__r")
        .transform(persist_tracked)
    )

    # stage 4: near-dup collapse at Jaccard >= 0.5, keep the cluster's
    # best-quality member (ties -> min doc_id)
    pairs = ngram_jaccard_pairs(
        kd, "text", "doc_id", n=3, threshold=0.5, max_shingle_df=100
    )
    comp = connected_components(pairs).withColumnRenamed("node", "doc_id")
    memb = kd.join(comp, "doc_id", "left").withColumn(
        "cluster", F.coalesce(F.col("component"), F.col("doc_id"))
    )
    w = Window.partitionBy("cluster").orderBy(F.desc("quality"), F.asc("doc_id"))
    surv = (
        memb.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") == 1)
        .select("doc_id", "lang_pred", "quality", "n_tokens")
    )

    # stage 5: pack survivors into 512-token bins inside 8 hash buckets
    pk = surv.withColumn("bucket", hash_bucket("doc_id", 8).cast("long"))
    w2 = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w2)
    return pk.select(
        "doc_id",
        "lang_pred",
        "quality",
        "bucket",
        ((cum - F.col("n_tokens")) / F.lit(512)).cast("long").alias("bin_id"),
        "n_tokens",
    )

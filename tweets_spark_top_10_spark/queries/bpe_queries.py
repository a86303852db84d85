"""Tokenizer-training queries: distributed BPE merge learning.

Oracle strategy mirrors ``graph_queries`` (the other fixed-round
iterative op): the SAME number of rounds unrolled as SQL CTEs, so the
comparison is full-value.  Each round is (pair counts from the current
symbol strings) -> (argmax with the count DESC, lhs, rhs tie-break) ->
(one leftmost-non-overlapping replace over the double-space symbol
encoding, where every symbol owns its boundary spaces so matches never
share characters — canonical Sennrich pairing; see
``functions/bpe.py``) — the exact semantics of the Spark builder,
expressed in DuckDB's own list and string primitives rather than
replayed through a shared library.
Counts are integers and tie-breaks are byte-order string comparisons,
so the merge sequence matches exactly, no rounding bands needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tweets_spark_top_10_spark.queries.registry import register
from tweets_spark_top_10_spark.sources.registry import load_table

# AS MATERIALIZED is load-bearing: DuckDB INLINES plain CTEs, and each
# round references w{prev} twice (pair counts + the replace), so an
# un-materialized chain duplicates the base scan 2^rounds times —
# measured as an EMFILE blowup (hundreds of parquet opens) before it
# even gets slow.  Materializing w/b makes the oracle linear in
# rounds, mirroring the Spark side's per-round localCheckpoint.
_BPE_COUNT_CTE = r"""
    c{i} AS MATERIALIZED (
      SELECT arr[j] AS lhs, arr[j+1] AS rhs,
             CAST(SUM(freq) AS BIGINT) AS cnt
      FROM (
        SELECT arr, freq, unnest(range(1, len(arr))) AS j
        FROM (SELECT string_split(trim(s), '  ') AS arr, freq FROM w{prev})
      )
      GROUP BY 1, 2
    )"""

_BPE_ROUND_CTE = (
    _BPE_COUNT_CTE
    + r""",
    b{i} AS MATERIALIZED (
      SELECT lhs, rhs, cnt FROM c{i} ORDER BY cnt DESC, lhs, rhs LIMIT 1
    ),
    w{i} AS MATERIALIZED (
      SELECT replace(s,
               ' ' || (SELECT lhs FROM b{i}) || '  ' || (SELECT rhs FROM b{i}) || ' ',
               ' ' || (SELECT lhs FROM b{i}) || (SELECT rhs FROM b{i}) || ' ') AS s,
             freq
      FROM w{prev}
    )"""
)


def _bpe_oracle(merges: int) -> str:
    rounds = ",".join(
        _BPE_ROUND_CTE.format(i=i, prev=i - 1) for i in range(1, merges + 1)
    )
    finals = "\n      UNION ALL ".join(
        f"SELECT CAST({i} AS INTEGER) AS merge_rank, lhs, rhs, "
        f"cnt AS pair_count FROM b{i}"
        for i in range(1, merges + 1)
    )
    return rf"""
    WITH w0 AS MATERIALIZED (
      SELECT regexp_replace(word, '(.)', ' \1 ', 'g') AS s,
             CAST(COUNT(*) AS BIGINT) AS freq
      FROM (
        SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
                                  x -> x <> '')) AS word
        FROM documents
      )
      GROUP BY 1
    ),
    {rounds}
    SELECT * FROM ({finals})
    """


def _bpe_vocab_oracle(merges: int, top: int) -> str:
    rounds = ",".join(
        _BPE_ROUND_CTE.format(i=i, prev=i - 1) for i in range(1, merges + 1)
    )
    return rf"""
    WITH w0 AS MATERIALIZED (
      SELECT regexp_replace(word, '(.)', ' \1 ', 'g') AS s,
             CAST(COUNT(*) AS BIGINT) AS freq
      FROM (
        SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
                                  x -> x <> '')) AS word
        FROM documents
      )
      GROUP BY 1
    ),
    {rounds}
    SELECT subword, CAST(SUM(freq) AS BIGINT) AS n
    FROM (
      SELECT unnest(string_split(trim(s), '  ')) AS subword, freq
      FROM w{merges}
    )
    GROUP BY 1
    ORDER BY n DESC, subword
    LIMIT {top}
    """


def _bpe_batched_oracle(rounds: int, batch: int) -> str:
    """DuckDB twin of :func:`functions.bpe.learn_from_words_batched`:
    per round, the pair-count CTE feeds a top-``8*batch`` candidate
    window (``cw{i}`` — the same bounded window the engine collects),
    the greedy symbol-disjoint selection unrolls as ``batch`` dependent
    CTEs (``s{i}_{j}`` picks the best window row whose lhs/rhs/merged
    symbol avoid the running exclusion set ``u{i}_{j-1}``), and the
    round's replaces compose into one nested ``replace`` whose patterns
    COALESCE to an unmatchable control char when a selection came up
    empty (a NULL pattern would null the whole column).  merge_rank =
    ROW_NUMBER over adoption order, so under-filled rounds number
    identically to the engine."""
    window = 8 * batch
    parts = []
    finals = []
    ord_n = 0
    for i in range(1, rounds + 1):
        prev = i - 1
        parts.append(
            _BPE_COUNT_CTE.format(i=i, prev=prev)
            + f""",
    cw{i} AS MATERIALIZED (
      SELECT lhs, rhs, cnt FROM c{i}
      ORDER BY cnt DESC, lhs, rhs LIMIT {window}
    )"""
        )
        for j in range(1, batch + 1):
            if j == 1:
                parts.append(
                    f"""s{i}_1 AS MATERIALIZED (
      SELECT lhs, rhs, cnt FROM cw{i} ORDER BY cnt DESC, lhs, rhs LIMIT 1
    )"""
                )
            else:
                parts.append(
                    f"""s{i}_{j} AS MATERIALIZED (
      SELECT lhs, rhs, cnt FROM cw{i}
      WHERE lhs NOT IN (SELECT sym FROM u{i}_{j - 1})
        AND rhs NOT IN (SELECT sym FROM u{i}_{j - 1})
        AND lhs || rhs NOT IN (SELECT sym FROM u{i}_{j - 1})
      ORDER BY cnt DESC, lhs, rhs LIMIT 1
    )"""
                )
            prev_u = (
                f"SELECT sym FROM u{i}_{j - 1} UNION " if j > 1 else ""
            )
            parts.append(
                f"""u{i}_{j} AS MATERIALIZED (
      {prev_u}SELECT lhs AS sym FROM s{i}_{j}
      UNION SELECT rhs FROM s{i}_{j}
      UNION SELECT lhs || rhs FROM s{i}_{j}
    )"""
            )
            ord_n += 1
            finals.append(
                f"SELECT {ord_n} AS ord, lhs, rhs, cnt FROM s{i}_{j}"
            )
        nested = "s"
        for j in range(1, batch + 1):
            pat = (
                f"COALESCE((SELECT ' ' || lhs || '  ' || rhs || ' ' "
                f"FROM s{i}_{j}), chr(1))"
            )
            rep = (
                f"COALESCE((SELECT ' ' || lhs || rhs || ' ' "
                f"FROM s{i}_{j}), chr(1))"
            )
            nested = f"replace({nested}, {pat}, {rep})"
        parts.append(
            f"""w{i} AS MATERIALIZED (
      SELECT {nested} AS s, freq FROM w{prev}
    )"""
        )
    rounds_sql = ",\n    ".join(parts)
    finals_sql = "\n      UNION ALL ".join(finals)
    return rf"""
    WITH w0 AS MATERIALIZED (
      SELECT regexp_replace(word, '(.)', ' \1 ', 'g') AS s,
             CAST(COUNT(*) AS BIGINT) AS freq
      FROM (
        SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
                                  x -> x <> '')) AS word
        FROM documents
      )
      GROUP BY 1
    ),
    {rounds_sql}
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY ord) AS INTEGER) AS merge_rank,
           lhs, rhs, CAST(cnt AS BIGINT) AS pair_count
    FROM ({finals_sql})
    """


def _bpe_encode_oracle(merges: int) -> str:
    """Tokenizer-serving twin: the 8 learn rounds (identical CTEs),
    then the ENCODE — every distinct word's final segmentation read off
    ``w{merges}`` (training's replace chain IS rank-order encoding; see
    ``functions/bpe.segment_words``), re-joined to position-exploded
    documents and reassembled per document with an ordered string_agg."""
    rounds = ",".join(
        _BPE_ROUND_CTE.format(i=i, prev=i - 1) for i in range(1, merges + 1)
    )
    return rf"""
    WITH w0 AS MATERIALIZED (
      SELECT regexp_replace(word, '(.)', ' \1 ', 'g') AS s,
             CAST(COUNT(*) AS BIGINT) AS freq
      FROM (
        SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
                                  x -> x <> '')) AS word
        FROM documents
      )
      GROUP BY 1
    ),
    {rounds},
    seg AS MATERIALIZED (
      SELECT replace(s, ' ', '') AS word,
             len(string_split(trim(s), '  ')) AS n_sub,
             array_to_string(string_split(trim(s), '  '), ' ') AS segs
      FROM w{merges}
    ),
    toks AS (
      SELECT doc_id, arr[j] AS word, j AS pos
      FROM (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\s+'),
                           x -> x <> '') AS arr
        FROM documents
      ), LATERAL (SELECT unnest(range(1, len(arr) + 1)) AS j)
    )
    SELECT t.doc_id,
           CAST(SUM(seg.n_sub) AS BIGINT) AS n_tokens,
           string_agg(seg.segs, ' ' ORDER BY t.pos) AS tokens
    FROM toks t JOIN seg ON t.word = seg.word
    GROUP BY t.doc_id
    """


@register("bpe_encode_docs", oracle=_bpe_encode_oracle(8))
def bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document subword token sequences under the 8 learned merges
    — tokenizer SERVING, the half that touches all 100 TB: the corpus
    is scanned once into the distinct-word table, the per-word encode
    runs once per UNIQUE word (Zipf compression) as a single
    chained-replace projection (``functions/bpe.segment_words`` — no
    recounting between rules, so all K rules fuse into one codegen'd
    map), and documents get their sequences back through a word
    equi-join + the array_sort(collect_list(struct(pos, …))) reassembly
    (no window, no skew pivot).  The 32k-rule production path swaps the
    replace chain for the Arrow per-word encoder
    (``segment_words_arrow``, pinned exact-equal in tests); serving
    from a stored merge table is the ``merge_rules=`` parameter,
    differential-tested in tests/test_bpe.py."""
    from tweets_spark_top_10_spark.functions.bpe import bpe_encode_docs as enc

    docs = load_table(spark, sf_dir, "documents")
    return enc(docs, text_col="text", doc_id_col="doc_id", merges=8)


@register("bpe_merge_table_batched", oracle=_bpe_batched_oracle(2, 4))
def bpe_merge_table_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Up to 8 BPE merge rules learned in TWO corpus scans (batch=4) —
    the production training cadence: the r14 vocabulary probe measured
    per-scan fixed latency as the dominant cost at every vocabulary
    size, so adopting ``batch`` symbol-disjoint rules per scan (counts
    stay exact under disjointness; see
    ``functions/bpe.learn_from_words_batched``) is what makes a
    32k-merge vocabulary tractable: ~8k scans instead of 32k.  The
    oracle unrolls both scans AND the in-scan greedy selection as
    DuckDB CTEs over the identical candidate window, so the gate is
    full-value; the independent pure-Python reference and the
    batch=1 == sequential equivalence live in ``tests/test_bpe.py``."""
    from tweets_spark_top_10_spark.functions.bpe import bpe_learn_merges_batched

    docs = load_table(spark, sf_dir, "documents")
    return bpe_learn_merges_batched(docs, text_col="text", rounds=2, batch=4)


@register("bpe_merge_table", oracle=_bpe_oracle(8))
def bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 8 BPE merge rules learned from the documents corpus
    (Sennrich'16 subword-unit training), fully distributed: the corpus
    collapses to a Zipf-compressed word-frequency table once, then
    each round is a pair-explode + map-side-combined groupBy + a
    bounded ONE-ROW argmax collect + one narrow codegen'd string
    replace (see ``functions/bpe.py`` for the 100 TB contract).  The
    oracle unrolls the identical 8 rounds as DuckDB CTEs."""
    from tweets_spark_top_10_spark.functions.bpe import bpe_learn_merges

    docs = load_table(spark, sf_dir, "documents")
    return bpe_learn_merges(docs, text_col="text", merges=8)


@register("bpe_subword_vocab_top20", oracle=_bpe_vocab_oracle(8, 20))
def bpe_subword_vocab_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus subwords after applying the 8 learned merges —
    the ENCODE half of tokenizer training.  Counting runs on the
    Zipf-compressed word-frequency table weighted by frequency (equal
    to the corpus-wide subword count, since segmentation is per-word),
    so the corpus is scanned once regardless of merge count; the top-K
    plans as TakeOrderedAndProject with a deterministic (n DESC,
    subword ASC) tie-break."""
    from tweets_spark_top_10_spark.functions.bpe import bpe_subword_counts
    from tweets_spark_top_10_spark.operators.topk import top_k

    counts = bpe_subword_counts(load_table(spark, sf_dir, "documents"))
    return top_k(counts, [F.desc("n"), F.asc("subword")], k=20)

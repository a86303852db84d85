"""Distributed BPE merge learning (tokenizer training).

The missing tokenizer-side operator of the LLM-pipeline envelope: given
a text corpus, learn the first K byte-pair-encoding merge rules
(Sennrich et al. 2016, "Neural Machine Translation of Rare Words with
Subword Units") entirely as DataFrame ops — no Python UDFs, no
driver-side corpus materialization.  The reference
(`/root/reference/src/main/java/me/dekimpe/App.java`) has no tokenizer
surface; this extends the SURVEY §2.2 text-analysis family (token
counting / vocabulary encoding) with the step that PRODUCES a
vocabulary.

Scale design (the part that must survive 100 TB):

- **The corpus collapses to a word-frequency table first** — one
  corpus-sized explode + groupBy(word), after which every BPE round
  runs on the DISTINCT-word table (Zipf: ~millions of rows for
  billions of tokens).  This is the standard dictionary trick; without
  it each round would rescan the corpus.
- **Symbol sequences ride a single string column**, not an array that
  gets rebuilt row-by-row: every symbol OWNS a leading and a trailing
  space (``'aaaa'`` encodes as ``' a  a  a  a '`` — adjacent symbols
  are separated by exactly two spaces), so applying a merge is ONE
  ``replace(s, ' l  r ', ' lr ')`` whose matches can never share
  characters; plain leftmost non-overlapping replace then equals
  canonical greedy BPE pairing (``' a  a  a  a '`` -> ``' aa  aa '``,
  matching Sennrich's non-overlapping sub) in Spark, DuckDB and
  Python alike.  A single-space encoding gets this WRONG — the match
  consumes the trailing space the next occurrence needs as its lead,
  under-merging runs (``'aaaa'`` -> ``'aa a a'``); caught by the
  round-13 review, now pinned by ``test_bpe_handmade_overlaps_and_
  ties``'s run corpus and the list-based Python reference.  The
  per-round transform stays a narrow JVM string op inside whole-stage
  codegen.  (ASCII-corpus note: the char split uses regex ``(.)`` and
  the tokenizer ``\\s+`` — Java and RE2 agree on both for ASCII text;
  exotic Unicode line separators like U+2028 would desync the
  engines.)
- **Per-round cost**: one pair-explode of the word table (zip_with of
  two slices — no UDF), one ``groupBy(l, r).sum(freq)`` with map-side
  partial aggregation, one TakeOrdered(1) argmax (a bounded ONE-ROW
  collect, same class as the CC convergence signature), one narrow
  replace.  A LAZY ``localCheckpoint`` per round truncates lineage so
  K rounds cost K bounded jobs — the next round's argmax collect
  doubles as the materialization (the ``functions/graph.pagerank``
  discipline, both made lazy in r16).
- **Determinism**: counts are integers; argmax ties break on
  (count DESC, lhs ASC, rhs ASC) — byte-order string comparison in
  both engines — so the merge sequence replays exactly in the unrolled
  SQL oracle and in the pure-Python reference test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tweets_spark_top_10_spark.functions.text import tokenize

MERGE_SCHEMA = T.StructType(
    [
        T.StructField("merge_rank", T.IntegerType(), False),
        T.StructField("lhs", T.StringType(), False),
        T.StructField("rhs", T.StringType(), False),
        T.StructField("pair_count", T.LongType(), False),
    ]
)


def read_merge_rules_parquet(spark, path: str) -> list[tuple[int, str, str, int]]:
    """A persisted MERGE_SCHEMA parquet (e.g. the committed production
    fixture ``fixtures/bpe_merges_32k/merges.parquet`` built by
    tools/bpe_build_index.py) as the driver-side rule list every
    encoder consumes — the offline/online split's online half.  K
    rows: metadata-class collect, same bounded-cardinality contract as
    PQ codebooks."""
    return [
        (r.merge_rank, r.lhs, r.rhs, r.pair_count)
        for r in spark.read.schema(MERGE_SCHEMA)
        .parquet(path)
        .orderBy("merge_rank")
        .collect()
    ]


def word_frequency_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace-token word-frequency table: the Zipf-compressed
    working set every BPE round runs on.  Columns: (s, freq) where
    ``s`` is the word's symbol sequence with every symbol owning its
    boundary spaces (``' h  e  l  l  o '``) — symbols never contain
    whitespace because words come from a whitespace split, so plain
    replace of ``' l  r '`` is canonical non-overlapping pairing.

    Deliberately NOT ``spread_scan``-fanned (r16): the explode feeds a
    map-side-combining groupBy immediately and the per-row work is one
    whitespace split, so the extra exchange costs more than the
    parallelism buys — interleaved min-of-4 A/B at sf0.1 read 2.10s
    unspread vs 2.75s spread for the 8-merge learn."""
    return (
        docs.select(F.explode(tokenize(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.regexp_replace(F.col("word"), "(.)", " $1 ").alias("s"),
            "freq",
        )
    )


def _adjacent_pair_counts(words: DataFrame) -> DataFrame:
    """(lhs, rhs, cnt): corpus-weighted adjacent-symbol pair counts.
    zip_with over two slices — row-local, no UDF; 1-symbol words
    produce an empty pair array and drop out at the explode."""
    arr = F.split(F.trim(F.col("s")), "  ")
    pairs = F.zip_with(
        F.slice(arr, 1, F.size(arr) - 1),
        F.slice(arr, 2, F.size(arr) - 1),
        lambda a, b: F.struct(a.alias("lhs"), b.alias("rhs")),
    )
    return (
        words.select(F.explode(pairs).alias("p"), "freq")
        .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
        .agg(F.sum("freq").alias("cnt"))
    )


def _learn(
    docs: DataFrame, text_col: str, merges: int
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Shared learn loop over a document corpus: the driver-sized merge
    list plus the FINAL segmented word-frequency table (still
    distributed) — the learn query returns the former, the encode/vocab
    query consumes the latter without re-deriving state."""
    if merges < 1:
        raise ValueError(f"merges must be >= 1, got {merges}")
    return learn_from_words(
        word_frequency_table(docs, text_col), merges
    )


def learn_from_words(
    words: DataFrame, merges: int
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Learn loop over an existing (s, freq) word-frequency table —
    re-learns merges without touching the raw corpus."""
    if merges < 1:
        raise ValueError(f"merges must be >= 1, got {merges}")
    # LAZY checkpoints throughout (r16): each round's TakeOrdered
    # collect is an action over the current word table anyway, so it
    # doubles as the checkpoint materialization of the previous round's
    # replace — eager=True paid a separate driver-blocking job per
    # round (2 jobs/round -> 1; lineage truncation is identical).
    words = words.localCheckpoint(eager=False)

    learned: list[tuple[int, str, str, int]] = []
    for rank in range(1, merges + 1):
        best = (
            _adjacent_pair_counts(words)
            .orderBy(F.desc("cnt"), F.asc("lhs"), F.asc("rhs"))
            .limit(1)
            .collect()
        )
        if not best:
            break  # no adjacent pairs left anywhere
        lhs, rhs, cnt = best[0].lhs, best[0].rhs, int(best[0].cnt)
        learned.append((rank, lhs, rhs, cnt))
        words = words.withColumn(
            "s",
            F.replace(
                F.col("s"),
                F.lit(f" {lhs}  {rhs} "),
                F.lit(f" {lhs}{rhs} "),
            ),
        ).localCheckpoint(eager=False)
    return learned, words


def learn_from_words_batched(
    words: DataFrame, rounds: int, batch: int = 4, window_factor: int = 8
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Batched merge learning — the production-cadence variant: each
    corpus scan adopts up to ``batch`` compatible merge rules instead
    of one, cutting the scan count for a K-merge vocabulary from K to
    ~K/batch.  The round-14 vocabulary probe (BASELINE.md) measured the
    FIXED per-round latency as the dominant training cost at every
    vocabulary size, so scan count — not word-table width — is the
    lever that makes a 32k-merge production vocabulary tractable.

    Batch compatibility rule (what keeps every adopted rule's recorded
    count EXACT): candidates are read in (cnt DESC, lhs, rhs) order
    from a top-``window_factor*batch`` window (a bounded TakeOrdered
    collect — metadata-class, like the 1-row argmax), and a pair joins the batch
    only if its lhs, its rhs, AND its merged symbol lhs+rhs are all
    unseen among the batch's symbols so far.  Symbol-disjoint merges
    cannot create, destroy, or overlap one another's occurrences (every
    symbol owns its boundary spaces), so each adopted count is the true
    pre-scan count and the composed replace equals applying the rules
    sequentially.  The ONE deviation from strictly-sequential Sennrich:
    a pair first CREATED by an earlier member of the same batch (e.g.
    ('ab', c) right after ('a','b')) waits for the next scan — the
    standard fast-trainer trade.  ``batch=1`` reproduces
    :func:`learn_from_words` exactly (pytest-pinned), and the whole
    procedure is deterministic, so the catalog query carries a full
    value oracle (the selection unrolled as SQL CTEs over the same
    window).

    ``rounds`` is the FIXED scan count (total merges <= rounds*batch;
    a round adopts fewer only when the candidate window runs out of
    compatible pairs) — fixed rounds keep the SQL oracle's unroll
    static regardless of corpus.

    ``window_factor`` sizes the candidate window (``window_factor *
    batch`` rows, still a bounded metadata-class collect).  The default
    8 keeps the r14 contract (and the catalog oracle's unroll) exactly.
    Raising it is the measured production lever for large vocabularies
    (r15 vocabulary probe): a Zipf table's top candidates concentrate
    on a few hot symbols, so the symbol-disjoint rule exhausts a
    shallow window at ~20 adopted rules/scan regardless of ``batch``;
    a deeper window reaches rarer, mutually-disjoint symbols —
    measured adoption climbs to ~batch within a few scans at
    window_factor=128 / batch=64, putting a 32k-merge vocabulary at
    ~500-900 scans (~15-25 min at the measured per-scan wall) instead
    of ~8k scans (hours).  Deeper-window adoption deviates further
    from strictly-sequential Sennrich ORDER (the same documented
    fast-trainer trade as ``batch`` itself); every adopted count stays
    exact and the procedure stays deterministic/oracle-replayable.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    if batch < 1:
        raise ValueError(f"batch must be >= 1, got {batch}")
    if window_factor < 1:
        raise ValueError(f"window_factor must be >= 1, got {window_factor}")
    # Lazy checkpoints, same as learn_from_words (r16): the per-round
    # candidate collect materializes the previous round's replace.
    words = words.localCheckpoint(eager=False)
    learned: list[tuple[int, str, str, int]] = []
    window = window_factor * batch
    for _ in range(rounds):
        cand = (
            _adjacent_pair_counts(words)
            .orderBy(F.desc("cnt"), F.asc("lhs"), F.asc("rhs"))
            .limit(window)
            .collect()
        )
        if not cand:
            break  # no adjacent pairs left anywhere
        used: set[str] = set()
        chosen: list[tuple[str, str, int]] = []
        for r in cand:
            if len(chosen) >= batch:
                break
            new = r.lhs + r.rhs
            if r.lhs in used or r.rhs in used or new in used:
                continue
            used.update((r.lhs, r.rhs, new))
            chosen.append((r.lhs, r.rhs, int(r.cnt)))
        expr = F.col("s")
        for lhs, rhs, cnt in chosen:
            learned.append((len(learned) + 1, lhs, rhs, cnt))
            expr = F.replace(
                expr, F.lit(f" {lhs}  {rhs} "), F.lit(f" {lhs}{rhs} ")
            )
        words = words.withColumn("s", expr).localCheckpoint(eager=False)
    return learned, words


def bpe_learn_merges_batched(
    docs: DataFrame, text_col: str = "text", rounds: int = 2, batch: int = 4
) -> DataFrame:
    """Batched-training merge table over a document corpus: ``rounds``
    corpus-collapsed scans, up to ``batch`` symbol-disjoint rules per
    scan (:func:`learn_from_words_batched`).  Same MERGE_SCHEMA as
    :func:`bpe_learn_merges`; merge_rank is adoption order."""
    learned, _ = learn_from_words_batched(
        word_frequency_table(docs, text_col), rounds, batch
    )
    return docs.sparkSession.createDataFrame(learned, MERGE_SCHEMA)


def bpe_learn_merges(
    docs: DataFrame, text_col: str = "text", merges: int = 8
) -> DataFrame:
    """Learn the first ``merges`` BPE merge rules from a corpus.

    Returns (merge_rank int, lhs string, rhs string, pair_count long),
    merge_rank 1-based in merge order.  Stops early (fewer rows) if the corpus
    runs out of adjacent pairs.  The result is driver-sized by
    construction (K rows) — the iteration state stays distributed.
    """
    learned, _ = _learn(docs, text_col, merges)
    return docs.sparkSession.createDataFrame(learned, MERGE_SCHEMA)


def segment_words(
    words: DataFrame, merge_rules: list[tuple[int, str, str, int]]
) -> DataFrame:
    """Apply learned merge rules to a symbol-encoded word table in rank
    order — ONE narrow chained-replace projection, no scans in between:
    unlike training, ENCODING never recounts pairs, so all K rules fuse
    into a single codegen'd map stage over the distinct-word table.

    Why one all-occurrence replace per rule reaches the BPE fixpoint:
    a replace only creates adjacencies involving the rule's OUTPUT
    symbol, and no rule of rank <= k references rank k's output (a
    rule's lhs/rhs exist before the rule is learned; a rule's own
    pattern cannot recur since its output differs from both inputs) —
    so after applying rules 1..K once each in rank order, no rule
    applies anywhere.  This is the same replace semantics the trainer
    and its DuckDB oracle already rely on per round."""
    expr = F.col("s")
    for _, lhs, rhs, _ in merge_rules:
        expr = F.replace(
            expr, F.lit(f" {lhs}  {rhs} "), F.lit(f" {lhs}{rhs} ")
        )
    return words.withColumn("s", expr)


def segment_words_arrow(
    words: DataFrame, merge_rules: list[tuple[int, str, str, int]]
) -> DataFrame:
    """Arbitrary-K twin of :func:`segment_words` for PRODUCTION merge
    tables (32k rules): a 32k-deep chained-replace expression would
    break Catalyst (expression-tree depth / codegen limits), so the
    encode runs as an Arrow-batched ``mapInPandas`` with the rank dict
    held in the task closure — a bounded driver-side artifact (K rows, the same
    metadata class as PQ codebooks).  Work is per DISTINCT word (the
    Zipf compression that makes 100 TB encoding cheap): repeatedly
    merge the lowest-rank adjacent pair, exhaustively
    leftmost-non-overlapping — provably the same fixpoint as rank-order
    application (see :func:`segment_words`), pinned exact-equal to the
    chained replace in tests/test_bpe.py."""
    ranks = {(l, r): k for k, l, r, _ in merge_rules}
    by_rank = {k: (l, r) for k, l, r, _ in merge_rules}

    def _encode(batches):
        for pdf in batches:
            out = []
            for s in pdf["s"]:
                syms = s.strip(" ").split("  ")
                while True:
                    best = None
                    for i in range(len(syms) - 1):
                        k = ranks.get((syms[i], syms[i + 1]))
                        if k is not None and (best is None or k < best):
                            best = k
                    if best is None:
                        break
                    lhs, rhs = by_rank[best]
                    merged, i = [], 0
                    while i < len(syms):
                        if (
                            i + 1 < len(syms)
                            and syms[i] == lhs
                            and syms[i + 1] == rhs
                        ):
                            merged.append(lhs + rhs)
                            i += 2
                        else:
                            merged.append(syms[i])
                            i += 1
                    syms = merged
                out.append(" " + "  ".join(syms) + " ")
            pdf = pdf.copy()
            pdf["s"] = out
            yield pdf

    return words.mapInPandas(_encode, schema=words.schema)


# Rule count above which bpe_encode_docs segments with the Arrow kernel
# instead of one chained-replace projection.
_ARROW_THRESHOLD = 256


def bpe_encode_docs(
    docs: DataFrame,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    merges: int = 8,
    merge_rules: list[tuple[int, str, str, int]] | None = None,
) -> DataFrame:
    """Tokenizer SERVING: per-document subword token sequences — the
    output a training-data pipeline actually emits, and the half of
    tokenizer work that touches all 100 TB.  Shape:

    1. corpus → distinct-word table, ONE scan (Zipf compression: the
       expensive per-word encode runs once per unique word, not once
       per occurrence);
    2. merge rules learned here (``merges`` rounds) or PROVIDED —
       e.g. the committed fixture via :func:`read_merge_rules_parquet`,
       the serving-from-artifact path every other index family has;
    3. distinct words segmented in one chained-replace projection
       (:func:`segment_words`; :func:`segment_words_arrow` for 32k-rule
       tables);
    4. documents re-tokenized WITH position and equi-joined to the
       segmented dictionary on the word; per-document sequences
       reassembled in word order with the array_sort(collect_list(
       struct(pos, …))) pattern — no window, no skew pivot.

    Returns (doc_id, n_tokens, tokens) with ``tokens`` the
    space-joined subword sequence.  Documents with no tokens drop out
    (nothing to encode), matching the SQL oracle's join semantics.
    Above ``_ARROW_THRESHOLD`` rules the chained replace gives way to
    :func:`segment_words_arrow` (same fixpoint, pinned exact-equal) — a
    32k-deep replace chain would break Catalyst."""
    from tweets_spark_top_10_spark.functions.text import tokenize

    words = word_frequency_table(docs, text_col)
    if merge_rules is None:
        merge_rules, _ = learn_from_words(words, merges)
    segment = (
        segment_words_arrow
        if len(merge_rules) > _ARROW_THRESHOLD
        else segment_words
    )
    seg = segment(words, merge_rules).select(
        F.translate("s", " ", "").alias("word"),
        F.split(F.trim(F.col("s")), "  ").alias("subwords"),
    )
    toks = docs.select(
        doc_id_col,
        F.posexplode(tokenize(F.col(text_col))).alias("pos", "word"),
    )
    per_doc = (
        toks.join(seg, "word")
        .groupBy(doc_id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "subwords"))
                    ),
                    lambda x: x["subwords"],
                )
            ).alias("tok_arr")
        )
    )
    return per_doc.select(
        doc_id_col,
        F.size("tok_arr").cast("long").alias("n_tokens"),
        F.array_join("tok_arr", " ").alias("tokens"),
    )


def bpe_subword_counts(
    docs: DataFrame, text_col: str = "text", merges: int = 8
) -> DataFrame:
    """Corpus-wide subword frequencies AFTER applying the learned
    merges — the encode half of tokenizer training, the operation that
    actually touches 100 TB.  The count runs on the Zipf-compressed
    word-frequency table weighted by word frequency, which equals the
    corpus-wide subword count exactly (segmentation is per-word), so
    the corpus is scanned ONCE total (by ``word_frequency_table``) no
    matter how many merges were learned.  Returns (subword string,
    n long), every subword in the segmented corpus."""
    _, words = _learn(docs, text_col, merges)
    return (
        words.select(
            F.explode(F.split(F.trim(F.col("s")), "  ")).alias("subword"),
            "freq",
        )
        .groupBy("subword")
        .agg(F.sum("freq").alias("n"))
    )

"""Streaming tokenizer-vocabulary maintenance: incremental word counts
plus stream-decided BPE merge re-learning.

A production tokenizer is trained on a corpus that keeps growing; the
expensive inputs — the Zipf-compressed word-frequency table and the
merge rules derived from it — are maintained artifacts, not per-run
recomputations.  This module attaches both to a document stream
(availableNow trigger, like the other maintained indexes):

1. **Word-frequency table** ({state_dir}/words, columns ``s, freq``):
   each micro-batch's word counts fold ADDITIVELY into the stored
   table (union → groupBy sum → ``sources/swap.py`` publish).  Replay
   idempotence rides that module's batch-id marker: a redelivered
   micro-batch (crash between the swap and the streaming checkpoint
   commit) skips the fold instead of double-counting.  The fold
   rewrites the word table per batch — at Zipf scale that table is
   ~millions of rows against a billions-of-tokens corpus, and the
   additive merge cannot touch less than the hot words every batch
   contains, so partition-pruning buys nothing here (unlike the
   per-row last-writer-wins indexes in ``streaming/sketch.py``).

2. **Merge table** ({state_dir}/merges, the ``functions/bpe``
   MERGE_SCHEMA plus a ``fitted_tokens`` bookkeeping column): when the
   stored corpus has grown ``relearn_growth``× past the size the
   current rules were learned on, the loop re-learns from the word
   table (``functions/bpe.learn_from_words`` — never re-reads the raw
   corpus) and swaps.  Same crash contract as
   ``maintain_semantic_dedup``: the merge-table swap (and
   ``fitted_tokens`` with it) advances LAST, so a crash inside the
   re-learn leaves the trigger armed and the replayed batch re-runs
   it; the re-learn is a deterministic function of the stored word
   table, so it converges regardless of which swaps landed.

Differential gates (tests/test_bpe.py): drained stream's word table ==
batch ``word_frequency_table`` of the full corpus exactly; with
``relearn_growth`` crossed on the final batch, merge table == batch
``bpe_learn_merges`` exactly; a replayed batch is a byte-level no-op.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tweets_spark_top_10_spark.functions.bpe import (
    MERGE_SCHEMA,
    learn_from_words,
    learn_from_words_batched,
    word_frequency_table,
)
from tweets_spark_top_10_spark.sources.swap import already_merged, recover, swap_in
from tweets_spark_top_10_spark.streaming.sinks import start_foreach_batch


# Version of the symbol-string encoding persisted in {state_dir}/words.
# v2 = every symbol owns BOTH boundary spaces (' z  q ', double-space
# separators — the round-13 canonical-pairing fix); the unversioned v1
# wrote single-space rows (' z q ') that the current split-on-'  '
# parser would read as ONE symbol while new-batch folds mint a second
# ' z  q ' key for the same word, silently splitting counts and
# corrupting merge learning.  The marker makes upgraded state dirs fail
# LOUDLY instead (the fingerprint-staleness discipline of the prebuilt
# artifact caches applied to persisted streaming state).
_ENCODING_VERSION = "2"


def _encoding_tag(state_dir: str) -> str:
    return os.path.join(state_dir, "_BPE_ENCODING_VERSION")


def _sniff_words_encoding(words: str) -> str | None:
    """Best-effort encoding sniff of a MARKER-LESS words table via
    pyarrow (no Spark session needed): a v2 multi-symbol row contains
    a double-space separator (``' h  i '``), a v1 row single spaces
    (``' h i '``).  The dir is always the atomic output of ONE writer
    version (``sources/swap.py`` swaps whole dirs), so the first decisive
    row settles it.  Returns '1', '2', 'coincide' (every row scanned
    is single-symbol, where the two encodings are byte-identical), or
    None (no readable rows — corrupt/empty, nothing provable)."""
    import glob as _glob

    try:
        import pyarrow.parquet as _pq
    except ImportError:
        return None
    scanned_rows = False
    for part in sorted(_glob.glob(os.path.join(words, "part-*.parquet"))):
        try:
            pf = _pq.ParquetFile(part)
            for batch in pf.iter_batches(columns=["s"]):
                for v in batch.column(0).to_pylist():
                    if not v:
                        continue
                    scanned_rows = True
                    inner = v[1:-1]  # strip the one boundary space each side
                    if "  " in inner:
                        return "2"
                    if " " in inner:
                        return "1"
        except Exception:
            return None
    return "coincide" if scanned_rows else None


def _assert_encoding(state_dir: str, stamp: bool = False) -> None:
    """Refuse to touch a state dir whose persisted symbol encoding
    predates (or postdates) this code.  ``stamp=True`` additionally
    writes the marker for a fresh state dir — only the write path
    stamps; readers just verify.

    A words table WITHOUT a marker is either (a) pre-v2 single-space
    state the current parser misreads — refuse loudly — or (b) valid
    v2 state written by post-fix code from before the marker existed
    (the r15 advisor case).  The rows distinguish the two (v2 separates
    symbols with double spaces), so sniff one decisive row: verifiably
    v2 (or all-single-symbol, where the encodings coincide) is stamped
    in place as the migration; verifiably v1 refuses."""
    tag = _encoding_tag(state_dir)
    if os.path.exists(tag):
        with open(tag) as f:
            found = f.read().strip()
        if found != _ENCODING_VERSION:
            raise RuntimeError(
                f"BPE state at {state_dir} uses symbol-encoding "
                f"v{found}, this code writes v{_ENCODING_VERSION}; "
                "mixing them silently splits word counts — delete the "
                "state dir (it rebuilds from the stream) or migrate it"
            )
        return
    if recover(_words_dir(state_dir)):
        sniffed = _sniff_words_encoding(_words_dir(state_dir))
        if sniffed == "1":
            raise RuntimeError(
                f"BPE state at {state_dir} has a words table with "
                "single-space (pre-v2) symbol rows that the current "
                "double-space parser misreads; delete the state dir "
                "(it rebuilds from the stream) or migrate it"
            )
        if sniffed is None:
            # no readable row proves anything: stay safe-refuse
            raise RuntimeError(
                f"BPE state at {state_dir} has a words table but no "
                "encoding marker and no readable row to sniff — if it "
                "is verifiably post-fix (v2) state that merely predates "
                "the marker, write the marker file yourself; otherwise "
                "delete the state dir (it rebuilds from the stream)"
            )
        # verifiably v2 (double-space rows), or all-single-symbol rows
        # where the encodings are byte-identical — stamp the migration
        with open(tag, "w") as f:
            f.write(_ENCODING_VERSION)
        return
    if stamp:
        os.makedirs(state_dir, exist_ok=True)
        with open(tag, "w") as f:
            f.write(_ENCODING_VERSION)


def _words_dir(state_dir: str) -> str:
    return os.path.join(state_dir, "words")


def _merges_dir(state_dir: str) -> str:
    return os.path.join(state_dir, "merges")


def read_bpe_words(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current maintained word-frequency table (s, freq)."""
    _assert_encoding(state_dir)
    recover(_words_dir(state_dir))
    return spark.read.parquet(_words_dir(state_dir))


def read_bpe_merges(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current maintained merge table (MERGE_SCHEMA columns; the
    rank-0 bookkeeping sentinel row is internal and filtered out)."""
    _assert_encoding(state_dir)
    recover(_merges_dir(state_dir))
    return (
        spark.read.parquet(_merges_dir(state_dir))
        .where(F.col("merge_rank") >= 1)
        .drop("fitted_tokens")
    )


def _fold_words_batch(
    spark: SparkSession, batch_docs: DataFrame, state_dir: str,
    text_col: str, batch_id: int | None,
) -> None:
    """Additively merge one batch's word counts into the stored table
    (skipped entirely when ``batch_id`` already landed)."""
    words = _words_dir(state_dir)
    live = recover(words)
    if already_merged(words, batch_id):
        return
    delta = word_frequency_table(batch_docs, text_col)
    if live:
        merged = (
            spark.read.parquet(words)
            .unionByName(delta)
            .groupBy("s")
            .agg(F.sum("freq").alias("freq"))
        )
    else:
        merged = delta
    # the swap overwrites the dir the plan reads from — materialize
    # the merged counts off the old files first
    merged = merged.localCheckpoint(eager=True)
    swap_in(
        words, lambda staging: merged.write.mode("overwrite").parquet(staging), batch_id
    )


def _stored_tokens(spark: SparkSession, state_dir: str) -> int:
    """Total word occurrences in the stored table — the corpus-growth
    metric the re-learn trigger compares against ``fitted_tokens``."""
    row = (
        spark.read.parquet(_words_dir(state_dir))
        .agg(F.sum("freq"))
        .first()
    )
    return int(row[0] or 0)


def maintain_bpe_vocab(
    docs_stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    text_col: str = "text",
    merges: int = 8,
    relearn_growth: float = 2.0,
    relearn_batch: int = 1,
    relearn_window_factor: int = 8,
):
    """Attach word-count + merge-rule maintenance to a document stream.

    ``relearn_growth``: re-learn when stored tokens >= growth ×
    ``fitted_tokens`` (the token count the current rules were learned
    on).  Must be > 1 — at 1.0 every micro-batch would pay the full
    K-round re-learn, which is never the production cadence (re-learn
    at each doubling amortizes the K scans to O(1) per ingested
    token).  Bootstrap (no merge table yet) always learns.

    ``relearn_batch``: >1 switches the re-learn to BATCHED merge
    learning (``functions/bpe.learn_from_words_batched`` —
    ceil(merges/batch) scans adopting up to ``batch`` symbol-disjoint
    rules each), the production cadence for large vocabularies since
    the re-learn's cost is its scan count (r14 vocabulary probe).  1
    (default) keeps the exact sequential Sennrich sequence.

    ``relearn_window_factor``: candidate-window depth for the batched
    re-learn (``functions/bpe.learn_from_words_batched``'s
    ``window_factor``) — deeper windows lift adopted-rules-per-scan on
    Zipf tables (r15 probe); 8 (default) keeps the r14 contract.
    """
    if relearn_growth <= 1:
        raise ValueError(
            f"relearn_growth must be > 1 (got {relearn_growth}): the "
            "re-learn triggers when stored >= growth * fitted_tokens"
        )
    if relearn_batch < 1:
        raise ValueError(
            f"relearn_batch must be >= 1, got {relearn_batch}"
        )

    def step(batch_df: DataFrame, batch_id: int) -> None:
        bpe_step(
            batch_df, state_dir, text_col, merges, relearn_growth, batch_id,
            relearn_batch=relearn_batch,
            relearn_window_factor=relearn_window_factor,
        )

    return start_foreach_batch(docs_stream, step, checkpoint)


def bpe_step(
    batch_df: DataFrame,
    state_dir: str,
    text_col: str,
    merges: int,
    relearn_growth: float,
    batch_id: int | None,
    relearn_batch: int = 1,
    relearn_window_factor: int = 8,
) -> dict:
    """One micro-batch of vocab maintenance — the exact body
    ``maintain_bpe_vocab`` runs per batch, exposed so a caller that
    drives batches itself runs the IDENTICAL path.  Returns {folded,
    relearned, stored_tokens} telemetry."""
    if batch_df.isEmpty():
        return {"folded": False, "relearned": False, "stored_tokens": None}
    spark = batch_df.sparkSession
    _assert_encoding(state_dir, stamp=True)
    _fold_words_batch(spark, batch_df, state_dir, text_col, batch_id)
    mdir = _merges_dir(state_dir)
    fitted = None
    if recover(mdir):
        head = spark.read.parquet(mdir).select("fitted_tokens").head()
        fitted = int(head[0]) if head is not None else None
    total = _stored_tokens(spark, state_dir)
    if fitted is not None and total < relearn_growth * fitted:
        return {"folded": True, "relearned": False, "stored_tokens": total}
    stored_words = spark.read.parquet(_words_dir(state_dir))
    if relearn_batch > 1:
        rounds = -(-merges // relearn_batch)  # ceil
        learned, _ = learn_from_words_batched(
            stored_words, rounds, relearn_batch,
            window_factor=relearn_window_factor,
        )
    else:
        learned, _ = learn_from_words(stored_words, merges)
    # rank-0 sentinel row: carries fitted_tokens even when ZERO merges
    # are learnable (an all-single-character corpus) — without it the
    # stored table is empty, `fitted` reads None forever, and every
    # later batch pays the full K-round re-learn the growth trigger
    # exists to amortize (round-13 review finding)
    table = spark.createDataFrame(
        [(0, "", "", 0)] + learned, MERGE_SCHEMA
    ).withColumn("fitted_tokens", F.lit(total).cast("long"))
    # merge table + fitted_tokens advance LAST — crash inside the
    # re-learn leaves the trigger armed, replay converges
    swap_in(
        mdir, lambda staging: table.write.mode("overwrite").parquet(staging), batch_id
    )
    return {"folded": True, "relearned": True, "stored_tokens": total}


def read_bpe_merge_rules(
    spark: SparkSession, state_dir: str
) -> list[tuple[int, str, str, int]]:
    """The maintained merge table as the driver-side rule list the
    encoders consume (K rows — metadata-class, same as centroid books).
    [] when the maintainer has not produced a table yet (bootstrap:
    encoding degrades to character segmentation, never an error)."""
    if not recover(_merges_dir(state_dir)):
        _assert_encoding(state_dir)  # still refuse a poisoned state dir
        return []
    return [
        (r.merge_rank, r.lhs, r.rhs, r.pair_count)
        for r in read_bpe_merges(spark, state_dir)
        .orderBy("merge_rank")
        .collect()
    ]


def encode_stream_docs(
    docs_stream: DataFrame,
    state_dir: str,
    out_path: str,
    checkpoint: str,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    arrow_threshold: int = 256,
):
    """Enrich a document stream with BPE token sequences encoded under
    the CURRENT maintained merge table — tokenizer SERVING attached to
    the stream, completing the family's lifecycle triad (inline learn
    in ``functions/bpe.bpe_encode_docs``, maintained artifact in
    ``maintain_bpe_vocab``, and this streaming consumer).

    Per micro-batch: read the rule list off the state dir (bounded
    driver-side collect; rules may legitimately ADVANCE between batches
    as the maintainer re-learns — each output partition records the
    vocabulary it was encoded with via ``n_rules``), encode with the
    chained replace or the Arrow path past ``arrow_threshold`` rules,
    and write ``(doc_id, n_tokens, tokens, n_rules)`` parquet under
    ``out_path/batch_id=N`` — the ``enrich_stream_ann`` idempotence
    discipline: a crash-replayed batch OVERWRITES its own subdirectory
    instead of appending duplicates, and readers get batch provenance
    as a partition column for free."""
    from tweets_spark_top_10_spark.functions.bpe import bpe_encode_docs

    def encode(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        rules = read_bpe_merge_rules(spark, state_dir)
        out = bpe_encode_docs(
            batch_df,
            text_col=text_col,
            doc_id_col=doc_id_col,
            merge_rules=rules,
            arrow_threshold=arrow_threshold,
        ).withColumn("n_rules", F.lit(len(rules)))
        out.write.mode("overwrite").parquet(f"{out_path}/batch_id={batch_id}")

    return start_foreach_batch(docs_stream, encode, checkpoint)

"""Incremental heavy-hitters: streaming Misra-Gries summary maintenance.

The reference's companion speed layer kept live per-hour hashtag
counts next to the batch job (the commented-out Storm/ES half,
``App.java:159-178``).  This is that idea at 100 TB shape: instead of
a live exact count of EVERY distinct token (unbounded state), the
stream maintains one bounded Misra-Gries summary — ``capacity`` rows
plus one total-count row — that at any moment certifies top-K
candidates for the data seen so far (``functions/heavy_hitters.
candidates_from_summary``); an exact rerank pass over the stored
corpus turns the candidates into the exact top-K on demand.

Merge step per micro-batch (mergeable-summaries reduction, same
N/(capacity+1) bound as the batch sketch):

1. exact batch token counts (map-side-combined groupBy — the batch is
   one trigger's worth of data),
2. union with the stored summary, sum per token (the NULL-token total
   row sums along with everything else),
3. prune back to ``capacity`` by subtracting the (capacity+1)-th
   largest counter from all and dropping non-positives.

State is a plain parquet dir published by ``sources/swap.py``.

One bounded driver collect per merge: the (capacity+1) largest
estimates, to find the prune threshold — O(capacity), not O(data).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tweets_spark_top_10_spark.sources.swap import already_merged, recover, swap_in
from tweets_spark_top_10_spark.streaming.sinks import start_foreach_batch


def merge_mg_batch(
    spark,
    batch_tokens: DataFrame,
    table_path: str,
    token_col: str = "token",
    capacity: int = 512,
    batch_id: int | None = None,
) -> None:
    """Fold one micro-batch of tokens into the stored MG summary.

    ``batch_id`` (when the caller is a foreachBatch sink) makes the
    merge idempotent under at-least-once replay (the marker of
    ``sources/swap.py``).  Without it a crash after the swap commits
    but before the streaming checkpoint commits would double-merge the
    batch, inflating est and the NULL-token total.
    """
    live = recover(table_path)
    if already_merged(table_path, batch_id):
        return
    batch_summary = (
        batch_tokens.groupBy(token_col).agg(F.count(F.lit(1)).alias("est"))
    ).unionByName(
        batch_tokens.agg(
            F.lit(None).cast("string").alias(token_col),
            F.count(F.lit(1)).alias("est"),
        )
    )
    if live:
        merged = spark.read.parquet(table_path).unionByName(batch_summary)
    else:
        merged = batch_summary
    merged = (
        merged.groupBy(token_col).agg(F.sum("est").alias("est"))
    ).persist()

    top = (
        merged.where(F.col(token_col).isNotNull())
        .orderBy(F.desc("est"))
        .limit(capacity + 1)
        .collect()
    )
    if len(top) > capacity:
        kth = int(top[-1]["est"])
        pruned = merged.where(
            F.col(token_col).isNull() | (F.col("est") > F.lit(kth))
        ).withColumn(
            "est",
            F.when(F.col(token_col).isNull(), F.col("est")).otherwise(
                F.col("est") - F.lit(kth)
            ),
        )
    else:
        pruned = merged

    swap_in(
        table_path,
        lambda staging: pruned.coalesce(1).write.mode("overwrite").parquet(staging),
        batch_id,
    )
    merged.unpersist(blocking=False)


def maintain_heavy_hitters(
    stream_tokens: DataFrame,
    table_path: str,
    checkpoint: str,
    token_col: str = "token",
    capacity: int = 512,
):
    """Attach the MG merge to a token stream via foreachBatch
    (availableNow trigger, as the other maintained indexes)."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_mg_batch(
            batch_df.sparkSession,
            batch_df,
            table_path,
            token_col,
            capacity,
            batch_id=batch_id,
        )

    return start_foreach_batch(stream_tokens, merge, checkpoint)


def _grouped_summary_merge(
    stored: DataFrame | None,
    batch_df: DataFrame,
    group_cols: list[str],
    token_col: str,
    capacity: int,
) -> DataFrame:
    """Core grouped MG fold: (batch exact counts + NULL-token totals)
    ∪ stored summary → per-group sum → prune back to ``capacity`` by
    subtracting each group's (capacity+1)-th counter.  Per-group
    thresholds stay IN the plan (row_number window + join back — no
    driver collect); state stays ≤ (capacity+1) × groups rows.  Shared
    by the flat-grouped and the watermarked-windowed maintainers."""
    from pyspark.sql import Window

    gcols = [F.col(g) for g in group_cols]
    batch_summary = (
        batch_df.groupBy(*group_cols, token_col).agg(
            F.count(F.lit(1)).alias("est")
        )
    ).unionByName(
        batch_df.groupBy(*group_cols).agg(
            F.lit(None).cast("string").alias(token_col),
            F.count(F.lit(1)).alias("est"),
        )
    )
    merged = (
        stored.unionByName(batch_summary) if stored is not None else batch_summary
    )
    merged = merged.groupBy(*group_cols, token_col).agg(
        F.sum("est").alias("est")
    )
    rn = F.row_number().over(
        Window.partitionBy(*gcols).orderBy(F.desc("est"), F.asc(token_col))
    )
    kth = (
        merged.where(F.col(token_col).isNotNull())
        .withColumn("rn", rn)
        .where(F.col("rn") == capacity + 1)
        .select(*group_cols, F.col("est").alias("kth"))
    )
    return (
        merged.join(kth, group_cols, "left")
        .where(
            F.col(token_col).isNull()
            | F.col("kth").isNull()
            | (F.col("est") > F.col("kth"))
        )
        .select(
            *group_cols,
            token_col,
            F.when(
                F.col(token_col).isNull() | F.col("kth").isNull(),
                F.col("est"),
            )
            .otherwise(F.col("est") - F.col("kth"))
            .alias("est"),
        )
    )


def merge_mg_batch_grouped(
    spark,
    batch_df: DataFrame,
    table_path: str,
    group_col: str,
    token_col: str = "token",
    capacity: int = 512,
    batch_id: int | None = None,
) -> None:
    """Fold one micro-batch into per-GROUP stored MG summaries.

    The grouped twin of :func:`merge_mg_batch` — one independent
    capacity-``capacity`` sketch per group value, all in one table
    ``(group, token, est)`` with a NULL-token total row per group.
    Merge math in :func:`_grouped_summary_merge`.
    """
    live = recover(table_path)  # BEFORE reading state, not just before swap
    if already_merged(table_path, batch_id):  # at-least-once replay
        return
    batch_df = batch_df.where(
        F.col(group_col).isNotNull() & F.col(token_col).isNotNull()
    )
    stored = spark.read.parquet(table_path) if live else None
    pruned = _grouped_summary_merge(
        stored, batch_df, [group_col], token_col, capacity
    )

    swap_in(
        table_path,
        lambda staging: pruned.coalesce(1).write.mode("overwrite").parquet(staging),
        batch_id,
    )


_HW_MARKER = "_mg_high_water_us"


def merge_mg_batch_windowed(
    spark,
    batch_df: DataFrame,
    table_path: str,
    time_col: str,
    group_col: str,
    token_col: str = "token",
    capacity: int = 512,
    delay_seconds: int = 3600,
    window: str = "hour",
    batch_id: int | None = None,
) -> None:
    """Fold one micro-batch into (event-time window, group)-keyed MG
    summaries with WATERMARK semantics — the streaming twin of the
    batch ``hourly``/``grouped`` heavy hitters composed (round-7
    verdict item 6).

    Watermark = (max event time seen in PRIOR batches) −
    ``delay_seconds``, carried across batches in a marker file inside
    the swapped live dir (so it survives crashes and replays atomically
    with the state it bounds).  The lag-one-trigger semantics matter
    (round-8 review finding): Spark advances the watermark at the END
    of a batch, so rows are judged against the watermark as of the
    batch's START — a first-batch backfill is accepted in full, and a
    far-future outlier in a batch cannot drop its on-time peers; it
    only advances the threshold for SUBSEQUENT batches.

    - rows LATER than their window but within the watermark merge
      normally (out-of-order tolerated);
    - rows older than the watermark are DROPPED, exactly like a
      watermarked streaming aggregation would drop them;
    - live state holds only windows whose END is past the
      post-batch watermark: older windows are FINALIZED — their summary
      rows move to a ``<table>__closed`` dir (dynamic partition
      overwrite per window, so an at-least-once replay rewrites the
      same partition with the same bytes) and leave live state, which
      stays bounded by (windows inside the watermark horizon) × groups
      × (capacity+1).

    A finalized window can never need its summary again: windows
    finalize against the POST-batch watermark (end(W) ≤ hw_new −
    delay), and every later batch drops rows older than that same
    threshold (its pre-batch watermark ≥ this batch's post-batch one),
    so no merged row can ever target a closed window.
    """
    closed = table_path.rstrip("/") + "__closed"
    live = recover(table_path)
    if already_merged(table_path, batch_id):
        return
    batch_df = batch_df.where(
        F.col(time_col).isNotNull()
        & F.col(group_col).isNotNull()
        & F.col(token_col).isNotNull()
    )
    # high-water mark: one bounded scalar aggregate per batch
    row = batch_df.agg(F.max(F.unix_micros(F.col(time_col))).alias("mx")).collect()[0]
    batch_max_us = row["mx"]
    hw_path = os.path.join(table_path, _HW_MARKER)
    hw_old = None
    if os.path.exists(hw_path):
        with open(hw_path) as fh:
            hw_old = int(fh.read().strip())
    candidates = [x for x in (hw_old, batch_max_us) if x is not None]
    if not candidates:
        return  # empty batch, no state yet
    hw_new = max(candidates)
    # late-drop threshold: the PRE-batch watermark (lag one trigger —
    # Spark semantics); -inf before any batch has committed a mark
    delay_us = delay_seconds * 1_000_000
    drop_us = (hw_old - delay_us) if hw_old is not None else None

    kept = batch_df
    if drop_us is not None:
        kept = kept.where(F.unix_micros(F.col(time_col)) >= F.lit(drop_us))
    kept = kept.withColumn("window", F.date_trunc(window, F.col(time_col)))

    stored = spark.read.parquet(table_path) if live else None
    pruned = _grouped_summary_merge(
        stored, kept, ["window", group_col], token_col, capacity
    ).persist()
    # windows fully behind the POST-batch watermark finalize
    final_us = hw_new - delay_us
    window_end_us = F.unix_micros(
        F.col("window") + F.expr(f"INTERVAL 1 {window}")
    )
    expired = pruned.where(window_end_us <= F.lit(final_us))
    alive = pruned.where(window_end_us > F.lit(final_us))

    if not expired.isEmpty():
        (
            expired.withColumn("window_part", F.unix_micros("window"))
            .repartition("window_part")
            .write.partitionBy("window_part")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(closed)
        )

    def _write(staging: str) -> None:
        alive.coalesce(1).write.mode("overwrite").parquet(staging)
        with open(os.path.join(staging, _HW_MARKER), "w") as fh:
            fh.write(str(int(hw_new)))

    swap_in(table_path, _write, batch_id)
    pruned.unpersist(blocking=False)


def maintain_windowed_heavy_hitters(
    stream_df: DataFrame,
    table_path: str,
    checkpoint: str,
    time_col: str,
    group_col: str,
    token_col: str = "token",
    capacity: int = 512,
    delay_seconds: int = 3600,
    window: str = "hour",
):
    """Attach the watermarked (window, group) MG merge to an event
    stream via foreachBatch (availableNow trigger)."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_mg_batch_windowed(
            batch_df.sparkSession,
            batch_df,
            table_path,
            time_col,
            group_col,
            token_col,
            capacity,
            delay_seconds,
            window,
            batch_id=batch_id,
        )

    return start_foreach_batch(stream_df, merge, checkpoint)


def windowed_grouped_top_k_from_summary(
    spark,
    table_path: str,
    corpus: DataFrame,
    group_col: str,
    token_col: str = "token",
    k: int = 10,
    capacity: int = 512,
) -> DataFrame:
    """Exact per-(window, group) top-``k``: live + finalized summaries
    certify candidates, ``corpus`` (with a ``window`` column) provides
    the exact rerank — same certify-or-degrade contract as
    :func:`grouped_top_k_from_summary`, over the composite key."""
    from tweets_spark_top_10_spark.functions.heavy_hitters import (
        grouped_candidate_rerank,
    )

    closed = table_path.rstrip("/") + "__closed"
    parts = []
    if recover(table_path):
        parts.append(spark.read.parquet(table_path))
    if os.path.exists(closed):
        parts.append(
            spark.read.parquet(closed).select(
                F.timestamp_micros(F.col("window_part")).alias("window"),
                group_col,
                token_col,
                "est",
            )
        )
    if not parts:
        raise FileNotFoundError(f"no summary state at {table_path}")
    summary = parts[0]
    for p in parts[1:]:
        summary = summary.unionByName(p)
    # key on epoch micros, not a formatted local timestamp: in a DST
    # fall-back hour two distinct windows share the same wall-clock
    # string and their counts would merge (round-8 review finding)
    key = F.concat_ws(
        "|", F.unix_micros(F.col("window")).cast("string"), F.col(group_col)
    )
    summary_k = summary.select(key.alias("__wg"), token_col, "est")
    corpus_k = corpus.where(
        F.col("window").isNotNull()
        & F.col(group_col).isNotNull()
        & F.col(token_col).isNotNull()
    ).select(key.alias("__wg"), token_col)
    out = grouped_candidate_rerank(
        summary_k, corpus_k, "__wg", token_col, k, capacity
    )
    split = F.split(F.col("__wg"), r"\|", 2)
    return out.select(
        F.timestamp_micros(split.getItem(0).cast("long")).alias("window"),
        split.getItem(1).alias(group_col),
        token_col,
        *[c for c in out.columns if c not in ("__wg", token_col)],
    )


def maintain_grouped_heavy_hitters(
    stream_df: DataFrame,
    table_path: str,
    checkpoint: str,
    group_col: str,
    token_col: str = "token",
    capacity: int = 512,
):
    """Attach the grouped MG merge to a (group, token) stream via
    foreachBatch (availableNow trigger, as the other maintained
    indexes)."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_mg_batch_grouped(
            batch_df.sparkSession,
            batch_df,
            table_path,
            group_col,
            token_col,
            capacity,
            batch_id=batch_id,
        )

    return start_foreach_batch(stream_df, merge, checkpoint)


def grouped_top_k_from_summary(
    spark,
    table_path: str,
    corpus: DataFrame,
    group_col: str,
    token_col: str = "token",
    k: int = 10,
    capacity: int = 512,
) -> DataFrame:
    """Exact per-group top-``k`` using the maintained grouped summary
    for candidates and ``corpus`` for the exact rerank — the streaming
    read side of ``functions/heavy_hitters.grouped_exact_top_k``
    (identical certify-or-degrade contract, via the shared
    ``grouped_candidate_rerank``)."""
    from tweets_spark_top_10_spark.functions.heavy_hitters import (
        grouped_candidate_rerank,
    )

    recover(table_path)
    summary = spark.read.parquet(table_path)
    corpus = corpus.where(
        F.col(group_col).isNotNull() & F.col(token_col).isNotNull()
    )
    return grouped_candidate_rerank(
        summary, corpus, group_col, token_col, k, capacity
    )


def top_k_from_summary(
    spark,
    table_path: str,
    corpus_tokens: DataFrame,
    token_col: str = "token",
    k: int = 10,
    capacity: int = 512,
) -> DataFrame:
    """Exact top-``k`` using the maintained summary for candidates and
    ``corpus_tokens`` for the exact rerank (same certify-or-fallback
    contract as the batch two-pass operator)."""
    from tweets_spark_top_10_spark.functions.heavy_hitters import (
        candidates_from_summary,
    )

    recover(table_path)
    summary = spark.read.parquet(table_path)
    candidates = candidates_from_summary(summary, token_col, k, capacity)
    counted = corpus_tokens
    if candidates is not None:
        counted = corpus_tokens.join(F.broadcast(candidates), token_col, "left_semi")
    return (
        counted.groupBy(token_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc(token_col))
        .limit(k)
    )

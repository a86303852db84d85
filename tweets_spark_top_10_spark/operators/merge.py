"""Batch CDC apply: MERGE a keyed change log onto a base snapshot.

The reference has no mutation surface at all (its output is an
overwritten CSV per hour, ``App.java:133-134``); a training-data
pipeline needs one — corpora are maintained as base snapshot + change
feeds (new crawls, takedown deletes, metadata fixes).  Last writer
wins per key, expressed as one declarative plan.

Semantics (Delta/Iceberg ``MERGE`` shape):

- ``changes`` rows carry the base schema plus ``op_col`` in
  {'I','U','D'} and a monotonically increasing ``seq_col``.
- Per key, only the LATEST change applies (ties broken by op desc so
  an equal-seq U/D pair resolves deterministically).
- 'I'/'U' replace the whole row (upsert — an 'I' on an existing key
  behaves as 'U'); 'D' removes the key; unmentioned keys pass through.

Scale shape: latest-change compaction is a ``row_number`` window
keyed by the merge key (one shuffle of the — typically small — change
feed, never of the base), then a single full-outer join keyed the
same way; AQE broadcasts the compacted feed when it fits.  No
collects, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def apply_changes(
    base: DataFrame,
    changes: DataFrame,
    key: str,
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Apply ``changes`` onto ``base`` (schema: base columns + op/seq);
    returns the merged snapshot with exactly the base columns."""
    payload = base.columns
    missing = [c for c in payload + [seq_col, op_col] if c not in changes.columns]
    if missing:
        raise ValueError(f"changes is missing columns: {missing}")

    w = Window.partitionBy(key).orderBy(F.desc(seq_col), F.desc(op_col))
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select([F.col(c).alias(f"__c_{c}") for c in payload] + [F.col(op_col).alias("__op")])
    )
    joined = base.join(latest, base[key] == latest[f"__c_{key}"], "full_outer")
    merged = joined.where(F.col("__op").isNull() | (F.col("__op") != F.lit("D")))
    return merged.select(
        [
            F.when(F.col("__op").isNotNull(), F.col(f"__c_{c}"))
            .otherwise(base[c])
            .alias(c)
            for c in payload
        ]
    )


def snapshot_diff(old: DataFrame, new: DataFrame, key: str) -> DataFrame:
    """Effective change feed turning snapshot ``old`` into ``new``:
    one row per differing key with ``op`` in {'I','U','D'} and the
    appropriate payload ('I'/'U' carry the new row, 'D' the old one).
    Inverse of :func:`apply_changes` — ``apply_changes(old,
    diff+seq, ...) == new`` (property-tested).

    One full-outer join keyed by ``key``; unchanged rows are dropped
    by a null-safe struct comparison, so the output is proportional
    to the churn, not the snapshot — the shape incremental snapshot
    shipping needs at 100 TB."""
    payload = old.columns
    if set(new.columns) != set(payload):
        raise ValueError(f"schema mismatch: {old.columns} vs {new.columns}")
    o = old.select([F.col(c).alias(f"__o_{c}") for c in payload])
    n = new.select([F.col(c).alias(f"__n_{c}") for c in payload])
    joined = o.join(n, o[f"__o_{key}"] == n[f"__n_{key}"], "full_outer")
    o_struct = F.struct(*[F.col(f"__o_{c}") for c in payload])
    n_struct = F.struct(*[F.col(f"__n_{c}") for c in payload])
    changed = joined.where(
        F.col(f"__o_{key}").isNull()
        | F.col(f"__n_{key}").isNull()
        | ~o_struct.eqNullSafe(n_struct)
    )
    op = (
        F.when(F.col(f"__o_{key}").isNull(), F.lit("I"))
        .when(F.col(f"__n_{key}").isNull(), F.lit("D"))
        .otherwise(F.lit("U"))
    )
    take_new = F.col(f"__n_{key}").isNotNull()
    return changed.select(
        op.alias("op"),
        *[
            F.when(take_new, F.col(f"__n_{c}")).otherwise(F.col(f"__o_{c}")).alias(c)
            for c in payload
        ],
    )


def scd2_history(
    changes: DataFrame,
    key: str,
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from a keyed change log.

    Every 'I'/'U' change becomes a VERSION row with a validity
    interval: ``valid_from`` = its own sequence number, ``valid_to`` =
    the next change's sequence for that key (NULL while current), and
    ``is_current`` marking the open version — unless the next change
    is what closed it.  'D' changes emit no version themselves; they
    close the previous version's interval.  This is the standard
    warehouse historization: instead of overwriting state
    (:func:`apply_changes`), every state a key ever had stays
    queryable by interval (as-of reads become a range predicate on
    ``valid_from``/``valid_to``).

    Scale shape: ONE shuffle keyed by ``key`` feeding a lead() window
    per key — O(changes) state, no joins, no collects.  Duplicate
    (key, seq) pairs would make intervals ambiguous, so they fail
    loud downstream via the deterministic (seq, op) ordering.
    """
    w = Window.partitionBy(key).orderBy(F.asc(seq_col), F.asc(op_col))
    closed = changes.withColumn("__next_seq", F.lead(seq_col).over(w))
    versions = closed.where(F.col(op_col) != F.lit("D"))
    return versions.select(
        *[c for c in changes.columns if c not in (seq_col, op_col)],
        F.col(seq_col).alias("valid_from"),
        F.col("__next_seq").alias("valid_to"),
        F.col("__next_seq").isNull().alias("is_current"),
    )


def pit_join(
    probe: DataFrame,
    history: DataFrame,
    key: str,
    at_col: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Point-in-time join: each probe row picks the ONE history version
    valid at its ``at_col`` (``valid_from <= at < valid_to``, open
    ``valid_to`` = NULL = still current).

    The companion read path of :func:`scd2_history` — "what did this
    key look like when the event happened" is how training pipelines
    avoid feature leakage (joining tomorrow's dimension onto today's
    event).  Probes falling in no interval (key deleted or not yet
    born at ``at``) drop — inner semantics, by design.

    Scale shape: a plain equi-join on ``key`` (versions per key are
    few, so the interval predicate is a cheap post-join filter on
    co-located rows; no theta join, no window).  Intervals are
    disjoint per key by construction, so the join multiplies nothing.
    """
    dup = (set(probe.columns) & set(history.columns)) - {key}
    if dup:
        raise ValueError(
            f"probe/history columns must be disjoint apart from {key!r};"
            f" shared: {sorted(dup)}"
        )
    return probe.join(history, key).where(
        (F.col(valid_from) <= F.col(at_col))
        & (F.col(valid_to).isNull() | (F.col(at_col) < F.col(valid_to)))
    )

"""Session-scoped tracking of persisted intermediates.

Several operators ``persist()`` a multiply-referenced intermediate
(shingle tables, sketch signatures, PQ residuals) so the expensive
subplan runs once instead of per-reference.  A long-lived session
running many catalog queries back-to-back (the correctness driver runs
~80 in one session) would otherwise accumulate cached blocks without
bound.

``persist_tracked`` is a drop-in replacement for ``DataFrame.persist``
that records the handle per session; ``release_persisted`` unpersists
everything recorded for that session.  Query registration
(``queries/registry.register``) calls ``release_persisted`` at the
start of every query build, so each query's working set is freed the
moment the next query starts.  Unpersisting is always safe: a caller
still holding a downstream DataFrame just recomputes the (recomputable)
intermediate on its next action.

``localCheckpoint`` blocks are deliberately NOT tracked: their lineage
is truncated, so dropping their blocks would make still-held results
unrecoverable; Spark's ContextCleaner frees them once the plan objects
are garbage-collected.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession

_TRACKED: "weakref.WeakKeyDictionary[SparkSession, list[DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def persist_tracked(df: DataFrame) -> DataFrame:
    """``df.persist()``, recorded for later bulk release."""
    out = df.persist()
    _TRACKED.setdefault(out.sparkSession, []).append(out)
    return out


def release_persisted(spark: SparkSession) -> int:
    """Unpersist every tracked intermediate of ``spark``; return count."""
    dfs = _TRACKED.pop(spark, [])
    for df in dfs:
        df.unpersist(blocking=False)
    return len(dfs)

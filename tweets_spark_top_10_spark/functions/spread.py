"""Scale-adaptive scan fan-out for expression-heavy pipelines.

The fixture parquet files are single-row-group, so every scan arrives
as ONE input split and Spark runs the whole pre-exchange expression
chain — tokenize, shingle explode, langid/quality scoring, signature
hashing — on a single core (measured at sf0.1: the training pipeline's
scoring stage spent 2.8 s in one task; spread across local[32] it runs
in ~0.3 s).  A production 100 TB corpus arrives as tens of thousands of
splits and has no such problem — which is exactly why the fan-out must
be CONDITIONAL, not a constant repartition baked into every plan:

- narrower than ``defaultParallelism``  -> one round-robin repartition
  (deterministic: Spark sorts before round-robin under
  ``spark.sql.execution.sortBeforeRepartition``, on by default);
- already at least that wide (every real cluster scan) -> NO-OP, no
  exchange added, predicate pushdown and scan pruning untouched.

The check reads the physical plan's partition count at query-construction
time (no job runs).  Streaming DataFrames pass through untouched —
micro-batch partitioning is the source's concern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# The probe below asks the PHYSICAL width via ``df.rdd`` — but under AQE
# that conversion needs the FINAL plan, and the final plan of anything
# with an upstream exchange only exists after its query stages have
# RUN.  So probing a post-shuffle/post-join input executes the whole
# upstream chain at query-construction time (r17, measured: the
# training pipeline's ``shingle_table(kd)`` probe re-ran the cached
# clean/keepers chain as two 32-task "javaToPython" jobs, ~16 CPU-s
# per build).  The fan-out only ever pays on the single-split SCAN
# shape anyway, so the probe is gated to plans that are narrow
# operators over a relation leaf; everything wider (join, aggregate,
# repartition, window, checkpoint, union …) keeps whatever width the
# engine gave it and passes through untouched.
_SCAN_SHAPE_NODES = frozenset(
    {
        "Project",
        "Filter",
        "SubqueryAlias",
        "View",
        "LogicalRelation",
        "DataSourceV2Relation",
        "DataSourceV2ScanRelation",
        "HiveTableRelation",
    }
)


def _scan_shaped(df: DataFrame) -> bool:
    """True iff the analyzed logical plan is Project/Filter chains over
    relation leaves only — the shape whose ``.rdd`` width probe is free
    (no upstream AQE stages to materialize)."""
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        if node.nodeName() not in _SCAN_SHAPE_NODES:
            return False
        children = node.children()
        for i in range(children.length()):
            stack.append(children.apply(i))
    return True


def spread_scan(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` up to ``defaultParallelism`` partitions iff
    it is a scan-shaped plan narrower than that; identity otherwise
    (see module doc).

    Apply at the START of an expression-heavy pipeline (before the
    tokenize/shingle/scoring projections), AFTER any selective filter
    (fewer rows shuffle; the filter itself still pushes down — Catalyst
    moves filters through Repartition in either case)."""
    if df.isStreaming:
        return df
    if not _scan_shaped(df):
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df

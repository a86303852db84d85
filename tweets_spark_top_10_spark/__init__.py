"""tweets_spark_top_10_spark — a PySpark-native analytics engine.

A brand-new, Spark-first engine with the query and data-processing
capabilities of the reference ``cdekimpe/tweets-spark-top-10`` (a single
Java Spark batch job: hour-partitioned Avro scan -> explode(hashtags) ->
group-count -> top-10 -> CSV; see SURVEY.md §2.1, reference
``App.java:92-134``), extended with:

- the full batch relational operator surface (filters, joins, windows,
  rollup/cube, set ops, scalar functions),
- Structured Streaming twins of the batch queries (tumbling/sliding
  windows, watermarks, streaming dedup, idempotent foreachBatch
  sinks — replacing the reference's delete-then-write ES dance,
  ``App.java:115-157``),
- LLM-data-pipeline operators: exact/near dedup (MinHash-LSH, SimHash,
  n-gram Jaccard), embedding similarity search, text analysis, and
  multimodal column conventions.

Everything is plain PySpark DataFrame API — Catalyst plans, Tungsten
executes. No custom executor, no RDDs in the hot path.
"""

from tweets_spark_top_10_spark.session import get_spark


def hourly_top_k(*args, **kwargs):
    """Lazy re-export of :func:`tweets_spark_top_10_spark.api.hourly_top_k`
    (the reference job as a library call)."""
    from tweets_spark_top_10_spark.api import hourly_top_k as _impl

    return _impl(*args, **kwargs)


__all__ = ["get_spark", "hourly_top_k"]
__version__ = "0.1.0"

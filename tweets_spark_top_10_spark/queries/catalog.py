"""Aggregate the query registry: importing the modules populates it.

The catalog iterates in registration order.
"""

from __future__ import annotations

# Import order is alphabetical-ish; each module registers on import.
from tweets_spark_top_10_spark.queries import (  # noqa: F401
    bpe_queries,
    graph_queries,
    layout_queries,
    metrics_queries,
    multimodal_queries,
    pipeline_queries,
    relational,
    relational2,
    relational3,
    retrieval_queries,
    similarity_queries,
    text_queries,
    udf_queries,
    window_queries,
)
from tweets_spark_top_10_spark.queries.registry import ORACLE, QUERIES

__all__ = ["ORACLE", "QUERIES"]

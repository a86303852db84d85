"""Catalog-wide physical-plan audit.

Two invariants every query must satisfy (SURVEY.md §4 / the 100 TB
design rules):

1. No row-at-a-time Python UDFs anywhere (``BatchEvalPython``): Python
   is allowed only through Arrow surfaces (``ArrowEvalPython``,
   ``MapInPandas``, ``FlatMapGroupsInPandas``, UDTF).
2. No cartesian product, except queries that deliberately broadcast a
   tiny side (kNN query sets, IVF centroids) — those must plan as
   ``BroadcastNestedLoopJoin``/``CartesianProduct`` with the broadcast
   hint present, and are whitelisted here explicitly.
3. No unpartitioned Window (``Exchange SinglePartition`` + one task
   scanning every input row), except whitelisted windows whose input
   is bounded by construction (the per-range-partition offset tables
   of ``operators/scalable_rank`` — one row per partition, metadata
   never data).
"""

from __future__ import annotations

import pytest

from tweets_spark_top_10_spark.queries import QUERIES

# Queries whose plan intentionally contains a (broadcast) nested-loop or
# cartesian join of a deliberately tiny side.
CROSS_JOIN_OK = {
    "knn_cosine_top5",  # 10 broadcast query vectors x candidates
    "ivf_knn_top5",  # broadcast centroid assignment (<=16 rows)
    "rp_ivf_rerank_top5",  # broadcast centroid assignment (<=16 rows) in rp space
    "rp_ivf_rerank_top5_prebuilt",  # same probe shape, prebuilt centroids
    "lsh_knn_top5",  # MinHashLSH approxSimilarityJoin internals
    "quantity_bucket_ranges",  # broadcast 5-row bucket dim, range predicate
    "doc_tfidf_top3",  # broadcast 1-row N (total doc count) into the scorer
    "simhash_invariants",  # final assembly of four 1-row invariant counts
    "lsh_knn_invariants",  # exact side: 10 broadcast query vectors x candidates
    "ivfpq_adc_top5",  # broadcast centroid assignment (<=16 rows), as ivf_knn_top5
    "mergeable_user_sketches",  # final assembly of 1-row exact/estimate pairs
    "pq_adc_top5_prebuilt",  # broadcast 10-row query-LUT x wide-codes scan
    "opq_adc_top5_prebuilt",  # same serving shape, permuted space
    "opq_adc_rerank_top5_prebuilt",  # same LUT broadcast feeding the rerank
    "semantic_dedup_keep",  # broadcast centroid assignment (~sqrt(N) rows)
    "lang_mixture_weights",  # broadcast 1-row total into the share computation
    "maxsim_label_top3",  # broadcast 50-row multi-vector query set x candidates
    "hybrid_rrf_top5",  # broadcast 5-row query grid/vectors x candidates
    "approx_quantile_gate",  # final assembly of 1-row exact/approx aggregates
}


# Queries allowed N distinct unpartitioned Window operators, each over
# an input bounded by construction (never corpus-proportional).
GLOBAL_WINDOW_OK = {
    # per-range-partition offset table of global_row_number: one row
    # per partition (vocab rank-id assignment)
    "doc_token_ids": 1,
    # same, global_running_sum over the per-slot size table
    "curriculum_interleave": 1,
    # per-range-partition offset table of exact_quantiles' rank pass
    "approx_quantile_gate": 1,
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_plan_invariants(name, spark, sf_dir):
    from tools.record_plan_shapes import count_global_windows

    plan = QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, (
        f"{name}: row-at-a-time Python UDF in plan\n{plan}"
    )
    if name not in CROSS_JOIN_OK:
        for op in ("CartesianProduct", "BroadcastNestedLoopJoin"):
            assert op not in plan, f"{name}: unintended {op}\n{plan}"
    n_gw = count_global_windows(plan)
    assert n_gw <= GLOBAL_WINDOW_OK.get(name, 0), (
        f"{name}: {n_gw} unpartitioned Window operator(s) — every input "
        f"row funnels through ONE task; partition the window or, if the "
        f"input is bounded by construction, whitelist it\n{plan}"
    )


def test_no_new_shuffles(spark, sf_dir):
    """Plan-shape regression tripwire: no catalog query may plan MORE
    Exchange operators (shuffles/broadcasts, reuse excluded) than the
    recorded golden — an accidental extra shuffle is invisible at test
    scale and a cliff at 100 TB.  Fewer than golden is an improvement:
    re-record. Run ``python tools/record_plan_shapes.py`` after any
    intentional plan change."""
    import json
    import pathlib

    golden_path = (
        pathlib.Path(__file__).resolve().parent.parent / "tools" / "plan_shapes.json"
    )
    golden = json.loads(golden_path.read_text())
    from tools.record_plan_shapes import count_exchanges

    missing = [n for n in QUERIES if n not in golden]
    assert not missing, (
        f"queries without golden plan shape (run tools/record_plan_shapes.py): {missing}"
    )
    worse = {}
    for name in sorted(QUERIES):
        plan = (
            QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        n = count_exchanges(plan)
        if n > golden[name]:
            worse[name] = (golden[name], n)
    assert not worse, f"plans grew shuffles (golden, now): {worse}"

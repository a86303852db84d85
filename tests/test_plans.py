"""Physical-plan hygiene: the shapes that matter at 100 TB.

`.explain()` assertions: filters reach the parquet scan (PushedFilters),
small dims broadcast, global top-K plans TakeOrderedAndProject (not a
full sort), and hour-partition reads prune partitions.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tweets_spark_top_10_spark.queries import QUERIES
from tweets_spark_top_10_spark.sources.readers import read_hour_partition
from tweets_spark_top_10_spark.sources.writers import write_partitioned


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushed_to_scan(spark, sf_dir):
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters:")[1].split("]")[0], plan


def test_scan_schema_pruned(spark, sf_dir):
    # ref query needs only `text`; the parquet ReadSchema must not
    # include the other documents columns.
    df = QUERIES["ref_top10_tokens"](spark, sf_dir)
    plan = _plan(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" in read_schema
    assert "lang" not in read_schema and "source" not in read_schema, read_schema


def test_topk_is_take_ordered(spark, sf_dir):
    plan = _plan(QUERIES["ref_top10_tokens"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_broadcast_join_planned(spark, sf_dir):
    plan = _plan(QUERIES["top_revenue_orders"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_anti_join_broadcast(spark, sf_dir):
    plan = _plan(QUERIES["customers_without_big_orders"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_hour_partition_pruning(spark, tmp_path):
    base = str(tmp_path / "hourly")
    df = spark.range(100).select(
        F.col("id"),
        F.lit(2026).alias("year"),
        F.lit(8).alias("month"),
        F.lit(13).alias("day"),
        (F.col("id") % 4).cast("int").alias("hour"),
    )
    write_partitioned(df, base, ["year", "month", "day", "hour"])
    got = read_hour_partition(spark, base, 2026, 8, 13, 2)
    assert got.count() == 25
    plan = _plan(got)
    # Partition filters present and scan restricted to 1 of 4 hour dirs.
    assert "PartitionFilters" in plan and "hour" in plan, plan


def test_pq_encode_joins_are_broadcast(spark, sf_dir):
    """The PQ encode/ADC joins must broadcast the codebook/LUT side —
    a SortMergeJoin here would shuffle the full candidate subvector
    table against a few-KB codebook."""
    for name in ("pq_codes", "pq_adc_top5"):
        plan = _plan(QUERIES[name](spark, sf_dir))
        assert "BroadcastHashJoin" in plan, f"{name}:\n{plan}"
        assert "SortMergeJoin" not in plan, f"{name} shuffled the codebook:\n{plan}"


def test_shingle_df_cap_is_skew_safe(spark, sf_dir):
    """The max_shingle_df cap must come from a partial-aggregated
    groupBy + broadcast anti-join, never `count(*) over (partition by
    shingle)` — a window partitioned by shingle funnels every row of a
    hot shingle through one task, stragglering on exactly the keys the
    cap removes (VERDICT r5 #2)."""
    from tweets_spark_top_10_spark.queries import QUERIES

    df = QUERIES["ngram_jaccard_dup_pairs"](spark, sf_dir)
    plan = _plan(df)
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_join_strategy_hints_control_physical_plan(spark, sf_dir):
    """Join-strategy hints are honored: merge -> SortMergeJoin,
    shuffle_hash -> ShuffledHashJoin, broadcast -> BroadcastHashJoin —
    the explicit-control surface when AQE's choice must be overridden
    (e.g. forcing SMJ for a spill-prone build side at 100 TB)."""
    from pyspark.sql import functions as F

    from tweets_spark_top_10_spark.sources.registry import load_table

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")

    def plan_of(hinted):
        j = orders.join(hinted, orders["o_custkey"] == hinted["c_custkey"])
        return j._jdf.queryExecution().executedPlan().toString()

    assert "SortMergeJoin" in plan_of(cust.hint("merge"))
    assert "ShuffledHashJoin" in plan_of(cust.hint("shuffle_hash"))
    assert "BroadcastHashJoin" in plan_of(F.broadcast(cust))


def test_minhash_rerank_builds_hash_join_on_shingles(spark, sf_dir):
    """The exact-rerank join of the candidate-pair x shingle expansion
    against the shingle table must stay a ShuffledHashJoin building on
    the compact shingle side: the sort-merge alternative sorts the
    plan's widest relation (profiled at 100x fixtures: 14 GB memory /
    6 GB disk spill in one stage; hash build runs spill-free at half
    the wall).  Guards the hint in functions/dedup.lsh_exact_rerank
    against planner-default drift."""
    plan = _plan(QUERIES["minhash_lsh_candidates"](spark, sf_dir))
    assert "ShuffledHashJoin" in plan, plan


def test_shingle_path_has_no_lambda(spark, sf_dir):
    """No per-element higher-order function on the shingle path: Spark
    interprets a lambda element by element instead of codegen'ing it,
    and shingling is the widest per-row stage of near-dedup."""
    from tweets_spark_top_10_spark.functions.dedup import shingle_table
    from tweets_spark_top_10_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = shingle_table(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert "lambdafunction" not in plan.lower(), plan


def test_gram_identity_shuffles_are_fixed_width(spark, sf_dir):
    """Every gram/shingle-keyed exchange in the n-gram family must move
    8-byte xxhash64 keys, not raw n-gram strings: the 100x probes
    localized their only spills / multi-GB shuffle reads to raw-string
    identity shuffles (1.17 GB shingle DF-cap read in r8;  5.2 GB
    doc_dup_spans gram read in r9 — 6x smaller once compacted).  The
    plan must show hashpartitioning on a LONG gram/shingle column
    (`#<id>L`), and never a string one."""
    import re

    for name in ("doc_dup_spans", "ngram_jaccard_dup_pairs"):
        plan = _plan(QUERIES[name](spark, sf_dir))
        keyed = re.findall(r"hashpartitioning\((?:gram|shingle)#\d+(L?)[,)]", plan)
        assert keyed, f"{name}: no gram/shingle-keyed exchange found\n{plan}"
        assert all(suffix == "L" for suffix in keyed), (
            f"{name}: gram/shingle exchange carries a non-long key\n{plan}"
        )


def test_srp_banding_is_map_only_with_starvation_gate(spark, sf_dir):
    """Round-11 SRP rewrite invariants: the signature build shuffles
    NOTHING of its own — its only exchange is the bounded starvation
    gate, which fires when the scan arrives in fewer splits than the
    cluster has cores and stays OUT of the plan when the input is
    already spread (a 100 TB scan must never be re-shuffled just to
    band it)."""
    from tweets_spark_top_10_spark.functions.similarity import (
        srp_signatures,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    par = spark.sparkContext.defaultParallelism

    # already-spread input: banding adds ZERO exchanges
    spread = emb.repartition(par)
    plan = _plan(srp_signatures(spread, "vec_id"))
    # the one exchange is the repartition we asked for; none beyond it
    assert plan.count("Exchange") == 1, plan

    # starved input (small local scan, 1-2 splits): exactly one bounded
    # round-robin spread appears before the fold projection
    plan1 = _plan(srp_signatures(emb, "vec_id"))
    assert plan1.count("Exchange") == 1, plan1
    assert "RoundRobinPartitioning" in plan1, plan1


def test_srp_sign_vectors_match_sql_md5_parity(spark):
    """The SRP hyperplanes are plan-time constants computed with
    hashlib; the DuckDB oracle (and the pre-round-11 implementation)
    derive them IN-ENGINE from md5 parity.  Pin the cross-derivation:
    hashlib md5 == Spark SQL md5 for every (t, j, p) at the default
    geometry, so the banding oracle can never drift from the literal
    sign vectors."""
    from tweets_spark_top_10_spark.functions.similarity import (
        _srp_sign_vectors,
    )

    signs = _srp_sign_vectors(2, 8, 64)  # 1024 planes: enough to pin
    hp = spark.range(2 * 8 * 64).selectExpr(
        "CAST(id div 512 AS INT) AS t",
        "CAST((id div 64) % 8 AS INT) AS j",
        "CAST(id % 64 AS INT) AS p",
        "CAST(conv(substring(md5(concat_ws('_', id div 512, (id div 64) % 8,"
        " id % 64)), 1, 1), 16, 10) AS INT) % 2 AS parity",
    )
    for r in hp.collect():
        want = 1 if r.parity else -1
        assert signs[r.t][r.j][r.p] == want, (r.t, r.j, r.p)


def test_spread_scan_probe_gated_to_scan_shapes(spark, sf_dir):
    """r17: ``spread_scan``'s width probe uses ``df.rdd``, and under AQE
    that conversion EXECUTES every upstream query stage to learn the
    final plan — so probing a post-join/post-aggregate input silently
    re-runs its whole chain at construction time.  The probe (and the
    fan-out) must therefore fire only on scan-shaped plans; anything
    with an exchange upstream passes through untouched, with ZERO jobs
    run while building the expression."""
    from tweets_spark_top_10_spark.functions.spread import spread_scan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    par = spark.sparkContext.defaultParallelism

    # scan-shaped input narrower than the core count: fanned out
    plan = _plan(spread_scan(docs.filter(F.col("doc_id") % 2 == 0)))
    assert "RoundRobinPartitioning" in plan, plan

    # checkpointed (LogicalRDD) input: not scan-shaped -> identity,
    # regardless of width
    wide = docs.repartition(par + 1).localCheckpoint()
    assert spread_scan(wide) is wide

    # join-shaped input: identity AND no construction-time jobs
    store = spark.sparkContext._jsc.sc().statusStore()
    agg = docs.groupBy((F.col("doc_id") % 7).alias("k")).agg(
        F.count(F.lit(1)).alias("c")
    )
    joined = agg.join(docs.select((F.col("doc_id") % 7).alias("k")), "k")
    n0 = store.jobsList(None).size()
    assert spread_scan(joined) is joined
    n1 = store.jobsList(None).size()
    assert n1 == n0, "spread_scan probe ran upstream jobs at construction"

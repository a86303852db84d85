"""operators/scalable_rank: the two-phase global rank/prefix-sum
primitives must be VALUE-IDENTICAL to the single-partition window they
replace, for any boundary placement the range partitioner picks."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from tweets_spark_top_10_spark.operators.scalable_rank import (
    global_row_number,
    global_running_sum,
)


def _skewed_df(spark, n=10_000):
    """Adversarial input: heavily skewed sort-key distribution (80% of
    rows share a handful of cnt values, forcing ties to straddle range
    boundaries) + a unique tiebreaker, arriving in hash-scrambled
    order across many input partitions."""
    return (
        spark.range(n)
        .repartition(16)
        .select(
            F.concat(F.lit("t"), F.col("id")).alias("token"),
            F.when(F.col("id") % 5 != 0, F.col("id") % 3)
            .otherwise(F.col("id") % 997)
            .alias("cnt"),
        )
    )


def test_global_row_number_matches_single_partition_window(spark):
    df = _skewed_df(spark)
    order = [F.desc("cnt"), F.asc("token")]
    got = {
        (r.token, r.rn)
        for r in global_row_number(df, order, out_col="rn").collect()
    }
    want = {
        (r.token, r.rn)
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy(*order)).cast("long")
        ).collect()
    }
    assert got == want
    spark.catalog.clearCache()


def test_global_row_number_start_offset(spark):
    df = _skewed_df(spark, n=100)
    ranks = sorted(
        r.rn
        for r in global_row_number(
            df, [F.asc("token")], out_col="rn", start=0
        ).collect()
    )
    assert ranks == list(range(100))
    spark.catalog.clearCache()


def test_global_running_sum_matches_single_partition_window(spark):
    df = _skewed_df(spark, n=5_000).groupBy("cnt").agg(
        F.count(F.lit(1)).alias("n")
    )
    got = {
        (r.cnt, r.off)
        for r in global_running_sum(
            df, ["cnt"], "n", out_col="off"
        ).collect()
    }
    w = Window.orderBy("cnt").rowsBetween(Window.unboundedPreceding, -1)
    want = {
        (r.cnt, r.off)
        for r in df.withColumn(
            "off", F.coalesce(F.sum("n").over(w), F.lit(0))
        ).collect()
    }
    assert got == want
    spark.catalog.clearCache()


def test_global_running_sum_inclusive(spark):
    df = _skewed_df(spark, n=1_000).groupBy("cnt").agg(
        F.count(F.lit(1)).alias("n")
    )
    rows = global_running_sum(
        df, ["cnt"], "n", out_col="run", exclusive=False
    ).collect()
    total = sum(r.n for r in rows)
    assert max(r.run for r in rows) == total
    spark.catalog.clearCache()


def test_no_corpus_sized_single_partition_window(spark):
    """The plan's only unpartitioned window must be the per-partition
    offset aggregate — detectable because it windows over __pid."""
    from tools.record_plan_shapes import count_global_windows

    df = _skewed_df(spark, n=1_000)
    plan = (
        global_row_number(df, [F.asc("token")], out_col="rn")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert count_global_windows(plan) == 1
    for line in plan.splitlines():
        if "Window" in line and "__pid" not in line:
            raise AssertionError(
                f"unpartitioned window not on the __pid offset table: {line}"
            )
    spark.catalog.clearCache()


def test_exact_quantiles_bit_identical_to_builtin_percentile(spark):
    """exact_quantiles must replay the builtin `percentile`
    interpolation BIT-FOR-BIT (it replaced the builtin in
    approx_quantile_gate r16; the oracle hash rides on equality) —
    including positions landing exactly on an order statistic and a
    skewed, tie-heavy value column."""
    from tweets_spark_top_10_spark.operators.scalable_rank import (
        exact_quantiles,
    )

    df = _skewed_df(spark, n=1_001).select(
        "token", F.col("cnt").cast("double").alias("v")
    )
    qs = [0.0, 0.25, 0.49, 0.5, 0.513, 0.9, 1.0]
    want = df.agg(
        F.expr(
            "percentile(v, array(" + ", ".join(str(q) for q in qs) + "))"
        ).alias("e")
    ).collect()[0]["e"]
    got_row = exact_quantiles(df, "v", ["v", "token"], qs).collect()[0]
    got = [got_row[f"e{i}"] for i in range(len(qs))]
    assert got == list(want), (got, want)
    spark.catalog.clearCache()


def test_grouped_exact_quantiles_bit_identical_to_builtin(spark):
    """grouped_exact_quantiles must replay the builtin grouped
    `percentile` interpolation BIT-FOR-BIT (it replaced the builtin in
    quantity_percentiles r17; the oracle hash rides on equality) — on a
    tie-heavy value column with wildly unequal group sizes, so group
    runs straddle range-partition boundaries."""
    from tweets_spark_top_10_spark.operators.scalable_rank import (
        grouped_exact_quantiles,
    )

    df = _skewed_df(spark, n=1_003).select(
        (F.xxhash64("token") % 4).alias("g"),
        F.col("cnt").cast("double").alias("v"),
    )
    qs = [0.0, 0.25, 0.49, 0.5, 0.513, 0.9, 1.0]
    want = {
        r["g"]: list(r["e"])
        for r in df.groupBy("g")
        .agg(
            F.expr(
                "percentile(v, array(" + ", ".join(str(q) for q in qs) + "))"
            ).alias("e")
        )
        .collect()
    }
    got = {
        r["g"]: [r[f"e{i}"] for i in range(len(qs))]
        for r in grouped_exact_quantiles(df, ["g"], "v", qs).collect()
    }
    assert got == want, (got, want)
    spark.catalog.clearCache()


def test_grouped_exact_quantiles_single_member_groups(spark):
    """Groups of size 1 (pos collapses to lo == hi == 0) and quantiles
    at the extremes must come back exact."""
    from tweets_spark_top_10_spark.operators.scalable_rank import (
        grouped_exact_quantiles,
    )

    df = spark.range(5).select(
        F.col("id").alias("g"), (F.col("id") * 10).cast("double").alias("v")
    )
    rows = grouped_exact_quantiles(df, ["g"], "v", [0.0, 0.5, 1.0]).collect()
    for r in rows:
        assert r["e0"] == r["e1"] == r["e2"] == float(r["g"] * 10)
    spark.catalog.clearCache()


def test_grouped_exact_quantiles_nulls_match_builtin(spark):
    """Null measure values are skipped and a null group key is a group
    of its own, as in the builtin grouped `percentile` — over two fused
    measures, with a group whose first measure is all null and a group
    whose every value is null (both still emit their row)."""
    from tweets_spark_top_10_spark.operators.scalable_rank import (
        grouped_exact_quantiles_multi,
    )

    rows = []
    for i in range(400):
        g = [1, 2, None, 3][i % 4]
        v = None if i % 7 == 0 or g == 3 else float(i % 23)
        w = None if i % 5 == 0 else float(i % 11)
        rows.append((g, v, w))
    rows += [(4, None, None), (4, None, None)]
    df = spark.createDataFrame(rows, "g int, v double, w double")
    qs = [0.0, 0.25, 0.5, 0.9, 1.0]
    arr = "array(" + ", ".join(str(q) for q in qs) + ")"

    def listed(x):
        return list(x) if x is not None else [None] * len(qs)

    want = {
        r["g"]: listed(r["pv"]) + listed(r["pw"])
        for r in df.groupBy("g")
        .agg(
            F.expr(f"percentile(v, {arr})").alias("pv"),
            F.expr(f"percentile(w, {arr})").alias("pw"),
        )
        .collect()
    }
    got_df = grouped_exact_quantiles_multi(
        df,
        ["g"],
        [
            ("v", [(q, f"v{i}") for i, q in enumerate(qs)]),
            ("w", [(q, f"w{i}") for i, q in enumerate(qs)]),
        ],
    )
    got = {
        r["g"]: [r[f"v{i}"] for i in range(len(qs))]
        + [r[f"w{i}"] for i in range(len(qs))]
        for r in got_df.collect()
    }
    assert None in want and 3 in want and 4 in want
    assert got == want, (got, want)
    spark.catalog.clearCache()

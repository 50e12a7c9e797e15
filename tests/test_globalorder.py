"""operators/globalorder.py: distributed global row numbers / running
totals / NTILE must match the single-partition window forms exactly, and
the rewritten queries' physical plans must contain NO SinglePartition
exchange (the anti-pattern the module exists to remove)."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from bdt_spark.operators.cacheutil import release
from bdt_spark.operators.globalorder import ntile_from_index, with_global_order


def _reference(spark, df, order):
    """The single-partition forms globalorder replaces (fine in a test
    at toy scale)."""
    w = Window.orderBy(*order)
    return df.withColumn("ref_rn", F.row_number().over(w)).withColumn(
        "ref_cum",
        F.sum("val").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def test_index_and_running_sum_match_window(spark):
    df = spark.range(0, 10_000).select(
        (F.col("id") * 2654435761 % 1000).alias("k"),
        F.col("id").alias("tie"),
        ((F.col("id") * 37) % 101).cast("long").alias("val"),
    )
    order = [F.col("k").asc(), F.col("tie").asc()]
    res, totals, n = with_global_order(
        df, order, running={"cum": "val"}, index_col="rn"
    )
    assert n == 10_000
    ref = _reference(spark, df, order)
    joined = res.join(ref, ["k", "tie", "val"])
    bad = joined.filter(
        (F.col("rn") != F.col("ref_rn")) | (F.col("cum") != F.col("ref_cum"))
    ).count()
    assert bad == 0
    [last] = ref.orderBy(F.col("ref_rn").desc()).limit(1).collect()
    assert totals["cum"] == last["ref_cum"]
    release(res)


def test_decimal_running_sum_exact(spark):
    from decimal import Decimal

    df = spark.range(1, 5_001).select(
        F.col("id").alias("tie"),
        (F.col("id") % 997).cast("decimal(30,8)").alias("val"),
    )
    order = [F.col("tie").asc()]
    res, totals, n = with_global_order(df, order, running={"cum": "val"})
    [r] = res.orderBy(F.col("tie").desc()).limit(1).collect()
    expect = sum(i % 997 for i in range(1, 5_001))
    assert r["cum"] == Decimal(expect)
    assert totals["cum"] == Decimal(expect)
    release(res)


def test_running_sum_with_nulls_matches_window(spark):
    """SUM OVER ignores NULLs: partitions whose prefix is all-NULL must
    inherit the broadcast offset, not null it out (r10 advice item)."""
    # vals NULL for the whole first third of the order → early range
    # partitions have NULL local prefixes while later offsets are non-NULL,
    # and (reversed) non-NULL locals meet a NULL offset in partition 0.
    df = spark.range(0, 9_000).select(
        F.col("id").alias("tie"),
        F.when(F.col("id") >= 3_000, (F.col("id") % 7).cast("long")).alias(
            "val"
        ),
    )
    for order in ([F.col("tie").asc()], [F.col("tie").desc()]):
        res, totals, n = with_global_order(df, order, running={"cum": "val"})
        assert n == 9_000
        w = Window.orderBy(*order).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        ref = df.withColumn("ref_cum", F.sum("val").over(w))
        bad = (
            res.join(ref.select("tie", "ref_cum"), "tie", "full")
            .filter(~F.col("cum").eqNullSafe(F.col("ref_cum")))
            .count()
        )
        assert bad == 0
        assert totals["cum"] == sum(i % 7 for i in range(3_000, 9_000))
        release(res)


def test_running_sum_all_null(spark):
    df = spark.range(0, 2_000).select(
        F.col("id").alias("tie"),
        F.lit(None).cast("long").alias("val"),
    )
    res, totals, n = with_global_order(
        df, [F.col("tie").asc()], running={"cum": "val"}
    )
    assert n == 2_000 and totals["cum"] is None
    assert res.filter(F.col("cum").isNotNull()).count() == 0
    release(res)


@pytest.mark.parametrize("n_rows,k", [(100, 4), (103, 4), (7, 10), (1, 3)])
def test_ntile_formula_matches_window_ntile(spark, n_rows, k):
    df = spark.range(n_rows).select(F.col("id").alias("tie"))
    order = [F.col("tie").asc()]
    res, _, n = with_global_order(df, order, index_col="rn")
    got = res.withColumn("t", ntile_from_index("rn", n, k))
    ref = df.withColumn("t_ref", F.ntile(k).over(Window.orderBy("tie")))
    bad = (
        got.join(ref, "tie")
        .filter(F.col("t") != F.col("t_ref"))
        .count()
    )
    assert bad == 0
    release(res)


def test_empty_input(spark):
    df = spark.range(0).select(
        F.col("id").alias("tie"), F.col("id").alias("val")
    )
    res, totals, n = with_global_order(
        df, [F.col("tie").asc()], running={"cum": "val"}, index_col="rn"
    )
    assert n == 0 and totals["cum"] is None
    assert res.count() == 0
    assert set(res.columns) >= {"tie", "val", "cum", "rn"}
    release(res)


def test_rewritten_queries_have_no_single_partition_window(spark, sf_dir):
    """The five r10 rewrites must stay free of corpus-sized
    Exchange SinglePartition stages — the one-task global sort/window
    this operator exists to remove. The only SinglePartition allowed is
    the final merge of a single-row aggregate (its input is one partial
    row per partition, bounded by partition count): the exchange's
    direct child must be a partial aggregate, never a scan/sort/window/
    project over data rows."""
    import bdt_spark.plans as plans
    from bdt_spark.planaudit import single_partition_violations

    for name in (
        "features_quantile_binning",
        "customer_rfm_segmentation",
        "lineitem_pareto_abc",
        "quality_split_drift_ks",
        "text_feature_auc_mann_whitney",
    ):
        df = plans.get_query(name).fn(spark, sf_dir)
        bad = single_partition_violations(df)
        assert not bad, (
            f"{name}: SinglePartition over non-aggregate children: {bad}"
        )
        release(df)


def _crafted_orders(path, n_customers: int, seed: int) -> None:
    """orders.parquet with NULL dates, prices and custkeys and heavy key
    ties: 3 dates, 3 prices, 1-3 orders per customer. The NULL custkey
    is one of the `n_customers` groups."""
    import datetime
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    dates = [None, *(datetime.datetime(2020, 1, d) for d in (1, 2, 3))]
    prices = [None, 10.5, 20.25, 20.25, 99.0]
    rows = []
    for cust in [None, *range(1, n_customers)]:
        if cust == 1:  # NULL last_order and NULL monetary
            rows.append((len(rows) + 1, cust, None, None))
            continue
        for _ in range(rng.randint(1, 3)):
            rows.append((len(rows) + 1, cust, rng.choice(prices),
                         rng.choice(dates)))
    cols = list(zip(*rows))
    pq.write_table(
        pa.table({
            "o_orderkey": pa.array(cols[0], pa.int64()),
            "o_custkey": pa.array(cols[1], pa.int64()),
            "o_totalprice": pa.array(cols[2], pa.float64()),
            "o_orderdate": pa.array(cols[3], pa.timestamp("us")),
        }),
        str(path / "orders.parquet"),
    )


@pytest.mark.parametrize("n_customers", [1, 3, 5, 103])
def test_rfm_matches_windowed_oracle_on_nulls_and_ties(
    spark, tmp_path, n_customers
):
    """The stacked single-pass scoring equals Spark running the spec's
    own windowed oracle text, with NULL keys (sorted first, as the
    window does), heavy ties, n < 4 and n mod 4 != 0."""
    import bdt_spark.plans as plans
    from bdt_spark.sources.io import load_fixture_tables

    _crafted_orders(tmp_path, n_customers, seed=n_customers)
    spec = plans.get_query("customer_rfm_segmentation")
    df = spec.fn(spark, str(tmp_path))
    got = sorted(map(tuple, df.collect()))
    release(df)
    load_fixture_tables(spark, str(tmp_path))
    want = sorted(map(tuple, spark.sql(spec.oracle).collect()))
    assert sum(r[3] for r in want) == n_customers
    assert got == want


def test_rfm_build_starts_at_most_six_jobs(spark, sf_dir):
    """Building rfm runs one global-order pass for all three orderings:
    at most 6 Spark jobs before any action (three chained passes ran
    20). Jobs counted by the StatusTracker under the build's job group."""
    import bdt_spark.plans as plans
    from bdt_spark.sources.io import load_fixture_tables

    load_fixture_tables(spark, sf_dir)
    sc = spark.sparkContext
    group = "test-rfm-build"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        df = plans.get_query("customer_rfm_segmentation").fn(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    release(df)
    assert 0 < jobs <= 6, jobs

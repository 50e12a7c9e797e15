"""Distributed global-order primitives: row numbers, running totals, and
NTILE over a TOTAL ordering without ever collapsing to one partition.

The problem: `fn() OVER (ORDER BY ...)` with an empty PARTITION BY is a
single-partition window in Spark — `Exchange SinglePartition` followed by
one task sorting and scanning everything. Fine over a bounded rollup
(days, languages, grouping cells); a genuine 100 TB bottleneck when the
input is corpus-sized (every order, every customer, every distinct price).
Several analytics queries need exactly that shape (equi-depth binning,
Pareto cumulative share, KS cumulative distributions, rank sums), so this
module provides the scalable equivalent, built from the same technique as
`operators/compare.py`'s `_zip_global_index`:

1. `repartitionByRange` on the total order — ordered partitions, parallel
   sort (this is how Spark's own global `orderBy` starts);
2. per-partition local prefix (window PARTITIONed BY the range-partition
   id — no single-partition exchange anywhere);
3. one tiny count/sum job per partition id, whose per-partition totals
   become broadcast offsets added to the local prefixes — and whose
   python-side accumulation yields the GRAND totals as literals, so
   `SUM(x) OVER ()` disappears entirely.

Exactness: the caller's order must be TOTAL (tie-broken to the row, as
every registry query already guarantees); decimal/long running sums are
associative, so per-partition partials + exclusive offsets reproduce the
sequential prefix bit-for-bit. Cost: the range shuffle (with its sampling
pass), one bounded stats job over the persisted sorted layout (released
by the caller via the standard cacheutil contract), and one more narrow
hash shuffle on the partition id — Catalyst cannot prove the range
layout already clusters rows by `spark_partition_id()`, so the pid-
partitioned window re-exchanges (`ENSURE_REQUIREMENTS`; the same cost
compare.py's `_zip_global_index` pays). Both shuffles are fully
parallel and balanced by the range boundaries; the structure this
module exists to avoid is `Exchange SinglePartition` + one task
sorting/scanning the world, which is a cliff, not a constant factor.

NOT fully lazy: computing offsets requires one Spark job before the
result plan is returned (same documented behavior as `ann.ivf_probe`).

Several orderings of one frame share ONE pass by stacking: tag a copy of
each row per ordering with k, put ordering k's key in a column that is
NULL outside block k, order by (k, those columns, tie-breaker), and read
ordering k's row number as idx - k*n (customer_rfm_segmentation).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bdt_spark.operators.cacheutil import transfer_ownership

_PID = "__go_pid"


def with_global_order(
    df: DataFrame,
    order: list[Column],
    running: dict[str, str] | None = None,
    index_col: str | None = None,
) -> tuple[DataFrame, dict[str, object], int]:
    """Attach global-order columns to `df` without a single-partition stage.

    order: sort expressions forming a TOTAL order (tie-broken to the row).
    running: {out_col: in_col} inclusive running SUMs along the order.
    index_col: name for the 1-based global row number, if wanted.

    Returns (result, grand_totals, n_rows): `grand_totals[out_col]` is the
    full-table sum of each running column (python Decimal/int — embed as a
    literal instead of `SUM(x) OVER ()`), `n_rows` the total row count.
    The result carries the persisted sorted layout under the cacheutil
    ownership contract — `release(result)` once consumed.
    """
    running = running or {}
    sdf = (
        df.repartitionByRange(*order)
        .sortWithinPartitions(*order)
        .withColumn(_PID, F.spark_partition_id())
        .persist()
    )
    aggs = [F.count(F.lit(1)).alias("__go_cnt")] + [
        F.sum(src).alias(f"__go_sum_{out}") for out, src in running.items()
    ]
    stats_df = sdf.groupBy(_PID).agg(*aggs)
    stats_schema = stats_df.schema
    part_rows = sorted(stats_df.collect(), key=lambda r: r[_PID])
    # exclusive prefixes per partition; python accumulation = grand totals
    n_rows = 0
    totals: dict[str, object] = {out: None for out in running}
    offsets = []
    for r in part_rows:
        off = {"__go_off_cnt": n_rows}
        n_rows += r["__go_cnt"]
        for out in running:
            s = r[f"__go_sum_{out}"]
            off[f"__go_off_{out}"] = totals[out]
            if s is not None:
                totals[out] = s if totals[out] is None else totals[out] + s
        offsets.append((r[_PID], off))

    spark = df.sparkSession
    if not part_rows:  # empty input: keep a valid (typed, empty) plan
        result = sdf
        if index_col:
            result = result.withColumn(index_col, F.lit(None).cast("long"))
        for out in running:
            result = result.withColumn(
                out,
                F.lit(None).cast(stats_schema[f"__go_sum_{out}"].dataType),
            )
        return transfer_ownership(result.drop(_PID), sdf), totals, 0

    # offsets table typed from the stats row schema (keeps decimals exact)
    from pyspark.sql.types import LongType, StructField, StructType

    fields = [StructField(_PID, stats_schema[_PID].dataType, False),
              StructField("__go_off_cnt", LongType(), False)]
    for out in running:
        fields.append(
            StructField(
                f"__go_off_{out}",
                stats_schema[f"__go_sum_{out}"].dataType,
                True,
            )
        )
    # LocalRelation, not createDataFrame: the offsets frame is scanned by
    # every downstream job (broadcast build per pass, chained passes embed
    # earlier passes' joins), and a pickled-RDD scan pays a Python-worker
    # round each time — measured ~1.3 s of blocked executor time per
    # 32-task scan at sf0.1 (operators/localrel.py; guide §4.1).
    from bdt_spark.operators.localrel import local_relation

    off_df = local_relation(
        spark,
        [
            tuple([pid, off["__go_off_cnt"]]
                  + [off[f"__go_off_{out}"] for out in running])
            for pid, off in offsets
        ],
        StructType(fields),
    )
    result = sdf.join(F.broadcast(off_df), _PID)
    w = Window.partitionBy(_PID).orderBy(*order)
    if index_col:
        result = result.withColumn(
            index_col,
            (F.row_number().over(w) + F.col("__go_off_cnt")).cast("long"),
        )
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    for out, src in running.items():
        local = F.sum(src).over(wsum)
        off = F.col(f"__go_off_{out}")
        # SUM ignores NULLs: a NULL local prefix (all values so far in this
        # range partition are NULL) must not null out a non-NULL offset, and
        # vice versa — only both-NULL yields NULL, matching SUM(x) OVER ().
        result = result.withColumn(
            out,
            F.when(off.isNull(), local)
            .when(local.isNull(), off)
            .otherwise(local + off),
        )
    drop = [_PID, "__go_off_cnt"] + [f"__go_off_{out}" for out in running]
    return transfer_ownership(result.drop(*drop), sdf), totals, n_rows


def ntile_from_index(index_col: str, n_rows: int, k: int) -> Column:
    """Exact NTILE(k) from a 1-based global row number over n_rows.

    Standard SQL semantics (Spark and DuckDB agree): with q = n div k and
    r = n mod k, the first r tiles hold q+1 rows, the rest q. Pure
    arithmetic on the global index — no window, no single partition."""
    if n_rows <= 0:
        return F.lit(None).cast("int")
    q, r = divmod(n_rows, k)
    idx = F.col(index_col)
    boundary = r * (q + 1)
    if q == 0:  # fewer rows than tiles: tile i gets row i
        return idx.cast("int")
    in_big = F.floor((idx - 1) / (q + 1)) + 1
    in_small = r + F.floor((idx - 1 - boundary) / q) + 1
    return F.when(idx <= boundary, in_big).otherwise(in_small).cast("int")

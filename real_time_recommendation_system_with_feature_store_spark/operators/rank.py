"""Scalable global ranking — the 100 TB path for total-order operations.

``Window.orderBy(...)`` with no partition key funnels every row through ONE
task. Fine at test scale; a non-starter at 10^11 rows.
``global_exclusive_prefix_sum`` produces the identical running sum via range
repartitioning, and ``global_row_number`` is its value-1 case:

  1. range-partition + sort by the ordering key (parallel sort),
  2. partition-local exclusive running sum (no shuffle),
  3. add each partition's cumulative carry (tiny aggregate, broadcast).

Steps 2 and 3 must see the SAME partition assignment. The range exchange
draws its boundaries from a fresh sample each time it runs, and the two
steps prune different columns, so Spark plans them as two exchanges that
may cut the keys at different places — offsets from one cut plus local
ranks from the other give wrong and duplicated ranks. The partitioned frame
is therefore cached and both steps read the one cached copy. Used by
time_fraction_split for the scale path.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from real_time_recommendation_system_with_feature_store_spark.ident import qcol


def global_row_number(
    df: DataFrame,
    order_by: Sequence[Column | str],
    rank_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """1-based global rank in ``order_by`` order: the rows before a row,
    plus one (``global_exclusive_prefix_sum`` over a constant 1)."""
    ranked = global_exclusive_prefix_sum(
        df.withColumn("__one", F.lit(1)), "__one", order_by, rank_col, num_partitions
    )
    return ranked.withColumn(rank_col, qcol(rank_col) + 1).drop("__one")


def global_exclusive_prefix_sum(
    df: DataFrame,
    value_col: str,
    order_by: Sequence[Column | str],
    out_col: str = "prefix_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exclusive running sum of ``value_col`` in global ``order_by`` order.

    Identical to ``sum(value) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING
    TO -1)`` on an unpartitioned window, without the one-task funnel. The
    ordering must be total for determinism.

    The range-partitioned frame is cached (see the module docstring) and
    stays cached until the session's cache is cleared
    (``spark.catalog.clearCache()``)."""
    cols = [qcol(c) if isinstance(c, str) else c for c in order_by]
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    parted = df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)
    with_pid = parted.withColumn("__pid", F.spark_partition_id()).persist()

    # per-partition value totals -> exclusive running offsets (tiny: one row
    # per partition, so a one-task window is the point — declare it with a
    # NON-FOLDABLE constant partition key: Catalyst prunes a foldable lit(1)
    # key, resurrecting the bare window and its WindowExec single-partition
    # warning; spark_partition_id() is non-foldable and constant 0 after
    # repartition(1))
    sizes = (
        with_pid.groupBy("__pid")
        .agg(F.sum(qcol(value_col)).alias("__tot"))
        .repartition(1)
    )
    offsets = sizes.withColumn(
        "__carry",
        F.coalesce(
            F.sum("__tot").over(
                Window.partitionBy(F.spark_partition_id())
                .orderBy("__pid")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("__pid", "__carry")

    local = Window.partitionBy("__pid").orderBy(*cols)
    before = F.coalesce(
        F.sum(qcol(value_col)).over(local.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    return (
        with_pid.withColumn("__local", before)
        .join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, (F.col("__carry") + F.col("__local")).cast("long"))
        .drop("__pid", "__local", "__carry")
    )


def ntile_from_rank(rn: Column, n: Column, n_buckets: int) -> Column:
    """SQL-standard NTILE(n_buckets) derived from a 1-based global rank and
    the total count — the scalable replacement for ntile() over an
    unpartitioned window (the one-task-sort trap above). The first
    ``n % n_buckets`` buckets hold one extra row, matching Spark and DuckDB.
    Returns the 0-based bucket; add 1 for NTILE's 1-based numbering. The
    ``n < n_buckets`` degenerate case falls out of the same formula
    (q = 0 -> every row lives in its own 'big' bucket: floor((rn-1)/1))."""
    q = F.floor(n / n_buckets)
    r = n % n_buckets
    big_rows = r * (q + 1)
    return (
        F.when(rn <= big_rows, F.floor((rn - 1) / (q + 1)))
        .otherwise(r + F.floor((rn - 1 - big_rows) / q))
    ).cast("long")

"""Distributed global-order scans — running totals over a TOTAL
ordering of the whole table without the classic Spark trap: a
``Window.orderBy(...)`` with no ``partitionBy`` moves every row into
ONE task, which is a non-starter past a few million rows.

``global_prefix_sum`` is the two-pass distributed scan instead
(the textbook parallel-prefix layout on top of range partitioning):

  1. ``repartitionByRange`` on the order key — Spark's RangePartitioner
     assigns ascending key ranges to ascending partition ids, so
     partition boundaries respect the global order;
  2. a per-PARTITION running sum (``Window.partitionBy(pid)`` — fully
     parallel, each task scans only its slice);
  3. per-partition totals (one tiny hash-agg, ≤ #partitions rows)
     folded into per-partition OFFSETS by a prefix sum over the
     partition ids — a window over ≤ a few hundred rows, where the
     single-task shape is exactly right;
  4. one broadcast join adding each row's partition offset.

Wall-clock is two scans + an O(#partitions) fold, independent of skew
in the VALUE column; the only global structure is the ≤ #partitions-row
offset table.  The ordering must be UNIQUE per row (ties make a
row-level prefix sum ill-defined and can split across range-partition
boundaries) — same contract as `timeseries.rolling_median`.

Reference analog: none (mandated large-pipeline surface: token-budget
data selection, global quota cuts, deterministic curriculum cutoffs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _scan_with_offsets(
    df: DataFrame,
    order_by: list[Column],
    value_col: str,
    agg,
    inclusive: bool,
    num_partitions: int | None = None,
) -> DataFrame:
    """The shared two-pass distributed-scan scaffold behind
    `global_prefix_sum` and `skyline_2d`: range-partition on the order
    key, run the per-partition prefix ``agg`` (``F.sum``/``F.min``/...)
    over the ``order_by`` order — inclusive of the current row or
    strictly before it — and attach ``__off`` = the same ``agg`` folded
    over all PRECEDING partitions' totals (NULL for the first
    partition).  Returns the input rows plus ``__local`` and ``__off``;
    callers combine the two and drop the scratch columns.

    The totals branch hangs off the PRE-window frame so it shares only
    the range exchange with the data path, never the per-partition
    sort/window subtree (which would otherwise be evaluated twice per
    action).
    """
    order_by = list(order_by)
    if not order_by:
        raise ValueError("order_by must be non-empty")
    parted = (
        df.repartitionByRange(num_partitions, *order_by)
        if num_partitions
        else df.repartitionByRange(*order_by)
    )
    staged = parted.withColumn("__pid", F.spark_partition_id())
    w_local = (
        Window.partitionBy("__pid")
        .orderBy(*order_by)
        .rowsBetween(
            Window.unboundedPreceding,
            Window.currentRow if inclusive else -1,
        )
    )
    local = staged.withColumn("__local", agg(value_col).over(w_local))
    totals = staged.groupBy("__pid").agg(agg(value_col).alias("__total"))
    w_off = (
        Window.orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )  # ≤ #partitions rows — the one place a global window is right
    offsets = totals.select(
        "__pid", agg("__total").over(w_off).alias("__off")
    )
    return local.join(F.broadcast(offsets), "__pid")


def global_prefix_sum(
    df: DataFrame,
    order_by: list[Column],
    value_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Every input row extended with ``cum`` = the running total of
    ``value_col`` over the global ``order_by`` ordering (inclusive of
    the current row).  Exact long arithmetic; the result is identical
    for ANY partition count — boundaries move work, not values."""
    scanned = _scan_with_offsets(
        df, order_by, value_col, F.sum, inclusive=True,
        num_partitions=num_partitions,
    )
    return (
        scanned.withColumn(
            "cum",
            (F.col("__local") + F.coalesce(F.col("__off"), F.lit(0)))
            .cast("long"),
        )
        .drop("__pid", "__local", "__off")
    )


def budget_select(
    df: DataFrame,
    order_by: list[Column],
    cost_col: str,
    budget: int,
) -> DataFrame:
    """Greedy selection under a global budget: walk the table in
    ``order_by`` order (best-first — quality rank, priority, price)
    accumulating ``cost_col``, keep every row whose INCLUSIVE running
    total still fits ``budget``.  The token-budget data-selection
    primitive ("take the highest-quality documents up to 10B training
    tokens"), returning the kept rows plus their running total ``cum``.

    One `global_prefix_sum` + a pushed filter — the cut is a plain
    predicate on the cum column, so partitions past the budget point
    drop their rows map-side without any further shuffle.
    """
    if budget < 0:
        raise ValueError("budget must be >= 0")
    summed = global_prefix_sum(df, order_by, cost_col)
    return summed.filter(F.col("cum") <= budget)


def skyline_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Pareto frontier under MINIMIZATION of both columns: the rows no
    other row dominates (``q`` dominates ``p`` when ``q.x <= p.x`` and
    ``q.y <= p.y`` with at least one strict).  The multi-objective
    data-selection primitive — shortest-AND-highest-quality documents,
    cheapest-AND-fastest plans — returning ``(x, y, n_dups)`` per
    frontier point (exact duplicates don't dominate each other and
    survive together, carried as a count).  Maximize a dimension by
    negating it upstream.

    The classic O(n log n) 2-D sweep, distributed: dominance collapses
    to "y strictly below every y at strictly smaller x", so after one
    hash-agg to ``min(y)``+count per distinct x (same-x rows are
    dominated by their x-group minimum), the frontier test is a STRICT
    prefix-min over the x order — computed with `global_prefix_sum`'s
    two-pass layout (range partition by x → per-partition prefix min →
    ≤#partitions-row fold of partition minima → broadcast combine),
    never a single-task global window and never the naive
    self-anti-join whose range condition is O(n²).  NULL in either
    column drops the row (NULL is not comparable under dominance).
    """
    xy = (
        df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    # per distinct x keep only its minimal y (struct min is
    # lexicographic; (x, y) is unique here so c never decides)
    pts = (
        xy.groupBy("x")
        .agg(F.min(F.struct("y", "c")).alias("s"))
        .select("x", F.col("s.y").alias("y"), F.col("s.c").alias("n_dups"))
    )
    scanned = _scan_with_offsets(
        pts, [F.col("x").asc()], "y", F.min, inclusive=False
    )
    before = F.when(
        F.col("__local").isNull(), F.col("__off")
    ).when(
        F.col("__off").isNull(), F.col("__local")
    ).otherwise(F.least("__local", "__off"))
    return (
        scanned.withColumn("__before", before)
        .filter(F.col("__before").isNull() | (F.col("y") < F.col("__before")))
        .select("x", "y", "n_dups")
    )

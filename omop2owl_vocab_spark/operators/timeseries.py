"""Time-series densification — gap-filling sparse per-key event counts
into a contiguous daily series, the preprocessing step every
rate/trend/anomaly computation assumes (a missing day must read as an
explicit zero, not an absent row, or moving averages and diffs lie).

Reference analog: none (mandated analytics surface next to
`operators/funnel.py`'s event readouts).

Engine-exactness: days are epoch-day integers
(``epoch_us div 86_400_000_000``); the spine is an integer
``sequence(lo, hi)`` per key — no calendar arithmetic, no timezone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def gap_fill_daily(events: DataFrame, key_col: str) -> DataFrame:
    """Per-key contiguous daily counts of the events' ``ts``: ``(key,
    day, n)`` for EVERY epoch day between the key's first and last
    event, zeros where the key was silent.

    Plan shape: one hash-agg to (key, day) counts — the only
    data-sized shuffle, map-side combined — then a per-key min/max
    agg (tiny), a generated integer spine (``sequence`` + ``explode``
    — rows are produced by the engine, never collected to the driver),
    and one (key, day) equi-join gluing counts onto the spine with
    ``coalesce(n, 0)``.

    100 TB posture: spine size is Σ_k span(k) rows of two longs —
    output-sized, not input-sized; the join keys are identical on both
    sides so AQE plans it locally after the agg.  A key whose span is
    pathological (one event in 1970, one today) inflates only its own
    spine — bound it upstream with a time-range filter if that
    matters.
    """
    day = F.expr(
        "unix_micros(cast(ts as timestamp)) div 86400000000"
    )
    counts = (
        events.select(F.col(key_col).alias("key"), day.alias("day"))
        .groupBy("key", "day")
        .agg(F.count("*").cast("long").alias("__n"))
    )
    rng = counts.groupBy("key").agg(
        F.min("day").alias("__lo"), F.max("day").alias("__hi")
    )
    spine = rng.select(
        "key",
        F.explode(F.sequence(F.col("__lo"), F.col("__hi"))).alias("day"),
    )
    return (
        spine.join(counts, ["key", "day"], "left")
        .select(
            "key", "day", F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n")
        )
    )


def rolling_daily(
    filled: DataFrame,
    window_days: int = 7,
) -> DataFrame:
    """Trailing-window aggregates over a gap-filled daily series
    (`gap_fill_daily` output shape ``(key, day, n)``): per row, the
    ``window_days``-day trailing ``sum_w``, the actual day count
    ``days_w`` (< window_days only during each key's ramp-in), and the
    integer fixed-point mean ``avg_e4 = sum_w·10^4 div days_w`` — the
    moving-average / trend readout the densification exists for (on a
    NON-filled series a RANGE frame would silently average over holes).

    Plan shape: one per-key sort feeding a single RANGE window frame
    (both aggregates share it); sums are integer so there is no float
    reduction-order exposure.  100 TB posture: windows are per-key and
    the series is output-sized (days × keys); a pathological multi-year
    key costs only its own partition's sort.
    """
    if window_days < 1:
        raise ValueError("window_days must be >= 1")
    from pyspark.sql import Window

    w = (
        Window.partitionBy("key")
        .orderBy(F.col("day").cast("long"))
        .rangeBetween(-(window_days - 1), 0)
    )
    return filled.select(
        "key",
        "day",
        "n",
        F.sum("n").over(w).cast("long").alias("sum_w"),
        F.count("*").over(w).cast("long").alias("days_w"),
    ).select(
        "key", "day", "n", "sum_w", "days_w",
        F.expr("(sum_w * 10000) div days_w").alias("avg_e4"),
    )


def max_concurrency(
    df: DataFrame,
    keys: list[str],
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Sweep-line peak concurrency per key: ``(keys..., peak,
    peak_at)`` — the maximum number of [start, end) intervals open at
    once, and the earliest instant the peak is reached.  The capacity
    primitive (peak concurrent sessions per user, max simultaneous
    builds per repo, connection-pool sizing).

    Classic sweep: +1 at each start, -1 at each end, running sum over
    the merged event stream ordered by (instant, delta) — ends sort
    BEFORE starts at the same instant (delta -1 < +1), so touching
    intervals [a,b) [b,c) never double-count.  One shuffle+sort per
    key partition; the running sum and the peak argmax share it.
    Intervals with NULL endpoints are dropped.
    """
    pts = (
        df.filter(
            F.col(start_col).isNotNull() & F.col(end_col).isNotNull()
        )
        .select(
            *keys,
            F.explode(
                F.array(
                    F.struct(
                        F.col(start_col).alias("at"),
                        F.lit(1).alias("delta"),
                    ),
                    F.struct(
                        F.col(end_col).alias("at"),
                        F.lit(-1).alias("delta"),
                    ),
                )
            ).alias("__ev"),
        )
        .select(*keys, "__ev.at", "__ev.delta")
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy("at", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = pts.select(
        *keys, "at", F.sum("delta").over(w).alias("open")
    )
    return (
        running.groupBy(*keys)
        .agg(
            F.max("open").cast("long").alias("peak"),
            F.min_by("at", F.struct((-F.col("open")).alias("n"), F.col("at")))
            .alias("peak_at"),
        )
    )


def cumulative_distinct(
    df: DataFrame,
    keys: list[str],
    item_col: str,
    seq_cols: list[str],
) -> DataFrame:
    """Running count of DISTINCT items per key over an ordered stream:
    one output row per input row, ``n_seen`` = how many distinct
    ``item_col`` values the key has produced up to and including this
    row — the discovery/engagement curve (new vocabulary per user, new
    files touched per repo over time).

    Two windows on the same key partitioning: a per-(key, item)
    row_number marks each item's FIRST occurrence, then a running sum
    of those first-occurrence flags over (keys, seq order).  No
    distinct-aggregate state, no collect_set growth — O(1) per row.
    """
    worder = [F.col(c) for c in seq_cols]
    w_first = Window.partitionBy(*keys, item_col).orderBy(*worder)
    w_run = (
        Window.partitionBy(*keys)
        .orderBy(*worder)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = df.withColumn(
        "__new", (F.row_number().over(w_first) == 1).cast("long")
    )
    return flagged.withColumn(
        "n_seen", F.sum("__new").over(w_run)
    ).drop("__new")


def interval_merge(
    df: DataFrame,
    keys: list[str],
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Coalesce overlapping/touching [start, end) intervals per key
    into maximal islands: ``(keys..., island, start, end, n_intervals,
    covered)`` — island-local 1-based index, the island's span, how
    many raw intervals merged into it, and ``covered = end - start``.
    The interval-union primitive (total machine-busy time ignoring
    overlap, contiguous-coverage spans, SCD-2 period compaction);
    TOUCHING intervals merge (end == next start is one island, the
    half-open convention).

    Classic stacked-intervals pass, one shuffle+sort per key: order by
    (start, end); a row opens a NEW island exactly when its start
    exceeds the running max end over all preceding rows; the island id
    is the running sum of those break flags (same sort), then one
    hash-agg per (key, island).  Both window passes share the single
    sort — no self-join, no explode; NULL endpoints are dropped as in
    `max_concurrency`.  Island assignment depends only on the running
    max over a start-ordered prefix, so any tie order among equal
    starts yields the same islands — deterministic without a unique
    tiebreaker column.
    """
    rows = df.filter(
        F.col(start_col).isNotNull() & F.col(end_col).isNotNull()
    ).select(
        *keys,
        F.col(start_col).alias("__s"),
        F.col(end_col).alias("__e"),
    )
    w_prev = (
        Window.partitionBy(*keys)
        .orderBy("__s", "__e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(*keys)
        .orderBy("__s", "__e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = rows.withColumn(
        "__new",
        F.when(
            F.max("__e").over(w_prev).isNull()
            | (F.col("__s") > F.max("__e").over(w_prev)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("__island", F.sum("__new").over(w_run))
    return flagged.groupBy(*keys, "__island").agg(
        F.min("__s").alias("start"),
        F.max("__e").alias("end"),
        F.count("*").cast("long").alias("n_intervals"),
    ).select(
        *keys,
        F.col("__island").cast("long").alias("island"),
        "start",
        "end",
        "n_intervals",
        (F.col("end") - F.col("start")).cast("long").alias("covered"),
    )


def rolling_median(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    value_col: str,
    window_rows: int = 7,
) -> DataFrame:
    """EXACT trailing-window median per key: every input row extended
    with ``med`` = the LOWER median (element ⌈n/2⌉ of the sorted
    trailing window of up to ``window_rows`` rows, an actual data
    value — never an interpolated float, so longs stay longs and the
    result is engine-portable) and ``n_window`` = the window's actual
    size (< window_rows near the head).  The robust smoother for
    monitoring curves where the mean chases spikes.

    One shuffle+sort per key partition; the trailing window rides
    ``collect_list`` over a rows-frame + ``array_sort`` +
    ``element_at`` — O(w log w) per row with w = ``window_rows``,
    which is a CONSTANT (7, 28...), not a data dimension; state per
    row never exceeds w values, so executor memory is flat at any
    scale.  Ordering must be unique per key (timestamps, day indexes)
    — equal order values make "trailing w rows" ill-defined; this is
    the same contract as every `rolling_daily` caller.
    """
    if window_rows < 1:
        raise ValueError("window_rows must be >= 1")
    w = (
        Window.partitionBy(*keys)
        .orderBy(order_col)
        .rowsBetween(-(window_rows - 1), Window.currentRow)
    )
    arr = F.array_sort(F.collect_list(value_col).over(w))
    # every input column passes through — med/n_window EXTEND the row
    return df.select(
        "*",
        F.element_at(arr, ((F.size(arr) + 1) / 2).cast("int")).alias("med"),
        F.size(arr).cast("long").alias("n_window"),
    )


def changepoint_split(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Single changepoint per key — the split maximizing the
    between-segment mean shift: ``(keys..., split_after, n, sum_left,
    sum_total, score_e6)`` where the series (ordered by ``order_col``)
    is cut after position ``split_after`` (1-based, 1 ≤ split_after <
    n; ``split_after`` IS the left-segment row count) and

        score = |mean_left − mean_right|
              = |S_t·(n−t) − (S_n−S_t)·t| / (t·(n−t))

    evaluated in EXACT integer arithmetic: the numerator rides
    decimal(38), the score is e6 fixed point by integer division, and
    the argmax breaks ties toward the EARLIEST split — fully
    deterministic, no float mean anywhere.  The level-shift detector
    for monitoring curves (did daily volume step up?, where did quality
    jump after a pipeline change?); keys with n < 2 are dropped (no
    valid split).

    Plan shape: one shuffle+sort per key shared by the running-sum and
    row-number windows, a per-key total via the unordered window on the
    same partitioning, then a single ``max_by`` hash-agg picking the
    argmax struct — linear in rows, state O(1) per row.

    ``order_col`` must be UNIQUE per key (day index, timestamp) — with
    ties the prefix sums depend on arbitrary intra-tie order and the
    result is no longer deterministic; same contract as
    `scan.global_prefix_sum` and `rolling_median`.
    """
    w_ord = (
        Window.partitionBy(*keys)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*keys)
    staged = (
        df.filter(F.col(value_col).isNotNull())
        .withColumn("__t", F.row_number().over(
            Window.partitionBy(*keys).orderBy(order_col)
        ))
        .withColumn("__s", F.sum(value_col).over(w_ord))
        .withColumn("__n", F.count("*").over(w_all))
        .withColumn("__tot", F.sum(value_col).over(w_all))
        .filter(F.col("__t") < F.col("__n"))
    )
    scored = staged.withColumn(
        "__score",
        F.expr(
            "CAST((abs(CAST(__s AS DECIMAL(38,0)) * (__n - __t)"
            " - (CAST(__tot AS DECIMAL(38,0)) - __s) * __t) * 1000000)"
            " div (CAST(__t AS DECIMAL(38,0)) * (__n - __t)) AS BIGINT)"
        ),
    )
    best = scored.groupBy(*keys).agg(
        F.max(
            F.struct(
                F.col("__score").alias("score_e6"),
                (-F.col("__t")).alias("neg_t"),
                F.col("__t").alias("split_after"),
                F.col("__n").alias("n"),
                F.col("__s").alias("sum_left"),
                F.col("__tot").alias("sum_total"),
            )
        ).alias("b")
    )
    return best.select(
        *keys,
        F.col("b.split_after").cast("long").alias("split_after"),
        F.col("b.n").cast("long").alias("n"),
        F.col("b.sum_left").cast("long").alias("sum_left"),
        F.col("b.sum_total").cast("long").alias("sum_total"),
        F.col("b.score_e6").alias("score_e6"),
    )

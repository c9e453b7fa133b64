"""Exact per-group order statistics — the corpus-profiling primitive
(doc-length p50/p90/p99 per language, token-budget tails per source)
with NEAREST-RANK semantics so every quantile is an actual data value
selected by pure integer arithmetic.

Why not ``percentile``/``quantile_cont``: interpolated percentiles do
float multiplication on the rank (``0.9 · n``) and linear interpolation
between neighbors — both engine-rounding-dependent (0.9 is not
representable; ``0.9·10`` rounds ABOVE 9.0 in IEEE-754, silently moving
the selected rank).  Nearest-rank with rational percents
(``idx = ceil(pct·n/100)`` computed as ``(pct·n + 99) div 100`` on
longs) has none of that: the selected element is engine-independent and
the DuckDB oracle matches hash-exact.

Reference analog: none (mandated LLM-pipeline surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def group_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    percents: tuple[int, ...] = (50, 90, 99),
) -> DataFrame:
    """One row per group: ``n``, ``min``, ``max``, and ``p{pct}`` = the
    nearest-rank ``pct``-th percentile (the value at 1-based sorted
    position ``ceil(pct·n/100)``) for each requested integer percent.

    Plan shape: ONE exchange + ONE sort per group — ``row_number``
    over the value order plus a group-count window on the same
    partitioning (two Window operators — ordered and unordered specs
    don't merge — but they share the single exchange/sort, plan-pinned)
    — then one hash-aggregate picking each indexed element with
    ``max(when(rank == idx, value))``.  Linear in rows; the sort is
    per-group (parallel across groups).  At extreme per-group
    cardinality swap the full sort for a two-pass histogram prune the
    same way `stratified_sample` documents its keyspace pre-prune —
    the contract here is the exact form.

    Ties: duplicates are counted per occurrence (standard nearest-rank
    on the multiset), tiebreak on value only — equal values are
    interchangeable, so the selected VALUE is deterministic even though
    row identities tie.
    """
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    if not percents or any(
        not (1 <= int(p) <= 100) for p in percents
    ):
        raise ValueError("percents must be integers in 1..100")
    w = Window.partitionBy(*group_cols).orderBy(F.col(value_col).asc())
    wn = Window.partitionBy(*group_cols)
    # NULL values are EXCLUDED (a NULL sorts first in Spark but last in
    # most SQL engines — inside the rank arithmetic it would silently
    # shift or null the selected percentile); n counts non-null rows
    ranked = df.select(
        *[F.col(c) for c in group_cols], F.col(value_col).alias("__v")
    ).filter(F.col("__v").isNotNull()).select(
        "*",
        F.row_number().over(w.orderBy(F.col("__v").asc())).alias("__r"),
        F.count("*").over(wn).cast("long").alias("__n"),
    )
    aggs = [
        F.max("__n").alias("n"),
        F.min("__v").alias("min"),
        F.max("__v").alias("max"),
    ]
    for p in percents:
        p = int(p)
        idx = F.expr(f"({p} * __n + 99) div 100")
        aggs.append(
            F.max(F.when(F.col("__r") == idx, F.col("__v"))).alias(f"p{p}")
        )
    return ranked.groupBy(*group_cols).agg(*aggs)


def group_histogram(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    bin_width: int,
    lo: int = 0,
    hi: int | None = None,
) -> DataFrame:
    """Fixed-width integer histogram per group: one row per
    (group, bin) with ``bin_lo`` = the bin's inclusive lower edge,
    ``n`` = occupancy.  Bin assignment is pure integer arithmetic
    (``lo + ((v - lo) div w) * w``), so edges are engine-exact — no
    float binning drift.  Values below ``lo`` clamp into the first
    bin; at/above ``hi`` (when given) into the last — the
    standard overflow-bucket convention, keeping the output bounded
    even under outliers.

    Plan shape: one narrow projection + one hash-aggregate — map-side
    partial combine makes the shuffle O(groups · bins) regardless of
    row count; empty bins are absent (sparse form — densify by joining
    a ``sequence()`` spine when a chart needs it).  The profiling
    companion to `group_quantiles`.  Reference analog: none (mandated
    LLM-pipeline surface).
    """
    if bin_width <= 0:
        raise ValueError("bin_width must be positive")
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    if hi is not None and hi <= lo:
        raise ValueError("hi must exceed lo")
    v = F.col(value_col).cast("long")
    v = F.greatest(v, F.lit(lo).cast("long"))
    if hi is not None:
        v = F.least(v, F.lit(hi - 1).cast("long"))
    # exact integer edge: lo + ((v - lo) div w) * w — `div` is long
    # division (no double round-trip, exact beyond 2^53)
    clamped = df.select(
        *[F.col(c) for c in group_cols], v.alias("__v")
    )
    bin_lo = F.lit(lo).cast("long") + F.expr(
        f"(__v - {lo}) div {bin_width}"
    ) * F.lit(bin_width).cast("long")
    return (
        clamped.select(*[F.col(c) for c in group_cols], bin_lo.alias("bin_lo"))
        .groupBy(*group_cols, "bin_lo")
        .agg(F.count("*").cast("long").alias("n"))
    )


def mad_outliers(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k_e2: int = 300,
) -> DataFrame:
    """Robust per-group outlier profile via median absolute deviation:
    one row per group with ``n``, ``med`` (lower nearest-rank median),
    ``mad`` (nearest-rank median of ``|x - med|``), and ``n_outliers``
    = rows where ``|x - med| · 100 > k_e2 · mad`` (``k_e2`` is the
    threshold in hundredths, default 300 = the classic 3·MAD fence).
    MAD-based fences resist the masking that breaks mean/stddev fences
    (the outliers inflate the stddev that is supposed to catch them) —
    the curation-grade anomaly screen for price/latency/length columns.

    Engine-exactness: both medians are ACTUAL data values selected by
    the same nearest-rank integer arithmetic as `group_quantiles`
    (``(50·n + 99) div 100``); the only float ops are per-row subtract
    / abs / multiply-by-integer-constant — single IEEE-754 operations
    with one correctly-rounded result in any engine, no
    summation-order exposure (the only SUM is an integer flag count).

    Plan shape: two per-group sorts sharing the group-key partitioning
    (rank by value → median; rank by deviation → MAD as an unordered
    window max over the same exchange) plus one group-key equi-join
    gluing the median back to the rows.  At extreme per-group
    cardinality the same histogram-prune escape documented on
    `group_quantiles` applies.  Reference analog: none (mandated
    LLM-pipeline profiling surface).
    """
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    if k_e2 <= 0:
        raise ValueError("k_e2 must be a positive integer")
    base = df.select(
        *[F.col(c) for c in group_cols],
        F.col(value_col).cast("double").alias("__v"),
    ).filter(F.col("__v").isNotNull())  # same NULL contract as group_quantiles
    w1 = Window.partitionBy(*group_cols).orderBy(F.col("__v").asc())
    wn = Window.partitionBy(*group_cols)
    ranked = base.select(
        "*",
        F.row_number().over(w1).alias("__r"),
        F.count("*").over(wn).cast("long").alias("__n"),
    )
    med = ranked.groupBy(*group_cols).agg(
        F.max("__n").alias("n"),
        F.max(
            F.when(F.col("__r") == F.expr("(50 * __n + 99) div 100"),
                   F.col("__v"))
        ).alias("med"),
    )
    dev = base.join(med, group_cols).select(
        *[F.col(c) for c in group_cols],
        "n",
        "med",
        F.abs(F.col("__v") - F.col("med")).alias("__d"),
    )
    w2 = Window.partitionBy(*group_cols).orderBy(F.col("__d").asc())
    with_mad = dev.select(
        "*", F.row_number().over(w2).alias("__r")
    ).select(
        "*",
        F.max(
            F.when(F.col("__r") == F.expr("(50 * n + 99) div 100"),
                   F.col("__d"))
        ).over(wn).alias("mad"),
    )
    return with_mad.groupBy(*group_cols).agg(
        F.max("n").alias("n"),
        F.max("med").alias("med"),
        F.max("mad").alias("mad"),
        F.sum(
            F.when(
                F.col("__d") * F.lit(100).cast("double")
                > F.col("mad") * F.lit(int(k_e2)).cast("double"),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_outliers"),
    )


def equal_freq_bins(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Equal-frequency (quantile) binning per group: one row per
    (group, bin) with ``n`` (occupancy), ``lo``/``hi`` (the bin's
    actual min/max values) — decile tables, calibration buckets,
    monotone-feature discretization.  Complements `group_histogram`
    (equal WIDTH) and `group_quantiles` (point estimates).

    Bucket assignment is SQL-standard ``NTILE``: the first
    ``n mod n_bins`` buckets take ``ceil(n/n_bins)`` rows — pure
    row-position arithmetic both engines implement identically.  Ties
    that straddle a boundary are interchangeable VALUES, so per-bin
    (n, lo, hi) is deterministic even though row identities tie.

    Plan shape: one per-group sort feeding the ntile window (the only
    exchange) + one hash-agg on (group, bin).  Same extreme-cardinality
    escape note as `group_quantiles`.
    """
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    base = df.select(
        *[F.col(c) for c in group_cols], F.col(value_col).alias("__v")
    ).filter(F.col("__v").isNotNull())  # same NULL contract as group_quantiles
    w = Window.partitionBy(*group_cols).orderBy(F.col("__v").asc())
    t = base.select(
        "*", F.ntile(n_bins).over(w).cast("long").alias("bin")
    )
    return t.groupBy(*group_cols, "bin").agg(
        F.count("*").cast("long").alias("n"),
        F.min("__v").alias("lo"),
        F.max("__v").alias("hi"),
    )


def rank_normalize(
    df: DataFrame,
    keys: list[str],
    value_col: str,
) -> DataFrame:
    """Per-group rank normalization (the quantile/rank feature scaling
    used before tree-free models and for cross-group score calibration):
    appends ``pct_rank_e4`` = percent_rank within each ``keys`` group in
    EXACT e4 fixed point — ``(rank-1)*10000 div (n-1)`` on integers
    (single-row groups pin to 0), never a double, so engines can't
    diverge on rounding.  Ties share a rank (SQL percent_rank
    semantics).  NULL values are excluded (dropped, not ranked — a NULL
    feature has no rank).

    One shuffle+sort on the group key; rank and count windows share the
    partitioning.
    """
    w = Window.partitionBy(*keys).orderBy(value_col)
    wsz = Window.partitionBy(*keys)
    ranked = df.filter(F.col(value_col).isNotNull()).select(
        "*",
        (F.rank().over(w) - 1).alias("__r0"),
        (F.count("*").over(wsz) - 1).alias("__n1"),
    )
    pct = F.when(F.col("__n1") == 0, F.lit(0).cast("long")).otherwise(
        ((F.col("__r0") * 10000) - F.pmod(F.col("__r0") * 10000, F.col("__n1")))
        / F.col("__n1")
    ).cast("long")
    return ranked.select(
        *[c for c in df.columns], pct.alias("pct_rank_e4")
    )


def linear_trend(
    df: DataFrame,
    keys: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group least-squares trend in EXACT integer sufficient
    statistics: ``(keys..., n, sum_x, sum_y, sxy_num, sxx_num)`` with

        sxy_num = n·Σxy − Σx·Σy        sxx_num = n·Σx² − (Σx)²

    so the OLS slope is the exact rational ``sxy_num / sxx_num`` and
    the intercept ``(Σy·Σx² − Σx·Σxy) / (n·sxx_num/n)`` — the division
    deliberately NEVER happens engine-side: both numerators can be
    negative, and integer-division semantics for negatives differ
    between engines (Spark ``div`` truncates, DuckDB ``//`` floors),
    so emitting the exact fraction is the only bit-portable form.
    The per-group drift detector (events/day trending up?, tokens/doc
    shrinking?) next to `mad_outliers`.

    Plan shape: ONE map-side-combined hash-agg computing all five sums
    in a single pass — no window, no join, no second scan.  Products
    ride decimal(38) internally; outputs are longs, exact while
    n·Σx² < 2^63 — keep x SMALL-SCALED (day index, not epoch-µs: with
    x ≤ 10^5 and n ≤ 10^9 the bound holds with room; epoch-µs x
    overflows ANY fixed width and should be rebased first).  NULL x or
    y rows are excluded entirely (consistent with `rank_normalize`).
    """
    clean = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        *keys,
        F.col(x_col).cast("long").alias("__x"),
        F.col(y_col).cast("long").alias("__y"),
    )
    agg = clean.groupBy(*keys).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("__x").cast("long").alias("sum_x"),
        F.sum("__y").cast("long").alias("sum_y"),
        F.sum(
            F.expr("CAST(__x AS DECIMAL(38,0)) * __y")
        ).alias("__sxy"),
        F.sum(
            F.expr("CAST(__x AS DECIMAL(38,0)) * __x")
        ).alias("__sxx"),
    )
    return agg.select(
        *keys,
        "n",
        "sum_x",
        "sum_y",
        F.expr(
            "CAST(CAST(n AS DECIMAL(38,0)) * __sxy"
            " - CAST(sum_x AS DECIMAL(38,0)) * sum_y AS BIGINT)"
        ).alias("sxy_num"),
        F.expr(
            "CAST(CAST(n AS DECIMAL(38,0)) * __sxx"
            " - CAST(sum_x AS DECIMAL(38,0)) * sum_x AS BIGINT)"
        ).alias("sxx_num"),
    )


def winsorize(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    low_pct: int = 5,
    high_pct: int = 95,
) -> DataFrame:
    """Per-group winsorization at EXACT nearest-rank percentiles: every
    input row extended with ``clipped`` = ``value_col`` clipped into
    ``[p_low, p_high]`` of its group — the robust-preprocessing clip
    (outlier-capped features, spike-capped metrics) that, unlike
    z-score trimming, never invents a value: both fences are actual
    group data points from `group_quantiles`' integer rank arithmetic,
    so integer columns stay integer and the DuckDB oracle matches
    hash-exact.

    Plan shape: one `group_quantiles` pass (single exchange+sort per
    group) → one equi-join of the tiny per-group fence table back onto
    the rows (broadcast-sized whenever groups ≪ rows — AQE picks it) →
    a pure projection.  NULL values pass through unclipped, and rows
    whose group has no non-NULL values keep their value — consistent
    with `group_quantiles`' NULL exclusion.
    """
    if not (1 <= int(low_pct) < int(high_pct) <= 100):
        raise ValueError("need 1 <= low_pct < high_pct <= 100")
    fences = group_quantiles(
        df, group_cols, value_col, (int(low_pct), int(high_pct))
    ).select(
        *group_cols,
        F.col(f"p{int(low_pct)}").alias("__lo"),
        F.col(f"p{int(high_pct)}").alias("__hi"),
    )
    v = F.col(value_col)
    return (
        df.join(fences, group_cols, "left")
        .withColumn(
            "clipped",
            F.when(F.col("__lo").isNull() | v.isNull(), v)
            .when(v < F.col("__lo"), F.col("__lo"))
            .when(v > F.col("__hi"), F.col("__hi"))
            .otherwise(v),
        )
        .drop("__lo", "__hi")
    )

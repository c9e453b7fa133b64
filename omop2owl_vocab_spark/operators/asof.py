"""Keyed as-of join — the time-series primitive Spark's DataFrame API
lacks natively: for every left row, attach the payload of the latest
right row with ``right.ts <= left.ts`` for the same key (optionally
within a tolerance window).

Spark-first shape (NOT a range join): union both sides with a side
marker, one window per key ordered by ``(ts, side, tiebreak)``, and a
running ``last(payload, ignorenulls=True)``.  That is exactly ONE hash
shuffle on the key plus a per-key sort — linear in rows, with none of
the candidate-pair explosion a ``l.ts >= r.ts`` range join produces.
The whole right payload travels as a single struct so every matched
column provably comes from the SAME right row (per-column ``last`` could
mix rows when a payload field is NULL in the matched row).

Semantics (pinned by the DuckDB ``ASOF LEFT JOIN`` oracle in
``__spark_entry__.py`` and the tests):

* inclusive: a right row at exactly ``left.ts`` matches (``>=``);
* left rows with no earlier right row keep NULL payload (left join);
* NULL keys never match (right NULL-key/NULL-ts rows are dropped;
  left rows keep their NULL match);
* among right rows sharing ``(key, ts)`` the largest ``tiebreak`` wins,
  making the result total-order deterministic.

100 TB posture: the single exchange partitions by the join key, so a
pathological key (one user with a billion events) serializes into one
task's sort — for those, pre-split the key by coarse time bucket, run
the same operator per bucket, and stitch the first row of each bucket
against the previous bucket's tail (a boundary pass over n_buckets
rows).  The window itself is running-state (``last`` over an unbounded
preceding frame), not a buffered frame, so memory per task is O(1).
Reference analog: none — the reference engine (timsbiomed/omop2owl-vocab)
has no temporal operators; this is part of the mandated
training-data-pipeline surface (event-stream feature attachment).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    right_tiebreak: str | None = None,
    tolerance_us: int | None = None,
) -> DataFrame:
    """Both sides are timed by a ``ts`` column.  Returns all ``left``
    columns plus ``matched_<c>`` for each right payload column ``c`` —
    every right column but ``on`` and ``ts`` — and ``matched_ts`` for the
    matched timestamp.

    ``tolerance_us``: when set, a match older than this many
    microseconds before ``left.ts`` is nulled out (the payload struct
    carries the matched ts, so the filter needs no second pass).
    """
    rc = [c for c in right.columns if c not in (on, "ts")]
    if not rc:
        raise ValueError("right side has no payload columns")
    payload = F.struct(F.col("ts").alias("__ts"), *[F.col(c) for c in rc])
    tb = (
        F.col(right_tiebreak).cast("long")
        if right_tiebreak is not None
        else F.lit(0).cast("long")
    )
    r = (
        right.filter(F.col(on).isNotNull() & F.col("ts").isNotNull())
        .select(
            F.col(on).alias("__k"),
            F.col("ts").alias("__t"),
            F.lit(0).alias("__side"),
            tb.alias("__tb"),
            payload.alias("__p"),
        )
    )
    lrow = F.struct(*[F.col(c) for c in left.columns])
    l = left.select(
        F.col(on).alias("__k"),
        F.col("ts").alias("__t"),
        F.lit(1).alias("__side"),
        F.lit(0).cast("long").alias("__tb"),
        F.lit(None).cast(
            r.schema["__p"].dataType
        ).alias("__p"),
        lrow.alias("__l"),
    )
    u = r.withColumn(
        "__l", F.lit(None).cast(l.schema["__l"].dataType)
    ).unionByName(l)

    w = (
        Window.partitionBy("__k")
        .orderBy("__t", "__side", "__tb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    m = F.last("__p", ignorenulls=True).over(w)
    matched = u.withColumn("__m", m).filter(F.col("__side") == 1)
    if tolerance_us is not None:
        # cast handles TIMESTAMP_NTZ sources (unix_micros requires
        # TIMESTAMP; both sides convert identically, so the delta is
        # timezone-invariant)
        in_tol = (
            F.unix_micros(F.col("__t").cast("timestamp"))
            - F.unix_micros(F.col("__m.__ts").cast("timestamp"))
        ) <= F.lit(int(tolerance_us))
        matched = matched.withColumn(
            "__m", F.when(F.col("__m").isNotNull() & in_tol, F.col("__m"))
        )
    out_cols = [F.col(f"__l.{c}").alias(c) for c in left.columns]
    out_cols.append(F.col("__m.__ts").alias("matched_ts"))
    out_cols.extend(F.col(f"__m.{c}").alias(f"matched_{c}") for c in rc)
    return matched.select(*out_cols)


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str = "ts",
    start_ts: str = "start",
    end_ts: str = "end",
    on: str | None = None,
    grain_us: int = 3_600_000_000,
    how: str = "inner",
) -> DataFrame:
    """Point-in-interval join: every (point, interval) pair with
    ``start <= point_ts < end`` (half-open, the calendar-window
    convention), optionally also matching an equality key ``on``.

    Spark-first shape — NOT the naive range join: a raw
    ``p.ts >= i.start AND p.ts < i.end`` theta-join has no equality
    conjunct Catalyst can hash on (with only ``on`` it degenerates to a
    per-key cartesian; without it, BroadcastNestedLoopJoin).  Instead
    both sides are bucketed to a coarse time grain: each point lands in
    exactly ONE bucket (``floor(ts / grain)``); each interval is
    exploded via ``sequence(floor(start/grain), floor((end-1)/grain))``
    across every bucket it touches.  The join is then a plain hash
    equi-join on ``(key?, bucket)`` followed by the exact range filter —
    and because a point owns exactly one bucket, every qualifying pair
    appears exactly once: NO post-join dedup, which is what makes this
    form safe to compose with aggregates.

    100 TB posture: shuffle is linear in points + interval-bucket
    replicas; pick ``grain_us`` near the TYPICAL interval span so the
    replication factor stays ~2 (``span/grain + 1`` buckets per
    interval).  A pathological never-ending interval replicates across
    the whole time axis — cap those upstream (split open intervals at
    ingest, the standard bitemporal trick).  Candidate pairs per bucket
    are bounded by bucket co-occupancy, not corpus size, so skew
    follows the event-time distribution and AQE's skew-join split
    applies.  The exactness argument is grain-independent (tests sweep
    grains); grain only tunes replication vs. bucket width.

    ``how``: 'inner' or 'left' (points with no covering interval kept,
    interval payload NULL).  Both run as ONE join: because a point owns
    exactly one bucket, the exact range predicate can ride INSIDE the
    join condition — Catalyst still extracts the (key?, bucket)
    equality pair for the hash/sort-merge join and applies the range as
    the residual join filter, so left-outer semantics (one NULL row per
    uncovered point) come out of the same single pass as inner, with no
    second match-set computation.  Interval payload columns are
    prefixed ``iv_``.  Reference analog: none (mandated LLM-pipeline /
    temporal surface).
    """
    if grain_us <= 0:
        raise ValueError("grain_us must be positive")
    if how not in ("inner", "left"):
        raise ValueError("how must be 'inner' or 'left'")
    p_us = F.unix_micros(F.col(point_ts).cast("timestamp"))
    s_us = F.unix_micros(F.col(start_ts).cast("timestamp"))
    e_us = F.unix_micros(F.col(end_ts).cast("timestamp"))
    ivc = [c for c in intervals.columns if c not in (on,)]
    p = points.withColumn("__b", F.floor(p_us / grain_us))
    i = (
        intervals.filter(s_us < e_us)
        .select(
            *([F.col(on)] if on else []),
            F.struct(*[F.col(c) for c in ivc]).alias("__iv"),
            F.explode(
                F.sequence(
                    F.floor(s_us / grain_us),
                    F.floor((e_us - 1) / grain_us),
                )
            ).alias("__b"),
        )
    )
    p = p.alias("__p")
    i = i.alias("__i")
    cond = F.col("__p.__b") == F.col("__i.__b")
    if on:
        cond = cond & (F.col(f"__p.{on}") == F.col(f"__i.{on}"))
    pt_us = F.unix_micros(F.col(f"__p.{point_ts}").cast("timestamp"))
    cond = (
        cond
        & (
            pt_us
            >= F.unix_micros(
                F.col(f"__i.__iv.{start_ts}").cast("timestamp")
            )
        )
        & (
            pt_us
            < F.unix_micros(F.col(f"__i.__iv.{end_ts}").cast("timestamp"))
        )
    )
    j = p.join(i, cond, how)
    return j.select(
        *[F.col(f"__p.{c}") for c in points.columns],
        *[F.col(f"__i.__iv.{c}").alias(f"iv_{c}") for c in ivc],
    )

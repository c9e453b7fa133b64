"""Ordered-sequence funnel analysis over an event stream — the
conversion primitive (signup → click → purchase): for each user, the
earliest strictly-increasing chain of timestamps through the requested
step sequence, plus how many steps were completed.  Events are rows of
``(user_id, event_type, ts)``; `session_paths` also reads ``event_id``.

Semantics: GREEDY-EARLIEST matching — ``ts_1`` = the user's earliest
step-1 event; ``ts_i`` = the earliest step-i event strictly after
``ts_{i-1}``.  Without a conversion window this is COMPLETE: if any
strictly-increasing chain exists, the greedy chain exists too (the
greedy prefix timestamps are ≤ any other chain's, so every suffix that
worked still works) — so ``steps_completed`` is exact, not a heuristic.
A ``t1``-anchored conversion window would break that completeness
(early anchor + late tail), which is why this operator deliberately has
no window parameter — compose with a time filter upstream when a
cohort window is wanted.

Plan shape: k-1 chained (aggregate → hash equi-join on user) stages —
each stage shuffles only (user, ts) pairs for ONE event type, then one
final left-join assembly; everything is built-in aggregates, no window
over the full stream, no UDF.  At 100 TB the per-stage frames are one
row per user (monotonically shrinking down the funnel), so AQE
broadcasts the deep-funnel tails automatically.

Reference analog: none (mandated events/LLM-pipeline surface;
sessionization's batch twin lives in `streaming/sessionize.py`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def funnel_steps(events: DataFrame, steps: list[str]) -> DataFrame:
    """One row per user who completed at least step 1:
    ``(user_id, ts_1 .. ts_k, steps_completed)`` with ``ts_i`` the
    greedy-earliest chain timestamp in epoch micros (NULL once the
    funnel is abandoned; timestamps strictly increase along the chain).
    """
    if len(steps) < 2:
        raise ValueError("funnel needs at least 2 steps")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    ev = events.select(
        "user_id", F.col("event_type").alias("__et"), ts_us.alias("__ts")
    )
    stage_frames = []
    cur = (
        ev.filter(F.col("__et") == steps[0])
        .groupBy("user_id")
        .agg(F.min("__ts").alias("ts_1"))
    )
    stage_frames.append(cur)
    for i, step in enumerate(steps[1:], start=2):
        nxt = ev.filter(F.col("__et") == step)
        cur = (
            cur.select("user_id", F.col(f"ts_{i - 1}").alias("__prev"))
            .join(nxt, "user_id")
            .filter(F.col("__ts") > F.col("__prev"))
            .groupBy("user_id")
            .agg(F.min("__ts").alias(f"ts_{i}"))
        )
        stage_frames.append(cur)
    out = stage_frames[0]
    for f in stage_frames[1:]:
        out = out.join(f, "user_id", "left")
    ts_cols = [f"ts_{i}" for i in range(1, len(steps) + 1)]
    completed = sum(
        (F.col(c).isNotNull().cast("long") for c in ts_cols),
        F.lit(0).cast("long"),
    )
    return out.select(
        "user_id", *ts_cols, completed.alias("steps_completed")
    )


def session_paths(
    events: DataFrame,
    gap_minutes: int = 30,
    top_k: int = 100,
    max_events: int = 20,
) -> DataFrame:
    """Top-k session paths: sessionize by inactivity gap (strict-> break,
    the same boundary rule as Spark's ``session_window``, verified in
    the sessionize oracle), string the first ``max_events`` event types
    of each session into an ordered '>'-joined path, and return the
    ``top_k`` most frequent paths as ``(path, n_sessions)`` — the
    behavioral-pattern-mining primitive (which journeys dominate, where
    do they fork).

    Determinism: within-session order is (ts, event id) — the id
    tiebreak makes the path unique even under equal timestamps, and the
    DuckDB oracle replays it with an ORDER BY inside ``string_agg``.
    ``max_events`` caps per-session state (a bot session with 10^6
    events contributes a 20-step path, not a gigabyte string).

    Plan shape: ONE user-partitioned sort (window) computes the session
    break/cumsum AND the per-session row cap; then a per-session
    hash-aggregate builds the path arrays (``array_sort`` of
    (ts, id, type) structs — collect_list is order-nondeterministic
    under shuffle, the sort restores exactness), one more hash-agg
    counts paths, and top-k executes as TakeOrderedAndProject (heap per
    partition, no global sort).  Reference analog: none (mandated
    events surface; streaming sessionize twin in
    `streaming/sessionize.py`).
    """
    if gap_minutes <= 0 or top_k <= 0 or max_events <= 0:
        raise ValueError("gap_minutes, top_k, max_events must be positive")
    from pyspark.sql import Window

    gap_us = gap_minutes * 60 * 1_000_000
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    ev = events.select(
        F.col("user_id").alias("__u"),
        F.col("event_type").alias("__et"),
        F.col("event_id").alias("__id"),
        ts_us.alias("__ts"),
    )
    w = Window.partitionBy("__u").orderBy("__ts", "__id")
    lag_ts = F.lag("__ts").over(w)
    # two window layers share one partitioning+sort: Catalyst stacks the
    # lag and the running sum on a single exchange/sort pair
    marked = ev.select(
        "*",
        F.when(lag_ts.isNull() | (F.col("__ts") - lag_ts > gap_us), 1)
        .otherwise(0)
        .alias("__brk"),
    )
    sess = marked.select(
        "*",
        F.sum("__brk")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("__sid"),
    )
    ws = Window.partitionBy("__u", "__sid").orderBy("__ts", "__id")
    capped = sess.withColumn("__r", F.row_number().over(ws)).filter(
        F.col("__r") <= max_events
    )
    paths = (
        capped.groupBy("__u", "__sid")
        .agg(
            F.concat_ws(
                ">",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("__ts"), F.col("__id"), F.col("__et")
                            )
                        )
                    ),
                    lambda x: x["__et"],
                ),
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("long").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(top_k)
    )


def transition_matrix(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: ``(from_type, to_type, n, prob_e4)`` where ``prob_e4``
    is the row-normalized transition probability in 4-decimal fixed
    point computed by INTEGER division (``n·10^4 div row_total``) — the
    user-journey model behind next-event prediction and anomaly
    scoring, engine-exact by construction.

    Sequence order is (ts, event id) — same deterministic tiebreak as
    `session_paths`.  Plan shape: one user-partitioned window (lag) →
    one hash-agg on (from, to) → a window-sum per ``from`` row for the
    denominator — the second window runs over the AGGREGATED matrix
    (|types|² rows at most), so its cost is nil at any corpus scale;
    the heavy data touches exactly one exchange + one agg.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(
        F.unix_micros(F.col(ts_col).cast("timestamp")), F.col(id_col)
    )
    pairs = (
        # NULL timestamps are excluded: Spark windows sort NULLS FIRST
        # while most SQL engines default NULLS LAST, so a NULL-ts event
        # would make the lag order (hence the matrix) engine-dependent
        events.filter(F.col(ts_col).isNotNull()).select(
            F.col(user_col),
            F.col(type_col).alias("to_type"),
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("__ts"),
            F.col(id_col),
            F.lag(F.col(type_col)).over(w).alias("from_type"),
        )
        .filter(F.col("from_type").isNotNull())
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count("*").cast("long").alias("n")
    )
    tot = F.sum("n").over(Window.partitionBy("from_type"))
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.expr("n * 10000").alias("__num"),
        tot.alias("__tot"),
    ).select(
        "from_type",
        "to_type",
        "n",
        F.expr("__num div __tot").alias("prob_e4"),
    )


def cohort_retention(events: DataFrame, bucket_days: int = 7) -> DataFrame:
    """Cohort retention triangle: ``(cohort_bucket, offset_buckets,
    n_users)`` — users grouped by the bucket of their FIRST activity,
    counted once per later bucket they return in.  ``offset_buckets=0``
    is cohort size; the decay along each cohort row is the retention
    curve — the standard growth-analytics readout next to
    `funnel_steps`.

    Buckets are pure integer arithmetic on epoch days
    (``epoch_us div 86_400_000_000 div bucket_days``) — engine-exact,
    no calendar/timezone exposure (documented as fixed-width windows
    from the epoch, not ISO weeks).

    Plan shape: distinct (user, bucket) — one hash-agg, map-side
    combined, the only data-sized shuffle — then an unordered
    per-user window-min for the cohort (second, user-keyed exchange)
    and a final hash-agg on (cohort, offset) whose output is at most
    |buckets|² rows.  State per user is one long; no collect, no sort.

    100 TB posture: both shuffles are key-partitioned and
    skew-tolerant (users are near-uniform); the triangle itself is
    tiny.  Reference analog: none (event-analytics surface).
    """
    if bucket_days <= 0:
        raise ValueError("bucket_days must be positive")
    from pyspark.sql import Window

    bucket = F.expr(
        "unix_micros(cast(ts as timestamp)) div 86400000000"
        f" div {int(bucket_days)}"
    )
    ub = (
        events.select(F.col("user_id").alias("u"), bucket.alias("b"))
        .distinct()
    )
    coh = ub.select(
        "u", "b", F.min("b").over(Window.partitionBy("u")).alias("cohort")
    )
    return (
        coh.groupBy(
            F.col("cohort").alias("cohort_bucket"),
            (F.col("b") - F.col("cohort")).alias("offset_buckets"),
        )
        .agg(F.count("*").cast("long").alias("n_users"))
    )

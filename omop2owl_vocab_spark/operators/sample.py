"""Deterministic corpus sampling — the audit/eval-set primitive every
training pipeline needs: pull k documents per stratum (language, source,
quality band) reproducibly, independent of partitioning, cluster size,
or row order.

Engine-portable derivation (md5 rank, same family as the split/pack
bookkeeping in ``operators/pack.py``) so the DuckDB oracle replays it
bit-identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def stratified_sample(
    df: DataFrame,
    k: int,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """The k lowest-md5-rank documents of every stratum.

    Rank key = md5(f"{seed}:{id}") — a uniform, reproducible shuffle of
    each stratum; changing ``seed`` re-deals.  Exact top-k per stratum
    via ``row_number`` over (key, id): one partitioned window — strata
    sort independently, so the plan is n_strata parallel linear sorts,
    not a global one.

    At 100 TB scale, pre-prune before the window: keep rows whose key is
    below ≈ (k / stratum_rows) · 2 of the hex keyspace (stratum counts
    from lineage metrics), then window the survivors — the sort then
    touches ~2k rows per stratum instead of all of them.  The un-pruned
    form here IS the correctness contract; the prune is a strict filter
    that cannot change the selected set when the bound holds.

    Output: (id, stratum, sample_key, sample_rank ∈ 1..k).
    """
    if k <= 0:
        raise ValueError("k must be positive")
    key = F.md5(
        F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy(strata_col).orderBy("sample_key", id_col)
    return (
        df.select(id_col, strata_col, key.alias("sample_key"))
        .withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= k)
    )


_HEX_SPACE = 16**15


def _u60(seed: int, id_col: str):
    """Uniform 60-bit draw per id — md5-prefix, engine-portable."""
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"mix{seed}:"), F.col(id_col).cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")


def mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 0,
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic data-mixture resampling — the domain-reweighting
    primitive (Pile / DoReMi style): each source gets a sampling rate;
    ``rate < 1`` downsamples, ``rate > 1`` UPSAMPLES by emitting
    ``floor(rate)`` full copies plus one more with probability
    ``frac(rate)``.  Unlisted sources fall back to ``default_rate``
    (0.0 = drop — the explicit-allowlist posture).

    Determinism without a single float at runtime: each id draws a
    uniform 60-bit integer ``u = md5-prefix(seed:id)`` and the
    fractional acceptance is the INTEGER comparison ``u < floor(frac ·
    16^15)`` — thresholds are computed in Python at plan time, so the
    kept set is a pure function of (id, seed, rates): independent of
    partitioning, cluster size, row order, and engine (the DuckDB
    oracle replays it hash-exact).  Copies materialize via
    ``explode(sequence(0, n_copies-1))`` with a ``copy_id`` so
    downstream shuffles can still dedup provenance.

    Plan: one narrow projection + explode — NO shuffle, NO sampling
    state; at 100 TB this composes with everything because it commutes
    with partition pruning (the rate test is per-row).  Mean output
    size is exactly ``sum_s rate_s · n_s``.  Contrast
    ``df.sample()``: Spark's native sampler is seed-stable only per
    PARTITIONING — repartition and the sample changes; this one never
    does.
    """
    if default_rate < 0 or any(r < 0 for r in rates.values()):
        raise ValueError("rates must be non-negative")
    u = _u60(seed, id_col)

    def n_copies(rate: float):
        base = int(rate)
        thr = int(round((rate - base) * _HEX_SPACE))
        return F.lit(base) + (u < F.lit(thr)).cast("int")

    expr = None
    for src, rate in sorted(rates.items()):
        cond = F.col(source_col) == src
        expr = (
            F.when(cond, n_copies(rate))
            if expr is None
            else expr.when(cond, n_copies(rate))
        )
    nc = (
        expr.otherwise(n_copies(default_rate))
        if expr is not None
        else n_copies(default_rate)
    )
    return (
        df.withColumn("__n", nc)
        .filter(F.col("__n") > 0)
        .withColumn("copy_id", F.explode(F.sequence(F.lit(0), F.col("__n") - 1)))
        .drop("__n")
    )


def pps_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    seed: int = 7,
) -> DataFrame:
    """Poisson probability-proportional-to-size sampling: include each
    row independently with probability ``min(1, k·w/W)`` (W = total
    weight), so the EXPECTED sample size is ≈ k and heavy rows are
    overrepresented in proportion to their weight — the
    importance-sampling primitive (token-weighted eval pulls,
    size-weighted audits) next to `stratified_sample`'s equal-k form.

    Deterministic and engine-exact: the acceptance test is
    ``draw · W < k · w · 2^60`` with ``draw`` the usual 60-bit
    md5-prefix integer — ALL INTEGER math, evaluated in decimal(38,0)
    (Spark) / HUGEINT (DuckDB), both exact 128-bit-class arithmetic, so
    no float probability ever exists to round differently.  Weights
    must be non-negative integers (longs).

    Plan shape: one total-weight aggregate (a single scalar) broadcast
    back via cross-join — no collect, stays lazy — then a narrow
    filter projection.  Zero shuffles of the data itself; at 100 TB
    the cost is one scan + one 1-row exchange.  Changing ``seed``
    re-deals; rows with ``k·w ≥ W`` are always kept (the min(1,·)
    branch).
    """
    if k <= 0:
        raise ValueError("k must be positive")
    from pyspark.sql.functions import broadcast

    draw = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(f"pps{seed}:"), F.col(id_col).cast("string")
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    tot = df.select(
        F.sum(F.col(weight_col).cast("long")).alias("__W")
    )
    lhs = F.col("__draw").cast("decimal(38,0)") * F.col("__W").cast(
        "decimal(38,0)"
    )
    # k·2^60 exceeds int64 for k ≥ 8 — ship it as a string literal cast
    # to decimal (py4j can't carry a >63-bit python int as a long)
    rhs = (
        F.col(weight_col + "_w").cast("decimal(38,0)")
        * F.lit(str(int(k) << 60)).cast("decimal(38,0)")
    )
    return (
        df.select(
            F.col(id_col),
            F.col(weight_col).cast("long").alias(weight_col + "_w"),
            draw.alias("__draw"),
        )
        .crossJoin(broadcast(tot))
        .filter(lhs < rhs)
        .select(
            id_col,
            F.col(weight_col + "_w").alias("weight"),
            F.col("__draw").alias("pps_key"),
        )
    )


def cyclic_negatives(
    df: DataFrame,
    id_col: str = "doc_id",
    k: int = 3,
    n_buckets: int = 64,
    bucket_col: Column | None = None,
) -> DataFrame:
    """Deterministic negative sampling for contrastive training:
    ``(id, neg_id, j)`` pairs each item with the next ``k`` items
    (cyclically, j = 1..k) inside its hash bucket's id-sorted order —
    the distributed stand-in for uniform negatives that needs NO global
    index: a global row_number would serialize on one partition, while
    the per-bucket window parallelizes across ``n_buckets`` and the
    pair-completion join reuses the same (bucket, idx) partitioning.

    Bucket membership is ``pmod(xxhash64(id), n_buckets)`` by default
    (pass ``bucket_col`` to override — e.g. an arithmetic form when an
    external system must re-derive the same pairs).  Within-bucket
    cyclic neighbors of a hashed order are exchangeable with uniform
    draws for training purposes, reproducible across runs/engines, and
    collision-free by construction (an item never pairs with itself;
    buckets with a single item yield nothing).  Duplicate partners can
    occur only when a bucket holds <= k items (the cycle wraps) — they
    keep distinct j, so downstream dedup is one distinct away if
    unwanted.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    b = (
        bucket_col
        if bucket_col is not None
        else F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_buckets))
    )
    w = Window.partitionBy("__b").orderBy(id_col)
    indexed = df.select(F.col(id_col), b.alias("__b")).select(
        F.col(id_col),
        "__b",
        (F.row_number().over(w) - 1).alias("__idx"),
        F.count("*").over(Window.partitionBy("__b")).alias("__sz"),
    )
    wanted = indexed.select(
        F.col(id_col),
        "__b",
        "__sz",
        F.explode(
            F.sequence(F.lit(1), F.lit(k))
        ).alias("j"),
        F.col("__idx"),
    ).select(
        F.col(id_col),
        "__b",
        "j",
        F.pmod(F.col("__idx") + F.col("j"), F.col("__sz")).alias("__nidx"),
        "__idx",
    ).filter(F.col("__nidx") != F.col("__idx"))
    partner = indexed.select(
        F.col("__b").alias("__pb"),
        F.col("__idx").alias("__pidx"),
        F.col(id_col).alias("neg_id"),
    )
    return wanted.join(
        partner,
        (F.col("__b") == F.col("__pb")) & (F.col("__nidx") == F.col("__pidx")),
    ).select(F.col(id_col), "neg_id", "j")


def allocate_budget(
    counts: DataFrame,
    group_cols: list[str],
    size_col: str,
    budget: int,
) -> DataFrame:
    """EXACT proportional apportionment of an integer budget across
    groups — the largest-remainder (Hamilton) method: each group gets
    ``floor(budget·n/total)`` and the leftover seats go to the largest
    fractional remainders, ties broken by the group key ascending.
    Output ``(group_cols..., n, alloc)`` with Σ alloc == budget
    EXACTLY — the guarantee `stratified_sample` callers need when "5%
    per stratum" must land on a hard global sample count, and float
    rounding per group would drift by ± #groups.

    All integer: the base share and the remainder numerator
    ``budget·n − base·total`` ride decimal(38) (no float ratio exists
    to round differently per engine), and the leftover ranking is a
    total order on ``(remainder, group)``.  Groups with n = 0 get 0.

    Plan shape: one single-row total (broadcast back) → a pure
    projection for base/remainder → one row_number window over the
    GROUP table (group-count-sized — the same "tiny global window"
    posture as `scan.py`'s offset fold; the data-sized work happened
    upstream in whatever produced ``counts``).
    """
    if budget < 0:
        raise ValueError("budget must be >= 0")
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    base_frame = counts.select(
        *[F.col(c) for c in group_cols],
        F.col(size_col).cast("long").alias("n"),
    )
    # a zero-mass input (Σ n == 0, incl. the empty frame, whose sum is
    # NULL) would make ``div __total`` NULL and silently break the
    # Σ alloc == budget invariant.  budget == 0 degrades to all-zero
    # allocations (trivially conserving), while a POSITIVE budget over
    # zero mass raises — there is no valid apportionment to hide behind
    # NULLs.  The check rides the always-one-row total, so it fires even
    # when there is no group row to evaluate it on.
    ok = F.assert_true(
        (F.lit(budget) == 0) | (F.col("__total") > 0),
        "allocate_budget: zero-mass input (sum of size_col is 0) cannot "
        "absorb a positive budget",
    ).isNull()
    total = base_frame.agg(F.sum("n").cast("long").alias("__total")).select(
        F.when(ok, F.col("__total")).alias("__total")
    )
    staged = base_frame.crossJoin(F.broadcast(total)).select(
        *group_cols,
        "n",
        F.when(
            F.col("__total") > 0,
            F.expr(
                f"CAST((CAST({budget} AS DECIMAL(38,0)) * n) div __total"
                " AS BIGINT)"
            ),
        ).otherwise(F.lit(0).cast("long")).alias("__base"),
        F.when(
            F.col("__total") > 0,
            F.expr(
                f"CAST(CAST({budget} AS DECIMAL(38,0)) * n"
                f" - ((CAST({budget} AS DECIMAL(38,0)) * n) div __total)"
                " * __total AS BIGINT)"
            ),
        ).otherwise(F.lit(0).cast("long")).alias("__rem"),
    )
    leftover = staged.agg(
        (F.lit(budget) - F.coalesce(F.sum("__base"), F.lit(0)))
        .cast("long")
        .alias("__left")
    )
    w = Window.orderBy(
        F.col("__rem").desc(), *[F.col(c).asc() for c in group_cols]
    )
    return (
        staged.withColumn("__rk", F.row_number().over(w))
        .crossJoin(F.broadcast(leftover))
        .select(
            *group_cols,
            "n",
            (
                F.col("__base")
                + F.when(F.col("__rk") <= F.col("__left"), 1).otherwise(0)
            )
            .cast("long")
            .alias("alloc"),
        )
    )

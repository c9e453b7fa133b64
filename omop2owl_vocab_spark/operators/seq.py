"""Per-group sequential dynamic programming via ``applyInPandas`` —
the one operator family where an Arrow UDF is genuinely the right
tool: the recurrence depends on the whole ordered history of a group,
so no fixed composition of joins/windows expresses it with bounded
plan size (a window frame sees a FRAME, not a DP state).

This module keeps the repo's UDF discipline: Arrow-batched grouped
map (one pandas frame per group, vectorized inside), never
row-at-a-time Python; deterministic ordering (ts, id) imposed INSIDE
the group function so partitioning cannot reorder the sequence; and a
DuckDB oracle that re-derives the same answer from a recursive CTE —
the hash-exact check covers the Python path end to end.

Reference analog: none (mandated sequence-analytics surface next to
`operators/funnel.py`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def lis_per_group(df: DataFrame) -> DataFrame:
    """Longest STRICTLY-increasing subsequence length per ``user_id``:
    ``(user_id, n_events, lis_len)`` over the ``value`` sequence ordered
    by (``ts``, ``event_id``) — the monotone-trend depth readout
    (engagement ramps, price ladders, dose escalation), and the canonical
    can't-window DP.

    Patience-sorting O(n log n) per group (numpy ``searchsorted`` on
    the pile tops — vectorized binary search, no Python-level loop
    body beyond one pass); memory is one float per pile.  Groups are
    Arrow-shipped whole, so a single group must fit an executor —
    same contract as every ``applyInPandas`` op; salt-split upstream
    if a group can exceed memory.

    Plan shape: ONE group-keyed exchange feeding FlatMapGroupsInPandas
    — no sort exchange (ordering happens vectorized inside the
    group), no second shuffle.
    """
    import pandas as pd

    # group key keeps its INPUT type (a lossy cast("long") would merge
    # every non-numeric key into one NULL group and silently compute
    # one interleaved LIS)
    g_type = dict(df.dtypes)["user_id"]
    out_schema = f"user_id {g_type}, n_events long, lis_len long"

    def _lis(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(["__ts", "__id"], kind="mergesort")
        vals = pdf["__v"].to_numpy()
        tops = np.empty(len(vals), dtype=np.float64)
        n_piles = 0
        for v in vals:
            # leftmost pile top >= v gets replaced (strict increase)
            i = int(np.searchsorted(tops[:n_piles], v, side="left"))
            tops[i] = v
            if i == n_piles:
                n_piles += 1
        return pd.DataFrame(
            {
                "user_id": [pdf["__g"].iloc[0]],
                "n_events": [len(vals)],
                "lis_len": [n_piles],
            }
        )

    base = df.select(
        F.col("user_id").alias("__g"),
        F.col("value").cast("double").alias("__v"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("__ts"),
        F.col("event_id").alias("__id"),  # keeps input type (tiebreak only)
    ).filter(F.col("__v").isNotNull())
    return base.groupBy("__g").applyInPandas(_lis, schema=out_schema)

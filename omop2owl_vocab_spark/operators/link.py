"""S4 — entity linking: connected components over the equivalence graph (G1).

The reference emits 'Maps to' edges but never merges them
(``omop2owl_vocab.py:584`` merely includes them); the north rule mandates
equivalence canonicalization, so this is new surface.

Algorithm: iterative min-label propagation — each round every node takes
the minimum label among itself and its neighbors, plus pointer doubling;
converges in O(log diameter) rounds.  The rounds run on the shared
`operators/fixpoint.py` driver (per-round lineage truncation, round cap);
labels only ever decrease, so convergence = zero changed rows.  The
changed count is the round's signature: the driver observes it on the
materialized labels, so it costs no job of its own, and the per-round
counts are recorded for the stage metrics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from omop2owl_vocab_spark.operators.fixpoint import iterate, materialize


def connected_components(
    edges: DataFrame, max_iter: int = 25
) -> tuple[DataFrame, dict]:
    """Return ``(labels, stats)`` over ``(src, dst)`` edges, with labels
    = (node, component) and component = min node id (lexicographic — ids
    are strings end-to-end, matching the reference's all-string data
    plane) in the component.

    Input edges need not be symmetric or deduplicated.

    Lineage is cut under the policy in force: ``localCheckpoint`` by
    default, reliable checkpoints inside a `fixpoint.checkpointing`
    scope, whose opener deletes the subdir once the labels are
    materialized elsewhere (the pipeline opens one around this call
    when ``PipelineConfig.cc_checkpoint_dir`` is set).
    """
    e = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    rev = e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    sym = materialize(e.unionByName(rev).distinct())

    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .select(
            "node",
            F.col("node").alias("label"),
            F.lit(0).cast("long").alias("__chg"),
        )
    )

    def step(state: DataFrame, r: int) -> DataFrame:
        labels = state.select("node", "label")
        # neighbor labels: edge (a,b) sends b's label to a
        msgs = sym.join(labels, sym["b"] == labels["node"]).select(
            F.col("a").alias("node"), "label", F.lit(0).alias("__old")
        )
        acc = labels.select("node", "label", F.lit(1).alias("__old")).unionByName(
            msgs
        )
        if r > 1:
            # pointer doubling: adopt the label of one's current label
            # (labels are monotone non-increasing, so label-of-label ≤
            # label); turns O(diameter) convergence into O(log diameter).
            # A no-op in round 1 (labels are identity) — skipped there.
            lol = (
                labels.alias("x")
                .join(labels.alias("y"), F.col("x.label") == F.col("y.node"))
                .select(
                    F.col("x.node").alias("node"),
                    F.col("y.label").alias("label"),
                    F.lit(0).alias("__old"),
                )
            )
            acc = acc.unionByName(lol)
        # change detection FUSED into the label aggregate: the old label
        # rides the union tagged __old=1, so the same hash-agg that takes
        # the new min also recovers the previous label, and the round's
        # signature is a sum observed on the materialization instead of
        # a new⋈old join+count job — valid for ARBITRARY string node
        # ids.  Every node has exactly one __old=1 row, so __o is never
        # NULL.
        return acc.groupBy("node").agg(
            F.min("label").alias("label"),
            F.min(F.when(F.col("__old") == 1, F.col("label"))).alias("__o"),
        ).select(
            "node",
            "label",
            (F.col("label") != F.col("__o")).cast("long").alias("__chg"),
        )

    state, stats = iterate(
        labels,
        step,
        max_rounds=max_iter,
        signature=F.coalesce(F.sum("__chg"), F.lit(0)),
        converged=lambda _, n: n == 0,
    )
    stats["changed_per_round"] = stats.pop("signatures")
    if not stats["converged"]:
        # returning unconverged labels would silently split components
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"(changed_per_round={stats['changed_per_round'][-3:]}); raise "
            "max_iter — pointer doubling needs ~log2(max component diameter)"
        )
    return state.select("node", "label"), stats


def canonical_map(labels: DataFrame) -> DataFrame:
    """G1 output → rewrite map (member, canonical), identity rows dropped
    so the downstream join touches only rows that actually change."""
    return labels.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias("member"), F.col("label").alias("canonical")
    )

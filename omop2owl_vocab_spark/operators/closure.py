"""Transitive ancestor closure with path-length statistics — the OMOP
``concept_ancestor`` analog: every (ancestor, descendant) pair reachable
through 1+ hierarchy edges, annotated with ``min_levels`` /
``max_levels`` of separation (shortest / longest path length).

The reference emits only the DIRECT 'Is a' edges as rdfs:subClassOf
(``omop2owl_vocab.py`` robot-template rows); the derived ancestor table —
the thing OMOP analytics actually join against — is left to downstream
tooling.  Here it is a first-class distributed operator (no reference
analog; mandated kg-construction surface).

Algorithm: path doubling.  ``P_0`` = direct edges at length 1; each
round joins the current pair set with itself on the shared midpoint and
re-aggregates:

    P_{k+1}(a, d) = P_k(a, d)  ∪  { (a, d, min1+min2, max1+max2)
                                    : P_k(a, m), P_k(m, d) }
    → groupBy(a, d).agg(min(min), max(max))

After k rounds every path of length ≤ 2^k is represented (any such path
splits at its midpoint into two halves each ≤ 2^(k-1)), so convergence
takes ⌈log2(longest path)⌉ + 1 rounds — 5 rounds covers depth 32, far
beyond any real ontology.  In a DAG the concatenation of two paths is
itself a path (a shared interior vertex would imply a cycle), so the
min/max compositions are exact, not bounds.

Fixpoint detection: the pair set only grows, ``min_levels`` only
decreases, ``max_levels`` only increases — so the triple
``(count, sum(min), sum(max))`` is strictly monotone until convergence
and one aggregate per round, observed on the round's materialization,
decides termination.  A CYCLE in the input makes ``max_levels``
diverge; the round cap then raises (same contract as
``connected_components``) — the closure doubles as cycle detection.

100 TB posture: each round is one self-equi-join on the midpoint plus a
hash-aggregate — both shuffle on pair keys, both AQE-skew-splittable.
Output size is the closure itself (O(V · depth) for bounded-fan-in
hierarchies — SNOMED's ~450k concepts close to ~7M pairs); the rounds
run on the shared `operators/fixpoint.py` driver, which truncates
lineage per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from omop2owl_vocab_spark.operators.fixpoint import iterate


def ancestor_closure(
    edges: DataFrame,
    max_iter: int = 12,
    include_self: bool = False,
) -> tuple[DataFrame, dict]:
    """Return ``(closure, stats)``: closure = (ancestor, descendant,
    min_levels, max_levels) over the transitive closure of the edge set
    (edge direction: child → parent, one level of separation each).

    ``include_self`` adds the OMOP-style identity rows (every node as
    its own ancestor at 0/0 levels).  Lineage is cut under the policy in
    force — same contract as `connected_components`.

    Raises ``RuntimeError`` when ``max_iter`` rounds don't reach the
    fixpoint — which, for any acyclic input, means ``max_iter`` <
    ⌈log2(depth)⌉ + 1; for cyclic input it is the cycle detector.
    """
    pairs = (
        edges.select(
            F.col("parent").alias("ancestor"),
            F.col("child").alias("descendant"),
        )
        .filter(F.col("ancestor") != F.col("descendant"))
        .distinct()
        .select(
            "ancestor",
            "descendant",
            F.lit(1).cast("long").alias("min_levels"),
            F.lit(1).cast("long").alias("max_levels"),
        )
    )

    def step(pairs: DataFrame, _r: int) -> DataFrame:
        mid = (
            pairs.alias("l")
            .join(
                pairs.alias("r"),
                F.col("l.descendant") == F.col("r.ancestor"),
            )
            .select(
                F.col("l.ancestor").alias("ancestor"),
                F.col("r.descendant").alias("descendant"),
                (F.col("l.min_levels") + F.col("r.min_levels")).alias(
                    "min_levels"
                ),
                (F.col("l.max_levels") + F.col("r.max_levels")).alias(
                    "max_levels"
                ),
            )
            .filter(F.col("ancestor") != F.col("descendant"))
        )
        return (
            pairs.unionByName(mid)
            .groupBy("ancestor", "descendant")
            .agg(
                F.min("min_levels").alias("min_levels"),
                F.max("max_levels").alias("max_levels"),
            )
        )

    pairs, stats = iterate(
        pairs,
        step,
        max_rounds=max_iter,
        # (n, Σmin, Σmax): strictly monotone until the fixpoint
        signature=F.struct(
            F.count("*"), F.sum("min_levels"), F.sum("max_levels")
        ),
    )
    sigs = [stats["initial_signature"], *stats.pop("signatures")]
    stats["pairs_per_round"] = [n for n, _, _ in sigs]
    if not stats["converged"]:
        raise RuntimeError(
            f"ancestor_closure did not reach a fixpoint in {max_iter} "
            f"rounds (pairs_per_round={stats['pairs_per_round'][-3:]}); "
            "either the hierarchy is deeper than 2^(max_iter-1) levels "
            "or the input contains a CYCLE (max_levels diverges)"
        )
    if include_self:
        nodes = (
            pairs.select(F.col("ancestor").alias("node"))
            .unionByName(pairs.select(F.col("descendant").alias("node")))
            .distinct()
        )
        pairs = pairs.unionByName(
            nodes.select(
                F.col("node").alias("ancestor"),
                F.col("node").alias("descendant"),
                F.lit(0).cast("long").alias("min_levels"),
                F.lit(0).cast("long").alias("max_levels"),
            )
        )
    return pairs, stats

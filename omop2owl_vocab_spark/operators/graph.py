"""Graph operators over edge-list DataFrames: integer PageRank, HITS,
k-core, BFS, label propagation, shortest paths, DAG layering and
temporal reachability (iterative), plus triangles, degrees, node
similarity, walks, link prediction, modularity and basket co-occurrence
(one-shot).

Determinism is the design center: scores are 10^9-scaled longs, every
update uses integer division, and every fold is associative, so results
are bit-identical in any engine (each DuckDB oracle unrolls the same
recurrence) and independent of partitioning and summation order.

Every iterative operator runs its rounds on the `operators/fixpoint.py`
driver, which truncates lineage per round.  Fixed round counts (not
convergence tests) where the oracle must unroll the recurrence: cost is
known up front.  Each round is a few node-keyed hash joins and
map-side-combined hash aggregates, so in-degree skew is absorbed by
Spark's two-phase aggregation.  Reference analog: none (mandated
kg/graph surface).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from omop2owl_vocab_spark.operators.dedup import (
    _overlap,
    _purge_keys,
    _shared_key_pairs,
)
from omop2owl_vocab_spark.operators.fixpoint import iterate
from omop2owl_vocab_spark.operators.text import _e4

_SCALE = 10**9


def _undirected_simple(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Canonical undirected simple edge set ``(a, b)`` with ``a < b``:
    self-loops dropped, direction and duplicates collapsed,
    checkpointed (every undirected operator starts here — one shared
    derivation instead of four drifting copies)."""
    e = edges.select(
        F.col(src_col).alias("a"), F.col(dst_col).alias("b")
    ).filter(F.col("a") != F.col("b"))
    return (
        e.select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )


def _degrees(und: DataFrame) -> DataFrame:
    """``(node, deg)`` over a `_undirected_simple` edge set."""
    return (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )


def _orient_by_degree(und: DataFrame, deg: DataFrame) -> DataFrame:
    """Orient every undirected edge from the lower ``(degree, node)``
    endpoint to the higher — the standard MapReduce/MPC triangle
    scheme: each triangle then has exactly ONE wedge at its
    lowest-ordered vertex, and oriented out-degree is O(√m) on ANY
    graph, so power-law hubs cannot explode the wedge self-join.
    Returns ``(u, v)``, checkpointed."""
    da = deg.select(
        F.col("node").alias("a"),
        F.struct("deg", F.col("node").alias("nn")).alias("ka"),
    )
    db = deg.select(
        F.col("node").alias("b"),
        F.struct("deg", F.col("node").alias("nn")).alias("kb"),
    )
    return (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(F.col("ka") < F.col("kb"), F.col("a"))
            .otherwise(F.col("b"))
            .alias("u"),
            F.when(F.col("ka") < F.col("kb"), F.col("b"))
            .otherwise(F.col("a"))
            .alias("v"),
        )
        .localCheckpoint(eager=True)
    )


def _symmetric(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Both directions ``(src, dst)`` of every simple edge: self-loops
    dropped, duplicates collapsed."""
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    return (
        e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _nodes(e: DataFrame, a: str = "src", b: str = "dst") -> DataFrame:
    """The distinct endpoints of edge frame ``e`` as column ``node``."""
    return (
        e.select(F.col(a).alias("node"))
        .unionByName(e.select(F.col(b).alias("node")))
        .distinct()
    )


def _basket_items(df: DataFrame, basket_col: str, item_col: str) -> DataFrame:
    """Distinct ``(basket, item)`` rows, checkpointed: the input of the
    basket pair join and of every support count."""
    return (
        df.select(
            F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )


def _undirected_adjacency(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Long-form undirected adjacency ``(node, nbr)`` over `_symmetric`,
    checkpointed; the shared input of the neighbor-set operators."""
    return (
        _symmetric(edges, src_col, dst_col)
        .select(F.col("src").alias("node"), F.col("dst").alias("nbr"))
        .localCheckpoint(eager=True)
    )


def pagerank_fixed(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping_pct: int = 85,
) -> DataFrame:
    """Fixed-iteration PageRank in pure integer arithmetic: ``(node,
    rank_e9)`` after exactly ``iterations`` rounds of

        r_{t+1}(v) = (100-d_pct)·S div 100  +  d_pct·Σ_{u→v} (r_t(u) div deg⁺(u)) div 100

    with S = 10^9 and every node starting at S, over the DEDUPLICATED
    edge set (rank measures link structure, not multiplicity).  Every
    node appearing as src or dst is in the spine.  Rounding mass and
    dangling-node mass evaporate (no redistribution) — fine for
    RANKING; totals are not conserved.
    """
    return _integer_pagerank(edges, src, dst, None, iterations, damping_pct)


def _integer_pagerank(
    edges: DataFrame,
    src: str,
    dst: str,
    seeds: DataFrame | None,
    iterations: int,
    damping_pct: int,
) -> DataFrame:
    """The integer power iteration shared by `pagerank_fixed` (``seeds``
    None: every node is a seed, so the seed flag is the literal 1 and no
    join is planned) and `personalized_pagerank` (``seeds`` = one column
    ``node``; the flag is a broadcast left join hoisted out of the loop,
    computed once on the node spine).  Returns ``(node, rank_e9)``."""
    if not (0 <= damping_pct <= 100):
        raise ValueError("damping_pct must be in 0..100")
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = _nodes(e)
    seed = F.lit(1)
    if seeds is not None:
        nodes = nodes.join(
            F.broadcast(seeds.distinct().withColumn("__seed", F.lit(1))),
            "node",
            "left",
        ).na.fill({"__seed": 0})
        seed = F.col("__seed")
    nodes = nodes.localCheckpoint(eager=True)
    deg = e.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
    ed = e.join(deg, "src").localCheckpoint(eager=True)
    base = (100 - damping_pct) * _SCALE // 100
    ranks = nodes.select(
        "node", (seed * _SCALE).cast("long").alias("rank_e9")
    ).localCheckpoint(eager=True)

    def step(ranks: DataFrame, _r: int) -> DataFrame:
        contrib = (
            ranks.join(ed, ranks["node"] == ed["src"])
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_e9 div deg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        return nodes.join(contrib, "node", "left").select(
            "node",
            (
                (seed * base).cast("long")
                + F.expr(
                    f"CAST({damping_pct} AS BIGINT)"
                    " * coalesce(s, CAST(0 AS BIGINT)) div 100"
                )
            ).alias("rank_e9"),
        )

    return iterate(ranks, step, max_rounds=iterations)[0]


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Exact global triangle count over the UNDIRECTED simple graph
    induced by the edge list (direction, duplicates, self-loops
    dropped) — the clustering/cohesion primitive.  Returns a one-row
    frame ``(n_triangles)``.

    Algorithm: degree orientation (the standard MapReduce/MPC triangle
    scheme): orient every undirected edge from the endpoint with lower
    ``(degree, node)`` to the higher.  Each triangle then has exactly
    ONE wedge (a→b, a→c) at its lowest-ordered vertex, so counting =
    build wedges by self-joining the oriented list on the source, then
    semi-check the closing edge.  Orientation bounds every out-degree
    by O(√m) on ANY graph (a vertex with oriented out-degree d has d
    neighbors of degree ≥ its own, so d ≤ √(2m)) — the wedge join is
    O(m^1.5) worst-case TOTAL and, more importantly, per-key fan-out is
    capped, so the power-law hub that explodes a naive neighbor join is
    structurally bounded before AQE even looks at it.

    Plan shape: one hash-agg (degrees) + one join (attach order key) +
    one self-join (wedges) + one semi-join (closure) + a count — all
    equi-joins on node keys.  Reference analog: none (mandated graph
    surface next to CC / PageRank).
    """
    und = _undirected_simple(edges, src, dst)
    oriented = _orient_by_degree(und, _degrees(und))
    wedges = (
        oriented.alias("x")
        .join(oriented.alias("y"), F.col("x.u") == F.col("y.u"))
        .filter(F.col("x.v") < F.col("y.v"))
        .select(F.col("x.v").alias("p"), F.col("y.v").alias("q"))
    )
    closed = wedges.join(
        und.select(F.col("a").alias("p"), F.col("b").alias("q")),
        ["p", "q"],
        "inner",
    )
    return closed.agg(F.count("*").cast("long").alias("n_triangles"))


def degree_distribution(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Degree-frequency profile of a directed edge list:
    ``(direction, degree, n_nodes)`` where ``direction`` is ``'out'``
    (node appears as source) or ``'in'`` (as destination) and
    ``n_nodes`` counts nodes of exactly that degree — the power-law /
    skew diagnostic read before choosing a join strategy (a hub whose
    in-degree dwarfs the median is the row you salt).  Degrees count
    edge MULTIPLICITY (parallel edges each contribute), matching the
    shuffle-volume semantics the profile exists to predict.

    Plan shape: one scan — both endpoints leave the scan as a 2-array
    explode tagged with the direction literal — then two hash-aggs:
    (direction, node) → degree (map-side partial combine, the only
    data-sized shuffle) and (direction, degree) → n_nodes (output is
    at most 2·|distinct degrees| rows, nil).  No window, no sort, no
    join; isolated node IDs simply never appear (0-degree rows are
    absent by construction — densify against a node spine if needed).

    100 TB posture: linear, one edge-sized shuffle keyed by node — the
    same key PageRank/CC shuffle on, so the profile costs no more than
    one iteration of either.  Reference analog: none (graph-profiling
    surface next to `pagerank_fixed`/`triangle_count`).
    """
    ends = edges.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("out").alias("direction"),
                    F.col(src_col).alias("node"),
                ),
                F.struct(
                    F.lit("in").alias("direction"),
                    F.col(dst_col).alias("node"),
                ),
            )
        ).alias("e")
    ).select("e.direction", "e.node")
    deg = ends.groupBy("direction", "node").agg(
        F.count("*").cast("long").alias("degree")
    )
    return deg.groupBy("direction", "degree").agg(
        F.count("*").cast("long").alias("n_nodes")
    )


def k_core(
    edges: DataFrame,
    k: int,
    rounds: int = 8,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Bulk-synchronous k-core peel: ``(node, degree)`` for nodes
    remaining after ``rounds`` peel iterations on the canonical
    undirected SIMPLE graph (parallel edges collapse, self-loops drop).
    Each round removes every node whose current degree is < k and the
    edges it supports; at the fixpoint the survivors are exactly the
    k-core (the membership question, not core NUMBERS).

    The DuckDB oracle unrolls the same ``rounds``; the Spark loop exits
    early once the edge count is stable, which is observationally
    identical (peel only removes, so an unchanged COUNT is an unchanged
    SET, and a stable round is stable forever).  Per round: one degree
    hash-agg + two ``left_semi`` joins reinstating the induced subgraph.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    e = _undirected_simple(edges, src_col, dst_col)

    def step(e: DataFrame, _r: int) -> DataFrame:
        alive = _degrees(e).filter(F.col("deg") >= k).select("node")
        return e.join(
            alive.withColumnRenamed("node", "a"), "a", "left_semi"
        ).join(alive.withColumnRenamed("node", "b"), "b", "left_semi")

    # stop on a stable edge count, or once every edge is peeled
    n_edges = e.count()
    e, _ = iterate(
        e,
        step,
        max_rounds=rounds if n_edges else 0,
        signature=lambda df: df.count(),
        converged=lambda prev, n: n in (prev, 0),
        initial=n_edges,
    )
    return _degrees(e).withColumnRenamed("deg", "degree")


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    directed: bool = False,
) -> DataFrame:
    """Multi-source BFS: ``(node, dist)`` = minimum hop count from ANY
    source node, cut off at ``max_hops``.  ``sources`` is a one-column
    DataFrame named ``node``; sources report 0, unreached nodes are
    absent.

    Frontier form: per hop, join the CURRENT frontier to the edge list,
    anti-join away visited nodes, dedup the new frontier (each edge is
    expanded at most once per incident frontier visit); the loop exits
    when the frontier empties.  The DuckDB oracle unrolls reachability
    sets r_0 ⊆ … ⊆ r_H and takes ``min(i)`` per node — a different but
    equivalent formulation, so the hash-exact match checks SEMANTICS.
    """
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    if not directed:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    e = e.filter(F.col("src") != F.col("dst")).distinct().localCheckpoint(
        eager=True
    )
    dist = sources.select(
        F.col("node"), F.lit(0).cast("long").alias("dist")
    ).distinct().localCheckpoint(eager=True)
    frontier = dist.select("node").localCheckpoint(eager=True)

    def step(state: tuple, h: int) -> tuple:
        dist, frontier = state
        nxt = (
            frontier.join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .localCheckpoint(eager=True)
        )
        return (
            dist.unionByName(
                nxt.select("node", F.lit(h).cast("long").alias("dist"))
            ),
            nxt,
        )

    # early exit once the frontier empties
    (dist, _), _ = iterate(
        (dist, frontier),
        step,
        max_rounds=max_hops,
        signature=lambda state: state[1].isEmpty(),
        converged=lambda _, empty: empty,
    )
    return dist


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Synchronous label propagation (fixed ``rounds``): ``(node,
    label)`` where every node starts as its own label and each round
    adopts the MOST FREQUENT label among its neighbors, ties broken
    toward the SMALLEST label — the community-detection baseline next to
    `connected_components` (ignores density) and `k_core` (ignores
    assignment).

    Synchronous LPA can oscillate, so convergence is not assumed; the
    DuckDB oracle unrolls the identical recurrence.  Labels are node ids
    (longs) and the argmax is ``max(struct(count, -label))`` — pure
    integer comparison, no hash-order exposure.  Per round: one
    label-delivery join + two hash-aggs (count, argmax).
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    e = _symmetric(edges, src_col, dst_col).localCheckpoint(eager=True)
    labels = (
        _nodes(e)
        .select("node", F.col("node").cast("long").alias("label"))
        .localCheckpoint(eager=True)
    )

    def step(labels: DataFrame, _r: int) -> DataFrame:
        delivered = labels.join(e, labels["node"] == e["src"]).select(
            F.col("dst").alias("node"), "label"
        )
        cnt = delivered.groupBy("node", "label").agg(
            F.count("*").cast("long").alias("c")
        )
        return (
            cnt.groupBy("node")
            .agg(
                F.max(
                    F.struct(
                        F.col("c"), (-F.col("label")).alias("neg_label")
                    )
                ).alias("m")
            )
            .select("node", (-F.col("m.neg_label")).alias("label"))
        )

    return iterate(labels, step, max_rounds=rounds)[0]


def bellman_ford(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int = 6,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
) -> DataFrame:
    """Multi-source WEIGHTED shortest paths, Bellman–Ford style:
    ``(node, dist)`` = minimum total integer weight from any source
    after exactly ``rounds`` synchronous relaxations — exact for every
    node whose shortest path uses ≤ ``rounds`` edges ("cheapest cost
    within k hops"); the oracle unrolls the same recurrence.  Integer
    weights only.  Negative weights are accepted, but negative CYCLES
    make the result round-dependent; unreached nodes are absent.  Per
    round: dist ⋈ edges on src, then a union + min-agg merge with the
    previous dists (`_min_relaxation`).
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("long").alias("w"),
    ).localCheckpoint(eager=True)
    dist = (
        sources.select("node", F.lit(0).cast("long").alias("dist"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    return _min_relaxation(
        dist,
        e,
        rounds,
        lambda j: j.select(
            F.col("dst").alias("node"),
            (F.col("dist") + F.col("w")).alias("dist"),
        ),
    )


def _min_relaxation(
    state: DataFrame,
    e: DataFrame,
    rounds: int,
    relax: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """``rounds`` synchronous min-relaxations of ``state = (node, value)``
    over the edges ``e``: ``relax`` maps the ``state ⋈ e`` (on ``src``)
    rows to candidate ``(node, value)`` rows, and each node keeps the
    minimum of its old value and its candidates."""
    col = state.columns[1]

    def step(state: DataFrame, _r: int) -> DataFrame:
        cand = relax(state.join(e, state["node"] == e["src"]))
        return (
            state.unionByName(cand)
            .groupBy("node")
            .agg(F.min(col).alias(col))
        )

    return iterate(state, step, max_rounds=rounds)[0]


def cooccurrence_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_count: int = 2,
    max_basket_size: int | None = None,
) -> DataFrame:
    """Bipartite→unipartite projection (market-basket co-occurrence):
    ``(item_a, item_b, n_baskets)`` for item pairs sharing at least
    ``min_count`` baskets — the graph-CONSTRUCTION step that turns a
    transaction table into the similarity graph every
    recommend/cluster pass downstream consumes (co-purchased parts,
    co-cited concepts, co-edited files).

    Plan shape: distinct (basket, item) — one hash-agg — then the
    shared-key pair join `dedup._shared_key_pairs` keyed on the basket.
    Pair fan-out is Σ_b |b|²/2, bounded by the basket size, NOT the
    corpus — the same
    quadratic-inside-blocks shape as `resolve.fuzzy_pairs`, with the
    same escape hatch: ``max_basket_size`` drops degenerate baskets
    BEFORE the join (a basket holding half the catalog — the
    "everything" order — contributes |catalog|²/2 pairs of zero
    analytic value; count the drops with a `resolve.block_stats`-style
    pre-flight on ``basket_col``).
    """
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    if max_basket_size is not None and max_basket_size < 2:
        raise ValueError("max_basket_size must be >= 2")
    return (
        _shared_key_pairs(
            _basket_items(df, basket_col, item_col),
            "basket",
            id_col="item",
            max_postings=max_basket_size,
        )
        .select(
            F.col("id_a").alias("item_a"),
            F.col("id_b").alias("item_b"),
            F.col("n").alias("n_baskets"),
        )
        .filter(F.col("n_baskets") >= min_count)
    )


def dag_longest_levels(
    edges: DataFrame,
    max_iter: int = 16,
    child_col: str = "child",
    parent_col: str = "parent",
) -> DataFrame:
    """Longest-path DAG layering: ``(node, level)`` where roots (nodes
    that never appear as a child) sit at level 0 and every other node's
    level is ``max(level(parent)) + 1`` — the topological strata for
    hierarchy rollups and ontology depth.

    Per round: join levels to the edges on the parent side and take
    ``max(level(parent) + 1, level(child))`` per child.  Raises
    ``ValueError`` when ``max_iter`` rounds end still changing — the
    budget is below the DAG depth, or the input has a cycle.

    Convergence by MONOTONICITY, not a diff join: levels only increase,
    so ``sum(level)`` is unchanged exactly when no level changed — one
    single-row aggregate over the truncated state per round.  The sum
    is exact: level ≤ depth ≤ ``max_iter`` and nodes ≤ 2^63/max_iter.
    """
    e = edges.select(
        F.col(child_col).alias("child"), F.col(parent_col).alias("parent")
    ).filter(F.col("child") != F.col("parent"))
    levels = _nodes(e, "child", "parent").select(
        "node", F.lit(0).cast("long").alias("level")
    ).localCheckpoint(eager=True)

    def step(levels: DataFrame, _r: int) -> DataFrame:
        cand = e.join(levels, e.parent == levels.node).select(
            F.col("child").alias("node"),
            (F.col("level") + 1).alias("level"),
        )
        return (
            levels.unionByName(cand)
            .groupBy("node")
            .agg(F.max("level").alias("level"))
        )

    def total(levels: DataFrame) -> int:
        return levels.agg(
            F.coalesce(F.sum("level"), F.lit(0)).cast("long")
        ).collect()[0][0]

    levels, stats = iterate(
        levels, step, max_rounds=max_iter, signature=total, initial=0
    )
    if stats["converged"]:
        return levels
    raise ValueError(
        f"dag_longest_levels did not converge in {max_iter} rounds — "
        "either raise max_iter above the DAG depth or check for cycles"
    )


def neighbor_jaccard(
    edges: DataFrame,
    threshold: float = 0.25,
    min_common: int = 1,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Structural node similarity: ``(node_a, node_b, common, union_sz,
    jaccard_e4)`` for unordered node pairs whose UNDIRECTED neighbor
    sets overlap — |N(a) ∩ N(b)| / |N(a) ∪ N(b)| >= ``threshold`` with
    at least ``min_common`` shared neighbors.  The link-prediction /
    role-equivalence primitive (two files imported by the same modules,
    two users touching the same items).

    Same verifier as `dedup.jaccard_pairs` (`dedup._overlap`): the
    deduplicated adjacency (node, neighbor) pair-joined on the NEIGHBOR
    key — only pairs sharing a neighbor are ever materialized, so the
    blowup is bounded by sum(deg²) over neighbors; skewed hub neighbors
    are the classic
    hazard and should be capped upstream (compose with `k_core` or a
    degree filter) exactly like LSH bucket caps.
    """
    uni = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    jac = F.col("inter") / uni
    adj = _undirected_adjacency(edges, src_col, dst_col)
    return (
        _overlap(adj, "nbr", id_col="node")
        .filter((F.col("inter") >= min_common) & (jac >= threshold))
        .select(
            F.col("id_a").alias("node_a"),
            F.col("id_b").alias("node_b"),
            F.col("inter").alias("common"),
            uni.cast("long").alias("union_sz"),
            _e4(jac).alias("jaccard_e4"),
        )
    )


def deterministic_walks(
    edges: DataFrame,
    length: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    mult_a: int = 2654435761,
    mult_b: int = 40503,
) -> DataFrame:
    """DeepWalk/node2vec-style walk corpus, DERANDOMIZED: one walk of
    ``length`` steps from every node over the undirected simple graph,
    the step-i choice picked by the arithmetic hash
    ``((cur mod 2^31) * mult_a + i * mult_b) mod deg(cur)`` into the
    node's SORTED neighbor list — reproducible across engines and runs
    (the property a 100 TB embedding pipeline needs for resumable corpus
    generation; swap ``mult_a/mult_b`` per epoch for fresh walks).
    Reducing ``cur`` mod 2^31 before the multiply keeps the product in
    int64 for any node id; raises ``ValueError`` when
    ``(2^31-1)·mult_a + length·mult_b`` reaches 2^63, where it would not.

    Returns ``(start, path)`` with ``path`` the '>'-joined node chain
    including the start (length+1 nodes).

    Plan: one agg building ``(node, sorted neighbors)`` adjacency, then
    ``length`` chained hash-joins on the current node — per-step state
    is one row per walk, the join key is the frontier node, and the
    adjacency side is reused every round (cache/checkpoint it when
    length is large).  All integer expressions, no UDF.
    """
    if (2**31 - 1) * mult_a + length * mult_b >= 2**63:
        raise ValueError(
            "(2**31-1)*mult_a + length*mult_b must stay below 2**63"
        )
    adj = (
        _symmetric(edges, src_col, dst_col)
        .groupBy(F.col("src").alias("node"))
        .agg(F.sort_array(F.collect_set("dst")).alias("nbrs"))
    )
    walks = adj.select(
        F.col("node").alias("start"),
        F.col("node").alias("cur"),
        F.col("node").cast("string").alias("path"),
    )
    for step in range(1, length + 1):
        # reduce cur mod 2^31 BEFORE the multiply — the raw product
        # overflows int64 for node ids above ~3.47e9 (silent wraparound
        # non-ANSI, runtime error under ansi.enabled, and divergence from
        # any HUGEINT-based replay); the guard above bounds the rest.
        # Ids in [0, 2^31) hash identically to the unreduced form.
        idx = F.pmod(
            F.pmod(F.col("cur"), F.lit(1 << 31)) * F.lit(mult_a)
            + F.lit(step * mult_b),
            F.size("nbrs"),
        )
        walks = (
            walks.join(adj, walks.cur == adj.node)
            .select(
                "start",
                F.element_at("nbrs", (idx + 1).cast("int")).alias("cur"),
                F.concat_ws(
                    ">",
                    "path",
                    F.element_at("nbrs", (idx + 1).cast("int")).cast("string"),
                ).alias("path"),
            )
        )
    return walks.select("start", "path")


def reciprocity(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Directed-edge mutuality: one row ``(n_edges, n_reciprocal,
    reciprocity_e4)`` where ``n_edges`` counts DISTINCT directed edges
    (self-loops dropped, duplicates collapsed), ``n_reciprocal`` counts
    those whose reverse edge also exists, and ``reciprocity_e4`` is the
    exact-integer ratio ``(n_reciprocal * 10000) div n_edges`` (0 on an
    empty graph).  The classic directed-network health metric
    (citation vs follow graphs; cross-reference symmetry in a concept
    graph) — newman's r over the OMOP relationship graph tells you how
    much of 'Maps to' is mirrored by 'Mapped from'.

    Plan shape — no self-join: after the distinct, each edge is grouped
    under its UNORDERED pair key ``(least(src,dst), greatest(src,dst))``
    and a pair with BOTH directions present has group count 2, so
    reciprocal edges = 2 × (pairs with count 2).  Two key-partitioned
    hash-agg shuffles (distinct, pair-group) with map-side combine,
    then a single global fold to one row — strictly cheaper than the
    edge ⋈ reversed-edge semi-join at the same answer, and with no
    skewed join key (the pair key's multiplicity is bounded by 2 by
    construction, so hub nodes cannot create a hot partition).
    """
    e = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    pairs = e.groupBy(
        F.least("src", "dst").alias("lo"),
        F.greatest("src", "dst").alias("hi"),
    ).agg(F.count("*").alias("dirs"))
    return pairs.agg(
        F.coalesce(F.sum("dirs"), F.lit(0)).cast("long").alias("n_edges"),
        F.coalesce(
            F.sum(F.when(F.col("dirs") == 2, F.lit(2)).otherwise(F.lit(0))),
            F.lit(0),
        )
        .cast("long")
        .alias("n_reciprocal"),
    ).select(
        "n_edges",
        "n_reciprocal",
        F.when(
            F.col("n_edges") > 0,
            F.expr("(n_reciprocal * 10000) div n_edges"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("reciprocity_e4"),
    )


def clustering_coefficient(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node local clustering coefficient over the UNDIRECTED simple
    graph induced by the edge list: ``(node, deg, n_tri, lcc_e4)`` with
    ``n_tri`` the EXACT number of triangles through each node and
    ``lcc_e4 = (2·n_tri·10000) div (deg·(deg-1))`` in 4-decimal fixed
    point (0 for degree < 2).  The Watts–Strogatz local metric — how
    clique-like each node's neighborhood is — used for community
    seeding, spam/link-farm detection, and role typing next to the
    global `triangle_count`.

    Same degree-orientation scheme as `triangle_count` (each triangle
    materializes as ONE wedge at its lowest-(degree, node) vertex, so
    out-fan-out is O(√m) on any graph and power-law hubs cannot explode
    the wedge join) — but the closed wedge ``(u, p, q)`` here credits
    all THREE vertices via a 3-array explode before the per-node
    hash-agg, turning the global count into the per-node vector at the
    same join cost.  All equi-joins on node keys, map-side partial aggs
    throughout; no float anywhere, so the DuckDB oracle matches
    hash-exact.
    """
    und = _undirected_simple(edges, src_col, dst_col)
    deg = _degrees(und)
    oriented = _orient_by_degree(und, deg)
    closed = (
        oriented.alias("x")
        .join(oriented.alias("y"), F.col("x.u") == F.col("y.u"))
        .filter(F.col("x.v") < F.col("y.v"))
        .select(
            F.col("x.u").alias("u"),
            F.col("x.v").alias("p"),
            F.col("y.v").alias("q"),
        )
        .join(
            und.select(F.col("a").alias("p"), F.col("b").alias("q")),
            ["p", "q"],
            "inner",
        )
    )
    tri = (
        closed.select(
            F.explode(F.array("u", "p", "q")).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_tri"))
    )
    return (
        deg.join(tri, "node", "left")
        .na.fill({"n_tri": 0})
        .select(
            "node",
            "deg",
            "n_tri",
            F.when(
                F.col("deg") >= 2,
                F.expr("(2 * n_tri * 10000) div (deg * (deg - 1))"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("lcc_e4"),
        )
    )


def link_prediction(
    edges: DataFrame,
    top_k: int = 100,
    min_common: int = 1,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Topological link prediction over the UNDIRECTED simple graph:
    the ``top_k`` NON-ADJACENT node pairs ranked by common-neighbor
    count — ``(node_a, node_b, cn, pa)`` with ``cn`` = |N(a) ∩ N(b)|
    and ``pa`` = deg(a)·deg(b) (preferential attachment) as the
    integer tie-breaker, final ties broken by the node pair itself so
    the ranking is a TOTAL order and the result is engine-portable
    without any float score.  The classic missing-edge suggester
    (knowledge-graph completion: concepts sharing many relationship
    partners but no direct mapping; co-review / co-purchase
    recommendation).

    Plan shape: `dedup._shared_key_pairs` on the NEIGHBOR key (only
    pairs that share a neighbor ever materialize — same sum(deg²)
    bound and hub hazard as `neighbor_jaccard`; cap hubs upstream via
    `k_core` or a degree filter), one hash-agg to ``cn``, a LEFT ANTI
    hash join against the existing edge set (the "non-adjacent"
    filter), two broadcast-sized degree joins, then
    ``orderBy(...).limit(top_k)`` which Spark plans as
    TakeOrderedAndProject — per-partition heaps + one O(top_k) merge,
    never a global sort.
    """
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    adj = _undirected_adjacency(edges, src_col, dst_col)
    deg = adj.groupBy("node").agg(F.count("*").cast("long").alias("deg"))
    cn = (
        _shared_key_pairs(adj, "nbr", id_col="node")
        .select(
            F.col("id_a").alias("node_a"),
            F.col("id_b").alias("node_b"),
            F.col("n").alias("cn"),
        )
        .filter(F.col("cn") >= min_common)
    )
    und = adj.filter(F.col("node") < F.col("nbr")).select(
        F.col("node").alias("node_a"), F.col("nbr").alias("node_b")
    )
    candidates = cn.join(und, ["node_a", "node_b"], "left_anti")
    da = deg.select(F.col("node").alias("node_a"), F.col("deg").alias("__da"))
    db = deg.select(F.col("node").alias("node_b"), F.col("deg").alias("__db"))
    return (
        candidates.join(da, "node_a")
        .join(db, "node_b")
        .select(
            "node_a",
            "node_b",
            "cn",
            (F.col("__da") * F.col("__db")).cast("long").alias("pa"),
        )
        .orderBy(
            F.col("cn").desc(),
            F.col("pa").desc(),
            F.col("node_a").asc(),
            F.col("node_b").asc(),
        )
        .limit(top_k)
    )


def hits_fixed(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
) -> DataFrame:
    """Kleinberg HITS in pure integer arithmetic: ``(node, hub_e9,
    auth_e9)`` after exactly ``iterations`` rounds over the DEDUPLICATED
    directed edge set (self-loops dropped) — the hub/authority twin of
    `pagerank_fixed`.  Each round is

        auth'(v) = Σ_{u→v} hub(u)      then L∞-normalize
        hub'(u)  = Σ_{u→v} auth'(v)    then L∞-normalize

    with ``x' = (x · 10^9) div max(x)``: the max norm, not L2, because
    sqrt forces floats whose rounding is engine-specific (any norm
    converges to the same eigenvector direction).  The top
    hub/authority always reads exactly 10^9.  The driver truncates the
    hub state; the step materializes the authority half-round itself.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = _nodes(e).localCheckpoint(eager=True)

    def half(
        scores: DataFrame, score: str, frm: str, to: str, col: str
    ) -> DataFrame:
        """Sum ``score`` along the edges ``frm → to`` into ``col`` and
        L∞-normalize."""
        summed = (
            scores.join(e, scores["node"] == e[frm])
            .groupBy(F.col(to).alias("node"))
            .agg(F.sum(score).alias(col))
        )
        raw = nodes.join(summed, "node", "left").select(
            "node", F.coalesce(F.col(col), F.lit(0)).alias(col)
        )
        mx = raw.agg(F.max(col).alias("__mx"))
        return raw.crossJoin(F.broadcast(mx)).select(
            "node",
            # the multiply rides 128-bit decimal: raw sums reach
            # in_degree·10^9, so a long×10^9 would overflow past
            # in-degree ~9 — decimal(38) keeps the recurrence exact at
            # any degree (DuckDB mirrors via HUGEINT)
            F.when(
                F.col("__mx") > 0,
                F.expr(
                    f"CAST((CAST({col} AS DECIMAL(38,0)) * {_SCALE})"
                    f" div __mx AS BIGINT)"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias(col),
        )

    def step(state: tuple, _r: int) -> tuple:
        auth = half(state[0], "hub_e9", "src", "dst", "auth_e9")
        auth = auth.localCheckpoint(eager=True)
        return half(auth, "auth_e9", "dst", "src", "hub_e9"), auth

    hub = nodes.select(
        "node", F.lit(_SCALE).cast("long").alias("hub_e9")
    ).localCheckpoint(eager=True)
    (hub, auth), _ = iterate((hub, None), step, max_rounds=iterations)
    return hub.join(auth, "node").select("node", "hub_e9", "auth_e9")


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_count: int = 2,
    max_basket_size: int | None = None,
) -> DataFrame:
    """Directed association rules over a transaction table — the
    confidence/lift layer on top of `cooccurrence_pairs`: for every
    co-occurring item pair, BOTH directed rules ``antecedent →
    consequent`` as ``(antecedent, consequent, n_both, n_ante, n_cons,
    n_baskets, conf_e4, lift_e4)`` with

        conf_e4 = (n_both · 10000) div n_ante
        lift_e4 = (n_both · n_baskets · 10000) div (n_ante · n_cons)

    — exact integer 4-decimal fixed point (10000 = independence for
    lift), every product routed through decimal(38)/HUGEINT so no
    intermediate overflows at any corpus size.  The classic
    market-basket mining surface (co-prescribed codes, co-imported
    modules, also-bought parts).

    Plan shape: one distinct (basket, item) hash-agg shared by ALL
    downstream counts → per-item support (hash-agg) + one-row basket
    count (broadcast back via crossJoin) + the basket-keyed pair join
    of `cooccurrence_pairs` (unioned both ways — each unordered pair
    joined once, emitted twice) → two broadcast-friendly support joins.
    Same Σ|b|² pair fan-out bound and the same ``max_basket_size``
    degenerate-basket escape hatch.
    """
    if min_pair_count < 1:
        raise ValueError("min_pair_count must be >= 1")
    items = _basket_items(df, basket_col, item_col)
    if max_basket_size is not None:
        # purged before, not inside, the pair join: support and
        # n_baskets must not count the dropped baskets either
        items = _purge_keys(items, "basket", max_basket_size).localCheckpoint(
            eager=True
        )
    support = items.groupBy("item").agg(
        F.count("*").cast("long").alias("n_item")
    )
    n_baskets = items.select("basket").distinct().agg(
        F.count("*").cast("long").alias("n_baskets")
    )
    pairs = _shared_key_pairs(items, "basket", id_col="item").filter(
        F.col("n") >= min_pair_count
    )
    directed = pairs.select(
        F.col("id_a").alias("antecedent"),
        F.col("id_b").alias("consequent"),
        F.col("n").alias("n_both"),
    ).unionByName(
        pairs.select(
            F.col("id_b").alias("antecedent"),
            F.col("id_a").alias("consequent"),
            F.col("n").alias("n_both"),
        )
    )
    sa = support.select(
        F.col("item").alias("antecedent"), F.col("n_item").alias("n_ante")
    )
    sc = support.select(
        F.col("item").alias("consequent"), F.col("n_item").alias("n_cons")
    )
    return (
        directed.join(sa, "antecedent")
        .join(sc, "consequent")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "antecedent",
            "consequent",
            "n_both",
            "n_ante",
            "n_cons",
            "n_baskets",
            F.expr(
                "CAST((CAST(n_both AS DECIMAL(38,0)) * 10000)"
                " div n_ante AS BIGINT)"
            ).alias("conf_e4"),
            F.expr(
                "CAST((CAST(n_both AS DECIMAL(38,0)) * n_baskets * 10000)"
                " div (CAST(n_ante AS DECIMAL(38,0)) * n_cons) AS BIGINT)"
            ).alias("lift_e4"),
        )
    )


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Newman modularity decomposition of a node labeling over the
    UNDIRECTED simple graph: one row per community ``(label, n_nodes,
    in_edges, tot_deg, m, contrib_num)`` where ``in_edges`` counts
    edges with both endpoints in the community, ``tot_deg`` sums member
    degrees, ``m`` is the global edge count, and

        contrib_num = 4·m·in_edges − tot_deg²

    is the community's EXACT integer modularity numerator —
    Q = Σ contrib_num / (4m²), so callers fold the frame to global Q
    without this operator ever performing the (sign-sensitive,
    engine-divergent for negatives) division.  The partition-quality
    metric for any labeling: connected components, label propagation,
    LSH dedup groups, or a plain hash bucketing as the null baseline.

    Plan shape: distinct-undirected edge agg → two label joins on the
    endpoints (broadcast when the label map is small) → one hash-agg
    per community for ``in_edges`` and one for ``tot_deg`` via the
    degree table, then an outer merge on label (a community may have
    no internal edge, or consist of isolated labeled nodes).  The
    product rides decimal(38); outputs are longs, exact while
    4·m·in_c and tot_c² stay under 2^63 (m beyond ~2.3·10^18 internal
    edges per community is past any real graph).
    """
    und = _undirected_simple(edges, src_col, dst_col)
    m_row = und.agg(F.count("*").cast("long").alias("m"))
    lab = labels.select(
        F.col(node_col).alias("node"), F.col(label_col).alias("label")
    )
    la = lab.select(F.col("node").alias("a"), F.col("label").alias("la"))
    lb = lab.select(F.col("node").alias("b"), F.col("label").alias("lb"))
    labeled = und.join(la, "a").join(lb, "b")
    in_c = (
        labeled.filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.count("*").cast("long").alias("in_edges"))
    )
    deg = _degrees(und)
    tot_c = (
        lab.join(deg, "node", "left")
        .na.fill({"deg": 0})
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("deg").cast("long").alias("tot_deg"),
        )
    )
    return (
        tot_c.join(in_c, "label", "full_outer")
        .na.fill({"in_edges": 0, "n_nodes": 0, "tot_deg": 0})
        .crossJoin(F.broadcast(m_row))
        .select(
            "label",
            "n_nodes",
            "in_edges",
            "tot_deg",
            "m",
            F.expr(
                "CAST(4 * CAST(m AS DECIMAL(38,0)) * in_edges"
                " - CAST(tot_deg AS DECIMAL(38,0)) * tot_deg AS BIGINT)"
            ).alias("contrib_num"),
        )
    )


def temporal_reachability(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    time_col: str = "t",
    node_col: str = "node",
    start_col: str = "t0",
) -> DataFrame:
    """Time-RESPECTING reachability: ``(node, arrival)`` = the earliest
    arrival time at every node reachable from ``sources`` within
    ``rounds`` hops, where an edge ``(u, v, t)`` is traversable only if
    ``t >= arrival(u)`` (static reachability overcounts by ignoring time
    order).  Unreached nodes are absent.  Exactly ``rounds``
    relaxations of

        arrival'(v) = min(arrival(v), min{ t : (u,v,t) ∈ E,
                                               t >= arrival(u) })

    — the `bellman_ford` round shape (`_min_relaxation`) with the
    time-respect filter; min is order-independent, so the oracle unrolls
    it bit-exactly.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(time_col).alias("t"),
    ).localCheckpoint(eager=True)
    arr = (
        sources.select(
            F.col(node_col).alias("node"), F.col(start_col).alias("arrival")
        )
        .groupBy("node")
        .agg(F.min("arrival").alias("arrival"))
        .localCheckpoint(eager=True)
    )
    return _min_relaxation(
        arr,
        e,
        rounds,
        lambda j: j.filter(F.col("t") >= F.col("arrival")).select(
            F.col("dst").alias("node"), F.col("t").alias("arrival")
        ),
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    iterations: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """Personalized PageRank: random-walk-with-restart mass RESTRICTED to
    a seed set ("entities most related to THESE concepts").  Returns
    ``(node, rank_e9)`` over every node of the deduplicated edge set;
    seeds both hold the initial mass and receive the teleport refill:

        r_0(v)    = S·[v ∈ seeds]
        r_{t+1}(v) = (100-d)·S div 100 · [v ∈ seeds]
                     + d·Σ_{u→v} (r_t(u) div deg⁺(u)) div 100

    `pagerank_fixed` is the every-node-a-seed case, and both run one
    integer core; the seed flag is a broadcast join computed once on the
    node spine, not per round.
    """
    seed_nodes = seeds.select(F.col(node_col).alias("node"))
    return _integer_pagerank(
        edges, src_col, dst_col, seed_nodes, iterations, damping_pct
    )

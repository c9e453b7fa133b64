"""The shared round driver (`operators/fixpoint.py`) and the iterative
operators built on it: truncation paths, round cap, fixed-round mode,
and empty inputs."""

import os

import pytest
from pyspark.sql import functions as F

from omop2owl_vocab_spark.operators import graph
from omop2owl_vocab_spark.operators.closure import ancestor_closure
from omop2owl_vocab_spark.operators.fixpoint import LOCAL, iterate, truncation
from omop2owl_vocab_spark.operators.link import connected_components


def _countdown(spark):
    """State (k, v) = (i, i) for i < 6; each round v -> max(v - 1, 0),
    so sum(v) is stable from round 6 on."""
    return spark.range(6).select(F.col("id").alias("k"), F.col("id").alias("v"))


def _down(state, _r):
    return state.select("k", F.greatest(F.col("v") - 1, F.lit(0)).alias("v"))


def _total(state):
    return state.agg(F.sum("v")).collect()[0][0]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_local_and_reliable_truncation_agree(spark, tmp_path):
    local, s_local = iterate(
        _countdown(spark), _down, max_rounds=10, signature=_total
    )
    ckpt = truncation(spark, str(tmp_path / "ck"), "t")
    reliable, s_rel = iterate(
        _countdown(spark), _down, max_rounds=10, signature=_total,
        truncate=ckpt,
    )
    assert _rows(local) == _rows(reliable) == [(k, 0) for k in range(6)]
    # converged when round 6 repeats round 5's sum of 0
    assert s_local["rounds"] == s_rel["rounds"] == 6
    assert s_local["signatures"] == s_rel["signatures"] == [10, 6, 3, 1, 0, 0]
    assert s_local["converged"] and s_rel["converged"]
    assert "checkpoint_subdir" not in s_local


def test_reliable_truncation_writes_a_fresh_subdir(spark, tmp_path):
    root = str(tmp_path / "ck")
    subdirs = []
    for _ in range(2):
        _, stats = iterate(
            _countdown(spark), _down, max_rounds=2,
            truncate=truncation(spark, root + "/", "t"),
        )
        sub = stats["checkpoint_subdir"]
        assert os.path.dirname(sub) == root
        assert os.path.basename(sub).startswith("t-")
        assert any(os.scandir(sub))  # the round checkpoints landed there
        subdirs.append(sub)
    assert subdirs[0] != subdirs[1]
    assert truncation(spark, None, "t") is LOCAL


def test_cap_returns_unconverged_after_max_rounds(spark):
    def up(state, _r):
        return state.select("k", (F.col("v") + 1).alias("v"))

    state, stats = iterate(
        _countdown(spark), up, max_rounds=3, signature=_total
    )
    assert stats["rounds"] == 3 and not stats["converged"]
    assert stats["signatures"] == [21, 27, 33]
    assert _rows(state) == [(k, k + 3) for k in range(6)]


def test_fixed_round_mode_runs_exactly_n_rounds(spark):
    seen = []

    def step(state, r):
        seen.append(r)
        return _down(state, r)

    state, stats = iterate(_countdown(spark), step, max_rounds=2)
    assert seen == [1, 2]
    assert stats == {"rounds": 2, "converged": False, "signatures": []}
    assert _rows(state) == [(k, max(k - 2, 0)) for k in range(6)]
    # zero rounds hands the initial state back untouched
    state, stats = iterate(_countdown(spark), step, max_rounds=0)
    assert stats["rounds"] == 0 and _rows(state) == [(k, k) for k in range(6)]


def test_tuple_state_truncates_the_first_frame_only(spark):
    carried = object()

    def step(state, _r):
        return _down(state[0], _r), state[1]

    (state, kept), stats = iterate(
        (_countdown(spark), carried), step, max_rounds=1
    )
    assert kept is carried and stats["rounds"] == 1
    assert _rows(state) == [(k, max(k - 1, 0)) for k in range(6)]


def test_closure_reliable_checkpoint_matches_local(spark, tmp_path):
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)] + [(1, 5), (3, 9)],
        "child long, parent long",
    )
    local, s_local = ancestor_closure(edges, include_self=True)
    ckpt_dir = str(tmp_path / "tc_ckpt")
    reliable, s_rel = ancestor_closure(
        edges, include_self=True, checkpoint_dir=ckpt_dir
    )
    assert _rows(local) == _rows(reliable)
    assert s_local["pairs_per_round"] == s_rel["pairs_per_round"]
    assert s_local["rounds"] == s_rel["rounds"] and s_rel["converged"]
    sub = s_rel["checkpoint_subdir"]
    assert sub.startswith(ckpt_dir + "/tc-") and any(os.scandir(sub))
    assert "checkpoint_subdir" not in s_local


def _empty(spark, schema):
    return spark.createDataFrame([], schema)


EMPTY_CASES = {
    "connected_components": lambda s: connected_components(
        _empty(s, "src string, dst string")
    )[0],
    "ancestor_closure": lambda s: ancestor_closure(
        _empty(s, "child long, parent long")
    )[0],
    "pagerank_fixed": lambda s: graph.pagerank_fixed(
        _empty(s, "src long, dst long")
    ),
    "personalized_pagerank": lambda s: graph.personalized_pagerank(
        _empty(s, "src long, dst long"), _empty(s, "node long")
    ),
    "hits_fixed": lambda s: graph.hits_fixed(_empty(s, "src long, dst long")),
    "k_core": lambda s: graph.k_core(_empty(s, "src long, dst long"), k=2),
    "bfs_distances": lambda s: graph.bfs_distances(
        _empty(s, "src long, dst long"), _empty(s, "node long")
    ),
    "label_propagation": lambda s: graph.label_propagation(
        _empty(s, "src long, dst long")
    ),
    "bellman_ford": lambda s: graph.bellman_ford(
        _empty(s, "src long, dst long, w long"), _empty(s, "node long")
    ),
    "dag_longest_levels": lambda s: graph.dag_longest_levels(
        _empty(s, "child long, parent long")
    ),
    "temporal_reachability": lambda s: graph.temporal_reachability(
        _empty(s, "src long, dst long, t long"),
        _empty(s, "node long, t0 long"),
    ),
}


@pytest.mark.parametrize("name", sorted(EMPTY_CASES))
def test_iterative_operator_on_empty_input(spark, name):
    assert EMPTY_CASES[name](spark).collect() == []

"""The shared round driver (`operators/fixpoint.py`) and the iterative
operators built on it: local and reliable materialization, round cap,
fixed-round mode, empty inputs, and one materialization policy for the
whole package, the pipeline's CC included."""

import os
import uuid
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from omop2owl_vocab_spark.operators import curate, dedup, graph, similarity
from omop2owl_vocab_spark.operators.closure import ancestor_closure
from omop2owl_vocab_spark.operators.fixpoint import checkpointing, iterate
from omop2owl_vocab_spark.operators.link import connected_components
from omop2owl_vocab_spark.plans.pipeline import PipelineConfig, run_pipeline
from omop2owl_vocab_spark.sources.synth import synth_code_files


def _countdown(spark):
    """State (k, v) = (i, i) for i < 6; each round v -> max(v - 1, 0),
    so sum(v) is stable from round 6 on."""
    return spark.range(6).select(F.col("id").alias("k"), F.col("id").alias("v"))


def _down(state, _r):
    return state.select("k", F.greatest(F.col("v") - 1, F.lit(0)).alias("v"))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_local_and_reliable_truncation_agree(spark, tmp_path):
    local, s_local = iterate(
        _countdown(spark), _down, max_rounds=10, signature=F.sum("v")
    )
    with checkpointing(spark, str(tmp_path / "ck"), "t"):
        reliable, s_rel = iterate(
            _countdown(spark), _down, max_rounds=10, signature=F.sum("v")
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
        with checkpointing(spark, root + "/", "t") as sub:
            iterate(_countdown(spark), _down, max_rounds=2)
        assert os.path.dirname(sub) == root
        assert os.path.basename(sub).startswith("t-")
        assert any(os.scandir(sub))  # the round checkpoints landed there
        subdirs.append(sub)
    assert subdirs[0] != subdirs[1]
    with checkpointing(spark, None, "t") as sub:
        assert sub is None


def test_cap_returns_unconverged_after_max_rounds(spark):
    def up(state, _r):
        return state.select("k", (F.col("v") + 1).alias("v"))

    state, stats = iterate(
        _countdown(spark), up, max_rounds=3, signature=F.sum("v")
    )
    assert stats["rounds"] == 3 and not stats["converged"]
    assert stats["signatures"] == [21, 27, 33]
    assert _rows(state) == [(k, k + 3) for k in range(6)]


def _jobs(spark, run):
    """(Spark jobs ``run()`` launched, its result), counted in a job
    group of its own."""
    sc = spark.sparkContext
    group = f"fixpoint-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_signature_costs_no_job(spark):
    """The signature rides each cut's materialization job."""
    plain, _ = _jobs(
        spark, lambda: iterate(_countdown(spark), _down, max_rounds=3)
    )
    observed, (_, stats) = _jobs(
        spark,
        lambda: iterate(
            _countdown(spark), _down, max_rounds=3, signature=F.sum("v")
        ),
    )
    assert observed == plain
    assert stats["signatures"] == [10, 6, 3]
    assert stats["initial_signature"] == 15 and not stats["converged"]


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
    with checkpointing(spark, ckpt_dir, "tc") as sub:
        reliable, s_rel = ancestor_closure(edges, include_self=True)
    assert _rows(local) == _rows(reliable)
    assert s_local["pairs_per_round"] == s_rel["pairs_per_round"]
    assert s_local["rounds"] == s_rel["rounds"] and s_rel["converged"]
    assert sub.startswith(ckpt_dir + "/tc-") and any(os.scandir(sub))
    assert "checkpoint_subdir" not in s_local


# operator name -> run(frame), where frame(schema) builds one input
# frame; shared by the empty-input and the reliable-policy tests
ITERATIVE = {
    "connected_components": lambda f: connected_components(
        f("src string, dst string")
    )[0],
    "ancestor_closure": lambda f: ancestor_closure(
        f("child long, parent long")
    )[0],
    "pagerank_fixed": lambda f: graph.pagerank_fixed(f("src long, dst long")),
    "personalized_pagerank": lambda f: graph.personalized_pagerank(
        f("src long, dst long"), f("node long")
    ),
    "hits_fixed": lambda f: graph.hits_fixed(f("src long, dst long")),
    "k_core": lambda f: graph.k_core(f("src long, dst long"), k=2),
    "bfs_distances": lambda f: graph.bfs_distances(
        f("src long, dst long"), f("node long")
    ),
    "label_propagation": lambda f: graph.label_propagation(
        f("src long, dst long")
    ),
    "bellman_ford": lambda f: graph.bellman_ford(
        f("src long, dst long, w long"), f("node long")
    ),
    "dag_longest_levels": lambda f: graph.dag_longest_levels(
        f("child long, parent long")
    ),
    "temporal_reachability": lambda f: graph.temporal_reachability(
        f("src long, dst long, t long"), f("node long, t0 long")
    ),
}


def _empty(spark):
    return lambda schema: spark.createDataFrame([], schema)


@pytest.mark.parametrize("name", sorted(ITERATIVE))
def test_iterative_operator_on_empty_input(spark, name):
    assert ITERATIVE[name](_empty(spark)).collect() == []


_DOCS = "doc_id long, text string"
_VECS = "vec_id long, embedding array<double>"
MATERIALIZING = {
    **ITERATIVE,
    "jaccard_pairs": lambda f: dedup.jaccard_pairs(
        dedup.word_shingles(f(_DOCS))
    ),
    "prefix_filter_pairs": lambda f: dedup.prefix_filter_pairs(
        dedup.word_shingles(f(_DOCS))
    ),
    "near_duplicate_groups": lambda f: dedup.near_duplicate_groups(f(_DOCS)),
    "curation_decision": lambda f: curate.curation_decision(f(_DOCS)),
    "ann_recall": lambda f: similarity.ann_recall(
        f(_VECS), f(_VECS), k=2, dim=3, n_bits=4, centroids=f(_VECS)
    ),
}

# a triangle, a cycle through it, a pendant node 7; the child < parent
# edges of the same graph form a DAG
_EDGES = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (2, 6), (6, 7)]
_SMALL = {
    "src string, dst string": [(str(a), str(b)) for a, b in _EDGES],
    "src long, dst long": _EDGES,
    "child long, parent long": [(a, b) for a, b in _EDGES if a < b],
    "node long": [(1,)],
    "src long, dst long, w long": [(a, b, a + b) for a, b in _EDGES],
    "src long, dst long, t long": [(a, b, a % 4) for a, b in _EDGES],
    "node long, t0 long": [(1, 0)],
    _DOCS: [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "a completely different sentence about spark jobs"),
        (4, "a completely different sentence about spark stages"),
        (5, "nothing in common with anything else here"),
    ],
    _VECS: [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [1.0, 0.01, 0.0]),
    ],
}


def _small(spark):
    return lambda schema: spark.createDataFrame(_SMALL[schema], schema)


def _no_local_checkpoint(spark, monkeypatch):
    def boom(*_a, **_k):
        raise AssertionError("localCheckpoint under a reliable scope")

    monkeypatch.setattr(type(spark.range(1)), "localCheckpoint", boom)


def _holds_files(root):
    return any(files for _, _, files in os.walk(root))


@pytest.mark.parametrize("name", sorted(MATERIALIZING))
def test_operator_under_reliable_policy_matches_local(
    spark, tmp_path, monkeypatch, name
):
    local = _rows(MATERIALIZING[name](_small(spark)))
    assert local  # the small inputs give every operator some output
    _no_local_checkpoint(spark, monkeypatch)
    with checkpointing(spark, str(tmp_path), "t") as sub:
        reliable = _rows(MATERIALIZING[name](_small(spark)))
    assert reliable == local
    assert _holds_files(sub)


def test_nested_scope_keeps_the_enclosing_policy(spark, tmp_path, monkeypatch):
    edges = _small(spark)("src string, dst string")
    local = _rows(connected_components(edges)[0])
    _no_local_checkpoint(spark, monkeypatch)
    with checkpointing(spark, str(tmp_path / "outer"), "t") as outer:
        labels, stats = connected_components(edges)
        assert _rows(labels) == local
        assert "checkpoint_subdir" not in stats
        # an inner reliable scope hands the outer subdir back on exit
        with checkpointing(spark, str(tmp_path / "inner"), "cc") as inner:
            connected_components(edges)
        assert inner.startswith(str(tmp_path / "inner")) and _holds_files(inner)
        assert outer + "/" in spark.sparkContext.getCheckpointDir()
    assert _holds_files(outer)


def test_enclosing_scope_reaches_the_pipeline_cc(spark, tmp_path, monkeypatch):
    """A scope the caller opened around `run_pipeline` makes its CC
    rounds reliable, with the same triples."""
    src = str(tmp_path / "cf")
    synth_code_files(spark, 2000).write.parquet(src)

    def triples(name):
        out = str(tmp_path / name)
        run_pipeline(spark, PipelineConfig(source=src, output_dir=out))
        rows = spark.read.parquet(f"{out}/triples").collect()
        return sorted(map(tuple, rows), key=repr)

    local = triples("local")
    _no_local_checkpoint(spark, monkeypatch)
    with checkpointing(spark, str(tmp_path / "ck"), "run") as sub:
        reliable = triples("reliable")
    assert _holds_files(sub)
    assert reliable == local


def _package_lines_with(needles, skip=None):
    """``path:line`` of every package source line holding one of
    ``needles``, outside the file ``skip``."""
    pkg = Path(graph.__file__).parents[1]
    return [
        f"{p.relative_to(pkg)}:{n}"
        for p in sorted(pkg.rglob("*.py"))
        if p != skip
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if any(t in line for t in needles)
    ]


def test_only_fixpoint_cuts_lineage():
    """`fixpoint.materialize` is the one lineage cut in the package, and
    nothing outside it caches a frame instead."""
    cuts = ("localCheckpoint(", ".checkpoint(", ".persist(", ".cache(")
    policy = Path(graph.__file__).with_name("fixpoint.py")
    assert _package_lines_with(cuts, skip=policy) == []


def test_package_starts_no_threads():
    """`run_pipeline` runs its stages in order on the calling thread, and
    no package code starts a thread: a driver-side overlap comes back
    only with its own interleaved A/B."""
    spawns = ("ThreadPoolExecutor", "threading.Thread", "inheritable_thread_target")
    assert _package_lines_with(spawns) == []


def test_checkpoints_are_plain_directories():
    """Every checkpoint is a plain parquet directory: bucketed s1 tables
    were measured slower end to end at 400k and 4M rows, so no package
    code writes a bucketed or catalog table."""
    assert _package_lines_with(("bucketBy(", "saveAsTable(")) == []

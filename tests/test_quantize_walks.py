"""scalar_quantize (exact integer codes, range endpoints, constant
dims) and deterministic_walks (valid edges, reproducibility)."""

from pyspark.sql import functions as F

from omop2owl_vocab_spark.operators.graph import deterministic_walks
from omop2owl_vocab_spark.operators.similarity import scalar_quantize


def test_quantize_endpoints_and_constant_dim(spark):
    emb = spark.createDataFrame(
        [
            (1, [0.0, 5.0, 7.0]),
            (2, [1.0, 5.0, 3.0]),
            (3, [0.5, 5.0, 5.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    got = {r["vec_id"]: r["codes"] for r in scalar_quantize(emb).collect()}
    # dim 0: min 0, max 1 -> codes 0, 255, floor(0.5*255)=127
    # dim 1: constant -> 0 everywhere
    # dim 2: min 3, max 7 -> (7-3)->255, (3-3)->0, (5-3)*255//4=127
    assert got[1] == [0, 0, 255]
    assert got[2] == [255, 0, 0]
    assert got[3] == [127, 0, 127]


def test_quantize_codes_in_range(spark):
    emb = spark.createDataFrame(
        [(i, [float((i * 7 + d) % 13) - 6.0 for d in range(8)])
         for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    rows = scalar_quantize(emb).collect()
    assert len(rows) == 50
    for r in rows:
        assert all(0 <= c <= 255 for c in r["codes"])
    # every dimension must hit both endpoints somewhere
    mins = [min(r["codes"][d] for r in rows) for d in range(8)]
    maxs = [max(r["codes"][d] for r in rows) for d in range(8)]
    assert mins == [0] * 8 and maxs == [255] * 8


def test_walks_follow_edges_and_are_deterministic(spark):
    edges = spark.createDataFrame(
        [(i, (i + 1) % 20) for i in range(20)]
        + [(i, (i + 7) % 20) for i in range(20)],
        "src long, dst long",
    )
    out1 = {r["start"]: r["path"] for r in
            deterministic_walks(edges, length=5).collect()}
    out2 = {r["start"]: r["path"] for r in
            deterministic_walks(edges, length=5).collect()}
    assert out1 == out2  # derandomized: identical across runs
    # adjacency for validity check
    adj = {}
    for s, d in [(r[0], r[1]) for r in edges.collect()]:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    for start, path in out1.items():
        nodes = [int(x) for x in path.split(">")]
        assert nodes[0] == start and len(nodes) == 6
        for a, b in zip(nodes, nodes[1:]):
            assert b in adj[a], f"walk used non-edge {a}->{b}"


def test_walks_epoch_seed_changes_paths(spark):
    edges = spark.createDataFrame(
        [(i, (i + 1) % 30) for i in range(30)]
        + [(i, (i * 3 + 1) % 30) for i in range(30)],
        "src long, dst long",
    )
    a = {r["start"]: r["path"] for r in
         deterministic_walks(edges, length=4).collect()}
    b = {r["start"]: r["path"] for r in
         deterministic_walks(edges, length=4, mult_b=99991).collect()}
    assert a != b  # a different epoch seed explores different paths


def test_walks_reject_overflowing_multipliers(spark):
    import pytest

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    # (2^31-1)·mult_a alone passes 2^63 for mult_a = 2^32 + 3
    with pytest.raises(ValueError, match="2\\*\\*63"):
        deterministic_walks(edges, length=2, mult_a=2**32 + 3)
    # the bound counts the step term too: this mult_a fits on its own
    mult_a = (2**63 - 1) // (2**31 - 1)
    with pytest.raises(ValueError, match="2\\*\\*63"):
        deterministic_walks(edges, length=4, mult_a=mult_a, mult_b=2**40)
    # the defaults are far inside the bound
    assert len(deterministic_walks(edges, length=2).collect()) == 3

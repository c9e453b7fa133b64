"""Round-6 correctness fixes from the r5 ADVICE: NULL exclusion in the
KMV/HLL sketches, zero-mass budget apportionment, and the walks step-hash
overflow guard."""

import pytest
from pyspark.sql import functions as F

from omop2owl_vocab_spark.operators.sketch import hll_registers, kmv_distinct
from omop2owl_vocab_spark.operators.sample import allocate_budget


def test_kmv_distinct_ignores_nulls(spark):
    base = spark.createDataFrame(
        [("g", f"v{i}") for i in range(20)], "g string, v string"
    )
    with_nulls = base.unionByName(
        spark.createDataFrame([("g", None)] * 3, "g string, v string")
    )
    a = kmv_distinct(base, ["g"], "v", k=8).collect()[0]
    b = kmv_distinct(with_nulls, ["g"], "v", k=8).collect()[0]
    # a NULL hash used to steal a sketch slot (sorts first in Spark) and
    # shift kth_hash; now NULLs are excluded before hashing
    assert (a["n_kept"], a["kth_hash"], a["distinct_e4"]) == (
        b["n_kept"], b["kth_hash"], b["distinct_e4"]
    )


def test_hll_registers_ignore_nulls(spark):
    base = spark.createDataFrame(
        [("g", f"v{i}") for i in range(50)], "g string, v string"
    )
    with_nulls = base.unionByName(
        spark.createDataFrame([("g", None)] * 5, "g string, v string")
    )
    a = {(r["bucket"], r["max_rho"]) for r in hll_registers(base, ["g"], "v").collect()}
    b = {(r["bucket"], r["max_rho"]) for r in hll_registers(with_nulls, ["g"], "v").collect()}
    # a NULL value used to materialize a phantom max-rho register under a
    # NULL bucket; register tables must now be identical
    assert a == b
    assert not any(bkt is None for bkt, _ in b)


def test_allocate_budget_zero_mass(spark):
    zero = spark.createDataFrame([("a", 0), ("b", 0)], "g string, n long")
    # budget 0 over zero mass: all-zero allocations, invariant holds
    got = {
        r["g"]: r["alloc"]
        for r in allocate_budget(zero, ["g"], "n", budget=0).collect()
    }
    assert got == {"a": 0, "b": 0}
    # positive budget over zero mass: raises instead of NULLing the
    # conservation invariant away
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception) as ei:
        allocate_budget(zero, ["g"], "n", budget=5).collect()
    assert "zero-mass" in str(ei.value)
    # the empty frame is zero mass too: no group row exists to carry the
    # check, so it must fire on the one-row total
    empty = spark.createDataFrame([], "g string, n long")
    assert allocate_budget(empty, ["g"], "n", budget=0).collect() == []
    with pytest.raises(Exception) as ei:
        allocate_budget(empty, ["g"], "n", budget=5).collect()
    assert "zero-mass" in str(ei.value)


def test_allocate_budget_unchanged_on_positive_mass(spark):
    counts = spark.createDataFrame(
        [("a", 3), ("b", 1), ("c", 0)], "g string, n long"
    )
    got = {
        r["g"]: r["alloc"]
        for r in allocate_budget(counts, ["g"], "n", budget=10).collect()
    }
    assert sum(got.values()) == 10
    assert got["a"] == 8 and got["b"] == 2 and got["c"] == 0


def test_walks_hash_no_overflow_for_huge_ids(spark):
    from omop2owl_vocab_spark.operators.graph import deterministic_walks

    big = 5_000_000_000  # above the ~3.47e9 overflow line of the raw product
    edges = spark.createDataFrame(
        [(big, big + 1), (big + 1, big + 2), (big + 2, big)],
        "src long, dst long",
    )
    rows = deterministic_walks(edges, length=3).collect()
    # under ansi.enabled=true the unreduced product raised ARITHMETIC_OVERFLOW
    assert len(rows) == 3
    for r in rows:
        assert len(r["path"].split(">")) == 4


def test_ann_topk_broadcast_gate(spark):
    """r5 verdict #5: the query-side broadcast must be gateable for the
    corpus-vs-corpus regime.  Both regimes return identical rows; only
    the plan differs (hint present/absent)."""
    from omop2owl_vocab_spark.operators.similarity import ann_topk_bucketed

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + d) % 5) - 2.0 for d in range(8)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    q = emb.filter("vec_id < 6")
    on = ann_topk_bucketed(emb, q, k=3, n_bits=4, dim=8)
    off = ann_topk_bucketed(emb, q, k=3, n_bits=4, dim=8, broadcast_queries=False)
    assert sorted(map(tuple, on.collect())) == sorted(map(tuple, off.collect()))
    plan_on = on._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_on or "BroadcastExchange" in plan_on

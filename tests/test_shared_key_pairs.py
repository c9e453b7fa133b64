"""The shared-key pair join behind the dedup and graph pair finders:
`_materialize` skips frames that are already checkpointed, and the
block-purging cap keeps a key with exactly ``cap`` rows and drops one
with ``cap + 1``, for every operator that exposes the cap."""

import pytest

from omop2owl_vocab_spark.operators import dedup as D
from omop2owl_vocab_spark.operators.graph import cooccurrence_pairs

CAP = 3
KEPT = [1, 2, 3]  # CAP rows on one key
DROPPED = [11, 12, 13, 14]  # CAP + 1 rows on another key


def test_materialize_skips_checkpointed_frame(spark):
    fresh = spark.range(5)
    m = D._materialize(fresh)
    assert m is not fresh
    assert m._jdf.queryExecution().analyzed().nodeName() == "LogicalRDD"
    assert D._materialize(m) is m
    # anything applied on top is a new plan and is checkpointed again
    derived = m.filter("id > 1")
    assert D._materialize(derived) is not derived


def _lsh(spark):
    # one band over a 2-hash signature: equal signatures share a bucket
    sigs = [(i, [7, 7]) for i in KEPT] + [(i, [9, 9]) for i in DROPPED]
    df = spark.createDataFrame(sigs, "id long, sig array<bigint>")
    return D.lsh_candidate_pairs(df, bands=1, max_bucket_size=CAP)


def _winnow(spark):
    fps = [(i, "x") for i in KEPT] + [(i, "y") for i in DROPPED]
    df = spark.createDataFrame(fps, "id long, fp string")
    return D.winnow_near_duplicates(df, min_shared=1, max_postings=CAP)


def _cooccurrence(spark):
    rows = [(1, i) for i in KEPT] + [(2, i) for i in DROPPED]
    df = spark.createDataFrame(rows, "basket long, item long")
    return cooccurrence_pairs(
        df, "basket", "item", min_count=1, max_basket_size=CAP
    )


@pytest.mark.parametrize(
    "pairs", [_lsh, _winnow, _cooccurrence], ids=lambda f: f.__name__[1:]
)
def test_cap_keeps_cap_rows_and_drops_cap_plus_one(spark, pairs):
    got = {(r[0], r[1]) for r in pairs(spark).collect()}
    assert got == {(1, 2), (1, 3), (2, 3)}

"""tools/check_oracle.py: per-call job counts, and the vector family's
driver queries hash-exact against their DuckDB oracles."""

import pytest

from tools import check_oracle

SIM_QUERIES = [
    "sim_cosine_topk",
    "sim_ann_bucketed",
    "sim_ivf_topk",
    "sim_near_dup_lsh",
    "sim_near_dup_exact",
    "sim_norms",
    "sim_recall",
]


@pytest.fixture
def restore_conf(spark):
    """check_oracle's get_spark reuses the test session and applies the
    package defaults to it; put the session's runtime SQL conf back (the
    rest cannot change in a running session)."""
    before = dict(spark.conf.getAll)
    yield
    for k, v in spark.conf.getAll.items():
        if v == before.get(k) or not spark.conf.isModifiable(k):
            continue
        if k in before:
            spark.conf.set(k, before[k])
        else:
            spark.conf.unset(k)


def test_run_counted_counts_only_its_own_jobs(spark):
    def run():
        return spark.range(10).collect()

    _, first = check_oracle._run_counted(spark, "same-name", run)
    _, second = check_oracle._run_counted(spark, "same-name", run)
    assert first >= 1
    assert second == first


def test_vector_queries_hash_exact_at_sf0001(spark, restore_conf):
    assert check_oracle.main(
        sf_dir="/root/testdata/sf0.001", only=SIM_QUERIES
    ) == 0

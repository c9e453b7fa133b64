"""tools/check_oracle.py: per-call job counts, and the vector family's
driver queries hash-exact against their DuckDB oracles."""

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


def test_run_counted_counts_only_its_own_jobs(spark):
    def run():
        return spark.range(10).collect()

    _, first = check_oracle._run_counted(spark, "same-name", run)
    _, second = check_oracle._run_counted(spark, "same-name", run)
    assert first >= 1
    assert second == first


def test_vector_queries_hash_exact_at_sf0001(spark):
    assert check_oracle.main(
        sf_dir="/root/testdata/sf0.001", only=SIM_QUERIES
    ) == 0

"""SparkSession factory.

Arrow on (vectorized pandas-UDF transfer), AQE on (runtime partition
coalescing + skew-join splitting), explicit shuffle-partition count.
Designed so the same builder works on a real multi-executor cluster
(``spark-submit --py-files``) and on local[N] in the sandbox.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Tuned for the sandbox (local[32], 128 GiB). On a 1000-executor cluster
# these are overridden by spark-submit conf; AQE re-coalesces at runtime
# so an over-provisioned shuffle.partitions is safe at any scale.
_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    # pin ANSI explicitly: Spark 4 flipped the default, and silent
    # version-dependent null-vs-throw semantics are worse than either choice
    "spark.sql.ansi.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE's post-shuffle coalescing target.  The upstream default (64m)
    # is sized for shuffle-bound byte streams; the engine's verify/join
    # stages are COMPUTE-dense per byte (candidate pairs are ~16 B/row
    # but expand into array intersections / Levenshtein / hash work
    # downstream), and at 64m AQE collapses them to 1-2 partitions,
    # serializing the stage (measured: the dd_prefix_join verify ran on
    # 2 of 32 cores).  8m keeps small-byte/heavy-CPU stages parallel
    # while large shuffles are untouched (they already exceed the
    # advisory per initial partition, so nothing coalesces).  Bytes-
    # based, so the setting is scale-adaptive rather than tuned to one
    # host; override for pure-ETL byte-bound clusters via env (guide
    # §2.2 recommends 100 MB-1 GB partitions there).
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": os.environ.get(
        "SPARK_GRAFT_ADVISORY_PARTITION", "8m"
    ),
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": "128m",
    # triple tables are tall+narrow; bigger record batches amortize Arrow overhead
    "spark.sql.execution.arrow.maxRecordsPerBatch": "100000",
    # Optimizer-inference toggle, OFF for this engine's workload: the
    # iterative operators (connected components, DAG layering, PageRank,
    # BFS/LPA/k-core rounds) re-join a state frame materialized by
    # `fixpoint.materialize` (a local or reliable checkpoint) against a
    # static edge list every round, and LogicalRDD PRESERVES the origin
    # plan's constraints across the checkpoint, so
    # InferFiltersFromConstraints compounds the join-inferred predicate
    # round over round — measured: the kg_dag_levels scan filter reached
    # 112 KB of nested (div/mod) conjuncts by round 4 and per-round time
    # DOUBLED (0.9 → 11.2 s by round 5); with propagation off rounds are
    # flat at 0.35 s.  Semantics-neutral (constraints only feed inferred
    # filters/plan pruning); explicit isnotnull/range predicates in the
    # operators are unaffected.
    "spark.sql.constraintPropagation.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Throughput collector for the batch workload: on the sandbox microVM,
    # G1's background GC threads burn ~30% kernel time in
    # virtualized-timer VMEXITs (BENCH.md round-3 fleet forensics) —
    # interleaved A/B at local[32]/4M rows averages ParallelGC ~20%
    # faster (best 62.8 s vs G1's 88.6 s).  Driver-only: on a real
    # cluster executor JVMs are unaffected and spark-submit conf
    # overrides this as usual.
    "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
}


def get_spark(
    app_name: str = "omop2owl-vocab-spark",
    master: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox; on a
    cluster leave it unset and let spark-submit supply it.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "spark.master" not in os.environ.get(
        "SPARK_SUBMIT_OPTS", ""
    ) and not os.environ.get("SPARK_MASTER_SET"):
        # sandbox default; under spark-submit the master comes from the
        # launcher conf, so only force local[] when clearly not submitted
        if os.environ.get("SPARK_ENV_LOADED") or os.environ.get("SPARK_CONF_DIR"):
            master = None
        else:
            cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
            master = f"local[{cpus}]"
    if master is not None:
        builder = builder.master(master)
    conf = dict(_DEFAULTS)
    # env override for GC/JVM experiments (e.g. -XX:+UseSerialGC) — merged
    # AFTER the defaults so it actually wins (builder.config is
    # last-write-wins; setting it before the defaults loop would be a
    # silent no-op), but BELOW extra_conf (explicit code beats env)
    java_opts = os.environ.get("SPARK_GRAFT_JAVA_OPTS")
    if java_opts:
        conf["spark.driver.extraJavaOptions"] = java_opts
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

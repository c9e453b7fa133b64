"""SparkSession factory.

One session policy, highest first: the caller's ``extra_conf``, then the
launcher's conf (``spark-submit --conf``, ``spark-defaults.conf``), then
``_DEFAULTS``.  ``_DEFAULTS`` seed a session only when ``get_spark``
creates it: a call that reuses the live session leaves its conf as it is.
The same builder works on a cluster (``spark-submit --py-files``) and on
``local[N]`` under plain ``python``.
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

# Each entry applies only where neither the caller nor the launcher sets
# the key.  Apart from the two semantic pins, every entry differs from
# Spark 4.1.2's own default (tests/test_session.py) and cites why;
# timings are from a 4-core host at local[4].
_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    # pin ANSI explicitly: Spark 4 flipped the default, and silent
    # version-dependent null-vs-throw semantics are worse than either choice
    "spark.sql.ansi.enabled": "true",
    # pandas <-> Spark conversion through Arrow: the property test
    # tests/test_property_emission.py ran 27 vs 58 s without it (3 of 3
    # alternating runs)
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # A/B vs 200 (5 interleaved kgbench pairs, seed 3, wall_s medians):
    # operators 32.2 vs 43.2 s, faster in 5 of 5 pairs (its graph queries
    # run ~100 small stages); pipeline_cold 23.3 vs 24.0 s
    "spark.sql.shuffle.partitions": "32",
    # A/B vs 10000 on the pandas-UDF queries (bench_extra.py, sf0.1, 5
    # alternating pairs of per-query medians): q_lis 3.53 vs 3.83 s,
    # dd_simhash 7.20 vs 7.43 s, mm_features 0.48 vs 0.55 s, mm_frames
    # 2.35 vs 2.37 s; the four summed were faster in 4 of 5 pairs
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
    # deployment setting: the driver JVM holds every local[N] executor
    "spark.driver.memory": "8g",
    # vs 10m: tools/check_oracle.py runs kg_connected_components in 19 vs
    # 21 jobs at sf0.01, and five more graph queries 1-2 jobs shorter at
    # sf0.001 (joins the planner broadcasts up front instead of AQE
    # converting them after their shuffle stages ran); kgbench (5 pairs,
    # seed 3) pipeline_cold 23.3 vs 25.3 s, operators 32.2 vs 36.8 s
    "spark.sql.autoBroadcastJoinThreshold": "64m",
}


def _launcher_conf() -> dict[str, str] | None:
    """The conf spark-submit started this driver's JVM with, or None under
    plain ``python``, which launches its own JVM from the builder."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return None
    # the gateway already exists; SparkConf() then reads the JVM's spark.*
    # system properties, which spark-submit set from --conf and defaults
    SparkContext._ensure_initialized()
    return dict(SparkConf().getAll())


def get_spark(
    app_name: str = "omop2owl-vocab-spark",
    master: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` under plain
    ``python``; under spark-submit leave it unset and the launcher's
    master stands.  ``extra_conf`` applies to a reused session too.
    """
    builder = SparkSession.builder.appName(app_name)
    launcher = _launcher_conf()
    if master is None and launcher is None:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    if master is not None:
        builder = builder.master(master)
    # getOrCreate applies every builder option to a live session's
    # runtime conf, so the defaults would re-tune a session in use
    live = SparkSession._instantiatedSession
    if live is None or live._sc._jsc is None:
        conf = {k: v for k, v in _DEFAULTS.items() if k not in (launcher or {})}
    else:
        conf = {}
    conf.update(extra_conf or {})
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

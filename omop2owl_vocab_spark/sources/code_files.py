"""Grafted primary source: ``code_files(repo, path, commit, lang, content)``.

Production target is an Iceberg table (partition pruning on ``lang``,
snapshot isolation for the checkpoint/resume contract); the sandbox has no
Iceberg runtime jars, so we probe once per session and fall back to parquet
with identical semantics.  Capability probe, not import-time failure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from omop2owl_vocab_spark.schemas import CODE_FILES_SCHEMA

_ICEBERG_PROBED: dict[str, bool] = {}


def iceberg_available(spark: SparkSession) -> bool:
    key = spark.sparkContext.applicationId
    if key not in _ICEBERG_PROBED:
        try:
            spark._jvm.java.lang.Class.forName(
                "org.apache.iceberg.spark.source.IcebergSource"
            )
            _ICEBERG_PROBED[key] = True
        except Exception:
            _ICEBERG_PROBED[key] = False
    return _ICEBERG_PROBED[key]


def read_code_files(spark: SparkSession, location: str) -> DataFrame:
    """Read the source table.

    ``location`` is either an Iceberg table identifier (``cat.db.code_files``)
    or a parquet path.  Column pruning + predicate pushdown reach the scan in
    both cases; with Iceberg, ``lang`` filters additionally partition-prune.
    """
    if "/" not in location and iceberg_available(spark):
        return spark.read.format("iceberg").load(location)
    return spark.read.schema(CODE_FILES_SCHEMA).parquet(location)

"""S6/C1-C3 — checkpoint/resume manager with per-partition lineage metrics.

Spark-native replacement for the reference's md5-keyed pickle cache
(``omop2owl_vocab.py:366-376,423-425``) and artifact-existence memoization
(``:453-455,201,239,269``): each stage writes a parquet directory named by
the stage and a config hash; a ``_metrics.json`` records row counts,
per-partition (vocabulary) lineage, and wall time.  Resume = skip stages
whose checkpoint validates (``_SUCCESS`` + matching config hash).

Atomicity: parquet's ``_SUCCESS`` marker plays the role of the reference's
delete-partials-on-exception hygiene (C5) — a failed write leaves no
marker, so the stage re-runs.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def config_hash(config: dict) -> str:
    payload = json.dumps(config, sort_keys=True, default=str)
    return hashlib.md5(payload.encode("utf-8")).hexdigest()[:16]


def _counted(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with its row count observed: writing it fills
    ``obs.get["rows"]`` in the write job itself, so no re-read count."""
    obs = Observation()
    return df.observe(obs, F.count("*").alias("rows")), obs


class CheckpointManager:
    def __init__(self, root: str, config: dict):
        self.root = root
        self.hash = config_hash(config)
        os.makedirs(root, exist_ok=True)

    def stage_dir(self, stage: str) -> str:
        return os.path.join(self.root, f"{stage}-{self.hash}")

    def _metrics_path(self, stage: str) -> str:
        return os.path.join(self.stage_dir(stage), "_metrics.json")

    def has(self, stage: str) -> bool:
        d = self.stage_dir(stage)
        return os.path.exists(os.path.join(d, "_SUCCESS")) and os.path.exists(
            self._metrics_path(stage)
        )

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        return spark.read.parquet(self.stage_dir(stage))

    def metrics(self, stage: str) -> dict:
        with open(self._metrics_path(stage)) as f:
            return json.load(f)

    def write(
        self,
        stage: str,
        df: DataFrame,
        lineage_col: str | None = None,
    ) -> DataFrame:
        """Materialize a stage and return the re-read frame (truncates
        lineage like the reference's pickle round-trip, but distributed).

        ``lineage_col``: low-cardinality column (vocabulary_id / lang /
        relationship type) whose per-value row counts are the stage's
        per-partition lineage record.
        """
        t0 = time.monotonic()
        d = self.stage_dir(stage)
        counted, obs = _counted(df)
        counted.write.mode("overwrite").parquet(d)
        wall = time.monotonic() - t0
        out = df.sparkSession.read.parquet(d)
        self._write_metrics(stage, out, wall, obs.get["rows"], lineage_col)
        return out

    def _write_metrics(
        self,
        stage: str,
        out: DataFrame,
        wall: float,
        rows: int,
        lineage_col: str | None,
        extra: dict | None = None,
    ) -> None:
        """Shared metrics contract for dir- and table-mode checkpoints:
        ``rows`` as observed on the write, plus per-value lineage in one
        groupBy over the written frame, written atomically."""
        m: dict = {
            "stage": stage,
            "config_hash": self.hash,
            "wall_sec": round(wall, 3),
            "rows": rows,
        }
        if lineage_col and lineage_col in out.columns:
            counts = (
                out.groupBy(lineage_col).agg(F.count("*").alias("n")).collect()
            )
            m["partition_lineage"] = {r[0] or "": r[1] for r in counts}
        if extra:
            m.update(extra)
        p = self._metrics_path(stage)
        with open(p + ".tmp", "w") as f:
            json.dump(m, f, indent=1, sort_keys=True)
        os.replace(p + ".tmp", p)

    def get_or_compute(
        self,
        spark: SparkSession,
        stage: str,
        compute,
        lineage_col: str | None = None,
        resume: bool = True,
        bucket_col: str | None = None,
        bucket_count: int = 0,
    ) -> tuple[DataFrame, bool]:
        """(frame, was_cached). ``compute`` is a thunk returning a DataFrame.

        With ``bucket_col``/``bucket_count`` the stage materializes as a
        BUCKETED parquet table (hash-clustered + sorted on the join key), so
        downstream equi-joins between equally-bucketed stages are
        co-located — zero shuffle (the local analog of Iceberg
        storage-partitioned joins at 10^12-row scale, where neither join
        side can broadcast)."""
        if bucket_col and bucket_count > 0:
            if resume and self.has(stage):
                return self.read_table(spark, stage), True
            return (
                self.write_table(
                    stage, compute(), bucket_col, bucket_count,
                    lineage_col=lineage_col,
                ),
                False,
            )
        if resume and self.has(stage):
            return self.read(spark, stage), True
        return self.write(stage, compute(), lineage_col=lineage_col), False

    # ---------------------------------------------- bucketed-table mode

    def _table_name(self, stage: str) -> str:
        return f"ckpt_{stage}_{self.hash}"

    def write_table(
        self,
        stage: str,
        df: DataFrame,
        bucket_col: str,
        bucket_count: int,
        lineage_col: str | None = None,
    ) -> DataFrame:
        spark = df.sparkSession
        name = self._table_name(stage)
        d = self.stage_dir(stage)
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        t0 = time.monotonic()
        counted, obs = _counted(df)
        (
            counted.write.mode("overwrite")
            .format("parquet")
            .bucketBy(bucket_count, bucket_col)
            .sortBy(bucket_col)
            .option("path", d)
            .saveAsTable(name)
        )
        wall = time.monotonic() - t0
        out = spark.table(name)
        self._write_metrics(
            stage, out, wall, obs.get["rows"], lineage_col,
            extra={
                "bucket_col": bucket_col,
                "bucket_count": bucket_count,
                "schema_ddl": ", ".join(
                    f"`{f.name}` {f.dataType.simpleString()}"
                    for f in out.schema
                ),
            },
        )
        return out

    def _table_location(self, spark: SparkSession, name: str) -> str | None:
        for row in spark.sql(f"DESCRIBE FORMATTED {name}").collect():
            if row[0] and row[0].strip() == "Location":
                return row[1].strip()
        return None

    def read_table(self, spark: SparkSession, stage: str) -> DataFrame:
        """Resume path: re-register the external bucketed table if this is
        a fresh session (the catalog is in-memory; the data + metrics on
        disk are the durable record).

        A same-named catalog entry left by a previous run at a DIFFERENT
        location (table names hash config, not output_dir) is dropped and
        re-registered — trusting it would read another run's directory.
        """
        name = self._table_name(stage)
        expected = os.path.realpath(self.stage_dir(stage))
        if spark.catalog.tableExists(name):
            loc = self._table_location(spark, name)
            if loc is not None:
                loc_path = os.path.realpath(loc.removeprefix("file:"))
                if loc_path != expected:
                    spark.sql(f"DROP TABLE IF EXISTS {name}")
        if not spark.catalog.tableExists(name):
            m = self.metrics(stage)
            spark.sql(
                f"CREATE TABLE {name} ({m['schema_ddl']}) USING PARQUET "
                f"CLUSTERED BY (`{m['bucket_col']}`) "
                f"SORTED BY (`{m['bucket_col']}`) "
                f"INTO {m['bucket_count']} BUCKETS "
                f"LOCATION '{self.stage_dir(stage)}'"
            )
        return spark.table(name)

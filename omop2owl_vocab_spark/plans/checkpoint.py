"""S6/C1-C3 — checkpoint/resume manager with per-partition lineage metrics.

Spark-native replacement for the reference's md5-keyed pickle cache
(``omop2owl_vocab.py:366-376,423-425``) and artifact-existence memoization
(``:453-455,201,239,269``): each stage writes a parquet directory named by
the stage and a config hash; a ``_metrics.json`` records row counts,
per-partition (vocabulary) lineage, and wall time.  Resume = skip stages
whose checkpoint validates (``_SUCCESS`` + matching config hash).

One layout for every stage: a plain parquet directory, no catalog table.
Bucketed s1 checkpoints (hash-clustered on the emission join keys) were
measured slower end to end at 400k and 4M rows on a 4-core host — the two
bucketed s1 writes cost more than the shuffle they saved in s3 — so the
emission join is a broadcast or sort-merge join on raw columns.

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

        The metrics record holds ``rows`` as observed in the write job itself
        (no re-read count) and, with ``lineage_col`` (a low-cardinality
        column: vocabulary_id / lang / relationship type), the per-value row
        counts of one groupBy over the written frame — the stage's
        per-partition lineage.  It is written atomically.
        """
        t0 = time.monotonic()
        d = self.stage_dir(stage)
        obs = Observation()
        counted = df.observe(obs, F.count("*").alias("rows"))
        counted.write.mode("overwrite").parquet(d)
        m: dict = {
            "stage": stage,
            "config_hash": self.hash,
            "wall_sec": round(time.monotonic() - t0, 3),
            "rows": obs.get["rows"],
        }
        out = df.sparkSession.read.parquet(d)
        if lineage_col and lineage_col in out.columns:
            counts = (
                out.groupBy(lineage_col).agg(F.count("*").alias("n")).collect()
            )
            m["partition_lineage"] = {r[0] or "": r[1] for r in counts}
        p = self._metrics_path(stage)
        with open(p + ".tmp", "w") as f:
            json.dump(m, f, indent=1, sort_keys=True)
        os.replace(p + ".tmp", p)
        return out

    def get_or_compute(
        self,
        spark: SparkSession,
        stage: str,
        compute,
        lineage_col: str | None = None,
        resume: bool = True,
    ) -> tuple[DataFrame, bool]:
        """(frame, was_cached). ``compute`` is a thunk returning a DataFrame;
        it runs only when the stage has no valid checkpoint (or ``resume``
        is off), and its result is materialized as a plain parquet
        directory by :meth:`write`."""
        if resume and self.has(stage):
            return self.read(spark, stage), True
        return self.write(stage, compute(), lineage_col=lineage_col), False

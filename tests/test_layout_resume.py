"""Output layout (salting) and failure-recovery checks."""

import glob
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from omop2owl_vocab_spark.plans import pipeline
from omop2owl_vocab_spark.plans.checkpoint import CheckpointManager
from omop2owl_vocab_spark.plans.pipeline import PipelineConfig, run_pipeline
from omop2owl_vocab_spark.sources.synth import synth_code_files


def test_compact_output_salting(spark, tmp_path, monkeypatch):
    src = str(tmp_path / "cf")
    out = str(tmp_path / "out")
    synth_code_files(spark, 2000).write.parquet(src)
    # scale the bucket floor down with the corpus: 2000 rows make ~10k
    # python triples, far below the 312,500-row floor
    monkeypatch.setattr(pipeline, "MIN_BUCKET_ROWS", 1000)
    run_pipeline(
        spark, PipelineConfig(source=src, output_dir=out, compact_output=True)
    )
    py_files = glob.glob(f"{out}/triples/vocabulary_id=python/*.parquet")
    small = glob.glob(f"{out}/triples/vocabulary_id=c/*.parquet")
    # at local[4] the python vocab (~55% of rows) gets ceil(0.55 * 16) salt
    # buckets and spreads over several files; the ~5% c vocab, under the
    # floor, gets one
    assert len(py_files) > 1
    assert len(small) <= 2
    n = spark.read.parquet(f"{out}/triples").count()
    assert n > 0


def test_bucket_count_bounded_by_rows_not_parallelism(spark):
    """A small output stays one task per vocab however large the default
    parallelism; a giant vocab gets its share of P, capped by its rows."""
    df = spark.createDataFrame(
        [("python", "s1"), ("c", "s2")], "vocabulary_id string, subj string"
    )
    small = {"python": 1_100, "c": 900}
    assert pipeline._salted_repartition(df, small, 200).rdd.getNumPartitions() == 2
    big = {"python": 8_100_000, "c": 900_000}
    # P=4 (16 bucket slots): python min(ceil(14.4), 25) = 15,
    # c min(ceil(1.6), 2) = 2
    assert pipeline._salted_repartition(df, big, 4).rdd.getNumPartitions() == 17
    # P=200: python min(720, 25) = 25, c min(80, 2) = 2
    assert pipeline._salted_repartition(df, big, 200).rdd.getNumPartitions() == 27


def test_interrupted_final_write_recovers(spark, tmp_path):
    src = str(tmp_path / "cf")
    out = str(tmp_path / "out")
    synth_code_files(spark, 500).write.parquet(src)
    cfg = PipelineConfig(source=src, output_dir=out)
    run_pipeline(spark, cfg)
    n1 = spark.read.parquet(f"{out}/triples").count()

    # simulate a crash mid-write: _SUCCESS missing → rerun must rewrite
    os.remove(f"{out}/triples/_SUCCESS")
    report = run_pipeline(spark, cfg)
    assert report["stages"]["s6_write"] == {"cached": False}
    # earlier stages still resume from their checkpoints
    assert report["stages"]["s3_triples_raw"] == {"cached": True}
    assert spark.read.parquet(f"{out}/triples").count() == n1

    # intact output + matching manifest → whole-run memo hit
    report2 = run_pipeline(spark, cfg)
    assert report2["stages"]["s6_write"] == {"cached": True}


def test_iceberg_probe_graceful(spark):
    from omop2owl_vocab_spark.sources.code_files import iceberg_available

    assert iceberg_available(spark) in (True, False)  # no raise either way


def test_relayout_reuses_upstream_checkpoints(spark, tmp_path):
    """Layout-only knobs must not invalidate upstream stages (per-stage
    cache keys): rerunning with compact_output=True reuses s1/s3/s4."""
    src = str(tmp_path / "cf")
    out = str(tmp_path / "out")
    synth_code_files(spark, 500).write.parquet(src)
    run_pipeline(spark, PipelineConfig(source=src, output_dir=out))
    report = run_pipeline(
        spark,
        PipelineConfig(source=src, output_dir=out, compact_output=True),
    )
    assert report["stages"]["s3_triples_raw"] == {"cached": True}
    assert report["stages"]["s4_canon_map"] == {"cached": True}
    assert report["stages"]["s6_write"] == {"cached": False}


def test_checkpoint_rows_ride_the_write(spark, tmp_path, monkeypatch):
    """A stage's ``rows`` is observed on its write: no count() job over
    the re-read frame, with or without lineage."""
    ckpt = CheckpointManager(str(tmp_path / "ckpt"), {"t": 1})
    df = spark.range(37).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("v")
    )

    def boom(*_a, **_k):
        raise AssertionError("count() in a checkpoint write")

    monkeypatch.setattr(DataFrame, "count", boom)
    ckpt.write("plain", df)
    ckpt.write("lineage", df, lineage_col="v")
    assert [ckpt.metrics(s)["rows"] for s in ("plain", "lineage")] == [37, 37]
    assert "partition_lineage" not in ckpt.metrics("plain")
    lineage = ckpt.metrics("lineage")["partition_lineage"]
    assert lineage == {"0": 13, "1": 12, "2": 12}

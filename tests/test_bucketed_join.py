"""Bucketed-checkpoint mode: the emission membership join must be
co-located (zero hash exchanges) and produce identical triples.  In
both checkpoint modes the recorded row count rides the write."""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from omop2owl_vocab_spark.operators.emit import resolve_edges
from omop2owl_vocab_spark.plans.checkpoint import CheckpointManager
from omop2owl_vocab_spark.plans.derive import derive_concepts, derive_edges
from omop2owl_vocab_spark.plans.pipeline import PipelineConfig, run_pipeline
from omop2owl_vocab_spark.sources.synth import synth_code_files


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    cf = synth_code_files(spark, 5000)
    ckpt = CheckpointManager(str(tmp_path / "ckpt"), {"t": 1})
    concepts, _ = ckpt.get_or_compute(
        spark, "c", lambda: derive_concepts(cf),
        bucket_col="concept_id", bucket_count=8,
    )
    edges, _ = ckpt.get_or_compute(
        spark, "e", lambda: derive_edges(concepts),
        bucket_col="concept_id_1", bucket_count=8,
    )
    resolved = resolve_edges(edges, concepts, ["ALL"])
    # forbid broadcast so the plan shows what happens when neither side fits
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = resolved._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # the forward membership join must be bucket-co-located: no shuffle on
    # either concept_id_1 or concept_id
    assert "Exchange hashpartitioning(concept_id_1" not in plan, plan
    assert "Exchange hashpartitioning(concept_id#" not in plan, plan
    assert "Bucketed: true" in plan


def test_bucketed_pipeline_matches_unbucketed(spark, tmp_path):
    src = str(tmp_path / "cf")
    synth_code_files(spark, 2000).write.parquet(src)
    out_a = str(tmp_path / "plain")
    out_b = str(tmp_path / "bucketed")
    run_pipeline(spark, PipelineConfig(source=src, output_dir=out_a))
    run_pipeline(
        spark, PipelineConfig(source=src, output_dir=out_b, bucket_count=8)
    )
    a = spark.read.parquet(f"{out_a}/triples").select("subj", "pred", "obj")
    b = spark.read.parquet(f"{out_b}/triples").select("subj", "pred", "obj")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0

    # resume path re-registers the external bucketed tables
    report = run_pipeline(
        spark, PipelineConfig(source=src, output_dir=out_b, bucket_count=8)
    )
    cached = {
        k: v.get("cached")
        for k, v in report["stages"].items()
        if isinstance(v, dict) and "cached" in v
    }
    assert all(cached.values()), cached


def test_bucketed_resume_fresh_catalog(spark, tmp_path):
    """Simulate a new session's empty catalog: drop the tables, resume must
    re-register from the metrics DDL."""
    src = str(tmp_path / "cf")
    synth_code_files(spark, 1000).write.parquet(src)
    out = str(tmp_path / "o")
    import os

    cfg = PipelineConfig(source=src, output_dir=out, bucket_count=4)
    run_pipeline(spark, cfg)
    for t in spark.catalog.listTables():
        if t.name.startswith("ckpt_s1"):
            spark.sql(f"DROP TABLE {t.name}")

    # intact final artifact → the whole-run memo short-circuits everything
    report = run_pipeline(spark, cfg)
    assert report["stages"] == {"s6_write": {"cached": True}}

    # invalidate the final artifact: stages resume from the bucketed
    # checkpoints, re-registering the dropped tables from the metrics DDL
    os.remove(f"{out}/triples/_SUCCESS")
    report2 = run_pipeline(spark, cfg)
    assert report2["stages"]["s3_triples_raw"] == {"cached": True}
    assert report2["stages"]["s6_write"] == {"cached": False}


def test_checkpoint_rows_ride_the_write(spark, tmp_path, monkeypatch):
    """A stage's ``rows`` is observed on its write: no count() job over
    the re-read frame, in dir or table mode, with or without lineage."""
    ckpt = CheckpointManager(str(tmp_path / "ckpt"), {"t": 1})
    df = spark.range(37).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("v")
    )

    def boom(*_a, **_k):
        raise AssertionError("count() in a checkpoint write")

    monkeypatch.setattr(DataFrame, "count", boom)
    ckpt.write("plain", df)
    ckpt.write_table("bucketed", df, "k", 4)
    ckpt.write("lineage", df, lineage_col="v")
    stages = ("plain", "bucketed", "lineage")
    assert [ckpt.metrics(s)["rows"] for s in stages] == [37, 37, 37]
    lineage = ckpt.metrics("lineage")["partition_lineage"]
    assert lineage == {"0": 13, "1": 12, "2": 12}

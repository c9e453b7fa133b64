"""Regression tests for the round-1 code-review findings (all were
confirmed failure modes under Spark 4 ANSI semantics or at-scale inputs)."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from omop2owl_vocab_spark.operators import dedup as D
from omop2owl_vocab_spark.operators import similarity as S
from omop2owl_vocab_spark.operators.emit import emit_concept_triples
from omop2owl_vocab_spark.plans.derive import derive_concepts, derive_edges
from omop2owl_vocab_spark.schemas import CODE_FILES_SCHEMA


def test_root_level_paths_do_not_crash_derive(spark):
    rows = [
        Row(repo="r1", path="README.md", commit="c1", lang="md",
            content="hello"),
        Row(repo="r1", path="src/pkg0/mod1.py", commit="c2", lang="python",
            content="import pkg0.mod1\n"),
    ]
    cf = spark.createDataFrame(rows, CODE_FILES_SCHEMA)
    assert derive_concepts(cf).count() == 4  # 2 files + src + src/pkg0
    # must not raise under ANSI
    edges = derive_edges(derive_concepts(cf)).collect()
    assert any(e["relationship_id"] == "Is a" for e in edges)


def test_zero_norm_vectors_do_not_crash_similarity(spark):
    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0]),
        Row(vec_id=2, embedding=[0.0, 0.0]),   # zero vector (padding row)
        Row(vec_id=3, embedding=[0.9, 0.1]),
    ]
    emb = spark.createDataFrame(rows)
    topk = S.cosine_topk(emb, emb.filter(F.col("vec_id") == 1), k=5).collect()
    assert {r["neighbor_id"] for r in topk} == {3}  # zero vec excluded
    assert S.embedding_near_duplicates(emb, threshold=0.5, dim=2).count() >= 0
    assert (
        S.ann_topk_bucketed(
            emb, emb.filter(F.col("vec_id") == 1), k=5, dim=2
        ).count()
        >= 0
    )


def test_short_docs_produce_no_shingles(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="hello world"),        # 2 tokens < n=3
            Row(doc_id=2, text="hello world"),
            Row(doc_id=3, text="one two three four"),
        ]
    )
    sh = D.word_shingles(docs, 3)
    assert {r["id"] for r in sh.collect()} == {3}
    # two identical 2-word docs are NOT a jaccard near-dup pair (they have
    # no shingles) — matches the DuckDB oracle's len(toks) >= 3 guard
    assert D.jaccard_pairs(sh, threshold=0.5).count() == 0


def test_null_lang_maps_to_metadata_partition(spark):
    rows = [
        Row(repo="r", path="a/b.py", commit="c", lang=None, content="x"),
    ]
    cf = spark.createDataFrame(rows, CODE_FILES_SCHEMA)
    triples = emit_concept_triples(derive_concepts(cf))
    vocabs = {r[0] for r in triples.select("vocabulary_id").distinct().collect()}
    assert vocabs == {"Metadata"}  # no NULL partition values escape


def test_jaccard_candidate_pruning_semantics(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c d e"),
            Row(doc_id=2, text="a b c d f"),
            Row(doc_id=3, text="a b c g h"),
        ]
    )
    sh = D.word_shingles(docs, 3)
    cand = spark.createDataFrame([Row(id_a=1, id_b=2)])
    got = D.jaccard_pairs(sh, threshold=0.1, candidates=cand).collect()
    assert {(r["id_a"], r["id_b"]) for r in got} == {(1, 2)}


def test_semsql_partial_file_removed_on_bound(spark, tmp_path):
    from omop2owl_vocab_spark.operators.semsql import write_semsql_sqlite

    triples = spark.createDataFrame(
        [
            Row(subj=f"OMOP:{i}", pred="rdf:type", obj="owl:Class",
                obj_is_literal=False, vocabulary_id="V", src_sha256="")
            for i in range(20)
        ]
    )
    path = str(tmp_path / "x.db")
    with pytest.raises(ValueError, match="bound"):
        write_semsql_sqlite(triples, path, max_rows=5)
    import os

    assert not os.path.exists(path)  # no partial artifact left behind
    assert not os.path.exists(path + ".tmp")

    # a pre-existing valid artifact must survive a failed rewrite
    write_semsql_sqlite(triples, path, max_rows=100)
    with pytest.raises(ValueError, match="bound"):
        write_semsql_sqlite(triples, path, max_rows=5)
    import sqlite3

    con = sqlite3.connect(path)
    assert con.execute("SELECT COUNT(*) FROM statements").fetchone()[0] == 20
    con.close()


def test_pipeline_survives_null_heavy_rows(spark, tmp_path):
    """code_files rows with NULL lang/content/commit must flow through the
    whole pipeline (derive→emit→link→write) without ANSI crashes, land in
    the Metadata partition, and group null-content with empty-content per
    the F1 normalization."""
    from omop2owl_vocab_spark.plans.pipeline import PipelineConfig, run_pipeline

    rows = [
        Row(repo="r", path="a/full.py", commit="c1", lang="python",
            content="import pkg0.mod0\nx = 1"),
        Row(repo="r", path="a/nulls.py", commit=None, lang=None, content=None),
        Row(repo="r", path="a/empty.py", commit="c3", lang="python", content=""),
        Row(repo="r", path=None, commit="c4", lang="go", content="y"),  # null path
    ]
    src = str(tmp_path / "cf")
    spark.createDataFrame(rows, CODE_FILES_SCHEMA).write.parquet(src)
    report = run_pipeline(
        spark,
        PipelineConfig(source=src, output_dir=str(tmp_path / "out"), resume=False),
    )
    triples = spark.read.parquet(report["output"])
    assert triples.count() > 0
    vocabs = {r[0] for r in triples.select("vocabulary_id").distinct().collect()}
    assert "Metadata" in vocabs  # NULL lang normalized, no NULL partition
    # F1: null content ≡ '' — assert the property DIRECTLY: the null-content
    # and empty-content files must hash to the same sha
    from omop2owl_vocab_spark.plans.derive import derive_file_concepts

    shamap = {
        r["concept_code"]: r["src_sha256"]
        for r in derive_file_concepts(spark.read.parquet(src)).collect()
    }
    assert shamap["a/nulls.py"] == shamap["a/empty.py"] != ""
    assert shamap["a/full.py"] != shamap["a/empty.py"]

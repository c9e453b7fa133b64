"""Documented divergences from reference bugs (SURVEY §1.4 Q1-Q3) and the
streaming ingest path."""

from pyspark.sql import Row

from omop2owl_vocab_spark.operators.emit import (
    emit_triples,
    exclude_singleton_concepts,
    resolve_edges,
)


def _concepts(spark, ids):
    rows = [
        Row(
            concept_id=i, concept_name=f"c{i}", domain_id="D",
            vocabulary_id="V", concept_class_id="K", standard_concept="S",
            concept_code=i, valid_start_date="", valid_end_date="",
            invalid_reason="",
        )
        for i in ids
    ]
    return spark.createDataFrame(rows)


def _edges(spark, triplets):
    rows = [
        Row(
            concept_id_1=a, concept_id_2=b, relationship_id=r,
            valid_start_date="", valid_end_date="", invalid_reason="",
        )
        for a, b, r in triplets
    ]
    return spark.createDataFrame(rows)


def test_q2_predicate_collision_unions(spark):
    """Reference clobbers rel_maps[pred] per relationship type
    (omop2owl_vocab.py:344) so 'Is a' + 'RxNorm inverse is a' erase each
    other; we union both into rdfs:subClassOf."""
    concepts = _concepts(spark, ["1", "2", "3"])
    edges = _edges(
        spark,
        [("1", "2", "Is a"), ("3", "2", "RxNorm inverse is a")],
    )
    sc = {
        (r["subj"], r["obj"])
        for r in emit_triples(concepts, edges, ["ALL"])
        .filter("pred = 'rdfs:subClassOf'")
        .collect()
    }
    # forward edge 1→2 plus REVERSED 2→3 (swap, omop2owl_vocab.py:353-354)
    assert sc == {("OMOP:1", "OMOP:2"), ("OMOP:2", "OMOP:3")}


def test_reverse_edge_requires_both_endpoints(spark):
    """Post-swap subject must be a concept row (template loop iterates
    concept_df); forward objects may dangle (R7 asymmetry)."""
    concepts = _concepts(spark, ["1"])
    edges = _edges(
        spark,
        [
            ("1", "999", "Is a"),                   # dangling object: kept
            ("1", "999", "RxNorm inverse is a"),    # post-swap subj 999: dropped
            ("999", "1", "RxNorm inverse is a"),    # pre-swap subj 999: dropped
        ],
    )
    got = {
        (r["subject"], r["object"])
        for r in resolve_edges(edges, concepts, ["ALL"]).collect()
    }
    assert got == {("1", "999")}


def test_q1_singleton_polarity_both_modes(spark):
    concepts = _concepts(spark, ["1", "2", "9"])  # 9 has no relations
    edges = _edges(spark, [("1", "2", "Is a")])
    intent = {
        r["concept_id"]
        for r in exclude_singleton_concepts(concepts, edges).collect()
    }
    assert intent == {"1", "2"}  # documented intent: drop singletons
    bug = {
        r["concept_id"]
        for r in exclude_singleton_concepts(
            concepts, edges, bug_compat=True
        ).collect()
    }
    assert bug == {"9"}  # reference behavior: KEEPS only singletons


def test_streaming_ingest(spark, tmp_path):
    from omop2owl_vocab_spark.sources.synth import synth_code_files
    from omop2owl_vocab_spark.streaming import stream_code_files_to_triples

    src = str(tmp_path / "stream_src")
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "stream_ckpt")
    synth_code_files(spark, 200).write.mode("overwrite").parquet(src)
    q = stream_code_files_to_triples(spark, src, out, ckpt, trigger_once=True)
    assert q.awaitTermination(120), "stream did not finish in time"
    triples = spark.read.parquet(out)
    # 200 file concepts, stateless emission only (no dirs/edges)
    assert triples.filter("pred = 'rdf:type'").count() == 200
    assert triples.filter("pred = 'rdfs:label'").count() == 200


def test_default_prefix_map():
    from omop2owl_vocab_spark.sources.prefixes import default_prefix_map

    assert default_prefix_map()["OMOP"].startswith("https://athena")

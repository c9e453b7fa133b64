"""K1 robot-template sink, N-Triples sink, and CLI routing."""

import glob
import json

from pyspark.sql import Row

from omop2owl_vocab_spark.operators.template import (
    to_ntriples,
    to_robot_template,
    write_robot_template_tsv,
)


def _triples(spark):
    rows = [
        Row(subj="OMOP:1", pred="rdf:type", obj="owl:Class",
            obj_is_literal=False, vocabulary_id="V", src_sha256=""),
        Row(subj="OMOP:1", pred="rdfs:label", obj='say "hi"',
            obj_is_literal=True, vocabulary_id="V", src_sha256=""),
        Row(subj="OMOP:1", pred="OMOP:domain_id", obj="Drug",
            obj_is_literal=True, vocabulary_id="V", src_sha256=""),
        Row(subj="OMOP:1", pred="rdfs:subClassOf", obj="OMOP:2",
            obj_is_literal=False, vocabulary_id="V", src_sha256=""),
        Row(subj="OMOP:1", pred="rdfs:subClassOf", obj="OMOP:3",
            obj_is_literal=False, vocabulary_id="V", src_sha256=""),
        Row(subj="OMOP:1", pred="omoprel:Maps_to", obj="OMOP:9",
            obj_is_literal=False, vocabulary_id="V", src_sha256=""),
    ]
    return spark.createDataFrame(rows)


def test_robot_template_wide_form(spark):
    wide, subheader = to_robot_template(_triples(spark))
    row = wide.collect()[0].asDict()
    assert row["ID"] == "OMOP:1"
    assert row["Type"] == "class"
    assert row["rdfs:subClassOf"] == "OMOP:2|OMOP:3"  # pipe-joined, sorted
    assert row["omoprel:Maps_to"] == "OMOP:9"
    assert subheader["rdfs:subClassOf"] == "SC % SPLIT=|"
    assert subheader["omoprel:Maps_to"] == "SC omoprel:Maps_to some % SPLIT=|"


def test_robot_template_tsv_sink(spark, tmp_path):
    out = str(tmp_path / "template")
    write_robot_template_tsv(_triples(spark), out)
    f = glob.glob(f"{out}/part-*.csv")[0]
    lines = open(f).read().splitlines()
    assert lines[0].startswith("ID\tLabel\tType")       # header
    assert lines[1].startswith("ID\tA rdfs:label\tTYPE")  # magic subheader
    assert "OMOP:2|OMOP:3" in lines[2]


def test_ntriples_rendering(spark):
    lines = {r["line"] for r in to_ntriples(_triples(spark)).collect()}
    assert (
        "<https://athena.ohdsi.org/search-terms/terms/1> "
        "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type> "
        "<http://www.w3.org/2002/07/owl#Class> ." in lines
    )
    # literal with quotes escaped
    assert any('"say \\"hi\\""' in ln for ln in lines)


def test_cli_omop_mode(spark, tmp_path):
    from omop2owl_vocab_spark.cli import cli_parser, route_and_run

    concept = sorted(glob.glob("/root/reference/test/input/*/concept.csv"))[0]
    rel = concept.replace("concept.csv", "concept_relationship.csv")
    out = str(tmp_path / "cli_out")
    d = vars(
        cli_parser().parse_args(
            ["-c", concept, "-r", rel, "-O", out, "-R", "ALL",
             "--master", "local[4]"]
        )
    )
    report = route_and_run(d)
    assert report["output"].endswith("triples")
    manifest = json.load(open(f"{out}/_manifest.json"))
    assert manifest["ontology_iri"].endswith("/OMOP/ontology")
    assert spark.read.parquet(report["output"]).count() > 0


def test_cli_omop_default_path_matches_reference(spark, tmp_path):
    """The PLAIN default invocation (`-c concept.csv -r concept_relationship.csv`,
    no canonicalize flags) must match the reference's no-merge semantics
    (r2 verdict #1: the old default silently merged 'Maps to' concepts the
    reference keeps distinct — every fixture carries such rows)."""
    from omop2owl_vocab_spark.cli import cli_parser, route_and_run
    from tests.oracle_ref import load_tables, precision_recall, reference_triples

    concept = sorted(glob.glob("/root/reference/test/input/*/concept.csv"))
    rel = [c.replace("concept.csv", "concept_relationship.csv") for c in concept]
    concept_df, rel_df = load_tables(concept, rel)
    # the fixtures must actually exercise the merge: 'Maps to' rows present
    assert (rel_df.relationship_id == "Maps to").sum() > 0

    out = str(tmp_path / "cli_default")
    d = vars(
        cli_parser().parse_args(
            ["-c", "/root/reference/test/input/*/concept.csv",
             "-r", "/root/reference/test/input/*/concept_relationship.csv",
             "-O", out, "-R", "ALL", "-S", "--master", "local[4]"]
        )
    )
    report = route_and_run(d)
    engine = {
        (r["subj"], r["pred"], r["obj"])
        for r in spark.read.parquet(report["output"]).collect()
    }
    oracle = reference_triples(concept_df, rel_df, relationships=["ALL"])
    p, r = precision_recall(engine, oracle)
    assert p == 1.0 and r == 1.0, (p, r, len(engine), len(oracle))


def test_cli_canonicalize_flags(spark, tmp_path):
    """Tri-state flag: unset follows the mode; --canonicalize /
    --no-canonicalize are ONE BooleanOptionalAction argument, so a
    contradictory pair resolves by argparse's standard last-wins rule
    instead of silently."""
    from omop2owl_vocab_spark.api import canonicalize_default
    from omop2owl_vocab_spark.cli import cli_parser

    assert canonicalize_default(None, "omop") is False
    assert canonicalize_default(None, "code") is True
    assert canonicalize_default(True, "omop") is True
    assert canonicalize_default(False, "code") is False

    base = ["-c", "c.csv", "-r", "r.csv", "-O", "out"]
    p = cli_parser()
    assert p.parse_args(base).canonicalize is None
    assert p.parse_args(base + ["--canonicalize"]).canonicalize is True
    assert p.parse_args(base + ["--no-canonicalize"]).canonicalize is False
    both = p.parse_args(base + ["--canonicalize", "--no-canonicalize"])
    assert both.canonicalize is False  # last wins, never ambiguous


def test_cli_semsql_only_checks_output_before_starting_spark(
    tmp_path, monkeypatch
):
    """-s on an outdir without a triples output exits before any JVM
    starts."""
    import pytest

    from omop2owl_vocab_spark import cli

    def no_spark(*a, **kw):
        raise AssertionError("get_spark called before the output check")

    monkeypatch.setattr(cli, "get_spark", no_spark)
    d = vars(cli.cli_parser().parse_args(["-O", str(tmp_path), "-s"]))
    with pytest.raises(SystemExit, match="needs an existing triples output"):
        cli.route_and_run(d)


def test_cli_omop_mode_writes_semsql_by_default(spark, tmp_path):
    """Reference parity: omop-mode runs produce the .db unless -S
    (omop2owl_vocab.py:540-542); -S suppresses it; -s rebuilds it alone."""
    import os
    import sqlite3

    from omop2owl_vocab_spark.cli import cli_parser, route_and_run

    concept = sorted(glob.glob("/root/reference/test/input/*/concept.csv"))[0]
    rel = concept.replace("concept.csv", "concept_relationship.csv")
    out = str(tmp_path / "cli_semsql")
    base = ["-c", concept, "-r", rel, "-O", out, "-R", "ALL",
            "--master", "local[4]"]

    # -S: no db
    d = vars(cli_parser().parse_args(base + ["-S"]))
    report = route_and_run(d)
    assert "semsql" not in report
    assert not os.path.exists(f"{out}/OMOP.db")

    # -s: rebuild just the db from the existing triples output
    d = vars(cli_parser().parse_args(base + ["-s"]))
    report = route_and_run(d)
    assert report["semsql"].endswith("OMOP.db")
    con = sqlite3.connect(report["semsql"])
    n = con.execute("SELECT COUNT(*) FROM statements").fetchone()[0]
    con.close()
    assert n == report["semsql_rows"] > 0

    # default (no flags): db written as part of the run
    out2 = str(tmp_path / "cli_semsql_dflt")
    d = vars(cli_parser().parse_args(
        ["-c", concept, "-r", rel, "-O", out2, "-R", "ALL",
         "--master", "local[4]"]
    ))
    report = route_and_run(d)
    assert os.path.exists(report["semsql"])


def test_cli_rxnorm_preset(spark, tmp_path):
    """-o rxnorm expands the reference preset (omop2owl_vocab.py:580-586):
    vocabs=[RxNorm, ATC], relationships=[Is a, Maps to, RxNorm inverse is a],
    -R ignored, artifact named OMOP-RxNorm.db (naming rule :167-175)."""
    from omop2owl_vocab_spark.cli import cli_parser, route_and_run

    concept = "/root/reference/test/input/RxNorm/concept.csv"
    rel = "/root/reference/test/input/RxNorm/concept_relationship.csv"
    out = str(tmp_path / "cli_rx")
    d = vars(cli_parser().parse_args(
        ["-c", concept, "-r", rel, "-O", out, "-o", "rxnorm",
         "-R", "Subsumes",  # must be ignored by the preset
         "--master", "local[4]"]
    ))
    report = route_and_run(d)
    manifest = json.load(open(f"{out}/_manifest.json"))
    assert manifest["config"]["vocabs"] == "['RxNorm', 'ATC']"
    assert (
        manifest["config"]["relationships"]
        == "['Is a', 'Maps to', 'RxNorm inverse is a']"
    )
    assert report["semsql"].endswith("OMOP-RxNorm.db")
    triples = spark.read.parquet(report["output"])
    vocabs = {r[0] for r in triples.select("vocabulary_id").distinct().collect()}
    assert vocabs <= {"RxNorm", "ATC"}  # scope applied (fixture has no ATC)
    # preset relationships only: no Subsumes / tradename edges leak through
    preds = {r[0] for r in triples.select("pred").distinct().collect()}
    assert "omoprel:Has_tradename" not in preds


def test_omop2owl_kwargs_adapter(spark, tmp_path):
    """Library parity: omop2owl(**kw) with the reference's exact keyword
    surface (omop2owl_vocab.py:430-438), including inert pandas/robot-era
    kwargs and str→list coercion."""
    from omop2owl_vocab_spark import omop2owl

    concept = "/root/reference/test/input/ICD10CM/concept.csv"
    rel = concept.replace("concept.csv", "concept_relationship.csv")
    report = omop2owl(
        concept_csv_path=concept,
        concept_relationship_csv_path=rel,
        relationships="ALL",            # bare string must coerce
        vocabs="ICD10CM",               # bare string must coerce
        split_by_vocab=True,            # inert, accepted
        split_by_vocab_merge_after=True,
        memory=100,
        retain_general_cache=False,
        outdir=str(tmp_path / "api_out"),
        spark=spark,
    )
    assert spark.read.parquet(report["output"]).count() > 0
    assert report["semsql"].endswith("OMOP-ICD10CM.db")


def test_merged_artifact_name_rules():
    from omop2owl_vocab_spark.api import merged_artifact_name

    assert merged_artifact_name("OMOP", [], "db") == "OMOP.db"
    assert merged_artifact_name("OMOP", ["RxNorm", "ATC"], "db") == "OMOP-RxNorm.db"
    assert (
        merged_artifact_name("OMOP", ["A", "B", "RxNorm"], "db")
        == "OMOP-A-B-RxNorm.db"
    )
    # X4: the reference's space→dash filename repair (omop2owl_vocab.py:186)
    assert (
        merged_artifact_name("OMOP", ["Procedure Type"], "db")
        == "OMOP-Procedure-Type.db"
    )

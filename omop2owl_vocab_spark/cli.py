"""CLI — mirrors the reference's surface (``cli_parser``,
``omop2owl_vocab.py:588-645``) mapped onto the Spark pipeline.

A user of the reference can switch with the same mental model:

  omop2owl-vocab -c concept.csv -r concept_relationship.csv -R ALL
    → python -m omop2owl_vocab_spark -c concept.csv -r concept_relationship.csv -R ALL

Reference-parity routing (``route_and_run``, ``omop2owl_vocab.py:549-586``):
- ``-o rxnorm`` expands to vocabs=['RxNorm','ATC'],
  relationships=['Is a','Maps to','RxNorm inverse is a'] (``:580-586``);
  like the reference, ``-R`` is ignored for preset output types.
- ``-s/--semsql-only`` rebuilds just the ``.db`` from an existing triples
  output (``:558-560`` — "the .owl already exists").
- ``-S/--skip-semsql`` suppresses the ``.db``; otherwise omop-mode runs
  write it by default, exactly like the reference (``:540-542``).
- ``--output-type split/merged/merged-post-split`` collapse: partitioned
  output gives per-vocab files AND the merged view in one write, so the
  flag is accepted for compatibility and changes nothing.
- ``-M/--memory`` (robot heap) is meaningless — accepted, ignored.
- new: ``--source`` for the grafted code_files input (code mode; semsql
  stays opt-in there via ``--semsql`` — at scale the queryable artifact
  is the partitioned table, not a driver-side SQLite), and ``--master``
  to pick local[N] without spark-submit.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from omop2owl_vocab_spark.api import canonicalize_default, merged_artifact_name
from omop2owl_vocab_spark.plans.pipeline import PipelineConfig, run_pipeline
from omop2owl_vocab_spark.session import get_spark

PROG = "omop2owl-vocab-spark"
DESC = "Convert OMOP vocabularies (or code_files tables) to a partitioned triple table."

# -o rxnorm preset (reference route_and_run, omop2owl_vocab.py:580-586)
RXNORM_VOCABS = ["RxNorm", "ATC"]
RXNORM_RELATIONSHIPS = ["Is a", "Maps to", "RxNorm inverse is a"]


def cli_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog=PROG, description=DESC)
    p.add_argument("-c", "--concept-csv-path", help="concept table (omop mode)")
    p.add_argument(
        "-r", "--concept-relationship-csv-path",
        help="concept_relationship table (omop mode)",
    )
    p.add_argument(
        "--source", help="code_files Iceberg id / parquet path (code mode)"
    )
    p.add_argument("-O", "--outdir", required=True, help="output directory")
    p.add_argument("-I", "--ontology-id", default="OMOP")
    p.add_argument(
        "-o", "--output-type",
        choices=["merged", "split", "merged-post-split", "rxnorm"],
        default="merged-post-split",
        help="merged/split/merged-post-split are accepted for reference "
        "compatibility; output is always a vocab-partitioned table "
        "(= merged + split views in one). 'rxnorm' applies the reference's "
        "preset vocab/relationship expansion",
    )
    p.add_argument("-v", "--vocabs", nargs="+", default=[], help="vocabulary scope (R8)")
    p.add_argument(
        "-R", "--relationships", nargs="+", default=["Is a"],
        help="relationship types to keep; 'ALL' for every type; ignored "
        "for preset output types (rxnorm)",
    )
    p.add_argument(
        "-C", "--use-cache", action="store_true",
        help="resume from stage checkpoints",
    )
    p.add_argument(
        "-e", "--exclude-singletons", action="store_true",
        help="drop concepts with no relationships (documented intent — the "
        "reference's implementation has inverted polarity, see SURVEY Q1)",
    )
    p.add_argument(
        "-s", "--semsql-only", action="store_true",
        help="the triples output already exists — just (re)build the "
        "SemanticSQL .db from it",
    )
    p.add_argument(
        "-S", "--skip-semsql", action="store_true",
        help="skip the SemanticSQL .db (omop-mode runs write it by default)",
    )
    p.add_argument(
        "--canonicalize", action=argparse.BooleanOptionalAction,
        default=None,
        help="force the 'Maps to' equivalence merge on (--canonicalize) "
        "or off (--no-canonicalize); default follows the mode — off in "
        "omop mode (reference keeps mapped concepts distinct), on in "
        "code mode",
    )
    p.add_argument(
        "--semsql", action="store_true",
        help="also write the .db in code mode (omop mode writes it by "
        "default; compat-scale outputs only, K3 parity sink)",
    )
    p.add_argument(
        "--compact-output", action="store_true",
        help="salted repartition before the final write for few files per "
        "vocabulary, a large vocabulary spread over its share of the "
        "default parallelism (adds one full-width shuffle)",
    )
    p.add_argument(
        "-M", "--memory", type=int, default=100, help="ignored (no robot.jar here)"
    )
    p.add_argument("--master", default=None, help="spark master override, e.g. local[8]")
    return p


def route_and_run(d: dict) -> dict:
    mode = "code" if d.get("source") else "omop"
    vocabs = list(d.get("vocabs") or [])
    relationships = list(d.get("relationships") or ["Is a"])
    if d.get("output_type") == "rxnorm":
        vocabs = list(RXNORM_VOCABS)
        relationships = list(RXNORM_RELATIONSHIPS)
    db_path = os.path.join(
        d["outdir"],
        merged_artifact_name(d.get("ontology_id", "OMOP"), vocabs, "db"),
    )

    if d.get("semsql_only"):
        from omop2owl_vocab_spark.operators.semsql import write_semsql_sqlite

        triples_dir = os.path.join(d["outdir"], "triples")
        if not os.path.exists(os.path.join(triples_dir, "_SUCCESS")):
            raise SystemExit(
                f"--semsql-only needs an existing triples output at "
                f"{triples_dir} (run the pipeline first)"
            )
        spark = get_spark(master=d.get("master"))
        rows = write_semsql_sqlite(spark.read.parquet(triples_dir), db_path)
        return {"semsql": db_path, "semsql_rows": rows, "output": triples_dir}

    if mode == "omop" and not (
        d.get("concept_csv_path") and d.get("concept_relationship_csv_path")
    ):
        raise SystemExit("need -c/-r (omop mode) or --source (code mode)")
    cfg = PipelineConfig(
        source=d.get("source") or d["concept_csv_path"],
        concept_relationship_path=d.get("concept_relationship_csv_path"),
        mode=mode,
        output_dir=d["outdir"],
        ontology_id=d.get("ontology_id", "OMOP"),
        relationships=relationships,
        vocabs=vocabs,
        canonicalize=canonicalize_default(d.get("canonicalize"), mode),
        exclude_singletons=d.get("exclude_singletons", False),
        resume=d.get("use_cache", False),
        compact_output=d.get("compact_output", False),
    )
    spark = get_spark(master=d.get("master"))
    report = run_pipeline(spark, cfg)
    # reference parity: omop-mode runs produce the .db unless -S; code mode
    # opts in with --semsql (the scale artifact is the partitioned table)
    want_semsql = not d.get("skip_semsql") and (
        d.get("semsql") or mode == "omop"
    )
    if mode == "omop":
        # reference parity: .owl always, .db unless -S (shared helper with
        # the omop2owl() library adapter)
        from omop2owl_vocab_spark.api import emit_reference_artifacts

        emit_reference_artifacts(
            spark, report, d["outdir"], d.get("ontology_id", "OMOP"),
            vocabs, skip_semsql=bool(d.get("skip_semsql")),
        )
    elif want_semsql:
        # code mode: the .db is opt-in (--semsql); no driver-streamed .owl
        # at corpus scale
        from omop2owl_vocab_spark.operators.semsql import write_semsql_sqlite

        rows = write_semsql_sqlite(spark.read.parquet(report["output"]), db_path)
        report["semsql"] = db_path
        report["semsql_rows"] = rows
    return report


def cli(argv: list[str] | None = None) -> None:
    d = vars(cli_parser().parse_args(argv))
    report = route_and_run(d)
    json.dump(report, sys.stdout, indent=1, sort_keys=True)
    print()

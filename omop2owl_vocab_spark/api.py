"""Library-API parity adapter: ``omop2owl(**kwargs)``.

Reference users call ``from omop2owl_vocab import omop2owl; omop2owl(**kw)``
(``omop2owl_vocab.py:430-438``; re-exported at ``__init__.py:4``).  This
module accepts the same keyword surface and maps it onto the Spark
pipeline, so switching engines is an import change, not a call-site
rewrite.

Accepted-but-inert reference kwargs (each is an artifact of the
pandas/robot/docker execution model with no Spark meaning):

- ``split_by_vocab`` / ``split_by_vocab_merge_after``: the partitioned
  parquet output IS both the merged table and the per-vocab split in one
  write — there is nothing to toggle.
- ``memory``: robot.jar heap size; no subprocess exists here.
- ``retain_general_cache`` / ``retain_robot_templates``: pickle/TSV
  intermediates of the reference; our stage checkpoints are governed by
  ``use_cache`` (resume) instead.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def merged_artifact_name(
    ontology_id: str, vocabs: list[str] | None, ext: str = "db"
) -> str:
    """The reference's merged-artifact naming rule
    (``omop2owl_vocab.py:167-175``) plus its space→dash filename repair
    (``:186,452,481``; X4 in SURVEY §2): ``OMOP.db``, ``OMOP-RxNorm.db``
    when RxNorm is in a ≤2-vocab scope, else ``OMOP-V1-V2.db`` —
    spaces always become dashes."""
    vocabs = list(vocabs or [])
    if not vocabs:
        name = f"{ontology_id}.{ext}"
    elif "RxNorm" in vocabs and len(vocabs) < 3:
        name = f"{ontology_id}-RxNorm.{ext}"
    else:
        name = f"{ontology_id}-{'-'.join(vocabs)}.{ext}"
    return name.replace(" ", "-")


def canonicalize_default(flag: bool | None, mode: str) -> bool:
    """``canonicalize`` with ``None`` resolved to the mode default (this
    adapter and the CLI both resolve it here).  Reference parity: omop
    mode does NOT merge 'Maps to' equivalences — the reference keeps
    mapped concepts distinct, and every fixture contains 'Maps to' rows,
    so a True default silently diverges on the plain
    ``-c concept.csv -r concept_relationship.csv`` path (r2 verdict #1).
    Code mode keeps canonicalization on (the KG-construction north star).
    The CLI flag is a ``BooleanOptionalAction`` tri-state — ``None``
    means mode default."""
    if flag is not None:
        return bool(flag)
    return mode == "code"


def omop2owl(
    concept_csv_path: str | None = None,
    concept_relationship_csv_path: str | None = None,
    split_by_vocab: bool = True,
    split_by_vocab_merge_after: bool = True,
    vocabs: list[str] | str | None = None,
    relationships: list[str] | str | None = None,
    use_cache: bool = False,
    skip_semsql: bool = False,
    exclude_singletons: bool = False,
    memory: int = 100,
    ontology_id: str = "OMOP",
    outdir: str | None = None,
    retain_general_cache: bool = True,
    retain_robot_templates: bool = False,
    # Spark-engine extensions (absent from the reference):
    spark: SparkSession | None = None,
    source: str | None = None,
    canonicalize: bool | None = None,
    master: str | None = None,
) -> dict:
    """Run the ingest — reference signature (``omop2owl_vocab.py:430``),
    Spark execution.

    Reference parity defaults: ``vocabs``/``relationships`` accept a bare
    string (coerced to a 1-list, ``:447-450``), ``outdir`` defaults to the
    CWD, and unless ``skip_semsql`` a SemanticSQL-shaped ``.db`` named by
    the reference's rule lands next to the triples.

    Extensions: ``source=`` switches to code mode (code_files table);
    ``canonicalize`` defaults to False in omop mode (byte-parity with the
    reference's per-concept emission) and True in code mode (the
    Maps-to equivalence merge is part of the KG pipeline there).
    """
    from omop2owl_vocab_spark.plans.pipeline import PipelineConfig, run_pipeline
    from omop2owl_vocab_spark.session import get_spark

    if isinstance(vocabs, str):
        vocabs = [vocabs]
    if isinstance(relationships, str):
        relationships = [relationships]
    mode = "code" if source else "omop"
    if mode == "omop" and not (concept_csv_path and concept_relationship_csv_path):
        raise ValueError(
            "omop mode needs concept_csv_path and "
            "concept_relationship_csv_path (or pass source= for code mode)"
        )
    outdir = outdir or os.getcwd()
    outdir = outdir if os.path.isabs(outdir) else os.path.join(os.getcwd(), outdir)

    cfg = PipelineConfig(
        source=source or concept_csv_path,
        concept_relationship_path=concept_relationship_csv_path,
        mode=mode,
        output_dir=outdir,
        ontology_id=ontology_id,
        relationships=list(relationships or ["Is a"]),
        vocabs=list(vocabs or []),
        canonicalize=canonicalize_default(canonicalize, mode),
        exclude_singletons=exclude_singletons,
        resume=use_cache,
    )
    spark = spark or get_spark(master=master)
    report = run_pipeline(spark, cfg)
    if mode == "omop":
        # reference artifacts are compat-scale, omop-mode only — in code
        # mode the queryable output is the partitioned triple table, and a
        # driver-streamed single-file .owl/.db at corpus scale would be an
        # accident, not a feature
        emit_reference_artifacts(
            spark, report, outdir, ontology_id, cfg.vocabs,
            skip_semsql=skip_semsql,
        )
    return report


def emit_reference_artifacts(
    spark: SparkSession,
    report: dict,
    outdir: str,
    ontology_id: str,
    vocabs: list[str],
    skip_semsql: bool = False,
) -> dict:
    """Shared by the library adapter and the CLI: write the reference's
    two artifacts next to the triples — the RDF/XML ``.owl``
    (omop2owl_vocab.py:444, the primary artifact) and, unless
    ``skip_semsql``, the SemanticSQL ``.db`` — both named by the
    reference's rule.  Mutates and returns ``report``."""
    from omop2owl_vocab_spark.operators.owl import write_owl_rdfxml
    from omop2owl_vocab_spark.operators.semsql import write_semsql_sqlite
    from omop2owl_vocab_spark.plans.pipeline import ONTOLOGY_IRI_FMT

    triples = spark.read.parquet(report["output"])
    owl_path = os.path.join(outdir, merged_artifact_name(ontology_id, vocabs, "owl"))
    report["owl"] = owl_path
    report["owl_classes"] = write_owl_rdfxml(
        triples, owl_path, ontology_iri=ONTOLOGY_IRI_FMT.format(ontology_id)
    )
    if not skip_semsql:
        db_path = os.path.join(
            outdir, merged_artifact_name(ontology_id, vocabs, "db")
        )
        report["semsql"] = db_path
        report["semsql_rows"] = write_semsql_sqlite(triples, db_path)
    return report

"""K2 parity sink: an RDF/XML OWL artifact.

The reference's primary artifact is an ``.owl`` RDF/XML file produced by
robot.jar from its template (``omop2owl_vocab.py:195-216`` — edge
predicates become ``rdfs:subClassOf`` + ``owl:someValuesFrom`` restrictions
via the ``"SC {} some %"`` robot heading; annotations become
AnnotationAssertions).  This sink emits the same OWL shapes directly from
the triple DataFrame — no robot, no docker:

- ``rdf:type owl:Class``      → ``<owl:Class rdf:about=...>``
- ``rdfs:label`` / ``OMOP:*`` → literal annotation child elements
- ``rdfs:subClassOf``         → ``<rdfs:subClassOf rdf:resource=...>``
- ``omoprel:*``               → ``<rdfs:subClassOf><owl:Restriction>`` with
  ``owl:onProperty`` + ``owl:someValuesFrom`` (the robot ``SC .. some``
  expansion)

Scale posture: the per-class XML fragment is built DISTRIBUTED (one
groupBy on subj — the same key the emission already aggregates on; string
assembly is all JVM ``concat``/``transform``, zero Python).  Only the
final file stitch is driver-side, and it streams the sorted part files
(bounded by disk, not memory).  Like the semsql sink, a single giant XML
file is a compat artifact — at 100 TB the queryable output is the
partitioned triple table.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from omop2owl_vocab_spark.functions.curie import NAMESPACES, expand_iri


def _xml_escape(col: Column) -> Column:
    out = F.replace(col, F.lit("&"), F.lit("&amp;"))
    out = F.replace(out, F.lit("<"), F.lit("&lt;"))
    return F.replace(out, F.lit(">"), F.lit("&gt;"))


def owl_class_fragments(triples: DataFrame) -> DataFrame:
    """One ``<owl:Class>`` RDF/XML block per subject (column ``xml``,
    plus ``subj`` for deterministic ordering)."""
    t = triples.select(
        "subj",
        "pred",
        "obj",
        "obj_is_literal",
        _xml_escape(F.col("obj")).alias("obj_esc"),
        expand_iri("obj").alias("obj_iri"),
    )
    line = (
        F.when(F.col("pred") == "rdf:type", F.lit(None))  # carried by the tag
        .when(
            F.col("obj_is_literal"),
            F.concat(
                F.lit("    <"), F.col("pred"), F.lit(">"),
                F.col("obj_esc"),
                F.lit("</"), F.col("pred"), F.lit(">"),
            ),
        )
        .when(
            F.col("pred") == "rdfs:subClassOf",
            F.concat(
                F.lit('    <rdfs:subClassOf rdf:resource="'),
                F.col("obj_iri"),
                F.lit('"/>'),
            ),
        )
        .otherwise(
            # robot 'SC <pred> some %' expansion (omop2owl_vocab.py:195)
            F.concat(
                F.lit(
                    "    <rdfs:subClassOf>\n      <owl:Restriction>\n"
                    '        <owl:onProperty rdf:resource="'
                ),
                expand_iri("pred"),
                F.lit('"/>\n        <owl:someValuesFrom rdf:resource="'),
                F.col("obj_iri"),
                F.lit(
                    '"/>\n      </owl:Restriction>\n    </rdfs:subClassOf>'
                ),
            )
        )
    )
    return (
        t.select("subj", line.alias("line"), expand_iri("subj").alias("iri"))
        .groupBy("subj")
        .agg(
            F.concat(
                F.lit('  <owl:Class rdf:about="'),
                F.first("iri"),
                F.lit('">\n'),
                F.concat_ws(
                    "\n", F.array_sort(F.collect_list("line"))
                ),
                F.lit("\n  </owl:Class>"),
            ).alias("xml")
        )
    )


def property_declarations(triples: DataFrame) -> list[str]:
    """ObjectProperty declarations for every predicate with ANY non-literal
    use (edge fragments reference it through ``owl:onProperty``, which
    requires an object property — declaring it annotation-only would be
    illegal punning), AnnotationProperty for exclusively-literal
    predicates.  The distinct-predicate set is bounded by the
    relationship-type count (~500 in full OMOP) — a driver collect is
    correct here."""
    rows = (
        triples.groupBy("pred")
        .agg(F.min(F.col("obj_is_literal").cast("int")).alias("lit_only"))
        .select("pred", "lit_only", expand_iri("pred").alias("iri"))
        .collect()
    )
    decls = []
    for pred, lit_only, iri in sorted(rows):
        # an unknown prefix passes through expand_iri: no IRI to declare
        if pred in ("rdf:type", "rdfs:subClassOf", "rdfs:label") or iri == pred:
            continue
        kind = "AnnotationProperty" if lit_only else "ObjectProperty"
        decls.append(f'  <owl:{kind} rdf:about="{iri}"/>')
    return decls


def write_owl_rdfxml(
    triples: DataFrame, path: str, ontology_iri: str | None = None
) -> int:
    """Write a standalone RDF/XML ``.owl`` file; returns the class count.

    The class fragments are computed and SORTED distributed; the driver
    only streams the ordered text part files into the final artifact
    (constant memory) between a generated header and footer."""
    frags = owl_class_fragments(triples)
    tmp_dir = path + ".parts"
    shutil.rmtree(tmp_dir, ignore_errors=True)
    frags.sort("subj").select("xml").write.mode("overwrite").text(tmp_dir)
    decls = property_declarations(triples)

    n = 0
    tmp_path = path + ".tmp"
    with open(tmp_path, "w", encoding="utf-8") as out:
        out.write('<?xml version="1.0"?>\n<rdf:RDF')
        for pfx, base in sorted(NAMESPACES.items()):
            out.write(f'\n    xmlns:{pfx}="{base}"')
        out.write(">\n")
        if ontology_iri:
            out.write(f'  <owl:Ontology rdf:about="{ontology_iri}"/>\n')
        for d in decls:
            out.write(d + "\n")
        for part in sorted(glob.glob(os.path.join(tmp_dir, "part-*"))):
            with open(part, encoding="utf-8") as f:
                for line in f:  # fragments are multi-line; count class tags
                    if line.startswith("  <owl:Class "):
                        n += 1
                    out.write(line)
        out.write("</rdf:RDF>\n")
    os.replace(tmp_path, path)
    shutil.rmtree(tmp_dir, ignore_errors=True)
    return n

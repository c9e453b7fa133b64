"""S2/S3 — triple emission, rules R1-R9 (SURVEY.md §1.4).

The reference builds a per-predicate adjacency dict with a python loop per
relationship type (49 rescans of the edge table on its own fixtures,
``omop2owl_vocab.py:338-356``) and renders a wide robot-template TSV
(``:204-237``) that robot.jar turns into OWL axioms.  Here the same axiom
set is produced as one lazy DataFrame plan:

- concepts → ``stack`` unpivot (R1 class decl, R2 label, R3 annotations)
  — narrow, whole-stage-codegen'd, zero shuffle;
- edges → single-pass predicate resolution (``when``/``translate``) +
  one semi/inner join against concepts — one shuffle, broadcast when the
  concept side is small, AQE skew-split otherwise.

Emission contract notes (verified against the reference by execution):

- empty template cells produce no axiom (F9) → ``filter(obj != '')``;
- forward edges require only the SUBJECT side (``concept_id_1``) to exist in
  the concept table (objects may dangle, ``omop2owl_vocab.py:347``);
- reverse-mapped edges are subject/object swapped (``:353-354``) and the
  template loop (``:204-233``) iterates concept rows, so the post-swap
  subject (``concept_id_2``) must ALSO be a known concept — both endpoints
  checked for reverse rows only;
- Q2 divergence (documented, SURVEY §1.4): when two relationship types map
  to the same predicate the reference clobbers (``rel_maps[pred] = {}``,
  ``:344``); we union — strictly more complete, and the colliding
  combination never occurs in the compat corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from omop2owl_vocab_spark.functions.curie import omop_curie
from omop2owl_vocab_spark.functions.sanitize import sanitize_predicate_col
from omop2owl_vocab_spark.schemas import ANNOTATION_COLUMNS

# REL_PRED_MAPPING / REL_PRED_REVERSE_MAPPING (omop2owl_vocab.py:81-87)
REL_PRED_MAPPING = {"Is a": "rdfs:subClassOf"}
REL_PRED_REVERSE_MAPPING = {"RxNorm inverse is a": "rdfs:subClassOf"}


def _partition_vocab() -> F.Column:
    # X8: empty vocabulary_id → 'Metadata' (omop2owl_vocab.py:478).
    # NULL handled too: code-mode lang is nullable and never null-filled,
    # and a NULL partition value would land in __HIVE_DEFAULT_PARTITION__
    # and dodge the salting lineage keys.
    v = F.coalesce(F.col("vocabulary_id"), F.lit(""))
    return F.when(v == "", "Metadata").otherwise(v)


def emit_concept_triples(concepts: DataFrame) -> DataFrame:
    """R1-R3: one unpivot over the concept table.

    10 (pred, obj, literal) triplets per row via ``stack`` — a generator,
    pipelined with the scan, no shuffle.  Empty values suppressed (F9:
    robot emits no axiom for an empty template cell).

    If ``concepts`` carries ``src_sha256`` it is propagated; otherwise ''.
    """
    has_sha = "src_sha256" in concepts.columns
    entries = ["'rdf:type', 'owl:Class', false", "'rdfs:label', concept_name, true"]
    entries += [f"'OMOP:{a}', {a}, true" for a in ANNOTATION_COLUMNS]
    stack_expr = f"stack({len(entries)}, {', '.join(entries)}) as (pred, obj, obj_is_literal)"
    out = concepts.select(
        omop_curie("concept_id").alias("subj"),
        F.expr(stack_expr),
        _partition_vocab().alias("_vid"),
        (F.col("src_sha256") if has_sha else F.lit("")).alias("src_sha256"),
    )
    return out.filter(F.col("obj") != "").select(
        "subj", "pred", "obj", "obj_is_literal",
        F.col("_vid").alias("vocabulary_id"), "src_sha256",
    )


def resolve_edges(
    rel_df: DataFrame,
    concepts: DataFrame,
    relationships: list[str] | None = None,
) -> DataFrame:
    """R4-R7: single-pass predicate resolution + membership filters.

    Input ``rel_df`` must already be validity-filtered (F2).  Returns a long
    edge frame ``(subject, predicate, object, vocabulary_id, src_sha256)``
    where vocabulary_id/src_sha256 come from the subject concept (fetched by
    the same join that enforces membership — no extra shuffle).

    ``relationships=None`` or ``['ALL']`` keeps every relationship type
    (reference 'ALL' semantics, omop2owl_vocab.py:301) — resolved in one
    pass instead of one rescan per type.
    """
    if relationships and relationships != ["ALL"]:
        rel_df = rel_df.filter(F.col("relationship_id").isin(relationships))

    rev_ids = list(REL_PRED_REVERSE_MAPPING)
    is_rev = F.col("relationship_id").isin(rev_ids)

    def _mapped_pred(mapping: dict[str, str]) -> F.Column:
        expr = F.concat(
            F.lit("omoprel:"), sanitize_predicate_col("relationship_id")
        )
        for rel, p in mapping.items():
            expr = F.when(F.col("relationship_id") == rel, F.lit(p)).otherwise(expr)
        return expr

    has_sha = "src_sha256" in concepts.columns
    subj_dim = concepts.select(
        F.col("concept_id").alias("_subj_id"),
        _partition_vocab().alias("vocabulary_id"),
        (F.col("src_sha256") if has_sha else F.lit("")).alias("src_sha256"),
    )
    ids = concepts.select(F.col("concept_id").alias("_id"))

    # forward rows: join on the RAW concept_id_1 column — one inner join
    # does the R7 membership filter (omop2owl_vocab.py:347) AND the
    # vocab/sha fetch.  Joining on the raw column (not a when() expression)
    # keeps the key a plain attribute: the planner broadcasts the concept
    # side, or above the broadcast threshold plans a sort-merge join on
    # the column itself.
    fwd = (
        rel_df.filter(~is_rev)
        .join(subj_dim, F.col("concept_id_1") == F.col("_subj_id"), "inner")
        .select(
            F.col("concept_id_1").alias("subject"),
            _mapped_pred(REL_PRED_MAPPING).alias("predicate"),
            F.col("concept_id_2").alias("object"),
            "vocabulary_id",
            "src_sha256",
        )
    )
    # reverse rows (tiny, statically-known relationship ids): pre-swap c1
    # must be a concept (R7) AND post-swap subject (c2) must be a concept
    # (the template loop only emits rows present in concept_df).
    rev = (
        rel_df.filter(is_rev)
        .join(ids, F.col("concept_id_1") == F.col("_id"), "left_semi")
        .join(subj_dim, F.col("concept_id_2") == F.col("_subj_id"), "inner")
        .select(
            F.col("concept_id_2").alias("subject"),
            _mapped_pred(REL_PRED_REVERSE_MAPPING).alias("predicate"),
            F.col("concept_id_1").alias("object"),
            "vocabulary_id",
            "src_sha256",
        )
    )
    return fwd.unionByName(rev)


def emit_edge_triples(edges: DataFrame) -> DataFrame:
    """R4-R6 rendering of resolved edges as CURIE triples."""
    return edges.select(
        omop_curie("subject").alias("subj"),
        F.col("predicate").alias("pred"),
        omop_curie("object").alias("obj"),
        F.lit(False).alias("obj_is_literal"),
        "vocabulary_id",
        "src_sha256",
    )


def exclude_singleton_concepts(
    concepts: DataFrame, rel_df: DataFrame, bug_compat: bool = False
) -> DataFrame:
    """F7 with both polarities.

    Documented intent: drop concepts with no relationships (semi-join on
    the endpoint universe).  ``bug_compat=True`` reproduces the reference's
    inverted polarity (Q1, omop2owl_vocab.py:417-420: keeps ONLY
    relationship-less concepts) for parity experiments.
    """
    endpoints = (
        rel_df.select(F.col("concept_id_1").alias("cid"))
        .unionByName(rel_df.select(F.col("concept_id_2").alias("cid")))
        .distinct()
    )
    how = "left_anti" if bug_compat else "left_semi"
    return concepts.join(
        endpoints, concepts["concept_id"] == endpoints["cid"], how
    )


def dedupe_triples(df: DataFrame) -> DataFrame:
    """OWL set semantics over (subj, pred, obj), DETERMINISTICALLY.

    ``dropDuplicates`` keeps an arbitrary row when the same axiom is emitted
    with different provenance (e.g. a cross-vocab merge), which would break
    byte-stable resume — so the survivors' provenance columns are min/max
    aggregated instead. One hash-aggregate shuffle; AQE coalesces after."""
    return df.groupBy("subj", "pred", "obj").agg(
        F.max("obj_is_literal").alias("obj_is_literal"),
        F.min("vocabulary_id").alias("vocabulary_id"),
        F.min("src_sha256").alias("src_sha256"),
    )


def emit_triples(
    concepts: DataFrame,
    rel_df: DataFrame,
    relationships: list[str] | None = None,
    exclude_singletons: bool = False,
    dedupe: bool = True,
) -> DataFrame:
    """Full emission: R1-R3 ∪ R4-R6, deduplicated.

    Dedup matches OWL set semantics (the reference pipe-joins duplicate
    objects and robot collapses identical axioms).  Pass ``dedupe=False``
    when a canonicalization stage follows — it dedupes after the rewrite
    anyway, and skipping here saves one full-width shuffle of the triple set.
    """
    if exclude_singletons:
        concepts = exclude_singleton_concepts(concepts, rel_df)
    concept_triples = emit_concept_triples(concepts)
    edge_triples = emit_edge_triples(
        resolve_edges(rel_df, concepts, relationships)
    )
    out = concept_triples.unionByName(edge_triples)
    return dedupe_triples(out) if dedupe else out

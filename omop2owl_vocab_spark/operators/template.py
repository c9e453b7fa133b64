"""K1/K2-analog sinks: robot-template TSV (debug parity) and N-Triples text.

The engine's scored path materializes triples directly (no robot.jar), but
the reference's on-disk IRs remain useful for eyeballing parity:

- ``to_robot_template``: the wide one-row-per-concept form with pipe-joined
  multi-values (``omop2owl_vocab.py:204-237``) and the magic subheader row
  (``ROBOT_SUBHEADER``, ``:62-75`` + the ``SC <pred> some %`` heading,
  ``:195-197``).  Built with groupBy/pivot-free aggregation: one
  ``groupBy(subject).pivot(pred)`` would shuffle per predicate column; we
  instead collect per-predicate maps in a single aggregate.
- ``to_ntriples``: flat text rendering via built-in expressions (concat),
  one line per triple — a ``spark.write.text`` sink, no robot post-fix
  needed because CURIEs are constructed correctly from the start
  (vs the reference's whole-file prefix repair, ``:258-267``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from omop2owl_vocab_spark.functions.curie import expand_iri
from omop2owl_vocab_spark.schemas import ANNOTATION_COLUMNS

ROBOT_SUBHEADER = {
    "ID": "ID",
    "Label": "A rdfs:label",
    "Type": "TYPE",
    **{a: f"A OMOP:{a}" for a in ANNOTATION_COLUMNS},
    "rdfs:subClassOf": "SC % SPLIT=|",
}


def to_robot_template(triples: DataFrame) -> tuple[DataFrame, dict[str, str]]:
    """Wide template frame + its subheader (predicate → robot directive).

    Returns one row per subject with annotation columns and pipe-joined
    object columns per edge predicate.  Single aggregate (one shuffle).

    Column parity with the reference: ``rdfs:subClassOf`` is ALWAYS
    present (the reference's subheader carries it unconditionally,
    ``ROBOT_SUBHEADER`` at omop2owl_vocab.py:43-55) even when no edge
    survives filtering.  Known divergence: data rows sort
    lexicographically by CURIE, not concept-table input order — this is a
    debug sink; byte ordering is not part of the parity contract.
    """
    edge_preds = sorted(
        {
            r[0]
            for r in triples.filter(
                (~F.col("obj_is_literal")) & (F.col("pred") != "rdf:type")
            )
            .select("pred")
            .distinct()
            .collect()
        }
        | {"rdfs:subClassOf"}
    )
    ann_map = {
        "Label": "rdfs:label",
        **{a: f"OMOP:{a}" for a in ANNOTATION_COLUMNS},
    }
    aggs = [
        F.max(F.when(F.col("pred") == p, F.col("obj"))).alias(col)
        for col, p in ann_map.items()
    ]
    aggs += [
        F.concat_ws(
            "|",
            F.array_sort(
                F.collect_list(F.when(F.col("pred") == p, F.col("obj")))
            ),
        ).alias(p)
        for p in edge_preds
    ]
    wide = (
        triples.groupBy(F.col("subj").alias("ID"))
        .agg(*aggs)
        .withColumn("Type", F.lit("class"))
        .na.fill("")
    )
    subheader = dict(ROBOT_SUBHEADER)
    for p in edge_preds:
        if p != "rdfs:subClassOf":
            subheader[p] = f"SC {p} some % SPLIT=|"
    cols = ["ID", "Label", "Type"] + ANNOTATION_COLUMNS + [
        p for p in ["rdfs:subClassOf"] if p in wide.columns
    ] + [p for p in edge_preds if p != "rdfs:subClassOf"]
    return wide.select(*[c for c in cols if c in wide.columns]), subheader


def write_robot_template_tsv(
    triples: DataFrame, path: str
) -> None:
    """Debug TSV sink with the subheader as the first data row (matching
    ``robot_df = pd.DataFrame([robot_subheader] + rows)``, :236-237)."""
    wide, subheader = to_robot_template(triples)
    spark = wide.sparkSession
    sub_row = spark.createDataFrame(
        [tuple(subheader.get(c, "") for c in wide.columns)], wide.columns
    ).withColumn("_k", F.lit(0))
    out = (
        sub_row.unionByName(wide.withColumn("_k", F.lit(1)))
        .orderBy("_k", "ID")
        .drop("_k")
    )
    out.coalesce(1).write.mode("overwrite").option("sep", "\t").option(
        "header", True
    ).option("escape", '"').option("emptyValue", "").csv(path)


def to_ntriples(triples: DataFrame) -> DataFrame:
    """One N-Triples line per row (column ``line``)."""
    def iri(col):
        return F.concat(F.lit("<"), expand_iri(col), F.lit(">"))

    # full STRING_LITERAL_QUOTED escaping: backslash first, then quote,
    # newline, CR, tab — a raw newline inside a literal is invalid N-Triples
    escaped = F.regexp_replace(F.col("obj"), r"\\", r"\\\\")
    escaped = F.regexp_replace(escaped, '"', '\\\\"')
    escaped = F.regexp_replace(escaped, "\n", r"\\n")
    escaped = F.regexp_replace(escaped, "\r", r"\\r")
    escaped = F.regexp_replace(escaped, "\t", r"\\t")
    lit_obj = F.concat(F.lit('"'), escaped, F.lit('"'))
    obj = F.when(F.col("obj_is_literal"), lit_obj).otherwise(iri("obj"))
    return triples.select(
        F.concat_ws(" ", iri("subj"), iri("pred"), obj, F.lit(".")).alias("line")
    )

"""S5 — canonical rewrite (G2): replace every member id with its component's
canonical id in both subject and object positions, then dedupe.

The map excludes identity rows (member == canonical), so both joins are
left-outer with a coalesce — the map side is the (usually tiny) set of
merged ids and is broadcast when it fits; at scale AQE picks the strategy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from omop2owl_vocab_spark.functions.curie import omop_curie
from omop2owl_vocab_spark.operators.emit import dedupe_triples


def canonicalize_triples(triples: DataFrame, canon: DataFrame) -> DataFrame:
    """``canon`` is (member, canonical) over raw concept ids; triples carry
    ``OMOP:``-CURIE ids, so the map is lifted to CURIEs once (cheap
    projection)."""
    cm = canon.select(
        omop_curie("member").alias("m"),
        omop_curie("canonical").alias("c"),
    )
    subj_map = cm.withColumnRenamed("m", "_sm").withColumnRenamed("c", "_sc")
    obj_map = cm.withColumnRenamed("m", "_om").withColumnRenamed("c", "_oc")

    out = (
        triples.join(subj_map, triples["subj"] == subj_map["_sm"], "left")
        .withColumn("subj", F.coalesce(F.col("_sc"), F.col("subj")))
        .drop("_sm", "_sc")
    )
    # only non-literal objects are node ids eligible for rewrite
    out = (
        out.join(
            obj_map,
            (out["obj"] == obj_map["_om"]) & (~out["obj_is_literal"]),
            "left",
        )
        .withColumn("obj", F.coalesce(F.col("_oc"), F.col("obj")))
        .drop("_om", "_oc")
    )
    return dedupe_triples(out)

"""The end-to-end corpus curation decision — what a training-data
pipeline actually joins against before tokenization:

    gopher rules ∧ repetition rules ∧ not-an-exact-duplicate ∧
    near-dup-group representative  →  keep

One row per document with the per-stage verdicts (so drops are
attributable, not silent) and the final ``keep``.  Composes the
already-oracle-verified operators; every stage is the linear-scale shape:

- ``gopher_flags`` / ``repetition_flags``: narrow projections (+ the
  bigram-mode aggregate);
- ``exact_duplicates``: one hash-aggregate on md5(text) — a doc is kept
  only if it is not a non-canonical member of a byte-identical group;
- ``near_duplicate_groups``: LSH → verify → CC; a doc is kept only if it
  IS its group's representative (minimum id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from omop2owl_vocab_spark.operators.dedup import (
    exact_duplicates,
    near_duplicate_groups,
)
from omop2owl_vocab_spark.operators.fixpoint import materialize
from omop2owl_vocab_spark.operators.text import gopher_flags, repetition_flags


def curation_decision(
    df: DataFrame,
    jaccard_threshold: float = 0.5,
    hash_family: str = "xxhash64",
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """(doc_id, quality_ok, repetition_ok, exact_canonical, near_dup_rep,
    keep) over ``(doc_id, text)`` documents — the keep-list with
    per-stage reasons.

    FILTER-FIRST ordering: the dedup stages (exact canonical pick,
    near-dup representative pick) run over the QUALITY SURVIVORS only, so
    a group whose min-id member is spam still keeps its best clean copy —
    dropping quality failures first and then choosing representatives
    among survivors is the conventional curation order.  Docs that failed
    quality/repetition carry NULL dedup verdicts (those stages never
    evaluated them); ``keep`` is still deterministically False for them
    (Kleene AND with a False conjunct).

    SINGLE-SCAN discipline (r2 verdict #4): ``verdicts`` and
    ``survivors`` are cut once through `fixpoint.materialize` — without
    this, every downstream consumer (exact dedup, near-dup groups, the
    final verdict join) re-derives the whole quality lineage, re-scanning
    the text column 4-5× per run.  With it, gopher/repetition each read
    the text once, the survivor semi-join reads it once, and both dedup
    stages read the materialized survivors.  Inside a
    `fixpoint.checkpointing` scope these cuts, and the near-dup stage's,
    are reliable checkpoints.
    """
    quality = gopher_flags(df).select(
        "doc_id", F.col("keep").alias("quality_ok")
    )
    rep = repetition_flags(df).select(
        "doc_id",
        (F.col("dup_line_ok") & F.col("top_bigram_ok")).alias("repetition_ok"),
    )
    passed = F.col("quality_ok") & F.col("repetition_ok")
    verdicts = materialize(quality.join(rep, "doc_id"))
    survivors = materialize(
        df.join(
            verdicts.filter(passed).select("doc_id"), "doc_id", "left_semi"
        )
    )
    exact_dups = exact_duplicates(survivors).select(
        F.col("dup_id").alias("doc_id"), F.lit(False).alias("_exact")
    )
    groups = near_duplicate_groups(
        survivors,
        threshold=jaccard_threshold,
        hash_family=hash_family,
        max_bucket_size=max_bucket_size,
    ).select(
        "doc_id",
        (F.col("doc_id") == F.col("group_id")).alias("near_dup_rep"),
    )
    out = (
        verdicts.join(exact_dups, "doc_id", "left")
        .join(groups, "doc_id", "left")
        # survivors default to canonical=True unless listed as a dup;
        # non-survivors keep NULL (stage not evaluated)
        .withColumn(
            "exact_canonical",
            F.when(passed, F.coalesce("_exact", F.lit(True))),
        )
        .drop("_exact")
    )
    return out.select(
        "doc_id",
        "quality_ok",
        "repetition_ok",
        "exact_canonical",
        "near_dup_rep",
        (passed & F.col("exact_canonical") & F.col("near_dup_rep")).alias("keep"),
    )

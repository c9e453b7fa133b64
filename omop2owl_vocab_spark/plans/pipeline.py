"""Pipeline orchestration — the engine's ``omop2owl()`` equivalent
(reference orchestrator at ``omop2owl_vocab.py:430-545``).

One lazy DAG per stage, checkpointed between stages; the stages run in
this order on the calling thread (s4 only when canonicalizing):

    S1 derive   code_files → (concepts, raw_edges)          [code mode]
                or concept/concept_relationship CSVs        [omop compat mode]
    S2+S3 emit  R1-R6 triple emission                       → triples_raw
    S4 link     equivalence edges → connected components    → canon_map
    S5 canon    canonical rewrite + dedupe                  → triples
    S6 write    salted repartition → partitionBy(vocabulary_id)

Where the reference bounds memory by *sequential per-vocab subruns*
(``split_by_vocab``, omop2owl_vocab.py:462-540, "Use this option if running
out of memory"), we get the same isolation from partition parallelism, and
``compact_output`` handles the SNOMED-analog skew (one giant ``lang``) by
salting the final repartition, sized from the s3 per-vocab lineage: files
per output partition stay bounded regardless of vocab size, and no
text-stitching merge stage exists because ``union`` is a logical-plan node.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass, field, asdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from omop2owl_vocab_spark.operators.canon import canonicalize_triples
from omop2owl_vocab_spark.operators.emit import emit_triples
from omop2owl_vocab_spark.operators.fixpoint import checkpointing
from omop2owl_vocab_spark.operators.link import canonical_map, connected_components
from omop2owl_vocab_spark.plans.checkpoint import CheckpointManager
from omop2owl_vocab_spark.plans.derive import derive_concepts, derive_edges
from omop2owl_vocab_spark.sources.code_files import read_code_files
from omop2owl_vocab_spark.sources.omop import (
    read_concept,
    read_concept_relationship,
)

ONTOLOGY_IRI_FMT = "http://purl.obolibrary.org/obo/{}/ontology"  # R9 (:445-446)
MAX_RECORDS_PER_FILE = 5_000_000
# compact_output never cuts a salt bucket below this many rows (312,500):
# such a bucket writes in about a second per core — the unsalted 8.1M-row
# giant-vocab task of tools/bench_skew_ab.py took 20-25 s at local[4] — so
# finer buckets add files, not speed
MIN_BUCKET_ROWS = MAX_RECORDS_PER_FILE // 16
# salt buckets per task slot of a vocab's fair share: finer than one per
# slot, so the scheduler packs them and two buckets hashed into one
# partition make a short task, not a straggler.  At local[4] on the
# 1M-row skew corpus one per slot ran the write stage's longest task at
# 7.2 s vs 4.4 s for 16 buckets (tools/bench_skew_ab.py)
BUCKETS_PER_SLOT = 4
# relationship_ids whose edges are merged into one canonical concept (s4)
EQUIVALENCE_RELS = ("Maps to",)


@dataclass
class PipelineConfig:
    source: str  # code_files location (code mode) or concept CSV path (omop mode)
    output_dir: str
    mode: str = "code"  # 'code' | 'omop'
    concept_relationship_path: str | None = None  # omop mode only
    ontology_id: str = "OMOP"
    relationships: list[str] = field(default_factory=lambda: ["ALL"])
    vocabs: list[str] = field(default_factory=list)  # R8 scoping; [] = all
    canonicalize: bool = True
    exclude_singletons: bool = False
    resume: bool = True
    # compact_output=True adds a salted repartition before the write so each
    # vocab lands in few files, a giant vocab salted over its share of the
    # task slots (_salted_repartition).  False (default) writes straight
    # out of the dedup aggregate's partitioning — one fewer full-width
    # shuffle; skew is already neutralized because the dedup hash keys
    # (subj, pred, obj) distribute uniformly, and partitionBy splits files
    # per vocab within each task.
    compact_output: bool = False
    # reliable-checkpoint dir for the CC driver loop (HDFS/S3/shared fs):
    # run_pipeline opens a `fixpoint.checkpointing` scope on it around
    # the CC call and deletes the scope's subdir once the canon map
    # lands.  None = the policy in force (localCheckpoint, lossy under
    # executor loss on a real cluster, unless the caller opened a scope)
    cc_checkpoint_dir: str | None = None

    def key(self) -> dict:
        d = asdict(self)
        d.pop("resume")
        d.pop("cc_checkpoint_dir")  # where lineage truncates ≠ what's computed
        # bump whenever OUTPUT SEMANTICS change without a config change, so
        # whole-run resume can't serve stale pre-upgrade triples (v2:
        # sha256 over coalesced content, vocab-scoped canonicalization)
        d["pipeline_version"] = 2
        return d

    # per-stage cache keys: each stage's checkpoint is invalidated only by
    # the config fields that feed it — the re-layout knob (compact_output)
    # must NOT force upstream recomputes
    def key_s1(self) -> dict:
        return {
            "stage": "s1",
            # v2: concepts carry import_toks; edges derive from the
            # checkpoint (single content scan).  Bump invalidates v1
            # checkpoints that lack the column.
            "s1_version": 2,
            "source": self.source,
            "mode": self.mode,
            "concept_relationship_path": self.concept_relationship_path,
        }

    def key_s3(self) -> dict:
        return self.key_s1() | {
            "stage": "s3",
            "relationships": self.relationships,
            "vocabs": self.vocabs,
            "exclude_singletons": self.exclude_singletons,
            "dedupe": not self.canonicalize,
        }

    def key_s4(self) -> dict:
        return self.key_s1() | {
            "stage": "s4",
            # the equivalence graph is vocab-scoped (see run_pipeline) —
            # a different scope is a different canon map
            "vocabs": self.vocabs,
        }


def _load_inputs(
    spark: SparkSession, cfg: PipelineConfig, ckpt: CheckpointManager
) -> tuple[DataFrame, DataFrame]:
    if cfg.mode == "code":
        code = read_code_files(spark, cfg.source)
        # single content scan for the whole run: concepts carry the
        # per-file import tokens, and the edge stage derives everything
        # from this checkpoint — the 100 TB content column is never read
        # a second time
        concepts, _ = ckpt.get_or_compute(
            spark, "s1_concepts", lambda: derive_concepts(code),
            lineage_col="vocabulary_id", resume=cfg.resume,
        )
        edges, _ = ckpt.get_or_compute(
            spark, "s1_edges", lambda: derive_edges(concepts),
            lineage_col="relationship_id", resume=cfg.resume,
        )
    elif cfg.mode == "omop":
        concepts = read_concept(spark, cfg.source)
        edges = read_concept_relationship(spark, cfg.concept_relationship_path)
    else:
        raise ValueError(f"unknown mode {cfg.mode!r}")

    if cfg.vocabs:  # R8 (omop2owl_vocab.py:396-401); F4 subsumed by R7 —
        # forward edges need c1∈concepts, reverse need both, which is
        # strictly tighter than the reference's either-endpoint keep.
        concepts = concepts.filter(F.col("vocabulary_id").isin(cfg.vocabs))
    return concepts, edges


def _salted_repartition(
    triples: DataFrame, counts: dict[str, int], parallelism: int
) -> DataFrame:
    """Skew-aware final layout sized from ``counts`` (vocab → rows): a
    vocab with ``n_v`` of the ``N`` rows gets ``k_v = max(1, min(ceil(B ·
    n_v · P / N), n_v // MIN_BUCKET_ROWS))`` hash buckets for ``P =
    parallelism`` and ``B = BUCKETS_PER_SLOT``, so a giant vocab spreads
    over its fair share of the task slots, and a small vocab — or any
    vocab of a small output, however large ``P`` — lands in one task."""
    total = max(sum(counts.values()), 1)
    slots = BUCKETS_PER_SLOT * parallelism
    buckets = {
        v: max(1, min(math.ceil(n * slots / total), n // MIN_BUCKET_ROWS))
        for v, n in counts.items()
    }
    salt = F.lit(0)
    for v, k in buckets.items():
        if k > 1:
            salt = F.when(
                F.col("vocabulary_id") == v, F.pmod(F.xxhash64("subj"), F.lit(k))
            ).otherwise(salt)
    n_parts = max(sum(buckets.values()), 1)
    return triples.repartition(n_parts, F.col("vocabulary_id"), salt)


def run_pipeline(spark: SparkSession, cfg: PipelineConfig) -> dict:
    """Execute S1→S6; returns a report dict (the reference returns a dict of
    output paths, omop2owl_vocab.py:476,545)."""
    from omop2owl_vocab_spark.plans.checkpoint import config_hash

    ckpt_root = os.path.join(cfg.output_dir, "ckpt")
    # per-stage managers so a re-layout rerun (compact_output) reuses
    # every upstream checkpoint
    ckpt_s1 = CheckpointManager(ckpt_root, cfg.key_s1())
    ckpt_s3 = CheckpointManager(ckpt_root, cfg.key_s3())
    ckpt_s4 = CheckpointManager(ckpt_root, cfg.key_s4())
    full_hash = config_hash(cfg.key())
    report: dict = {"config_hash": full_hash, "stages": {}}

    out_dir = os.path.join(cfg.output_dir, "triples")
    manifest_path = os.path.join(cfg.output_dir, "_manifest.json")

    # C1-equivalent whole-run memoization FIRST — a valid final artifact
    # must short-circuit before any upstream stage recomputes (the
    # reference skips the whole run when the .db exists,
    # omop2owl_vocab.py:453-455; checkpoints may have been cleaned away)
    if cfg.resume and os.path.exists(os.path.join(out_dir, "_SUCCESS")):
        try:
            with open(manifest_path) as f:
                if json.load(f).get("config_hash") == full_hash:
                    report["stages"]["s6_write"] = {"cached": True}
                    report["output"] = out_dir
                    return report
        except (OSError, ValueError):
            # missing OR truncated manifest (non-atomic legacy writes /
            # kill mid-dump) → just recompute; never crash the resume path
            pass

    concepts, edges = _load_inputs(spark, cfg, ckpt_s1)

    # emission: skip the dedup shuffle here when canonicalization follows
    # (it dedupes after the rewrite; one full-width shuffle instead of two)
    triples, cached = ckpt_s3.get_or_compute(
        spark,
        "s3_triples_raw",
        lambda: emit_triples(
            concepts,
            edges,
            relationships=cfg.relationships,
            exclude_singletons=cfg.exclude_singletons,
            dedupe=not cfg.canonicalize,
        ),
        lineage_col="vocabulary_id",
        resume=cfg.resume,
    )
    report["stages"]["s3_triples_raw"] = {"cached": cached}

    if cfg.canonicalize:
        def _canon_map() -> DataFrame:
            eq = edges.filter(
                F.col("relationship_id").isin(*EQUIVALENCE_RELS)
            ).select(
                F.col("concept_id_1").alias("src"),
                F.col("concept_id_2").alias("dst"),
            )
            if cfg.vocabs:
                # scope the equivalence graph to in-scope concepts on BOTH
                # endpoints: a cross-vocab 'Maps to' edge must not rewrite
                # an in-scope subject to a canonical id that has no
                # class/label triples in this output (and would silently
                # drop the in-scope id).  `concepts` is already
                # vocab-filtered by _load_inputs.
                ids = concepts.select(F.col("concept_id").alias("src"))
                eq = eq.join(ids, "src", "left_semi").join(
                    ids.withColumnRenamed("src", "dst"), "dst", "left_semi"
                )
            with checkpointing(spark, cfg.cc_checkpoint_dir, "cc") as sub:
                labels, stats = connected_components(eq)
            if sub is not None:
                stats["checkpoint_subdir"] = sub
            report["stages"]["s4_link"] = stats
            return canonical_map(labels)

        canon, cached = ckpt_s4.get_or_compute(
            spark, "s4_canon_map", _canon_map, resume=cfg.resume
        )
        report["stages"]["s4_canon_map"] = {"cached": cached}
        # the canon map is materialized in its own checkpoint now — the
        # CC rounds' reliable checkpoint files (never auto-deleted by
        # Spark) are dead weight from here on
        # (local-fs deletion; object-store deployments should point
        # cc_checkpoint_dir at a lifecycle-ruled prefix instead)
        cc_subdir = report["stages"].get("s4_link", {}).get("checkpoint_subdir")
        if cc_subdir and os.path.isdir(cc_subdir):
            import shutil

            shutil.rmtree(cc_subdir, ignore_errors=True)
        # s5+s6 fused: canonical rewrite → dedup → salted write, one pass;
        # the partitioned output directory IS the s5 artifact (resume-wise
        # the _SUCCESS marker plays the checkpoint role)
        triples = canonicalize_triples(triples, canon)

    if cfg.compact_output:
        # salt from the raw-stage lineage: canonicalization only shrinks
        # counts slightly, and salting needs magnitude, not exactness
        final = _salted_repartition(
            triples,
            ckpt_s3.metrics("s3_triples_raw")["partition_lineage"],
            spark.sparkContext.defaultParallelism,
        )
    else:
        final = triples
    (
        final.write.mode("overwrite")
        .option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
        .partitionBy("vocabulary_id")
        .parquet(out_dir)
    )
    report["stages"]["s6_write"] = {"cached": False}

    # X4 (reference omop2owl_vocab.py:186,452,481): per-vocab artifact
    # names are space→dash normalized.  Partition values stay verbatim in
    # the table (data fidelity; Spark URL-escapes specials in dir names) —
    # the manifest records the reference-compatible artifact name each
    # vocab partition corresponds to.
    from urllib.parse import unquote

    from omop2owl_vocab_spark.api import merged_artifact_name

    per_vocab = {}
    for entry in sorted(os.listdir(out_dir)):
        if entry.startswith("vocabulary_id="):
            vocab = unquote(entry.split("=", 1)[1])
            per_vocab[vocab] = merged_artifact_name(
                f"{cfg.ontology_id}-{vocab}", [], "owl"
            )

    manifest = {
        "ontology_iri": ONTOLOGY_IRI_FMT.format(cfg.ontology_id),
        "config_hash": full_hash,
        "config": {k: str(v) for k, v in cfg.key().items()},
        "per_vocab_artifacts": per_vocab,
    }
    # atomic: a kill mid-dump must not leave a truncated manifest behind
    with open(manifest_path + ".tmp", "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(manifest_path + ".tmp", manifest_path)

    report["output"] = out_dir
    return report

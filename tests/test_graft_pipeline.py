"""Graft e2e (SURVEY §5.3): synthetic code_files → full pipeline.

Closed-form expectations from the generator (sources/synth.py):
  n=1000 → 50 same-content pairs (i % 20 == 19), 88 directory concepts
  (8 repos × (1 'src' + 10 'src/pkgN')), every file 3 path segments.
"""

import hashlib
import re
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from omop2owl_vocab_spark.plans.pipeline import PipelineConfig, run_pipeline
from omop2owl_vocab_spark.sources.synth import synth_code_files

N = 1000
N_DUP_PAIRS = 50   # i in [0,1000) with i % 20 == 19
N_DIRS = 88        # 8 repos × 11 distinct dir prefixes


@pytest.fixture(scope="module")
def pipeline_out(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("graft")
    src = str(root / "code_files")
    out = str(root / "out")
    synth_code_files(spark, N).write.mode("overwrite").parquet(src)
    cfg = PipelineConfig(source=src, output_dir=out)
    report = run_pipeline(spark, cfg)
    triples = spark.read.parquet(f"{out}/triples")
    return src, out, cfg, report, triples


def test_sha256_per_row_invariance(spark, pipeline_out):
    """Every src_sha256 in the output is the sha256 of a source content —
    verified against hashlib, independent of Spark's sha2."""
    src, _, _, _, triples = pipeline_out
    source_shas = {
        hashlib.sha256(r["content"].encode()).hexdigest()
        for r in spark.read.parquet(src).collect()
    }
    out_shas = {
        r["src_sha256"]
        for r in triples.filter(F.col("src_sha256") != "").select("src_sha256").distinct().collect()
    }
    assert out_shas == source_shas


def test_canonicalization_merges_dup_pairs(spark, pipeline_out):
    _, _, _, _, triples = pipeline_out
    n_classes = triples.filter(F.col("pred") == "rdf:type").count()
    assert n_classes == N + N_DIRS - N_DUP_PAIRS


def test_containment_edges(spark, pipeline_out):
    _, _, _, _, triples = pipeline_out
    sc = triples.filter(F.col("pred") == "rdfs:subClassOf")
    # every file → parent dir; every 2-level dir → 'src'. Canonicalization
    # merges 50 duplicate subjects whose parent dir coincides... it cannot:
    # dup pairs are adjacent i, same pkg only if i//40 equal — always true
    # for i, i-1 unless i % 40 == 0; pairs (18,19 mod 20) share i//40, and
    # repos differ, so dirs differ → no subClassOf dedup from merging subj
    # EXCEPT the subject merge itself (two files → one canonical node with
    # two parent-dir edges, both kept). So: N file edges + 80 dir edges,
    # minus dedup where merged pair shares (subj, parent): never (repos
    # differ → parent dir concept differs).
    assert sc.count() == N + 80


def test_import_edges_resolve(spark, pipeline_out):
    _, _, _, _, triples = pipeline_out
    n_imports = triples.filter(F.col("pred") == "omoprel:imports").count()
    # imp1 resolves for most rows (same-repo residue construction); imp2
    # dangles. Require a healthy majority rather than an exact count.
    assert n_imports > N * 0.8


def test_vocab_partition_layout(spark, pipeline_out):
    _, out, _, _, triples = pipeline_out
    vocabs = {r[0] for r in triples.select("vocabulary_id").distinct().collect()}
    assert "python" in vocabs and "Metadata" in vocabs
    # skew analog present: python dominates
    counts = dict(
        triples.groupBy("vocabulary_id").count().collect()
    )
    assert counts["python"] == max(counts.values())


def test_resume_skips_stages(spark, pipeline_out):
    src, out, cfg, _, triples = pipeline_out
    n1 = triples.count()
    report2 = run_pipeline(spark, cfg)
    cached = {
        k: v.get("cached")
        for k, v in report2["stages"].items()
        if isinstance(v, dict) and "cached" in v
    }
    assert all(cached.values()), cached
    assert spark.read.parquet(f"{out}/triples").count() == n1


def _reference_edges(rows, file_ids):
    """The s1 edge bag from the raw code_files rows in plain Python, each
    edge as (relationship_id, (repo, path), (repo, path)).  ``file_ids``
    ((repo, path) → concept_id) only picks each same-content star's hub,
    the group's min concept_id."""
    parent = lambda p: p.rsplit("/", 1)[0]  # noqa: E731
    edges = Counter()
    dirs = set()
    by_content = defaultdict(list)
    targets = defaultdict(list)
    for r in rows:
        key = (r.repo, r.path)
        parts = r.path.split("/")
        if len(parts) > 1:
            edges["Is a", key, (r.repo, parent(r.path))] += 1
            stem = re.sub(r"\.[^.]+$", "", parts[-1])
            targets[r.repo, f"{parts[-2]}.{stem}"].append(key)
        dirs |= {(r.repo, "/".join(parts[:k])) for k in range(1, len(parts))}
        by_content[r.content or ""].append(key)
    for repo, d in dirs:
        if "/" in d:
            edges["Is a", (repo, d), (repo, parent(d))] += 1
    for group in by_content.values():
        hub = min(group, key=file_ids.__getitem__)
        for key in group:
            if key != hub:
                edges["Maps to", key, hub] += 1
    for r in rows:
        for tok in re.findall(r"import\s+(pkg\d+\.mod\d+)", r.content or ""):
            for dst in targets[r.repo, tok]:
                if dst != (r.repo, r.path):
                    edges["imports", (r.repo, r.path), dst] += 1
    return edges


def test_edges_match_python_reference(spark):
    """derive_edges over derive_concepts equals an independent pure-Python
    derivation of the containment, same-content star and import edges."""
    from omop2owl_vocab_spark.plans.derive import derive_concepts, derive_edges

    code = synth_code_files(spark, 1000)
    concepts = derive_concepts(code)
    node = {
        c.concept_id: (c.domain_id, c.concept_code)
        for c in concepts.select("concept_id", "domain_id", "concept_code").collect()
    }
    file_ids = {
        (c.domain_id, c.concept_code): c.concept_id
        for c in concepts.filter(F.col("src_sha256") != "").collect()
    }
    got = Counter(
        (e.relationship_id, node[e.concept_id_1], node[e.concept_id_2])
        for e in derive_edges(concepts).collect()
    )
    want = _reference_edges(code.collect(), file_ids)
    assert {rel for rel, _, _ in want} == {"Is a", "Maps to", "imports"}
    assert got == want, (got - want, want - got)

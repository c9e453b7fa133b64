"""G1/G2: connected components + canonical rewrite unit tests."""

from pyspark.sql import Row

from omop2owl_vocab_spark.operators.canon import canonicalize_triples
from omop2owl_vocab_spark.operators.fixpoint import checkpointing
from omop2owl_vocab_spark.operators.link import canonical_map, connected_components


def _edges(spark, pairs):
    return spark.createDataFrame([Row(src=a, dst=b) for a, b in pairs])


def test_cc_two_components(spark):
    labels, stats = connected_components(
        _edges(spark, [("2", "1"), ("2", "3"), ("5", "4"), ("9", "9")])
    )
    got = {r["node"]: r["label"] for r in labels.collect()}
    # '9'→'9' self-loop is dropped; singleton nodes never enter the graph
    assert got == {"1": "1", "2": "1", "3": "1", "4": "4", "5": "4"}
    assert stats["changed_per_round"][-1] == 0


def test_cc_chain_converges(spark):
    # path graph 1-2-3-4-5-6: diameter 5, min label must reach the far end
    pairs = [(str(i), str(i + 1)) for i in range(1, 6)]
    labels, stats = connected_components(_edges(spark, pairs))
    got = {r["node"]: r["label"] for r in labels.collect()}
    assert set(got.values()) == {"1"}
    assert stats["rounds"] <= 6


def test_canonical_rewrite(spark):
    labels, _ = connected_components(_edges(spark, [("20", "10")]))
    cmap = canonical_map(labels)
    assert {tuple(r) for r in cmap.collect()} == {("20", "10")}
    triples = spark.createDataFrame(
        [
            Row(subj="OMOP:20", pred="rdf:type", obj="owl:Class",
                obj_is_literal=False, vocabulary_id="x", src_sha256=""),
            Row(subj="OMOP:10", pred="rdf:type", obj="owl:Class",
                obj_is_literal=False, vocabulary_id="x", src_sha256=""),
            Row(subj="OMOP:30", pred="rdfs:subClassOf", obj="OMOP:20",
                obj_is_literal=False, vocabulary_id="x", src_sha256=""),
            # literal obj that looks like a member id must NOT be rewritten
            Row(subj="OMOP:30", pred="rdfs:label", obj="OMOP:20",
                obj_is_literal=True, vocabulary_id="x", src_sha256=""),
        ]
    )
    out = {
        (r["subj"], r["pred"], r["obj"])
        for r in canonicalize_triples(triples, cmap).collect()
    }
    assert out == {
        ("OMOP:10", "rdf:type", "owl:Class"),  # 20 merged into 10, deduped
        ("OMOP:30", "rdfs:subClassOf", "OMOP:10"),
        ("OMOP:30", "rdfs:label", "OMOP:20"),
    }


def test_cc_long_chain_pointer_doubling(spark):
    # path graph of 60 nodes (zero-padded so lexicographic min == numeric
    # min): diameter 59 — naive min-label needs ~59 rounds, pointer
    # doubling must converge in O(log n)
    pairs = [(f"{i:03d}", f"{i+1:03d}") for i in range(1, 60)]
    labels, stats = connected_components(_edges(spark, pairs), max_iter=12)
    got = {r["label"] for r in labels.collect()}
    assert got == {"001"}
    assert stats["converged"] and stats["rounds"] <= 12


def test_cc_adversarial_topologies_round_bound(spark, tmp_path):
    """Adversarial shapes the star-shaped mapping graphs never exercise:
    a 300-node path (diameter 299), a 64-cycle, and a 2-node component in
    ONE graph.  Pins the pointer-doubling guarantee — rounds ≤
    ⌈log2(diameter)⌉ + 2 (the +2 = the doubling-free first round and the
    final zero-change detection round) — on both the localCheckpoint and
    the reliable-checkpoint paths, far under the naive O(diameter)."""
    import math

    pairs = [(f"n{i:04d}", f"n{i+1:04d}") for i in range(299)]
    pairs += [(f"c{i:03d}", f"c{(i + 1) % 64:03d}") for i in range(64)]
    pairs += [("z1", "z2")]
    bound = math.ceil(math.log2(299)) + 2  # = 11

    for ckpt in (None, str(tmp_path / "cc_ckpt")):
        with checkpointing(spark, ckpt, "cc"):
            labels, stats = connected_components(
                _edges(spark, pairs), max_iter=bound
            )
            got = {r["node"]: r["label"] for r in labels.collect()}
        assert stats["converged"] and stats["rounds"] <= bound, stats
        assert stats["changed_per_round"][-1] == 0
        assert all(got[f"n{i:04d}"] == "n0000" for i in range(300))
        assert all(got[f"c{i:03d}"] == "c000" for i in range(64))
        assert got["z1"] == got["z2"] == "z1"
        assert len(got) == 300 + 64 + 2

    # the same graph under the round cap trips the guard, not a silent
    # wrong answer (naive propagation would need ~299 rounds)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(_edges(spark, pairs), max_iter=4)


def test_cc_nonconvergence_raises(spark):
    import pytest as _pytest

    pairs = [(f"{i:03d}", f"{i+1:03d}") for i in range(1, 60)]
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(_edges(spark, pairs), max_iter=2)


def test_triples_diff_and_distributed_pr(spark):
    from omop2owl_vocab_spark.operators.diff import precision_recall, triples_diff

    a = spark.createDataFrame(
        [Row(subj="s1", pred="p", obj="o1"), Row(subj="s2", pred="p", obj="o2")]
    )
    b = spark.createDataFrame(
        [Row(subj="s1", pred="p", obj="o1"), Row(subj="s3", pred="p", obj="o3")]
    )
    d = triples_diff(a, b)
    assert {tuple(r) for r in d["added"].collect()} == {("s2", "p", "o2")}
    assert {tuple(r) for r in d["removed"].collect()} == {("s3", "p", "o3")}
    p, r = precision_recall(a, b)
    assert (p, r) == (0.5, 0.5)


def test_cc_reliable_checkpoint_dir(spark, tmp_path):
    """A checkpointing scope switches per-round lineage truncation to
    reliable checkpoints (cluster-safe); results identical to
    localCheckpoint."""
    import os

    ckpt_dir = str(tmp_path / "cc_ckpt")
    pairs = [(str(i), str(i + 1)) for i in range(1, 6)]
    with checkpointing(spark, ckpt_dir, "cc"):
        labels, stats = connected_components(_edges(spark, pairs))
        got = {r["node"]: r["label"] for r in labels.collect()}
    assert set(got.values()) == {"1"}
    assert stats["converged"]
    # reliable checkpoint blocks actually landed in the directory
    assert any(os.scandir(ckpt_dir))


def test_vocab_scoped_canonicalization(spark, tmp_path):
    """ADVICE r1 (medium): with vocabs scoping + canonicalize=True, a
    cross-vocab 'Maps to' edge must NOT rewrite an in-scope subject to an
    out-of-scope canonical id (which has no class/label triples here)."""
    import pandas as pd

    from omop2owl_vocab_spark.plans.pipeline import PipelineConfig, run_pipeline

    cdir = tmp_path / "in"
    cdir.mkdir()
    cols = ["concept_id", "concept_name", "domain_id", "vocabulary_id",
            "concept_class_id", "standard_concept", "concept_code",
            "valid_start_date", "valid_end_date", "invalid_reason"]
    # ids are strings end-to-end and the canonical label is the
    # lexicographic min — '050' < '100' makes the OUT-of-scope concept the
    # component canonical, which is exactly the reported failure shape
    pd.DataFrame(
        [
            ["100", "in-scope", "D", "A", "K", "S", "100", "", "", ""],
            ["050", "out-of-scope", "D", "B", "K", "S", "050", "", "", ""],
        ],
        columns=cols,
    ).to_csv(cdir / "concept.csv", index=False)
    rcols = ["concept_id_1", "concept_id_2", "relationship_id",
             "valid_start_date", "valid_end_date", "invalid_reason"]
    pd.DataFrame(
        [["100", "050", "Maps to", "", "", ""]],
        columns=rcols,
    ).to_csv(cdir / "concept_relationship.csv", index=False)

    out = str(tmp_path / "out")
    report = run_pipeline(
        spark,
        PipelineConfig(
            source=str(cdir / "concept.csv"),
            concept_relationship_path=str(cdir / "concept_relationship.csv"),
            mode="omop",
            output_dir=out,
            relationships=["ALL"],
            vocabs=["A"],
            canonicalize=True,
            resume=False,
        ),
    )
    triples = spark.read.parquet(report["output"])
    subjects = {r[0] for r in triples.select("subj").distinct().collect()}
    # the in-scope concept survives under its own id; nothing references
    # the out-of-scope canonical
    assert "OMOP:100" in subjects
    assert "OMOP:050" not in subjects


def test_cc_checkpoint_subdir_cleanup_via_pipeline(spark, tmp_path):
    """Reliable CC checkpoints live in a unique per-run subdir (surfaced in
    stats) and the pipeline deletes it once the canon map checkpoint is
    materialized — Spark never cleans these files itself."""
    import os

    import pandas as pd

    from omop2owl_vocab_spark.plans.pipeline import PipelineConfig, run_pipeline

    cdir = tmp_path / "in"
    cdir.mkdir()
    cols = ["concept_id", "concept_name", "domain_id", "vocabulary_id",
            "concept_class_id", "standard_concept", "concept_code",
            "valid_start_date", "valid_end_date", "invalid_reason"]
    pd.DataFrame(
        [["1", "a", "D", "V", "K", "S", "1", "", "", ""],
         ["2", "b", "D", "V", "K", "S", "2", "", "", ""]],
        columns=cols,
    ).to_csv(cdir / "concept.csv", index=False)
    rcols = ["concept_id_1", "concept_id_2", "relationship_id",
             "valid_start_date", "valid_end_date", "invalid_reason"]
    pd.DataFrame([["2", "1", "Maps to", "", "", ""]], columns=rcols).to_csv(
        cdir / "concept_relationship.csv", index=False
    )
    cc_dir = str(tmp_path / "cc_ckpt")
    report = run_pipeline(
        spark,
        PipelineConfig(
            source=str(cdir / "concept.csv"),
            concept_relationship_path=str(cdir / "concept_relationship.csv"),
            mode="omop", output_dir=str(tmp_path / "out"),
            relationships=["ALL"], canonicalize=True, resume=False,
            cc_checkpoint_dir=cc_dir,
        ),
    )
    sub = report["stages"]["s4_link"]["checkpoint_subdir"]
    assert sub.startswith(cc_dir)
    assert not os.path.exists(sub)  # cleaned after canon-map checkpoint
    # and the canonicalization actually happened off those checkpoints
    subs = {r[0] for r in spark.read.parquet(report["output"])
            .select("subj").distinct().collect()}
    assert "OMOP:2" not in subs  # merged into OMOP:1


def test_cc_random_graph_vs_union_find(spark):
    """CC on a 3k-edge seeded random graph must equal a plain union-find —
    coverage beyond chains/stars (cycles, multi-merges, self-loops)."""
    import random

    rng = random.Random(42)
    n_nodes, n_edges = 2000, 3000
    pairs = [
        (f"{rng.randrange(n_nodes):05d}", f"{rng.randrange(n_nodes):05d}")
        for _ in range(n_edges)
    ]
    labels, stats = connected_components(_edges(spark, pairs))
    got = {r["node"]: r["label"] for r in labels.collect()}

    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a != b:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    # expected label = min node id in each component, over non-singleton
    # nodes only (CC never sees nodes without an edge)
    touched = {a for a, b in pairs if a != b} | {b for a, b in pairs if a != b}
    comps: dict = {}
    for x in touched:
        comps.setdefault(find(x), set()).add(x)
    want = {x: min(members) for root, members in comps.items() for x in members}
    assert got == want
    assert stats["converged"]

"""Physical-plan regression tests: the properties that make the engine
scale must be visible in `explain` output, not just assumed.

- filters reach the parquet scan (PushedFilters),
- small dims broadcast in the emission join,
- the fused canonicalize→write path contains exactly ONE full-width
  exchange (the dedup aggregate) — a second one is a regression.
"""

import glob

from pyspark.sql import functions as F

from omop2owl_vocab_spark.operators.canon import canonicalize_triples
from omop2owl_vocab_spark.operators.emit import emit_triples


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_parquet(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    df = li.filter(F.col("l_returnflag") == "A").select("l_orderkey")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # r6: constraintPropagation is disabled session-wide (iterative-loop
    # predicate explosion — see session.py), which drops the REDUNDANT
    # inferred IsNotNull from the pushed list; EqualTo alone excludes
    # NULLs at the scan, so pushdown strength is unchanged.
    assert "EqualTo(l_returnflag,A)" in plan
    assert "PushedFilters: [" in plan
    # column pruning: scan must not read all 11 columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_returnflag:string>" in plan


def test_emission_join_broadcasts_small_dim(spark):
    from omop2owl_vocab_spark.sources.omop import (
        read_concept,
        read_concept_relationship,
    )

    concept = sorted(glob.glob("/root/reference/test/input/*/concept.csv"))
    rel = sorted(
        glob.glob("/root/reference/test/input/*/concept_relationship.csv")
    )
    df = emit_triples(
        read_concept(spark, concept),
        read_concept_relationship(spark, rel),
        ["ALL"],
    )
    assert "BroadcastHashJoin" in _plan(df)


def test_single_exchange_in_canon_dedup_path(spark):
    from pyspark.sql import Row

    triples = spark.createDataFrame(
        [
            Row(subj=f"OMOP:{i}", pred="rdf:type", obj="owl:Class",
                obj_is_literal=False, vocabulary_id="V", src_sha256="")
            for i in range(100)
        ]
    )
    # the pipeline broadcasts the canon map explicitly when its checkpoint
    # metrics show it small (local relations have no stats → SMJ otherwise)
    canon = F.broadcast(spark.createDataFrame([Row(member="5", canonical="1")]))
    out = canonicalize_triples(triples, canon)
    plan = _plan(out)
    # both canon joins must broadcast; only the dedup aggregate exchanges
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan
    assert plan.count("BroadcastHashJoin") == 2, plan


def test_output_partition_pruning(spark, tmp_path):
    """Reading one vocabulary from the partitioned output must prune
    partitions at the scan (the reason the table is vocab-partitioned)."""
    from omop2owl_vocab_spark.plans.pipeline import PipelineConfig, run_pipeline
    from omop2owl_vocab_spark.sources.synth import synth_code_files

    src = str(tmp_path / "cf")
    out = str(tmp_path / "out")
    synth_code_files(spark, 500).write.parquet(src)
    run_pipeline(spark, PipelineConfig(source=src, output_dir=out))
    df = spark.read.parquet(f"{out}/triples").filter(
        F.col("vocabulary_id") == "python"
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # the vocabulary_id equality must sit INSIDE the scan's partition
    # filter list — an empty list, or the same predicate in a post-scan
    # Filter node, would mean no pruning.  (With constraintPropagation
    # disabled the inferred isnotnull no longer rides that list; the
    # equality alone prunes, as it never matches a NULL partition value.)
    import re

    m = re.search(r"PartitionFilters: \[(.*)\]$", plan, re.M)
    assert m, plan
    assert re.search(r"\(vocabulary_id#\d+ = python\)", m.group(1)), m.group(0)


def test_edge_stage_never_rereads_content(spark, tmp_path):
    """Single-content-scan property: with the token-carrying concepts
    checkpoint, the edge derivation's physical plan must not read the
    code_files source at all — only the (narrow) checkpoint parquet."""
    from omop2owl_vocab_spark.plans.derive import derive_concepts, derive_edges
    from omop2owl_vocab_spark.sources.synth import synth_code_files

    src = str(tmp_path / "code_files")
    ckpt = str(tmp_path / "s1_concepts")
    synth_code_files(spark, 500).write.parquet(src)
    code = spark.read.parquet(src)
    derive_concepts(code, with_import_toks=True).write.parquet(ckpt)
    concepts = spark.read.parquet(ckpt)

    edges = derive_edges(code, concepts=concepts)
    plan = _plan(edges)
    assert "code_files" not in plan  # zero scans of the source table
    assert "content" not in plan  # the wide column never enters any scan
    assert edges.count() > 0


def test_ivf_assign_broadcasts_centroids(spark):
    """The centroid dim must broadcast — a shuffled join on a 16-row side
    would be a regression."""
    from omop2owl_vocab_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 16)
    plan = _plan(S.ivf_assign(emb, cents))
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_ivf_corpus_assignment_has_no_window(spark):
    """rank_limit=1 (corpus assignment) must be a partial-aggregating
    min_by, not a row_number window: a window over the n×C scored rows
    shuffles the whole cross product (r2 verdict #3)."""
    from omop2owl_vocab_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 16)
    plan = _plan(S.ivf_assign(emb, cents, rank_limit=1))
    assert "Window" not in plan, plan
    # partial aggregation before the exchange is the point of min_by
    assert "partial_min_by" in plan.lower() or "HashAggregate" in plan, plan
    # the multi-probe query side (tiny) legitimately keeps the window
    plan2 = _plan(S.ivf_assign(emb.limit(10), cents, rank_limit=2))
    assert "Window" in plan2


def test_hyperplane_weights_not_recomputed_per_row(spark):
    """The ±1 weight matrix is plan-time constant — no md5/concat may
    appear inside the projection lambdas (r2 verdict #2: per-row
    recomputation cost n_bits×dim md5 calls per row)."""
    from omop2owl_vocab_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _optimized(S.hyperplane_buckets(emb, n_bits=8, dim=16))
    assert "md5" not in plan.lower(), plan
    assert "concat_ws" not in plan.lower(), plan


def test_emission_prunes_import_toks(spark, tmp_path):
    """The s1_concepts checkpoint carries the (wide) import_toks array for
    the edge stage only — the emission read must prune it at the parquet
    scan (ReadSchema), or every s3 task decodes the widest column of the
    checkpoint for nothing."""
    from omop2owl_vocab_spark.operators.emit import emit_triples
    from omop2owl_vocab_spark.plans.derive import derive_concepts, derive_edges
    from omop2owl_vocab_spark.sources.synth import synth_code_files

    src = str(tmp_path / "code_files")
    ckpt_c = str(tmp_path / "s1_concepts")
    ckpt_e = str(tmp_path / "s1_edges")
    synth_code_files(spark, 300).write.parquet(src)
    code = spark.read.parquet(src)
    derive_concepts(code, with_import_toks=True).write.parquet(ckpt_c)
    concepts = spark.read.parquet(ckpt_c)
    derive_edges(code, concepts=concepts).write.parquet(ckpt_e)
    edges = spark.read.parquet(ckpt_e)

    plan = _plan(emit_triples(concepts, edges, relationships=["ALL"]))
    assert "import_toks" not in plan, plan[:3000]


def test_curation_survivors_cached_once(spark):
    """curation_decision persists the quality-verdict and survivor frames
    (r2 verdict #4): every downstream consumer (exact dedup, near-dup
    groups, final join) must read the cache, not re-derive the
    gopher/repetition lineage with fresh text scans."""
    from omop2owl_vocab_spark.operators.curate import curation_decision

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = curation_decision(docs)
    plan = _plan(out)
    # verdicts feed the final join + the survivor filter; survivors feed
    # both dedup stages (each of which consumes them multiple times) —
    # all of those arrivals must be InMemoryTableScan nodes
    assert plan.count("InMemoryTableScan") >= 4, plan[:2000]


def test_pii_scrub_single_pass(spark):
    """The fused pii_scrub is one projection: no join, one scan, and each
    PII pattern evaluated once per purpose — one regexp_extract_all
    (count) and one regexp_replace (scrub) per pattern.  The unfused
    flags⋈redact form evaluates every pattern twice and shuffles on id
    (r3 verdict #2)."""
    from omop2owl_vocab_spark.operators.text import pii_scrub

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = pii_scrub(docs)
    phys = _plan(out)
    assert "Join" not in phys, phys[:2000]
    assert "Exchange" not in phys, phys[:2000]
    opt = _optimized(out)
    # 2 patterns × (1 extract + 1 replace) — nothing duplicated
    assert opt.count("regexp_extract_all") == 2, opt[:3000]
    assert opt.count("regexp_replace") == 2, opt[:3000]


def test_pack_slices_no_extra_exchange(spark):
    """The slice explode is narrow: the composed pack→slices plan keeps
    exactly the ONE exchange the per-shard window needs — a second
    shuffle would mean the splitter re-partitioned the fan-out."""
    from omop2owl_vocab_spark.operators.pack import pack_documents, pack_slices

    docs = spark.range(500).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.col("id"), 300) + 1).cast("long").alias("n_tokens"),
    )
    plan = _plan(
        pack_slices(pack_documents(docs, n_tokens_col="n_tokens"), 2048)
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]


def test_token_vocab_take_ordered(spark):
    """Top-k must execute as TakeOrderedAndProject (per-partition heaps)
    with a partial aggregate before the single token shuffle — a global
    Sort node or a second exchange is a regression."""
    from omop2owl_vocab_spark.operators.text import token_vocab

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(token_vocab(docs, top_k=100))
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "partial_count" in plan.lower() or "HashAggregate" in plan, plan[:2000]


def test_subword_counts_pure_projection(spark):
    """The greedy subword fold must stay a single narrow projection over
    one scan — any Exchange, Join, or Python evaluation node means the
    tokenizer fell off the JVM fast path."""
    from omop2owl_vocab_spark.operators.tokenize import subword_token_counts

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(subword_token_counts(docs))
    assert "Exchange" not in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    assert "Python" not in plan, plan[:2000]


def test_pack_bpe_single_exchange(spark):
    """tokenizer → pack_documents composed: exactly ONE exchange (the
    per-shard window partitioning) — the tokenizer must not add a
    shuffle of its own."""
    from omop2owl_vocab_spark.operators.pack import pack_documents
    from omop2owl_vocab_spark.operators.tokenize import subword_token_counts

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(pack_documents(subword_token_counts(docs), n_tokens_col="n_tokens"))
    assert plan.count("Exchange hashpartitioning") == 1, plan[:3000]


def test_owl_fragments_single_aggregate(spark):
    """Per-class fragment assembly is ONE groupBy on subj — a second
    full-width exchange would mean string assembly escaped the aggregate."""
    from pyspark.sql import Row

    from omop2owl_vocab_spark.operators.owl import owl_class_fragments

    triples = spark.createDataFrame(
        [
            Row(subj="OMOP:1", pred="rdf:type", obj="owl:Class",
                obj_is_literal=False, vocabulary_id="V", src_sha256=""),
            Row(subj="OMOP:1", pred="rdfs:label", obj="x",
                obj_is_literal=True, vocabulary_id="V", src_sha256=""),
        ]
    )
    plan = _plan(owl_class_fragments(triples))
    # exactly one shuffle (the subj hash-aggregate)
    assert plan.count("Exchange hashpartitioning") <= 1


def test_kmv_window_group_limit_partial(spark):
    """The KMV sketch's whole scale story is the WindowGroupLimit
    PARTIAL push: each map task forwards at most k rows per group, so
    the exchange carries O(groups·k), not O(distinct).  Both the
    Partial and Final limit nodes must be present."""
    from omop2owl_vocab_spark.operators.sketch import kmv_distinct

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    toks = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("token")
    )
    plan = _plan(kmv_distinct(toks, ["lang"], "token", k=64))
    assert "WindowGroupLimit" in plan, plan[:2000]
    assert "Partial" in plan, plan[:2000]


def test_mixture_sample_shuffle_free(spark):
    """mixture_sample claims to be a pure projection + explode — any
    Exchange or Python node means the partitioning-invariant sampler
    fell off the narrow path."""
    from omop2owl_vocab_spark.operators.sample import mixture_sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(
        mixture_sample(
            docs.select("doc_id", "source"), {"src0": 0.5, "src1": 2.5}
        )
    )
    assert "Exchange" not in plan, plan[:2000]
    assert "Python" not in plan, plan[:2000]


def test_interval_join_is_hash_equi_join(spark):
    """interval_join exists to avoid the range-join explosion: the plan
    must contain a hash equi-join (sort-merge or broadcast-hash) and no
    BroadcastNestedLoopJoin / CartesianProduct."""
    from omop2owl_vocab_spark.operators.asof import interval_join

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    pts = ev.select("event_id", "user_id", "ts")
    ivs = ev.select(
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 6 HOURS")).alias("end"),
    )
    plan = _plan(interval_join(pts, ivs, on="user_id"))
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or (
        "ShuffledHashJoin" in plan
    ), plan[:2000]


def test_keyed_diff_single_join(spark):
    """keyed_diff is ONE full-outer join + a projection — a second Join
    node (e.g. a re-join for changed_cols) would double the cost."""
    from omop2owl_vocab_spark.operators.diff import keyed_diff

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    old = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    plan = _plan(keyed_diff(old, old, ["o_orderkey"]))
    assert plan.count("Join") == 1, plan[:2000]


def test_histogram_single_aggregate(spark):
    """group_histogram must compile to one partial+final hash-aggregate
    pair over one exchange — and no Expand/Window nodes."""
    from omop2owl_vocab_spark.operators.stats import group_histogram

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(group_histogram(docs, ["lang"], "n_chars", 200, 0, 4000))
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
    assert "Window" not in plan, plan[:2000]


def test_url_dedup_join_free_single_pass(spark):
    from omop2owl_vocab_spark.operators.text import url_dedup

    docs = spark.createDataFrame(
        [(1, "x https://a.io/p")], "doc_id long, text string"
    )
    plan = _plan(url_dedup(docs))
    # canonicalization is a pure projection chain: no join, no window;
    # the only exchanges are the canonical-key aggregate's
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("Exchange") == 2


def test_trigram_lm_two_linear_shuffles(spark):
    from omop2owl_vocab_spark.operators.text import trigram_lm

    docs = spark.createDataFrame(
        [(1, "a b c d")], "doc_id long, text string"
    )
    plan = _plan(trigram_lm(docs))
    # type-count hash-agg + context-total window: two key-partitioned
    # exchanges, one sort (the window's), and never a join
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("Sort [") == 1


def test_reciprocity_no_self_join(spark):
    from omop2owl_vocab_spark.operators.graph import reciprocity

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    # the pair-grouping formulation replaces the edge ⋈ reversed-edge
    # semi-join entirely
    assert "Join" not in _plan(reciprocity(edges))


def test_prefix_sum_distributed_scan_shape(spark):
    from omop2owl_vocab_spark.operators.scan import global_prefix_sum

    kv = spark.createDataFrame([(1, 2)], "k long, v long")
    plan = _plan(global_prefix_sum(kv, [F.col("k").asc()], "v"))
    # the data path is range-partitioned (never one global-sort task);
    # the ONLY single-partition exchange is the ≤#partitions-row offset
    # fold, and offsets come back via a broadcast join
    assert "rangepartitioning" in plan
    assert plan.count("Exchange SinglePartition") == 1
    assert "BroadcastHashJoin" in plan


def test_interval_merge_one_sort_one_exchange(spark):
    from omop2owl_vocab_spark.operators.timeseries import interval_merge

    iv = spark.createDataFrame([("a", 1, 2)], "k string, s long, e long")
    plan = _plan(interval_merge(iv, ["k"], "s", "e"))
    # both window passes share one sort; the island aggregate reuses
    # the window's key partitioning (hash on k satisfies (k, island)),
    # so the whole operator is ONE exchange and ONE sort
    assert "Join" not in plan
    assert plan.count("Sort [") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_skyline_no_dominance_self_join(spark):
    from omop2owl_vocab_spark.operators.scan import skyline_2d

    df = spark.createDataFrame([(1, 2)], "x long, y long")
    plan = _plan(skyline_2d(df, "x", "y"))
    # distributed sweep, not the O(n²) dominance join: range-partitioned
    # data path, exactly one single-partition exchange (the tiny
    # partition-minima fold), offsets back via broadcast — and no
    # nested-loop/cartesian anywhere
    assert "rangepartitioning" in plan
    assert plan.count("Exchange SinglePartition") == 1
    assert "BroadcastHashJoin" in plan
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan

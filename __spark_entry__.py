"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: full KG triple emission (R1-R6 semantics,
SURVEY §1.4) over TPC-H-shaped concept/edge derivations at sf0.001.

``queries()`` / ``oracle_sql()`` — one entry per operator family from
SURVEY §2 plus the training-data-pipeline operators (dedup, similarity,
text analysis).  Every float-valued output is exported as
``floor(x*10^k + 0.5)`` fixed-point so the DuckDB comparison is exact.
Every entry has a SQL oracle: the LSH family (minhash, simhash, hyperplane
ANN) uses md5-derived hashing in these driver queries so DuckDB re-derives
the identical signatures/buckets, the subword tokenizer is replayed by a
recursive CTE over distinct words, and the multimodal feature extractor
exports an exact-integer long form — 131/131 hash-checkable (r5;
CORRECTNESS_FULL_r05.json carries the full record since the driver
harness truncates at the first 50 dict entries — newest queries lead).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the engine package lives beside this file; make imports robust to the
# driver's working directory
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF0001 = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _docs64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents, spread to 64 partitions: the testdata parquet is a single
    row-group (1 scan split), which would serialize the expensive
    shingle/md5 map side of the dedup chains on one core.  Real corpora
    arrive in thousands of splits; the repartition emulates that shape
    (measured 2.5× on the minhash chain at sf0.1) and changes no results —
    every downstream op is key-based."""
    return _t(spark, sf_dir, "documents").repartition(64)


def _custkey_edges(
    spark: SparkSession, sf_dir: str, skip: bool = True
) -> DataFrame:
    """The deterministic customer-key graph shared by the graph-family
    queries (kg_triangles / kg_kcore / kg_bfs / kg_lpa): chain k→k+1,
    optional skip k→k+2 (consecutive-triple triangles), and the
    (7k+3) mod 1000 cross edge (cycles + hub funnels toward low keys).
    Any change here must be mirrored in each query's SQL oracle — they
    restate the same closed form."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    e = cust.select(
        F.col("c_custkey").alias("src"),
        (F.col("c_custkey") + 1).alias("dst"),
    )
    if skip:
        e = e.unionByName(
            cust.select(
                F.col("c_custkey").alias("src"),
                (F.col("c_custkey") + 2).alias("dst"),
            )
        )
    return e.unionByName(
        cust.select(
            F.col("c_custkey").alias("src"),
            F.expr("(c_custkey * 7 + 3) % 1000").alias("dst"),
        )
    )


# ---------------------------------------------------------------- flagship

def _kg_concepts_edges(spark: SparkSession, sf_dir: str):
    """Deterministic OMOP-shaped derivation from TPC-H tables:
    concepts = customers ∪ nations; edges = customer-'Is a'-nation,
    customer-'lives in/near'-nation (sanitizer path), nation-'Region of'-
    region (dangling objects — no region concepts exist → exercises the R7
    forward-edge asymmetry)."""
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    empty = F.lit("")

    c_concepts = customer.select(
        F.col("c_custkey").cast("string").alias("concept_id"),
        F.col("c_name").alias("concept_name"),
        F.lit("customer").alias("domain_id"),
        F.col("c_mktsegment").alias("vocabulary_id"),
        F.lit("cust").alias("concept_class_id"),
        F.lit("S").alias("standard_concept"),
        F.col("c_custkey").cast("string").alias("concept_code"),
        empty.alias("valid_start_date"),
        empty.alias("valid_end_date"),
        empty.alias("invalid_reason"),
    )
    n_concepts = nation.select(
        F.concat(F.lit("N"), F.col("n_nationkey").cast("string")).alias("concept_id"),
        F.col("n_name").alias("concept_name"),
        F.lit("nation").alias("domain_id"),
        F.lit("Geo").alias("vocabulary_id"),
        F.lit("nation").alias("concept_class_id"),
        F.lit("S").alias("standard_concept"),
        F.col("n_name").alias("concept_code"),
        empty.alias("valid_start_date"),
        empty.alias("valid_end_date"),
        empty.alias("invalid_reason"),
    )
    concepts = c_concepts.unionByName(n_concepts)

    def edge(c1, c2, rel):
        return [
            c1.alias("concept_id_1"),
            c2.alias("concept_id_2"),
            F.lit(rel).alias("relationship_id"),
            empty.alias("valid_start_date"),
            empty.alias("valid_end_date"),
            empty.alias("invalid_reason"),
        ]

    cust_nation = F.concat(F.lit("N"), F.col("c_nationkey").cast("string"))
    e1 = customer.select(*edge(F.col("c_custkey").cast("string"), cust_nation, "Is a"))
    e2 = customer.select(
        *edge(F.col("c_custkey").cast("string"), cust_nation, "lives in/near")
    )
    e3 = nation.select(
        *edge(
            F.concat(F.lit("N"), F.col("n_nationkey").cast("string")),
            F.concat(F.lit("R"), F.col("n_regionkey").cast("string")),
            "Region of",
        )
    )
    edges = e1.unionByName(e2).unionByName(e3)
    return concepts, edges


def _kg_full_emission(spark: SparkSession, sf_dir: str) -> DataFrame:
    from omop2owl_vocab_spark.operators.emit import emit_triples

    concepts, edges = _kg_concepts_edges(spark, sf_dir)
    return emit_triples(concepts, edges, relationships=["ALL"]).select(
        "subj", "pred", "obj"
    )


_KG_FULL_EMISSION_SQL = """
WITH concepts AS (
  SELECT CAST(c_custkey AS VARCHAR) AS concept_id, c_name AS concept_name,
         'customer' AS domain_id, c_mktsegment AS vocabulary_id,
         'cust' AS concept_class_id, 'S' AS standard_concept,
         CAST(c_custkey AS VARCHAR) AS concept_code
  FROM customer
  UNION ALL
  SELECT 'N' || CAST(n_nationkey AS VARCHAR), n_name, 'nation', 'Geo',
         'nation', 'S', n_name
  FROM nation
),
edges AS (
  SELECT CAST(c_custkey AS VARCHAR) AS c1,
         'N' || CAST(c_nationkey AS VARCHAR) AS c2, 'Is a' AS rel
  FROM customer
  UNION ALL
  SELECT CAST(c_custkey AS VARCHAR), 'N' || CAST(c_nationkey AS VARCHAR),
         'lives in/near'
  FROM customer
  UNION ALL
  SELECT 'N' || CAST(n_nationkey AS VARCHAR),
         'R' || CAST(n_regionkey AS VARCHAR), 'Region of'
  FROM nation
)
SELECT DISTINCT subj, pred, obj FROM (
  SELECT 'OMOP:' || concept_id AS subj, 'rdf:type' AS pred,
         'owl:Class' AS obj FROM concepts
  UNION ALL
  SELECT 'OMOP:' || concept_id, 'rdfs:label', concept_name
  FROM concepts WHERE concept_name <> ''
  UNION ALL
  SELECT 'OMOP:' || concept_id, 'OMOP:domain_id', domain_id
  FROM concepts WHERE domain_id <> ''
  UNION ALL
  SELECT 'OMOP:' || concept_id, 'OMOP:vocabulary_id', vocabulary_id
  FROM concepts WHERE vocabulary_id <> ''
  UNION ALL
  SELECT 'OMOP:' || concept_id, 'OMOP:concept_class_id', concept_class_id
  FROM concepts WHERE concept_class_id <> ''
  UNION ALL
  SELECT 'OMOP:' || concept_id, 'OMOP:standard_concept', standard_concept
  FROM concepts WHERE standard_concept <> ''
  UNION ALL
  SELECT 'OMOP:' || concept_id, 'OMOP:concept_code', concept_code
  FROM concepts WHERE concept_code <> ''
  UNION ALL
  -- edges: forward only; subject must be a concept (R7); objects may dangle
  SELECT 'OMOP:' || e.c1,
         CASE WHEN e.rel = 'Is a' THEN 'rdfs:subClassOf'
              ELSE 'omoprel:' || replace(replace(e.rel, ' ', '_'), '/', '.')
         END,
         'OMOP:' || e.c2
  FROM edges e WHERE e.c1 IN (SELECT concept_id FROM concepts)
)
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _kg_full_emission(spark, SF0001)


# ---------------------------------------------------------------- KG ops


def _kg_concept_unpivot(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = docs.select(
        F.concat(F.lit("OMOP:"), F.col("doc_id").cast("string")).alias("subj"),
        F.expr(
            "stack(4, 'rdf:type', 'doc', 'OMOP:lang', lang, "
            "'OMOP:source', source, 'OMOP:n_chars', cast(n_chars as string)) "
            "as (pred, obj)"
        ),
    )
    return out.filter(F.col("obj") != "")


_KG_CONCEPT_UNPIVOT_SQL = """
SELECT * FROM (
  SELECT 'OMOP:' || CAST(doc_id AS VARCHAR) AS subj, 'rdf:type' AS pred,
         'doc' AS obj FROM documents
  UNION ALL
  SELECT 'OMOP:' || CAST(doc_id AS VARCHAR), 'OMOP:lang', lang FROM documents
  UNION ALL
  SELECT 'OMOP:' || CAST(doc_id AS VARCHAR), 'OMOP:source', source FROM documents
  UNION ALL
  SELECT 'OMOP:' || CAST(doc_id AS VARCHAR), 'OMOP:n_chars',
         CAST(n_chars AS VARCHAR) FROM documents
) WHERE obj <> ''
"""


def _kg_edges_resolve(spark, sf_dir):
    from omop2owl_vocab_spark.functions.sanitize import sanitize_predicate_col

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "left_semi")
        .select(
            F.concat(F.lit("OMOP:"), F.col("o_orderkey").cast("string")).alias("subj"),
            F.concat(
                F.lit("omoprel:"), sanitize_predicate_col(F.lit("placed by"))
            ).alias("pred"),
            F.concat(F.lit("OMOP:"), F.col("o_custkey").cast("string")).alias("obj"),
        )
    )


_KG_EDGES_RESOLVE_SQL = """
SELECT 'OMOP:' || CAST(o_orderkey AS VARCHAR) AS subj,
       'omoprel:placed_by' AS pred,
       'OMOP:' || CAST(o_custkey AS VARCHAR) AS obj
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
"""


# every sanitizer rule except \t\n (covered by the byte-exact unit test;
# kept out of the oracle payload so the driver harness never sees control
# chars inside values) — injected between p_type and p_brand so the oracle
# exercises the FULL rule chain, not just the 4 chars TPC-H data contains
_SANITIZE_STRESS = " ,|;/\\~`!@#$%^*+=?'\"()[]{}<>"


def _kg_sanitize(spark, sf_dir):
    from omop2owl_vocab_spark.functions.sanitize import sanitize_predicate_col

    part = _t(spark, sf_dir, "part")
    raw = F.concat(F.col("p_type"), F.lit("/"), F.col("p_brand"))
    stress = F.concat(F.col("p_type"), F.lit(_SANITIZE_STRESS), F.col("p_brand"))
    return part.select(
        raw.alias("rel"),
        F.concat(F.lit("omoprel:"), sanitize_predicate_col(raw)).alias("pred"),
        F.concat(
            F.lit("omoprel:"), sanitize_predicate_col(stress)
        ).alias("pred_stress"),
    ).distinct()


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _build_kg_sanitize_sql() -> str:
    # the oracle runs the reference's whole 30-rule chain as one translate,
    # exactly like the engine (functions/sanitize.py)
    from omop2owl_vocab_spark.functions.sanitize import _FROM, _TO

    frm, to = _sql_quote(_FROM), _sql_quote(_TO)
    stress = _sql_quote(_SANITIZE_STRESS)
    return f"""
SELECT DISTINCT p_type || '/' || p_brand AS rel,
       'omoprel:' || translate(p_type || '/' || p_brand, {frm}, {to}) AS pred,
       'omoprel:' || translate(p_type || {stress} || p_brand, {frm}, {to})
         AS pred_stress
FROM part
"""


_KG_SANITIZE_SQL = _build_kg_sanitize_sql()


def _kg_adjacency(spark, sf_dir):
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        nation.join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.concat_ws(
                "|",
                F.array_sort(
                    F.collect_list(
                        F.concat(F.lit("OMOP:"), F.col("n_nationkey").cast("string"))
                    )
                ),
            ).alias("members"),
            F.count("*").cast("long").alias("n_members"),
        )
    )


_KG_ADJACENCY_SQL = """
SELECT r_name AS region_name,
       string_agg('OMOP:' || CAST(n_nationkey AS VARCHAR), '|'
                  ORDER BY 'OMOP:' || CAST(n_nationkey AS VARCHAR)) AS members,
       COUNT(*) AS n_members
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


# --------------------------------------------------- relational operator ops


def _q_filter(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_returnflag") == "A") & (F.col("l_discount") > 0.05)
    ).select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
    )


_Q_FILTER_SQL = """
SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber
FROM lineitem WHERE l_returnflag = 'A' AND l_discount > 0.05
"""


def _q_isin(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return c.filter(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    ).select("c_custkey", "c_mktsegment")


_Q_ISIN_SQL = """
SELECT c_custkey, c_mktsegment FROM customer
WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
"""


def _q_semi_join(spark, sf_dir):
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return s.join(li, s.s_suppkey == li.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name"
    )


_Q_SEMI_JOIN_SQL = """
SELECT s_suppkey, s_name FROM supplier
WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem WHERE l_quantity > 45)
"""


def _q_anti_join(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 49)
    return p.join(li, p.p_partkey == li.l_partkey, "left_anti").select(
        "p_partkey"
    )


_Q_ANTI_JOIN_SQL = """
SELECT p_partkey FROM part
WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 49)
"""


def _q_union_distinct(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select(F.col("l_partkey").alias("id"))
        .unionByName(li.select(F.col("l_suppkey").alias("id")))
        .distinct()
    )


_Q_UNION_DISTINCT_SQL = """
SELECT l_partkey AS id FROM lineitem UNION SELECT l_suppkey FROM lineitem
"""


def _pipe_pps(spark, sf_dir):
    """Poisson PPS weighted sampling (`operators/sample.py:pps_sample`,
    k=200 expected, weight = n_chars): acceptance is the ALL-INTEGER
    test draw·W < k·w·2^60 evaluated in decimal(38,0)/HUGEINT — no
    float probability exists to round differently.  One scalar
    aggregate broadcast back via cross-join, then a narrow filter —
    zero data shuffles."""
    from omop2owl_vocab_spark.operators.sample import pps_sample

    return pps_sample(
        _t(spark, sf_dir, "documents"), "n_chars", k=200, seed=7
    )


_PIPE_PPS_SQL = """
WITH d AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
         list_reduce(
           list_transform(
             string_split(substr(md5('pps7:' || CAST(doc_id AS VARCHAR)),
                                 1, 15), ''),
             c -> CAST(strpos('123456789abcdef', c) AS BIGINT)),
           (a, b) -> a * 16 + b) AS pps_key
  FROM documents
),
t AS (SELECT CAST(SUM(weight) AS HUGEINT) AS w_tot FROM d)
SELECT doc_id, weight, pps_key
FROM d, t
WHERE CAST(pps_key AS HUGEINT) * w_tot
      < CAST(weight AS HUGEINT)
        * (CAST(200 AS HUGEINT) * CAST(1152921504606846976 AS HUGEINT))
"""


def _dd_containment(spark, sf_dir):
    """Asymmetric containment dedup (`operators/dedup.py:
    containment_pairs`, Broder's measure): co-shingle pairs where
    either side is ≥80% contained in the other — the subset-duplicate
    detector Jaccard misses (quoted paragraphs inside much larger
    docs).  Integer cross-multiplied threshold, `div` fixed-point
    outputs, same inverted-index join discipline as dd_jaccard."""
    from omop2owl_vocab_spark.operators.dedup import (
        containment_pairs,
        word_shingles,
    )

    docs = _docs64(spark, sf_dir)
    return containment_pairs(word_shingles(docs, 3), threshold_pct=80)


_DD_CONTAINMENT_SQL = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS toks
  FROM documents
),
s AS (
  SELECT DISTINCT doc_id AS id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                  i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
             AS shingle
    FROM t WHERE len(toks) >= 3
  ) WHERE shingle <> ''
),
sz AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS sz FROM s GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS inter
  FROM s a JOIN s b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b, inter, za.sz AS sz_a, zb.sz AS sz_b,
       CAST((inter * 10000) // za.sz AS BIGINT) AS cont_a_e4,
       CAST((inter * 10000) // zb.sz AS BIGINT) AS cont_b_e4
FROM inter
JOIN sz za ON za.id = id_a
JOIN sz zb ON zb.id = id_b
WHERE inter * 100 >= 80 * za.sz OR inter * 100 >= 80 * zb.sz
"""


def _q_lis(spark, sf_dir):
    """Per-user longest strictly-increasing value subsequence
    (`operators/seq.py:lis_per_group`): the canonical can't-window DP,
    run as a patience-sorting `applyInPandas` grouped map (ONE
    group-keyed exchange, ordering vectorized inside the group) —
    completing the batch Arrow-UDF surface (pandas_udf: simhash,
    mapInPandas: multimodal, applyInPandasWithState: sessionize).
    Oracle: a recursive chain-extension CTE re-derives the same maxima
    — the hash-exact check covers the Python path end to end."""
    from omop2owl_vocab_spark.operators.seq import lis_per_group

    return lis_per_group(_t(spark, sf_dir, "events"))


_Q_LIS_SQL = """
WITH RECURSIVE ev AS (
  SELECT user_id AS u, CAST(value AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS i
  FROM events WHERE value IS NOT NULL
),
chains AS (
  SELECT u, i, v, 1 AS l FROM ev
  UNION
  SELECT c.u, e2.i, e2.v, c.l + 1
  FROM chains c JOIN ev e2
    ON e2.u = c.u AND e2.i > c.i AND e2.v > c.v
)
SELECT c.u AS user_id, CAST(n.n AS BIGINT) AS n_events,
       CAST(MAX(c.l) AS BIGINT) AS lis_len
FROM chains c JOIN (SELECT u, COUNT(*) AS n FROM ev GROUP BY u) n
  ON c.u = n.u
GROUP BY c.u, n.n
"""


def _txt_chunks(spark, sf_dir):
    """RAG chunking (`operators/text.py:chunk_documents`): 512-char
    windows stepping 448 (64-char overlap) over the documents table —
    offsets engine-generated (sequence+explode), slices via substring,
    no shuffle/UDF (plan-pinned no-Exchange in test_tokenize).  The
    chunk text itself ships as an md5 so the oracle comparison stays
    compact at any chunk width."""
    from omop2owl_vocab_spark.operators.text import chunk_documents

    c = chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_len=512, overlap=64
    )
    return c.select(
        "doc_id", "chunk_idx", "char_start",
        F.md5(F.col("chunk")).alias("chunk_md5"),
        F.length("chunk").cast("long").alias("chunk_chars"),
    )


_TXT_CHUNKS_SQL = """
WITH base AS (
  SELECT doc_id, text FROM documents
  WHERE text IS NOT NULL AND length(text) > 0
),
n AS (
  SELECT doc_id, text,
         (GREATEST(length(text) - 64, 1) + 448 - 1) // 448 AS n_chunks
  FROM base
),
c AS (
  SELECT doc_id, text, UNNEST(generate_series(0, n_chunks - 1)) AS chunk_idx
  FROM n
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(chunk_idx * 448 AS BIGINT) AS char_start,
       md5(substr(text, CAST(chunk_idx * 448 + 1 AS BIGINT), 512))
         AS chunk_md5,
       CAST(length(substr(text, CAST(chunk_idx * 448 + 1 AS BIGINT), 512))
            AS BIGINT) AS chunk_chars
FROM c
"""


def _q_intersect(spark, sf_dir):
    """INTERSECT set op (completes the union/except family): customer
    keys holding BOTH an urgent and a low-priority order.  Catalyst
    plans set-intersect as a left-semi hash join over pre-distincted
    sides — no full materialization of either distinct set beyond the
    join build."""
    o = _t(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    low = o.filter(F.col("o_orderpriority") == "5-LOW").select(
        F.col("o_custkey").alias("custkey")
    )
    return urgent.intersect(low)


_Q_INTERSECT_SQL = """
SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
"""


def _q_distinct(spark, sf_dir):
    return _t(spark, sf_dir, "events").select("event_type").distinct()


_Q_DISTINCT_SQL = "SELECT DISTINCT event_type FROM events"


def _q_sort_limit(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
        .select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("price_e2"),
        )
    )


_Q_SORT_LIMIT_SQL = """
SELECT o_orderkey,
       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_e2
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20
"""


def _q_groupby_agg(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.floor(F.sum("l_quantity") * 100 + F.lit(0.5)).cast("long").alias("sum_qty_e2"),
        F.floor(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100
            + F.lit(0.5)
        )
        .cast("long")
        .alias("sum_disc_price_e2"),
        F.count("*").cast("long").alias("count_order"),
    )


_Q_GROUPBY_AGG_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(floor(SUM(l_quantity) * 100 + 0.5) AS BIGINT) AS sum_qty_e2,
       CAST(floor(SUM(l_extendedprice * (1 - l_discount)) * 100 + 0.5) AS BIGINT)
         AS sum_disc_price_e2,
       COUNT(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def _q_join_agg(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").cast("long").alias("n_orders"))
    )


_Q_JOIN_AGG_SQL = """
SELECT n_name, COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def _q_first_order(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_order"),
        F.count("*").cast("long").alias("n_orders"),
    )


_Q_FIRST_ORDER_SQL = """
SELECT o_custkey, strftime(MIN(o_orderdate), '%Y-%m-%d') AS first_order,
       COUNT(*) AS n_orders
FROM orders GROUP BY o_custkey
"""


def _q_event_windows(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.floor(F.sum("value") * 100 + F.lit(0.5)).cast("long").alias("sum_value_e2"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:00").alias("hour"),
            "event_type",
            "n_events",
            "sum_value_e2",
        )
    )


_Q_EVENT_WINDOWS_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour, event_type,
       COUNT(*) AS n_events,
       CAST(floor(SUM(value) * 100 + 0.5) AS BIGINT) AS sum_value_e2
FROM events GROUP BY 1, 2
"""


def _q_sessionize(spark, sf_dir):
    """Session windows (30-min inactivity gap) per user — the log-
    sessionization shape every training-data pipeline needs.  Spark's
    native session_window vs a lag/cumsum oracle."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.floor(F.sum("value") * 100 + F.lit(0.5)).cast("long").alias("sum_value_e2"),
        )
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
            "sum_value_e2",
        )
    )


_Q_SESSIONIZE_SQL = """
WITH lagged AS (
  SELECT user_id, ts, value,
         -- boundary verified empirically: Spark session_window MERGES an
         -- event exactly gap-later into the session → break only on strict >
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS brk
  FROM events
),
s AS (
  SELECT user_id, ts, value,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM lagged
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       COUNT(*) AS n_events,
       CAST(floor(SUM(value) * 100 + 0.5) AS BIGINT) AS sum_value_e2
FROM s GROUP BY user_id, sid
"""


# ------------------------------------------------------- dedup / text ops


def _dd_exact(spark, sf_dir):
    from omop2owl_vocab_spark.operators.dedup import exact_duplicates

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    return exact_duplicates(corpus)


_DD_EXACT_SQL = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000, text FROM documents
),
h AS (SELECT doc_id, md5(COALESCE(text, '')) AS hh FROM corpus),
g AS (SELECT hh, MIN(doc_id) AS canonical_id, COUNT(*) AS n FROM h GROUP BY hh)
SELECT g.canonical_id, h.doc_id AS dup_id
FROM h JOIN g ON h.hh = g.hh
WHERE g.n > 1 AND h.doc_id <> g.canonical_id
"""


def _dd_jaccard(spark, sf_dir):
    from omop2owl_vocab_spark.operators.dedup import jaccard_pairs, word_shingles

    docs = _docs64(spark, sf_dir)
    return jaccard_pairs(word_shingles(docs, 3), threshold=0.2)


_DD_JACCARD_SQL = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS toks
  FROM documents
),
s AS (
  SELECT DISTINCT doc_id AS id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                  i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
             AS shingle
    FROM t WHERE len(toks) >= 3
  ) WHERE shingle <> ''
),
sz AS (SELECT id, COUNT(*) AS sz FROM s GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
  FROM s a JOIN s b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b,
       CAST(floor(CAST(i AS DOUBLE) / (za.sz + zb.sz - i) * 10000 + 0.5)
            AS BIGINT) AS jaccard_e4
FROM inter
JOIN sz za ON za.id = id_a
JOIN sz zb ON zb.id = id_b
WHERE CAST(i AS DOUBLE) / (za.sz + zb.sz - i) >= 0.2
"""


def _txt_corpus_stats(spark, sf_dir):
    """Per-language corpus statistics — the first report any training-data
    pipeline runs over a new crawl."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.floor(F.avg("n_chars") * 100 + F.lit(0.5)).cast("long").alias("avg_chars_e2"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


_TXT_CORPUS_STATS_SQL = """
SELECT lang, COUNT(*) AS n_docs,
       COUNT(DISTINCT source) AS n_sources,
       CAST(floor(AVG(n_chars) * 100 + 0.5) AS BIGINT) AS avg_chars_e2,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang
"""


# shared CTE prefix for the minhash family: 3-word shingles → 32 md5
# min-hashes → 8 band keys → candidate pairs.  The engine's production
# default is seeded xxhash64 (faster, JVM codegen); the driver queries pin
# hash_family='md5' so DuckDB reproduces the exact signatures (minhash
# element = first 16 hex chars of md5(f"{i}:{shingle}"); MIN over
# fixed-width lowercase hex == MIN over the unsigned value).
_MINHASH_BANDS_CTE = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS toks
  FROM documents
),
s AS (
  SELECT DISTINCT doc_id AS id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                  i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
             AS shingle
    FROM t WHERE len(toks) >= 3
  ) WHERE shingle <> ''
),
mh AS (
  -- element i = 64-bit half (i % 2) of md5(f"{i//2}:{shingle}") — mirrors
  -- minhash_signatures' two-elements-per-digest scheme exactly
  SELECT id, r.i AS i,
         MIN(substr(md5(CAST(r.i // 2 AS VARCHAR) || ':' || shingle),
                    1 + 16 * (r.i % 2), 16)) AS mh
  FROM s CROSS JOIN range(32) r(i)
  GROUP BY id, r.i
),
bk AS (
  SELECT id, i // 4 AS band, md5(string_agg(mh, ',' ORDER BY i)) AS key
  FROM mh GROUP BY id, i // 4
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key AND a.id < b.id
)
"""


def _dd_minhash_verified(spark, sf_dir):
    """The composed scale path: LSH candidate generation → exact Jaccard
    verification restricted to candidates (vs dd_jaccard's all-pairs
    baseline).  md5-portable hashing → exact DuckDB oracle."""
    from omop2owl_vocab_spark.operators.dedup import (
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
        word_shingles,
    )

    from omop2owl_vocab_spark.operators.fixpoint import materialize

    docs = _docs64(spark, sf_dir)
    # shared by the signature chain AND the verification (guide §5)
    sh = materialize(word_shingles(docs))
    cand = lsh_candidate_pairs(
        minhash_signatures(sh, 32, hash_family="md5"),
        bands=8,
        num_hashes=32,
        hash_family="md5",
        max_bucket_size=10_000,
    )
    return jaccard_pairs(sh, threshold=0.2, candidates=cand)


_DD_MINHASH_VERIFIED_SQL = _MINHASH_BANDS_CTE + """,
sz AS (SELECT id, COUNT(*) AS sz FROM s GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
  FROM s a JOIN s b ON a.shingle = b.shingle AND a.id < b.id
  JOIN cand c ON c.id_a = a.id AND c.id_b = b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b,
       CAST(floor(CAST(i AS DOUBLE) / (za.sz + zb.sz - i) * 10000 + 0.5)
            AS BIGINT) AS jaccard_e4
FROM inter
JOIN sz za ON za.id = id_a
JOIN sz zb ON zb.id = id_b
WHERE CAST(i AS DOUBLE) / (za.sz + zb.sz - i) >= 0.2
"""


def _txt_token_stats(spark, sf_dir):
    from omop2owl_vocab_spark.operators.text import token_stats

    return token_stats(_t(spark, sf_dir, "documents"))


_TXT_TOKEN_STATS_SQL = """
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                x -> x <> '')) AS BIGINT) AS n_tokens,
       CAST(ceil(len(regexp_replace(text, '\\s', '', 'g')) / 4.0) AS BIGINT)
         AS n_subwords,
       CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT)
         AS n_pieces,
       CAST(len(text) AS BIGINT) AS n_chars
FROM documents
"""


def _txt_quality(spark, sf_dir):
    from omop2owl_vocab_spark.operators.text import quality_scores

    return quality_scores(_t(spark, sf_dir, "documents"))


_TXT_QUALITY_SQL = """
WITH base AS (
  SELECT doc_id, len(text) AS n_chars,
         len(text) - len(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks,
         len(regexp_replace(text, '\\s', '', 'g')) AS n_nonspace
  FROM documents
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
  CAST(floor(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) * 10000 + 0.5)
       AS BIGINT) AS punct_ratio_e4,
  CAST(floor(CAST(len(list_filter(toks,
         x -> lower(x) IN ('the','and','of'))) AS DOUBLE)
       / greatest(len(toks), 1) * 10000 + 0.5) AS BIGINT) AS stopword_ratio_e4,
  CAST(floor(CAST(n_nonspace AS DOUBLE) / greatest(len(toks), 1) * 10000 + 0.5)
       AS BIGINT) AS mean_token_len_e4
FROM base
"""


def _txt_lang_id(spark, sf_dir):
    from omop2owl_vocab_spark.operators.text import lang_id

    return lang_id(_t(spark, sf_dir, "documents"))


_TXT_LANG_ID_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_transform(list_filter(string_split_regex(trim(text), '\\s+'),
                        x -> x <> ''), x -> lower(x)) AS tk
  FROM documents
),
sc AS (
  SELECT doc_id,
    len(list_filter(tk, x -> x IN ('the','and','of'))) AS s_en,
    len(list_filter(tk, x -> x IN ('der','und','die'))) AS s_de,
    len(list_filter(tk, x -> x IN ('le','la','et')))   AS s_fr,
    len(list_filter(tk, x -> x IN ('el','de','que')))  AS s_es
  FROM toks
)
SELECT doc_id,
  CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
       WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
       WHEN s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
       WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
       ELSE 'de' END AS lang_guess,
  CAST(greatest(s_en, s_de, s_fr, s_es) AS BIGINT) AS marker_hits
FROM sc
"""


def _txt_gopher(spark, sf_dir):
    """Gopher/MassiveText rule flags (Rae et al. 2021) — the baseline
    pre-training quality filter; all ratios integer-cross-multiplied so
    the oracle is exact."""
    from omop2owl_vocab_spark.operators.text import gopher_flags

    return gopher_flags(_t(spark, sf_dir, "documents"))


_TXT_GOPHER_SQL = """
WITH base AS (
  SELECT doc_id,
         COALESCE(text, '') AS text,
         list_filter(string_split_regex(trim(COALESCE(text, '')), '\\s+'),
                     x -> x <> '') AS toks,
         list_filter(string_split(COALESCE(text, ''), chr(10)),
                     ln -> trim(ln) <> '') AS lines
  FROM documents
),
m AS (
  SELECT doc_id,
         len(toks) AS n_words,
         COALESCE(list_sum(list_transform(toks, t -> len(t))), 0) AS word_chars,
         len(text) - len(replace(replace(text, '#', ''), '…', '')) AS n_sym,
         greatest(len(lines), 1) AS n_lines,
         len(list_filter(lines,
             ln -> substr(trim(ln), 1, 1) IN ('-', '*', '•'))) AS n_bullet,
         len(list_filter(lines,
             ln -> trim(ln) LIKE '%...' OR trim(ln) LIKE '%…')) AS n_ellipsis,
         len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]'))) AS n_alpha,
         len(list_filter(['the','be','to','of','and','that','have','with'],
             w -> list_contains(list_transform(toks, t -> lower(t)), w)))
           AS n_stop
  FROM base
)
SELECT doc_id,
       n_words >= 50 AND n_words <= 100000 AS word_count_ok,
       word_chars >= 3 * n_words AND word_chars <= 10 * n_words
         AND n_words > 0 AS mean_word_len_ok,
       n_sym * 10 <= n_words AS symbol_ratio_ok,
       n_bullet * 10 <= n_lines * 9 AS bullet_ratio_ok,
       n_ellipsis * 10 <= n_lines * 3 AS ellipsis_ratio_ok,
       n_alpha * 10 >= n_words * 8 AS alpha_ratio_ok,
       n_stop >= 2 AS stopword_ok,
       (n_words >= 50 AND n_words <= 100000)
         AND (word_chars >= 3 * n_words AND word_chars <= 10 * n_words
              AND n_words > 0)
         AND n_sym * 10 <= n_words
         AND n_bullet * 10 <= n_lines * 9
         AND n_ellipsis * 10 <= n_lines * 3
         AND n_alpha * 10 >= n_words * 8
         AND n_stop >= 2 AS keep
FROM m
"""


def _txt_repetition(spark, sf_dir):
    """Gopher repetition signals: duplicate-line fraction and top-bigram
    occupancy, computed within-row (no shuffle in the engine; the oracle
    uses the natural unnest+group form — same semantics)."""
    from omop2owl_vocab_spark.operators.text import repetition_flags

    return repetition_flags(_t(spark, sf_dir, "documents"))


_TXT_REPETITION_SQL = """
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(COALESCE(text, ''), chr(10)),
                     ln -> trim(ln) <> '') AS lines,
         list_transform(
             list_filter(string_split_regex(trim(COALESCE(text, '')), '\\s+'),
                         x -> x <> ''), t -> lower(t)) AS toks
  FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(CASE WHEN len(toks) >= 2
                THEN list_transform(range(1, len(toks)),
                     i -> toks[CAST(i AS INTEGER)] || ' '
                          || toks[CAST(i + 1 AS INTEGER)])
                ELSE [] END) AS g
  FROM base
),
cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY doc_id, g),
top AS (SELECT doc_id, MAX(c) AS top_bg FROM cnt GROUP BY doc_id),
m AS (
  SELECT b.doc_id,
         len(b.lines) AS n_lines,
         len(b.lines) - len(list_distinct(b.lines)) AS n_dup,
         greatest(len(b.toks) - 1, 0) AS n_bigrams,
         COALESCE(t.top_bg, 0) AS top_bg
  FROM base b LEFT JOIN top t ON t.doc_id = b.doc_id
)
SELECT doc_id,
       CAST(floor(CAST(n_dup AS DOUBLE) / greatest(n_lines, 1) * 10000 + 0.5)
            AS BIGINT) AS dup_line_ratio_e4,
       CAST(floor(CAST(top_bg AS DOUBLE) / greatest(n_bigrams, 1) * 10000 + 0.5)
            AS BIGINT) AS top_bigram_ratio_e4,
       n_dup * 10 <= n_lines * 3 AS dup_line_ok,
       top_bg * 5 <= n_bigrams AS top_bigram_ok
FROM m
"""


def _pipe_curation(spark, sf_dir):
    """Flagship composition: the full curation keep-list (gopher quality ∧
    repetition ∧ exact-dup canonical ∧ near-dup representative) with
    per-stage verdicts.  Oracle = the composed CTEs of the four
    already-verified stage oracles."""
    from omop2owl_vocab_spark.operators.curate import curation_decision

    return curation_decision(
        _docs64(spark, sf_dir),
        jaccard_threshold=0.2,
        hash_family="md5",
        max_bucket_size=10_000,
    )


def _build_pipe_curation_sql() -> str:
    # built lazily inside oracle_sql() — _DD_GROUPS_SQL is defined further
    # down the module.  FILTER-FIRST semantics: dedup stages run over the
    # quality survivors (the groups CTE's `documents` source is rewritten
    # to the survivors set); non-survivors carry NULL dedup verdicts.
    groups_over_survivors = _DD_GROUPS_SQL.replace("FROM documents", "FROM survivors")
    assert groups_over_survivors.count("FROM survivors") == 2, (
        "groups oracle shape changed; fix the survivors rewrite"
    )
    return f"""
WITH gq AS ({_TXT_GOPHER_SQL}),
rq AS ({_TXT_REPETITION_SQL}),
verd AS (
  SELECT gq.doc_id, gq.keep AS quality_ok,
         rq.dup_line_ok AND rq.top_bigram_ok AS repetition_ok
  FROM gq JOIN rq USING (doc_id)
),
survivors AS (
  SELECT d.* FROM documents d
  JOIN verd USING (doc_id)
  WHERE verd.quality_ok AND verd.repetition_ok
),
ex AS (SELECT doc_id, md5(COALESCE(text, '')) AS hh FROM survivors),
exg AS (SELECT hh, MIN(doc_id) AS canon, COUNT(*) AS n FROM ex GROUP BY hh),
eq AS (
  SELECT ex.doc_id,
         NOT (exg.n > 1 AND ex.doc_id <> exg.canon) AS exact_canonical
  FROM ex JOIN exg USING (hh)
),
gg AS ({groups_over_survivors})
SELECT verd.doc_id,
       verd.quality_ok,
       verd.repetition_ok,
       CASE WHEN verd.quality_ok AND verd.repetition_ok
            THEN COALESCE(eq.exact_canonical, TRUE) END AS exact_canonical,
       gg.doc_id = gg.group_id AS near_dup_rep,
       verd.quality_ok AND verd.repetition_ok
         AND eq.exact_canonical AND gg.doc_id = gg.group_id AS keep
FROM verd
LEFT JOIN eq USING (doc_id)
LEFT JOIN gg ON gg.doc_id = verd.doc_id
"""


def _txt_fingerprint(spark, sf_dir):
    from omop2owl_vocab_spark.operators.text import fingerprint

    return fingerprint(_t(spark, sf_dir, "documents"))


_TXT_FINGERPRINT_SQL = """
WITH fp AS (
  SELECT doc_id, md5(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS fp_md5
  FROM documents
)
SELECT doc_id, fp_md5,
       CAST(strpos('0123456789abcdef', substr(fp_md5, 1, 1)) - 1 AS BIGINT)
         AS fp_bucket
FROM fp
"""


def _plant(cond, *parts):
    """Deterministically planted text fragment: ``parts`` concatenated where
    ``cond`` holds, '' elsewhere — the pattern every planted-column oracle
    twin mirrors with a SQL CASE."""
    return F.when(cond, F.concat(*parts)).otherwise(F.lit(""))


def _txt_pii(spark, sf_dir):
    """PII detect + redact over documents with DETERMINISTICALLY PLANTED
    addresses (doc_id%5 → an email, doc_id%7 → an IPv4, both at %35) —
    the base corpus carries no PII, so the plant makes the operator's
    positive paths value-verifiable; the oracle rebuilds the identical
    augmented column and re-derives counts + the redacted-text md5 with
    the same RE2-compatible patterns (imported from the operator module,
    so the two engines cannot drift).  Uses the FUSED ``pii_scrub`` —
    one scan, one regex evaluation per pattern per purpose, no join
    (plan-pinned in test_plans.py)."""
    from omop2owl_vocab_spark.operators.text import pii_scrub

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        _plant(
            did % 5 == 0,
            F.lit(" contact user"),
            did.cast("string"),
            F.lit("@example.com now"),
        ),
        _plant(
            did % 7 == 0,
            F.lit(" from 10.1."),
            (did % 256).cast("string"),
            F.lit(".77 logged"),
        ),
    )
    df = docs.select("doc_id", aug.alias("text"))
    return pii_scrub(df).select(
        "doc_id",
        "n_emails",
        "n_ipv4",
        "has_pii",
        F.md5("redacted").alias("redacted_md5"),
    )


# the oracle interpolates the OPERATOR'S OWN patterns — one definition,
# structurally impossible to drift (both dialects share the construct
# subset these patterns are restricted to)
from omop2owl_vocab_spark.operators.text import (  # noqa: E402
    PII_EMAIL_RE as _PII_EMAIL_SQL,
    PII_IPV4_RE as _PII_IPV4_SQL,
    URL_RE as _URL_SQL,
)

_TXT_PII_SQL = f"""
WITH aug AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 5 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com now' ELSE '' END
         || CASE WHEN doc_id % 7 = 0
                 THEN ' from 10.1.' || CAST(doc_id % 256 AS VARCHAR)
                      || '.77 logged' ELSE '' END AS t
  FROM documents
),
f AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(t, '{_PII_EMAIL_SQL}')) AS BIGINT)
           AS n_emails,
         CAST(len(regexp_extract_all(t, '{_PII_IPV4_SQL}')) AS BIGINT)
           AS n_ipv4,
         regexp_replace(
           regexp_replace(t, '{_PII_EMAIL_SQL}', '[EMAIL]', 'g'),
           '{_PII_IPV4_SQL}', '[IP]', 'g') AS red
  FROM aug
)
SELECT doc_id, n_emails, n_ipv4,
       (n_emails > 0 OR n_ipv4 > 0) AS has_pii,
       md5(red) AS redacted_md5
FROM f
"""


_BLOCKLIST = ["bad.tracker.net", "spam.example.com"]
_BLOCKLIST_SQL = "[" + ", ".join(f"'{b}'" for b in _BLOCKLIST) + "]"


def _txt_domains(spark, sf_dir):
    """URL-domain curation over documents with planted URLs (doc_id%3 → a
    clean domain, doc_id%9 → the SAME blocklisted domain TWICE — %9 docs
    carry all three) — counts, the block verdict, and the sorted
    distinct-domain csv are all value-verified.  The double plant pins the
    occurrence-counting multiplicity semantics (n_blocked_domains = 2 for
    a repeated domain, not the deduplicated 1)."""
    from omop2owl_vocab_spark.operators.text import domain_flags

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        _plant(
            did % 3 == 0,
            F.lit(" see https://ex"),
            (did % 10).cast("string"),
            F.lit(".example.org/p ok"),
        ),
        _plant(
            did % 9 == 0,
            F.lit(" via http://bad.tracker.net/x?id="),
            did.cast("string"),
            F.lit(" mirror http://bad.tracker.net/y"),
        ),
    )
    return domain_flags(
        docs.select("doc_id", aug.alias("text")), blocklist=_BLOCKLIST
    )


_TXT_DOMAINS_SQL = f"""
WITH aug AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0
                 THEN ' see https://ex' || CAST(doc_id % 10 AS VARCHAR)
                      || '.example.org/p ok' ELSE '' END
         || CASE WHEN doc_id % 9 = 0
                 THEN ' via http://bad.tracker.net/x?id='
                      || CAST(doc_id AS VARCHAR)
                      || ' mirror http://bad.tracker.net/y' ELSE '' END AS t
  FROM documents
),
d AS (
  SELECT doc_id,
         regexp_extract_all(t, '{_URL_SQL}', 1) AS domains
  FROM aug
),
f AS (
  SELECT doc_id, domains,
         list_filter(domains,
                     x -> list_contains({_BLOCKLIST_SQL}, x))
           AS blocked_hits
  FROM d
)
SELECT doc_id,
       CAST(len(domains) AS BIGINT) AS n_urls,
       CAST(len(blocked_hits) AS BIGINT) AS n_blocked_domains,
       len(blocked_hits) > 0 AS blocked,
       array_to_string(list_sort(list_distinct(domains)), ',') AS domains_csv
FROM f
"""


# decontamination fixture: benchmark "suite" of 3 sentences; the first is
# planted verbatim into every 17th corpus doc (10 sentinel tokens → at
# n=6, exactly 5 distinct shared shingles per contaminated doc); the
# third shares only a 3-token run with the plant (< n → zero hits)
_DECON_BENCH_ROWS = [
    (1, "sentinel alpha bravo charlie delta echo foxtrot golf hotel india"),
    (2, "zulu yankee xray whiskey victor uniform tango papa oscar november"),
    (3, "alpha bravo charlie mike lima kilo juliet hotelx golfx echox"),
]


def _dd_decontaminate(spark, sf_dir):
    """Benchmark decontamination over documents with planted leakage:
    corpus×benchmark shared-n-gram pairs (n=6) — counts value-verified
    against a full SQL re-shingling of both sides."""
    from omop2owl_vocab_spark.operators.dedup import ngram_overlap

    docs = _t(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        _plant(F.col("doc_id") % 17 == 0, F.lit(" " + _DECON_BENCH_ROWS[0][1])),
    )
    corpus = docs.select("doc_id", aug.alias("text"))
    bench = spark.createDataFrame(_DECON_BENCH_ROWS, ["bench_id", "text"])
    return ngram_overlap(corpus, bench, n=6)


_DECON_BENCH_VALUES = ", ".join(
    f"({i}, '{t}')" for i, t in _DECON_BENCH_ROWS
)
_DECON_SHINGLE = (
    "list_transform(range(1, greatest(len(toks) - 5, 0) + 1), "
    "i -> array_to_string(list_slice(toks, i, i + 5), ' '))"
)

_DD_DECONTAMINATE_SQL = f"""
WITH aug AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 17 = 0
                 THEN ' {_DECON_BENCH_ROWS[0][1]}' ELSE '' END AS text
  FROM documents
),
ct AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS toks
  FROM aug
),
cs AS (
  SELECT DISTINCT doc_id AS id, shingle FROM (
    SELECT doc_id, unnest({_DECON_SHINGLE}) AS shingle
    FROM ct WHERE len(toks) >= 6
  ) WHERE shingle <> ''
),
bt AS (
  SELECT bench_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS toks
  FROM (VALUES {_DECON_BENCH_VALUES}) AS v(bench_id, text)
),
bs AS (
  SELECT DISTINCT bench_id, shingle FROM (
    SELECT bench_id, unnest({_DECON_SHINGLE}) AS shingle
    FROM bt WHERE len(toks) >= 6
  ) WHERE shingle <> ''
)
SELECT cs.id AS doc_id, bs.bench_id, CAST(COUNT(*) AS BIGINT) AS n_hits
FROM cs JOIN bs USING (shingle)
GROUP BY cs.id, bs.bench_id
"""


def _txt_vocab(spark, sf_dir):
    """Corpus-global token vocabulary (top-200 by occurrence, total
    tie-break): explode → partial-combining hash agg → TakeOrdered.
    Exact n_docs distinct counts ride along."""
    from omop2owl_vocab_spark.operators.text import token_vocab

    return token_vocab(_t(spark, sf_dir, "documents"), top_k=200)


_TXT_VOCAB_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(trim(text), '\s+'),
                            x -> x <> '')) AS token
  FROM documents
)
SELECT token,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM toks
GROUP BY token
ORDER BY n_occurrences DESC, token ASC
LIMIT 200
"""


def _pipe_sample(spark, sf_dir):
    """Deterministic k-per-stratum sample (md5 rank per doc, seed-keyed,
    exact row_number window per language stratum)."""
    from omop2owl_vocab_spark.operators.sample import stratified_sample

    return stratified_sample(
        _t(spark, sf_dir, "documents"), k=25, strata_col="lang"
    )


_PIPE_SAMPLE_SQL = """
WITH r AS (
  SELECT doc_id, lang,
         md5('42:' || CAST(doc_id AS VARCHAR)) AS sample_key
  FROM documents
),
w AS (
  SELECT doc_id, lang, sample_key,
         CAST(row_number() OVER (PARTITION BY lang
                                 ORDER BY sample_key, doc_id) AS BIGINT)
           AS sample_rank
  FROM r
)
SELECT doc_id, lang, sample_key, sample_rank FROM w WHERE sample_rank <= 25
"""


def _pipe_split(spark, sf_dir):
    """Deterministic train/val/test split: md5-bucket per doc (first byte,
    0..255), seed-keyed — hashing keeps the split stable under corpus
    growth and identical across engines/cluster sizes."""
    from omop2owl_vocab_spark.operators.pack import train_val_test_split

    return train_val_test_split(_t(spark, sf_dir, "documents"))


# 16*nibble1 + nibble2 of md5('42:'||id) = the operator's first-byte bucket
_NIB = "strpos('0123456789abcdef', substr(md5('42:' || CAST(doc_id AS VARCHAR)), {pos}, 1)) - 1"
_PIPE_SPLIT_SQL = f"""
WITH b AS (
  SELECT doc_id,
         CAST(16 * ({_NIB.format(pos=1)})
              + ({_NIB.format(pos=2)}) AS BIGINT) AS split_bucket
  FROM documents
)
SELECT doc_id, split_bucket,
       CASE WHEN split_bucket < 12 THEN 'val'
            WHEN split_bucket < 24 THEN 'test'
            ELSE 'train' END AS split
FROM b
"""


def _pipe_pack(spark, sf_dir):
    """Sequence-packing bookkeeping: md5-bucketed shard, per-shard running
    token count, ctx-window pack id + token range — the window partitions
    on shard, so the plan is n_shards independent linear scans, never a
    global sort."""
    from omop2owl_vocab_spark.operators.pack import pack_documents

    return pack_documents(_t(spark, sf_dir, "documents"))


_SNIB = "strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), {pos}, 1)) - 1"
_PIPE_PACK_SQL = f"""
WITH t AS (
  SELECT doc_id,
         CAST(16 * ({_SNIB.format(pos=1)})
              + ({_SNIB.format(pos=2)}) AS BIGINT) % 8 AS shard,
         CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                  x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, shard, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS tok_end
  FROM t
)
SELECT doc_id, shard, n_tokens,
       tok_end - n_tokens AS tok_start, tok_end,
       CAST((tok_end - n_tokens) // 2048 AS BIGINT) AS pack_id
FROM c
"""


# Planted tokenizer-exact counts: (doc_id % 509) + 1, plus 5000 for every
# 11th doc so a fraction of documents straddle MULTIPLE ctx windows —
# exercises both the pluggable-count path and multi-pack slice fan-out.
def _planted_tokens_col():
    did = F.col("doc_id")
    return (
        (did % 509) + 1 + F.when(did % 11 == 0, 5000).otherwise(0)
    ).cast("long")


_PLANTED_TOKENS_SQL = (
    "CAST((doc_id % 509) + 1"
    " + CASE WHEN doc_id % 11 = 0 THEN 5000 ELSE 0 END AS BIGINT)"
)


def _pipe_pack_tokens(spark, sf_dir):
    """Sequence packing against a PRECOMPUTED token-count column (the
    tokenizer-exact path): counts are planted deterministically so the
    oracle re-derives the identical column — verifies pack_documents
    budgets in the supplied counts, not whitespace tokens."""
    from omop2owl_vocab_spark.operators.pack import pack_documents

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _planted_tokens_col().alias("n_tokens")
    )
    return pack_documents(docs, n_tokens_col="n_tokens")


_PIPE_PACK_TOKENS_SQL = f"""
WITH t AS (
  SELECT doc_id,
         CAST(16 * ({_SNIB.format(pos=1)})
              + ({_SNIB.format(pos=2)}) AS BIGINT) % 8 AS shard,
         {_PLANTED_TOKENS_SQL} AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, shard, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS tok_end
  FROM t
)
SELECT doc_id, shard, n_tokens,
       tok_end - n_tokens AS tok_start, tok_end,
       CAST((tok_end - n_tokens) // 2048 AS BIGINT) AS pack_id
FROM c
"""


def _pipe_pack_slices(spark, sf_dir):
    """Writer-side pack splitting: every (document, overlapped context
    window) with exact doc-relative and pack-relative token offsets —
    multi-pack straddlers included (the 5000-token plant spans ≥2
    windows).  Oracle re-derives slices with generate_series; per-pack
    sum == ctx_len except shard tails is unit-asserted in
    test_dataops.py."""
    from omop2owl_vocab_spark.operators.pack import pack_documents, pack_slices

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _planted_tokens_col().alias("n_tokens")
    )
    return pack_slices(pack_documents(docs, n_tokens_col="n_tokens"))


_PIPE_PACK_SLICES_SQL = f"""
WITH t AS (
  SELECT doc_id,
         CAST(16 * ({_SNIB.format(pos=1)})
              + ({_SNIB.format(pos=2)}) AS BIGINT) % 8 AS shard,
         {_PLANTED_TOKENS_SQL} AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, shard, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS tok_end
  FROM t
),
s AS (
  SELECT doc_id, shard, tok_end - n_tokens AS tok_start, tok_end,
         unnest(generate_series((tok_end - n_tokens) // 2048,
                                (tok_end - 1) // 2048)) AS pack_id
  FROM c WHERE n_tokens > 0
)
SELECT doc_id, shard, CAST(pack_id AS BIGINT) AS pack_id,
       CAST(GREATEST(tok_start, pack_id * 2048) - tok_start AS BIGINT)
         AS doc_tok_start,
       CAST(LEAST(tok_end, (pack_id + 1) * 2048) - tok_start AS BIGINT)
         AS doc_tok_end,
       CAST(GREATEST(tok_start, pack_id * 2048) - pack_id * 2048 AS BIGINT)
         AS pack_tok_start,
       CAST(LEAST(tok_end, (pack_id + 1) * 2048) - pack_id * 2048 AS BIGINT)
         AS pack_tok_end,
       CAST(LEAST(tok_end, (pack_id + 1) * 2048)
            - GREATEST(tok_start, pack_id * 2048) AS BIGINT)
         AS n_slice_tokens
FROM s
"""


def _pipe_curation_scan(spark, sf_dir):
    """The FUSED stateless curation projection (streaming twin surface):
    pii_scrub + domain_flags + gopher_flags in one join-free select
    (`streaming/curate_stream.py:curation_scan`, plan-pinned), over text
    carrying BOTH the txt_pii and txt_domains plants — every column of
    all three operators value-verified in one pass against a composed
    oracle that re-derives pii, domain, and gopher columns from the same
    augmented text and joins on doc_id."""
    from omop2owl_vocab_spark.streaming.curate_stream import curation_scan

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        _plant(
            did % 5 == 0,
            F.lit(" contact user"),
            did.cast("string"),
            F.lit("@example.com now"),
        ),
        _plant(
            did % 7 == 0,
            F.lit(" from 10.1."),
            (did % 256).cast("string"),
            F.lit(".77 logged"),
        ),
        _plant(
            did % 3 == 0,
            F.lit(" see https://ex"),
            (did % 10).cast("string"),
            F.lit(".example.org/p ok"),
        ),
        _plant(
            did % 9 == 0,
            F.lit(" via http://bad.tracker.net/x?id="),
            did.cast("string"),
            F.lit(" mirror http://bad.tracker.net/y"),
        ),
    )
    out = curation_scan(
        docs.select("doc_id", aug.alias("text")), blocklist=_BLOCKLIST
    )
    return out.select(
        "doc_id", "n_emails", "n_ipv4", "has_pii",
        F.md5("redacted").alias("redacted_md5"),
        "n_urls", "n_blocked_domains", "blocked", "domains_csv",
        "word_count_ok", "mean_word_len_ok", "symbol_ratio_ok",
        "bullet_ratio_ok", "ellipsis_ratio_ok", "alpha_ratio_ok",
        "stopword_ok", "keep",
    )


def _build_pipe_curation_scan_sql() -> str:
    return f"""
WITH aug AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 5 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com now' ELSE '' END
         || CASE WHEN doc_id % 7 = 0
                 THEN ' from 10.1.' || CAST(doc_id % 256 AS VARCHAR)
                      || '.77 logged' ELSE '' END
         || CASE WHEN doc_id % 3 = 0
                 THEN ' see https://ex' || CAST(doc_id % 10 AS VARCHAR)
                      || '.example.org/p ok' ELSE '' END
         || CASE WHEN doc_id % 9 = 0
                 THEN ' via http://bad.tracker.net/x?id='
                      || CAST(doc_id AS VARCHAR)
                      || ' mirror http://bad.tracker.net/y' ELSE '' END AS t
  FROM documents
),
pii AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(t, '{_PII_EMAIL_SQL}')) AS BIGINT)
           AS n_emails,
         CAST(len(regexp_extract_all(t, '{_PII_IPV4_SQL}')) AS BIGINT)
           AS n_ipv4,
         regexp_replace(
           regexp_replace(t, '{_PII_EMAIL_SQL}', '[EMAIL]', 'g'),
           '{_PII_IPV4_SQL}', '[IP]', 'g') AS red
  FROM aug
),
dm AS (
  SELECT doc_id, regexp_extract_all(t, '{_URL_SQL}', 1) AS domains FROM aug
),
domf AS (
  SELECT doc_id,
         CAST(len(domains) AS BIGINT) AS n_urls,
         CAST(len(list_filter(domains,
                  x -> list_contains({_BLOCKLIST_SQL}, x))) AS BIGINT)
           AS n_blocked_domains,
         len(list_filter(domains,
             x -> list_contains({_BLOCKLIST_SQL}, x))) > 0 AS blocked,
         array_to_string(list_sort(list_distinct(domains)), ',')
           AS domains_csv
  FROM dm
),
gb AS (
  SELECT doc_id, t AS text,
         list_filter(string_split_regex(trim(t), '\\s+'),
                     x -> x <> '') AS toks,
         list_filter(string_split(t, chr(10)),
                     ln -> trim(ln) <> '') AS lines
  FROM aug
),
gm AS (
  SELECT doc_id,
         len(toks) AS n_words,
         COALESCE(list_sum(list_transform(toks, x -> len(x))), 0)
           AS word_chars,
         len(text) - len(replace(replace(text, '#', ''), '…', '')) AS n_sym,
         greatest(len(lines), 1) AS n_lines,
         len(list_filter(lines,
             ln -> substr(trim(ln), 1, 1) IN ('-', '*', '•'))) AS n_bullet,
         len(list_filter(lines,
             ln -> trim(ln) LIKE '%...' OR trim(ln) LIKE '%…'))
           AS n_ellipsis,
         len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]')))
           AS n_alpha,
         len(list_filter(['the','be','to','of','and','that','have','with'],
             w -> list_contains(list_transform(toks, x -> lower(x)), w)))
           AS n_stop
  FROM gb
),
g AS (
  SELECT doc_id,
         n_words >= 50 AND n_words <= 100000 AS word_count_ok,
         word_chars >= 3 * n_words AND word_chars <= 10 * n_words
           AND n_words > 0 AS mean_word_len_ok,
         n_sym * 10 <= n_words AS symbol_ratio_ok,
         n_bullet * 10 <= n_lines * 9 AS bullet_ratio_ok,
         n_ellipsis * 10 <= n_lines * 3 AS ellipsis_ratio_ok,
         n_alpha * 10 >= n_words * 8 AS alpha_ratio_ok,
         n_stop >= 2 AS stopword_ok,
         (n_words >= 50 AND n_words <= 100000)
           AND (word_chars >= 3 * n_words AND word_chars <= 10 * n_words
                AND n_words > 0)
           AND n_sym * 10 <= n_words
           AND n_bullet * 10 <= n_lines * 9
           AND n_ellipsis * 10 <= n_lines * 3
           AND n_alpha * 10 >= n_words * 8
           AND n_stop >= 2 AS keep
  FROM gm
)
SELECT p.doc_id, p.n_emails, p.n_ipv4,
       (p.n_emails > 0 OR p.n_ipv4 > 0) AS has_pii,
       md5(p.red) AS redacted_md5,
       d.n_urls, d.n_blocked_domains, d.blocked, d.domains_csv,
       g.word_count_ok, g.mean_word_len_ok, g.symbol_ratio_ok,
       g.bullet_ratio_ok, g.ellipsis_ratio_ok, g.alpha_ratio_ok,
       g.stopword_ok, g.keep
FROM pii p
JOIN domf d ON d.doc_id = p.doc_id
JOIN g ON g.doc_id = p.doc_id
"""


def _pipe_pack_bpe(spark, sf_dir):
    """Sequence packing against REAL tokenizer-exact counts produced by
    the greedy longest-prefix subword tokenizer (pure JVM fold — no UDF):
    tokenizer → n_tokens column → pack_documents(n_tokens_col=...), the
    full production flow.  The oracle re-tokenizes every distinct word
    with a DuckDB recursive CTE against the identical piece vocabulary,
    then replays the shard/cumsum/pack arithmetic — both engines agree
    bit-for-bit on counts AND windows."""
    from omop2owl_vocab_spark.operators.pack import pack_documents
    from omop2owl_vocab_spark.operators.tokenize import subword_token_counts

    counts = subword_token_counts(_t(spark, sf_dir, "documents"))
    return pack_documents(counts, n_tokens_col="n_tokens")


def _txt_subword_vocab(spark, sf_dir):
    """Corpus-derived subword merge table: top-64 character n-grams
    (lengths 2-4) over all word occurrences, ranked by the total order
    (count desc, piece asc) so the top-k cut is deterministic in both
    engines — the `token_vocab`-style learned vocabulary the greedy
    tokenizer (pipe_pack_bpe) matches against."""
    from omop2owl_vocab_spark.operators.tokenize import subword_vocab_from_corpus

    return subword_vocab_from_corpus(_t(spark, sf_dir, "documents"))


_TXT_SUBWORD_VOCAB_SQL = """
WITH w0 AS (
  SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                x -> x <> '')) AS w
  FROM documents
),
p AS (
  SELECT substr(w, CAST(pos AS INT), CAST(L AS INT)) AS piece
  FROM (
    SELECT w, L, unnest(generate_series(1, length(w) - L + 1)) AS pos
    FROM w0 CROSS JOIN (SELECT unnest([2, 3, 4]) AS L)
    WHERE length(w) >= L
  )
)
SELECT piece, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM p GROUP BY piece
ORDER BY n_occurrences DESC, piece ASC LIMIT 64
"""


def _build_pipe_pack_bpe_sql() -> str:
    from omop2owl_vocab_spark.operators.tokenize import subword_vocab_sql_values

    return f"""
WITH RECURSIVE w0 AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                x -> x <> '')) AS w
  FROM documents
),
uw AS (SELECT DISTINCT w FROM w0),
vocab(piece) AS (VALUES {subword_vocab_sql_values()}),
tok AS (
  SELECT w, 1 AS pos, CAST(0 AS BIGINT) AS cnt FROM uw
  UNION ALL
  SELECT w, pos + ml, cnt + 1 FROM (
    SELECT w, pos, cnt,
      COALESCE((SELECT max(length(piece)) FROM vocab v
                WHERE substr(w, pos, length(piece)) = piece), 1) AS ml
    FROM tok WHERE pos <= length(w))
),
wc AS (SELECT w, cnt FROM tok WHERE pos > length(w)),
t AS (
  SELECT doc_id,
         CAST(16 * ({_SNIB.format(pos=1)})
              + ({_SNIB.format(pos=2)}) AS BIGINT) % 8 AS shard,
         CAST(COALESCE(SUM(wc.cnt), 0) AS BIGINT) AS n_tokens
  FROM documents LEFT JOIN w0 USING (doc_id) LEFT JOIN wc USING (w)
  GROUP BY doc_id
),
c AS (
  SELECT doc_id, shard, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS tok_end
  FROM t
)
SELECT doc_id, shard, n_tokens,
       tok_end - n_tokens AS tok_start, tok_end,
       CAST((tok_end - n_tokens) // 2048 AS BIGINT) AS pack_id
FROM c
"""


# --------------------------------------------------------- similarity ops


def _sim_norms(spark, sf_dir):
    from omop2owl_vocab_spark.operators.similarity import _norm
    from omop2owl_vocab_spark.operators.text import _e4

    emb = _t(spark, sf_dir, "embeddings")
    norm = _norm(F.col("embedding").cast("array<double>"))
    return emb.select("vec_id", _e4(norm).alias("norm_e4"))


_SIM_NORMS_SQL = """
SELECT vec_id,
       CAST(floor(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                        CAST(embedding AS DOUBLE[])))
                  * 10000 + 0.5) AS BIGINT) AS norm_e4
FROM embeddings
"""


def _sim_cosine_topk(spark, sf_dir):
    from omop2owl_vocab_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    # the corpus streams through the broadcast-join scoring stage on its
    # scan partitioning; the testdata parquet is a single row-group, so
    # spread it (same rationale/measurement as _docs64 — results are
    # key-independent of partitioning)
    return cosine_topk(emb.repartition(32), queries, k=10)


_SIM_COSINE_TOPK_SQL = """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings),
s AS (
  SELECT q.query_id, c.neighbor_id,
         CASE WHEN sqrt(list_dot_product(qv, qv))
                   * sqrt(list_dot_product(cv, cv)) > 0
              THEN list_dot_product(qv, cv)
                   / (sqrt(list_dot_product(qv, qv))
                      * sqrt(list_dot_product(cv, cv)))
         END AS cos
  FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id
),
r AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM s WHERE cos IS NOT NULL
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
       CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS cos_e4
FROM r WHERE rank <= 10
"""


def _kg_connected_components(spark, sf_dir):
    """G1 over the nation-region bipartite graph — min-label CC with a
    recursive-CTE transitive-closure oracle."""
    from omop2owl_vocab_spark.operators.link import connected_components

    nation = _t(spark, sf_dir, "nation")
    edges = nation.select(
        F.concat(F.lit("N"), F.col("n_nationkey").cast("string")).alias("src"),
        F.concat(F.lit("R"), F.col("n_regionkey").cast("string")).alias("dst"),
    )
    labels, _ = connected_components(edges)
    return labels.select("node", F.col("label").alias("component"))


_KG_CONNECTED_COMPONENTS_SQL = """
WITH RECURSIVE
edges AS (
  SELECT 'N' || CAST(n_nationkey AS VARCHAR) AS a,
         'R' || CAST(n_regionkey AS VARCHAR) AS b
  FROM nation
),
sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
reach(node, other) AS (
  SELECT a, a FROM sym
  UNION
  SELECT r.node, s.b FROM reach r JOIN sym s ON r.other = s.a
)
SELECT node, MIN(other) AS component FROM reach GROUP BY node
"""


def _sim_near_dup_exact(spark, sf_dir):
    """Brute-force cosine near-dup pairs (query side bounded to id < 200 so
    the all-pairs form stays a baseline, not a scale path — that's
    sim_ann_bucketed / embedding_near_duplicates).

    r6: norms are attached per VECTOR before the pair join (they were
    re-folded per PAIR — q·n norm folds instead of q+n; guide §1.2), and
    the streamed corpus side is spread off the single testdata row-group
    (same rationale/measurement as ``_docs64`` — the nested-loop stage
    otherwise runs on one core).  Identical expression tree per value →
    bit-identical cos."""
    from omop2owl_vocab_spark.operators.similarity import _cosine, _vectors
    from omop2owl_vocab_spark.operators.text import _e4

    emb = _t(spark, sf_dir, "embeddings")
    a = _vectors(
        emb.filter(F.col("vec_id") < 200), "vec_id", "embedding", "id_a", "a"
    )
    b = _vectors(emb.repartition(64), "vec_id", "embedding", "id_b", "b")
    # zero-norm guard mirrored in the SQL oracle (ANSI-safe, NULL-excluded)
    cos = _cosine(F.col("av"), F.col("bv"), F.col("an"), F.col("bn"))
    # broadcast the BOUNDED query side explicitly: left to its size
    # estimates the planner broadcasts the 10×-larger corpus and streams
    # the 200-row side on its single scan partition (serial nested loop);
    # with the hint the corpus streams across the repartitioned splits
    return (
        F.broadcast(a).join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cos"))
        .filter(F.col("cos").isNotNull() & (F.col("cos") >= 0.3))
        .select("id_a", "id_b", _e4(F.col("cos")).alias("cos_e4"))
    )


_SIM_NEAR_DUP_EXACT_SQL = """
WITH a AS (SELECT vec_id AS id_a, CAST(embedding AS DOUBLE[]) AS va
           FROM embeddings WHERE vec_id < 200),
b AS (SELECT vec_id AS id_b, CAST(embedding AS DOUBLE[]) AS vb FROM embeddings),
s AS (
  SELECT id_a, id_b,
         CASE WHEN sqrt(list_dot_product(va, va))
                   * sqrt(list_dot_product(vb, vb)) > 0
              THEN list_dot_product(va, vb)
                   / (sqrt(list_dot_product(va, va))
                      * sqrt(list_dot_product(vb, vb)))
         END AS cos
  FROM a JOIN b ON id_a < id_b
)
SELECT id_a, id_b, CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS cos_e4
FROM s WHERE cos IS NOT NULL AND cos >= 0.3
"""


def _dd_groups(spark, sf_dir):
    """The composed dedup decision: LSH candidates → exact verify → CC →
    one canonical doc per near-dup group (the keep-one-representative
    table).  md5 family end-to-end; oracle = the verified-pairs SQL plus a
    recursive-CTE transitive closure."""
    from omop2owl_vocab_spark.operators.dedup import near_duplicate_groups

    return near_duplicate_groups(
        _docs64(spark, sf_dir),
        threshold=0.2,
        hash_family="md5",
        max_bucket_size=10_000,
    )


_DD_GROUPS_SQL = _MINHASH_BANDS_CTE.replace(
    "WITH t AS", "WITH RECURSIVE t AS"  # DuckDB: RECURSIVE on the WITH list
) + """,
sz AS (SELECT id, COUNT(*) AS sz FROM s GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
  FROM s a JOIN s b ON a.shingle = b.shingle AND a.id < b.id
  JOIN cand c ON c.id_a = a.id AND c.id_b = b.id
  GROUP BY a.id, b.id
),
ver AS (
  SELECT lpad(CAST(id_a AS VARCHAR), 19, '0') AS a,
         lpad(CAST(id_b AS VARCHAR), 19, '0') AS b
  FROM inter
  JOIN sz za ON za.id = id_a
  JOIN sz zb ON zb.id = id_b
  WHERE CAST(i AS DOUBLE) / (za.sz + zb.sz - i) >= 0.2
),
sym AS (SELECT a, b FROM ver UNION SELECT b, a FROM ver),
reach(node, other) AS (
  SELECT a, a FROM sym
  UNION
  SELECT r.node, s.b FROM reach r JOIN sym s ON r.other = s.a
),
comp AS (SELECT node, MIN(other) AS root FROM reach GROUP BY node)
SELECT d.doc_id,
       CAST(COALESCE(c.root, lpad(CAST(d.doc_id AS VARCHAR), 19, '0'))
            AS BIGINT) AS group_id
FROM documents d
LEFT JOIN comp c ON c.node = lpad(CAST(d.doc_id AS VARCHAR), 19, '0')
"""

# the RECURSIVE rewrite must actually have happened — a silent .replace
# no-op would surface as a DuckDB binder error far from the cause
assert _DD_GROUPS_SQL.lstrip().startswith("WITH RECURSIVE"), (
    "_MINHASH_BANDS_CTE opening clause changed; fix the RECURSIVE rewrite"
)


def _dd_winnow(spark, sf_dir):
    """Winnowing fingerprints (MOSS, SIGMOD'03) — k-gram hashes + per-window
    minima; guarantees shared substrings ≥ k+w−1 share a fingerprint.

    Driver query runs a deterministic 20% doc sample (doc_id % 5 = 0):
    the algorithm is O(corpus chars) md5 calls — linear and embarrassingly
    parallel (the 100 TB posture is fine) but hex-md5-per-position is
    deliberately the portable-oracle variant, so the bench entry is
    bounded the same way sim_near_dup_exact bounds its query side."""
    from omop2owl_vocab_spark.operators.dedup import winnow_fingerprints

    docs = _docs64(spark, sf_dir).filter(F.col("doc_id") % 5 == 0)
    return winnow_fingerprints(docs, k=16, window=8)


_WINNOW_FP_CTE = """
WITH t AS (
  SELECT doc_id AS id,
         lower(regexp_replace(COALESCE(text, ''), '\\s+', ' ', 'g')) AS s
  FROM documents WHERE doc_id % 5 = 0
),
g AS (
  SELECT id,
         list_transform(range(1, greatest(len(s) - 16 + 1, 0) + 1),
                        i -> substr(md5(substr(s, CAST(i AS INTEGER), 16)), 1, 16)) AS hs
  FROM t
),
w AS (
  SELECT id,
         list_distinct(list_transform(range(1, len(hs) - 8 + 1 + 1),
             j -> list_aggregate(hs[CAST(j AS INTEGER):CAST(j + 7 AS INTEGER)], 'min'))) AS fps
  FROM g WHERE len(hs) >= 8
),
fp AS (SELECT DISTINCT id, unnest(fps) AS fp FROM w)
"""

_DD_WINNOW_SQL = _WINNOW_FP_CTE + """
SELECT id, fp FROM fp
"""


def _dd_winnow_pairs(spark, sf_dir):
    from omop2owl_vocab_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_near_duplicates,
    )

    docs = _docs64(spark, sf_dir).filter(F.col("doc_id") % 5 == 0)
    fps = winnow_fingerprints(docs, k=16, window=8)
    return winnow_near_duplicates(fps, min_shared=3, max_postings=50)


_DD_WINNOW_PAIRS_SQL = _WINNOW_FP_CTE + """,
rare AS (
  SELECT fp FROM (SELECT fp, COUNT(*) AS postings FROM fp GROUP BY fp)
  WHERE postings <= 50
),
kept AS (SELECT f.id, f.fp FROM fp f JOIN rare USING (fp))
SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS shared
FROM kept a JOIN kept b ON a.fp = b.fp AND a.id < b.id
GROUP BY a.id, b.id HAVING COUNT(*) >= 3
"""


def _q_window_rank(spark, sf_dir):
    """Dense window-function coverage beyond row_number: rank orders per
    customer by price."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rnk", F.rank().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            "rnk",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("price_e2"),
        )
    )


_Q_WINDOW_RANK_SQL = """
SELECT o_custkey, o_orderkey, CAST(rnk AS BIGINT) AS rnk,
       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_e2
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         rank() OVER (PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
  FROM orders
) WHERE rnk <= 3
"""


def _q_rollup(spark, sf_dir):
    """Hierarchical aggregate (ROLLUP) — subtotals per (returnflag,
    linestatus), per returnflag, and grand total, NULL-marked like SQL."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.floor(F.sum("l_quantity") * 100 + F.lit(0.5))
            .cast("long")
            .alias("sum_qty_e2"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("<all>")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("<all>")).alias("linestatus"),
            "n_rows",
            "sum_qty_e2",
        )
    )


_Q_ROLLUP_SQL = """
SELECT COALESCE(l_returnflag, '<all>') AS returnflag,
       COALESCE(l_linestatus, '<all>') AS linestatus,
       COUNT(*) AS n_rows,
       CAST(floor(SUM(l_quantity) * 100 + 0.5) AS BIGINT) AS sum_qty_e2
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


# ---------------------- LSH family (md5-portable hashing → exact oracles)


def _dd_minhash_lsh(spark, sf_dir):
    from omop2owl_vocab_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        word_shingles,
    )

    docs = _docs64(spark, sf_dir)
    return lsh_candidate_pairs(
        minhash_signatures(word_shingles(docs), 32, hash_family="md5"),
        bands=8,
        num_hashes=32,
        hash_family="md5",
        max_bucket_size=10_000,
    )


# bucket cap (10k) can't trip at driver scale (≤500 docs/bucket) so the
# oracle omits it; the cap behavior itself is unit-tested with a
# degenerate-bucket fixture in tests/test_dataops.py.
_DD_MINHASH_LSH_SQL = _MINHASH_BANDS_CTE + """
SELECT id_a, id_b FROM cand
"""


def _dd_simhash(spark, sf_dir):
    from omop2owl_vocab_spark.operators.dedup import (
        simhash_near_duplicates,
        simhash_signatures,
    )

    return simhash_near_duplicates(
        simhash_signatures(_docs64(spark, sf_dir)),
        max_bucket_size=10_000,
    )


# full simhash re-derivation in SQL: md5-hexdigit bit votes (bit i = bit
# (i%4) of hex digit (i//4)), weighted by token count, bits → 4×16-bit band
# keys, pairs on any equal band.  Docs with zero tokens get vote 0 on every
# bit (sig = 0) — the LEFT JOIN against all documents keeps them, matching
# the UDF.
_DD_SIMHASH_SQL = """
WITH toks AS (
  SELECT doc_id AS id,
         unnest(list_filter(string_split_regex(lower(trim(COALESCE(text, ''))),
                '\\s+'), x -> x <> '')) AS tok
  FROM documents
),
tc AS (SELECT id, tok, COUNT(*) AS cnt FROM toks GROUP BY id, tok),
dig AS (
  SELECT id, cnt, r.i AS i,
         strpos('0123456789abcdef',
                substr(md5(tok), (r.i // 4) + 1, 1)) - 1 AS d
  FROM tc CROSS JOIN range(64) r(i)
),
votes AS (
  SELECT id, i, SUM(cnt * (2 * ((d >> (i % 4)) & 1) - 1)) AS vote
  FROM dig GROUP BY id, i
),
allbits AS (
  SELECT d.doc_id AS id, r.i AS i,
         CASE WHEN COALESCE(v.vote, 0) > 0 THEN 1 ELSE 0 END AS bit
  FROM documents d CROSS JOIN range(64) r(i)
  LEFT JOIN votes v ON v.id = d.doc_id AND v.i = r.i
),
bandkeys AS (
  SELECT id, CAST(i // 16 AS BIGINT) AS band,
         CAST(SUM(bit * (1 << (i % 16))) AS BIGINT) AS key
  FROM allbits GROUP BY id, i // 16
)
SELECT DISTINCT a.id AS id_a, b.id AS id_b
FROM bandkeys a JOIN bandkeys b
  ON a.band = b.band AND a.key = b.key AND a.id < b.id
"""


def _sim_ann_bucketed(spark, sf_dir):
    from omop2owl_vocab_spark.operators.similarity import ann_topk_bucketed

    emb = _t(spark, sf_dir, "embeddings")
    return ann_topk_bucketed(emb, emb.filter(F.col("vec_id") < 5), k=10, dim=64)


# hyperplane weights re-derived from md5('42:b:i') (first nibble even → +1);
# the projection fold is list_reduce over a 0.0-prepended term list — the
# exact left-fold order Spark's F.aggregate uses — so bucket sign bits are
# bit-identical across engines.
_SIM_ANN_BUCKETED_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
w AS (
  SELECT b.b AS b, i.i AS i,
         CASE WHEN substr(md5('42:' || CAST(b.b AS VARCHAR) || ':'
                            || CAST(i.i AS VARCHAR)), 1, 1)
                   IN ('0','2','4','6','8','a','c','e')
              THEN 1.0 ELSE -1.0 END AS w
  FROM range(8) b(b) CROSS JOIN range(64) i(i)
),
wl AS (SELECT b, list(w ORDER BY i) AS wv FROM w GROUP BY b),
proj AS (
  SELECT e.vec_id, wl.b,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(1, 65), j -> wl.wv[j] * e.v[j])),
             (a, x) -> a + x) AS p
  FROM e CROSS JOIN wl
),
bkt AS (
  SELECT vec_id,
         string_agg(CASE WHEN p >= 0 THEN '1' ELSE '0' END, '' ORDER BY b)
           AS bucket
  FROM proj GROUP BY vec_id
),
eb AS (SELECT e.vec_id, e.v, bkt.bucket FROM e JOIN bkt USING (vec_id)),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM eb WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, v AS cv, bucket FROM eb),
s AS (
  SELECT q.query_id, c.neighbor_id,
         CASE WHEN sqrt(list_dot_product(qv, qv))
                   * sqrt(list_dot_product(cv, cv)) > 0
              THEN list_dot_product(qv, cv)
                   / (sqrt(list_dot_product(qv, qv))
                      * sqrt(list_dot_product(cv, cv)))
         END AS cos
  FROM q JOIN c USING (bucket) WHERE q.query_id <> c.neighbor_id
),
r AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM s WHERE cos IS NOT NULL
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
       CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS cos_e4
FROM r WHERE rank <= 10
"""


def _sim_ivf_topk(spark, sf_dir):
    """IVF-probed ANN (second scale path next to hyperplane LSH): corpus
    vectors in nearest-centroid inverted lists, queries probe their 2
    nearest of 16 deterministic centroids.  Squared-L2 assignment is an
    ordered left fold → bit-identical to the DuckDB list_reduce oracle."""
    from omop2owl_vocab_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb,
        emb.filter(F.col("vec_id") < 5),
        centroids=emb.filter(F.col("vec_id") < 16),
        k=10,
        nprobe=2,
    )


_SIM_IVF_TOPK_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c AS (SELECT vec_id AS centroid_id, v AS cvec FROM e WHERE vec_id < 16),
d AS (
  SELECT e.vec_id AS id, e.v AS vec, c.centroid_id,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(1, 65),
                 j -> (e.v[j] - c.cvec[j]) * (e.v[j] - c.cvec[j]))),
             (a, x) -> a + x) AS d2
  FROM e CROSS JOIN c
),
ranked AS (
  SELECT id, vec, centroid_id,
         row_number() OVER (PARTITION BY id
                            ORDER BY d2 ASC, centroid_id ASC) AS pr
  FROM d
),
cl AS (SELECT id AS neighbor_id, vec AS cv, centroid_id
       FROM ranked WHERE pr = 1),
ql AS (SELECT id AS query_id, vec AS qv, centroid_id
       FROM ranked WHERE pr <= 2 AND id < 5),
s AS (
  SELECT ql.query_id, cl.neighbor_id,
         CASE WHEN sqrt(list_dot_product(qv, qv))
                   * sqrt(list_dot_product(cv, cv)) > 0
              THEN list_dot_product(qv, cv)
                   / (sqrt(list_dot_product(qv, qv))
                      * sqrt(list_dot_product(cv, cv)))
         END AS cos
  FROM cl JOIN ql USING (centroid_id)
  WHERE ql.query_id <> cl.neighbor_id
),
r AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM s WHERE cos IS NOT NULL
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
       CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS cos_e4
FROM r WHERE rank <= 10
"""


def _sim_near_dup_lsh(spark, sf_dir):
    """Bucketed embedding near-duplicates with 2-table OR-amplification —
    the SCALE twin of sim_near_dup_exact, now value-verified (not just
    recall-tested): hyperplane buckets from the md5-derived weight matrix
    (seeds 42 and 43) are bit-identical to the oracle's w CTE, so the
    candidate set — and hence the thresholded pair set — matches exactly."""
    from omop2owl_vocab_spark.operators.similarity import (
        embedding_near_duplicates,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_duplicates(
        emb, threshold=0.3, n_bits=8, dim=64, n_tables=2
    )


# twin of _SIM_ANN_BUCKETED_SQL extended to 2 hyperplane tables (seeds
# 42+t): pairs colliding in ANY table's bucket, deduped, then exact-cosine
# verified at the same 0.3 threshold as sim_near_dup_exact
_SIM_NEAR_DUP_LSH_SQL = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
w AS (
  SELECT t.t AS t, b.b AS b, i.i AS i,
         CASE WHEN substr(md5(CAST(42 + t.t AS VARCHAR) || ':'
                            || CAST(b.b AS VARCHAR) || ':'
                            || CAST(i.i AS VARCHAR)), 1, 1)
                   IN ('0','2','4','6','8','a','c','e')
              THEN 1.0 ELSE -1.0 END AS w
  FROM range(2) t(t) CROSS JOIN range(8) b(b) CROSS JOIN range(64) i(i)
),
wl AS (SELECT t, b, list(w ORDER BY i) AS wv FROM w GROUP BY t, b),
proj AS (
  SELECT e.vec_id, wl.t, wl.b,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(1, 65), j -> wl.wv[j] * e.v[j])),
             (a, x) -> a + x) AS p
  FROM e CROSS JOIN wl
),
bkt AS (
  SELECT vec_id,
         CAST(t AS VARCHAR) || ':'
           || string_agg(CASE WHEN p >= 0 THEN '1' ELSE '0' END, ''
                         ORDER BY b) AS bucket
  FROM proj GROUP BY vec_id, t
),
pairs AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bkt a JOIN bkt b USING (bucket)
  WHERE a.vec_id < b.vec_id
),
scored AS (
  SELECT id_a, id_b,
         CASE WHEN sqrt(list_dot_product(va.v, va.v))
                   * sqrt(list_dot_product(vb.v, vb.v)) > 0
              THEN list_dot_product(va.v, vb.v)
                   / (sqrt(list_dot_product(va.v, va.v))
                      * sqrt(list_dot_product(vb.v, vb.v)))
         END AS cos
  FROM pairs
  JOIN e va ON va.vec_id = pairs.id_a
  JOIN e vb ON vb.vec_id = pairs.id_b
)
SELECT id_a, id_b,
       CAST(floor(cos * 10000 + 0.5) AS BIGINT) AS cos_e4
FROM scored WHERE cos IS NOT NULL AND cos >= 0.3
"""


def _mm_features(spark, sf_dir):
    from omop2owl_vocab_spark.operators.multimodal import (
        extract_features_long,
        synth_media,
    )

    return extract_features_long(synth_media(_t(spark, sf_dir, "documents")))


# byte histogram over encode(text) via hex-nibble extraction: bin of byte j
# = value of hex char 2j+1 (the high nibble).  value_e6 uses the same exact
# integer round-half-up the Arrow stub computes.
_MM_FEATURES_SQL = """
WITH h AS (
  SELECT doc_id AS media_id,
         hex(encode(COALESCE(text, ''))) AS hx,
         octet_length(encode(COALESCE(text, ''))) AS n_bytes
  FROM documents
),
nib AS (
  SELECT media_id,
         strpos('0123456789ABCDEF',
                substr(hx, CAST(i.i AS INTEGER) * 2 + 1, 1)) - 1 AS bin
  FROM h, LATERAL (SELECT unnest(range(n_bytes)) AS i) i
),
cnt AS (SELECT media_id, bin, COUNT(*) AS c FROM nib GROUP BY media_id, bin),
bins AS (
  SELECT h.media_id, h.n_bytes, r.i AS bin
  FROM h CROSS JOIN range(16) r(i)
)
SELECT b.media_id,
       CAST(b.n_bytes AS BIGINT) AS n_bytes,
       CAST(b.bin AS BIGINT) AS bin,
       CAST((2 * COALESCE(c.c, 0) * 1000000 + GREATEST(b.n_bytes, 1))
            // (2 * GREATEST(b.n_bytes, 1)) AS BIGINT) AS value_e6
FROM bins b
LEFT JOIN cnt c ON c.media_id = b.media_id AND c.bin = b.bin
"""


def _sim_recall(spark, sf_dir):
    """ANN recall as a first-class metric (r4 verdict #4): hyperplane LSH
    and IVF top-10 measured against brute-force cosine ground truth on a
    50-query sample — one row per method with micro-averaged recall_e4.
    The oracle composes the three existing per-method SQL re-derivations
    (widened to the 50-query set) and replays the intersection counts."""
    from omop2owl_vocab_spark.operators.similarity import ann_recall

    emb = _t(spark, sf_dir, "embeddings")
    # spread the single-row-group corpus scan: the brute-force ground
    # truth streams the corpus through one broadcast-join stage (see
    # _sim_cosine_topk)
    return ann_recall(
        emb.repartition(32),
        emb.filter(F.col("vec_id") < 50),
        k=10,
        dim=64,
        centroids=emb.filter(F.col("vec_id") < 16),
        nprobe=2,
    )


def _build_sim_recall_sql() -> str:
    # widen each method's committed oracle from the 5-query standalone
    # set to sim_recall's 50-query set; assert the predicate actually
    # rewrote so a drift in the source constants cannot silently produce
    # a 5-query recall
    cos = _SIM_COSINE_TOPK_SQL.replace("vec_id < 5", "vec_id < 50")
    ann = _SIM_ANN_BUCKETED_SQL.replace("vec_id < 5", "vec_id < 50")
    ivf = _SIM_IVF_TOPK_SQL.replace("pr <= 2 AND id < 5", "pr <= 2 AND id < 50")
    assert cos != _SIM_COSINE_TOPK_SQL
    assert ann != _SIM_ANN_BUCKETED_SQL
    assert ivf != _SIM_IVF_TOPK_SQL
    return f"""
WITH truth AS (SELECT query_id, neighbor_id FROM ({cos})),
a_hyp AS (SELECT query_id, neighbor_id FROM ({ann})),
a_ivf AS (SELECT query_id, neighbor_id FROM ({ivf})),
tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_truth,
              CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries
       FROM truth),
h AS (
  SELECT 'hyperplane' AS method, COUNT(*) AS hits
  FROM a_hyp JOIN truth USING (query_id, neighbor_id)
  UNION ALL
  SELECT 'ivf' AS method, COUNT(*) AS hits
  FROM a_ivf JOIN truth USING (query_id, neighbor_id)
)
SELECT h.method, CAST(10 AS BIGINT) AS k, tt.n_queries, tt.total_truth,
       CAST(h.hits AS BIGINT) AS total_hits,
       CAST(floor(CAST(h.hits AS DOUBLE) / tt.total_truth * 10000 + 0.5)
            AS BIGINT) AS recall_e4
FROM h CROSS JOIN tt
"""



def _q_asof_join(spark, sf_dir):
    """Keyed as-of join over the event stream: for every 'error' event,
    attach the latest prior (inclusive) non-error event of the same
    user — the union-marker + running-last window form (ONE shuffle on
    user_id, no range-join explosion; `operators/asof.py`).  The right
    side is pre-reduced to one row per (user_id, ts) by max event_id so
    the DuckDB ASOF LEFT JOIN oracle is tie-unambiguous."""
    from omop2owl_vocab_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    probes = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    quotes = (
        ev.filter(F.col("event_type") != "error")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("event_id"),
            F.max_by("event_type", "event_id").alias("event_type"),
            F.max_by("value", "event_id").alias("value"),
        )
    )
    out = asof_join(
        probes, quotes, on="user_id", right_tiebreak="event_id"
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.col("matched_event_id"),
        F.col("matched_event_type"),
        F.unix_micros(F.col("matched_ts").cast("timestamp")).alias(
            "matched_ts_us"
        ),
        F.floor(F.col("matched_value") * 10000 + F.lit(0.5))
        .cast("long")
        .alias("matched_value_e4"),
    )


_Q_ASOF_JOIN_SQL = """
WITH l AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
),
r AS (
  SELECT user_id, ts,
         max(event_id) AS event_id,
         arg_max(event_type, event_id) AS event_type,
         arg_max(value, event_id) AS value
  FROM events WHERE event_type <> 'error'
  GROUP BY user_id, ts
)
SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
       r.event_id AS matched_event_id,
       r.event_type AS matched_event_type,
       epoch_us(r.ts) AS matched_ts_us,
       CAST(floor(r.value * 10000 + 0.5) AS BIGINT) AS matched_value_e4
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def _txt_line_dedup(spark, sf_dir):
    """CCNet-style corpus-wide duplicated-line removal over documents
    augmented with planted boilerplate: a newsletter line on even ids, a
    rights-reserved footer on ids % 3, a case/whitespace VARIANT of the
    newsletter line on ids % 5 (proves normalization), and a per-doc
    unique 'ref code' line that must always survive.  Lines whose
    lower(trim(·)) form occurs >= 2 times corpus-wide are dropped;
    output is per-doc line counts + md5 of the re-assembled text."""
    from omop2owl_vocab_spark.operators.text import line_dedup

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = F.concat_ws(
        "\n",
        F.col("text"),
        F.when(did % 2 == 0, F.lit("Subscribe to our newsletter!")),
        F.when(did % 3 == 0, F.lit("All Rights Reserved.")),
        F.when(did % 5 == 0, F.lit("  subscribe TO our Newsletter!  ")),
        F.concat(F.lit("ref code "), did.cast("string")),
    )
    out = line_dedup(
        docs.select("doc_id", aug.alias("text")), min_count=2
    )
    return out.select(
        "doc_id",
        "n_lines",
        "n_removed",
        F.md5("text_dedup").alias("dedup_md5"),
    )


_TXT_LINE_DEDUP_SQL = """
WITH aug AS (
  SELECT doc_id,
         concat_ws(chr(10), text,
           CASE WHEN doc_id % 2 = 0 THEN 'Subscribe to our newsletter!' END,
           CASE WHEN doc_id % 3 = 0 THEN 'All Rights Reserved.' END,
           CASE WHEN doc_id % 5 = 0
                THEN '  subscribe TO our Newsletter!  ' END,
           'ref code ' || CAST(doc_id AS VARCHAR)) AS t
  FROM documents
),
lines AS (
  SELECT doc_id,
         unnest(string_split(t, chr(10))) AS line,
         generate_subscripts(string_split(t, chr(10)), 1) AS pos
  FROM aug
),
keyed AS (
  SELECT doc_id, pos, line,
         CASE WHEN trim(line) <> '' THEN md5(lower(trim(line))) END AS k
  FROM lines
),
cnt AS (
  SELECT k FROM keyed WHERE k IS NOT NULL
  GROUP BY k HAVING COUNT(*) >= 2
),
flag AS (
  SELECT keyed.doc_id, keyed.pos, keyed.line,
         cnt.k IS NOT NULL AS dup
  FROM keyed LEFT JOIN cnt ON keyed.k = cnt.k
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(COALESCE(SUM(CASE WHEN dup THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_removed,
       md5(COALESCE(
         array_to_string(list(line ORDER BY pos) FILTER (WHERE NOT dup),
                         chr(10)), '')) AS dedup_md5
FROM flag GROUP BY doc_id
"""


def _txt_tfidf(spark, sf_dir):
    """Top-3 TF-IDF terms per document in 'ratio' idf mode (exact
    integer numerator + one IEEE division — bit-identical cross-engine;
    the default ln mode is tolerance-verified in-suite because ln is
    not ulp-stable between the JVM and libm).  Document frequencies are
    a window over the (doc, term) counts — one token-path scan, no
    self-join (plan-pinned in test_asof_lines_tfidf.py)."""
    from omop2owl_vocab_spark.operators.text import tfidf_top_terms

    return tfidf_top_terms(
        _t(spark, sf_dir, "documents"), k=3, idf_mode="ratio"
    )


_TXT_TFIDF_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(trim(text), '\s+'),
                            x -> x <> '')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
),
n AS (
  SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM documents
),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         CAST(tf.tf * (n.n_docs + 1) AS DOUBLE)
           / CAST(dfreq.df + 1 AS DOUBLE) AS score
  FROM tf JOIN dfreq USING (term), n
),
ranked AS (
  SELECT doc_id, term, tf, df,
         CAST(row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, term ASC) AS BIGINT)
           AS rank,
         CAST(floor(score * 10000 + 0.5) AS BIGINT) AS score_e4
  FROM scored
)
SELECT doc_id, term, tf, df, rank, score_e4 FROM ranked WHERE rank <= 3
"""



def _q_interval_join(spark, sf_dir):
    """Point-in-interval join over the event stream: every 'error'
    event joined (left) to every same-user 'signup' window
    [signup_ts, signup_ts + 6h) that covers it — the grain-bucketed
    equi-join form (`operators/asof.py:interval_join`): each interval
    explodes across the 1h grains it touches, each point owns exactly
    one grain, so the hash join + exact range filter yields every
    qualifying pair exactly once with no range-join explosion."""
    from omop2owl_vocab_spark.operators.asof import interval_join

    ev = _t(spark, sf_dir, "events")
    pts = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    span = F.lit(6 * 3600).cast("long")
    ivs = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        "user_id",
        F.col("ts").alias("start"),
        F.timestamp_micros(
            F.unix_micros(F.col("ts").cast("timestamp"))
            + span * 1_000_000
        ).alias("end"),
    )
    out = interval_join(
        pts, ivs, point_ts="ts", start_ts="start", end_ts="end",
        on="user_id", grain_us=3_600_000_000, how="left",
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.col("iv_signup_id").alias("signup_id"),
        F.unix_micros(F.col("iv_start").cast("timestamp")).alias(
            "signup_ts_us"
        ),
    )


_Q_INTERVAL_JOIN_SQL = """
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
),
i AS (
  SELECT event_id AS signup_id, user_id, ts AS start_ts,
         ts + INTERVAL 6 HOUR AS end_ts
  FROM events WHERE event_type = 'signup'
)
SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
       i.signup_id, epoch_us(i.start_ts) AS signup_ts_us
FROM p LEFT JOIN i
  ON p.user_id = i.user_id AND p.ts >= i.start_ts AND p.ts < i.end_ts
"""


def _q_kmv_distinct(spark, sf_dir):
    """KMV (bottom-k) distinct-count sketch: per-language token
    vocabulary estimate over `documents` at k=64, alongside the exact
    distinct count so the sketch error is visible in the result itself.
    The 60-bit md5-prefix hash family is engine-portable, so DuckDB
    re-derives the identical k-th hash and the identical estimate —
    an APPROXIMATE operator verified hash-EXACT
    (`operators/sketch.py`)."""
    from omop2owl_vocab_spark.operators.sketch import kmv_distinct
    from omop2owl_vocab_spark.operators.text import _tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.explode(
            F.transform(_tokens(F.col("text")), lambda t: F.lower(t))
        ).alias("token"),
    )
    sk = kmv_distinct(toks, ["lang"], "token", k=64)
    exact = toks.groupBy("lang").agg(
        F.countDistinct("token").cast("long").alias("exact_distinct")
    )
    return sk.join(exact, "lang").select(
        "lang", "n_kept", "kth_hash", "distinct_e4", "exact_distinct"
    )


# DuckDB replay of the 60-bit md5-prefix hash: fold 15 hex chars to a
# BIGINT (strpos over '123456789abcdef' maps '0'→0 … 'f'→15)
_KMV_K = 64
_KMV_C = repr(float(_KMV_K - 1) * float(16**15))

_Q_KMV_DISTINCT_SQL = rf"""
WITH toks AS (
  SELECT lang,
         lower(unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                  x -> x <> ''))) AS token
  FROM documents
),
hashed AS (
  SELECT DISTINCT lang,
         list_reduce(
           list_transform(string_split(substr(md5(token), 1, 15), ''),
                          c -> CAST(strpos('123456789abcdef', c) AS BIGINT)),
           (a, b) -> a * 16 + b) AS h
  FROM toks
),
ranked AS (
  SELECT lang, h,
         row_number() OVER (PARTITION BY lang ORDER BY h ASC) AS r
  FROM hashed
),
agg AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_kept,
         max(CASE WHEN r = {_KMV_K} THEN h END) AS kth_hash
  FROM ranked WHERE r <= {_KMV_K} GROUP BY lang
),
exact AS (
  SELECT lang, CAST(COUNT(DISTINCT token) AS BIGINT) AS exact_distinct
  FROM toks GROUP BY lang
)
SELECT agg.lang, agg.n_kept, agg.kth_hash,
       CASE WHEN agg.kth_hash IS NOT NULL
            THEN CAST(floor({_KMV_C} / CAST(agg.kth_hash AS DOUBLE)
                            * 10000 + 0.5) AS BIGINT)
            ELSE agg.n_kept * 10000 END AS distinct_e4,
       exact.exact_distinct
FROM agg JOIN exact USING (lang)
"""


def _txt_collocations(spark, sf_dir):
    """Top-100 bigram collocations by PMI over `documents` — scored as
    the exact-integer PMI ratio c_xy·N·10^4 div (c_x·c_y) (ln is
    monotone, so the ranking IS the PMI ranking, and the all-integer
    arithmetic makes the DuckDB oracle hash-exact;
    `operators/text.py:bigram_pmi`)."""
    from omop2owl_vocab_spark.operators.text import bigram_pmi

    return bigram_pmi(
        _t(spark, sf_dir, "documents"), min_count=5, top_m=100
    )


_TXT_COLLOCATIONS_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         lower(unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                  x -> x <> ''))) AS w,
         generate_subscripts(list_filter(string_split_regex(trim(text),
                                                            '\s+'),
                                         x -> x <> ''), 1) AS pos
  FROM documents
),
uni AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c_w FROM toks GROUP BY w
),
n AS (SELECT CAST(SUM(c_w) AS BIGINT) AS n_tokens FROM uni),
pairs AS (
  SELECT lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1, w AS w2
  FROM toks QUALIFY w1 IS NOT NULL
),
cxy AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy
  FROM pairs GROUP BY w1, w2 HAVING COUNT(*) >= 5
)
SELECT cxy.w1, cxy.w2, cxy.c_xy,
       u1.c_w AS c_x, u2.c_w AS c_y, n.n_tokens,
       (cxy.c_xy * n.n_tokens * 10000) // (u1.c_w * u2.c_w)
         AS pmi_ratio_e4
FROM cxy
JOIN uni u1 ON cxy.w1 = u1.w
JOIN uni u2 ON cxy.w2 = u2.w
CROSS JOIN n
ORDER BY pmi_ratio_e4 DESC, w1 ASC, w2 ASC
LIMIT 100
"""


def _pipe_mixture(spark, sf_dir):
    """Deterministic data-mixture resampling over `documents`: src0
    halved, src1 upsampled 2.5× (two full copies + a 50% third), src2
    kept, src3 quartered, every other source at the 0.75 default —
    the domain-reweighting primitive.  Acceptance is an integer
    comparison of a 60-bit md5 draw against plan-time thresholds, so
    the kept multiset is engine-independent
    (`operators/sample.py:mixture_sample`)."""
    from omop2owl_vocab_spark.operators.sample import mixture_sample

    docs = _t(spark, sf_dir, "documents")
    out = mixture_sample(
        docs.select("doc_id", "source"),
        {"src0": 0.5, "src1": 2.5, "src2": 1.0, "src3": 0.25},
        seed=11,
        default_rate=0.75,
    )
    return out.select("doc_id", "source", F.col("copy_id").cast("long"))


def _mix_thr(frac: float) -> int:
    return int(round(frac * (16**15)))


_PIPE_MIXTURE_SQL = f"""
WITH d AS (
  SELECT doc_id, source,
         list_reduce(
           list_transform(
             string_split(substr(md5('mix11:' || CAST(doc_id AS VARCHAR)),
                                 1, 15), ''),
             c -> CAST(strpos('123456789abcdef', c) AS BIGINT)),
           (a, b) -> a * 16 + b) AS u
  FROM documents
),
n AS (
  SELECT doc_id, source,
         CASE source
           WHEN 'src0' THEN 0 + CASE WHEN u < {_mix_thr(0.5)} THEN 1 ELSE 0 END
           WHEN 'src1' THEN 2 + CASE WHEN u < {_mix_thr(0.5)} THEN 1 ELSE 0 END
           WHEN 'src2' THEN 1 + CASE WHEN u < {_mix_thr(0.0)} THEN 1 ELSE 0 END
           WHEN 'src3' THEN 0 + CASE WHEN u < {_mix_thr(0.25)} THEN 1 ELSE 0 END
           ELSE 0 + CASE WHEN u < {_mix_thr(0.75)} THEN 1 ELSE 0 END
         END AS n_copies
  FROM d
)
SELECT doc_id, source,
       CAST(unnest(generate_series(0, n_copies - 1)) AS BIGINT) AS copy_id
FROM n WHERE n_copies > 0
"""


def _txt_doc_stats(spark, sf_dir):
    """Exact nearest-rank length percentiles per language over
    `documents` — corpus profiling with pure integer rank selection
    (``ceil(pct·n/100)`` as ``(pct·n+99) div 100`` on longs), so the
    selected values are engine-independent — no interpolated-percentile
    float drift (`operators/stats.py:group_quantiles`)."""
    from omop2owl_vocab_spark.operators.stats import group_quantiles

    return group_quantiles(
        _t(spark, sf_dir, "documents"), ["lang"], "n_chars", (50, 90, 99)
    )


_TXT_DOC_STATS_SQL = """
WITH ranked AS (
  SELECT lang, n_chars AS v,
         CAST(row_number() OVER (PARTITION BY lang ORDER BY n_chars ASC)
              AS BIGINT) AS r,
         CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n
  FROM documents
)
SELECT lang,
       max(n) AS n, min(v) AS min, max(v) AS max,
       max(CASE WHEN r = (50 * n + 99) // 100 THEN v END) AS p50,
       max(CASE WHEN r = (90 * n + 99) // 100 THEN v END) AS p90,
       max(CASE WHEN r = (99 * n + 99) // 100 THEN v END) AS p99
FROM ranked GROUP BY lang
"""


def _kg_ancestors(spark, sf_dir):
    """Transitive ancestor closure with min/max levels of separation —
    the OMOP concept_ancestor analog (`operators/closure.py`), computed
    by path doubling (⌈log2(depth)⌉+1 join rounds, per-round lineage
    checkpoint) over a deterministic part-key hierarchy: tree edges
    k → k div 10 plus shortcut edges k → k div 100 on k % 13 == 0, so
    min_levels < max_levels on every pair a shortcut bypasses.  Oracle:
    DuckDB recursive CTE enumerating all path lengths, then min/max."""
    from omop2owl_vocab_spark.operators.closure import ancestor_closure

    part = _t(spark, sf_dir, "part")
    base = part.select(
        F.col("p_partkey").alias("child"),
        F.expr("p_partkey div 10").alias("parent"),
    ).filter(F.col("parent") >= 1)
    skip = part.filter(F.expr("p_partkey % 13 = 0")).select(
        F.col("p_partkey").alias("child"),
        F.expr("p_partkey div 100").alias("parent"),
    ).filter(F.col("parent") >= 1)
    closure, _stats = ancestor_closure(base.unionByName(skip), max_iter=8)
    return closure.select(
        "ancestor", "descendant", "min_levels", "max_levels"
    )


_KG_ANCESTORS_SQL = """
WITH RECURSIVE edges AS (
  SELECT p_partkey AS child, p_partkey // 10 AS parent
  FROM part WHERE p_partkey // 10 >= 1
  UNION ALL
  SELECT p_partkey AS child, p_partkey // 100 AS parent
  FROM part WHERE p_partkey % 13 = 0 AND p_partkey // 100 >= 1
),
paths(ancestor, descendant, lvl) AS (
  SELECT DISTINCT parent, child, 1 FROM edges WHERE parent <> child
  UNION
  SELECT e.parent, p.descendant, p.lvl + 1
  FROM paths p JOIN edges e ON e.child = p.ancestor
  WHERE e.parent <> e.child
)
SELECT ancestor, descendant,
       CAST(min(lvl) AS BIGINT) AS min_levels,
       CAST(max(lvl) AS BIGINT) AS max_levels
FROM paths GROUP BY ancestor, descendant
"""


def _q_table_diff(spark, sf_dir):
    """Keyed snapshot diff (`operators/diff.py:keyed_diff`): orders with
    key-mod carve-outs as the two versions (old drops keys %5==0, new
    drops %3==0 and bumps o_totalprice on %7==0), exercising all four
    statuses — one full-outer hash join + a null-safe projection,
    changed_cols named per column."""
    from omop2owl_vocab_spark.operators.diff import keyed_diff

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = orders.filter(F.expr("o_orderkey % 5 <> 0"))
    new = orders.filter(F.expr("o_orderkey % 3 <> 0")).withColumn(
        "o_totalprice",
        F.when(
            F.expr("o_orderkey % 7 = 0"), F.col("o_totalprice") + 1
        ).otherwise(F.col("o_totalprice")),
    )
    return keyed_diff(
        new, old, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    )


_Q_TABLE_DIFF_SQL = """
WITH o AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 5 <> 0
),
n AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 3 <> 0
),
j AS (
  SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
         n.o_orderkey IS NOT NULL AS np, o.o_orderkey IS NOT NULL AS op,
         concat_ws(',',
           CASE WHEN n.o_orderstatus IS DISTINCT FROM o.o_orderstatus
                THEN 'o_orderstatus' END,
           CASE WHEN n.o_totalprice IS DISTINCT FROM o.o_totalprice
                THEN 'o_totalprice' END) AS cc
  FROM n FULL OUTER JOIN o USING (o_orderkey)
)
SELECT o_orderkey,
       CASE WHEN NOT op THEN 'added'
            WHEN NOT np THEN 'removed'
            WHEN cc <> '' THEN 'changed'
            ELSE 'unchanged' END AS status,
       CASE WHEN np AND op AND cc <> '' THEN cc ELSE '' END
         AS changed_cols
FROM j
"""


def _txt_length_hist(spark, sf_dir):
    """Per-language fixed-width document-length histogram
    (`operators/stats.py:group_histogram`): 200-char bins over
    [0, 4000) with clamp-to-edge overflow buckets; bin edges are pure
    long arithmetic (`div`), so the sparse (lang, bin_lo, n) frame is
    engine-exact."""
    from omop2owl_vocab_spark.operators.stats import group_histogram

    return group_histogram(
        _t(spark, sf_dir, "documents"),
        ["lang"],
        "n_chars",
        bin_width=200,
        lo=0,
        hi=4000,
    )


_TXT_LENGTH_HIST_SQL = """
SELECT lang,
       CAST(((LEAST(GREATEST(CAST(n_chars AS BIGINT), 0), 3999)) // 200)
            * 200 AS BIGINT) AS bin_lo,
       CAST(COUNT(*) AS BIGINT) AS n
FROM documents GROUP BY lang, bin_lo
"""


def _q_funnel(spark, sf_dir):
    """signup → click → purchase funnel over the event stream
    (`operators/funnel.py:funnel_steps`): greedy-earliest chain
    timestamps per user (complete — if any increasing chain exists the
    greedy one does) via k-1 chained aggregate+join stages, no window
    over the full stream, no UDF."""
    from omop2owl_vocab_spark.operators.funnel import funnel_steps

    return funnel_steps(
        _t(spark, sf_dir, "events"), ["signup", "click", "purchase"]
    )


_Q_FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, min(epoch_us(ts)) AS ts_1
  FROM events WHERE event_type = 'signup' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS ts_2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.ts_1
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS ts_3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.ts_2
  GROUP BY e.user_id
)
SELECT s1.user_id, s1.ts_1, s2.ts_2, s3.ts_3,
       CAST(1 + (s2.ts_2 IS NOT NULL)::INT + (s3.ts_3 IS NOT NULL)::INT
            AS BIGINT) AS steps_completed
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 ON s1.user_id = s3.user_id
"""


def _txt_skipgrams(spark, sf_dir):
    """Top-100 windowed skip-gram co-occurrence pairs (forward distance
    ≤ 3) over `documents` — the word2vec/GloVe positive-pair generator
    (`operators/text.py:skipgram_cooccurrence`): one tokenize, all
    offsets via zip_with slices, one explode + one hash-agg."""
    from omop2owl_vocab_spark.operators.text import skipgram_cooccurrence

    return skipgram_cooccurrence(
        _t(spark, sf_dir, "documents"), window=3, min_count=5, top_m=100
    )


_TXT_SKIPGRAMS_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         lower(unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                  x -> x <> ''))) AS w,
         generate_subscripts(list_filter(string_split_regex(trim(text),
                                                            '\s+'),
                                         x -> x <> ''), 1) AS pos
  FROM documents
)
SELECT a.w AS w1, b.w AS w2, CAST(COUNT(*) AS BIGINT) AS c_xy
FROM toks a JOIN toks b
  ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 3
GROUP BY a.w, b.w HAVING COUNT(*) >= 5
ORDER BY c_xy DESC, w1 ASC, w2 ASC
LIMIT 100
"""


def _kg_triangles(spark, sf_dir):
    """Exact triangle count (`operators/graph.py:triangle_count`) by
    degree orientation — per-key wedge fan-out capped at O(√m) before
    AQE even looks, the standard MPC scheme — over a deterministic
    customer-key graph (chain k→k+1, skip k→k+2 → one triangle per
    consecutive key triple, plus the (7k+3) mod 1000 cross edges for
    irregular closures).  Oracle: canonical a<b<c three-way self-join."""
    from omop2owl_vocab_spark.operators.graph import triangle_count

    return triangle_count(_custkey_edges(spark, sf_dir))


_KG_TRIANGLES_SQL = """
WITH raw AS (
  SELECT c_custkey AS s, c_custkey + 1 AS t FROM customer
  UNION ALL SELECT c_custkey, c_custkey + 2 FROM customer
  UNION ALL SELECT c_custkey, (c_custkey * 7 + 3) % 1000 FROM customer
),
und AS (
  SELECT DISTINCT LEAST(s, t) AS a, GREATEST(s, t) AS b
  FROM raw WHERE s <> t
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM und e1
JOIN und e2 ON e2.a = e1.b
JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
"""


def _q_session_paths(spark, sf_dir):
    """Top-50 session journeys (`operators/funnel.py:session_paths`):
    30-min-gap sessions, first 10 event types per session joined into a
    '>'-path, counted, top-k via TakeOrderedAndProject.  Within-session
    order is (ts, event_id) so equal timestamps can't flip the path
    between engines; per-session state is capped at max_events."""
    from omop2owl_vocab_spark.operators.funnel import session_paths

    return session_paths(
        _t(spark, sf_dir, "events"), gap_minutes=30, top_k=50, max_events=10
    )


_Q_SESSION_PATHS_SQL = """
WITH lagged AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
         CASE WHEN lag(epoch_us(ts)) OVER
                     (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                   IS NULL
              OR epoch_us(ts) - lag(epoch_us(ts)) OVER
                     (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                   > 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM events
),
s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM lagged
),
capped AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, sid
                               ORDER BY ts_us, event_id) AS r
  FROM s
),
paths AS (
  SELECT user_id, sid,
         string_agg(event_type, '>' ORDER BY ts_us, event_id) AS path
  FROM capped WHERE r <= 10 GROUP BY user_id, sid
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path ASC
LIMIT 50
"""


def _q_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences (`operators/funnel.py:transition_matrix`): lag() over the
    (ts, event_id)-ordered stream per user, count each (from_type,
    to_type) pair, row-normalize in exact 4-decimal fixed point via
    INTEGER division so DuckDB and Spark can't diverge on float
    rounding.  The normalizing window runs over the aggregated matrix
    (|types|^2 rows) — free at any corpus scale."""
    from omop2owl_vocab_spark.operators.funnel import transition_matrix

    return transition_matrix(_t(spark, sf_dir, "events"))


_Q_TRANSITIONS_SQL = """
WITH seq AS (
  SELECT event_type AS to_type,
         lag(event_type) OVER
           (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
           AS from_type
  FROM events WHERE ts IS NOT NULL
),
c AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE from_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type, n,
       CAST((n * 10000) // CAST(SUM(n) OVER (PARTITION BY from_type)
                                AS BIGINT) AS BIGINT) AS prob_e4
FROM c
"""


def _kg_degree_profile(spark, sf_dir):
    """Degree-frequency profile (`operators/graph.py:
    degree_distribution`) of the order→part bipartite graph
    (lineitem edges, multiplicity kept): out-degree = lines per order,
    in-degree = part popularity — the skew diagnostic read before
    picking salting/broadcast strategy.  Plan: one scan, explode both
    endpoints, two hash-aggs, zero joins/sorts (plan-pinned in
    test_pagerank)."""
    from omop2owl_vocab_spark.operators.graph import degree_distribution

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("src"), F.col("l_partkey").alias("dst")
    )
    return degree_distribution(li)


_KG_DEGREE_PROFILE_SQL = """
WITH ends AS (
  SELECT 'out' AS direction, l_orderkey AS node FROM lineitem
  UNION ALL
  SELECT 'in' AS direction, l_partkey AS node FROM lineitem
),
deg AS (
  SELECT direction, node, CAST(COUNT(*) AS BIGINT) AS degree
  FROM ends GROUP BY direction, node
)
SELECT direction, degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY direction, degree
"""


def _q_mad_outliers(spark, sf_dir):
    """Robust per-group outlier screen (`operators/stats.py:
    mad_outliers`): nearest-rank median + MAD per order priority over
    o_totalprice, 3·MAD fence in integer hundredths.  Both medians are
    selected data values (integer-rank arithmetic), the flag count is
    an integer sum — hash-exact despite the double value column."""
    from omop2owl_vocab_spark.operators.stats import mad_outliers

    return mad_outliers(
        _t(spark, sf_dir, "orders"),
        ["o_orderpriority"],
        "o_totalprice",
        k_e2=300,
    )


_Q_MAD_OUTLIERS_SQL = """
WITH base AS (
  SELECT o_orderpriority AS g, CAST(o_totalprice AS DOUBLE) AS v
  FROM orders WHERE o_totalprice IS NOT NULL
),
r1 AS (
  SELECT *, row_number() OVER (PARTITION BY g ORDER BY v) AS r,
         CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS n
  FROM base
),
med AS (
  SELECT g, CAST(MAX(n) AS BIGINT) AS n,
         MAX(CASE WHEN r = (50 * n + 99) // 100 THEN v END) AS med
  FROM r1 GROUP BY g
),
dev AS (
  SELECT b.g, m.n, m.med, ABS(b.v - m.med) AS d
  FROM base b JOIN med m ON b.g = m.g
),
r2 AS (
  SELECT *, row_number() OVER (PARTITION BY g ORDER BY d) AS r FROM dev
),
wm AS (
  SELECT *, MAX(CASE WHEN r = (50 * n + 99) // 100 THEN d END)
              OVER (PARTITION BY g) AS mad
  FROM r2
)
SELECT g AS o_orderpriority, CAST(MAX(n) AS BIGINT) AS n,
       MAX(med) AS med, MAX(mad) AS mad,
       CAST(SUM(CASE WHEN d * 100.0 > mad * 300.0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM wm GROUP BY g
"""


def _kg_fuzzy_pairs(spark, sf_dir):
    """Entity-resolution candidate pairs (`operators/resolve.py:
    fuzzy_pairs`): customers within a nation block whose canonicalized
    names are ≤1 edit apart — Fellegi–Sunter blocking with a
    length-band prefilter and Spark's thresholded (early-abandon)
    Levenshtein, all join-time, zero Python.  Names canonicalize to
    lowercase ASCII so Spark's codepoint distance and DuckDB's byte
    distance coincide."""
    from omop2owl_vocab_spark.operators.resolve import fuzzy_pairs

    return fuzzy_pairs(
        _t(spark, sf_dir, "customer"),
        id_col="c_custkey",
        name_col="c_name",
        block_col="c_nationkey",
        max_dist=1,
    )


_KG_FUZZY_PAIRS_SQL = """
WITH n AS (
  SELECT c_custkey AS id, c_nationkey AS block,
         regexp_replace(lower(c_name), '[^a-z0-9 ]', '', 'g') AS nm
  FROM customer
)
SELECT a.id AS id_l, b.id AS id_r, a.block AS block,
       CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist
FROM n a JOIN n b
  ON a.block = b.block AND a.id < b.id
WHERE abs(length(a.nm) - length(b.nm)) <= 1
  AND levenshtein(a.nm, b.nm) <= 1
"""


def _q_cohorts(spark, sf_dir):
    """Weekly cohort-retention triangle (`operators/funnel.py:
    cohort_retention`): users bucketed by first-activity epoch-week,
    counted once per later week they return.  Distinct (user, week) →
    per-user window-min cohort → tiny (cohort, offset) agg; buckets
    are integer epoch-day arithmetic, no calendar exposure."""
    from omop2owl_vocab_spark.operators.funnel import cohort_retention

    return cohort_retention(_t(spark, sf_dir, "events"), bucket_days=7)


_Q_COHORTS_SQL = """
WITH ub AS (
  SELECT DISTINCT user_id AS u,
         (epoch_us(ts) // 86400000000) // 7 AS b
  FROM events
),
c AS (
  SELECT u, b, MIN(b) OVER (PARTITION BY u) AS cohort FROM ub
)
SELECT cohort AS cohort_bucket,
       b - cohort AS offset_buckets,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM c GROUP BY cohort, b - cohort
"""


def _q_gap_fill(spark, sf_dir):
    """Per-event-type contiguous daily series (`operators/timeseries.py:
    gap_fill_daily`): counts per epoch day with explicit zeros across
    each key's [first, last] span — the densification every trend /
    moving-average readout assumes.  Spine rows are engine-generated
    (sequence + explode), never collected."""
    from omop2owl_vocab_spark.operators.timeseries import gap_fill_daily

    return gap_fill_daily(_t(spark, sf_dir, "events"), "event_type")


_Q_GAP_FILL_SQL = """
WITH counts AS (
  SELECT event_type AS key,
         epoch_us(ts) // 86400000000 AS day,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
rng AS (
  SELECT key, MIN(day) AS lo, MAX(day) AS hi FROM counts GROUP BY key
),
spine AS (
  SELECT key, UNNEST(generate_series(lo, hi)) AS day FROM rng
)
SELECT s.key, s.day, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
FROM spine s LEFT JOIN counts c ON s.key = c.key AND s.day = c.day
"""


def _q_rolling(spark, sf_dir):
    """7-day trailing moving aggregates (`operators/timeseries.py:
    rolling_daily`) composed over the gap-filled per-event-type daily
    series — one RANGE window frame shared by both aggregates,
    integer sums, fixed-point mean by integer division.  On a
    non-filled series the frame would silently average over holes;
    the composition is the point."""
    from omop2owl_vocab_spark.operators.timeseries import (
        gap_fill_daily,
        rolling_daily,
    )

    return rolling_daily(
        gap_fill_daily(_t(spark, sf_dir, "events"), "event_type"),
        window_days=7,
    )


_Q_ROLLING_SQL = """
WITH counts AS (
  SELECT event_type AS key,
         epoch_us(ts) // 86400000000 AS day,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
rng AS (
  SELECT key, MIN(day) AS lo, MAX(day) AS hi FROM counts GROUP BY key
),
spine AS (
  SELECT key, UNNEST(generate_series(lo, hi)) AS day FROM rng
),
filled AS (
  SELECT s.key, s.day, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
  FROM spine s LEFT JOIN counts c ON s.key = c.key AND s.day = c.day
),
roll AS (
  SELECT key, day, n,
         CAST(SUM(n) OVER w AS BIGINT) AS sum_w,
         CAST(COUNT(*) OVER w AS BIGINT) AS days_w
  FROM filled
  WINDOW w AS (PARTITION BY key ORDER BY day
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT key, day, n, sum_w, days_w,
       CAST((sum_w * 10000) // days_w AS BIGINT) AS avg_e4
FROM roll
"""


def _q_json_extract(spark, sf_dir):
    """Typed JSON extraction (`from_json` with an EXPLICIT schema —
    ONE parse per row feeding all downstream references, vs
    get_json_object's parse-per-call) over the events ``props``
    column: per event type, count + sum/min/max of the extracted
    integer field.  The parse stays in the scan-side projection; the
    aggregate is a plain map-side-combined hash-agg."""
    ev = _t(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "struct<k:bigint>")["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
        )
    )


_Q_JSON_EXTRACT_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MIN(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS min_k,
       CAST(MAX(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS max_k
FROM events GROUP BY event_type
"""


def _q_deciles(spark, sf_dir):
    """Equal-frequency binning (`operators/stats.py:equal_freq_bins`):
    o_totalprice deciles per order priority — SQL-standard NTILE row
    arithmetic (first n mod 10 buckets take the ceil), per-bin
    occupancy + actual lo/hi values.  One per-group sort + one
    hash-agg."""
    from omop2owl_vocab_spark.operators.stats import equal_freq_bins

    return equal_freq_bins(
        _t(spark, sf_dir, "orders"),
        ["o_orderpriority"],
        "o_totalprice",
        n_bins=10,
    )


_Q_DECILES_SQL = """
WITH t AS (
  SELECT o_orderpriority, CAST(o_totalprice AS DOUBLE) AS v,
         CAST(ntile(10) OVER (PARTITION BY o_orderpriority ORDER BY
                              o_totalprice) AS BIGINT) AS bin
  FROM orders WHERE o_totalprice IS NOT NULL
)
SELECT o_orderpriority, bin, CAST(COUNT(*) AS BIGINT) AS n,
       MIN(v) AS lo, MAX(v) AS hi
FROM t GROUP BY o_orderpriority, bin
"""


def _q_pivot(spark, sf_dir):
    """Pivot (`DataFrame.pivot` with an EXPLICIT value list — no
    value-discovery pre-job, the scale-correct form): lineitem counts
    and quantity sums as a (linestatus × returnflag) wide table.
    Catalyst compiles this to ONE hash-aggregate with conditional
    aggregates — the input is scanned once, not once per column."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.count(F.lit(1)).cast("long"))
        .select(
            "l_linestatus",
            F.coalesce(F.col("A"), F.lit(0)).cast("long").alias("n_a"),
            F.coalesce(F.col("N"), F.lit(0)).cast("long").alias("n_n"),
            F.coalesce(F.col("R"), F.lit(0)).cast("long").alias("n_r"),
        )
    )


_Q_PIVOT_SQL = """
SELECT l_linestatus,
       CAST(COUNT(*) FILTER (WHERE l_returnflag = 'A') AS BIGINT) AS n_a,
       CAST(COUNT(*) FILTER (WHERE l_returnflag = 'N') AS BIGINT) AS n_n,
       CAST(COUNT(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT) AS n_r
FROM lineitem GROUP BY l_linestatus
"""


def _q_cube(spark, sf_dir):
    """CUBE aggregate with explicit grouping markers: all four grouping
    sets over (returnflag, linestatus) in ONE pass (Catalyst's Expand
    node — the input is scanned once, not 4×), GROUPING() exposed as an
    integer column so '<all>' placeholders can't collide with real
    values.  Completes the hierarchical-aggregate family next to
    q_rollup."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("long").alias("g_rf"),
            F.grouping("l_linestatus").cast("long").alias("g_ls"),
            F.count("*").cast("long").alias("n_rows"),
            F.floor(F.sum("l_quantity") * 100 + F.lit(0.5))
            .cast("long")
            .alias("sum_qty_e2"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("<all>")).alias(
                "returnflag"
            ),
            F.coalesce(F.col("l_linestatus"), F.lit("<all>")).alias(
                "linestatus"
            ),
            "g_rf",
            "g_ls",
            "n_rows",
            "sum_qty_e2",
        )
    )


_Q_CUBE_SQL = """
SELECT COALESCE(l_returnflag, '<all>') AS returnflag,
       COALESCE(l_linestatus, '<all>') AS linestatus,
       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
       COUNT(*) AS n_rows,
       CAST(floor(SUM(l_quantity) * 100 + 0.5) AS BIGINT) AS sum_qty_e2
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def _kg_pagerank(spark, sf_dir):
    """Fixed-iteration integer PageRank (`operators/graph.py`): 5 power
    iterations at damping 85% over a deterministic cyclic graph derived
    from customer keys (k → (7k+3) mod 1000 and k → k div 3 — the mod
    edge creates cycles, the div edge funnels toward low keys).  Ranks
    are 10^9-scaled longs updated with pure integer division, so the
    DuckDB oracle unrolls the identical recurrence bit-for-bit — an
    ITERATIVE algorithm verified hash-exact, no float reduction-order
    drift possible."""
    from omop2owl_vocab_spark.operators.graph import pagerank_fixed

    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    e1 = cust.select(
        F.col("c_custkey").alias("src"),
        F.expr("(c_custkey * 7 + 3) % 1000").alias("dst"),
    )
    e2 = cust.select(
        F.col("c_custkey").alias("src"),
        F.expr("c_custkey div 3").alias("dst"),
    )
    return pagerank_fixed(
        e1.unionByName(e2), iterations=5, damping_pct=85
    )


def _pagerank_oracle_sql(iterations: int = 5, damping_pct: int = 85) -> str:
    base = (100 - damping_pct) * (10**9) // 100
    head = """
WITH e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT c_custkey AS src, (c_custkey * 7 + 3) % 1000 AS dst FROM customer
    UNION ALL
    SELECT c_custkey AS src, c_custkey // 3 AS dst FROM customer
  )
),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e
  )
),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src),
r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS r FROM nodes)"""
    its = []
    for i in range(1, iterations + 1):
        its.append(f""",
r{i} AS (
  SELECT n.node,
         CAST({base} + {damping_pct} * COALESCE(s.s, 0) // 100 AS BIGINT) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, SUM(r.r // deg.deg) AS s
    FROM r{i - 1} r JOIN e ON r.node = e.src JOIN deg ON deg.src = e.src
    GROUP BY e.dst
  ) s ON n.node = s.node
)""")
    tail = f"\nSELECT node, r AS rank_e9 FROM r{iterations}"
    return head + "".join(its) + tail


_KG_PAGERANK_SQL = _pagerank_oracle_sql()


def _kg_kcore(spark, sf_dir):
    """Bulk-synchronous 5-core peel (`operators/graph.py:k_core`, 6
    rounds) over the customer-key graph used by kg_triangles (chain
    k→k+1, skip k→k+2, cross (7k+3) mod 1000, undirected simple):
    each round drops nodes whose degree is < 5 plus their edges — the
    denoising/community-seeding membership question.  Early-exit at
    edge-set stability is observationally identical to the oracle's
    fixed 6 unrolled rounds (peel only removes)."""
    from omop2owl_vocab_spark.operators.graph import k_core

    return k_core(_custkey_edges(spark, sf_dir), k=5, rounds=6)


def _kcore_oracle_sql(k: int = 5, rounds: int = 6) -> str:
    head = """
WITH raw AS (
  SELECT c_custkey AS src, c_custkey + 1 AS dst FROM customer
  UNION ALL
  SELECT c_custkey, c_custkey + 2 FROM customer
  UNION ALL
  SELECT c_custkey, (c_custkey * 7 + 3) % 1000 FROM customer
),
e0 AS MATERIALIZED (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM raw WHERE src <> dst
)"""
    its = []
    for i in range(1, rounds + 1):
        its.append(f""",
d{i} AS MATERIALIZED (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
    SELECT a AS node FROM e{i - 1} UNION ALL SELECT b FROM e{i - 1}
  ) GROUP BY node
),
a{i} AS (SELECT node FROM d{i} WHERE degree >= {k}),
e{i} AS MATERIALIZED (
  SELECT e.a, e.b FROM e{i - 1} e
  JOIN a{i} x ON e.a = x.node JOIN a{i} y ON e.b = y.node
)""")
    tail = f"""
SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
  SELECT a AS node FROM e{rounds} UNION ALL SELECT b FROM e{rounds}
) GROUP BY node"""
    return head + "".join(its) + tail


_KG_KCORE_SQL = _kcore_oracle_sql()


def _kg_bfs(spark, sf_dir):
    """Multi-source BFS distances (`operators/graph.py:bfs_distances`,
    4 hops, undirected) over the customer-key graph from kg_kcore,
    seeded at customers whose key is a multiple of 500 — the
    blast-radius / seed-expansion readout.  Frontier loop with
    per-round anti-join + distinct; the oracle proves the SEMANTICS
    via the equivalent unrolled reachability-set formulation."""
    from omop2owl_vocab_spark.operators.graph import bfs_distances

    srcs = (
        _t(spark, sf_dir, "customer")
        .filter(F.expr("c_custkey % 500 = 0"))
        .select(F.col("c_custkey").alias("node"))
    )
    return bfs_distances(_custkey_edges(spark, sf_dir), srcs, max_hops=4)


def _bfs_oracle_sql(max_hops: int = 4) -> str:
    head = """
WITH raw AS (
  SELECT c_custkey AS src, c_custkey + 1 AS dst FROM customer
  UNION ALL
  SELECT c_custkey, c_custkey + 2 FROM customer
  UNION ALL
  SELECT c_custkey, (c_custkey * 7 + 3) % 1000 FROM customer
),
e AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM raw UNION ALL SELECT dst, src FROM raw
  ) WHERE src <> dst
),
r0 AS MATERIALIZED (
  SELECT DISTINCT c_custkey AS node FROM customer WHERE c_custkey % 500 = 0
)"""
    its = []
    for i in range(1, max_hops + 1):
        its.append(f""",
r{i} AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT node FROM r{i - 1}
    UNION ALL
    SELECT e.dst FROM r{i - 1} f JOIN e ON f.node = e.src
  )
)""")
    levels = "\nUNION ALL\n".join(
        f"  SELECT node, {i} AS i FROM r{i}" for i in range(max_hops + 1)
    )
    tail = f"""
SELECT node, CAST(MIN(i) AS BIGINT) AS dist FROM (
{levels}
) GROUP BY node"""
    return head + "".join(its) + tail


_KG_BFS_SQL = _bfs_oracle_sql()


def _kg_lpa(spark, sf_dir):
    """Synchronous label propagation (`operators/graph.py:
    label_propagation`, 3 fixed rounds, min-label tiebreak) over the
    customer-key graph — the community-detection baseline next to
    kg_connected_components.  Integer argmax (max of (count, -label)
    structs), so the unrolled DuckDB recurrence matches bit-for-bit
    whatever the (possibly oscillating) synchronous dynamics."""
    from omop2owl_vocab_spark.operators.graph import label_propagation

    return label_propagation(
        _custkey_edges(spark, sf_dir, skip=False), rounds=3
    )


def _lpa_oracle_sql(rounds: int = 3) -> str:
    head = """
WITH raw AS (
  SELECT c_custkey AS src, c_custkey + 1 AS dst FROM customer
  UNION ALL
  SELECT c_custkey, (c_custkey * 7 + 3) % 1000 FROM customer
),
e AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM raw UNION ALL SELECT dst, src FROM raw
  ) WHERE src <> dst
),
l0 AS MATERIALIZED (
  SELECT node, CAST(node AS BIGINT) AS label FROM (
    SELECT DISTINCT src AS node FROM e
    UNION SELECT DISTINCT dst FROM e
  )
)"""
    its = []
    for i in range(1, rounds + 1):
        its.append(f""",
c{i} AS MATERIALIZED (
  SELECT e.dst AS node, l.label, CAST(COUNT(*) AS BIGINT) AS c
  FROM l{i - 1} l JOIN e ON l.node = e.src
  GROUP BY e.dst, l.label
),
l{i} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label, row_number() OVER
      (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
    FROM c{i}
  ) WHERE rn = 1
)""")
    tail = f"\nSELECT node, label FROM l{rounds}"
    return head + "".join(its) + tail


_KG_LPA_SQL = _lpa_oracle_sql()


def _kg_shortest_paths(spark, sf_dir):
    """Fixed-round Bellman–Ford (`operators/graph.py:bellman_ford`, 6
    relaxation sweeps) over the WEIGHTED customer-key graph (chain
    w=2, skip w=3, cross w=5 — the skip is cheaper per key covered, so
    cheapest paths genuinely differ from hop counts), sources = keys
    divisible by 500.  Integer weights, exact sums; result is exact
    for paths of ≤6 edges (the budgeted-traversal contract), oracle
    unrolls the identical recurrence."""
    from omop2owl_vocab_spark.operators.graph import bellman_ford

    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    e = (
        cust.select(
            F.col("c_custkey").alias("src"),
            (F.col("c_custkey") + 1).alias("dst"),
            F.lit(2).alias("w"),
        )
        .unionByName(
            cust.select(
                F.col("c_custkey").alias("src"),
                (F.col("c_custkey") + 2).alias("dst"),
                F.lit(3).alias("w"),
            )
        )
        .unionByName(
            cust.select(
                F.col("c_custkey").alias("src"),
                F.expr("(c_custkey * 7 + 3) % 1000").alias("dst"),
                F.lit(5).alias("w"),
            )
        )
    )
    srcs = cust.filter(F.expr("c_custkey % 500 = 0")).select(
        F.col("c_custkey").alias("node")
    )
    return bellman_ford(e, srcs, rounds=6)


def _bellman_oracle_sql(rounds: int = 6) -> str:
    head = """
WITH e AS MATERIALIZED (
  SELECT c_custkey AS src, c_custkey + 1 AS dst, CAST(2 AS BIGINT) AS w
  FROM customer
  UNION ALL
  SELECT c_custkey, c_custkey + 2, 3 FROM customer
  UNION ALL
  SELECT c_custkey, (c_custkey * 7 + 3) % 1000, 5 FROM customer
),
d0 AS MATERIALIZED (
  SELECT DISTINCT c_custkey AS node, CAST(0 AS BIGINT) AS dist
  FROM customer WHERE c_custkey % 500 = 0
)"""
    its = []
    for i in range(1, rounds + 1):
        its.append(f""",
d{i} AS MATERIALIZED (
  SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM (
    SELECT node, dist FROM d{i - 1}
    UNION ALL
    SELECT e.dst, d.dist + e.w FROM d{i - 1} d JOIN e ON d.node = e.src
  ) GROUP BY node
)""")
    tail = f"\nSELECT node, dist FROM d{rounds}"
    return head + "".join(its) + tail


_KG_SHORTEST_PATHS_SQL = _bellman_oracle_sql()


def _kg_copurchase(spark, sf_dir):
    """Market-basket projection (`operators/graph.py:
    cooccurrence_pairs`): parts sharing ≥3 orders, from the lineitem
    bipartite table — the graph-CONSTRUCTION step feeding every
    downstream similarity/community pass.  Quadratic only inside a
    basket (≤7 lines per TPC-H order); the max_basket_size escape
    hatch is exercised in unit tests."""
    from omop2owl_vocab_spark.operators.graph import cooccurrence_pairs

    return cooccurrence_pairs(
        _t(spark, sf_dir, "lineitem"),
        basket_col="l_orderkey",
        item_col="l_partkey",
        min_count=3,
    )


_KG_COPURCHASE_SQL = """
WITH items AS (
  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
)
SELECT a.item AS item_a, b.item AS item_b,
       CAST(COUNT(*) AS BIGINT) AS n_baskets
FROM items a JOIN items b
  ON a.basket = b.basket AND a.item < b.item
GROUP BY a.item, b.item
HAVING COUNT(*) >= 3
"""


# ---------------------------------------------------------------- exports


def _q_upsert(spark, sf_dir):
    """CDC changelog → final snapshot (`operators/cdc.py:
    changelog_apply`): events replayed as a per-user upsert log ordered
    by (ts, event_id); the last writer wins via one partially-
    aggregatable max_by(struct) hash-agg (map-side combine collapses
    each key's log before the shuffle — no window, no sort), and users
    whose LAST operation is the 'error' tombstone drop.  value exported
    in exact integer hundredths."""
    from omop2owl_vocab_spark.operators.cdc import changelog_apply

    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    log = ev.select(
        "user_id",
        F.col("event_type").alias("last_op"),
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("value_e2"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("updated_us"),
        "event_id",
    )
    snap = changelog_apply(
        log,
        keys=["user_id"],
        seq_cols=["updated_us", "event_id"],
        op_col="last_op",
        delete_values=("error",),
    )
    return snap.select("user_id", "last_op", "value_e2", "updated_us")


_Q_UPSERT_SQL = """
WITH ranked AS (
  SELECT user_id, event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_e2,
         epoch_us(ts) AS updated_us,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts) DESC, event_id DESC)
           AS rn
  FROM events WHERE ts IS NOT NULL
)
SELECT user_id, event_type AS last_op, value_e2, updated_us
FROM ranked WHERE rn = 1 AND event_type <> 'error'
"""


def _q_scd2(spark, sf_dir):
    """SCD-2 history build (`operators/cdc.py:scd2_history`): each
    user's event_type stream collapses into change-point versions with
    [valid_from, valid_to) microsecond intervals, valid_to NULL on the
    current version.  One shuffle+sort on user_id shared by the
    change-flag lag and the running version sum; the interval lead runs
    over the collapsed version frame only."""
    from omop2owl_vocab_spark.operators.cdc import scd2_history

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "user_id",
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            "event_id",
        )
    )
    hist = scd2_history(
        ev,
        keys=["user_id"],
        attr_cols=["event_type"],
        seq_col="ts_us",
        tiebreak_cols=["event_id"],
    )
    return hist.select(
        "user_id",
        "version",
        "event_type",
        F.col("valid_from").alias("valid_from_us"),
        F.col("valid_to").alias("valid_to_us"),
    )


_Q_SCD2_SQL = """
WITH seq AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
         lag(event_type) OVER
           (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
           AS prev
  FROM events WHERE ts IS NOT NULL
),
flagged AS (
  SELECT *, CASE WHEN prev IS DISTINCT FROM event_type
                 THEN 1 ELSE 0 END AS chg
  FROM seq
),
versioned AS (
  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                           ROWS UNBOUNDED PRECEDING) AS version
  FROM flagged
),
collapsed AS (
  SELECT user_id, CAST(version AS BIGINT) AS version,
         min(event_type) AS event_type,
         min(ts_us) AS valid_from_us
  FROM versioned GROUP BY user_id, version
)
SELECT user_id, version, event_type, valid_from_us,
       lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY version)
         AS valid_to_us
FROM collapsed
"""


def _dd_prefix_join(spark, sf_dir):
    """Prefix-filtered exact set-similarity join (`operators/dedup.py:
    prefix_filter_pairs`, PPJoin family): only each document's rarest
    |d|−⌈t·|d|⌉+1 bigram shingles are indexed — deterministic recall-1.0
    candidates without LSH's probabilistic miss — then exact-Jaccard
    verified.  Oracle is the full brute-force inverted-index Jaccard at
    the same threshold: the prefix filter must lose nothing."""
    from omop2owl_vocab_spark.operators.dedup import (
        prefix_filter_pairs,
        word_shingles,
    )

    sh = word_shingles(_docs64(spark, sf_dir), n=2)
    return prefix_filter_pairs(sh, threshold=0.4)


_DD_PREFIX_JOIN_SQL = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS toks
  FROM documents
),
s AS (
  SELECT DISTINCT doc_id AS id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
                  i -> array_to_string(list_slice(toks, i, i + 1), ' ')))
             AS shingle
    FROM t WHERE len(toks) >= 2
  ) WHERE shingle <> ''
),
sz AS (SELECT id, COUNT(*) AS sz FROM s GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
  FROM s a JOIN s b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b,
       CAST(floor(CAST(i AS DOUBLE) / (za.sz + zb.sz - i) * 10000 + 0.5)
            AS BIGINT) AS jaccard_e4
FROM inter
JOIN sz za ON za.id = id_a
JOIN sz zb ON zb.id = id_b
WHERE CAST(i AS DOUBLE) / (za.sz + zb.sz - i) >= 0.4
"""


def _kg_dag_levels(spark, sf_dir):
    """Longest-path DAG layering (`operators/graph.py:
    dag_longest_levels`): topological strata of the part-key hierarchy
    (tree edges k → k div 10 plus the %13 shortcut edges, the
    kg_ancestors DAG) — roots at level 0, every node at
    max(parent level)+1, Bellman max-propagation with early exit and a
    convergence guard that doubles as a cycle detector.  Oracle: DuckDB
    recursive CTE taking max upward-path length per node, roots pinned
    at 0."""
    from omop2owl_vocab_spark.operators.graph import dag_longest_levels

    part = _t(spark, sf_dir, "part")
    base = part.select(
        F.col("p_partkey").alias("child"),
        F.expr("p_partkey div 10").alias("parent"),
    ).filter(F.col("parent") >= 1)
    skip = part.filter(F.expr("p_partkey % 13 = 0")).select(
        F.col("p_partkey").alias("child"),
        F.expr("p_partkey div 100").alias("parent"),
    ).filter(F.col("parent") >= 1)
    return dag_longest_levels(base.unionByName(skip), max_iter=12)


_KG_DAG_LEVELS_SQL = """
WITH RECURSIVE edges AS (
  SELECT p_partkey AS child, p_partkey // 10 AS parent
  FROM part WHERE p_partkey // 10 >= 1
  UNION ALL
  SELECT p_partkey AS child, p_partkey // 100 AS parent
  FROM part WHERE p_partkey % 13 = 0 AND p_partkey // 100 >= 1
),
up(node, anc, lvl) AS (
  SELECT child, parent, 1 FROM edges WHERE child <> parent
  UNION
  SELECT u.node, e.parent, u.lvl + 1
  FROM up u JOIN edges e ON e.child = u.anc
  WHERE e.child <> e.parent
),
roots AS (
  SELECT DISTINCT parent AS node FROM edges
  WHERE parent NOT IN (SELECT child FROM edges WHERE child <> parent)
)
SELECT node, CAST(max(lvl) AS BIGINT) AS level FROM up GROUP BY node
UNION ALL
SELECT node, CAST(0 AS BIGINT) AS level FROM roots
"""


def _kg_node_sim(spark, sf_dir):
    """Structural node similarity (`operators/graph.py:
    neighbor_jaccard`): neighbor-set Jaccard over the shared customer-key
    graph, pairs sharing >= 2 neighbors at J >= 0.25 — the
    link-prediction primitive, same inverted-index join shape as the
    document set-similarity family but on adjacency."""
    from omop2owl_vocab_spark.operators.graph import neighbor_jaccard

    return neighbor_jaccard(
        _custkey_edges(spark, sf_dir), threshold=0.25, min_common=2
    )


_KG_NODE_SIM_SQL = """
WITH raw AS (
  SELECT c_custkey AS s, c_custkey + 1 AS t FROM customer
  UNION ALL SELECT c_custkey, c_custkey + 2 FROM customer
  UNION ALL SELECT c_custkey, (c_custkey * 7 + 3) % 1000 FROM customer
),
adj AS (
  SELECT DISTINCT node, nbr FROM (
    SELECT s AS node, t AS nbr FROM raw WHERE s <> t
    UNION ALL
    SELECT t AS node, s AS nbr FROM raw WHERE s <> t
  )
),
deg AS (SELECT node, COUNT(*) AS deg FROM adj GROUP BY node),
common AS (
  SELECT a.node AS node_a, b.node AS node_b, CAST(COUNT(*) AS BIGINT) AS common
  FROM adj a JOIN adj b ON a.nbr = b.nbr AND a.node < b.node
  GROUP BY a.node, b.node
  HAVING COUNT(*) >= 2
)
SELECT node_a, node_b, common,
       CAST(da.deg + db.deg - common AS BIGINT) AS union_sz,
       CAST(floor(CAST(common AS DOUBLE) / (da.deg + db.deg - common)
                  * 10000 + 0.5) AS BIGINT) AS jaccard_e4
FROM common
JOIN deg da ON da.node = node_a
JOIN deg db ON db.node = node_b
WHERE CAST(common AS DOUBLE) / (da.deg + db.deg - common) >= 0.25
"""


def _q_bloom_semi(spark, sf_dir):
    """Bucket-sketch-prefiltered semi join (`operators/prejoin.py:
    bucket_prefilter_semi_join`): lineitem rows restricted to suppliers
    with negative account balance — stage 1 broadcasts the distinct
    xxhash64 buckets of the small key set and drops non-colliding fact
    rows map-side with NO shuffle, stage 2 exact-semi-joins the
    survivors, so the result equals the plain semi join (the oracle)
    while the shuffle carries only sketch survivors.  Aggregated per
    returnflag to keep the driver row count small."""
    from omop2owl_vocab_spark.operators.prejoin import (
        bucket_prefilter_semi_join,
    )

    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0)
    semi = bucket_prefilter_semi_join(
        li, supp, on=[("l_suppkey", "s_suppkey")]
    )
    return semi.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("qty_e2"),
    )


_Q_BLOOM_SEMI_SQL = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS qty_e2
FROM lineitem
WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY l_returnflag
"""


def _txt_inverted_index(spark, sf_dir):
    """Corpus inverted index (`operators/text.py:inverted_index`):
    per-term document frequency, total term frequency, and the first 20
    doc ids as a pipe-joined posting preview — explode → combinable
    (term, doc) agg → per-term agg, postings capped before leaving the
    executor.  min_df=3 plays the stopword/hapax cap."""
    from omop2owl_vocab_spark.operators.text import inverted_index

    return inverted_index(
        _docs64(spark, sf_dir), max_postings=20, min_df=3
    )


_TXT_INVERTED_INDEX_SQL = """
WITH term_doc AS (
  SELECT term, doc_id AS doc, COUNT(*) AS tf FROM (
    SELECT doc_id,
           unnest(list_filter(
             string_split_regex(lower(trim(text)), '\\s+'), x -> x <> ''))
             AS term
    FROM documents
  ) GROUP BY term, doc_id
)
SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
       CAST(SUM(tf) AS BIGINT) AS tf_sum,
       array_to_string(list_slice(list_sort(list(doc)), 1, 20), '|')
         AS postings
FROM term_doc GROUP BY term
HAVING COUNT(*) >= 3
"""


def _q_except_all(spark, sf_dir):
    """EXCEPT ALL multiset difference (native `exceptAll`): order keys
    shipped in lineitem minus one multiplicity per order row — bag
    semantics the DISTINCT-based except can't express (an orderkey with
    4 lineitem rows keeps 3 copies).  Exported with a per-key count so
    the multiset is hash-comparable."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey")
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey")
    )
    return (
        li.exceptAll(orders)
        .groupBy("okey")
        .agg(F.count("*").cast("long").alias("n_extra"))
    )


_Q_EXCEPT_ALL_SQL = """
SELECT okey, CAST(COUNT(*) AS BIGINT) AS n_extra FROM (
  SELECT l_orderkey AS okey FROM lineitem
  EXCEPT ALL
  SELECT o_orderkey AS okey FROM orders
) GROUP BY okey
"""


def _sim_quantize(spark, sf_dir):
    """Int8 scalar quantization (`operators/similarity.py:
    scalar_quantize`): corpus min/max per dimension (dimension-keyed
    micro-agg), stats broadcast back as two array literals, codes
    computed by exact long arithmetic on e6 fixed-point components —
    the 4x vector-compression step in front of ANN indexes,
    hash-reproducible across engines."""
    from omop2owl_vocab_spark.operators.similarity import scalar_quantize

    return scalar_quantize(_t(spark, sf_dir, "embeddings"))


_SIM_QUANTIZE_SQL = """
WITH e AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS v6
  FROM embeddings
),
ex AS (
  SELECT pos, v6[pos] AS val
  FROM e, unnest(generate_series(1, len(v6))) AS t(pos)
),
stats AS (SELECT pos, min(val) AS mn, max(val) AS mx FROM ex GROUP BY pos),
packed AS (
  SELECT list(mn ORDER BY pos) AS mins, list(mx ORDER BY pos) AS maxs
  FROM stats
)
SELECT vec_id,
       list_transform(generate_series(1, len(v6)), i ->
         CAST(CASE WHEN maxs[i] = mins[i] THEN 0
                   ELSE ((v6[i] - mins[i]) * 255) // (maxs[i] - mins[i])
              END AS BIGINT)) AS codes
FROM e, packed
"""


def _kg_walks(spark, sf_dir):
    """Derandomized DeepWalk corpus (`operators/graph.py:
    deterministic_walks`): 4-step walks from every node of the shared
    customer-key graph, each step an arithmetic-hash pick into the
    sorted neighbor list — length chained node-keyed joins, walk state
    one row per start, reproducible across engines (the resumability
    property hash-verified here).  Oracle: the same recurrence unrolled
    as 4 chained CTE joins."""
    from omop2owl_vocab_spark.operators.graph import deterministic_walks

    return deterministic_walks(_custkey_edges(spark, sf_dir), length=4)


_KG_WALKS_SQL = """
WITH raw AS (
  SELECT c_custkey AS s, c_custkey + 1 AS t FROM customer
  UNION ALL SELECT c_custkey, c_custkey + 2 FROM customer
  UNION ALL SELECT c_custkey, (c_custkey * 7 + 3) % 1000 FROM customer
),
und AS (
  SELECT DISTINCT node, nbr FROM (
    SELECT s AS node, t AS nbr FROM raw WHERE s <> t
    UNION ALL
    SELECT t AS node, s AS nbr FROM raw WHERE s <> t
  )
),
adj AS (SELECT node, list_sort(list(nbr)) AS nbrs FROM und GROUP BY node),
w0 AS (
  SELECT node AS start, node AS cur, CAST(node AS VARCHAR) AS path FROM adj
),
w1 AS (
  SELECT w.start,
         a.nbrs[((w.cur * 2654435761 + 1 * 40503) % len(a.nbrs)) + 1] AS cur,
         w.path || '>' || CAST(
           a.nbrs[((w.cur * 2654435761 + 1 * 40503) % len(a.nbrs)) + 1]
           AS VARCHAR) AS path
  FROM w0 w JOIN adj a ON a.node = w.cur
),
w2 AS (
  SELECT w.start,
         a.nbrs[((w.cur * 2654435761 + 2 * 40503) % len(a.nbrs)) + 1] AS cur,
         w.path || '>' || CAST(
           a.nbrs[((w.cur * 2654435761 + 2 * 40503) % len(a.nbrs)) + 1]
           AS VARCHAR) AS path
  FROM w1 w JOIN adj a ON a.node = w.cur
),
w3 AS (
  SELECT w.start,
         a.nbrs[((w.cur * 2654435761 + 3 * 40503) % len(a.nbrs)) + 1] AS cur,
         w.path || '>' || CAST(
           a.nbrs[((w.cur * 2654435761 + 3 * 40503) % len(a.nbrs)) + 1]
           AS VARCHAR) AS path
  FROM w2 w JOIN adj a ON a.node = w.cur
),
w4 AS (
  SELECT w.start,
         w.path || '>' || CAST(
           a.nbrs[((w.cur * 2654435761 + 4 * 40503) % len(a.nbrs)) + 1]
           AS VARCHAR) AS path
  FROM w3 w JOIN adj a ON a.node = w.cur
)
SELECT start, path FROM w4
"""


def _pipe_negatives(spark, sf_dir):
    """Deterministic negative sampling (`operators/sample.py:
    cyclic_negatives`): each document paired with the next 3 documents
    in its bucket's id-sorted cycle — per-bucket windows instead of a
    global index, so no single-partition sort anywhere.  The driver
    form buckets by doc_id mod 16 (arithmetic, so DuckDB re-derives
    identical pairs; production default is xxhash64)."""
    from omop2owl_vocab_spark.operators.sample import cyclic_negatives

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return cyclic_negatives(
        docs,
        id_col="doc_id",
        k=3,
        bucket_col=F.pmod(F.col("doc_id"), F.lit(16)),
    )


_PIPE_NEGATIVES_SQL = """
WITH idx AS (
  SELECT doc_id, doc_id % 16 AS b,
         row_number() OVER (PARTITION BY doc_id % 16 ORDER BY doc_id) - 1
           AS i,
         COUNT(*) OVER (PARTITION BY doc_id % 16) AS sz
  FROM documents
),
wanted AS (
  SELECT doc_id, b, j, (i + j) % sz AS nidx, i
  FROM idx, unnest(generate_series(1, 3)) AS t(j)
  WHERE (i + j) % sz <> i
)
SELECT w.doc_id, p.doc_id AS neg_id, CAST(w.j AS BIGINT) AS j
FROM wanted w JOIN idx p ON p.b = w.b AND p.i = w.nidx
"""


def _q_rank_norm(spark, sf_dir):
    """Per-group rank normalization (`operators/stats.py:
    rank_normalize`): percent_rank of order price within each priority
    in exact e4 integer arithmetic — the calibration/feature-scaling
    primitive.  Price is e2-fixed BEFORE ranking so the sort key is a
    long on both engines."""
    from omop2owl_vocab_spark.operators.stats import rank_normalize

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("price_e2"),
    )
    return rank_normalize(orders, ["o_orderpriority"], "price_e2")


_Q_RANK_NORM_SQL = """
WITH t AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_e2
  FROM orders
),
r AS (
  SELECT *,
         rank() OVER (PARTITION BY o_orderpriority ORDER BY price_e2) - 1
           AS r0,
         COUNT(*) OVER (PARTITION BY o_orderpriority) - 1 AS n1
  FROM t
)
SELECT o_orderkey, o_orderpriority, price_e2,
       CAST(CASE WHEN n1 = 0 THEN 0 ELSE (r0 * 10000) // n1 END AS BIGINT)
         AS pct_rank_e4
FROM r
"""


def _q_sweepline(spark, sf_dir):
    """Sweep-line peak concurrency (`operators/timeseries.py:
    max_concurrency`): events widened to 5-minute [start, end)
    intervals per user, +1/-1 deltas merged and running-summed with
    ends ordered before starts at equal instants, then per-user peak
    and the earliest instant it is reached — the capacity-planning
    readout."""
    from omop2owl_vocab_spark.operators.timeseries import max_concurrency

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("start_us"),
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                + F.lit(300_000_000)
            ).alias("end_us"),
        )
    )
    return max_concurrency(ev, ["user_id"], "start_us", "end_us")


_Q_SWEEPLINE_SQL = """
WITH iv AS (
  SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 300000000 AS e
  FROM events WHERE ts IS NOT NULL
),
pts AS (
  SELECT user_id, s AS at, 1 AS delta FROM iv
  UNION ALL
  SELECT user_id, e AS at, -1 AS delta FROM iv
),
running AS (
  SELECT user_id, at,
         SUM(delta) OVER (PARTITION BY user_id ORDER BY at, delta
                          ROWS UNBOUNDED PRECEDING) AS open
  FROM pts
),
peaks AS (
  SELECT user_id, CAST(max(open) AS BIGINT) AS peak
  FROM running GROUP BY user_id
)
SELECT p.user_id, p.peak, min(r.at) AS peak_at
FROM peaks p
JOIN running r ON r.user_id = p.user_id AND r.open = p.peak
GROUP BY p.user_id, p.peak
"""


def _q_cumulative_distinct(spark, sf_dir):
    """Discovery curve (`operators/timeseries.py:cumulative_distinct`):
    per event row, how many DISTINCT event types the user has produced
    so far — first-occurrence flag (per-(user, type) row_number) plus a
    running sum sharing the user partitioning; O(1) state per row, no
    collect_set growth."""
    from omop2owl_vocab_spark.operators.timeseries import (
        cumulative_distinct,
    )

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        )
    )
    out = cumulative_distinct(
        ev, ["user_id"], "event_type", ["ts_us", "event_id"]
    )
    # n_seen rides as DOUBLE deliberately (r5 driver red row): the
    # oracle's window SUM over an integer column is the one HUGEINT
    # producer in the file (verified by a types sweep over all 131
    # oracles), and DuckDB HUGEINT reaches the driver's pandas
    # canonicalizer as float64 — so the long-typed Spark column hashed
    # as `3` against the oracle's `3.0`.  The oracle SQL is frozen;
    # mirroring its pandas dtype on the Spark side makes both sides
    # canonicalize identically.  Values are exact (counts < 2^53).
    return out.select(
        "user_id", "event_id", F.col("n_seen").cast("double").alias("n_seen")
    )


_Q_CUMULATIVE_DISTINCT_SQL = """
WITH ev AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
  FROM events WHERE ts IS NOT NULL
),
flagged AS (
  SELECT user_id, event_id, ts_us,
         CASE WHEN row_number() OVER
                (PARTITION BY user_id, event_type ORDER BY ts_us, event_id)
              = 1 THEN 1 ELSE 0 END AS is_new
  FROM ev
)
SELECT user_id, event_id,
       SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                         ROWS UNBOUNDED PRECEDING) AS n_seen
FROM flagged
"""


def _txt_trigram_lm(spark, sf_dir):
    """Count-based trigram LM table (`operators/text.py:trigram_lm`):
    conditional next-token counts over `documents` with exact-integer
    P(w3 | w1 w2) in e4 fixed point, contexts totalled before the
    min_count=3 prune — the KenLM-style statistic behind
    perplexity-quality filtering."""
    from omop2owl_vocab_spark.operators.text import trigram_lm

    return trigram_lm(_t(spark, sf_dir, "documents"), min_count=3)


_TXT_TRIGRAM_LM_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         lower(unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                  x -> x <> ''))) AS w,
         generate_subscripts(list_filter(string_split_regex(trim(text),
                                                            '\s+'),
                                         x -> x <> ''), 1) AS pos
  FROM documents
),
tri AS (
  SELECT lag(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
         lag(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
         w AS w3
  FROM toks QUALIFY w1 IS NOT NULL
),
counts AS (
  SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS n
  FROM tri GROUP BY w1, w2, w3
)
SELECT w1, w2, w3, n,
       CAST((n * 10000) // (SUM(n) OVER (PARTITION BY w1, w2)) AS BIGINT)
         AS prob_e4
FROM counts QUALIFY n >= 3
"""


def _kg_reciprocity(spark, sf_dir):
    """Directed-edge mutuality (`operators/graph.py:reciprocity`) over
    the shared customer-key graph: distinct directed edges grouped
    under their unordered pair key — both-directions pairs have group
    count 2 — no self-join, no skewable key (pair multiplicity is
    bounded by 2 by construction)."""
    from omop2owl_vocab_spark.operators.graph import reciprocity

    return reciprocity(_custkey_edges(spark, sf_dir))


_KG_RECIPROCITY_SQL = """
WITH raw AS (
  SELECT c_custkey AS s, c_custkey + 1 AS t FROM customer
  UNION ALL SELECT c_custkey, c_custkey + 2 FROM customer
  UNION ALL SELECT c_custkey, (c_custkey * 7 + 3) % 1000 FROM customer
),
e AS (SELECT DISTINCT s AS src, t AS dst FROM raw WHERE s <> t),
pairs AS (
  SELECT least(src, dst) AS lo, greatest(src, dst) AS hi,
         COUNT(*) AS dirs
  FROM e GROUP BY lo, hi
)
SELECT CAST(COALESCE(SUM(dirs), 0) AS BIGINT) AS n_edges,
       CAST(COALESCE(SUM(CASE WHEN dirs = 2 THEN 2 ELSE 0 END), 0)
            AS BIGINT) AS n_reciprocal,
       CAST(CASE WHEN COALESCE(SUM(dirs), 0) > 0
                 THEN (SUM(CASE WHEN dirs = 2 THEN 2 ELSE 0 END) * 10000)
                      // SUM(dirs)
                 ELSE 0 END AS BIGINT) AS reciprocity_e4
FROM pairs
"""


def _kg_clustering(spark, sf_dir):
    """Per-node local clustering coefficient
    (`operators/graph.py:clustering_coefficient`): degree-oriented
    wedge join (O(√m) fan-out cap, same scheme as kg_triangles) whose
    closed wedge credits all three vertices, then
    `(2·n_tri·10000) div (deg·(deg-1))` in exact e4 fixed point —
    the Watts–Strogatz metric over the shared customer-key graph."""
    from omop2owl_vocab_spark.operators.graph import clustering_coefficient

    return clustering_coefficient(_custkey_edges(spark, sf_dir))


_KG_CLUSTERING_SQL = """
WITH raw AS (
  SELECT c_custkey AS s, c_custkey + 1 AS t FROM customer
  UNION ALL SELECT c_custkey, c_custkey + 2 FROM customer
  UNION ALL SELECT c_custkey, (c_custkey * 7 + 3) % 1000 FROM customer
),
und AS (
  SELECT DISTINCT LEAST(s, t) AS a, GREATEST(s, t) AS b
  FROM raw WHERE s <> t
),
adj AS (
  SELECT a AS node, b AS nbr FROM und
  UNION ALL SELECT b, a FROM und
),
deg AS (SELECT node, COUNT(*) AS d FROM adj GROUP BY node),
tri AS (
  SELECT x.node AS node, COUNT(*) AS t
  FROM adj x
  JOIN adj y ON y.node = x.node AND x.nbr < y.nbr
  JOIN und e ON e.a = x.nbr AND e.b = y.nbr
  GROUP BY x.node
)
SELECT deg.node AS node,
       CAST(d AS BIGINT) AS deg,
       CAST(COALESCE(t, 0) AS BIGINT) AS n_tri,
       CAST(CASE WHEN d >= 2
                 THEN (2 * COALESCE(t, 0) * 10000) // (d * (d - 1))
                 ELSE 0 END AS BIGINT) AS lcc_e4
FROM deg LEFT JOIN tri ON tri.node = deg.node
"""


def _pipe_allocate(spark, sf_dir):
    """Hamilton largest-remainder apportionment (`operators/sample.py:
    allocate_budget`): 1000 sample slots split across (lang, source)
    strata of the documents corpus, Σ alloc == 1000 EXACTLY — base
    shares and remainder numerators in decimal(38) integers (no float
    ratio to round differently per engine), leftover seats by a total
    (remainder, group) order."""
    from omop2owl_vocab_spark.operators.sample import allocate_budget

    counts = (
        _t(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count("*").cast("long").alias("n"))
    )
    return allocate_budget(counts, ["lang", "source"], "n", budget=1000)


_PIPE_ALLOCATE_SQL = """
WITH c AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY lang, source
),
t AS (SELECT SUM(n) AS total FROM c),
s AS (
  SELECT lang, source, n,
         CAST((CAST(1000 AS HUGEINT) * n) // t.total AS BIGINT) AS base,
         CAST(CAST(1000 AS HUGEINT) * n
              - ((CAST(1000 AS HUGEINT) * n) // t.total) * t.total
              AS BIGINT) AS rem
  FROM c CROSS JOIN t
),
l AS (SELECT 1000 - SUM(base) AS leftover FROM s),
r AS (
  SELECT lang, source, n, base, rem,
         row_number() OVER (ORDER BY rem DESC, lang ASC, source ASC)
           AS rk
  FROM s
)
SELECT r.lang, r.source, r.n,
       CAST(r.base + CASE WHEN r.rk <= l.leftover THEN 1 ELSE 0 END
            AS BIGINT) AS alloc
FROM r CROSS JOIN l
"""


def _q_changepoint(spark, sf_dir):
    """Exact-integer level-shift detection (`operators/timeseries.py:
    changepoint_split`): per-event-type daily volumes cut at the split
    maximizing |mean_left − mean_right| — the score is an e6 integer
    from decimal(38) cross-multiplication (no float mean), argmax
    tie-broken toward the earliest split, one sort per key shared by
    all three windows."""
    from omop2owl_vocab_spark.operators.timeseries import changepoint_split

    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("day"),
        )
        .agg(F.count("*").cast("long").alias("n_events"))
    )
    return changepoint_split(daily, ["event_type"], "day", "n_events")


_Q_CHANGEPOINT_SQL = """
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY event_type, day
),
staged AS (
  SELECT event_type,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
         SUM(n_events) OVER (PARTITION BY event_type ORDER BY day
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS s,
         COUNT(*) OVER (PARTITION BY event_type) AS n,
         SUM(n_events) OVER (PARTITION BY event_type) AS tot
  FROM daily
),
scored AS (
  SELECT event_type, t, n, s, tot,
         CAST((abs(CAST(s AS HUGEINT) * (n - t)
                   - (CAST(tot AS HUGEINT) - s) * t) * 1000000)
              // (CAST(t AS HUGEINT) * (n - t)) AS BIGINT) AS score
  FROM staged WHERE t < n
),
best AS (
  SELECT event_type, t, n, s, tot, score,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY score DESC, t ASC) AS rk
  FROM scored
)
SELECT event_type,
       CAST(t AS BIGINT) AS split_after,
       CAST(n AS BIGINT) AS n,
       CAST(s AS BIGINT) AS sum_left,
       CAST(tot AS BIGINT) AS sum_total,
       score AS score_e6
FROM best WHERE rk = 1
"""


_KMV_I_K = 128


def _q_kmv_intersect(spark, sf_dir):
    """Theta-sketch intersection (`operators/sketch.py:kmv_intersect`,
    k=128): overlap of the customer key set with the keys actually
    ordering — two TakeOrderedAndProject bottom-k sketches, shared
    theta, one k⋈k join — exact true intersection joined alongside for
    the error story, every number replayed by the DuckDB oracle."""
    from omop2owl_vocab_spark.operators.sketch import kmv_intersect

    a = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("v")
    )
    b = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("string").alias("v")
    )
    est = kmv_intersect(a, b, "v", k=_KMV_I_K)
    exact = (
        a.distinct()
        .join(b.distinct(), "v", "left_semi")
        .agg(F.count("*").cast("long").alias("exact_inter"))
    )
    return est.crossJoin(F.broadcast(exact))


_Q_KMV_INTERSECT_SQL = rf"""
WITH ha AS (
  SELECT DISTINCT list_reduce(
    list_transform(string_split(substr(md5(CAST(c_custkey AS VARCHAR)),
                                       1, 15), ''),
                   c -> CAST(strpos('123456789abcdef', c) AS BIGINT)),
    (a, b) -> a * 16 + b) AS h
  FROM customer
),
hb AS (
  SELECT DISTINCT list_reduce(
    list_transform(string_split(substr(md5(CAST(o_custkey AS VARCHAR)),
                                       1, 15), ''),
                   c -> CAST(strpos('123456789abcdef', c) AS BIGINT)),
    (a, b) -> a * 16 + b) AS h
  FROM orders
),
ka AS (SELECT h FROM ha ORDER BY h LIMIT {_KMV_I_K}),
kb AS (SELECT h FROM hb ORDER BY h LIMIT {_KMV_I_K}),
sa AS (SELECT CAST(COUNT(*) AS BIGINT) AS na, MAX(h) AS mxa FROM ka),
sb AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb, MAX(h) AS mxb FROM kb),
st AS (
  SELECT na, nb,
         CAST(LEAST(CASE WHEN na = {_KMV_I_K} THEN mxa
                         ELSE {16**15} END,
                    CASE WHEN nb = {_KMV_I_K} THEN mxb
                         ELSE {16**15} END) AS BIGINT) AS theta
  FROM sa CROSS JOIN sb
),
cm AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_common
  FROM ka JOIN kb USING (h) CROSS JOIN st
  WHERE ka.h < st.theta
),
ex AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS exact_inter FROM (
    SELECT DISTINCT c_custkey FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
  )
)
SELECT st.na AS n_a, st.nb AS n_b, st.theta, cm.n_common,
       CAST(floor(CAST(cm.n_common AS DOUBLE) * {float(16**15)!r}
                  / CAST(st.theta AS DOUBLE) + 0.5) AS BIGINT)
         AS inter_est,
       ex.exact_inter
FROM st CROSS JOIN cm CROSS JOIN ex
"""


def _q_skyline(spark, sf_dir):
    """2-D Pareto frontier (`operators/scan.py:skyline_2d`): parts not
    dominated on (size, price-cents) under minimization — per-x min
    hash-agg then a STRICT prefix-min in the distributed two-pass scan
    layout (range partition + per-partition sweep + tiny offset fold),
    never the O(n²) dominance self-join the brute-force oracle runs."""
    from omop2owl_vocab_spark.operators.scan import skyline_2d

    pts = _t(spark, sf_dir, "part").select(
        F.col("p_size").cast("long").alias("sz"),
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    return skyline_2d(pts, "sz", "cents")


_Q_SKYLINE_SQL = """
WITH pts AS (
  SELECT CAST(p_size AS BIGINT) AS x,
         CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS y
  FROM part
)
SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n_dups
FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts q
  WHERE q.x <= p.x AND q.y <= p.y AND (q.x < p.x OR q.y < p.y)
)
GROUP BY x, y
"""


def _kg_ppr(spark, sf_dir):
    """Personalized PageRank (`operators/graph.py:
    personalized_pagerank`, 3 rounds, seeds = custkeys divisible by
    97) over the customer-key graph: random-walk-with-restart mass
    restricted to the seed set in the same all-integer discipline as
    kg_pagerank — the 'entities most related to THESE concepts'
    primitive, oracle-unrolled round by round."""
    from omop2owl_vocab_spark.operators.graph import personalized_pagerank

    seeds = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 97 == 0)
        .select(F.col("c_custkey").alias("node"))
    )
    return personalized_pagerank(
        _custkey_edges(spark, sf_dir), seeds, iterations=3
    )


def _ppr_oracle_sql(iterations: int = 3, damping_pct: int = 85) -> str:
    base = (100 - damping_pct) * (10**9) // 100
    head = """
WITH raw AS (
  SELECT c_custkey AS src, c_custkey + 1 AS dst FROM customer
  UNION ALL SELECT c_custkey, c_custkey + 2 FROM customer
  UNION ALL SELECT c_custkey, (c_custkey * 7 + 3) % 1000 FROM customer
),
e AS (SELECT DISTINCT src, dst FROM raw),
nodes AS (
  SELECT node,
         CASE WHEN node IN (SELECT c_custkey FROM customer
                            WHERE c_custkey % 97 = 0)
              THEN 1 ELSE 0 END AS seed
  FROM (
    SELECT DISTINCT node FROM (
      SELECT src AS node FROM e UNION ALL SELECT dst FROM e
    )
  )
),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src),
r0 AS (
  SELECT node, seed, CAST(seed * 1000000000 AS BIGINT) AS r FROM nodes
)"""
    its = []
    for i in range(1, iterations + 1):
        its.append(f""",
r{i} AS (
  SELECT n.node, n.seed,
         CAST(n.seed * {base}
              + {damping_pct} * COALESCE(s.s, 0) // 100 AS BIGINT) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, SUM(r.r // deg.deg) AS s
    FROM r{i - 1} r JOIN e ON e.src = r.node JOIN deg ON deg.src = e.src
    GROUP BY e.dst
  ) s ON s.node = n.node
)""")
    tail = f"\nSELECT node, r AS rank_e9 FROM r{iterations}"
    return head + "".join(its) + tail


_KG_PPR_SQL = _ppr_oracle_sql()


def _sim_centroids(spark, sf_dir):
    """Per-label embedding centroids (`operators/similarity.py:
    centroids`): the k-means/IVF update step in exact e6 fixed point —
    components integer-ized before summation so partitioning can't
    change the sum, mean as ONE portable double division (never
    integer div, whose negative-operand semantics diverge)."""
    from omop2owl_vocab_spark.operators.similarity import centroids

    return centroids(
        _t(spark, sf_dir, "embeddings").select(
            F.col("label").cast("long").alias("label"), "embedding"
        )
    )


_SIM_CENTROIDS_SQL = """
WITH ex AS (
  SELECT CAST(label AS BIGINT) AS label,
         CAST(generate_subscripts(embedding, 1) AS BIGINT) - 1 AS dim,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
              AS BIGINT) AS v6
  FROM embeddings
)
SELECT label, dim,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(v6) AS BIGINT) AS sum_e6,
       CAST(floor(CAST(SUM(v6) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT)
         AS mean_e6
FROM ex GROUP BY label, dim
"""


def _txt_sentences(spark, sf_dir):
    """Sentence segmentation stats (`operators/text.py:sentence_stats`)
    over documents with PLANTED terminal punctuation (the corpus has
    none): the base text becomes one long sentence followed by three
    planted ones of 2/3/1 words, so counts, max, and the exact e2
    average are all value-verified; the split rule is lookbehind-free
    so the DuckDB oracle runs it verbatim."""
    from omop2owl_vocab_spark.operators.text import sentence_stats

    docs = _t(spark, sf_dir, "documents")
    aug = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(". alpha beta! gamma delta epsilon? zeta."),
    )
    return sentence_stats(docs.select("doc_id", aug.alias("text")))


_TXT_SENTENCES_SQL = r"""
WITH aug AS (
  SELECT doc_id,
         COALESCE(text, '') || '. alpha beta! gamma delta epsilon? zeta.'
           AS t
  FROM documents
),
segs AS (
  SELECT doc_id,
         list_filter(list_transform(string_split_regex(t, '[.!?]+'),
                                    s -> trim(s)),
                     s -> s <> '') AS ss
  FROM aug
),
wc AS (
  SELECT doc_id,
         list_transform(ss,
           s -> CAST(len(list_filter(string_split_regex(s, '\s+'),
                                     w -> w <> '')) AS BIGINT)) AS w
  FROM segs
)
SELECT doc_id,
       CAST(len(w) AS BIGINT) AS n_sentences,
       CAST(COALESCE(list_sum(w), 0) AS BIGINT) AS sum_words,
       CAST(COALESCE(list_max(w), 0) AS BIGINT) AS max_words,
       CAST(CASE WHEN len(w) > 0
                 THEN (COALESCE(list_sum(w), 0) * 100) // len(w)
                 ELSE 0 END AS BIGINT) AS avg_words_e2
FROM wc
"""


def _mm_frames(spark, sf_dir):
    """Video frame-sampling plumbing (`operators/multimodal.py:
    sample_frames`): planted durations fan each media row out to
    1–5 frames through the Arrow `mapInPandas` stub (wraparound
    64-byte payload slices), then every frame is checksummed
    JVM-side (hex-nibble byte sum) so the DuckDB oracle re-derives
    the exact slice content from the text bytes — the 1→N explode
    contract of a real ffmpeg extractor, value-verified."""
    from omop2owl_vocab_spark.operators.multimodal import (
        sample_frames,
        synth_media,
    )

    media = synth_media(_t(spark, sf_dir, "documents")).withColumn(
        "meta_duration_ms",
        ((F.col("media_id") % 5) * 1000 + 500).cast("long"),
    )
    frames = sample_frames(media, every_ms=1000, frame_bytes=64)
    return frames.select(
        "media_id",
        "frame_idx",
        "ts_ms",
        F.length("frame").cast("long").alias("frame_len"),
        F.when(
            F.length("frame") > 0,
            F.expr(
                "aggregate(sequence(1, length(hex(frame))), 0L,"
                " (acc, i) -> acc + (instr('0123456789ABCDEF',"
                " substr(hex(frame), i, 1)) - 1)"
                " * (CASE WHEN i % 2 = 1 THEN 16 ELSE 1 END))"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("byte_sum"),
    )


_MM_FRAMES_SQL = """
WITH h AS (
  SELECT doc_id AS media_id,
         hex(encode(COALESCE(text, ''))) AS hx,
         octet_length(encode(COALESCE(text, ''))) AS n,
         (doc_id % 5) * 1000 + 500 AS dur
  FROM documents
),
fr AS (
  SELECT media_id, hx, n, CAST(f.i AS BIGINT) AS frame_idx
  FROM h, LATERAL (SELECT unnest(range(dur // 1000 + 1)) AS i) f
)
SELECT media_id, frame_idx,
       CAST(frame_idx * 1000 AS BIGINT) AS ts_ms,
       CAST(LEAST(64, n) AS BIGINT) AS frame_len,
       CAST(CASE WHEN n = 0 THEN 0 ELSE
         list_sum(list_transform(range(LEAST(64, n)),
           j -> (strpos('0123456789ABCDEF',
                        substr(hx, CAST(((frame_idx + j) % n) * 2 + 1
                                        AS INTEGER), 1)) - 1) * 16
              + (strpos('0123456789ABCDEF',
                        substr(hx, CAST(((frame_idx + j) % n) * 2 + 2
                                        AS INTEGER), 1)) - 1)))
       END AS BIGINT) AS byte_sum
FROM fr
"""


def _q_winsorize(spark, sf_dir):
    """Exact nearest-rank winsorization (`operators/stats.py:
    winsorize`): per-event-type cent values clipped into [p5, p95] —
    both fences are actual group data points from the integer rank
    arithmetic, never interpolated, so integer stays integer and the
    oracle matches hash-exact."""
    from omop2owl_vocab_spark.operators.stats import winsorize

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    return winsorize(ev, ["event_type"], "cents", 5, 95)


_Q_WINSORIZE_SQL = """
WITH base AS (
  SELECT event_type, event_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
ranked AS (
  SELECT event_type, cents,
         row_number() OVER (PARTITION BY event_type ORDER BY cents) AS r,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM base
),
fences AS (
  SELECT event_type,
         MAX(CASE WHEN r = (5 * n + 99) // 100 THEN cents END) AS lo,
         MAX(CASE WHEN r = (95 * n + 99) // 100 THEN cents END) AS hi
  FROM ranked GROUP BY event_type
)
SELECT b.event_type, b.event_id, b.cents,
       CAST(CASE WHEN b.cents < f.lo THEN f.lo
                 WHEN b.cents > f.hi THEN f.hi
                 ELSE b.cents END AS BIGINT) AS clipped
FROM base b JOIN fences f USING (event_type)
"""


def _txt_postings(spark, sf_dir):
    """Gap-encoded posting lists (`operators/text.py:postings_delta`):
    per-term ascending doc ids as deltas + max_gap — the varint/Golomb
    coder's actual input and the compressibility diagnostic, df counted
    before the posting cap."""
    from omop2owl_vocab_spark.operators.text import postings_delta

    return postings_delta(
        _t(spark, sf_dir, "documents"), min_df=2, max_postings=16
    )


_TXT_POSTINGS_SQL = r"""
WITH td AS (
  SELECT DISTINCT doc_id AS doc,
         lower(unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                  x -> x <> ''))) AS term
  FROM documents
),
agg AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
         list_sort(list(doc)) AS docs
  FROM td GROUP BY term
),
capped AS (
  SELECT term, df, docs[1:16] AS d FROM agg WHERE df >= 2
)
SELECT term, df,
       array_to_string(
         list_transform(range(1, len(d) + 1),
                        i -> CAST(d[i] - CASE WHEN i = 1 THEN 0
                                              ELSE d[i - 1] END
                             AS VARCHAR)),
         ',') AS gaps,
       CAST(list_max(
         list_transform(range(1, len(d) + 1),
                        i -> d[i] - CASE WHEN i = 1 THEN 0
                                         ELSE d[i - 1] END))
         AS BIGINT) AS max_gap
FROM capped
"""


def _kg_temporal_reach(spark, sf_dir):
    """Time-respecting earliest arrival (`operators/graph.py:
    temporal_reachability`, 3 hops) over a TEMPORAL customer-key
    graph (closed-form edge times) from the k%100==0 seed set — an
    edge fires only at or after the walker's arrival, so static
    reachability overcounts; min-fold is order/partitioning-free and
    the oracle unrolls the same three relaxations."""
    from omop2owl_vocab_spark.operators.graph import temporal_reachability

    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    k = F.col("c_custkey")
    e = (
        cust.select(
            k.alias("src"), (k + 1).alias("dst"),
            ((k * 13 + 7) % 1000).alias("t"),
        )
        .unionByName(
            cust.select(
                k.alias("src"), (k + 2).alias("dst"),
                ((k * 5 + 11) % 1000).alias("t"),
            )
        )
        .unionByName(
            cust.select(
                k.alias("src"), ((k * 7 + 3) % 1000).alias("dst"),
                ((k * 3) % 1000).alias("t"),
            )
        )
    )
    sources = cust.filter(k % 100 == 0).select(
        k.alias("node"), F.lit(0).cast("long").alias("t0")
    )
    return temporal_reachability(e, sources, rounds=3)


_KG_TEMPORAL_REACH_SQL = """
WITH e AS (
  SELECT c_custkey AS src, c_custkey + 1 AS dst,
         (c_custkey * 13 + 7) % 1000 AS t FROM customer
  UNION ALL
  SELECT c_custkey, c_custkey + 2, (c_custkey * 5 + 11) % 1000
  FROM customer
  UNION ALL
  SELECT c_custkey, (c_custkey * 7 + 3) % 1000, (c_custkey * 3) % 1000
  FROM customer
),
a0 AS (
  SELECT c_custkey AS node, CAST(0 AS BIGINT) AS arrival
  FROM customer WHERE c_custkey % 100 = 0
),
a1 AS (
  SELECT node, MIN(arrival) AS arrival FROM (
    SELECT node, arrival FROM a0
    UNION ALL
    SELECT e.dst, e.t FROM a0 p
    JOIN e ON e.src = p.node AND e.t >= p.arrival
  ) GROUP BY node
),
a2 AS (
  SELECT node, MIN(arrival) AS arrival FROM (
    SELECT node, arrival FROM a1
    UNION ALL
    SELECT e.dst, e.t FROM a1 p
    JOIN e ON e.src = p.node AND e.t >= p.arrival
  ) GROUP BY node
),
a3 AS (
  SELECT node, MIN(arrival) AS arrival FROM (
    SELECT node, arrival FROM a2
    UNION ALL
    SELECT e.dst, e.t FROM a2 p
    JOIN e ON e.src = p.node AND e.t >= p.arrival
  ) GROUP BY node
)
SELECT node, CAST(arrival AS BIGINT) AS arrival FROM a3
"""


def _pipe_budget_select(spark, sf_dir):
    """Token-budget data selection (`operators/scan.py:budget_select`):
    highest-quality-first greedy cut at 150k planted tokens via the
    distributed two-pass global prefix sum — range partition →
    per-partition scan → ≤#partitions-row offset fold → broadcast
    offset join — never the single-task global window."""
    from omop2owl_vocab_spark.operators.scan import budget_select

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        ((F.col("doc_id") * 37) % 991).cast("long").alias("quality"),
        _planted_tokens_col().alias("n_tokens"),
    )
    return budget_select(
        docs,
        [F.col("quality").desc(), F.col("doc_id").asc()],
        "n_tokens",
        budget=150_000,
    )


_PIPE_BUDGET_SELECT_SQL = f"""
WITH docs AS (
  SELECT doc_id,
         CAST((doc_id * 37) % 991 AS BIGINT) AS quality,
         {_PLANTED_TOKENS_SQL} AS n_tokens
  FROM documents
),
cums AS (
  SELECT doc_id, quality, n_tokens,
         SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum
  FROM docs
)
SELECT doc_id, quality, n_tokens, CAST(cum AS BIGINT) AS cum
FROM cums WHERE cum <= 150000
"""


def _q_interval_merge(spark, sf_dir):
    """Interval-union coalescing (`operators/timeseries.py:
    interval_merge`): per-user [start, end) event intervals (duration
    planted closed-form from event_id, 2–26 min) merged into maximal
    islands with span, member count, and covered time — one sort per
    user shared by both window passes, running-max island detection
    (not lag — nested intervals can't split an island)."""
    from omop2owl_vocab_spark.operators.timeseries import interval_merge

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            + ((F.col("event_id") % 13) + 1) * F.lit(120_000_000)
        ).alias("e"),
    )
    return interval_merge(ev, ["user_id"], "s", "e")


_Q_INTERVAL_MERGE_SQL = """
WITH iv AS (
  SELECT user_id, epoch_us(ts) AS s,
         epoch_us(ts) + ((event_id % 13) + 1) * 120000000 AS e
  FROM events
),
flagged AS (
  SELECT user_id, s, e,
         CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) IS NULL
                   OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS brk
  FROM iv
),
islands AS (
  SELECT user_id, s, e,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS island
  FROM flagged
)
SELECT user_id, CAST(island AS BIGINT) AS island,
       MIN(s) AS start, MAX(e) AS "end",
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(MAX(e) - MIN(s) AS BIGINT) AS covered
FROM islands GROUP BY user_id, island
"""


def _q_rolling_median(spark, sf_dir):
    """Exact trailing-7 median (`operators/timeseries.py:
    rolling_median`) of integer-cent event values per user ordered by
    event_id: the LOWER median is an actual data value (collect_list
    frame + array_sort + element_at — constant O(w) state per row),
    never an interpolated float, so the DuckDB list-window oracle
    matches hash-exact."""
    from omop2owl_vocab_spark.operators.timeseries import rolling_median

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    return rolling_median(
        ev, ["user_id"], "event_id", "cents", window_rows=7
    )


_Q_ROLLING_MEDIAN_SQL = """
WITH base AS (
  SELECT user_id, event_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
win AS (
  SELECT user_id, event_id, cents,
         list_sort(list(cents) OVER (PARTITION BY user_id ORDER BY event_id
                                     ROWS BETWEEN 6 PRECEDING
                                     AND CURRENT ROW)) AS w
  FROM base
)
SELECT user_id, event_id, cents,
       w[CAST((len(w) + 1) // 2 AS INTEGER)] AS med,
       CAST(len(w) AS BIGINT) AS n_window
FROM win
"""


def _q_trend(spark, sf_dir):
    """Per-event-type daily-volume OLS trend (`operators/stats.py:
    linear_trend`): day-index x (rebased small so n·Σx² stays in
    long range), events-per-day y, and the exact integer slope
    fraction (sxy_num, sxx_num) — the division never happens
    engine-side because negative-numerator div semantics diverge
    between engines."""
    from omop2owl_vocab_spark.operators.stats import linear_trend

    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("day"),
        )
        .agg(F.count("*").cast("long").alias("n_events"))
    )
    return linear_trend(daily, ["event_type"], "day", "n_events")


_Q_TREND_SQL = """
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY event_type, day
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(day) AS BIGINT) AS sum_x,
       CAST(SUM(n_events) AS BIGINT) AS sum_y,
       CAST(COUNT(*) * SUM(CAST(day AS HUGEINT) * n_events)
            - CAST(SUM(day) AS HUGEINT) * SUM(n_events)
            AS BIGINT) AS sxy_num,
       CAST(COUNT(*) * SUM(CAST(day AS HUGEINT) * day)
            - CAST(SUM(day) AS HUGEINT) * SUM(day)
            AS BIGINT) AS sxx_num
FROM daily GROUP BY event_type
"""


def _q_assoc_rules(spark, sf_dir):
    """Directed association rules (`operators/graph.py:
    association_rules`) over the lineitem order→part baskets: both
    rule directions per co-purchased pair with exact-integer
    confidence and lift in e4 fixed point (every product through
    decimal(38)/HUGEINT) — the mining layer above kg_copurchase."""
    from omop2owl_vocab_spark.operators.graph import association_rules

    return association_rules(
        _t(spark, sf_dir, "lineitem"),
        basket_col="l_orderkey",
        item_col="l_partkey",
        min_pair_count=2,
    )


_Q_ASSOC_RULES_SQL = """
WITH items AS (
  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
),
support AS (
  SELECT item, CAST(COUNT(*) AS BIGINT) AS n_item FROM items GROUP BY item
),
nb AS (
  SELECT CAST(COUNT(DISTINCT basket) AS BIGINT) AS n_baskets FROM items
),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM items a JOIN items b
    ON b.basket = a.basket AND a.item < b.item
  GROUP BY a.item, b.item
  HAVING COUNT(*) >= 2
),
directed AS (
  SELECT item_a AS antecedent, item_b AS consequent, n_both FROM pairs
  UNION ALL
  SELECT item_b, item_a, n_both FROM pairs
)
SELECT d.antecedent, d.consequent, d.n_both,
       sa.n_item AS n_ante, sc.n_item AS n_cons, nb.n_baskets,
       CAST((CAST(d.n_both AS HUGEINT) * 10000) // sa.n_item AS BIGINT)
         AS conf_e4,
       CAST((CAST(d.n_both AS HUGEINT) * nb.n_baskets * 10000)
            // (CAST(sa.n_item AS HUGEINT) * sc.n_item) AS BIGINT)
         AS lift_e4
FROM directed d
JOIN support sa ON sa.item = d.antecedent
JOIN support sc ON sc.item = d.consequent
CROSS JOIN nb
"""


def _kg_modularity(spark, sf_dir):
    """Newman modularity decomposition (`operators/graph.py:
    modularity`) of a closed-form node%7 bucketing of the customer-key
    graph — per-community exact integer numerators (4·m·in_c −
    tot_c²; the division never happens engine-side, so negative-value
    div semantics can't diverge), the partition-quality layer for any
    labeling the other kg_* operators produce."""
    from omop2owl_vocab_spark.operators.graph import modularity

    edges = _custkey_edges(spark, sf_dir)
    labels = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .select("node", (F.col("node") % 7).alias("label"))
    )
    return modularity(edges, labels)


_KG_MODULARITY_SQL = """
WITH raw AS (
  SELECT c_custkey AS s, c_custkey + 1 AS t FROM customer
  UNION ALL SELECT c_custkey, c_custkey + 2 FROM customer
  UNION ALL SELECT c_custkey, (c_custkey * 7 + 3) % 1000 FROM customer
),
und AS (
  SELECT DISTINCT LEAST(s, t) AS a, GREATEST(s, t) AS b
  FROM raw WHERE s <> t
),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM und),
lab AS (
  SELECT node, node % 7 AS label FROM (
    SELECT DISTINCT node FROM (
      SELECT s AS node FROM raw UNION ALL SELECT t FROM raw
    )
  )
),
in_c AS (
  SELECT la.label, CAST(COUNT(*) AS BIGINT) AS in_edges
  FROM und
  JOIN lab la ON la.node = und.a
  JOIN lab lb ON lb.node = und.b
  WHERE la.label = lb.label
  GROUP BY la.label
),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT a AS node FROM und UNION ALL SELECT b FROM und
  ) GROUP BY node
),
tot_c AS (
  SELECT lab.label,
         CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(COALESCE(SUM(deg.deg), 0) AS BIGINT) AS tot_deg
  FROM lab LEFT JOIN deg ON deg.node = lab.node
  GROUP BY lab.label
)
SELECT tot_c.label, tot_c.n_nodes,
       CAST(COALESCE(in_c.in_edges, 0) AS BIGINT) AS in_edges,
       tot_c.tot_deg, m.m,
       CAST(4 * CAST(m.m AS HUGEINT) * COALESCE(in_c.in_edges, 0)
            - CAST(tot_c.tot_deg AS HUGEINT) * tot_c.tot_deg
            AS BIGINT) AS contrib_num
FROM tot_c LEFT JOIN in_c ON in_c.label = tot_c.label
CROSS JOIN m
"""


def _kg_hits(spark, sf_dir):
    """Integer HITS (`operators/graph.py:hits_fixed`, 2 rounds) over
    the DIRECTED customer-key graph: hubs/authorities as 10^9-scaled
    longs, L∞ normalization through decimal(38) so the recurrence is
    exact at any in-degree, oracle-unrolled round by round in DuckDB
    via HUGEINT — the mutual-reinforcement twin of kg_pagerank."""
    from omop2owl_vocab_spark.operators.graph import hits_fixed

    return hits_fixed(_custkey_edges(spark, sf_dir), iterations=2)


_KG_HITS_SQL = """
WITH raw AS (
  SELECT c_custkey AS s, c_custkey + 1 AS t FROM customer
  UNION ALL SELECT c_custkey, c_custkey + 2 FROM customer
  UNION ALL SELECT c_custkey, (c_custkey * 7 + 3) % 1000 FROM customer
),
e AS (SELECT DISTINCT s AS src, t AS dst FROM raw WHERE s <> t),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst FROM e
  )
),
h0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS h FROM nodes),
a1s AS (
  SELECT e.dst AS node, SUM(h0.h) AS a
  FROM h0 JOIN e ON e.src = h0.node GROUP BY e.dst
),
a1f AS (
  SELECT n.node, COALESCE(a1s.a, 0) AS a
  FROM nodes n LEFT JOIN a1s ON a1s.node = n.node
),
a1 AS (
  SELECT node,
         CASE WHEN (SELECT MAX(a) FROM a1f) > 0
              THEN CAST((CAST(a AS HUGEINT) * 1000000000)
                        // (SELECT MAX(a) FROM a1f) AS BIGINT)
              ELSE 0 END AS a
  FROM a1f
),
h1s AS (
  SELECT e.src AS node, SUM(a1.a) AS h
  FROM a1 JOIN e ON e.dst = a1.node GROUP BY e.src
),
h1f AS (
  SELECT n.node, COALESCE(h1s.h, 0) AS h
  FROM nodes n LEFT JOIN h1s ON h1s.node = n.node
),
h1 AS (
  SELECT node,
         CASE WHEN (SELECT MAX(h) FROM h1f) > 0
              THEN CAST((CAST(h AS HUGEINT) * 1000000000)
                        // (SELECT MAX(h) FROM h1f) AS BIGINT)
              ELSE 0 END AS h
  FROM h1f
),
a2s AS (
  SELECT e.dst AS node, SUM(h1.h) AS a
  FROM h1 JOIN e ON e.src = h1.node GROUP BY e.dst
),
a2f AS (
  SELECT n.node, COALESCE(a2s.a, 0) AS a
  FROM nodes n LEFT JOIN a2s ON a2s.node = n.node
),
a2 AS (
  SELECT node,
         CASE WHEN (SELECT MAX(a) FROM a2f) > 0
              THEN CAST((CAST(a AS HUGEINT) * 1000000000)
                        // (SELECT MAX(a) FROM a2f) AS BIGINT)
              ELSE 0 END AS a
  FROM a2f
),
h2s AS (
  SELECT e.src AS node, SUM(a2.a) AS h
  FROM a2 JOIN e ON e.dst = a2.node GROUP BY e.src
),
h2f AS (
  SELECT n.node, COALESCE(h2s.h, 0) AS h
  FROM nodes n LEFT JOIN h2s ON h2s.node = n.node
),
h2 AS (
  SELECT node,
         CASE WHEN (SELECT MAX(h) FROM h2f) > 0
              THEN CAST((CAST(h AS HUGEINT) * 1000000000)
                        // (SELECT MAX(h) FROM h2f) AS BIGINT)
              ELSE 0 END AS h
  FROM h2f
)
SELECT h2.node, CAST(h2.h AS BIGINT) AS hub_e9,
       CAST(a2.a AS BIGINT) AS auth_e9
FROM h2 JOIN a2 ON a2.node = h2.node
"""


def _txt_url_dedup(spark, sf_dir):
    """Canonical-URL dedup (`operators/text.py:url_dedup`) over
    documents with planted messy URLs: doc_id%4 carries an
    uppercase-host / default-port / trailing-slash / fragment /
    tracking-param / shuffled-param variant, doc_id%8 the SAME URL
    already clean (must collapse), doc_id%6 an http://:80 mirror.
    The oracle states each plant's canonical form closed-form from
    doc_id — Spark must actually parse and normalize the messy text
    to reach it, so every rule is ground-truth-checked."""
    from omop2owl_vocab_spark.operators.text import url_dedup

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        _plant(
            did % 4 == 0,
            F.lit(" see https://EX"),
            (did % 7).cast("string"),
            F.lit(".Example.COM:443/p/?utm_source=x&b=2&a=1#frag ok"),
        ),
        _plant(
            did % 8 == 0,
            F.lit(" ref https://ex"),
            (did % 7).cast("string"),
            F.lit(".example.com/p?a=1&b=2 done"),
        ),
        _plant(did % 6 == 0, F.lit(" via http://Mirror.NET:80/q end")),
    )
    return url_dedup(docs.select("doc_id", aug.alias("text")))


_TXT_URL_DEDUP_SQL = """
WITH urls AS (
  SELECT doc_id,
         'https://ex' || (doc_id % 7) || '.example.com/p?a=1&b=2' AS url
  FROM documents WHERE doc_id % 4 = 0
  UNION ALL
  SELECT doc_id,
         'https://ex' || (doc_id % 7) || '.example.com/p?a=1&b=2'
  FROM documents WHERE doc_id % 8 = 0
  UNION ALL
  SELECT doc_id, 'http://mirror.net/q'
  FROM documents WHERE doc_id % 6 = 0
)
SELECT url,
       CAST(COUNT(*) AS BIGINT) AS n_urls,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM urls GROUP BY url
"""


def _kg_link_pred(spark, sf_dir):
    """Common-neighbor link prediction
    (`operators/graph.py:link_prediction`) over the shared customer-key
    graph: top-200 NON-adjacent pairs by shared-neighbor count with
    integer preferential-attachment then node-pair tie-breaks (a total
    order — no float score), planned as adjacency self-join + anti-join
    on the edge set + TakeOrderedAndProject."""
    from omop2owl_vocab_spark.operators.graph import link_prediction

    return link_prediction(_custkey_edges(spark, sf_dir), top_k=200)


_KG_LINK_PRED_SQL = """
WITH raw AS (
  SELECT c_custkey AS s, c_custkey + 1 AS t FROM customer
  UNION ALL SELECT c_custkey, c_custkey + 2 FROM customer
  UNION ALL SELECT c_custkey, (c_custkey * 7 + 3) % 1000 FROM customer
),
e AS (
  SELECT DISTINCT LEAST(s, t) AS a, GREATEST(s, t) AS b
  FROM raw WHERE s <> t
),
adj AS (
  SELECT a AS node, b AS nbr FROM e
  UNION ALL SELECT b, a FROM e
),
deg AS (SELECT node, COUNT(*) AS d FROM adj GROUP BY node),
cn AS (
  SELECT x.node AS node_a, y.node AS node_b,
         CAST(COUNT(*) AS BIGINT) AS cn
  FROM adj x JOIN adj y ON y.nbr = x.nbr AND x.node < y.node
  GROUP BY x.node, y.node
),
cand AS (
  SELECT cn.node_a, cn.node_b, cn.cn
  FROM cn ANTI JOIN e ON e.a = cn.node_a AND e.b = cn.node_b
)
SELECT cand.node_a, cand.node_b, cand.cn,
       CAST(da.d * db.d AS BIGINT) AS pa
FROM cand
JOIN deg da ON da.node = cand.node_a
JOIN deg db ON db.node = cand.node_b
ORDER BY cand.cn DESC, pa DESC, cand.node_a, cand.node_b
LIMIT 200
"""


_HLL_B = 8
_HLL_M = 1 << _HLL_B
_HLL_WBITS = 60 - _HLL_B
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)
# sum_pow rides scale 2^(wbits+1) — ρ reaches wbits+1 on a zero
# sub-hash, and the one-bit headroom keeps every shift count ≥ 0
# (Java masks negative shifts mod 64; DuckDB doesn't — see
# operators/sketch.py:hll_estimate)
_HLL_NUMER = _HLL_ALPHA * _HLL_M * _HLL_M * float(1 << (_HLL_WBITS + 1))


def _q_hll_distinct(spark, sf_dir):
    """Portable HyperLogLog (`operators/sketch.py:hll_registers` +
    `hll_estimate`): per-priority distinct-customer estimate from
    2^8 plain-long registers over the shared 60-bit md5 hash family —
    ρ from the sub-hash's BINARY-STRING length (no libm log2), the raw
    α·m²/Σ2^(−ρ) estimator as one IEEE double division, exact
    distinct joined alongside for the error story.  Registers merge
    by per-bucket max — the KMV sketch's mergeable-state twin at
    O(2^b) state per group regardless of cardinality."""
    from omop2owl_vocab_spark.operators.sketch import (
        hll_estimate,
        hll_registers,
    )

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority"),
        F.col("o_custkey").cast("string").alias("v"),
    )
    est = hll_estimate(
        hll_registers(orders, ["o_orderpriority"], "v", b=_HLL_B),
        ["o_orderpriority"],
        b=_HLL_B,
    )
    exact = orders.groupBy("o_orderpriority").agg(
        F.countDistinct("v").cast("long").alias("exact_distinct")
    )
    return est.join(exact, "o_orderpriority")


_Q_HLL_DISTINCT_SQL = rf"""
WITH hashed AS (
  SELECT o_orderpriority,
         list_reduce(
           list_transform(
             string_split(substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15),
                          ''),
             c -> CAST(strpos('123456789abcdef', c) AS BIGINT)),
           (a, b) -> a * 16 + b) AS h
  FROM orders
),
rho AS (
  SELECT o_orderpriority,
         h % {_HLL_M} AS bucket,
         CASE WHEN h // {_HLL_M} > 0
              THEN {_HLL_WBITS + 1} - length(bin(h // {_HLL_M}))
              ELSE {_HLL_WBITS + 1} END AS r
  FROM hashed
),
regs AS (
  SELECT o_orderpriority, bucket, MAX(r) AS max_rho
  FROM rho GROUP BY o_orderpriority, bucket
),
folded AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n_buckets,
         CAST(SUM(1::BIGINT << ({_HLL_WBITS + 1} - max_rho))
              + ({_HLL_M} - COUNT(*)) * (1::BIGINT << {_HLL_WBITS + 1})
              AS BIGINT) AS sum_pow
  FROM regs GROUP BY o_orderpriority
),
exact AS (
  SELECT o_orderpriority,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
  FROM orders GROUP BY o_orderpriority
)
SELECT folded.o_orderpriority, folded.n_buckets, folded.sum_pow,
       CAST(floor({_HLL_NUMER!r} / CAST(folded.sum_pow AS DOUBLE)
                  * 10000 + 0.5) AS BIGINT) AS est_e4,
       exact.exact_distinct
FROM folded JOIN exact USING (o_orderpriority)
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver's correctness harness truncates at the
    # first 50 entries (observed r4), so the newest / least-proven
    # queries lead and long-stable r1 relational basics (q_filter, q_isin,
    # q_distinct, q_sort_limit, q_semi_join — unchanged and green since
    # round 1) sit at the tail.  tools/check_oracle.py still checks ALL
    # entries each round → CORRECTNESS_FULL_r05.json.
    return {
        # newest (r5): ancestor closure, snapshot diff, funnel,
        # histogram, interval join, KMV sketch, PMI collocations,
        # as-of join, line dedup, tf-idf, tokenizer-exact packing,
        # ANN recall metric
        "pipe_allocate": _pipe_allocate,
        "q_changepoint": _q_changepoint,
        "q_kmv_intersect": _q_kmv_intersect,
        "q_skyline": _q_skyline,
        "kg_ppr": _kg_ppr,
        "sim_centroids": _sim_centroids,
        "txt_sentences": _txt_sentences,
        "mm_frames": _mm_frames,
        "q_winsorize": _q_winsorize,
        "txt_postings": _txt_postings,
        "kg_temporal_reach": _kg_temporal_reach,
        "pipe_budget_select": _pipe_budget_select,
        "q_interval_merge": _q_interval_merge,
        "q_rolling_median": _q_rolling_median,
        "q_trend": _q_trend,
        "q_assoc_rules": _q_assoc_rules,
        "kg_modularity": _kg_modularity,
        "kg_hits": _kg_hits,
        "txt_url_dedup": _txt_url_dedup,
        "kg_link_pred": _kg_link_pred,
        "q_hll_distinct": _q_hll_distinct,
        "kg_clustering": _kg_clustering,
        "txt_trigram_lm": _txt_trigram_lm,
        "kg_reciprocity": _kg_reciprocity,
        "q_upsert": _q_upsert,
        "q_scd2": _q_scd2,
        "dd_prefix_join": _dd_prefix_join,
        "kg_dag_levels": _kg_dag_levels,
        "kg_node_sim": _kg_node_sim,
        "q_bloom_semi": _q_bloom_semi,
        "txt_inverted_index": _txt_inverted_index,
        "q_except_all": _q_except_all,
        "sim_quantize": _sim_quantize,
        "kg_walks": _kg_walks,
        "pipe_negatives": _pipe_negatives,
        "q_rank_norm": _q_rank_norm,
        "q_sweepline": _q_sweepline,
        "q_cumulative_distinct": _q_cumulative_distinct,
        "q_transitions": _q_transitions,
        "pipe_pps": _pipe_pps,
        "dd_containment": _dd_containment,
        "q_lis": _q_lis,
        "txt_chunks": _txt_chunks,
        "q_intersect": _q_intersect,
        "q_rolling": _q_rolling,
        "q_json_extract": _q_json_extract,
        "q_deciles": _q_deciles,
        "q_pivot": _q_pivot,
        "kg_kcore": _kg_kcore,
        "kg_bfs": _kg_bfs,
        "kg_lpa": _kg_lpa,
        "kg_shortest_paths": _kg_shortest_paths,
        "kg_copurchase": _kg_copurchase,
        "kg_fuzzy_pairs": _kg_fuzzy_pairs,
        "q_cohorts": _q_cohorts,
        "q_gap_fill": _q_gap_fill,
        "kg_degree_profile": _kg_degree_profile,
        "q_mad_outliers": _q_mad_outliers,
        "kg_pagerank": _kg_pagerank,
        "kg_triangles": _kg_triangles,
        "txt_skipgrams": _txt_skipgrams,
        "q_cube": _q_cube,
        "q_session_paths": _q_session_paths,
        "kg_ancestors": _kg_ancestors,
        "q_table_diff": _q_table_diff,
        "q_funnel": _q_funnel,
        "txt_length_hist": _txt_length_hist,
        "pipe_mixture": _pipe_mixture,
        "txt_doc_stats": _txt_doc_stats,
        "q_interval_join": _q_interval_join,
        "q_kmv_distinct": _q_kmv_distinct,
        "txt_collocations": _txt_collocations,
        "q_asof_join": _q_asof_join,
        "txt_line_dedup": _txt_line_dedup,
        "txt_tfidf": _txt_tfidf,
        "pipe_pack_bpe": _pipe_pack_bpe,
        "txt_subword_vocab": _txt_subword_vocab,
        "sim_recall": _sim_recall,
        "pipe_curation_scan": _pipe_curation_scan,
        # r4 additions + the two the r4 driver window dropped
        "dd_decontaminate": _dd_decontaminate,
        "txt_vocab": _txt_vocab,
        "pipe_sample": _pipe_sample,
        "pipe_pack_tokens": _pipe_pack_tokens,
        "pipe_pack_slices": _pipe_pack_slices,
        "sim_near_dup_lsh": _sim_near_dup_lsh,
        "mm_features": _mm_features,
        # KG engine (SURVEY §2 core)
        "kg_full_emission": _kg_full_emission,
        "kg_concept_unpivot": _kg_concept_unpivot,
        "kg_edges_resolve": _kg_edges_resolve,
        "kg_sanitize": _kg_sanitize,
        "kg_adjacency": _kg_adjacency,
        "kg_connected_components": _kg_connected_components,
        # relational operator inventory (F/J/A/O/U/X families)
        "q_union_distinct": _q_union_distinct,
        "q_groupby_agg": _q_groupby_agg,
        "q_join_agg": _q_join_agg,
        "q_first_order": _q_first_order,
        "q_event_windows": _q_event_windows,
        "q_sessionize": _q_sessionize,
        "q_window_rank": _q_window_rank,
        "q_rollup": _q_rollup,
        # training-data pipeline ops
        "dd_exact": _dd_exact,
        "dd_jaccard": _dd_jaccard,
        "dd_minhash_lsh": _dd_minhash_lsh,
        "dd_minhash_verified": _dd_minhash_verified,
        "dd_simhash": _dd_simhash,
        "dd_winnow": _dd_winnow,
        "dd_winnow_pairs": _dd_winnow_pairs,
        "dd_groups": _dd_groups,
        "txt_corpus_stats": _txt_corpus_stats,
        "txt_token_stats": _txt_token_stats,
        "txt_quality": _txt_quality,
        "txt_lang_id": _txt_lang_id,
        "txt_fingerprint": _txt_fingerprint,
        "txt_pii": _txt_pii,
        "txt_domains": _txt_domains,
        "txt_gopher": _txt_gopher,
        "txt_repetition": _txt_repetition,
        "pipe_curation": _pipe_curation,
        "pipe_split": _pipe_split,
        "pipe_pack": _pipe_pack,
        "sim_norms": _sim_norms,
        "sim_cosine_topk": _sim_cosine_topk,
        "sim_near_dup_exact": _sim_near_dup_exact,
        "sim_ann_bucketed": _sim_ann_bucketed,
        "sim_ivf_topk": _sim_ivf_topk,
        # long-stable r1 relational basics — the driver's 50-entry window
        # may drop these; tools/check_oracle.py covers them every round
        "q_anti_join": _q_anti_join,
        "q_filter": _q_filter,
        "q_isin": _q_isin,
        "q_distinct": _q_distinct,
        "q_sort_limit": _q_sort_limit,
        "q_semi_join": _q_semi_join,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "pipe_allocate": _PIPE_ALLOCATE_SQL,
        "q_changepoint": _Q_CHANGEPOINT_SQL,
        "q_kmv_intersect": _Q_KMV_INTERSECT_SQL,
        "q_skyline": _Q_SKYLINE_SQL,
        "kg_ppr": _KG_PPR_SQL,
        "sim_centroids": _SIM_CENTROIDS_SQL,
        "txt_sentences": _TXT_SENTENCES_SQL,
        "mm_frames": _MM_FRAMES_SQL,
        "q_winsorize": _Q_WINSORIZE_SQL,
        "txt_postings": _TXT_POSTINGS_SQL,
        "kg_temporal_reach": _KG_TEMPORAL_REACH_SQL,
        "pipe_budget_select": _PIPE_BUDGET_SELECT_SQL,
        "q_interval_merge": _Q_INTERVAL_MERGE_SQL,
        "q_rolling_median": _Q_ROLLING_MEDIAN_SQL,
        "q_trend": _Q_TREND_SQL,
        "q_assoc_rules": _Q_ASSOC_RULES_SQL,
        "kg_modularity": _KG_MODULARITY_SQL,
        "kg_hits": _KG_HITS_SQL,
        "txt_url_dedup": _TXT_URL_DEDUP_SQL,
        "kg_link_pred": _KG_LINK_PRED_SQL,
        "q_hll_distinct": _Q_HLL_DISTINCT_SQL,
        "kg_clustering": _KG_CLUSTERING_SQL,
        "txt_trigram_lm": _TXT_TRIGRAM_LM_SQL,
        "kg_reciprocity": _KG_RECIPROCITY_SQL,
        "q_upsert": _Q_UPSERT_SQL,
        "q_scd2": _Q_SCD2_SQL,
        "dd_prefix_join": _DD_PREFIX_JOIN_SQL,
        "kg_dag_levels": _KG_DAG_LEVELS_SQL,
        "kg_node_sim": _KG_NODE_SIM_SQL,
        "q_bloom_semi": _Q_BLOOM_SEMI_SQL,
        "txt_inverted_index": _TXT_INVERTED_INDEX_SQL,
        "q_except_all": _Q_EXCEPT_ALL_SQL,
        "sim_quantize": _SIM_QUANTIZE_SQL,
        "kg_walks": _KG_WALKS_SQL,
        "pipe_negatives": _PIPE_NEGATIVES_SQL,
        "q_rank_norm": _Q_RANK_NORM_SQL,
        "q_sweepline": _Q_SWEEPLINE_SQL,
        "q_cumulative_distinct": _Q_CUMULATIVE_DISTINCT_SQL,
        "kg_full_emission": _KG_FULL_EMISSION_SQL,
        "kg_concept_unpivot": _KG_CONCEPT_UNPIVOT_SQL,
        "kg_edges_resolve": _KG_EDGES_RESOLVE_SQL,
        "kg_sanitize": _KG_SANITIZE_SQL,
        "kg_adjacency": _KG_ADJACENCY_SQL,
        "kg_connected_components": _KG_CONNECTED_COMPONENTS_SQL,
        "q_filter": _Q_FILTER_SQL,
        "q_isin": _Q_ISIN_SQL,
        "q_semi_join": _Q_SEMI_JOIN_SQL,
        "q_anti_join": _Q_ANTI_JOIN_SQL,
        "q_union_distinct": _Q_UNION_DISTINCT_SQL,
        "q_distinct": _Q_DISTINCT_SQL,
        "q_sort_limit": _Q_SORT_LIMIT_SQL,
        "q_groupby_agg": _Q_GROUPBY_AGG_SQL,
        "q_join_agg": _Q_JOIN_AGG_SQL,
        "q_first_order": _Q_FIRST_ORDER_SQL,
        "q_event_windows": _Q_EVENT_WINDOWS_SQL,
        "q_sessionize": _Q_SESSIONIZE_SQL,
        "q_window_rank": _Q_WINDOW_RANK_SQL,
        "q_rollup": _Q_ROLLUP_SQL,
        "dd_exact": _DD_EXACT_SQL,
        "dd_jaccard": _DD_JACCARD_SQL,
        "txt_corpus_stats": _TXT_CORPUS_STATS_SQL,
        "txt_token_stats": _TXT_TOKEN_STATS_SQL,
        "txt_quality": _TXT_QUALITY_SQL,
        "txt_lang_id": _TXT_LANG_ID_SQL,
        "txt_fingerprint": _TXT_FINGERPRINT_SQL,
        "txt_pii": _TXT_PII_SQL,
        "txt_domains": _TXT_DOMAINS_SQL,
        "txt_gopher": _TXT_GOPHER_SQL,
        "txt_repetition": _TXT_REPETITION_SQL,
        "txt_vocab": _TXT_VOCAB_SQL,
        "pipe_curation": _build_pipe_curation_sql(),
        "pipe_sample": _PIPE_SAMPLE_SQL,
        "pipe_split": _PIPE_SPLIT_SQL,
        "pipe_pack": _PIPE_PACK_SQL,
        "pipe_pack_tokens": _PIPE_PACK_TOKENS_SQL,
        "pipe_pack_slices": _PIPE_PACK_SLICES_SQL,
        "kg_pagerank": _KG_PAGERANK_SQL,
        "kg_triangles": _KG_TRIANGLES_SQL,
        "txt_skipgrams": _TXT_SKIPGRAMS_SQL,
        "q_cube": _Q_CUBE_SQL,
        "q_session_paths": _Q_SESSION_PATHS_SQL,
        "q_transitions": _Q_TRANSITIONS_SQL,
        "pipe_pps": _PIPE_PPS_SQL,
        "dd_containment": _DD_CONTAINMENT_SQL,
        "q_lis": _Q_LIS_SQL,
        "txt_chunks": _TXT_CHUNKS_SQL,
        "q_intersect": _Q_INTERSECT_SQL,
        "q_rolling": _Q_ROLLING_SQL,
        "q_json_extract": _Q_JSON_EXTRACT_SQL,
        "q_deciles": _Q_DECILES_SQL,
        "q_pivot": _Q_PIVOT_SQL,
        "kg_kcore": _KG_KCORE_SQL,
        "kg_bfs": _KG_BFS_SQL,
        "kg_lpa": _KG_LPA_SQL,
        "kg_shortest_paths": _KG_SHORTEST_PATHS_SQL,
        "kg_copurchase": _KG_COPURCHASE_SQL,
        "kg_fuzzy_pairs": _KG_FUZZY_PAIRS_SQL,
        "q_cohorts": _Q_COHORTS_SQL,
        "q_gap_fill": _Q_GAP_FILL_SQL,
        "kg_degree_profile": _KG_DEGREE_PROFILE_SQL,
        "q_mad_outliers": _Q_MAD_OUTLIERS_SQL,
        "kg_ancestors": _KG_ANCESTORS_SQL,
        "q_table_diff": _Q_TABLE_DIFF_SQL,
        "q_funnel": _Q_FUNNEL_SQL,
        "txt_length_hist": _TXT_LENGTH_HIST_SQL,
        "pipe_mixture": _PIPE_MIXTURE_SQL,
        "txt_doc_stats": _TXT_DOC_STATS_SQL,
        "q_interval_join": _Q_INTERVAL_JOIN_SQL,
        "q_kmv_distinct": _Q_KMV_DISTINCT_SQL,
        "txt_collocations": _TXT_COLLOCATIONS_SQL,
        "q_asof_join": _Q_ASOF_JOIN_SQL,
        "txt_line_dedup": _TXT_LINE_DEDUP_SQL,
        "txt_tfidf": _TXT_TFIDF_SQL,
        "pipe_pack_bpe": _build_pipe_pack_bpe_sql(),
        "txt_subword_vocab": _TXT_SUBWORD_VOCAB_SQL,
        "pipe_curation_scan": _build_pipe_curation_scan_sql(),
        "sim_norms": _SIM_NORMS_SQL,
        "sim_cosine_topk": _SIM_COSINE_TOPK_SQL,
        "sim_near_dup_exact": _SIM_NEAR_DUP_EXACT_SQL,
        # LSH family + multimodal: every hash/band/bucket derivation is
        # md5-based and engine-portable, so even the pandas-UDF/mapInPandas
        # paths get exact SQL oracles (full re-derivation in DuckDB).
        "dd_minhash_lsh": _DD_MINHASH_LSH_SQL,
        "dd_minhash_verified": _DD_MINHASH_VERIFIED_SQL,
        "dd_simhash": _DD_SIMHASH_SQL,
        "dd_winnow": _DD_WINNOW_SQL,
        "dd_winnow_pairs": _DD_WINNOW_PAIRS_SQL,
        "dd_groups": _DD_GROUPS_SQL,
        "dd_decontaminate": _DD_DECONTAMINATE_SQL,
        "sim_ann_bucketed": _SIM_ANN_BUCKETED_SQL,
        "sim_ivf_topk": _SIM_IVF_TOPK_SQL,
        "sim_near_dup_lsh": _SIM_NEAR_DUP_LSH_SQL,
        "sim_recall": _build_sim_recall_sql(),
        "mm_features": _MM_FEATURES_SQL,
    }

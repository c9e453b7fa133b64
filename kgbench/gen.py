"""Seeded input generators for the benchmark workloads.

Every row is built from Spark expressions over ``spark.range`` (no Python
in the data path), hashed with ``xxhash64(..., seed)``, so the same seed
gives byte-identical tables at any parallelism; a seed never changes a
table's size or shape.  The program under test only ever receives the
parquet these functions write.

- ``code_files``: the pipeline corpus, same shape as
  ``omop2owl_vocab_spark.sources.synth`` — lang skew ≈55/25/5/5/5/5, every
  20th file repeats the previous file's content (a same-sha256 'Maps to'
  pair), and each file carries one import that resolves to another file of
  its repo plus one that dangles.
- ``query_tables``: the TPC-H-shaped ``customer`` / ``nation`` / ``part``
  / ``documents`` tables that the graph and dedup queries of
  ``__spark_entry__`` read, with the columns, key ranges and text
  vocabulary of the sf test data.  The benchmark generates them rather
  than reading a fixed test-data directory, so a run needs nothing outside
  the repository.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

LANG_CUTS = ((55, "python"), (80, "java"), (85, "go"), (90, "js"), (95, "rs"))
N_REPOS = 8

# the 31-word vocabulary of the sf test documents: every bigram posting
# list is hot, which is what makes the prefix join compute-dense
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DOC_LANGS = ("en", "en", "zh", "de", "fr", "es")


def _h(seed: int, *cols: Column | int, mod: int) -> Column:
    """Seeded uniform bucket in ``[0, mod)``."""
    return F.pmod(
        F.xxhash64(*[c if isinstance(c, Column) else F.lit(c) for c in cols],
                   F.lit(seed)),
        F.lit(mod),
    )


def code_files(spark: SparkSession, n_rows: int, seed: int) -> DataFrame:
    """``code_files(repo, path, commit, lang, content)`` with ``n_rows`` rows."""
    i = F.col("id")
    # rows 19 mod 20 repeat the previous row's content
    ck = F.when((i % 20 == 19) & (i > 0), i - 1).otherwise(i)
    bucket = _h(seed, i, mod=100)
    lang = F.lit("c")
    for cut, name in reversed(LANG_CUTS):
        lang = F.when(bucket < cut, name).otherwise(lang)
    ext = F.when(lang == "python", "py").otherwise(lang)
    repo = F.concat(F.lit("repo"), (i % N_REPOS).cast("string"))
    path = F.concat(
        F.lit("src/pkg"), ((i / 40).cast("long") % 10).cast("string"),
        F.lit("/mod"), i.cast("string"), F.lit("."), ext,
    )
    # the resolvable import targets a row with ck's residue mod N_REPOS,
    # i.e. a real file of the same repo; the second names a module id past
    # the last row, so it never resolves
    m = max(n_rows - n_rows % N_REPOS, N_REPOS)
    t = (ck + N_REPOS * (1 + _h(seed + 1, ck, mod=25))) % m
    imp_ok = F.concat(
        F.lit("import pkg"), ((t / 40).cast("long") % 10).cast("string"),
        F.lit(".mod"), t.cast("string"),
    )
    imp_dangling = F.concat(
        F.lit("import pkg"), _h(seed + 2, ck, mod=10).cast("string"),
        F.lit(".mod"), (n_rows + _h(seed + 3, ck, mod=50)).cast("string"),
    )
    filler = F.concat(
        F.lit("token"), _h(seed + 4, ck, mod=997).cast("string"), F.lit(" body ")
    )
    content = F.concat(
        F.lit("// module "), ck.cast("string"), F.lit("\n"),
        imp_ok, F.lit("\n"), imp_dangling, F.lit("\n"),
        F.repeat(filler, 20),
    )
    commit = F.substring(F.sha2(F.concat(repo, F.lit("@"), path), 256), 1, 40)
    return spark.range(n_rows).select(
        repo.alias("repo"), path.alias("path"), commit.alias("commit"),
        lang.alias("lang"), content.alias("content"),
    )


def query_tables(
    spark: SparkSession,
    seed: int,
    n_customers: int = 15000,
    n_parts: int = 20000,
    n_docs: int = 5000,
) -> dict[str, DataFrame]:
    """The tables the ``kg_*`` / ``dd_*`` entry-point queries read.

    Keys are ``0..n-1`` as in the sf test data, so the key-derived graphs of
    the ``kg_*`` queries are the same for every seed (their work does not
    vary with it); the seed drives the nation blocks (and so which names
    are one edit apart within a block), balances, segments and the
    document text."""
    i = F.col("id")
    customer = spark.range(n_customers).select(
        i.alias("c_custkey"),
        F.concat(F.lit("Customer#"), F.lpad(i.cast("string"), 9, "0")).alias("c_name"),
        _h(seed + 1, i, mod=25).cast("int").alias("c_nationkey"),
        (_h(seed + 2, i, mod=1_100_000) / 100.0 - 1000.0).alias("c_acctbal"),
        F.element_at(
            F.array(*[F.lit(s) for s in ("AUTOMOBILE", "BUILDING", "FURNITURE",
                                         "HOUSEHOLD", "MACHINERY")]),
            (_h(seed + 3, i, mod=5) + 1).cast("int"),
        ).alias("c_mktsegment"),
    )
    nation = spark.range(25).select(
        i.cast("int").alias("n_nationkey"),
        F.concat(F.lit("NATION_"), i.cast("string")).alias("n_name"),
        (i % 5).cast("int").alias("n_regionkey"),
    )
    part = spark.range(n_parts).select(
        i.alias("p_partkey"),
        F.concat(F.lit("part "), i.cast("string")).alias("p_name"),
    )
    vocab = F.array(*[F.lit(w) for w in WORDS])
    # one doc in 600 repeats its predecessor's text (exact duplicates)
    src = F.when((i % 600 == 599), i - 1).otherwise(i)
    words = F.transform(
        F.sequence(F.lit(0), (10 + _h(seed + 4, src, mod=91) - 1).cast("int")),
        lambda k: F.element_at(vocab, (_h(seed + 5, src, k, mod=len(WORDS)) + 1).cast("int")),
    )
    text = F.array_join(words, " ")
    documents = spark.range(n_docs).select(
        i.alias("doc_id"),
        text.alias("text"),
        F.element_at(
            F.array(*[F.lit(s) for s in DOC_LANGS]),
            (_h(seed + 6, i, mod=len(DOC_LANGS)) + 1).cast("int"),
        ).alias("lang"),
        F.concat(F.lit("src"), (i % 20).cast("string")).alias("source"),
    ).withColumn("n_chars", F.length("text").cast("long"))
    return {"customer": customer, "nation": nation, "part": part,
            "documents": documents}


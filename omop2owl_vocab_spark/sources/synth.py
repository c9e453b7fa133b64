"""Deterministic synthetic ``code_files`` generator (FIXTURES.md §1).

Fully distributed (``spark.range`` + JVM expressions — zero Python in the
data path), seeded by row id only, so any two runs at any parallelism
produce identical rows.  Properties the tests rely on (closed-form):

- ``lang`` is skewed: python ≈55%, java ≈25%, go/js/rs/c ≈5% each — the
  vocabulary-skew analog (SNOMED/RxNorm role, SURVEY §1.5).
- every row ``i`` with ``i % 20 == 19`` duplicates the content of row
  ``i-1`` → same-sha256 'Maps to' equivalence pairs {i-1, i} (~5% of rows),
  giving ``floor((n+1)/20)``-ish components of size exactly 2.
- content embeds ``import pkgA.modB`` lines so import-edge extraction fires.
- (repo, path) unique: path embeds the row id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LANGS = ["python", "java", "go", "js", "rs", "c"]
N_REPOS = 8


def synth_code_files(
    spark: SparkSession,
    n_rows: int,
    lang_cuts: tuple[int, int, int, int, int] = (55, 80, 85, 90, 95),
) -> DataFrame:
    """``lang_cuts`` are the cumulative percent thresholds for
    python/java/go/js/rs (remainder = c).  The default reproduces the
    documented ≈55/25/5/5/5/5 skew; pass e.g. ``(90, 92, 94, 96, 98)``
    for the pathological one-giant-vocab corpus (the SNOMED analog at its
    worst; ``BENCH_SKEW_S3.json`` records its s3 task skew)."""
    df = spark.range(n_rows).select(F.col("id").alias("i"))

    # duplicate-content key: rows 19 mod 20 repeat the previous row's content
    ck = F.when((F.col("i") % 20 == 19) & (F.col("i") > 0), F.col("i") - 1).otherwise(
        F.col("i")
    )
    # skewed lang from a seeded hash bucket
    c1, c2, c3, c4, c5 = lang_cuts
    bucket = F.pmod(F.xxhash64(F.col("i"), F.lit(42)), F.lit(100))
    lang = (
        F.when(bucket < c1, "python")
        .when(bucket < c2, "java")
        .when(bucket < c3, "go")
        .when(bucket < c4, "js")
        .when(bucket < c5, "rs")
        .otherwise("c")
    )
    ext = (
        F.when(lang == "python", "py")
        .when(lang == "java", "java")
        .otherwise(lang)
    )
    repo = F.concat(F.lit("repo"), (F.col("i") % N_REPOS).cast("string"))
    pkg = ((F.col("i") / 40).cast("long") % 10).cast("string")
    path = F.concat(
        F.lit("src/pkg"), pkg, F.lit("/mod"), F.col("i").cast("string"),
        F.lit("."), ext,
    )
    # imp1 resolves: target row t keeps ck's residue mod N_REPOS (same repo)
    # because m8 is a multiple of N_REPOS, so pkg/stem point at a real file.
    # imp2 is intentionally dangling-ish (exercises unresolved imports).
    m8 = max(n_rows - (n_rows % N_REPOS), N_REPOS)
    t = (ck + N_REPOS * (1 + F.pmod(F.xxhash64(ck, F.lit(99)), F.lit(25)))) % m8
    imp1 = F.concat(
        F.lit("import pkg"), ((t / 40).cast("long") % 10).cast("string"),
        F.lit(".mod"), t.cast("string"),
    )
    imp2 = F.concat(
        F.lit("import pkg"), ((ck * 11) % 10).cast("string"),
        F.lit(".mod"), ((ck * 17) % 50).cast("string"),
    )
    filler = F.concat(
        F.lit("token"),
        F.pmod(F.xxhash64(ck, F.lit(7)), F.lit(997)).cast("string"),
        F.lit(" body "),
    )
    content = F.concat(
        F.lit("// module "), ck.cast("string"), F.lit("\n"),
        imp1, F.lit("\n"), imp2, F.lit("\n"),
        F.repeat(filler, 20),
    )
    commit = F.substring(F.sha2(F.concat(repo, F.lit("@"), path), 256), 1, 40)

    return df.select(
        repo.alias("repo"),
        path.alias("path"),
        commit.alias("commit"),
        lang.alias("lang"),
        content.alias("content"),
    )

"""S1/S2 — OMOP vocab table scans.

Reference: ``pd.read_csv(..., dtype=<all str>, sep=None).fillna('')``
(omop2owl_vocab.py:379-391).  Here: explicit StructType (no inference pass),
separator sniffed once on the driver from the first line (the reference pays
the pandas python-engine penalty on every row for the same capability),
``na.fill('')`` for NaN→''.  Filters are written immediately after the scan
so Catalyst pushes them into the file source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from omop2owl_vocab_spark.schemas import (
    CONCEPT_RELATIONSHIP_SCHEMA,
    CONCEPT_SCHEMA,
)


def _expand(path) -> list[str]:
    """Local glob expansion (driver-side, cheap) so sep-sniffing can read a
    concrete first file; remote URIs pass through untouched."""
    import glob as _glob

    paths = list(path) if isinstance(path, (list, tuple)) else [path]
    out: list[str] = []
    for p in paths:
        if "*" in p and "://" not in p:
            out.extend(sorted(_glob.glob(p)) or [p])
        else:
            out.append(p)
    return out


def _sniff_sep(spark: SparkSession, paths: list[str]) -> str:
    """Comma vs tab, decided from the header line only (vs the reference's
    whole-file python-engine sniffing, omop2owl_vocab.py:382)."""
    header = spark.read.text(paths[0]).limit(1).collect()
    if not header:
        return ","
    line = header[0][0]
    return "\t" if line.count("\t") > line.count(",") else ","


def _read_csv(spark: SparkSession, path, schema, table: str) -> DataFrame:
    paths = _expand(path)
    if not paths:
        raise FileNotFoundError(
            f"no {table} file to read: the path list is empty"
        )
    sep = _sniff_sep(spark, paths)
    df = (
        spark.read.schema(schema)
        .option("header", True)
        .option("sep", sep)
        .csv(paths)
    )
    return df.na.fill("")


def read_concept(spark: SparkSession, path) -> DataFrame:
    """Concept table: all-string schema, NaN→'' (F1). No validity filter —
    the reference only annotates concept invalid_reason (SURVEY §1.1)."""
    return _read_csv(spark, path, CONCEPT_SCHEMA, "concept")


def read_concept_relationship(spark: SparkSession, path) -> DataFrame:
    """Relationship table with the validity filter F2 applied at the scan
    (reference: omop2owl_vocab.py:390-391) so Catalyst pushes it down."""
    df = _read_csv(
        spark, path, CONCEPT_RELATIONSHIP_SCHEMA, "concept_relationship"
    )
    return df.filter(df.invalid_reason == "")

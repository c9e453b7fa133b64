"""S3 — the prefix→base-IRI dimension table.

The reference ships a 235-row ``prefixes.csv`` (234 unique prefixes —
``FBcv`` appears twice upstream; the dict keeps the last) consumed by semsql
(``omop2owl_vocab.py:37,123,126,137``) plus two hardcoded entries
(``PREFIX_MAP``, ``:38-41``).  That csv is BUNDLED verbatim at
``omop2owl_vocab_spark/data/prefixes.csv`` (public prefix→IRI data, not
code — the reference's semsql ``.db`` carries these rows, and downstream
tools expanding foreign CURIEs through the prefix table expect them).
``default_prefix_map`` overlays ``functions.curie.NAMESPACES`` on it; the
dim is broadcast when joined.
"""

from __future__ import annotations

import csv
import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from omop2owl_vocab_spark.functions.curie import NAMESPACES

PREFIX_SCHEMA = StructType(
    [
        StructField("prefix", StringType(), False),
        StructField("base", StringType(), False),
    ]
)

BUNDLED_PREFIXES_CSV = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data",
    "prefixes.csv",
)


@lru_cache(maxsize=1)
def bundled_prefix_map() -> dict[str, str]:
    """The reference's full prefix dim, read driver-side (tiny, stdlib csv
    — no Spark job for a 235-row constant file)."""
    with open(BUNDLED_PREFIXES_CSV, newline="") as f:
        return {row["prefix"]: row["base"] for row in csv.DictReader(f)}


def default_prefix_map() -> dict[str, str]:
    """The prefix table of the semsql ``.db`` and of ``prefix_dim``: the
    bundled csv overlaid by ``NAMESPACES`` (the reference's hardcoded pair
    also shadows its csv rows, omop2owl_vocab.py:38-41)."""
    return {**bundled_prefix_map(), **NAMESPACES}


def prefix_dim(spark: SparkSession) -> DataFrame:
    """Broadcast-ready DataFrame form, for join-based IRI expansion."""
    m = default_prefix_map()
    return F.broadcast(spark.createDataFrame(sorted(m.items()), PREFIX_SCHEMA))

"""S3 — the prefix→base-IRI map.

The reference ships a 235-row ``prefixes.csv`` (234 unique prefixes —
``FBcv`` appears twice upstream; the dict keeps the last) consumed by semsql
(``omop2owl_vocab.py:37,123,126,137``) plus two hardcoded entries
(``PREFIX_MAP``, ``:38-41``).  That csv is BUNDLED verbatim at
``omop2owl_vocab_spark/data/prefixes.csv`` (public prefix→IRI data, not
code — the reference's semsql ``.db`` carries these rows, and downstream
tools expanding foreign CURIEs through the prefix table expect them).
``default_prefix_map`` overlays ``functions.curie.NAMESPACES`` on it.
"""

from __future__ import annotations

import csv
import os
from functools import lru_cache

from omop2owl_vocab_spark.functions.curie import NAMESPACES

BUNDLED_PREFIXES_CSV = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data",
    "prefixes.csv",
)


@lru_cache(maxsize=1)
def bundled_prefix_map() -> dict[str, str]:
    """The reference's full prefix table, read driver-side (tiny, stdlib csv
    — no Spark job for a 235-row constant file)."""
    with open(BUNDLED_PREFIXES_CSV, newline="") as f:
        return {row["prefix"]: row["base"] for row in csv.DictReader(f)}


def default_prefix_map() -> dict[str, str]:
    """The prefix table of the semsql ``.db``: the bundled csv overlaid by
    ``NAMESPACES`` (the reference's hardcoded pair also shadows its csv
    rows, omop2owl_vocab.py:38-41)."""
    return {**bundled_prefix_map(), **NAMESPACES}


"""X1 — CURIE construction (``f'OMOP:{concept_id}'``, omop2owl_vocab.py:207).

Pure ``concat`` — JVM-side, codegen'd, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Hardcoded prefix map of the reference (PREFIX_MAP, omop2owl_vocab.py:38-41);
# carried in the output manifest, not in triples.
PREFIX_MAP = {
    "omoprel": "https://w3id.org/cpont/omop/relations/",
    "OMOP": "https://athena.ohdsi.org/search-terms/terms/",
}


def omop_curie(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.concat(F.lit("OMOP:"), c)

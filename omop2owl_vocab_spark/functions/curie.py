"""X1 — the output vocabulary: CURIE construction (``f'OMOP:{concept_id}'``,
omop2owl_vocab.py:207), the namespace map and CURIE → IRI expansion.

Every emitted CURIE is built by ``omop_curie`` and every sink that writes an
IRI expands it through ``NAMESPACES`` with ``expand_iri``; the semsql
``.db`` prefix table overlays ``NAMESPACES`` on the bundled prefix dim
(``sources.prefixes.default_prefix_map``).  Pure ``concat``/``when`` —
JVM-side, codegen'd, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# The namespaces emitted triples use: the four W3C ones plus the reference's
# hardcoded pair (PREFIX_MAP, omop2owl_vocab.py:38-41).  No ``pfx:`` starts
# another one, so at most one entry matches a CURIE and the order of
# ``expand_iri``'s chain cannot change a result.
NAMESPACES = {
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "owl": "http://www.w3.org/2002/07/owl#",
    "xsd": "http://www.w3.org/2001/XMLSchema#",
    "OMOP": "https://athena.ohdsi.org/search-terms/terms/",
    "omoprel": "https://w3id.org/cpont/omop/relations/",
}

# substring length meaning "to the end" (SQL ``substring(s, pos)``)
_TO_END = (1 << 31) - 1


def omop_curie(col: str) -> Column:
    """``OMOP:<id>`` for the concept-id column ``col``."""
    return F.concat(F.lit("OMOP:"), F.col(col))


def expand_iri(col: str) -> Column:
    """CURIE column ``col`` → full IRI through ``NAMESPACES`` (a when-chain
    stays in codegen); a value with any other prefix, or none, passes
    through unchanged."""
    c = F.col(col)
    out = c
    for pfx, base in NAMESPACES.items():
        out = F.when(
            c.startswith(f"{pfx}:"),
            F.concat(F.lit(base), F.substring(c, len(pfx) + 2, _TO_END)),
        ).otherwise(out)
    return out

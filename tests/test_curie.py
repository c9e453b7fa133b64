"""X1: ``functions/curie.py`` is the one module that knows the output
vocabulary — how a concept id becomes a CURIE and how a CURIE becomes an
IRI."""

from pathlib import Path

from pyspark.sql import Row

from omop2owl_vocab_spark.functions import curie
from omop2owl_vocab_spark.functions.curie import NAMESPACES, expand_iri

ROOT = Path(__file__).resolve().parents[1]

# every namespace base IRI, and the inline CURIE construction
VOCABULARY = (
    "www.w3.org/1999/02/22-rdf-syntax-ns#",
    "www.w3.org/2000/01/rdf-schema#",
    "www.w3.org/2002/07/owl#",
    "www.w3.org/2001/XMLSchema#",
    "athena.ohdsi.org",
    "w3id.org/cpont",
    'F.lit("OMOP:")',
)


def modules_spelling_the_vocabulary(root: Path) -> list[str]:
    """Package modules other than ``functions/curie.py`` that spell a
    namespace base or build an ``OMOP:`` CURIE themselves."""
    pkg = root / "omop2owl_vocab_spark"
    own = pkg / "functions" / "curie.py"
    return [
        str(p.relative_to(pkg))
        for p in sorted(pkg.rglob("*.py"))
        if p != own and any(v in p.read_text() for v in VOCABULARY)
    ]


def test_only_curie_module_knows_the_vocabulary():
    assert modules_spelling_the_vocabulary(ROOT) == []
    assert all(v in Path(curie.__file__).read_text() for v in VOCABULARY)


def test_expand_iri(spark):
    curies = [f"{p}:x" for p in NAMESPACES] + ["foaf:x", "x", None]
    df = spark.createDataFrame([Row(c=c) for c in curies], "c string")
    got = dict(df.select("c", expand_iri("c")).collect())
    assert got == {
        **{f"{p}:x": f"{base}x" for p, base in NAMESPACES.items()},
        "foaf:x": "foaf:x",  # not an emitted namespace: passes through
        "x": "x",
        None: None,
    }

"""K3 parity sink: a SemanticSQL-shaped SQLite ``statements`` database.

The reference shells out to dockerized semsql to load its OWL into SQLite
(``omop2owl_vocab.py:115-153``); the queryable artifact is a
``statements(stanza, subject, predicate, object, value, datatype,
language)`` triple table (plus a ``prefix`` table).  Here the engine's
triple DataFrame is streamed into the same shape directly — no OWL, no
docker — so reference users keep their downstream SQL/oaklib habits.

Driver-side by necessity (SQLite is a single-writer embedded file), so the
sink is bounded: it streams via ``toLocalIterator`` (no full collect) and
refuses above ``max_rows``.  At 100 TB the queryable artifact is the
partitioned Parquet/Iceberg table; this sink exists for compat-scale
outputs and spot-checking.
"""

from __future__ import annotations

import os
import sqlite3

from pyspark.sql import DataFrame

_BATCH = 10_000


def write_semsql_sqlite(
    triples: DataFrame,
    path: str,
    max_rows: int = 5_000_000,
) -> int:
    """Write ``statements`` + ``prefix`` tables (the bundled prefix map);
    returns row count.

    Single pass over the plan: rows are counted while streaming (a separate
    guard ``count()`` would execute the whole upstream DAG twice); crossing
    ``max_rows`` aborts and raises.  The database is built at a temp path
    and renamed into place only on success, so a failed rewrite never
    destroys a pre-existing valid artifact."""
    tmp_path = path + ".tmp"
    if os.path.exists(tmp_path):
        os.remove(tmp_path)
    n = 0
    con = sqlite3.connect(tmp_path)
    try:
        con.execute(
            "CREATE TABLE statements (stanza TEXT, subject TEXT, "
            "predicate TEXT, object TEXT, value TEXT, datatype TEXT, "
            "language TEXT)"
        )
        con.execute("CREATE TABLE prefix (prefix TEXT, base TEXT)")
        # reference parity: its .db prefix table carries the full
        # bundled prefixes.csv (~235 rows) + the hardcoded pair
        # (omop2owl_vocab.py:123,126,137) — a downstream tool
        # expanding foreign CURIEs through this table expects them.
        from omop2owl_vocab_spark.sources.prefixes import default_prefix_map

        con.executemany(
            "INSERT INTO prefix VALUES (?, ?)",
            sorted(default_prefix_map().items()),
        )
        batch = []
        cols = triples.select(
            "subj", "pred", "obj", "obj_is_literal"
        ).toLocalIterator()
        for r in cols:
            n += 1
            if n > max_rows:
                raise ValueError(
                    f"triple count exceeds the SQLite sink bound "
                    f"({max_rows}); use the partitioned parquet/Iceberg "
                    "output at this scale"
                )
            if r["obj_is_literal"]:
                row = (r["subj"], r["subj"], r["pred"], None, r["obj"],
                       "xsd:string", None)
            else:
                row = (r["subj"], r["subj"], r["pred"], r["obj"], None,
                       None, None)
            batch.append(row)
            if len(batch) >= _BATCH:
                con.executemany(
                    "INSERT INTO statements VALUES (?,?,?,?,?,?,?)", batch
                )
                batch.clear()
        if batch:
            con.executemany(
                "INSERT INTO statements VALUES (?,?,?,?,?,?,?)", batch
            )
        con.execute(
            "CREATE INDEX statements_subject_ix ON statements(subject)"
        )
        con.execute(
            "CREATE INDEX statements_predicate_ix ON statements(predicate)"
        )
        con.commit()
    except Exception:
        con.close()
        if os.path.exists(tmp_path):
            os.remove(tmp_path)
        raise
    finally:
        con.close()
    os.replace(tmp_path, path)
    return n

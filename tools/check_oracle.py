"""Local stand-in for the driver's correctness gate: run every
``__spark_entry__.queries()`` entry and its ``oracle_sql()`` twin on the
same sf dir, compare row count, column names, and an order-insensitive
value hash (rows stringified, column-name-sorted, then sorted + md5).

The sf dir is ``main``'s ``sf_dir``, else ``$SPARK_GRAFT_SF_DIR``, else
the sf0.01 test data; the session is ``get_spark``'s
``local[$SPARK_GRAFT_CPUS]``::

    SPARK_GRAFT_SF_DIR=<testdata>/sf0.001 python tools/check_oracle.py

Each query (build plus collect) runs in a Spark job group of its own,
and the number of Spark jobs it launched is printed in its line and
recorded as ``jobs`` in the ``--json`` record.  That count is not fixed
for every query: ``dd_groups`` at sf0.001 reads 37 or 38 jobs from one
run of the same code to the next, alone or inside the full run.  To
compare a touched query's jobs between two commits, run it alone at
both, more than once."""

from __future__ import annotations

import hashlib
import os
import sys
import uuid
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entry_mod  # noqa: E402
from omop2owl_vocab_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _canon(v):
    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, list):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def value_hash(cols, rows) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(_canon(r[i]) for i in order) for r in rows
    )
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def _run_counted(spark, name: str, run):
    """(result of ``run()``, Spark jobs it launched), counted in a job
    group named after the query and unique to this call: the status
    tracker keeps every retained job of a group, so a reused group would
    count earlier calls' jobs too."""
    sc = spark.sparkContext
    group = f"oracle-{name}-{uuid.uuid4().hex}"
    sc.setJobGroup(group, name)
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        # the status store is fed by the listener bus asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def main(
    sf_dir: str | None = None,
    only: list[str] | None = None,
    json_out: str | None = None,
):
    sf_dir = sf_dir or os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"
    )
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue

        def run():
            df = fn(spark, sf_dir)
            return df.columns, [tuple(r) for r in df.collect()]

        try:
            (cols, rows), jobs = _run_counted(spark, name, run)
        except Exception as e:
            failures.append(name)
            results[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": None, "oracle_rows": None,
                "err": f"spark error {type(e).__name__}: {e}",
            }
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            results[name] = {
                "rows_match": None, "schema_match": None, "hash_match": None,
                "spark_rows": len(rows), "oracle_rows": None, "jobs": jobs,
                "err": "rows-only (no oracle)",
            }
            print(f"rows-only  {name}: {len(rows)} rows, jobs {jobs}, cols={cols}")
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = list(rel.columns)
            otypes = [str(t) for t in rel.types]
            orows = rel.fetchall()
            # Mirror the DRIVER's canonicalizer for the one dtype where
            # fetchall() and pandas disagree: DuckDB HUGEINT reaches
            # pandas as float64 (the r5 q_cumulative_distinct red row),
            # while fetchall() yields Python ints.  Canonicalizing
            # HUGEINT columns through float keeps this harness at least
            # as strict as the driver's pandas-based one.
            hug = [i for i, t in enumerate(otypes) if t in ("HUGEINT", "UHUGEINT")]
            if hug:
                orows = [
                    tuple(
                        float(v) if i in hug and v is not None else v
                        for i, v in enumerate(r)
                    )
                    for r in orows
                ]
        except Exception as e:
            failures.append(name)
            results[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": len(rows),
                "oracle_rows": None, "jobs": jobs, "err": f"duckdb error {e}",
            }
            print(f"FAIL  {name}: duckdb error {e}")
            continue
        ok_n = len(rows) == len(orows)
        ok_c = sorted(cols) == sorted(ocols)
        ok_h = ok_c and value_hash(cols, rows) == value_hash(ocols, orows)
        results[name] = {
            "rows_match": ok_n, "schema_match": ok_c, "hash_match": ok_h,
            "spark_rows": len(rows), "oracle_rows": len(orows), "jobs": jobs,
            "err": None,
        }
        status = "OK   " if (ok_n and ok_c and ok_h) else "FAIL "
        if status.startswith("FAIL"):
            failures.append(name)
        print(
            f"{status} {name}: rows {len(rows)}/{len(orows)} jobs {jobs} "
            f"cols={'=' if ok_c else f'{sorted(cols)} vs {sorted(ocols)}'} "
            f"hash={'=' if ok_h else 'MISMATCH'}"
        )
        if not ok_h and ok_c and ok_n and len(rows) < 100000:
            eng = {tuple(_canon(v) for v in r) for r in rows}

            def remap(r):
                m = dict(zip(ocols, r))
                return tuple(_canon(m[c]) for c in cols)

            orc = {remap(r) for r in orows}
            diff1 = list(eng - orc)[:3]
            diff2 = list(orc - eng)[:3]
            print(f"      engine-only: {diff1}")
            print(f"      oracle-only: {diff2}")
    print("\nFAILURES:", failures or "none")
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump(results, f, indent=1)
        print(f"wrote {json_out} ({len(results)} queries)")
    return 1 if failures else 0


if __name__ == "__main__":
    only = None
    json_out = None
    args = sys.argv[1:]
    while args:
        a = args.pop(0)
        if a == "--json":
            if not args:
                raise SystemExit("usage: check_oracle.py [name,name,...] [--json OUT.json]")
            json_out = args.pop(0)
        elif a.startswith("-"):
            raise SystemExit(f"unknown flag {a!r}; names are positional (comma-separated)")
        elif only is not None:
            raise SystemExit("pass query names as ONE comma-separated positional")
        else:
            only = a.split(",")
    raise SystemExit(main(only=only, json_out=json_out))

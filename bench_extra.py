"""Round-6 optimization harness (guide §1.4): time individual declared
queries with the noop sink, isolated from the full-suite sweep, and dump
their ``explain("formatted")`` plans.

This file is NOT part of the frozen driver contract (``bench.py`` is);
it exists so per-change before/after numbers in OPTIMIZATION_r06.md come
from a repeatable command:

    python bench_extra.py q1 q2 ...            # time queries (3 reps, median)
    python bench_extra.py --reps 5 q1          # more reps
    python bench_extra.py --plan q1            # print explain(formatted)
    python bench_extra.py --plan-dir plans/r06 --suffix before q1

Session config matches bench.py (same master, package session defaults)
so the numbers are comparable with BENCH_FULL_LOCAL.json medians.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from omop2owl_vocab_spark.session import get_spark  # noqa: E402


def _median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def main() -> None:
    args = sys.argv[1:]
    reps = 3
    plan_only = False
    plan_dir = None
    suffix = "plan"
    names = []
    while args:
        a = args.pop(0)
        if a == "--reps":
            reps = int(args.pop(0))
        elif a == "--plan":
            plan_only = True
        elif a == "--plan-dir":
            plan_dir = args.pop(0)
        elif a == "--suffix":
            suffix = args.pop(0)
        else:
            names.append(a)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
    )
    spark = get_spark("bench-extra", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        sys.exit(2)

    if plan_only or plan_dir:
        for n in names:
            df = qs[n](spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            if plan_dir:
                os.makedirs(plan_dir, exist_ok=True)
                path = os.path.join(plan_dir, f"{n}_{suffix}.txt")
                with open(path, "w") as f:
                    f.write(txt)
                print(f"wrote {path}")
            else:
                print(f"===== {n} =====\n{txt}")
        if plan_only:
            return

    # warmup (codegen/Arrow), mirroring bench.py
    spark.read.parquet(f"{sf_dir}/nation.parquet").selectExpr(
        "sha2(cast(n_nationkey as string), 256) as h"
    ).write.format("noop").mode("overwrite").save()

    out = {}
    for _ in range(reps):
        for n in names:
            spark.sparkContext.setJobDescription(f"bench_extra:{n}")
            t0 = time.monotonic()
            qs[n](spark, sf_dir).write.format("noop").mode("overwrite").save()
            out.setdefault(n, []).append(round(time.monotonic() - t0, 3))
            spark.sparkContext.setJobDescription(None)
    print(
        json.dumps(
            {
                n: {"median": round(_median(xs), 3), "samples": xs}
                for n, xs in out.items()
            },
            indent=1,
        )
    )


if __name__ == "__main__":
    main()

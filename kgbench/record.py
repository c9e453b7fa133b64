"""Record ``pipeline_cold``'s output (row count and order-insensitive triple
digest) for a range of seeds into ``kgbench/expected.json``; the benchmark's
correctness check compares each run against the recorded seed.

    python3 kgbench/record.py 0 40      # seeds 0..40 inclusive

Re-record only when a change is meant to alter the pipeline's output.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(first: int, last: int) -> None:
    sys.path.insert(0, ROOT)
    from kgbench.run import WORK, _isolate_temp, _stop_jvm
    from kgbench.workloads import EXPECTED_PATH, Pipeline, load_expected
    from omop2owl_vocab_spark.session import get_spark

    work = os.path.join(WORK, "record")
    shutil.rmtree(work, ignore_errors=True)
    _isolate_temp(work)
    spark = get_spark("kgbench-record", master=f"local[{len(os.sched_getaffinity(0))}]")
    spark.sparkContext.setLogLevel("ERROR")
    rec = load_expected()
    entry = rec.setdefault("pipeline_cold", {})
    if entry.get("n_rows") != Pipeline.n_rows:
        entry.clear()
        entry["n_rows"] = Pipeline.n_rows
    seeds = entry.setdefault("seeds", {})
    try:
        for seed in range(first, last + 1):
            w = Pipeline(work, seed)
            w.setup(spark)
            w.before_pass()
            w.run_pass(spark, None)
            n, digest = w.triples_digest(spark)
            seeds[str(seed)] = {"rows_out": n, "digest": digest}
            print(seed, n, digest, flush=True)
    finally:
        _stop_jvm(spark)
        entry["seeds"] = dict(sorted(seeds.items(), key=lambda kv: int(kv[0])))
        with open(EXPECTED_PATH, "w") as f:
            json.dump(rec, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main(int(sys.argv[1]), int(sys.argv[2]))

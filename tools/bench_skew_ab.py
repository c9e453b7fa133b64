"""Skew A/B for the compact output layout on a pathological
one-giant-vocab corpus.

Corpus: ``synth_code_files`` with ``lang_cuts=(90, 92, 94, 96, 98)`` —
~90% of rows in one vocabulary (the SNOMED analog at its worst).  Every
variant runs the identical pipeline with ``compact_output=True``; only
the final layout differs, swapped in for ``pipeline._salted_repartition``
(each variant gets the s3 per-vocab lineage and ``defaultParallelism``):

* ``derived``  — the package's own layout (what ``compact_output`` runs);
* ``salt16``   — the earlier fixed layout at its defaults: vocabs of at
  least 5M rows over 16 hash salt buckets (BENCH.md, round 5);
* ``unsalted`` — ``repartition(vocabulary_id)``: one task per vocab.

Upstream stages are checkpointed once and reused, so each measured run
is exactly the contended path: canon rewrite → layout shuffle →
partitioned parquet write.  Runs are interleaved for noise control.  Per
run we record wall, the output file count (in all and of the giant
vocab), and — via the Spark UI REST API (`tools/spark_ui.py`) — the
task-duration min/median/max of the write stage (the layout's reduce
side) and of the stage holding the run's longest task (the number the
layout exists to bound).

Usage: ``python tools/bench_skew_ab.py`` from the repo root; env
``SKEW_N`` (rows, default 1M), ``SKEW_ROUNDS`` (3), ``SKEW_ROOT`` (work
dir).  Output: one JSON line per run + ``BENCH_SKEW_LAYOUT.json``.
``BENCH_SKEW_AB.json`` holds the round-5 run of the earlier fixed-knob
version of this driver (4M rows at local[32]).
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import shutil
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from omop2owl_vocab_spark.plans import pipeline  # noqa: E402
from omop2owl_vocab_spark.session import get_spark  # noqa: E402
from omop2owl_vocab_spark.sources.synth import synth_code_files  # noqa: E402
from tools.spark_ui import StageStats  # noqa: E402

N_ROWS = int(os.environ.get("SKEW_N", 1_000_000))
ROUNDS = int(os.environ.get("SKEW_ROUNDS", 3))
ROOT = os.environ.get("SKEW_ROOT", "/tmp/skew_ab")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


def _salt16(triples, counts, parallelism):
    """The layout before the derived sizing, at its defaults: vocabs of at
    least 5M rows over 16 salt buckets, every other vocab in one task."""
    big = [v for v, n in counts.items() if n >= 5_000_000]
    salt = F.when(
        F.col("vocabulary_id").isin(big), F.pmod(F.xxhash64("subj"), F.lit(16))
    ).otherwise(F.lit(0))
    n_parts = max(len(counts), 1) + len(big) * 15
    return triples.repartition(n_parts, F.col("vocabulary_id"), salt)


VARIANTS = {
    "derived": pipeline._salted_repartition,
    "salt16": _salt16,
    "unsalted": lambda triples, counts, parallelism: triples.repartition(
        F.col("vocabulary_id")
    ),
}


def _new_stage_stats(before: set[int]) -> dict:
    """Task-duration distribution of stages completed since ``before``:
    the straggler stage (the one with the longest single task) and the
    write stage (the last one: the layout's reduce side)."""
    stats = UI.completed_since(before)
    worst = max(stats, key=lambda t: t["task_ms_max"])
    return {
        "max_task_ms": worst["task_ms_max"],
        "straggler": worst,
        "write_stage": max(stats, key=lambda t: t["stage_id"]),
    }


def _cfg() -> pipeline.PipelineConfig:
    return pipeline.PipelineConfig(
        source=f"{ROOT}/src", output_dir=f"{ROOT}/out", compact_output=True
    )


def _measured_run(variant: str) -> dict:
    out_dir = f"{ROOT}/out"
    shutil.rmtree(f"{out_dir}/triples", ignore_errors=True)
    try:
        os.remove(f"{out_dir}/_manifest.json")
    except OSError:
        pass
    pipeline._salted_repartition = VARIANTS[variant]
    before = UI.stage_ids()
    t0 = time.monotonic()
    pipeline.run_pipeline(spark, _cfg())
    wall = time.monotonic() - t0
    stats = _new_stage_stats(before)
    files = glob.glob(f"{out_dir}/triples/vocabulary_id=*/*.parquet")
    big = max(
        glob.glob(f"{out_dir}/triples/vocabulary_id=*"),
        key=lambda d: sum(os.path.getsize(f"{d}/{f}") for f in os.listdir(d)),
    )
    return {
        "variant": variant,
        "wall_sec": round(wall, 2),
        "out_files": len(files),
        "giant_vocab_files": len(glob.glob(f"{big}/*.parquet")),
        **stats,
    }


if __name__ == "__main__":
    spark = get_spark(
        "skew-ab",
        master=f"local[{CPUS}]",
        extra_conf={"spark.ui.enabled": "true"},
    )
    UI = StageStats(spark)

    if not os.path.exists(f"{ROOT}/src/_SUCCESS"):
        shutil.rmtree(ROOT, ignore_errors=True)
        synth_code_files(
            spark, N_ROWS, lang_cuts=(90, 92, 94, 96, 98)
        ).write.parquet(f"{ROOT}/src")
    skew = {
        r["lang"]: r["count"]
        for r in spark.read.parquet(f"{ROOT}/src").groupBy("lang").count().collect()
    }
    print("lang skew:", skew)

    # prime the checkpoints (uncounted) so measured runs are layout-only
    pipeline.run_pipeline(spark, _cfg())

    names = list(VARIANTS)
    runs = []
    for i in range(ROUNDS):
        # rotate the order each round so no variant always runs first
        for v in names[i % len(names):] + names[: i % len(names)]:
            r = _measured_run(v)
            print(json.dumps(r), flush=True)
            runs.append(r)

    result = {"n_rows": N_ROWS, "cpus": int(CPUS), "rounds": ROUNDS,
              "lang_skew": skew, "runs": runs}
    for v in names:
        vs = [r for r in runs if r["variant"] == v]
        result[v] = {
            "wall_sec_median": round(statistics.median(r["wall_sec"] for r in vs), 2),
            "max_task_ms_median": round(
                statistics.median(r["max_task_ms"] for r in vs)
            ),
            "write_task_ms_max_median": round(
                statistics.median(r["write_stage"]["task_ms_max"] for r in vs)
            ),
            "out_files": vs[0]["out_files"],
            "giant_vocab_files": vs[0]["giant_vocab_files"],
            "straggler": vs[0]["straggler"],
            "write_stage": vs[0]["write_stage"],
        }
    result["generated"] = dt.datetime.now(dt.timezone.utc).isoformat()
    with open(os.path.join(REPO, "BENCH_SKEW_LAYOUT.json"), "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps({k: v for k, v in result.items() if k != "runs"}))

"""Skew proof for the salted final layout (r4 verdict #5): salted vs
unsalted A/B on a pathological one-giant-vocab corpus.

Corpus: ``synth_code_files`` with ``lang_cuts=(90, 92, 94, 96, 98)`` —
~90% of rows in one vocabulary (the SNOMED analog at its worst).  Both
variants run the identical pipeline with ``compact_output=True``; the
ONLY difference is ``salt_threshold_rows`` (200k → the giant vocab is
salted over ``salt_buckets=16`` hash buckets, vs 10^15 → salting off).
Upstream stages are checkpointed once and reused, so each measured run
is exactly the contended path: canon rewrite → repartition(vocab, salt)
→ partitioned parquet write.

Runs are interleaved (U,S,U,S,...) for noise control.  Per run we record
wall, output file count, and — via the Spark UI REST API — the straggler
stage's task-duration min/median/max and the max single-task time across
all new stages: the number salting exists to bound.

Output: one JSON line + BENCH_SKEW_AB.json.
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
import urllib.request

sys.path.insert(0, "/root/repo")

from omop2owl_vocab_spark.plans.pipeline import (  # noqa: E402
    PipelineConfig,
    run_pipeline,
)
from omop2owl_vocab_spark.session import get_spark  # noqa: E402
from omop2owl_vocab_spark.sources.synth import synth_code_files  # noqa: E402

N_ROWS = int(os.environ.get("SKEW_N", 4_000_000))
ROUNDS = int(os.environ.get("SKEW_ROUNDS", 3))
ROOT = os.environ.get("SKEW_ROOT", "/dev/shm/skew_ab")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
UI = "http://localhost:4040/api/v1"


def _rest(path: str):
    with urllib.request.urlopen(UI + path, timeout=10) as r:
        return json.load(r)


def _stage_ids() -> set[int]:
    return {s["stageId"] for s in _rest(f"/applications/{APP}/stages")}


def _new_stage_stats(before: set[int]) -> dict:
    """Task-duration distribution of stages completed since ``before``;
    straggler = the stage containing the longest single task."""
    worst = None
    max_task_ms = 0.0
    for s in _rest(f"/applications/{APP}/stages?status=complete"):
        if s["stageId"] in before:
            continue
        try:
            ts = _rest(
                f"/applications/{APP}/stages/{s['stageId']}/0/taskSummary"
                "?quantiles=0.0,0.5,1.0"
            )
        except Exception:
            continue
        dur = ts.get("duration") or [0, 0, 0]
        if dur[2] > max_task_ms:
            max_task_ms = dur[2]
            worst = {
                "stage": s["name"].split("\n")[0][:80],
                "num_tasks": s["numTasks"],
                "task_ms_min": round(dur[0]),
                "task_ms_med": round(dur[1]),
                "task_ms_max": round(dur[2]),
            }
    return {"max_task_ms": round(max_task_ms), "straggler": worst}


def _cfg(variant: str) -> PipelineConfig:
    return PipelineConfig(
        source=f"{ROOT}/src",
        output_dir=f"{ROOT}/out_{variant}",
        compact_output=True,
        salt_threshold_rows=200_000 if variant == "salted" else 10**15,
        salt_buckets=16,
    )


def _measured_run(variant: str) -> dict:
    out_dir = f"{ROOT}/out_{variant}"
    shutil.rmtree(f"{out_dir}/triples", ignore_errors=True)
    try:
        os.remove(f"{out_dir}/_manifest.json")
    except OSError:
        pass
    before = _stage_ids()
    t0 = time.monotonic()
    run_pipeline(spark, _cfg(variant))
    wall = time.monotonic() - t0
    stats = _new_stage_stats(before)
    files = glob.glob(f"{out_dir}/triples/vocabulary_id=*/*.parquet")
    return {
        "variant": variant,
        "wall_sec": round(wall, 2),
        "out_files": len(files),
        **stats,
    }


if __name__ == "__main__":
    spark = get_spark(
        "skew-ab",
        master=f"local[{CPUS}]",
        extra_conf={"spark.ui.enabled": "true"},
    )
    APP = _rest("/applications")[0]["id"]

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

    # prime checkpoints (uncounted) so measured runs are layout-only
    for v in ("unsalted", "salted"):
        run_pipeline(spark, _cfg(v))

    runs = []
    for i in range(ROUNDS):
        for v in ("unsalted", "salted"):  # interleaved
            r = _measured_run(v)
            print(json.dumps(r))
            runs.append(r)

    result = {"n_rows": N_ROWS, "cpus": int(CPUS), "rounds": ROUNDS,
              "lang_skew": skew, "runs": runs}
    for v in ("unsalted", "salted"):
        vs = [r for r in runs if r["variant"] == v]
        result[v] = {
            "wall_sec_median": round(statistics.median(r["wall_sec"] for r in vs), 2),
            "max_task_ms_median": round(
                statistics.median(r["max_task_ms"] for r in vs)
            ),
            "out_files": vs[0]["out_files"],
            "straggler": vs[0]["straggler"],
        }
    result["max_task_ratio"] = round(
        result["unsalted"]["max_task_ms_median"]
        / max(result["salted"]["max_task_ms_median"], 1),
        2,
    )
    result["generated"] = dt.datetime.now(dt.timezone.utc).isoformat()
    with open("/root/repo/BENCH_SKEW_AB.json", "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps({k: v for k, v in result.items() if k != "runs"}))

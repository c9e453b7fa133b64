"""Skew pin for the S3 EMISSION edge join (r5 verdict #7): on the same
pathological ~90%-one-vocab corpus as the salted-layout A/B in
`BENCH_SKEW_AB.json` (``lang_cuts=(90, 92, 94, 96, 98)``), measure the
emission stage's task-duration distribution with bucketed s1 checkpoints
on, and report the straggler max/median ratio.

Why this should hold without salting: the emission membership join is
keyed on ``concept_id`` (uniform by construction), not on the skewed
``vocabulary_id`` — vocab skew changes VALUES riding the rows, not the
join-key distribution — and with ``bucket_count`` the join is co-located
(no exchange to skew at all).  This run turns that argument into a
number: a pin that no task in the emission stage runs longer than 4x the
stage median.

Usage: ``python tools/bench_skew_s3.py``; writes BENCH_SKEW_S3.json and
prints one JSON line.  Env: SKEW_N rows (default 2M), SKEW_ROOT.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import sys
import time
import urllib.request

sys.path.insert(0, "/root/repo")

from omop2owl_vocab_spark.operators.emit import emit_triples  # noqa: E402
from omop2owl_vocab_spark.plans.checkpoint import CheckpointManager  # noqa: E402
from omop2owl_vocab_spark.plans.pipeline import PipelineConfig, _load_inputs  # noqa: E402
from omop2owl_vocab_spark.session import get_spark  # noqa: E402
from omop2owl_vocab_spark.sources.synth import synth_code_files  # noqa: E402

N_ROWS = int(os.environ.get("SKEW_N", 2_000_000))
ROUNDS = int(os.environ.get("SKEW_ROUNDS", 3))
ROOT = os.environ.get("SKEW_ROOT", "/dev/shm/skew_s3")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
UI = "http://localhost:4040/api/v1"


def _rest(path: str):
    with urllib.request.urlopen(UI + path, timeout=10) as r:
        return json.load(r)


def _stage_ids() -> set[int]:
    return {s["stageId"] for s in _rest(f"/applications/{APP}/stages")}


def _new_stage_stats(before: set[int]) -> dict:
    worst = None
    max_task_ms = 0.0
    worst_ratio = 0.0
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
        # straggler ratio only meaningful for parallel stages with real work
        if s["numTasks"] >= 4 and dur[1] >= 50:
            ratio = dur[2] / max(dur[1], 1.0)
            if ratio > worst_ratio:
                worst_ratio = ratio
        if dur[2] > max_task_ms:
            max_task_ms = dur[2]
            worst = {
                "stage": s["name"].split("\n")[0][:80],
                "num_tasks": s["numTasks"],
                "task_ms_min": round(dur[0]),
                "task_ms_med": round(dur[1]),
                "task_ms_max": round(dur[2]),
            }
    return {
        "max_task_ms": round(max_task_ms),
        "worst_max_over_med": round(worst_ratio, 2),
        "straggler": worst,
    }


if __name__ == "__main__":
    spark = get_spark(
        "skew-s3",
        master=f"local[{CPUS}]",
        extra_conf={"spark.ui.enabled": "true"},
    )
    spark.sparkContext.setLogLevel("ERROR")
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

    cfg = PipelineConfig(
        source=f"{ROOT}/src", output_dir=f"{ROOT}/out", bucket_count=32
    )
    ckpt_s1 = CheckpointManager(os.path.join(cfg.output_dir, "ckpt"), cfg.key_s1())
    concepts, edges = _load_inputs(spark, cfg, ckpt_s1)  # primes s1 (uncounted)

    # one uncounted warmup: the first emission pays whole-stage codegen
    # compilation inside one task (measured 7.9 s vs 0.6 s warm for the
    # same partition), which would read as data skew when it is JIT
    emit_triples(
        concepts, edges, relationships=cfg.relationships, dedupe=False
    ).write.format("noop").mode("overwrite").save()

    runs = []
    for _ in range(ROUNDS):
        before = _stage_ids()
        t0 = time.monotonic()
        emit_triples(
            concepts, edges, relationships=cfg.relationships, dedupe=False
        ).write.format("noop").mode("overwrite").save()
        wall = time.monotonic() - t0
        runs.append({"wall_sec": round(wall, 2), **_new_stage_stats(before)})

    out = {
        "n_rows": N_ROWS,
        "cpus": int(CPUS),
        "bucket_count": 32,
        "lang_skew": skew,
        "runs": runs,
        "max_over_med_worst": max(r["worst_max_over_med"] for r in runs),
        "date": dt.date.today().isoformat(),
    }
    with open("/root/repo/BENCH_SKEW_S3.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({
        "metric": "s3_skew_max_over_med",
        "value": out["max_over_med_worst"],
        "walls": [r["wall_sec"] for r in runs],
    }))

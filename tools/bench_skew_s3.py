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

Usage: ``python tools/bench_skew_s3.py``; writes BENCH_SKEW_S3.json at
the repo root and prints one JSON line.  Env: SKEW_N rows (default 2M),
SKEW_ROOT.  Task durations come from the session's own UI REST API
(`tools/spark_ui.py`).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from omop2owl_vocab_spark.operators.emit import emit_triples  # noqa: E402
from omop2owl_vocab_spark.plans.checkpoint import CheckpointManager  # noqa: E402
from omop2owl_vocab_spark.plans.pipeline import PipelineConfig, _load_inputs  # noqa: E402
from omop2owl_vocab_spark.session import get_spark  # noqa: E402
from omop2owl_vocab_spark.sources.synth import synth_code_files  # noqa: E402
from tools.spark_ui import StageStats  # noqa: E402

N_ROWS = int(os.environ.get("SKEW_N", 2_000_000))
ROUNDS = int(os.environ.get("SKEW_ROUNDS", 3))
ROOT = os.environ.get("SKEW_ROOT", "/dev/shm/skew_s3")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


def _new_stage_stats(ui: StageStats, before: set[int]) -> dict:
    stats = ui.completed_since(before)
    # straggler ratio only meaningful for parallel stages with real work
    ratios = [
        t["task_ms_max"] / max(t["task_ms_med"], 1)
        for t in stats
        if t["num_tasks"] >= 4 and t["task_ms_med"] >= 50
    ]
    worst = max(stats, key=lambda t: t["task_ms_max"], default=None)
    return {
        "max_task_ms": worst["task_ms_max"] if worst else 0,
        "worst_max_over_med": round(max(ratios, default=0.0), 2),
        "straggler": worst,
    }


if __name__ == "__main__":
    spark = get_spark(
        "skew-s3",
        master=f"local[{CPUS}]",
        extra_conf={"spark.ui.enabled": "true"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    ui = StageStats(spark)

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
        before = ui.stage_ids()
        t0 = time.monotonic()
        emit_triples(
            concepts, edges, relationships=cfg.relationships, dedupe=False
        ).write.format("noop").mode("overwrite").save()
        wall = time.monotonic() - t0
        stats = _new_stage_stats(ui, before)
        runs.append({"wall_sec": round(wall, 2), **stats})

    out = {
        "n_rows": N_ROWS,
        "cpus": int(CPUS),
        "bucket_count": 32,
        "lang_skew": skew,
        "runs": runs,
        "max_over_med_worst": max(r["worst_max_over_med"] for r in runs),
        "date": dt.date.today().isoformat(),
    }
    with open(os.path.join(REPO, "BENCH_SKEW_S3.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({
        "metric": "s3_skew_max_over_med",
        "value": out["max_over_med_worst"],
        "walls": [r["wall_sec"] for r in runs],
    }))

"""Benchmark harness (driver contract + north-rule metric).

Runs every ``__spark_entry__.queries()`` entry at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``, plus the
full KG pipeline end-to-end (synthetic code_files → triples) reporting
triples/sec — the BASELINE.json headline metric.  ``$SPARK_GRAFT_CPUS``
defaults to the number of CPUs this process may run on.

Noise discipline (r3 verdict #2): the whole suite is swept
``$SPARK_GRAFT_BENCH_REPS`` times (default 3) in INTERLEAVED rounds —
query A's k-th sample lands in the same time window as query B's k-th
sample, so a host-load burst hits one round of everything rather than
all samples of one query.  Reported per-query time is the MEDIAN across
rounds; ``noise_pct`` carries the per-query (max−min)/median spread so
round-over-round deltas can be read against measured variance instead of
guessed (this VM has shown ±30–40 % single-shot swings).

Prints two JSON lines.  The first holds every query's median,
``{"queries": {name: median sec, ...}}``, so no query drops out of
stdout.  The LAST is one compact line (kept < ~1.9 kB so a reader that
keeps only the tail of stdout gets it whole — the r4 line with inline
noise_pct outgrew the window and was archived unparsed; past that size
its query list keeps the 40 slowest):
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: median sec, ...}, "sf": ..., "pipeline": {...}}
The full record (per-query noise_pct, reps) is written to
``BENCH_FULL_LOCAL.json`` beside this file.

Execution is forced with the noop data source (full computation, no
driver-side collect overhead).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from omop2owl_vocab_spark.plans.pipeline import PipelineConfig, run_pipeline  # noqa: E402
from omop2owl_vocab_spark.session import get_spark  # noqa: E402
from omop2owl_vocab_spark.sources.synth import synth_code_files  # noqa: E402

PIPELINE_ROWS = int(os.environ.get("SPARK_GRAFT_PIPELINE_ROWS", "100000"))
REPS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
    )
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0
    spark = get_spark("bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    # JVM/codegen/Arrow warmup so the first timed query isn't charged for it
    _force(
        spark.read.parquet(f"{sf_dir}/nation.parquet").selectExpr(
            "sha2(cast(n_nationkey as string), 256) as h"
        )
    )

    samples: dict[str, list[float]] = {}
    for _rep in range(REPS):
        for name, fn in entry_mod.queries().items():
            t0 = time.monotonic()
            _force(fn(spark, sf_dir))
            samples.setdefault(name, []).append(time.monotonic() - t0)
    # median over ALL rounds (robust to the round-1 codegen warmup, which
    # lands at the max); noise over rounds 2..N only, so the spread reads
    # steady-state host variance, not first-use plan compilation
    per_query = {n: round(_median(xs), 3) for n, xs in samples.items()}

    def _spread(xs: list[float]) -> float:
        # rounds 2..N ONLY — round 1 carries first-use codegen, which must
        # never be reported as host noise; with <3 reps there is at most
        # one steady-state sample, so the spread is undefined → 0.0
        ss = xs[1:]
        return (
            round(100 * (max(ss) - min(ss)) / _median(xs), 1)
            if len(ss) > 1
            else 0.0
        )

    noise_pct = {n: _spread(xs) for n, xs in samples.items()}

    # end-to-end pipeline: code_files → triples (the north-rule metric);
    # tmpfs when available — a single local disk is the sandbox artifact,
    # not the modeled storage layer (see BENCH.md)
    work_root = "/dev/shm" if os.path.isdir("/dev/shm") else None
    warm = tempfile.mkdtemp(prefix="bench_warm_", dir=work_root)
    try:
        # JIT the pipeline plans on a tiny input so the timed run measures
        # the pipeline, not first-use codegen
        wsrc = os.path.join(warm, "code_files")
        synth_code_files(spark, 2000).write.parquet(wsrc)
        run_pipeline(
            spark,
            PipelineConfig(
                source=wsrc, output_dir=os.path.join(warm, "out"), resume=False
            ),
        )
    finally:
        shutil.rmtree(warm, ignore_errors=True)
    work = tempfile.mkdtemp(prefix="bench_pipeline_", dir=work_root)
    try:
        src = os.path.join(work, "code_files")
        synth_code_files(spark, PIPELINE_ROWS).write.mode("overwrite").parquet(src)
        pipe_samples = []
        for rep in range(REPS):
            out = os.path.join(work, f"out{rep}")
            cfg = PipelineConfig(source=src, output_dir=out, resume=False)
            t0 = time.monotonic()
            run_pipeline(spark, cfg)
            pipe_samples.append(time.monotonic() - t0)
            if rep < REPS - 1:
                shutil.rmtree(out, ignore_errors=True)
        pipeline_sec = _median(pipe_samples)
        n_triples = spark.read.parquet(
            os.path.join(work, f"out{REPS - 1}", "triples")
        ).count()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    per_query["pipeline_e2e"] = round(pipeline_sec, 3)
    noise_pct["pipeline_e2e"] = _spread(pipe_samples)
    total = round(sum(per_query.values()), 3)
    pipeline = {
        "rows_in": PIPELINE_ROWS,
        "triples_out": n_triples,
        "sec": round(pipeline_sec, 3),
        "triples_per_sec": round(n_triples / pipeline_sec, 1),
    }
    # full record (per-query noise, reps) → sidecar file; the driver
    # captures only the last ~2000 bytes of stdout, and the r4 line with
    # noise_pct inline outgrew that window and was recorded unparsed
    # (BENCH_r04.json "parsed": null).  The stdout line stays compact and
    # LAST so the tail window always contains one whole JSON line.
    full = {
        "metric": "bench_total_sec", "value": total, "unit": "sec",
        "queries": per_query, "noise_pct": noise_pct, "reps": REPS,
        "sf": sf, "pipeline": pipeline, "cpus": int(cpus),
    }
    sidecar = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL_LOCAL.json"
    )
    try:
        with open(sidecar, "w") as f:
            json.dump(full, f, indent=1)
    except OSError:
        pass  # read-only checkout: the stdout lines still carry the result
    print(json.dumps({"queries": per_query}, separators=(",", ":")))
    compact = {
        "metric": "bench_total_sec", "value": total, "unit": "sec",
        "queries": {n: round(s, 2) for n, s in per_query.items()},
        "sf": sf, "pipeline": pipeline, "cpus": int(cpus),
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:  # stay inside the driver's tail window
        compact["queries"] = {
            n: round(s, 2)
            for n, s in sorted(
                per_query.items(), key=lambda kv: -kv[1]
            )[:40]
        }
        compact["queries_truncated_to_top"] = 40
        line = json.dumps(compact, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()

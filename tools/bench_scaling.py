"""Scaling efficiency of the whole pipeline from N to 4N cores on one
host: the same job on identical input, run at 1 and then 4 cores by
default (a 4-core host's full range).

- Each measurement runs in a fresh subprocess/JVM, `taskset`-pinned to
  its N cores, so the small run cannot borrow idle cores for GC, shuffle
  or writer threads.
- Inputs, outputs and shuffle dirs live on tmpfs (/dev/shm) where it
  exists, so disk bandwidth does not cap the larger run.
- JVM/codegen warmup on a 100-row slice before the timed section.
- Session settings are the package defaults; only ``spark.local.dir``
  is overridden.

Usage: python tools/bench_scaling.py [rows] [n_cores] [4n_cores] [--json out.json]
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()

_CHILD = r"""
import glob, json, os, shutil, sys, time
sys.path.insert(0, {repo!r})
from omop2owl_vocab_spark.plans.pipeline import PipelineConfig, run_pipeline
from omop2owl_vocab_spark.session import get_spark

cpus = int(sys.argv[1]); src = sys.argv[2]; out = sys.argv[3]
spark = get_spark("scaling", master=f"local[{{cpus}}]",
                  extra_conf={{"spark.local.dir": os.path.join(out, "_sparklocal")}})
spark.sparkContext.setLogLevel("ERROR")
warm = spark.read.parquet(src).limit(100)
warm.count()
t0 = time.monotonic()
report = run_pipeline(spark, PipelineConfig(source=src, output_dir=out, resume=False))
wall = time.monotonic() - t0
n = spark.read.parquet(os.path.join(out, "triples")).count()
stage_walls = {{}}
for m in glob.glob(os.path.join(out, "ckpt", "*", "_metrics.json")):
    d = json.load(open(m))
    stage_walls[d["stage"]] = d["wall_sec"]
print(json.dumps({{"cpus": cpus, "wall_sec": wall, "triples": n,
                   "stage_walls": stage_walls,
                   "cc": report["stages"].get("s4_link", {{}})}}))
"""


def run_at(cpus: int, src: str) -> dict:
    out = tempfile.mkdtemp(prefix=f"scaling_{cpus}_", dir=WORK_ROOT)
    try:
        script = _CHILD.format(repo=REPO)
        cmd = [sys.executable, "-c", script, str(cpus), src, out]
        if shutil.which("taskset"):
            cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=3600)
        if proc.returncode != 0:
            raise RuntimeError(proc.stderr[-2000:])
        return json.loads(proc.stdout.strip().splitlines()[-1])
    finally:
        shutil.rmtree(out, ignore_errors=True)


def main() -> None:
    args = [a for a in sys.argv[1:] if a.isdigit()]
    rows = int(args[0]) if args else 400000
    n_lo = int(args[1]) if len(args) > 1 else 1
    n_hi = int(args[2]) if len(args) > 2 else n_lo * 4
    work = tempfile.mkdtemp(prefix="scaling_src_", dir=WORK_ROOT)
    try:
        gen = subprocess.run(
            [
                sys.executable,
                "-c",
                (
                    f"import sys; sys.path.insert(0, {REPO!r});\n"
                    "from omop2owl_vocab_spark.session import get_spark\n"
                    "from omop2owl_vocab_spark.sources.synth import synth_code_files\n"
                    "s = get_spark('gen')\n"
                    f"synth_code_files(s, {rows}).write.mode('overwrite')"
                    f".parquet({work!r} + '/code_files')\n"
                ),
            ],
            capture_output=True, text=True, timeout=1800,
        )
        if gen.returncode != 0:
            raise RuntimeError(gen.stderr[-2000:])
        src = os.path.join(work, "code_files")

        r_lo = run_at(n_lo, src)
        r_hi = run_at(n_hi, src)
        thr_lo = r_lo["triples"] / r_lo["wall_sec"]
        thr_hi = r_hi["triples"] / r_hi["wall_sec"]
        factor = n_hi / n_lo
        eff = (thr_hi / thr_lo) / factor
        result = {
            "rows": rows,
            f"cores{n_lo}": {
                "wall_sec": round(r_lo["wall_sec"], 2),
                "triples_per_sec": round(thr_lo, 1),
                "stage_walls": r_lo["stage_walls"],
                "cc_rounds": r_lo["cc"].get("rounds"),
            },
            f"cores{n_hi}": {
                "wall_sec": round(r_hi["wall_sec"], 2),
                "triples_per_sec": round(thr_hi, 1),
                "stage_walls": r_hi["stage_walls"],
                "cc_rounds": r_hi["cc"].get("rounds"),
            },
            "triples": r_hi["triples"],
            "scaling_efficiency": round(eff, 3),
        }
        print(json.dumps(result, indent=1))
        if "--json" in sys.argv:
            out_path = sys.argv[sys.argv.index("--json") + 1]
            with open(out_path, "w") as f:
                json.dump(result, f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

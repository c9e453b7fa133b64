"""Benchmark for the KG build and the iterative / dedup operators.

    python3 kgbench/run.py --workload pipeline_cold --seed 1 --seconds 1 --trace 0
    python3 kgbench/run.py --workload all --seed 1      # every workload, one table

Run from the repository root.  One run is one fresh Spark application on
``local[<nproc>]`` with the program's own session defaults (no conf
override in untraced runs):

1. set-up (``setup_s``): session start plus the median of
   ``SETUP_REPEATS`` writes of the inputs;
2. timed passes until ``--seconds`` have elapsed, at least one
   (``wall_s`` is their median; every pass outlasts the default one
   second, so a run times exactly one pass in a fresh JVM, which is what
   a user of the CLI or a fresh job pays);
3. correctness checks, outside the timed region; a failed pass or check
   counts in ``failed`` (printed as ``error_rate``).

Workloads (``kgbench/workloads.py``): ``pipeline_cold`` (inputs generated
from ``--seed``, ``kgbench/gen.py``) and ``operators`` (the graph and
dedup queries on tables of one fixed seed).  End-to-end metrics:
``setup_s``, ``wall_s``, ``rows_out`` (output rows: triples, or the summed
query results) and ``rows_per_s``.

``--trace 1`` repeats the run with an event log and spans around the calls
into each layer, and prints the per-layer metrics, the share of executor
time no layer claimed, and the tracing overhead: traced minus untraced
``wall_s``, the untraced figure being the median of this checkout's
earlier untraced results for the same program source, or else a child run
made first.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  Everything the run writes stays under
``.bench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")

# input writes per run; setup_s takes their median
SETUP_REPEATS = 3

UNITS = {"setup_s": "s", "wall_s": "s", "rows_out": "count", "rows_per_s": "1/s"}


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    for suffix, unit in (("_s", "s"), ("_ms", "ms"), ("bytes", "bytes"),
                         ("_share", "ratio"), ("_ratio", "ratio"),
                         ("occupancy", "ratio"), ("skew", "ratio"),
                         ("yield", "ratio"), ("per_triple", "bytes"),
                         ("_mb", "MB")):
        if name.endswith(suffix):
            return unit
    return "count"


class RssSampler:
    """Peak of the summed resident set of the given processes, sampled
    every 50 ms from /proc while running."""

    def __init__(self, pids: list[int]):
        self.pids, self.peak_kb = pids, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _run(self) -> None:
        while True:
            self.peak_kb = max(self.peak_kb, sum(self._rss_kb(p) for p in self.pids))
            if self._stop.wait(0.05):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs (the ``steal`` column of /proc/stat); 0 where the kernel
    does not report it.  Timed passes that overlap steal run slower."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def _isolate_temp(work: str) -> None:
    """Keep Spark's shuffle/temp files and the JVM's temp dir inside the
    work directory.  Must run before the JVM starts."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    tempfile.tempdir = None


def _stop_jvm(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _git_commit() -> str | None:
    """HEAD of the repository, read from ``.git`` without running git;
    None in a checkout that is not a repository."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        if os.path.exists(os.path.join(git, ref)):
            with open(os.path.join(git, ref)) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return None


def _stamp(spark, nproc: int, master: str, seed: int, w) -> dict:
    from kgbench.workloads import source_digest

    sc = spark.sparkContext
    skip = ("spark.app.id", "spark.app.startTime", "spark.driver.host",
            "spark.driver.port", "spark.app.submitTime", "spark.eventLog.dir",
            "spark.sql.warehouse.dir", "spark.executor.id", "spark.submit.pyFiles")
    return {
        "nproc": nproc, "master": master, "seed": seed,
        "spark": spark.version,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_commit": _git_commit(),
        "source_digest": source_digest(ROOT),
        "input": w.input_size(),
        "conf": {k: v for k, v in sorted(sc.getConf().getAll()) if k not in skip},
    }


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    work = os.path.join(WORK, f"{workload}-{seed}-{int(trace)}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate_temp(work)
    from kgbench import workloads
    from kgbench.trace import EVENT_LOG_CONF, Tracer, find_event_log, parse_event_log
    from omop2owl_vocab_spark.session import get_spark

    nproc = len(os.sched_getaffinity(0))
    master = f"local[{nproc}]"
    w = workloads.make(workload, work, seed)
    conf = None
    log_dir = os.path.join(work, "eventlog")
    if trace:
        os.makedirs(log_dir)
        conf = {**EVENT_LOG_CONF, "spark.eventLog.dir": "file://" + log_dir}

    t0 = time.monotonic()
    spark = get_spark(f"kgbench-{workload}", master=master, extra_conf=conf)
    session_s = time.monotonic() - t0
    try:
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        writes = []
        for _ in range(SETUP_REPEATS):
            t = time.monotonic()
            w.setup(spark)
            writes.append(time.monotonic() - t)
        setup_s = session_s + statistics.median(writes)
        tracer = Tracer(sc) if trace else None
        if tracer:
            w.instrument(tracer)
        jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())

        passes, failures = [], []
        window_start = time.time()
        steal0 = host_steal_s()
        with RssSampler([os.getpid(), jvm_pid]) as rss:
            t_start = time.monotonic()
            while True:
                w.before_pass()
                t = time.monotonic()
                try:
                    w.run_pass(spark, tracer)
                except Exception as e:  # a failed pass is counted, not fatal
                    failures.append(f"pass: {type(e).__name__}: {e}")
                passes.append(time.monotonic() - t)
                if failures or time.monotonic() - t_start >= seconds:
                    break
        window = (window_start, time.time())
        steal = host_steal_s() - steal0
        n_pass_spans = len(tracer.spans) if tracer else 0

        checks = []
        if not failures:
            try:
                checks = w.check(spark, tracer)
            except Exception as e:
                checks = [("check", False, f"{type(e).__name__}: {e}")]
        failures += [f"{n}: {d}" for n, ok, d in checks if not ok]
        attempted = len(passes) + max(len(checks), 1)
        wall = statistics.median(passes)
        rows = w.rows_out()
        metrics = {
            "setup_s": setup_s,
            "wall_s": wall,
            "rows_out": rows,
            "rows_per_s": rows / wall,
        }
        # resident memory swings ~20 % between identical runs with the JVM's
        # heap sizing, too wide for a bound: reported, but per layer
        layers = {"session.peak_rss_mb": rss.peak_kb / 1024.0}
        stamp = _stamp(spark, nproc, master, seed, w)
        if tracer:
            tracer.restore()
            app_id = sc.applicationId
            _stop_jvm(spark)
            spark = None
            events = parse_event_log(find_event_log(log_dir, app_id), window)
            layers.update(w.layers(tracer.spans[:n_pass_spans], events, wall, nproc))
            layers["session.start_s"] = session_s
            # every scan of the pass: the seeded inputs and checkpoint re-reads
            layers["sources.read_bytes"] = sum(s.input_bytes for s in events.values())
            exec_ms = sum(s.executor_run_ms for s in events.values())
            layers["trace.unattributed_share"] = (
                events[""].executor_run_ms / exec_ms if "" in events and exec_ms else 0.0)
            layers["trace.traced_wall_s"] = wall
        return {
            "workload": workload, "stamp": stamp, "checks": checks,
            "failures": failures, "passes": passes, "attempted": attempted,
            "failed": len(failures), "metrics": metrics, "layers": layers,
            "host_steal_s": steal,
        }
    finally:
        if spark is not None:
            _stop_jvm(spark)


def _untraced_wall(args) -> float:
    """Untraced ``wall_s`` of the workload: the median of this checkout's
    earlier untraced results for the same program source (seeds give
    inputs of one size and shape), else one child run made now."""
    from kgbench.workloads import source_digest

    digest, walls = source_digest(ROOT), []
    for path in glob.glob(os.path.join(WORK, "results", f"{args.workload}-*-0.json")):
        with open(path) as f:
            rec = json.load(f)
        if rec["stamp"]["source_digest"] == digest and not rec["failed"]:
            walls.append(rec["metrics"]["wall_s"])
    if walls:
        return statistics.median(walls)
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                         timeout=170, check=True)
    return json.loads(res.stdout.strip().splitlines()[-1])["metrics"]["wall_s"]["value"]


def _emit(rec: dict, trace: bool) -> None:
    from kgbench.workloads import all_layer_names

    if trace:
        names = {k: rec["layers"].get(k, 0) for k in all_layer_names()}
    else:
        names = rec["metrics"]
    print("stamp " + json.dumps(rec["stamp"], sort_keys=True))
    for f in rec["failures"]:
        print(f"FAILED {f}")
    print(f"error_rate = {rec['failed'] / rec['attempted']:.4f} "
          f"({rec['failed']} failed of {rec['attempted']} attempted)")
    print(f"host steal during the timed passes = {rec['host_steal_s']:.2f} CPU-s")
    if not trace:
        print(f"{rec['workload']} peak_rss_mb = {rec['layers']['session.peak_rss_mb']} MB")
    for k, v in names.items():
        print(f"{rec['workload']} {k} = {v} {unit_of(k)}")
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    path = os.path.join(WORK, "results",
                        f"{rec['workload']}-{rec['stamp']['seed']}-{int(trace)}.json")
    with open(path, "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in names.items()},
    }))


def _run_all(args) -> int:
    """Every workload in its own process; prints each one's metric table and
    a combined last line with ``<workload>.<metric>`` keys."""
    from kgbench.workloads import WORKLOADS

    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for wl in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                             timeout=400)
        lines = res.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        if res.returncode != 0 or not lines:
            return res.returncode or 1
        r = json.loads(lines[-1])
        combined["correct"] &= r["correct"]
        combined["attempted"] += r["attempted"]
        combined["failed"] += r["failed"]
        combined["metrics"].update({f"{wl}.{k}": v for k, v in r["metrics"].items()})
    print(json.dumps(combined))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=1.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return _run_all(args)
    untraced = _untraced_wall(args) if args.trace else None
    rec = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    if untraced is not None:
        rec["layers"]["trace.overhead_s"] = rec["metrics"]["wall_s"] - untraced
    _emit(rec, bool(args.trace))
    return 0


if __name__ == "__main__":
    sys.exit(main())

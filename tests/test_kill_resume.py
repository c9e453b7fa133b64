"""SURVEY §5.5: kill the pipeline mid-run (after the s3 checkpoint lands),
rerun, and assert the completed stages are skipped and the final triples
are identical to an uninterrupted run; the same with the kill landing
in the reliable CC rounds."""

import os
import signal
import subprocess
import sys
import time

from omop2owl_vocab_spark.plans.pipeline import PipelineConfig, run_pipeline
from omop2owl_vocab_spark.sources.synth import synth_code_files

_CHILD = """
import sys
sys.path.insert(0, {repo!r})
from omop2owl_vocab_spark.plans.pipeline import PipelineConfig, run_pipeline
from omop2owl_vocab_spark.session import get_spark

spark = get_spark("victim", master="local[2]",
                  extra_conf={{"spark.sql.shuffle.partitions": "2"}})
run_pipeline(spark, PipelineConfig(source={src!r}, output_dir={out!r}))
"""


def test_kill_after_s3_then_resume(spark, tmp_path):
    src = str(tmp_path / "cf")
    out = str(tmp_path / "out")
    synth_code_files(spark, 2000).write.parquet(src)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    proc = subprocess.Popen(
        [sys.executable, "-c", _CHILD.format(repo=repo, src=src, out=out)],
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    # wait for the s3 checkpoint metrics to land, then kill hard
    deadline = time.monotonic() + 240
    s3_metrics = None
    try:
        while time.monotonic() < deadline:
            if proc.poll() is not None:
                break  # finished before we could kill — still a valid test
            ckpt_root = os.path.join(out, "ckpt")
            if os.path.isdir(ckpt_root):
                for d in os.listdir(ckpt_root):
                    m = os.path.join(ckpt_root, d, "_metrics.json")
                    if d.startswith("s3_triples_raw") and os.path.exists(m):
                        s3_metrics = m
                        break
            if s3_metrics:
                proc.send_signal(signal.SIGKILL)
                proc.wait()
                break
            time.sleep(0.3)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    assert s3_metrics or proc.returncode == 0

    # rerun in-process: completed stages must be skipped, output complete
    report = run_pipeline(
        spark, PipelineConfig(source=src, output_dir=out)
    )
    if s3_metrics:
        assert report["stages"]["s3_triples_raw"] == {"cached": True}
    n = spark.read.parquet(f"{out}/triples").count()

    # uninterrupted control run on the same input
    out2 = str(tmp_path / "out2")
    run_pipeline(spark, PipelineConfig(source=src, output_dir=out2))
    assert n == spark.read.parquet(f"{out2}/triples").count()


_CC_CHILD = _CHILD.replace(
    "output_dir={out!r})", "output_dir={out!r}, cc_checkpoint_dir={cc!r})"
)


def _sorted_triples(spark, out):
    rows = spark.read.parquet(f"{out}/triples").collect()
    return sorted(map(tuple, rows), key=repr)


def test_kill_during_reliable_cc_then_resume(spark, tmp_path, monkeypatch):
    """Kill the pipeline once its CC rounds write reliable checkpoint
    files; the rerun skips s1 and s3, matches an uninterrupted run row
    for row, and deletes the CC subdir it opened itself."""
    import omop2owl_vocab_spark.plans.pipeline as pipeline_mod

    src = str(tmp_path / "cf")
    out = str(tmp_path / "out")
    cc = str(tmp_path / "cc")
    synth_code_files(spark, 2000).write.parquet(src)
    os.makedirs(cc)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def cc_files():
        return any(files for _, _, files in os.walk(cc))

    proc = subprocess.Popen(
        [sys.executable, "-c",
         _CC_CHILD.format(repo=repo, src=src, out=out, cc=cc)],
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    killed = False
    deadline = time.monotonic() + 240
    try:
        while time.monotonic() < deadline and proc.poll() is None:
            if cc_files():
                proc.send_signal(signal.SIGKILL)
                proc.wait()
                killed = True
                break
            time.sleep(0.1)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    assert killed or proc.returncode == 0
    orphans = set(os.listdir(cc))

    # s1 and s3 are checkpointed before CC starts: the rerun must not
    # derive s1 again, and reports s3 cached
    def no_derive(*_a, **_k):
        raise AssertionError("s1 recomputed on resume")

    monkeypatch.setattr(pipeline_mod, "derive_concepts", no_derive)
    monkeypatch.setattr(pipeline_mod, "derive_edges", no_derive)
    report = run_pipeline(
        spark, PipelineConfig(source=src, output_dir=out, cc_checkpoint_dir=cc)
    )
    if killed:
        assert report["stages"]["s3_triples_raw"] == {"cached": True}
    sub = report["stages"].get("s4_link", {}).get("checkpoint_subdir")
    if sub is not None:
        assert sub.startswith(cc) and not os.path.exists(sub)
    # only the killed child's subdirs are left behind
    assert set(os.listdir(cc)) <= orphans
    monkeypatch.undo()

    out2 = str(tmp_path / "out2")
    run_pipeline(spark, PipelineConfig(source=src, output_dir=out2))
    assert _sorted_triples(spark, out) == _sorted_triples(spark, out2)

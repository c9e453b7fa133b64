"""Tests of the benchmark itself: generator determinism, the event-log
reader, and the metric names ``BENCHMARK.json`` promises.

    python3 -m pytest kgbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from kgbench import gen  # noqa: E402
from kgbench.run import unit_of  # noqa: E402
from kgbench.trace import parse_event_log  # noqa: E402
from kgbench.workloads import END_TO_END, WORKLOADS, all_layer_names, make  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def spark():
    from omop2owl_vocab_spark.session import get_spark

    s = get_spark("kgbench-tests", master="local[2]",
                  extra_conf={"spark.sql.shuffle.partitions": "4"})
    yield s
    s.stop()


def _digest(df) -> str:
    rows = sorted("\x1f".join(map(str, r)) for r in df.collect())
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def test_code_files_deterministic_per_seed(spark):
    a = _digest(gen.code_files(spark, 2000, seed=5))
    assert a == _digest(gen.code_files(spark, 2000, seed=5).repartition(7))
    assert a != _digest(gen.code_files(spark, 2000, seed=6))


def test_code_files_shape(spark):
    from pyspark.sql import functions as F

    n = 4000
    df = gen.code_files(spark, n, seed=3).cache()
    share = {r["lang"]: r["count"] / n for r in df.groupBy("lang").count().collect()}
    assert 0.50 < share["python"] < 0.60 and 0.20 < share["java"] < 0.30
    for lang in ("go", "js", "rs", "c"):
        assert 0.03 < share[lang] < 0.07
    dup_groups = (df.groupBy(F.sha2("content", 256)).count()
                  .filter("count > 1").count())
    assert dup_groups == n // 20
    # each file: one import naming a real module, one dangling
    imports = df.select(
        F.regexp_extract_all("content", F.lit(r"import\s+pkg\d+\.(mod\d+)"), 1)
        .alias("mods")).collect()
    stems = {r["path"].rsplit("/", 1)[-1].split(".")[0]
             for r in df.select("path").collect()}
    for r in imports:
        assert len(r["mods"]) == 2
        assert r["mods"][0] in stems and r["mods"][1] not in stems
    df.unpersist()


def test_query_tables_deterministic_per_seed(spark):
    sizes = {"n_customers": 500, "n_parts": 500, "n_docs": 200}
    a = {k: _digest(v) for k, v in gen.query_tables(spark, 1, **sizes).items()}
    b = {k: _digest(v) for k, v in gen.query_tables(spark, 1, **sizes).items()}
    c = {k: _digest(v) for k, v in gen.query_tables(spark, 2, **sizes).items()}
    assert a == b
    for t in ("customer", "documents"):
        assert a[t] != c[t]
    # the key-derived graph tables are the same for every seed
    assert (a["part"], a["nation"]) == (c["part"], c["nation"])


def test_parse_event_log_tiny_log():
    """The fixture keeps the layout of a Spark 4.1 event log, trimmed to the
    events and fields the reader uses, with round numbers."""
    stats = parse_event_log(os.path.join(HERE, "data", "tiny_eventlog.jsonl"))
    one, two, none = stats["lab.one"], stats["lab.two"], stats[""]
    assert (one.jobs, two.jobs, none.jobs) == (2, 1, 1)
    assert one.tasks == 6 and one.stages == 2
    assert one.shuffle_write_bytes > 0 and two.shuffle_write_bytes == 0
    assert one.executor_run_ms == 600 and one.gc_ms == 30
    assert one.spill_bytes == 5
    assert one.input_bytes == 3000 and two.input_bytes == 0
    # heaviest stage of lab.one: task run times 100, 100, 300 → max/median 3
    assert one.task_skew == pytest.approx(3.0)
    assert one.stages_under_150ms == 1


def test_parse_event_log_window():
    path = os.path.join(HERE, "data", "tiny_eventlog.jsonl")
    stats = parse_event_log(path, window=(1000.0, 1002.5))
    assert stats["lab.one"].jobs == 2 and "lab.two" not in stats


def test_benchmark_json_names_match_emitted():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = [m["name"] for m in bench["end_to_end"]]
    layers = [m["name"] for m in bench["per_layer"]]
    assert e2e == list(END_TO_END)
    assert layers == all_layer_names()
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        assert m["unit"] == unit_of(m["name"])
    assert len(set(e2e + layers)) == len(e2e) + len(layers)
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_each_workload_layers_cover_its_names(tmp_path):
    for wl in WORKLOADS:
        w = make(wl, str(tmp_path), 0)
        got = w.layers([], {}, 1.0, 4)
        assert list(got) == w.layer_names(), wl

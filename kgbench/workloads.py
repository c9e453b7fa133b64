"""The benchmark workloads: set-up, one timed pass, correctness checks and,
in the traced run, the per-layer record.

A workload object lives for one benchmark run (one Spark application).
``setup`` writes the inputs, ``run_pass`` is the timed region,
``check`` runs outside it and returns ``(name, ok, detail)`` triples, and
``layers`` turns the tracer's spans plus the parsed event log into the
per-layer metrics.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import shutil
import time
from contextlib import nullcontext

import duckdb
from pyspark.sql import functions as F

import __spark_entry__ as entry
from omop2owl_vocab_spark.operators import dedup as dedup_mod
from omop2owl_vocab_spark.plans import pipeline as pipeline_mod
from omop2owl_vocab_spark.plans.checkpoint import CheckpointManager
from omop2owl_vocab_spark.plans.pipeline import PipelineConfig, run_pipeline
from tools.check_oracle import value_hash

from kgbench import gen
from kgbench.trace import LabelStats, Span, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_PATH = os.path.join(HERE, "expected.json")

# checkpoint stage → layer label (the job description in the traced run)
STAGE_LABELS = {
    "s1_concepts": "plans.derive.s1_concepts",
    "s1_edges": "plans.derive.s1_edges",
    "s3_triples_raw": "operators.emit.s3_triples_raw",
    "s4_canon_map": "operators.link.s4_canon_map",
}
CC_LABEL = "operators.link.cc"
WRITE_LABEL = "operators.canon.s5_s6_write"
PIPELINE_LABELS = (*STAGE_LABELS.values(), CC_LABEL, WRITE_LABEL)
EVENT_COUNTERS = ("jobs", "executor_run_ms", "gc_ms", "shuffle_write_bytes",
                  "spill_bytes", "task_skew")

# one oracle-checked iterative query per round pattern: label propagation
# to a fixpoint, transitive closure, fixed-iteration rank, peeling and DAG
# layering.  kg_bfs, kg_lpa, kg_shortest_paths, kg_hits and kg_ppr repeat
# these patterns; leaving them out keeps a run of the operators workload,
# set-up and checks included, under a minute.
GRAPH_QUERIES = ("kg_connected_components", "kg_ancestors", "kg_pagerank",
                 "kg_kcore", "kg_dag_levels")
DEDUP_QUERIES = ("dd_prefix_join", "dd_jaccard", "dd_minhash_verified",
                 "kg_fuzzy_pairs")


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def _span(tracer: Tracer | None, name: str, label: str | None = None):
    return tracer.span(name, label) if tracer else nullcontext()


def total(spans: list[Span], name: str) -> float:
    return sum(s.wall for s in spans if s.name == name)


def load_expected() -> dict:
    if not os.path.exists(EXPECTED_PATH):
        return {}
    with open(EXPECTED_PATH) as f:
        return json.load(f)


class Pipeline:
    """``run_pipeline(resume=False)`` on a seeded ``code_files`` corpus with
    a fresh output directory per pass.  The check afterwards deletes only
    ``triples/`` and ``_manifest.json`` and reruns with ``resume=True``
    (the crash-after-s4 recovery), which must reproduce the same triples."""

    name = "pipeline_cold"
    n_rows = 100_000

    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.src = os.path.join(work, "code_files")
        self.out = os.path.join(work, "out")
        self.digest: tuple[int, str] | None = None
        self.resume_wall = 0.0

    def input_size(self) -> dict:
        return {"rows": self.n_rows, "bytes": dir_bytes(self.src)}

    def setup(self, spark) -> None:
        gen.code_files(spark, self.n_rows, self.seed).write.mode(
            "overwrite").parquet(self.src)

    def _cfg(self, resume: bool) -> PipelineConfig:
        return PipelineConfig(source=self.src, output_dir=self.out, resume=resume)

    def before_pass(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def run_pass(self, spark, tracer: Tracer | None) -> None:
        run_pipeline(spark, self._cfg(resume=False))

    def rows_out(self) -> int:
        return self.digest[0] if self.digest else 0

    def triples_digest(self, spark) -> tuple[int, str]:
        t = spark.read.parquet(os.path.join(self.out, "triples"))
        cols = sorted(t.columns)
        n, s = t.agg(
            F.count(F.lit(1)),
            F.sum(F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(20,0)")),
        ).first()
        return int(n), str(s)

    def _sha_mismatches(self, spark) -> tuple[int, int]:
        """(file triples checked, triples whose src_sha256 differs from
        sha2(content) of the source row of their subject)."""
        src = spark.read.parquet(self.src).select(
            F.concat(
                F.lit("OMOP:"),
                F.abs(F.xxhash64("repo", "path", "commit")).cast("string"),
            ).alias("subj"),
            F.sha2(F.coalesce("content", F.lit("")), 256).alias("sha"),
        )
        t = spark.read.parquet(os.path.join(self.out, "triples")).filter(
            F.col("src_sha256") != "")
        j = t.join(src, "subj", "left")
        n, bad = j.agg(
            F.count(F.lit(1)),
            F.sum(F.when(F.col("sha").isNull() | (F.col("sha") != F.col("src_sha256")), 1)
                  .otherwise(0)),
        ).first()
        return int(n), int(bad or 0)

    def check(self, spark, tracer: Tracer | None) -> list[tuple[str, bool, str]]:
        out = []
        self.digest = self.triples_digest(spark)
        n, bad = self._sha_mismatches(spark)
        out.append(("src_sha256", n > 0 and bad == 0, f"{bad} of {n} file triples differ"))
        rec = load_expected().get(self.name, {})
        if rec.get("n_rows") == self.n_rows and str(self.seed) in rec.get("seeds", {}):
            want = rec["seeds"][str(self.seed)]
            got = {"rows_out": self.digest[0], "digest": self.digest[1]}
            out.append(("recorded", got == want, f"got {got}, recorded {want}"))
        shutil.rmtree(os.path.join(self.out, "triples"))
        os.remove(os.path.join(self.out, "_manifest.json"))
        t0 = time.monotonic()
        report = run_pipeline(spark, self._cfg(resume=True))
        self.resume_wall = time.monotonic() - t0
        cached = all(report["stages"][s]["cached"] for s in ("s3_triples_raw", "s4_canon_map"))
        resumed = self.triples_digest(spark)
        out.append(("resume", cached and resumed == self.digest,
                    f"cached={cached} resume={resumed} cold={self.digest}"))
        return out

    # ---------------------------------------------------------------- trace

    def instrument(self, tracer: Tracer) -> None:
        def stage_arg(i):
            return lambda *a, **kw: kw.get("stage", a[i] if len(a) > i else None)

        get_stage = stage_arg(2)  # (self, spark, stage, ...)
        write_stage = stage_arg(1)  # (self, stage, df, ...)
        tracer.patch(CheckpointManager, "get_or_compute",
                     lambda *a, **kw: f"stage.{get_stage(*a, **kw)}",
                     lambda *a, **kw: STAGE_LABELS.get(get_stage(*a, **kw)))
        tracer.patch(CheckpointManager, "write",
                     lambda *a, **kw: f"ckpt.write.{write_stage(*a, **kw)}")

        def cc_after(span, result):
            span.counts["rounds"] = result[1].get("rounds", 0)
            return result

        tracer.patch(pipeline_mod, "connected_components", lambda *a, **kw: "cc",
                     lambda *a, **kw: CC_LABEL, after=cc_after)
        from pyspark.sql.readwriter import DataFrameWriter

        def parquet_name(_writer, path, *a, **kw):
            base = os.path.basename(os.path.normpath(path))
            return "write.triples" if base == "triples" else f"parquet.{base.split('-')[0]}"

        def parquet_label(_writer, path, *a, **kw):
            return WRITE_LABEL if os.path.basename(os.path.normpath(path)) == "triples" else None

        tracer.patch(DataFrameWriter, "parquet", parquet_name, parquet_label)

    @staticmethod
    def layer_names() -> list[str]:
        return [
            "plans.derive.s1_concepts.wall_s", "plans.derive.s1_edges.wall_s",
            *(f"plans.checkpoint.{st}.{k}" for st in STAGE_LABELS
              for k in ("write_s", "metrics_s", "bytes", "rows")),
            "operators.emit.s3_triples_raw.wall_s", "operators.link.s4_canon_map.wall_s",
            "operators.link.cc.wall_s", "operators.link.cc.rounds",
            "plans.pipeline.s3_s4.overlap_ratio", "operators.canon.s5_s6_write.wall_s",
            "plans.pipeline.resume.wall_s", "plans.pipeline.disk_bytes_per_triple",
            *(f"{label}.{c}" for label in PIPELINE_LABELS for c in EVENT_COUNTERS),
        ]

    def layers(self, cold: list[Span], events: dict[str, LabelStats], wall: float,
               nproc: int) -> dict[str, float]:
        """``cold`` holds the spans of the timed pass only."""

        def tot(name):
            return total(cold, name)

        m: dict[str, float] = {}
        m["plans.derive.s1_concepts.wall_s"] = tot("stage.s1_concepts")
        m["plans.derive.s1_edges.wall_s"] = tot("stage.s1_edges")
        for stage in STAGE_LABELS:
            write = tot(f"parquet.{stage}")
            m[f"plans.checkpoint.{stage}.write_s"] = write
            m[f"plans.checkpoint.{stage}.metrics_s"] = tot(f"ckpt.write.{stage}") - write
            d = glob.glob(os.path.join(self.out, "ckpt", f"{stage}-*"))
            m[f"plans.checkpoint.{stage}.bytes"] = sum(dir_bytes(p) for p in d)
            rows = 0
            for p in d:
                with open(os.path.join(p, "_metrics.json")) as f:
                    rows += json.load(f).get("rows", 0)
            m[f"plans.checkpoint.{stage}.rows"] = rows
        s3 = [s for s in cold if s.name == "stage.s3_triples_raw"]
        s4 = [s for s in cold if s.name == "stage.s4_canon_map"]
        m["operators.emit.s3_triples_raw.wall_s"] = sum(s.wall for s in s3)
        m["operators.link.s4_canon_map.wall_s"] = sum(s.wall for s in s4)
        cc = [s for s in cold if s.name == "cc"]
        m["operators.link.cc.wall_s"] = sum(s.wall for s in cc)
        m["operators.link.cc.rounds"] = sum(s.counts.get("rounds", 0) for s in cc)
        both = s3 + s4
        section = max(s.end for s in both) - min(s.start for s in both) if both else 0.0
        m["plans.pipeline.s3_s4.overlap_ratio"] = (
            sum(s.wall for s in both) / section if section > 0 else 0.0)
        m["operators.canon.s5_s6_write.wall_s"] = tot("write.triples")
        m["plans.pipeline.resume.wall_s"] = self.resume_wall
        n_out = self.rows_out()
        out_bytes = dir_bytes(self.out)
        m["plans.pipeline.disk_bytes_per_triple"] = out_bytes / n_out if n_out else 0.0
        for label in PIPELINE_LABELS:
            st = events.get(label, LabelStats())
            for c in EVENT_COUNTERS:
                m[f"{label}.{c}"] = getattr(st, c)
        return m


class QueryBatch:
    """One layer's queries within the operators workload, and how its
    per-layer metrics are read from the trace."""

    layer = ""
    queries: tuple[str, ...] = ()
    per_query: tuple[str, ...] = ()  # "wall_s" or a LabelStats field
    summary_names: tuple[str, ...] = ()

    def instrument(self, tracer: Tracer) -> None:
        pass

    def before_check(self) -> None:
        pass

    def summary(self, spans: list[Span], events: dict[str, LabelStats], nproc: int,
                query_rows: dict[str, int]) -> tuple:
        raise NotImplementedError


class GraphBatch(QueryBatch):
    """The iterative ``kg_*`` queries: many small rounds, so the per-round
    checkpoint, convergence test and scheduler floor dominate."""

    layer = "operators.graph"
    queries = GRAPH_QUERIES
    per_query = ("wall_s", "jobs")
    summary_names = ("stages_under_150ms", "core_occupancy")

    def summary(self, spans, events, nproc, query_rows):
        mine = [events.get(f"{self.layer}.{q}", LabelStats()) for q in self.queries]
        run_s = sum(st.executor_run_ms for st in mine) / 1000.0
        wall = sum(total(spans, q) for q in self.queries)
        return (sum(st.stages_under_150ms for st in mine),
                run_s / (wall * nproc) if wall > 0 else 0.0)


class DedupBatch(QueryBatch):
    """Candidate → verify: prefix-filtered, exact-Jaccard and MinHash-LSH
    near-duplicate joins over hot posting lists, plus the fuzzy name pairs."""

    layer = "operators.dedup"
    queries = DEDUP_QUERIES
    per_query = ("wall_s", "tasks", "shuffle_write_bytes", "task_skew")
    summary_names = ("minhash.candidates", "minhash.verify_yield")

    def __init__(self):
        self.observations: list = []
        self.candidates = 0

    def instrument(self, tracer: Tracer) -> None:
        from pyspark.sql import Observation

        def observe(span, cand):
            obs = Observation("candidates")
            self.observations.append(obs)
            return cand.observe(obs, F.count(F.lit(1)).alias("n"))

        tracer.patch(dedup_mod, "lsh_candidate_pairs",
                     lambda *a, **kw: "lsh_candidate_pairs", after=observe)

    def before_check(self) -> None:
        # observed metrics live in the session: read them while it is up
        self.candidates = sum(o.get["n"] for o in self.observations)

    def summary(self, spans, events, nproc, query_rows):
        pairs = query_rows.get("dd_minhash_verified", 0)
        return self.candidates, pairs / self.candidates if self.candidates else 0.0


class Operators:
    """The graph and dedup queries from ``__spark_entry__.queries()`` run
    back to back on sf0.1-shaped tables, each written to parquet (the sink
    the correctness check reads back); the oracle is the query's DuckDB
    ``oracle_sql()``.

    The tables are generated with one fixed seed, like a fixed test-data
    directory: this workload is seedless, so every run does the same work
    and ``rows_out`` is the same on every run."""

    name = "operators"
    tables = ("customer", "nation", "part", "documents")
    # the graph queries' time is set by their rounds, not the key count
    # (2000 keys take about as long as sf0.1's 15000), and at 800 documents
    # every bigram posting list is still hot; small tables keep one cold
    # pass near 30 s
    sizes = {"n_customers": 2000, "n_parts": 2000, "n_docs": 800}
    table_seed = 0

    def __init__(self, work: str, seed: int):
        self.inp = os.path.join(work, "tables")
        self.out = os.path.join(work, "out")
        self.batches = (GraphBatch(), DedupBatch())
        self.query_rows: dict[str, int] = {}

    def input_size(self) -> dict:
        return {**self.sizes, "table_seed": self.table_seed, "bytes": dir_bytes(self.inp)}

    def setup(self, spark) -> None:
        dfs = gen.query_tables(spark, self.table_seed, **self.sizes)
        for t in self.tables:
            dfs[t].coalesce(1).write.mode("overwrite").parquet(
                os.path.join(self.inp, f"{t}.parquet"))

    def before_pass(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def run_pass(self, spark, tracer: Tracer | None) -> None:
        qs = entry.queries()
        for b in self.batches:
            for q in b.queries:
                with _span(tracer, q, f"{b.layer}.{q}"):
                    qs[q](spark, self.inp).write.parquet(os.path.join(self.out, q))

    def rows_out(self) -> int:
        return sum(self.query_rows.values())

    def check(self, spark, tracer: Tracer | None) -> list[tuple[str, bool, str]]:
        for b in self.batches:
            b.before_check()
        con = duckdb.connect()
        try:
            for t in self.tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.inp}/{t}.parquet/*.parquet')")
            oracles = entry.oracle_sql()
            out = []
            for q in (q for b in self.batches for q in b.queries):
                got = con.sql(f"SELECT * FROM read_parquet('{self.out}/{q}/*.parquet')")
                cols, rows = list(got.columns), got.fetchall()
                want = con.sql(materialize_ctes(oracles[q]))
                wcols, wrows = list(want.columns), _hugeint_as_float(want)
                self.query_rows[q] = len(rows)
                ok = (len(rows) == len(wrows) and sorted(cols) == sorted(wcols)
                      and value_hash(cols, rows) == value_hash(wcols, wrows))
                out.append((q, ok, f"{len(rows)} rows vs oracle {len(wrows)}"))
            return out
        finally:
            con.close()

    # ---------------------------------------------------------------- trace

    def instrument(self, tracer: Tracer) -> None:
        for b in self.batches:
            b.instrument(tracer)

    def layer_names(self) -> list[str]:
        return [name for b in self.batches for name in (
            *(f"{b.layer}.{q}.{k}" for q in b.queries for k in b.per_query),
            *(f"{b.layer}.{k}" for k in b.summary_names))]

    def layers(self, spans: list[Span], events: dict[str, LabelStats], wall: float,
               nproc: int) -> dict[str, float]:
        m: dict[str, float] = {}
        for b in self.batches:
            for q in b.queries:
                st = events.get(f"{b.layer}.{q}", LabelStats())
                for k in b.per_query:
                    m[f"{b.layer}.{q}.{k}"] = total(spans, q) if k == "wall_s" else getattr(st, k)
            for k, v in zip(b.summary_names, b.summary(spans, events, nproc, self.query_rows)):
                m[f"{b.layer}.{k}"] = v
        return m


def materialize_ctes(sql: str) -> str:
    """Mark each top-level CTE of a non-recursive oracle ``MATERIALIZED``.

    Same rows; without it DuckDB re-evaluates the CTE chain under every
    reference, and ``kg_hits``' oracle (a scalar ``MAX`` subquery per
    round) takes about 17 s instead of 0.2 s."""
    if "RECURSIVE" in sql:
        return sql
    return re.sub(r"(?m)^(\s*(?:WITH\s+)?\w+) AS \(", r"\1 AS MATERIALIZED (", sql)


def _hugeint_as_float(rel) -> list[tuple]:
    """DuckDB HUGEINT becomes float64 in a pandas-based canonicalizer;
    mirror ``tools/check_oracle.py`` so this check is at least as strict."""
    hug = [i for i, t in enumerate(rel.types) if str(t) in ("HUGEINT", "UHUGEINT")]
    rows = rel.fetchall()
    if not hug:
        return rows
    return [tuple(float(v) if i in hug and v is not None else v
                  for i, v in enumerate(r)) for r in rows]


_CLASSES = {c.name: c for c in (Pipeline, Operators)}
WORKLOADS = tuple(_CLASSES)


def make(name: str, work: str, seed: int):
    if name not in _CLASSES:
        raise ValueError(f"unknown workload {name!r}; choose from {WORKLOADS}")
    return _CLASSES[name](work, seed)

END_TO_END = ("setup_s", "wall_s", "rows_out", "rows_per_s")
# per-layer metrics every traced run adds, whatever the workload
RUN_LAYERS = ("session.start_s", "session.peak_rss_mb", "sources.read_bytes",
              "trace.unattributed_share", "trace.traced_wall_s", "trace.overhead_s")


def all_layer_names() -> list[str]:
    """Every per-layer metric; a traced run reports each, with 0 for the
    layers its workload does not call."""
    names = list(RUN_LAYERS)
    for wl in WORKLOADS:
        names += make(wl, "", 0).layer_names()
    return names


def source_digest(root: str) -> str:
    """Digest of the program's source files (the checkout may not be a git
    repository, so this stands in for the commit id)."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(root, "omop2owl_vocab_spark", "**", "*.py"),
                             recursive=True))
    for p in [*files, os.path.join(root, "__spark_entry__.py")]:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]

"""One round driver for every iterative graph operator, and the one
materialization policy for every lineage cut in the operators.

Connected components, the ancestor closure and the nine iterative
operators in `operators/graph.py` supply only a step expression and,
optionally, a signature (one aggregate Column over the state) with a
fixpoint test; `iterate` owns the loop, the round count, the early exit
and the lineage cut.  Without the cut the plan doubles per round and
the driver runs out of memory planning round ~15.  The driver adds no
Spark job: the signature is observed (``DataFrame.observe``) on the
frame the cut materializes, so its value arrives with the
materialization job and a round costs the step's own jobs plus that
one job.

`materialize` is the only place the package cuts lineage.  Iterative
states, the static frames an operator re-joins every round, and the
set-similarity composites' multiply-consumed intermediates all go
through it (without it Catalyst re-derives the whole tokenize/shingle
lineage under every exchange — the r6 plan audit measured 48 parquet
scans / 140 exchanges / 0 reused exchanges in ``dd_prefix_join`` alone).

- **Local by default**: ``localCheckpoint(eager=True)`` rather than
  ``persist()``.  Blocks are written once per *invocation* and freed by
  the ContextCleaner when the query's RDD is dropped — a fresh call
  rebuilds from its inputs, so repeated bench sweeps never reuse an
  earlier run's bytes and no cache entry outlives the returned plan.
  Executor-local blocks are lost under executor failure or dynamic
  deallocation on a real cluster.
- **Reliable inside `checkpointing`**: ``checkpoint(eager=True)`` into a
  fresh ``<dir>/<name>-<uuid>`` subdirectory.  Spark never deletes
  reliable checkpoint files itself and the result still reads from
  them, so whoever opened the scope deletes the subdir once the result
  is materialized elsewhere.  ``setCheckpointDir`` is
  SparkContext-global: the unique subdir keeps successive operators
  from interleaving files.  The scope is a context variable, so it
  covers every operator called inside it, nested ones included.
  The scope is the only switch: no operator takes a checkpoint option.
- **Skip**: a frame whose analyzed plan is already a bare ``LogicalRDD``
  (an earlier checkpoint's output on either path, or a frame built from
  an RDD or local rows) is returned unchanged, so a composite that
  passes a materialized frame down (``near_duplicate_groups`` →
  ``jaccard_pairs``) cuts it once, not twice.  An observed frame
  analyzes to ``CollectMetrics``, never a bare ``LogicalRDD``, so the
  skip never swallows the job that fills an observation.
"""

from __future__ import annotations

import operator
import uuid
from contextlib import contextmanager
from contextvars import ContextVar
from typing import Any, Callable, Iterator

from pyspark.sql import Column, DataFrame, Observation, SparkSession

# the reliable checkpoint subdir in force, None = local checkpoints
_RELIABLE: ContextVar[str | None] = ContextVar("_RELIABLE", default=None)


def materialize(df: DataFrame) -> DataFrame:
    """Cut ``df`` from its lineage under the policy in force (see the
    module docstring); a bare ``LogicalRDD`` comes back unchanged."""
    if df._jdf.queryExecution().analyzed().nodeName() == "LogicalRDD":
        return df
    if _RELIABLE.get() is None:
        return df.localCheckpoint(eager=True)
    return df.checkpoint(eager=True)


@contextmanager
def checkpointing(
    spark: SparkSession, checkpoint_dir: str | None, name: str
) -> Iterator[str | None]:
    """Make `materialize` reliable for the body: point the SparkContext
    at a fresh ``<checkpoint_dir>/<name>-<uuid>`` subdir and yield it.
    With ``checkpoint_dir`` None, yield None and leave the enclosing
    policy in force.  On exit the enclosing scope, if any, gets its
    subdir back (``getCheckpointDir`` would not do: Spark appends its
    own uuid to the path it was given)."""
    if checkpoint_dir is None:
        yield None
        return
    subdir = f"{checkpoint_dir.rstrip('/')}/{name}-{uuid.uuid4().hex}"
    spark.sparkContext.setCheckpointDir(subdir)
    token = _RELIABLE.set(subdir)
    try:
        yield subdir
    finally:
        _RELIABLE.reset(token)
        outer = _RELIABLE.get()
        if outer is not None:
            spark.sparkContext.setCheckpointDir(outer)


def iterate(
    state: Any,
    step: Callable[[Any, int], Any],
    *,
    max_rounds: int,
    signature: Column | None = None,
    converged: Callable[[Any, Any], bool] = operator.eq,
) -> tuple[Any, dict]:
    """Run ``state = materialize(step(state, r))`` for rounds r = 1, 2, …
    and return ``(state, stats)``.

    ``state`` is a frame, or a tuple whose first element is the frame
    the driver materializes and whose other elements pass through (a
    step that needs a second frame materialized mid-round calls
    `materialize` on it itself).  The initial state is materialized the
    same way before round 1 (a no-op for a frame that already is, unless
    a signature is observed on it).

    Without ``signature`` exactly ``max_rounds`` rounds run.  With it,
    every cut, the initial one included, observes ``signature`` (an
    aggregate Column) on the frame it materializes, at no extra job, and
    the loop stops once ``converged(previous_sig, sig)`` holds.
    ``stats`` holds ``rounds``, ``converged`` (True only when the test
    fired) and ``signatures`` (one per round), plus the initial state's
    ``initial_signature`` when a signature is given.
    """
    stats: dict = {"rounds": 0, "converged": False, "signatures": []}
    sigs: list = []  # one per cut, the initial state's first

    def cut(s: Any) -> Any:
        frame = s[0] if isinstance(s, tuple) else s
        if signature is None:
            frame = materialize(frame)
        else:
            obs = Observation()
            frame = materialize(frame.observe(obs, signature.alias("sig")))
            sigs.append(obs.get["sig"])
        return (frame, *s[1:]) if isinstance(s, tuple) else frame

    state = cut(state)
    for r in range(1, max_rounds + 1):
        state = cut(step(state, r))
        stats["rounds"] = r
        if signature is not None and converged(sigs[-2], sigs[-1]):
            stats["converged"] = True
            break
    if signature is not None:
        stats["initial_signature"], *stats["signatures"] = sigs
    return state, stats

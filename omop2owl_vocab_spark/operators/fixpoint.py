"""One round driver for every iterative graph operator.

Connected components, the ancestor closure and the nine iterative
operators in `operators/graph.py` supply only a step expression and,
optionally, a per-round signature (one aggregate over the truncated
state) with a fixpoint test; `iterate` owns the loop, the round count,
the early exit and the lineage truncation.  Without truncation the plan
doubles per round and the driver runs out of memory planning round ~15.
The driver adds no Spark job: a round costs the step's own jobs, the
truncation, and at most the one signature aggregate.

`Truncation` is ``localCheckpoint(eager=True)`` by default (fastest, but
executor-local blocks are lost under executor failure or dynamic
deallocation on a real cluster), or reliable ``checkpoint(eager=True)``
into a fresh ``<dir>/<name>-<uuid>`` subdirectory.  Spark never deletes
reliable checkpoint files itself and the result still reads from them,
so the caller deletes ``stats['checkpoint_subdir']`` once the result is
materialized elsewhere.  ``setCheckpointDir`` is SparkContext-global:
the unique subdir keeps concurrent operators from interleaving files.
"""

from __future__ import annotations

import operator
import uuid
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Truncation:
    """Cut a frame from its lineage: local checkpoint when ``subdir`` is
    None, reliable checkpoint (into ``subdir``) otherwise."""

    subdir: str | None = None

    def __call__(self, df: DataFrame) -> DataFrame:
        if self.subdir is None:
            return df.localCheckpoint(eager=True)
        return df.checkpoint(eager=True)


LOCAL = Truncation()


def truncation(
    spark: SparkSession, checkpoint_dir: str | None, name: str
) -> Truncation:
    """`LOCAL` when ``checkpoint_dir`` is None; otherwise point the
    SparkContext at a fresh ``<checkpoint_dir>/<name>-<uuid>`` subdir and
    return the reliable truncation writing there."""
    if checkpoint_dir is None:
        return LOCAL
    subdir = f"{checkpoint_dir.rstrip('/')}/{name}-{uuid.uuid4().hex}"
    spark.sparkContext.setCheckpointDir(subdir)
    return Truncation(subdir)


def iterate(
    state: Any,
    step: Callable[[Any, int], Any],
    *,
    max_rounds: int,
    signature: Callable[[Any], Any] | None = None,
    converged: Callable[[Any, Any], bool] = operator.eq,
    initial: Any = None,
    truncate: Truncation = LOCAL,
) -> tuple[Any, dict]:
    """Run ``state = truncate(step(state, r))`` for rounds r = 1, 2, …
    and return ``(state, stats)``.

    ``state`` is a frame, or a tuple whose first element is the frame
    the driver truncates and whose other elements pass through (a step
    that needs a second frame materialized mid-round calls ``truncate``
    on it itself).  The initial state is taken as already materialized.

    Without ``signature`` exactly ``max_rounds`` rounds run.  With it,
    each round ends with ``sig = signature(state)`` and the loop stops
    once ``converged(previous_sig, sig)`` holds; the first round compares
    against ``initial``.  ``stats`` holds ``rounds``, ``converged`` (True
    only when the test fired), ``signatures`` (one per round) and, on the
    reliable path, ``checkpoint_subdir``.
    """
    stats: dict = {"rounds": 0, "converged": False, "signatures": []}
    if truncate.subdir is not None:
        stats["checkpoint_subdir"] = truncate.subdir
    prev = initial
    for r in range(1, max_rounds + 1):
        new = step(state, r)
        if isinstance(new, tuple):
            state = (truncate(new[0]), *new[1:])
        else:
            state = truncate(new)
        stats["rounds"] = r
        if signature is None:
            continue
        sig = signature(state)
        stats["signatures"].append(sig)
        if converged(prev, sig):
            stats["converged"] = True
            break
        prev = sig
    return state, stats

"""Checkpoint hygiene for iterative driver loops.

``localCheckpoint`` cuts lineage (mandatory for fixpoint loops — the
plan would otherwise grow per iteration) but its blocks stay in
executor storage memory for the session lifetime: a 10-iteration
PageRank leaves 10 superseded rank snapshots cached. On a shared
long-lived cluster (or this repo's bench session) that steals storage
from every later job — measured 2.3s → 9.2s regression on an unrelated
aggregation after one PageRank run.

``CheckpointLoop`` is a ``with``-scoped window with one lifetime rule.
``step(df)`` keeps only the current and the previous state alive
(eager ``localCheckpoint`` guarantees the new state no longer reads
older ones), so a convergence test can always read both;
``keep(state)`` names which of the two is the result; leaving the
block frees the ``static`` inputs and every other state — everything,
if the block exits by exception. The kept state outlives the block:
``release(df)`` frees it once the caller is done with ``df`` or with
any frame built on it (a wrapper's ``select`` or join). Each step logs
``"<name> step <i>: <wall> s"`` at INFO on ``btd.ckpt``, with no row
count: counting would cost one more Spark job per step.

Ownership is read off the checkpointed DataFrame itself: its analyzed
plan is a ``LogicalRDD`` wrapping exactly the persisted RDD, so the id
is exact even when concurrent jobs in the same SparkSession persist
RDDs at the same time (a before/after diff of
``getPersistentRDDs`` would mis-attribute those and later unpersist
someone else's cache). The diff remains only as a fallback if the
py4j plan accessor ever changes shape.
"""

from __future__ import annotations

import logging
import time

from pyspark.sql import DataFrame, SparkSession

log = logging.getLogger(__name__)

# the RDD name that marks a kept loop result for release()
_KEPT = "CheckpointLoop.keep"


def _persistent_ids(spark: SparkSession) -> set[int]:
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def _checkpoint_owned(spark: SparkSession, df: DataFrame) -> tuple[DataFrame, set[int]]:
    """localCheckpoint ``df`` and return (checkpointed df, the id set of
    the persisted RDD it owns)."""
    before = _persistent_ids(spark)
    out = df.localCheckpoint()
    try:
        ids = {int(out._jdf.queryExecution().analyzed().rdd().id())}
    except Exception:  # py4j internals moved: fall back to the diff
        ids = _persistent_ids(spark) - before
    return out, ids


class CheckpointLoop:
    """``with``-scoped manager for an iterative algorithm's checkpoints."""

    def __init__(self, spark: SparkSession, name: str):
        self._spark = spark
        self._name = name
        self._static_ids: set[int] = set()
        self._window: list[tuple[DataFrame, set[int]]] = []  # [prev, cur]
        self._kept: DataFrame | None = None
        self._steps = 0

    def __enter__(self) -> CheckpointLoop:
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        kept = self._kept if exc_type is None else None
        self._free(self._static_ids)
        for df, ids in self._window:
            if df is not kept:
                self._free(ids)

    def static(self, df: DataFrame) -> DataFrame:
        """Checkpoint a loop-invariant input; freed when the block ends."""
        out, ids = _checkpoint_owned(self._spark, df)
        self._static_ids |= ids
        return out

    def step(self, df: DataFrame) -> DataFrame:
        """Checkpoint one state; frees the state before the previous."""
        t0 = time.perf_counter()
        out, ids = _checkpoint_owned(self._spark, df)
        self._steps += 1
        wall = time.perf_counter() - t0
        log.info("%s step %d: %.3f s", self._name, self._steps, wall)
        self._window.append((out, ids))
        if len(self._window) > 2:
            self._free(self._window.pop(0)[1])
        return out

    def keep(self, state: DataFrame) -> None:
        """Mark ``state`` (one of the last two steps) as the result."""
        ids = next((ids for df, ids in self._window if df is state), None)
        if ids is None:
            raise ValueError("keep() takes one of the last two step() results")
        self._kept = state
        for rdd in self._rdds(ids):
            rdd.setName(_KEPT)

    def _rdds(self, ids: set[int]) -> list:
        """The still-persisted JavaRDDs among ``ids``."""
        jmap = self._spark.sparkContext._jsc.getPersistentRDDs()
        return [rdd for rdd in map(jmap.get, ids) if rdd is not None]

    def _free(self, ids: set[int]) -> None:
        for rdd in self._rdds(ids):
            rdd.unpersist(False)


def release(df: DataFrame) -> None:
    """Free the ``CheckpointLoop.keep`` checkpoints ``df`` reads from —
    the ``LogicalRDD`` leaves of its analyzed plan that a ``keep``
    marked, so a caller's own ``persist`` or checkpoint is never
    touched. Call it after the last action on ``df``: a freed local
    checkpoint cannot be recomputed."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for leaf in (leaves.apply(i) for i in range(leaves.size())):
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            if leaf.rdd().name() == _KEPT:
                leaf.rdd().unpersist(False)

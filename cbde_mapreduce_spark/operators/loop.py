"""One storage and lifecycle policy for iterative driver loops (SURVEY.md §2
iterative family: BFS, PPR, SSSP, connected components).

A MapReduce iteration is a chain of jobs with HDFS materialization between
them; on Spark it is a driver loop whose state must be materialized per
round, or the plan doubles each round. Following HaLoop's split, the loop
holds two kinds of data:

* **loop-invariant** sets (edge sets, degree tables): built
  once, persisted, read by every round. Data-sized sets go ``DISK_ONLY`` —
  their blocks in the unified memory pool starve every later aggregation
  that scans them (SCALING.md round 7). Key-sized tables (one row per
  vertex) go ``MEMORY_AND_DISK``. ``persist`` rather than a
  checkpoint for a set laid out on the round join key, because an
  ``InMemoryRelation`` keeps its plan's partitioning and ordering under AQE
  and a ``localCheckpoint`` does not, so the set joins with no exchange and
  no sort (OPTIMIZATION_r12 §2, pinned by tests/test_optimization_r12.py).
* **per-round** state: each round is ``localCheckpoint``ed, which truncates
  the lineage. Under a fixed round bound a loop may instead keep the
  round's layout: intermediate rounds are held with
  ``persist(MEMORY_AND_DISK)`` plus a count, so the next round's join on
  the state key needs no exchange (OPTIMIZATION_r13 §1, §4), and only the
  final round is checkpointed. Persisted state keeps its lineage, which
  nests every earlier round's plan, so the layout is kept only for as many
  rounds as the bound says.

Blocks live until released: a superseded round is released as soon as its
successor has materialized, invariants on every exit. After a normal exit
only the final round's state stays live, since it backs the returned plan;
on an exception everything the scope holds is released.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark import StorageLevel
from pyspark.sql import DataFrame

#: Storage level for a data-sized loop invariant (an edge set).
DATA_SIZED = StorageLevel.DISK_ONLY
#: Storage level for a key-sized loop invariant (a vertex table).
KEY_SIZED = StorageLevel.MEMORY_AND_DISK


def release(df: DataFrame | None) -> None:
    """Free the blocks behind a persisted or locally checkpointed df; a
    no-op on ``None`` and on plans that hold no blocks.

    A checkpointed df's analyzed plan is a ``LogicalRDD``, so its RDD id is
    read off the plan and unpersisted through the SparkContext. Release is
    best-effort: cleanup must never fail a correct query."""
    if df is None:
        return
    if df.is_cached:
        df.unpersist()
        return
    try:
        rdd_id = df._jdf.queryExecution().analyzed().rdd().id()
        jrdd = df.sparkSession.sparkContext._jsc.getPersistentRDDs().get(rdd_id)
        if jrdd is not None:
            jrdd.unpersist(False)
    except Py4JError:
        pass  # not checkpoint-backed, or the reflection surface moved


class RoundState:
    """Context manager owning one loop's invariants and round state.

    ``layout_rounds`` is the fixed round bound of a loop that keeps its
    round layout: its intermediate rounds are held as persisted, laid-out
    state, and after each of them ``rows`` is the round's row count. With
    no bound (a loop that runs to a fixpoint) every round is checkpointed."""

    def __init__(self, layout_rounds: int | None = None):
        self.layout_rounds = layout_rounds
        self.round, self.rows = 0, None
        self._invariants: list[DataFrame] = []
        self._held: list[DataFrame] = []  # the live round, plus one mid-advance

    def __enter__(self) -> RoundState:
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        for df in self._invariants + (self._held if exc_type else []):
            release(df)

    def invariant(self, df: DataFrame, level: StorageLevel) -> DataFrame:
        """Persist a loop-invariant set at ``DATA_SIZED`` or ``KEY_SIZED``;
        the first action that reads it fills the blocks."""
        df = df.persist(level)
        self._invariants.append(df)
        return df

    def advance(self, df: DataFrame) -> DataFrame:
        """Materialize the next round's state and release the one it
        supersedes; returns the materialized state."""
        self.round += 1
        laid_out = self.layout_rounds is not None and self.round < self.layout_rounds
        df = df.persist(KEY_SIZED) if laid_out else df.localCheckpoint()
        self._held.append(df)
        if laid_out:
            self.rows = df.count()
        for superseded in self._held[:-1]:
            release(superseded)
        self._held = [df]
        return df

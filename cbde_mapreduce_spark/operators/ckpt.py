"""Round-state lifecycle for iterative operators (SURVEY.md §2 iterative
family: connected components, BFS/PPR/SSSP, incremental BPE).

An iterative MapReduce algorithm splits its data the way "MapReduce
Algorithms for Big Data Analysis" (VLDB 2012) and HaLoop/Pregel do:
LOOP-INVARIANT relations (the edge set, PPR's degree table) are
materialized once and read by every round; LOOP-VARIANT state (the round's
vertex table) is re-materialized each round to truncate or pin lineage.
``RoundState`` is the one home for both lifecycles: it materializes each
round, releases each superseded round, releases everything on an
exception, and on a normal exit keeps only what the returned plan reads.

Why explicit release: Spark never reclaims a ``localCheckpoint``'s blocks
until the JVM-side Dataset is garbage collected, so a long session running
many iterative queries accumulated every round's superseded state (a
25-heavy-query session OOMed at position ~22 while every query passed in
isolation). A local checkpoint is unrecoverable by design — a later read of
a released one fails hard (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND) — which is
why the scope releases a round only once its successor has materialized,
and never releases what ``keep`` named.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame


def persist_disk(df: DataFrame) -> DataFrame:
    """``persist(DISK_ONLY)`` — for DATA-SIZED state whose physical LAYOUT
    (partitioning + in-partition order) later operators must reuse.

    The round-12 optimization measurement: under AQE (the production session
    default) ``localCheckpoint`` records ``UnknownPartitioning`` in its
    LogicalRDD, so an edge set repartitioned on the round join key still
    re-shuffles in every round's join. An ``InMemoryRelation`` keeps its
    cached plan's outputPartitioning/outputOrdering regardless of AQE
    (``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` defaults
    false), so ``repartition(key).sortWithinPartitions(...).persist`` makes
    every later same-key join/groupBy exchange-free AND sort-free — pinned
    by tests/test_optimization_r12.py.

    DISK_ONLY because the default level pins the blocks in the unified
    memory pool's storage half: a ~100M-row edge set (a few GB
    deserialized) then starved execution memory for every later stage that
    scanned it while aggregating — hard AGGREGATE_OUT_OF_MEMORY at the 100×
    replicated scale, while the identical plan over DISK_ONLY blocks ran in
    seconds (SCALING.md round 7). Lineage is kept (fine for a built-once
    edge set; it is the GROWING per-round state that needs truncation),
    materialization is lazy (the first round's action fills it), and
    eviction recomputes instead of failing hard."""
    return df.persist(StorageLevel.DISK_ONLY)


def persist_mem(df: DataFrame) -> DataFrame:
    """``persist(MEMORY_AND_DISK)`` — for VERTEX-SIZED state whose physical
    layout later rounds must reuse.

    Same partitioning/ordering-preservation rationale as ``persist_disk``
    (InMemoryRelation keeps its cached plan's layout under AQE, a
    localCheckpoint does not), but at the storage level for vertex state:
    it is small, read once or twice, and released as soon as it is
    superseded — DISK_ONLY would pay a serialize+write+read round trip every
    round for blocks that fit in memory trivially (measured r13:
    sssp_trade_graph at sf10 read ~15% slower with DISK_ONLY round-state
    than with the old memory-level checkpoint; MEMORY_AND_DISK spills
    gracefully if a giant vertex table ever does not fit). Data-sized EDGE
    sets keep ``persist_disk``."""
    return df.persist(StorageLevel.MEMORY_AND_DISK)


def _release(df: DataFrame) -> None:
    """The one release path for both materializations the scope holds.

    A locally-checkpointed DataFrame's analyzed plan is a ``LogicalRDD``
    over a persisted RDD that ``df.unpersist()`` does not free, so its RDD
    id is read off the plan and unpersisted through the SparkContext's
    persistent-RDD registry; anything else is a ``persist()``ed relation
    (or a plain plan, a no-op), freed by ``df.unpersist()``. Release is
    advisory: cleanup must never fail a correct query, nor mask the
    exception that triggered it.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            df.unpersist()
            return
        registry = df.sparkSession.sparkContext._jsc.getPersistentRDDs()
        jrdd = registry.get(plan.rdd().id())
        if jrdd is not None:
            jrdd.unpersist(False)
    except Exception:
        pass


class RoundState:
    """Scope of one iterative operator's materialized state::

        with RoundState() as rs:
            e = rs.hold(persist_disk(edges))       # loop-invariant
            for i in range(n_rounds):
                state = rs.step(round_plan(e, state))
            rs.keep(state)                         # the returned plan reads it
            return final_plan(state)

    ``hold`` registers a loop-invariant relation; ``step`` materializes one
    round and releases the round it supersedes; ``keep`` names state the
    returned plan reads. On a normal exit everything not kept is released;
    on an exception everything is. One live round per query is the steady
    state.

    Two materializations, and the lineage rule that picks between them:

    * ``step(df)`` — eager ``localCheckpoint``: truncates lineage, so the
      next round's plan is one block scan. It records UnknownPartitioning
      under AQE, so the next round re-shuffles the state into its join.
      The default, and the only choice for a loop whose round count is data
      dependent (CC and CC-star run to a fixpoint).
    * ``step(df, persist=True)`` — ``persist_mem`` plus a count (the
      count's value is left in ``rows``, free to reuse as a gate
      measurement): keeps the groupBy's hash layout under AQE, one fewer
      vertex-sized exchange per round (r13). But it KEEPS lineage: round
      r's plan embeds every earlier round's cached plan. It is allowed only
      under a fixed, small round count (SSSP 4, PPR 3), with the final
      round checkpointed so the returned plan stays one block scan. CC
      shows the cost without that bound: each CC round reads its label
      table twice, so lineage-keeping state embeds the upstream pipeline
      2^r times in round-r driver analysis, measured 1.15-1.22× slower at
      sf10 (OPTIMIZATION_r13.md).
    """

    def __init__(self) -> None:
        self._held: list[DataFrame] = []  # released on every exit
        self._kept: list[DataFrame] = []  # released on an exception only
        self._round: DataFrame | None = None
        self.rows: int | None = None

    def __enter__(self) -> RoundState:
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        # reversed: a relation is released after the state built on it
        for df in reversed(self._held + (self._kept if exc_type else [])):
            _release(df)

    def hold(self, df: DataFrame) -> DataFrame:
        """Register a materialized (or lazily persisted) relation."""
        self._held.append(df)
        return df

    def keep(self, df: DataFrame) -> DataFrame:
        """Keep ``df`` past a normal exit: the returned plan reads it."""
        self._held = [h for h in self._held if h is not df]
        self._kept.append(df)
        return df

    def step(self, df: DataFrame, persist: bool = False) -> DataFrame:
        """Materialize ``df`` as this round's state, then release the round
        it supersedes (nothing lazy reads it once ``df`` has materialized)."""
        new = self.hold(persist_mem(df) if persist else df.localCheckpoint())
        self.rows = new.count() if persist else None
        prev, self._round = self._round, new
        if prev is not None:
            self._held = [h for h in self._held if h is not prev]
            _release(prev)
        return new

"""Round-state lifecycle hygiene for the iterative operators.

A local checkpoint's storage blocks live until the JVM garbage-collects the
Dataset — so a long session running many iterative queries used to
accumulate every ROUND's superseded state (observed OOMing a 25-heavy-query
session at position ~22 while each query passed in isolation, ROTATION.md
round-6 closing re-probe). These tests pin the fix, which lives in one
scope (operators/ckpt.py::RoundState): each loop releases a round's state
as soon as the next materializes, so one query leaves behind at most its
FINAL state (plus, for BPE, its 1-row-per-round merge winners which back
the returned plan) — and nothing at all when a round raises.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cbde_mapreduce_spark.operators.ckpt import RoundState
from cbde_mapreduce_spark.operators.iterative import (
    connected_components,
    connected_components_star,
)
from cbde_mapreduce_spark.plans import REGISTRY
from tests.parity import assert_parity

#: every registry query whose loop runs on RoundState
_LOOP_QUERIES = (
    "bfs_hops_trade_graph",
    "ppr_trade_recommendations",
    "sssp_trade_graph",
    "neardup_components",
    "neardup_components_star",
    "bpe_merges_vocab",
)


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _n_cached(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


def test_release_frees_blocks_and_keeps_successor(spark):
    """The mechanism itself, for both materializations: a step frees the
    superseded round's blocks (a checkpoint's RDD or a persist's cache
    entry) while its SUCCESSOR, built from it, stays fully readable (its own
    blocks, no lineage fallback); an exit with nothing kept frees the rest."""
    for persist in (False, True):
        base, cached = _n_persistent(spark), _n_cached(spark)
        with RoundState() as rs:
            seed = spark.range(1000).withColumn("x", F.col("id") * 2)
            c1 = rs.step(seed, persist)
            assert _n_persistent(spark) == base + 1  # first step: none superseded
            c2 = rs.step(c1.withColumn("y", F.col("x") + 1))
            assert _n_persistent(spark) == base + 1  # c1's blocks are gone
            assert _n_cached(spark) == cached  # ...and so is its cache entry
            assert c2.count() == 1000  # successor reads its own blocks
        assert _n_persistent(spark) == base


def test_release_is_noop_on_non_checkpoint_plans(spark):
    df = spark.range(10)
    with RoundState() as rs:  # no step: nothing superseded, no raise
        rs.hold(df)  # plain plan: releasing it is a no-op
    with RoundState():
        pass
    assert df.count() == 10


def test_connected_components_leave_one_round_of_state(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "src int, dst int",
    )
    for fn in (connected_components, connected_components_star):
        before = _n_persistent(spark)
        out = fn(edges)
        rows = {(r.v, r.component) for r in out.collect()}
        assert {(3, 1), (11, 10), (23, 20)} <= rows
        leaked = _n_persistent(spark) - before
        # only the final round's checkpoint (backing the returned plan)
        assert leaked <= 1, f"{fn.__name__} leaked {leaked} checkpoints"


def test_iterative_queries_leave_bounded_state(spark, sf_smoke):
    """Registry-level sweep of every per-round-checkpointing iterative
    query: the answer matches its DuckDB oracle cell-exact, and afterwards
    at most the documented live state remains — the final round's table
    (BFS/PPR/SSSP/CC) or the 1-row-per-round merge winners (BPE) — never
    one block-set per round per table."""
    budgets = {
        "bfs_hops_trade_graph": 1,  # final visited; edge ckpt released
        "ppr_trade_recommendations": 1,  # final ranks; edge ckpt released
        "sssp_trade_graph": 1,  # final dist; edge ckpt released
        "neardup_components": 1,  # final CC labels
        "dedup_canonical_docs": 1,  # final CC labels
        "neardup_components_star": 1,  # final star forest
        "bpe_merges_vocab": 3,  # _BPE_ROUNDS 1-row winners back the result
    }
    for name, budget in budgets.items():
        before = _n_persistent(spark)
        q = REGISTRY[name]
        assert_parity(q.fn(spark, sf_smoke), q.oracle, sf_smoke, name)
        leaked = _n_persistent(spark) - before
        assert leaked <= budget, f"{name}: {leaked} persistent RDDs > {budget}"


@pytest.mark.parametrize("name", _LOOP_QUERIES)
def test_round_failure_releases_all_state(spark, sf_smoke, monkeypatch, name):
    """Fault injection: round 2 raises. The scope must release everything
    the query materialized — the loop-invariant relations (edge sets, PPR's
    deg) as well as round 1's state — leaving the persistent-RDD registry
    and the CacheManager as they were before the query."""
    real_step = RoundState.step
    calls = []

    def failing_step(self, df, persist=False):
        calls.append(persist)
        if len(calls) == 2:
            raise RuntimeError("injected round-2 failure")
        return real_step(self, df, persist)

    ids, cached = _persistent_ids(spark), _n_cached(spark)
    monkeypatch.setattr(RoundState, "step", failing_step)
    with pytest.raises(RuntimeError, match="injected round-2 failure"):
        REGISTRY[name].fn(spark, sf_smoke)
    assert _persistent_ids(spark) <= ids, f"{name} left persisted RDDs behind"
    assert _n_cached(spark) <= cached, f"{name} left CacheManager entries behind"

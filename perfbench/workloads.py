"""Workloads: which operations one pass runs, over which generated inputs.

An operation has a build step (a public builder call, timed as build) and
an action (``toPandas`` or a parquet write, timed as exec). Query
operations are checked cell-exact against their registry oracle; write
operations are read back and compared with their source by row count and an
order-insensitive hash.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import pyarrow.parquet as pq

from perfbench.verify import canonicalize, mismatch, table_digest


@dataclass(frozen=True)
class Query:
    """A registry query: build = the registered builder, exec = toPandas."""

    name: str
    query = True

    def oracle(self) -> str:
        from cbde_mapreduce_spark.plans import REGISTRY

        return REGISTRY[self.name].oracle

    def build(self, spark, data: str, out: str):
        from cbde_mapreduce_spark.plans import REGISTRY

        return REGISTRY[self.name].fn(spark, data)

    def execute(self, handle, out: str):
        return handle.toPandas()

    def check(self, result, data: str, out: str, answers: dict) -> str | None:
        return mismatch(canonicalize(result), answers[self.name])


@dataclass(frozen=True)
class Write:
    """A ``sources`` writer: ``compact`` (compact_files on lineitem) or
    ``zorder`` (write_zordered on orders). The build step loads the source
    table; the action is the writer call, which returns after the write."""

    name: str
    kind: str
    table: str
    cols: tuple[str, ...]
    query = False

    def oracle(self) -> None:
        return None

    def build(self, spark, data: str, out: str):
        from cbde_mapreduce_spark.sources import load_table

        if self.kind == "compact":
            return spark, os.path.join(data, f"{self.table}.parquet")
        return load_table(spark, data, self.table)

    def execute(self, handle, out: str):
        if self.kind == "compact":
            from cbde_mapreduce_spark.sources.compact import compact_files

            spark, src = handle
            return compact_files(spark, src, out, self.cols[0], rows_per_file=100_000)
        from cbde_mapreduce_spark.sources.zorder import write_zordered

        return write_zordered(handle, out, list(self.cols), n_files=4)

    def check(self, result, data: str, out: str, answers: dict) -> str | None:
        src = os.path.join(data, f"{self.table}.parquet")
        if src not in _SOURCE_DIGESTS:
            _SOURCE_DIGESTS[src] = table_digest(pq.read_table(src))
        got, want = table_digest(pq.read_table(out)), _SOURCE_DIGESTS[src]
        return None if got == want else f"written {got} != source {want}"


#: source table path -> (rows, hash); inputs never change within a run.
_SOURCE_DIGESTS: dict[str, tuple[int, int]] = {}


@dataclass(frozen=True)
class Workload:
    why: str
    #: fixture directory name (under ``inputs.FIXTURES`` unless the launcher
    #: is given ``--fixtures``) and how many key-offset replicas of it to make.
    fixture: str
    replicas: int
    ops: tuple
    #: False for a workload kept for the notes only (not in BENCHMARK.json).
    listed: bool = True


WORKLOADS: dict[str, Workload] = {
    "star_text": Workload(
        why="exec-heavy: parquet scan, shuffle joins, Python/Arrow text workers and collect; few build jobs",
        fixture="sf0.01",
        replicas=4,
        ops=tuple(
            Query(n)
            for n in (
                "q1_pricing_summary",
                "q3_shipping_priority",
                "dedup_exact_docs",
                "arrow_map_doc_stats",
                "udtf_analyze_ngrams",
                "arrow_grouped_minmax_norm",
            )
        ),
    ),
    "graph_stream": Workload(
        why="build-heavy: iterative graph rounds with eager jobs, persisted and streaming state, parquet writes",
        fixture="sf0.01",
        replicas=1,
        ops=(
            Query("bfs_hops_trade_graph"),
            Query("streaming_dedup_users"),
            Write("compact_lineitem", "compact", "lineitem", ("l_orderkey",)),
            Write("zorder_orders", "zorder", "orders", ("o_custkey", "o_totalprice")),
        ),
    ),
    "pagerank_sf01": Workload(
        why="notes only: fresh pagerank at sf0.1 against the warm re-execution figure of bench.py; needs --fixtures",
        fixture="sf0.1",
        replicas=1,
        ops=(Query("pagerank_trade_graph"),),
        listed=False,
    ),
}

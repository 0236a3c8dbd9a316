"""Graph analytics over the relational fixture (SURVEY.md §2 iterative).

PageRank is THE canonical iterative MapReduce benchmark (the original
motivating workload of the Pregel/iteration literature): each round is one
join (rank flows along edges) + one groupBy (sum incoming mass) — exactly
the shape of a chained MR job, with Spark keeping the loop in one lineage.

The graph is the customer↔supplier trade graph derived from
lineitem ⋈ orders (bipartite, symmetrized so every vertex has out-degree
≥ 1 — no dangling-mass correction needed). A FIXED iteration count keeps
the computation oracle-expressible: the DuckDB twin unrolls the same three
rounds as chained CTEs, so this iterative algorithm gets a full
value-hash differential check, not just a rows-only pass.

100 TB shape: per round, ranks shuffle once on the join key and the
contribution sum is map-side combinable; degree and rank tables are
vertex-sized (≪ edges). Convergence-to-fixpoint (vs fixed rounds) adds only
a driver-side delta check per round (same pattern as
operators/iterative.py::connected_components).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cbde_mapreduce_spark.operators.ckpt import RoundState, persist_disk, persist_mem
from cbde_mapreduce_spark.operators.gates import maybe_broadcast
from cbde_mapreduce_spark.plans.registry import query
from cbde_mapreduce_spark.sources import load_table

DAMPING = 0.85
N_ITERS = 3
TOP_N = 20

def _encoded_sym_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The symmetrized bipartite trade graph, shared by every builder that
    uses the 2k/2k+1 vertex encoding (pagerank, BFS, PPR, degree histogram,
    assortativity) — ADVICE r12: one home for the encoding AND the
    symmetrize-without-distinct invariant, so an encoding edit cannot
    silently desynchronize from the removed dedup.

    Customer vertices are even (o_custkey * 2), supplier vertices odd
    (l_suppkey * 2 + 1), so e0 (even→odd) and its reversal (odd→even) can
    never collide and each half is already distinct — the union IS a set
    and needs no ``.distinct()`` (the pre-r12 symmetrize-distinct shuffled
    and re-hashed 2|E| rows to remove zero duplicates). Pinned by
    tests/test_optimization_r12.py::test_trade_graph_symmetrize_halves_disjoint,
    which exercises THIS function.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("a"),
            (F.col("l_suppkey") * 2 + 1).alias("b"),
        )
        # a graph edge needs both endpoints: NULL FKs (dirty data) must not
        # mint a NULL vertex (NULL-FK value-parity sweep)
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
    )
    return e0.unionByName(e0.select(F.col("b").alias("a"), F.col("a").alias("b")))


_PR_ORACLE = f"""
    WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL),
    e AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
    v AS (SELECT DISTINCT a AS v FROM e),
    nn AS (SELECT count(*)::double AS n FROM v),
    deg AS (SELECT a, count(*)::double AS d FROM e GROUP BY a),
    r0 AS (SELECT v, 1.0 / (SELECT n FROM nn) AS r FROM v),
    r1 AS (SELECT e.b AS v,
                  {1 - DAMPING} / (SELECT n FROM nn)
                  + {DAMPING} * sum(r0.r / deg.d) AS r
           FROM e JOIN r0 ON r0.v = e.a JOIN deg ON deg.a = e.a
           GROUP BY e.b),
    r2 AS (SELECT e.b AS v,
                  {1 - DAMPING} / (SELECT n FROM nn)
                  + {DAMPING} * sum(r1.r / deg.d) AS r
           FROM e JOIN r1 ON r1.v = e.a JOIN deg ON deg.a = e.a
           GROUP BY e.b),
    r3 AS (SELECT e.b AS v,
                  {1 - DAMPING} / (SELECT n FROM nn)
                  + {DAMPING} * sum(r2.r / deg.d) AS r
           FROM e JOIN r2 ON r2.v = e.a JOIN deg ON deg.a = e.a
           GROUP BY e.b)
    SELECT v, round(r, 6) AS pr
    FROM r3
    ORDER BY round(r, 6) DESC, v
    LIMIT {TOP_N}
"""


@query("pagerank_trade_graph", oracle=_PR_ORACLE, category="graph")
def pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round PageRank (d=0.85) on the symmetrized customer↔supplier trade
    graph; top-20 vertices by rounded rank (tiebreak: vertex id).

    Ranks are rounded BEFORE the final sort so cross-engine float noise
    (~1e-15 from summation order) cannot reorder near-ties at the cutoff.
    """
    e = _encoded_sym_edges(spark, sf_dir)
    # edges drive every round: materialize once, reuse three times — laid
    # out partitioned+sorted on the round join key, so deg's groupBy, the
    # vertex distinct and every round's rank join read the cache with no
    # exchange and no per-round sort (the one shuffle left per round is the
    # irreducible contribution groupBy(v))
    e = e.repartition("a").sortWithinPartitions("a", "b").cache()
    verts = e.select(F.col("a").alias("v")).distinct()
    # vertex count as a broadcast one-row scalar, NOT a driver-side
    # .count(): the eager count executed the whole edge build at
    # plan-construction time (~5 s of the bench's planning_sec at sf0.1,
    # and a blocking driver round-trip before the plan even exists at
    # cluster scale); as a scalar it rides the cached edge set inside the
    # executed plan. greatest(n, 1) keeps the constants finite on an
    # empty graph (every frame is empty anyway). Same IEEE doubles as the
    # old driver-side literals: both paths divide the identical operands.
    nn = F.broadcast(
        verts.agg(F.greatest(F.count(F.lit(1)), F.lit(1)).alias("nv"))
    )
    deg = e.groupBy("a").agg(F.count(F.lit(1)).cast("double").alias("d"))

    ranks = verts.crossJoin(nn).select(
        "v", (F.lit(1.0) / F.col("nv")).alias("r")
    )
    for _ in range(N_ITERS):
        contrib = (
            e.join(ranks.withColumnRenamed("v", "a"), "a")
            .join(deg, "a")
            .select(F.col("b").alias("v"), (F.col("r") / F.col("d")).alias("c"))
        )
        ranks = (
            contrib.groupBy("v")
            .agg(F.sum("c").alias("sc"))
            .crossJoin(nn)
            .select(
                "v",
                (
                    F.lit(1.0 - DAMPING) / F.col("nv")
                    + F.lit(DAMPING) * F.col("sc")
                ).alias("r"),
            )
        )
    return (
        ranks.select("v", F.round("r", 6).alias("pr"))
        .orderBy(F.desc("pr"), F.asc("v"))
        .limit(TOP_N)
    )


CO_OCCUR_MIN = 30  # edge = supplier pair sharing >= this many orders (sf0.01-tuned)


@query(
    "triangle_count_cosupplier",
    oracle=f"""
        WITH os AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem),
        e AS (SELECT x.s AS a, y.s AS b
              FROM os x JOIN os y ON x.o = y.o AND x.s < y.s
              GROUP BY 1, 2 HAVING count(*) >= {CO_OCCUR_MIN})
        SELECT (SELECT count(*) FROM e)::bigint AS n_edges,
               count(*)::bigint AS n_triangles
        FROM e e1
        JOIN e e2 ON e1.b = e2.a
        JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b
    """,
    category="graph",
)
def triangle_count_cosupplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting (the second canonical MR graph benchmark after
    PageRank) on the supplier co-occurrence graph: an edge links suppliers
    that ship in >= CO_OCCUR_MIN common orders; triangles are closed trios.

    Classic two-join algorithm on id-oriented edges (a < b): wedges
    (a→b)⋈(b→c) closed by probing (a→c). Orientation makes every triangle
    count exactly once with no direction dedup. At 100 TB one orients by
    DEGREE instead of id (highest-degree vertex last), which bounds each
    vertex's out-list by √|E| and tames the wedge blow-up on skewed graphs —
    same join shape, different orientation key. Edge building groups the
    (order, supplier) incidence list on the order key, so the shuffle moves
    incidence pairs, never the n² supplier matrix.
    """
    li = load_table(spark, sf_dir, "lineitem")
    os_ = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s")
    ).distinct()
    x, y = os_.alias("x"), os_.alias("y")
    e = (
        x.join(y, (F.col("x.o") == F.col("y.o")) & (F.col("x.s") < F.col("y.s")))
        .groupBy(F.col("x.s").alias("a"), F.col("y.s").alias("b"))
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= CO_OCCUR_MIN)
        .select("a", "b")
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(e3, (F.col("e1.a") == F.col("e3.a")) & (F.col("e2.b") == F.col("e3.b")))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    n_edges = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return n_edges.crossJoin(tri)


_BFS_ROUNDS = 3
_BFS_SOURCE = 0  # customer 0's vertex id in the 2k/2k+1 encoding

_BFS_ORACLE = f"""
    WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL),
    e AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
    s0 AS (SELECT {_BFS_SOURCE}::bigint AS v),
    n1 AS (SELECT DISTINCT e.b AS v FROM e JOIN s0 ON e.a = s0.v),
    s1 AS (SELECT v FROM s0 UNION SELECT v FROM n1),
    n2 AS (SELECT DISTINCT e.b AS v FROM e JOIN s1 ON e.a = s1.v),
    s2 AS (SELECT v FROM s1 UNION SELECT v FROM n2),
    n3 AS (SELECT DISTINCT e.b AS v FROM e JOIN s2 ON e.a = s2.v),
    s3 AS (SELECT v FROM s2 UNION SELECT v FROM n3),
    lv AS (SELECT v, CASE WHEN v IN (SELECT v FROM s0) THEN 0
                          WHEN v IN (SELECT v FROM s1) THEN 1
                          WHEN v IN (SELECT v FROM s2) THEN 2
                          ELSE 3 END AS hop
           FROM s3)
    SELECT hop, count(*) AS n_vertices, min(v) AS min_v, max(v) AS max_v
    FROM lv GROUP BY hop
"""


@query("bfs_hops_trade_graph", oracle=_BFS_ORACLE, category="graph")
def bfs_hops_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first search layers from one vertex of the trade graph —
    three frontier-expansion rounds, reporting per-hop layer sizes.

    The iterative-join MR chain: each round is frontier ⋈ edges (one shuffle
    on the frontier key) + anti-join against the visited set, with
    localCheckpoint truncating lineage per round (same discipline as
    operators/iterative.py::connected_components — without it the plan
    doubles per round). The DuckDB twin unrolls the same rounds as chained
    CTEs, so the iteration gets a full value-hash check.

    100 TB shape: frontier and visited are vertex-sized. The frontier is
    broadcast only while it is MEASURED small (operators/gates.py::
    maybe_broadcast, counted per round off the checkpointed visited set —
    the count reads storage blocks, not lineage); past the gate it falls
    back to a shuffle join on the edge's source endpoint, because on a
    power-law graph the hop-2/3 frontier can approach O(V), which must
    never be broadcast. Each round's frontier is READ OFF the round's
    visited checkpoint (hop == k), so its lineage is one block scan — not a
    recursive chain of every prior round's join — and the superseded
    visited checkpoint is released as soon as the next one materializes
    (operators/ckpt.py::RoundState), bounding a long session to one round
    of state per query.
    """
    with RoundState() as rs:
        e = rs.hold(
            _encoded_sym_edges(spark, sf_dir)
            # partition+sort on the frontier-join key BEFORE materializing:
            # persist (NOT localCheckpoint, which records UnknownPartitioning
            # under AQE — operators/ckpt.py::persist_disk) keeps the layout,
            # so each round past the broadcast gate joins the edge set with
            # no exchange and no sort (r12 plan A/B); DISK_ONLY keeps the
            # data-sized edge set off the unified memory pool
            .repartition("a")
            .sortWithinPartitions("a", "b")
            .transform(persist_disk)
        )
        visited = spark.range(1).select(
            F.lit(_BFS_SOURCE).cast("long").alias("v"), F.lit(0).alias("hop")
        )
        frontier = visited.select("v")
        n_frontier = 1
        for k in range(1, _BFS_ROUNDS + 1):
            fr = maybe_broadcast(frontier, n_frontier)
            nxt = (
                e.join(fr, e.a == fr.v)
                .select(F.col("b").alias("v"))
                .distinct()
            )
            new = nxt.join(visited, "v", "left_anti").withColumn("hop", F.lit(k))
            visited = rs.step(visited.unionByName(new))
            # frontier re-read from THIS round's checkpoint: one block scan,
            # no recursive per-round join chain; its count drives the gate
            frontier = visited.filter(F.col("hop") == k).select("v")
            n_frontier = frontier.count()
        return rs.keep(visited).groupBy("hop").agg(
            F.count(F.lit(1)).alias("n_vertices"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        )


_DEGREE_ORACLE = """
    WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL),
    e AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
    d AS (SELECT a AS v, count(*) AS deg FROM e GROUP BY a)
    SELECT deg, count(*) AS n_vertices,
           min(v) AS min_v, max(v) AS max_v
    FROM d GROUP BY deg
"""


@query("degree_histogram_trade_graph", oracle=_DEGREE_ORACLE, category="graph")
def degree_histogram_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the symmetrized trade graph — the first
    diagnostic of any graph workload (skew detection: the max-degree tail
    decides whether pagerank/triangle joins need salting). Two combinable
    aggregations riding one shuffle each over the edge list; completes the
    graph family (pagerank, triangles, BFS, components, degrees)."""
    # the degree groupBy's partial aggregation is the only shuffle the
    # symmetrized union feeds (shared build: _encoded_sym_edges)
    e = _encoded_sym_edges(spark, sf_dir)
    d = e.groupBy(F.col("a").alias("v")).agg(F.count(F.lit(1)).alias("deg"))
    return d.groupBy("deg").agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )


_PPR_SOURCE = 0  # customer 0's vertex
_PPR_ORACLE = f"""
    WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL),
    e AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
    deg AS (SELECT a, count(*)::double AS d FROM e GROUP BY a),
    r0 AS (SELECT {_PPR_SOURCE}::bigint AS v, 1.0 AS r),
    r1 AS (SELECT e.b AS v,
                  CASE WHEN e.b = {_PPR_SOURCE} THEN {1 - DAMPING} ELSE 0 END
                  + {DAMPING} * sum(r0.r / deg.d) AS r
           FROM e JOIN r0 ON r0.v = e.a JOIN deg ON deg.a = e.a
           GROUP BY e.b),
    r2 AS (SELECT e.b AS v,
                  CASE WHEN e.b = {_PPR_SOURCE} THEN {1 - DAMPING} ELSE 0 END
                  + {DAMPING} * sum(r1.r / deg.d) AS r
           FROM e JOIN r1 ON r1.v = e.a JOIN deg ON deg.a = e.a
           GROUP BY e.b),
    r3 AS (SELECT e.b AS v,
                  CASE WHEN e.b = {_PPR_SOURCE} THEN {1 - DAMPING} ELSE 0 END
                  + {DAMPING} * sum(r2.r / deg.d) AS r
           FROM e JOIN r2 ON r2.v = e.a JOIN deg ON deg.a = e.a
           GROUP BY e.b)
    SELECT v, round(r, 6) AS ppr
    FROM r3 WHERE round(r, 6) > 0
    ORDER BY round(r, 6) DESC, v LIMIT {TOP_N}
"""


@query("ppr_trade_recommendations", oracle=_PPR_ORACLE, category="graph")
def ppr_trade_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from one customer vertex — the graph-proximity
    recommender primitive ("suppliers/customers most relevant to THIS
    entity"). Identical round structure to pagerank_trade_graph with one
    change: teleport mass returns to the SOURCE, not uniformly — so rank
    concentrates in the source's neighborhood and far vertices stay 0
    (pruned before the rounded top-20). Same per-round cost (one edge join
    + combinable sum); the rank table is only the reached neighborhood,
    SMALLER than global PageRank's — personalization is cheaper, not
    dearer, at scale."""
    with RoundState() as rs:
        e = rs.hold(
            _encoded_sym_edges(spark, sf_dir)
            # partition+sort on the round join key before materializing:
            # persist (NOT localCheckpoint — UnknownPartitioning under AQE,
            # see operators/ckpt.py::persist_disk) keeps the layout, so deg's
            # groupBy and every past-the-gate round join read the blocks with
            # no exchange and no sort. DISK_ONLY: the edge set is data-sized;
            # at the default storage level its blocks pin the memory pool and
            # starve every later aggregation that scans it (SCALING.md r7)
            .repartition("a")
            .sortWithinPartitions("a", "b")
            .transform(persist_disk)
        )
        # vertex-sized; materialized so the |E|-row aggregation runs ONCE,
        # not inside every round's broadcast build. persist, NOT
        # localCheckpoint (r13): the groupBy lays deg out on the round join
        # key a, and the persisted relation KEEPS that layout under AQE, so
        # the past-the-gate rank⋈deg join is exchange-free on the deg side
        deg = e.groupBy("a").agg(F.count(F.lit(1)).cast("double").alias("d"))
        deg = rs.hold(persist_mem(deg))
        deg.count()  # materialize
        ranks = spark.range(1).select(
            F.lit(_PPR_SOURCE).cast("long").alias("v"), F.lit(1.0).alias("r")
        )
        teleport = F.when(F.col("v") == _PPR_SOURCE, F.lit(1.0 - DAMPING)).otherwise(
            F.lit(0.0)
        )
        n_ranks = 1
        for i in range(N_ITERS):
            # the reached rank table starts neighborhood-sized, so while it
            # is MEASURED small (counted off the previous round's state) it
            # BROADCASTS into both the degree lookup and the edge scan — one
            # pass over deg + one over e per round, no re-shuffle of the
            # data-sized edge set; without the hint the optimizer shuffled
            # all |E| edges every iteration (~2.4B edge rows per measurement
            # at 100× replication, SCALING.md r6). After N hops of a dense
            # power-law graph the reached set can approach O(V): past the
            # gate both joins shuffle on the vertex key. rd has one row per
            # reached vertex (deg is keyed by a), so n_ranks bounds it too.
            ra = maybe_broadcast(ranks.withColumnRenamed("v", "a"), n_ranks)
            rd = ra.join(deg, "a").select(
                "a", (F.col("r") / F.col("d")).alias("c0")
            )
            contrib = e.join(maybe_broadcast(rd, n_ranks), "a").select(
                F.col("b").alias("v"), F.col("c0").alias("c")
            )
            agg = contrib.groupBy("v").agg(
                (teleport + F.lit(DAMPING) * F.sum("c")).alias("r")
            )
            # intermediate rounds keep the groupBy's hash(v) layout for the
            # next round's joins; the final round truncates (RoundState)
            ranks = rs.step(agg, persist=i < N_ITERS - 1)
            n_ranks = rs.rows
        return (
            rs.keep(ranks)
            .select("v", F.round("r", 6).alias("ppr"))
            .filter(F.col("ppr") > 0)
            .orderBy(F.desc("ppr"), F.asc("v"))
            .limit(TOP_N)
        )


SSSP_SOURCE = 2  # customer 1's vertex id (o_custkey * 2)
SSSP_ROUNDS = 4
SSSP_TOP = 100

_SSSP_ORACLE = f"""
    WITH l AS (SELECT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b,
                      count(*)::bigint AS cnt
               FROM lineitem JOIN orders ON l_orderkey = o_orderkey
               GROUP BY 1, 2),
    w0 AS (SELECT a, b, (100 + cnt - 1) // cnt AS w FROM l),
    e AS (SELECT a, b, w FROM w0 UNION ALL SELECT b, a, w FROM w0),
    d0 AS (SELECT {SSSP_SOURCE}::bigint AS v, 0::bigint AS dist),
    d1 AS (SELECT v, min(dist) AS dist FROM (
               SELECT v, dist FROM d0
               UNION ALL
               SELECT e.b AS v, d0.dist + e.w AS dist
               FROM e JOIN d0 ON e.a = d0.v) GROUP BY v),
    d2 AS (SELECT v, min(dist) AS dist FROM (
               SELECT v, dist FROM d1
               UNION ALL
               SELECT e.b AS v, d1.dist + e.w AS dist
               FROM e JOIN d1 ON e.a = d1.v) GROUP BY v),
    d3 AS (SELECT v, min(dist) AS dist FROM (
               SELECT v, dist FROM d2
               UNION ALL
               SELECT e.b AS v, d2.dist + e.w AS dist
               FROM e JOIN d2 ON e.a = d2.v) GROUP BY v),
    d4 AS (SELECT v, min(dist) AS dist FROM (
               SELECT v, dist FROM d3
               UNION ALL
               SELECT e.b AS v, d3.dist + e.w AS dist
               FROM e JOIN d3 ON e.a = d3.v) GROUP BY v)
    SELECT v, dist::bigint AS dist
    FROM d4 ORDER BY dist, v LIMIT {SSSP_TOP}
"""


@query("sssp_trade_graph", oracle=_SSSP_ORACLE, category="graph")
def sssp_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths on the trade graph: 4 rounds of
    distributed Bellman-Ford relaxation from customer 1's vertex; 100
    closest vertices. Edge cost = ⌈100 / link-count⌉ (stronger trading
    relationships are cheaper), kept INTEGER so path sums are cross-engine
    exact — float path costs would accumulate summation-order noise.

    Each round is one join (propagate dist along edges) + one
    map-side-combinable groupBy(min) — the canonical iterative-MR shape,
    same as PageRank but with (min, +) replacing (sum, ×) as the semiring.
    The fixed round count keeps the DuckDB twin an unrolled CTE so this
    iterative algorithm gets a full value-hash check; the
    converge-to-fixpoint variant adds only a scalar delta check per round
    (operators/iterative.py::connected_components pattern). Edges are
    materialized once, partitioned+sorted on the relaxation key, and reused
    by every round (persist_disk — same rationale as BFS); dist tables stay
    vertex-sized.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            (F.col("o_custkey") * 2).alias("a"),
            (F.col("l_suppkey") * 2 + 1).alias("b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    w0 = l.select("a", "b", F.expr("(100 + cnt - 1) div cnt").alias("w"))
    with RoundState() as rs:
        e = rs.hold(
            w0.unionByName(w0.select(F.col("b").alias("a"), F.col("a").alias("b"), "w"))
            # partition+sort on the relaxation join key before materializing:
            # persist (NOT localCheckpoint — UnknownPartitioning under AQE,
            # see operators/ckpt.py::persist_disk) keeps the layout, so each
            # of the 4 rounds joins the edge set with no exchange and no sort
            # — the old layout re-shuffled all |E| rows every round (r12 A/B)
            .repartition("a")
            .sortWithinPartitions("a", "b")
            .transform(persist_disk)  # DISK_ONLY: data-sized
        )
        dist = spark.range(1).select(
            F.lit(SSSP_SOURCE).cast("bigint").alias("v"),
            F.lit(0).cast("bigint").alias("dist"),
        )
        for i in range(SSSP_ROUNDS):
            relaxed = e.join(dist.withColumnRenamed("v", "a"), "a").select(
                F.col("b").alias("v"), (F.col("dist") + F.col("w")).alias("dist")
            )
            agg = (
                dist.unionByName(relaxed)
                .groupBy("v")
                .agg(F.min("dist").cast("bigint").alias("dist"))
            )
            # intermediate rounds keep the relaxation groupBy's hash(v)
            # layout for the next round's edge join (r13: 2 exchanges/round
            # -> 1 under production AQE); the final round truncates, its
            # consumer being a layout-indifferent TakeOrdered (RoundState)
            dist = rs.step(agg, persist=i < SSSP_ROUNDS - 1)
        return rs.keep(dist).orderBy(F.asc("dist"), F.asc("v")).limit(SSSP_TOP)


@query(
    "clustering_coeff_cosupplier",
    oracle=f"""
        WITH os AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem),
        e0 AS (SELECT x.s AS a, y.s AS b
               FROM os x JOIN os y ON x.o = y.o AND x.s < y.s
               GROUP BY 1, 2 HAVING count(*) >= {CO_OCCUR_MIN}),
        e AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
        deg AS (SELECT a AS v, count(*)::bigint AS d FROM e GROUP BY a),
        tri AS (SELECT t.a AS v, count(*)::bigint AS t2
                FROM e t JOIN e0 uw ON t.b = uw.a
                         JOIN e0 chk ON chk.a = least(t.a, uw.b)
                                    AND chk.b = greatest(t.a, uw.b)
                WHERE t.a <> uw.b
                GROUP BY t.a)
        SELECT deg.v, deg.d,
               coalesce(tri.t2, 0) / 2 AS triangles,
               round(coalesce(tri.t2, 0) / (deg.d * (deg.d - 1.0)), 6)
                 AS clustering_coeff
        FROM deg LEFT JOIN tri ON deg.v = tri.v
        WHERE deg.d >= 2
    """,
    category="graph",
)
def clustering_coeff_cosupplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per vertex of the co-supplier graph:
    2·triangles(v) / (d(v)·(d(v)−1)) — how close each supplier's
    neighborhood is to a clique (the community-structure probe on top of
    the global triangle count).

    Triangles through v = closed wedges centered anywhere: enumerate
    2-paths (v–u, u–w) on the symmetrized edge list, close them against
    the ordered edge set via (least, greatest) — each triangle at v is
    counted twice (once per wedge orientation), hence the /2. Same
    wedge-join shape as triangle_count_cosupplier, plus a vertex-sized
    degree join; at 100 TB the wedge join is the known cost and the
    standard mitigations (degree-ordered orientation) apply unchanged.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    os_ = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s")
    ).distinct()
    x = os_.alias("x")
    y = os_.alias("y")
    e0 = (
        x.join(y, (F.col("x.o") == F.col("y.o")) & (F.col("x.s") < F.col("y.s")))
        .groupBy(F.col("x.s").alias("a"), F.col("y.s").alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= CO_OCCUR_MIN)
        .select("a", "b")
    )
    e = e0.unionByName(e0.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = e.groupBy(F.col("a").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    t = e.alias("t")
    uw = e0.alias("uw")
    chk = e0.alias("chk")
    tri = (
        t.join(uw, F.col("t.b") == F.col("uw.a"))
        .filter(F.col("t.a") != F.col("uw.b"))
        .join(
            chk,
            (F.col("chk.a") == F.least(F.col("t.a"), F.col("uw.b")))
            & (F.col("chk.b") == F.greatest(F.col("t.a"), F.col("uw.b"))),
        )
        .groupBy(F.col("t.a").alias("v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("t2"))
    )
    return (
        deg.join(tri, "v", "left")
        .filter(F.col("d") >= 2)
        .select(
            "v",
            "d",
            (F.coalesce(F.col("t2"), F.lit(0)) / 2).alias("triangles"),
            F.round(
                F.coalesce(F.col("t2"), F.lit(0))
                / (F.col("d") * (F.col("d") - 1.0)),
                6,
            ).alias("clustering_coeff"),
        )
    )


_HITS_TOP = 15

_HITS_ORACLE = f"""
    WITH e AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
               FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    a1 AS (SELECT s, count(*)::bigint AS a FROM e GROUP BY s),
    h1 AS (SELECT c, sum(a1.a)::bigint AS h
           FROM e JOIN a1 USING (s) GROUP BY c),
    a2 AS (SELECT s, sum(h1.h::decimal(38,0)) AS a
           FROM e JOIN h1 USING (c) GROUP BY s)
    SELECT s AS suppkey,
           round(a::double / (SELECT sum(a) FROM a2)::double, 6) AS authority
    FROM a2
    ORDER BY round(a::double / (SELECT sum(a) FROM a2)::double, 6) DESC, s
    LIMIT {_HITS_TOP}
"""


@query("hits_authority_suppliers", oracle=_HITS_ORACLE, category="graph")
def hits_authority_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg) on the bipartite customer→supplier trade graph:
    customers are hubs, suppliers are authorities. One full hub↔authority
    iteration with L1 normalization (init hub=1, so authority¹ = in-degree),
    top-15 suppliers by the round-2 authority score.

    Completes the link-analysis trio beside pagerank_trade_graph (global)
    and personalized_pagerank (seeded). Each half-step is one shuffle of the
    incidence list joined against the previous score vector; the L1
    normalizers are single-row aggregates broadcast back — the same
    scale shape as a PageRank round, alternating over the two vertex
    classes. Scores round to 6 dp before the final sort so cross-engine
    summation-order noise cannot reorder the cutoff.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # Cache laid out on the HUB key c, with the incidence dedup riding the
    # layout exchange: hashpartitioning(c) satisfies the (c, s) clustering
    # requirement of dropDuplicates, so |E| crosses the network exactly ONCE
    # to both dedup and lay out the cache (r13 probe; the r12 s-layout paid
    # distinct + repartition = two |E| moves and its target — a1's groupBy
    # and the e ⋈ a1 join — was already cheap because a1 is a broadcast-
    # sized supplier dimension at every scale). On the c-layout, h1's
    # groupBy("c") is exchange-free (partial+final aggregate adjacent over
    # the cache — verified in plans/r13/hits_authority_suppliers_after.txt)
    # and the remaining exchanges are the two vertex-sized, map-side-
    # combined score shuffles (a1's and a2's groupBy) — the alternation
    # itself. No sortWithinPartitions: every join here is broadcast-hash,
    # so an in-partition order would cost a build sort and buy nothing.
    e = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .repartition("c")
        .dropDuplicates(["c", "s"])
        .cache()
    )
    # The L1 normalizers CANCEL through the hub/authority alternation, so
    # both half-steps ride EXACT integers (money.py round-11: the old
    # per-row ratio sums were scheduler-order double accumulation):
    # authority^2(s) proportional to sum over s's customers of their
    # integer hub mass, normalized ONCE in the final deterministic
    # division. decimal(38,0) on the last sum: hub masses are
    # incidence-sized, their per-supplier sums square that.
    a1 = e.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("a"))
    h1 = e.join(a1, "s").groupBy("c").agg(F.sum("a").alias("h"))
    a2 = e.join(h1, "c").groupBy("s").agg(
        F.sum(F.col("h").cast("decimal(38,0)")).alias("a")
    )
    a2t = a2.agg(F.sum("a").alias("at"))
    return (
        a2.crossJoin(F.broadcast(a2t))
        .select(
            F.col("s").alias("suppkey"),
            F.round(
                F.col("a").cast("double") / F.col("at").cast("double"), 6
            ).alias("authority"),
        )
        .orderBy(F.desc("authority"), F.asc("suppkey"))
        .limit(_HITS_TOP)
    )


_ASSORT_ORACLE = """
    WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL),
    e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
    deg AS (SELECT a AS v, count(*)::bigint AS d FROM e GROUP BY a),
    m AS (SELECT count(*)::double AS n,
                 sum(da.d)::double AS sa, sum(db.d)::double AS sb,
                 sum((da.d * da.d)::decimal(38,0))::double AS saa,
                 sum((db.d * db.d)::decimal(38,0))::double AS sbb,
                 sum((da.d * db.d)::decimal(38,0))::double AS sab
          FROM e JOIN deg da ON e.a = da.v
                 JOIN deg db ON e.b = db.v)
    SELECT n::bigint AS n_directed_edges,
           round(CASE WHEN n < 2 OR n * saa - sa * sa <= 0
                        OR n * sbb - sb * sb <= 0 THEN NULL
                      ELSE (n * sab - sa * sb)
                           / sqrt((n * saa - sa * sa)
                                  * (n * sbb - sb * sb)) END, 6)
             AS assortativity
    FROM m
"""


@query("degree_assortativity", oracle=_ASSORT_ORACLE, category="graph")
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the symmetrized trade graph: the Pearson
    correlation of endpoint degrees over all directed edges (Newman's r) —
    negative r means hubs attach to leaves (the usual shape of bipartite-
    projected commerce graphs), and it is the one-number summary that
    predicts whether degree-based partitioning will skew.

    Degrees are one combinable groupBy; the edge list then joins the
    degree table twice (both sides dimension-sized after aggregation) and
    the correlation is a single combinable co-moment aggregate — three
    shuffles total, none wider than the edge list. The ratio is composed
    as try_divide(covar_samp, stddev·stddev) rather than F.corr: under
    ANSI mode Spark's corr RAISES on a zero-variance regular graph (every
    endpoint the same degree — the extreme-skew sweep's one-hot-key
    fixture), while DuckDB's corr yields NULL; try_divide reproduces the
    NULL. Completes the graph-statistics
    set beside degree_distribution, clustering coefficient, and triangles.
    """
    # deg's partial aggregation is the only shuffle the symmetrized union
    # feeds (shared build: _encoded_sym_edges)
    e = _encoded_sym_edges(spark, sf_dir)
    deg = e.groupBy(F.col("a").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    j = e.join(da, "a").join(db, "b")
    # Newman's r from EXACT integer degree moments (money.py round-11):
    # covar_samp/stddev_samp merged double co-moments in scheduler order;
    # the closed form below is one deterministic expression over exact
    # bigint/decimal sums, NULL on a degree-regular graph exactly like
    # the old try_divide(0-variance) path.
    m = j.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("da").cast("double").alias("sa"),
        F.sum("db").cast("double").alias("sb"),
        F.sum((F.col("da") * F.col("da")).cast("decimal(38,0)"))
        .cast("double")
        .alias("saa"),
        F.sum((F.col("db") * F.col("db")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sbb"),
        F.sum((F.col("da") * F.col("db")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sab"),
    )
    dx = F.col("n") * F.col("saa") - F.col("sa") * F.col("sa")
    dy = F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb")
    return m.select(
        F.col("n").cast("bigint").alias("n_directed_edges"),
        F.round(
            F.when((F.col("n") < 2) | (dx <= 0) | (dy <= 0), F.lit(None))
            .otherwise(
                (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb"))
                / F.sqrt(dx * dy)
            ),
            6,
        ).alias("assortativity"),
    )

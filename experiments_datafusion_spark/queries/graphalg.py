"""Graph analytics over an event-derived interaction graph — PageRank and
triangle counting, the two classic "iterative + join-shaped" algorithms a
data-curation stack runs on top of its pair graphs (reference parity: the
DataFusion surface has no graph operators; these extend the round-2
connected-components story from SURVEY.md §2C Graph/analytics).

Graph derivation (deterministic, oracle-replayable): within each
(event_type, event date) stream ordered by (ts, event_id), consecutive
users are linked — "u acted right before v in the same context".  The
date term keeps every window partition bounded at scale: partitions are
(types x days), never (types), so a 100 TB events table still sorts each
partition in memory (drop to (type, hour) when daily volume outgrows an
executor; edges crossing the boundary are dropped identically in both
engines, a documented trade).

PageRank (graph_pagerank):
  * standard damped formulation, d=0.85, FIXED 5 iterations so the DuckDB
    oracle can unroll them as chained CTEs (same trick as ml.py k-means);
  * ranks are carried as INTEGER PICOUNITS end-to-end (round-3 ADVICE):
    init = 1e12 div n, contribution = rank_u div outdeg, damping =
    (sum * 85) div 100, base = 15e10 div n — every op is integer
    arithmetic below 2^53 in both engines, so iterations are exact by
    construction (no round(double) anywhere in the loop, hence no
    probabilistic half-boundary risk however many nodes x iterations);
    the final 6dp rendering uses the exact.py integer recipe.  The div
    flooring loses < 1e-12 of mass per term vs true PageRank — far below
    the 6dp output resolution;
  * dangling mass (users with no out-edge) is dropped, not redistributed —
    simpler, identical in both engines, standard for differential tests;
  * scale shape: each iteration is ONE shuffle join (edges x ranks on src)
    plus one aggregate — the Pregel-on-DataFrames dataflow; ranks/degrees
    shuffle on the node key, nothing is collected, and localCheckpoint
    truncates the growing lineage exactly like operators/graph.py.

Triangle counting (graph_triangles): degree-ordered orientation — each
undirected edge points from its lower-(degree, id) endpoint — then a
wedge join (e1.u = e2.u) closed against the undirected edge set.  Every
triangle is counted exactly once at its minimum-(degree, id) apex, and
orientation bounds the join fan-out by the graph's arboricity (the
classic trick that makes triangle counting feasible on power-law graphs
at scale; all-integer logic, so the oracle needs no rounding at all).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from experiments_datafusion_spark import exact as _X
from experiments_datafusion_spark.io import table
from experiments_datafusion_spark.queries import register

DAMP = 0.85
PR_ITERS = 5

# Shared edge derivation: consecutive users per (event_type, day) stream.
_SQL_EDGE_CTE = """
hops AS (
  SELECT user_id AS src,
         lead(user_id) OVER (
           PARTITION BY event_type, CAST(ts AS DATE)
           ORDER BY ts, event_id) AS dst
  FROM events
),
edges AS (
  SELECT DISTINCT src, dst FROM hops WHERE dst IS NOT NULL AND dst <> src
)
"""


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type", F.to_date("ts")).orderBy("ts", "event_id")
    hops = ev.select(
        F.col("user_id").alias("src"),
        F.lead("user_id").over(w).alias("dst"),
    )
    return hops.where(F.col("dst").isNotNull() & (F.col("dst") != F.col("src"))).distinct()


def _pagerank_oracle() -> str:
    from experiments_datafusion_spark.exact import sql_exact_round

    ctes = [
        _SQL_EDGE_CTE.strip(),
        """nodes AS (
  SELECT DISTINCT node FROM (SELECT src AS node FROM edges
                             UNION ALL SELECT dst FROM edges)
),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
nn AS (SELECT count(*) AS n FROM nodes),
r0 AS (SELECT node, 1000000000000 // (SELECT n FROM nn) AS rank_u
       FROM nodes)""",
    ]
    for it in range(PR_ITERS):
        ctes.append(
            f"""r{it + 1} AS (
  SELECT nodes.node,
         150000000000 // (SELECT n FROM nn)
           + (CAST(coalesce(inc.s_u, 0) AS BIGINT) * 85) // 100 AS rank_u
  FROM nodes
  LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank_u // d.outdeg) AS s_u
    FROM edges e
    JOIN r{it} r ON r.node = e.src
    JOIN deg d ON d.src = e.src
    GROUP BY e.dst) inc USING (node))"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT node AS user_id, {sql_exact_round('rank_u', 12, 6)} AS pagerank
FROM r{PR_ITERS}
ORDER BY pagerank DESC, user_id ASC
LIMIT 20"""
    )


@register("graph_pagerank", tags=("graph", "iterative"), oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank, 5 unrolled iterations, over the (event_type, day)
    succession graph; top-20 users by rank."""
    edges = _edges(spark, sf_dir).localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()  # one scalar — the documented codebook-style exception

    base_u = 150_000_000_000 // n  # 0.15/n in picounits, floored like the SQL
    rank0 = 10**12 // n
    # Round 13 (optimization): iterate on the INCOMING-SUM relation only and
    # join the full node set ONCE at the end, instead of rebuilding the
    # nodes-keyed ranks table every iteration.  rank_i(v) = base_u +
    # floor(0.85 * inc_i(v)) with inc(v) = 0 for nodes without in-edges, so
    # the per-iteration nodes LEFT JOIN (an n_nodes-row sort-merge join +
    # its exchange, 5x) is algebraically redundant: the next iteration only
    # ever looks ranks up BY SRC, and a missing inc row means base_u —
    # exactly what the left join + coalesce(0) below reconstructs.  A/B at
    # sf0.1 (interleaved, 3 reps): old form best 4.47 s, this form best
    # 2.68 s, outputs identical row-for-row (and the unchanged DuckDB
    # oracle re-verifies exact equality).  Scale shape is unchanged: one
    # edges-x-ranks join plus one dst-keyed aggregate per iteration; the
    # dropped join removes an n_nodes shuffle per iteration at any scale.
    # NO per-iteration checkpoint (round 12): with edges/nodes pinned, the
    # 5-deep iteration plan optimizes and executes as ONE job, and the five
    # eager checkpoint jobs it replaces were pure scheduling floor.
    # Round 14: the unrolled iterations build as ONE spark.sql() program
    # over the pinned edges and nodes, passed in as its {edges} / {nodes}
    # arguments, instead of ~20 chained DataFrame ops (each op paid a py4j
    # round trip + eager re-analysis of the growing 5-iteration tree); the
    # arithmetic is the exact-integer-division replica of the old idiv() —
    # ((a - a%b)/b) cast long — term for term.  The program text goes
    # through str.format: placeholders are {edges} in the plain strings
    # and {{nodes}} in the f-string.

    def idiv_sql(a: str, b: str) -> str:
        # exact integer division on longs: a - a%b is an exact multiple of
        # b (< 2^53), so the IEEE quotient is the exact integer
        return f"CAST((({a}) - ({a}) % ({b})) / ({b}) AS BIGINT)"

    damped = idiv_sql("coalesce(i.s_u, CAST(0 AS BIGINT)) * 85", "100")
    ctes = [
        "deg AS (SELECT src, count(*) AS outdeg FROM {edges} GROUP BY src)",
        """cs AS (
  SELECT e.src, e.dst, d.outdeg
  FROM {edges} e JOIN deg d ON e.src = d.src)""",
        f"""inc0 AS (
  SELECT dst AS node, sum(c) AS s_u FROM (
    SELECT dst, {idiv_sql(f"CAST({rank0} AS BIGINT)", "outdeg")} AS c FROM cs)
  GROUP BY dst)""",
    ]
    for i in range(PR_ITERS - 1):
        contrib = idiv_sql(f"CAST({base_u} AS BIGINT) + {damped}", "cs.outdeg")
        ctes.append(
            f"""inc{i + 1} AS (
  SELECT dst AS node, sum(c) AS s_u FROM (
    SELECT cs.dst, {contrib} AS c
    FROM cs LEFT JOIN inc{i} i ON cs.src = i.node)
  GROUP BY dst)"""
        )
    fin = f"inc{PR_ITERS - 1}"
    rank_u = f"CAST(CAST({base_u} AS BIGINT) + {damped} AS BIGINT)"
    return spark.sql(
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT nd.node AS user_id,
       {_X.sparksql_exact_round(rank_u, 12, 6)} AS pagerank
FROM {{nodes}} nd LEFT JOIN {fin} i ON nd.node = i.node
ORDER BY pagerank DESC, user_id ASC
LIMIT 20""",
        edges=edges,
        nodes=nodes,
    )


_SQL_TRIANGLES = f"""
WITH {_SQL_EDGE_CTE.strip()},
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges
),
deg AS (
  SELECT node, count(*) AS d FROM (SELECT a AS node FROM und
                                   UNION ALL SELECT b FROM und) GROUP BY node
),
oriented AS (
  SELECT CASE WHEN (da.d, und.a) < (db.d, und.b) THEN und.a ELSE und.b END AS u,
         CASE WHEN (da.d, und.a) < (db.d, und.b) THEN und.b ELSE und.a END AS v
  FROM und JOIN deg da ON da.node = und.a JOIN deg db ON db.node = und.b
),
wedges AS (
  SELECT least(e1.v, e2.v) AS a, greatest(e1.v, e2.v) AS b
  FROM oriented e1 JOIN oriented e2 ON e1.u = e2.u AND e1.v < e2.v
)
SELECT (SELECT count(*) FROM deg) AS n_nodes,
       (SELECT count(*) FROM und) AS n_edges,
       count(*) AS n_triangles
FROM wedges JOIN und USING (a, b)
"""


@register("graph_triangles", tags=("graph",), oracle=_SQL_TRIANGLES)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count via degree-ordered wedge join; one summary row
    (n_nodes, n_edges, n_triangles)."""
    edges = _edges(spark, sf_dir)
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
        # referenced twice (both wedge sides): checkpoint beats recompute
        # (A/B at sf0.1: 1.7s checkpointed vs 3.0s recomputed)
        .localCheckpoint(eager=True)
    )
    e1 = oriented.select(F.col("u"), F.col("v").alias("v1"))
    e2 = oriented.select(F.col("u"), F.col("v").alias("v2"))
    wedges = (
        e1.join(e2, "u")
        .where(F.col("v1") < F.col("v2"))
        .select(
            F.least("v1", "v2").alias("a"), F.greatest("v1", "v2").alias("b")
        )
    )
    tri = wedges.join(und, ["a", "b"]).agg(F.count("*").alias("n_triangles"))
    n_nodes = deg.agg(F.count("*").alias("n_nodes"))
    n_edges = und.agg(F.count("*").alias("n_edges"))
    # three 1-row aggregates stitched into the summary row: scalar
    # broadcasts, the documented O(n)-safe shape (test_plan_invariants.py)
    return n_nodes.crossJoin(n_edges).crossJoin(tri)


# ---- BFS hop distance (bounded-depth traversal) -----------------------------

BFS_ITERS = 4  # unrolled relaxation rounds -> exact dist <= 4 frontier
BFS_SEED_MOD = 50  # deterministic seed set: user_id % 50 == 0


def _bfs_oracle() -> str:
    ctes = [
        _SQL_EDGE_CTE.strip(),
        """eu AS (
  SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
),
nodes AS (SELECT DISTINCT src AS node FROM eu),
d0 AS (SELECT node, 0 AS d FROM nodes WHERE node % """
        + str(BFS_SEED_MOD)
        + " = 0)",
    ]
    for it in range(BFS_ITERS):
        ctes.append(f"""d{it + 1} AS (
  SELECT node, min(d) AS d FROM (
    SELECT node, d FROM d{it}
    UNION ALL
    SELECT e.dst AS node, r.d + 1 AS d
    FROM d{it} r JOIN eu e ON e.src = r.node
  ) GROUP BY node)""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT node AS user_id, CAST(d AS BIGINT) AS dist
FROM d{BFS_ITERS}
"""
    )


@register("graph_bfs", tags=("graph", "iterative"), oracle=_bfs_oracle())
def graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth BFS over the interaction graph: hop distance from
    the deterministic seed set (user_id % 50 == 0) after 4 relaxation
    rounds — the traversal member of the graph tier (components =
    fixed-point labels, PageRank = weighted iteration, triangles =
    closed wedges, BFS = frontier expansion).  Each round relaxes
    dist(v) = min(dist(v), min over in-neighbors dist(u) + 1) — one
    shuffle join + one keyed min per round, the Pregel dataflow, and the
    DuckDB oracle unrolls the identical rounds as chained CTEs.
    Distances are small exact integers; nothing can diverge.

    Scale: frontier rows only ever carry (node, dist); localCheckpoint
    truncates lineage per round like the other iterative ops; unreached
    nodes simply never enter the relation (no sentinel infinities to
    disagree on)."""
    e = _edges(spark, sf_dir)
    eu = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
    nodes = eu.select(F.col("src").alias("node")).distinct()
    dist = nodes.where(F.col("node") % BFS_SEED_MOD == 0).select(
        "node", F.lit(0).alias("d")
    )
    for _ in range(BFS_ITERS):
        relaxed = dist.join(eu, dist["node"] == eu["src"]).select(
            F.col("dst").alias("node"), (F.col("d") + 1).alias("d")
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
            .localCheckpoint(eager=True)
        )
    return dist.select(F.col("node").alias("user_id"), F.col("d").cast("long").alias("dist"))

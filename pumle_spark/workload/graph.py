"""Graph centrality on DataFrames: integer PageRank over the trade graph.

Beyond-reference surface (SURVEY.md §2.13). The engine already runs two
iterative graph algorithms with *convergence-driven* loops (connected
components, watershed pointer-jumping — `operators/terrain.py`); this adds
the third classic shape: a *fixed-iteration* damped random walk, unrolled
identically in the DuckDB oracle.

Determinism rule (same as fixed-point k-means, `workload/clustering.py`):
PageRank in doubles is not cross-engine reproducible — the per-node
contribution sum is a float reduction whose fold order differs per engine
and per partitioning. So ranks live in **integer micro-units** (total mass
10^12): contributions are `rank DIV out_degree`, damping is `(85·Σ) DIV
100`, every step exact BIGINT arithmetic. The result is bit-identical on
any cluster size — an auditable centrality score.

Graph: bipartite customer↔supplier edges (a distinct (custkey, suppkey)
pair per order line), symmetrized, so every node has out-degree ≥ 1 and no
dangling-mass correction is needed.

Scale shape: each iteration is one equi-join on src + one groupBy dst, both
hash-partitioned on the node id; the node-count scalar is a single-row
broadcast. At 100 TB the edge list is the big table and it shuffles exactly
once per iteration — the same economics as every vertex-centric BSP system
(Pregel), expressed in plain DataFrame ops.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pumle_spark.operators.topk import ranked_topk
from pumle_spark.sources.local import local_frame
from pumle_spark.tables import table
from pumle_spark.workload import register

_MASS = 1_000_000_000_000  # total rank mass, micro-units
_ITERS = 3
_TOP = 20

_SQL_GRAPH = """
    pairs AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
      SELECT c * 2 AS src, s * 2 + 1 AS dst FROM pairs
      UNION ALL
      SELECT s * 2 + 1 AS src, c * 2 AS dst FROM pairs
    ),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    nn AS (SELECT COUNT(*) AS n FROM deg)
"""


def _sql_iter(i: int, prev: str) -> str:
    return f"""
    s{i} AS (
      SELECT e.dst AS node, SUM(r.r // d.outdeg) AS s
      FROM edges e
      JOIN {prev} r ON r.node = e.src
      JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    ),
    it{i} AS (
      SELECT node, (15 * {_MASS}) // (100 * nn.n) + (85 * s) // 100 AS r
      FROM s{i} CROSS JOIN nn
    )"""


_SQL_PAGERANK = (
    "WITH "
    + _SQL_GRAPH
    + f""",
    r0 AS (SELECT src AS node, {_MASS} // nn.n AS r FROM deg CROSS JOIN nn),
    """
    + ",".join(_sql_iter(i, f"it{i - 1}" if i > 1 else "r0") for i in range(1, _ITERS + 1))
    + f"""
    SELECT node AS node_id,
           CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
           -- the iterative SUM() arithmetic is HUGEINT in DuckDB; cast so
           -- the driver's pandas fetch sees bigint like Spark does
           CAST(r AS BIGINT) AS rank_micro,
           CAST(rn AS INTEGER) AS rnk
    FROM (SELECT node, r,
                 ROW_NUMBER() OVER (ORDER BY r DESC, node) AS rn
          FROM it{_ITERS})
    WHERE rn <= {_TOP}
    """
)


@register("graph_pagerank_trade", sql=_SQL_PAGERANK, tags=("graph", "pagerank", "iterative"))
def graph_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_TOP} nodes of the customer↔supplier trade graph after {_ITERS}
    integer PageRank iterations (damping 0.85 as the exact 85//100). See
    module docstring for the graph and determinism contract."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    # r12 negative result (measured at sf0.1 AND sf1, r11 shape kept): the
    # per-stage REST metrics DO show the orders⋈lineitem+distinct subtree
    # re-executing 5x inside this single action (ReuseExchange does not
    # cover it), but materializing a degree-annotated edge list once lost
    # every interleaved A/B anyway — sf0.1 4.07/4.48 -> 4.96/4.75, sf1
    # medians ~10.3 -> ~14.7 s — because the redundant stages run
    # CONCURRENTLY on idle cores while the checkpoint serializes one long
    # barrier and strips the stats the iteration joins broadcast by. The
    # redundancy is the cheaper evil on both measured scales; revisit only
    # with a cluster-scale measurement in hand.
    edges = pairs.select((F.col("c") * 2).alias("src"), (F.col("s") * 2 + 1).alias("dst")).unionAll(
        pairs.select((F.col("s") * 2 + 1).alias("src"), (F.col("c") * 2).alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    nn = deg.select(F.count(F.lit(1)).alias("n"))

    ranks = deg.crossJoin(F.broadcast(nn)).select(
        F.col("src").alias("node"), F.expr(f"{_MASS} div n").alias("r")
    )
    for _ in range(_ITERS):
        contrib = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .join(deg, "src")
            .select("dst", F.expr("r div outdeg").alias("contrib"))
        )
        sums = contrib.groupBy("dst").agg(F.sum("contrib").alias("s"))
        ranks = sums.crossJoin(F.broadcast(nn)).select(
            F.col("dst").alias("node"),
            (F.expr(f"(15 * {_MASS}) div (100 * n)") + F.expr("(85 * s) div 100")).alias("r"),
        )
    # windowless two-phase top-k (ranked_topk): TakeOrderedAndProject keeps
    # per-partition heads and one bounded merge picks the _TOP winners, then
    # the ordinal comes from posexploding one sorted array — no WindowExec,
    # so the whole node set never crosses a single partition
    return ranked_topk(ranks, _TOP, "r", "node").select(
        F.col("node").alias("node_id"),
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.col("r").alias("rank_micro"),
        "rnk",
    )


# --------------------------------------------------------------------------
# triangle census on the supplier co-occurrence graph
# --------------------------------------------------------------------------

_EDGE_QUANTILE = 0.9  # keep pair edges above this co-occurrence quantile

# Shared CTE prefix: the sparsified supplier co-occurrence graph (see
# graph_triangle_census's docstring for the relative-quantile rationale).
# Used verbatim by the census and link-prediction oracles.
_SQL_SPARSE_EDGES = f"""
    pairs AS (
      SELECT DISTINCT a.l_orderkey AS ok, a.l_suppkey AS na, b.l_suppkey AS nb
      FROM lineitem a
      JOIN lineitem b ON b.l_orderkey = a.l_orderkey AND a.l_suppkey < b.l_suppkey
    ),
    pc AS (SELECT na, nb, COUNT(*) AS c FROM pairs GROUP BY na, nb),
    thr AS (SELECT quantile_cont(c, {_EDGE_QUANTILE}) AS t FROM pc),
    e AS (SELECT na, nb FROM pc, thr WHERE c > thr.t)
"""


def _sparsified_edges(li: DataFrame) -> DataFrame:
    """Supplier co-occurrence edges above the relative co-order-count
    quantile, oriented na < nb — the Spark twin of ``_SQL_SPARSE_EDGES``.

    The exact q-quantile is computed WITHOUT a global percentile aggregate
    (which buffers every value in one reducer — fine at sf0.1, dead at
    100 TB): pair counts are small integers, so reduce to a
    count-histogram (bounded cardinality ≈ max co-order multiplicity),
    cumsum it, and interpolate v[floor(h)] + frac·(v[floor(h)+1] −
    v[floor(h)]) at h = q·(N−1) — bit-identical to DuckDB's
    quantile_cont on the raw values. The result is pinned: it is the top
    co-occurrence decile by construction, so bounded at any scale."""
    a = li.alias("a")
    b = li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(
            F.col("a.l_orderkey").alias("ok"),
            F.col("a.l_suppkey").alias("na"),
            F.col("b.l_suppkey").alias("nb"),
        )
        .distinct()
    )
    # pin: the threshold branch and the final filter both read the pair counts (PERF.md "Pins")
    pc = (
        pairs.groupBy("na", "nb")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    hist = pc.groupBy("c").agg(F.count(F.lit(1)).alias("nc"))
    wcum = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = hist.withColumn("cum", F.sum("nc").over(wcum))
    ndf = hist.agg(F.sum("nc").alias("nn"))
    h = F.lit(_EDGE_QUANTILE) * (F.col("nn") - 1).cast("double")
    lo = F.floor(h)
    thr = (
        cum.crossJoin(F.broadcast(ndf))
        .select("c", "cum", h.alias("h"), lo.alias("lo"))
        .agg(
            F.min(F.when(F.col("cum") >= F.col("lo") + 1, F.col("c"))).alias("v_lo"),
            F.min(F.when(F.col("cum") >= F.col("lo") + 2, F.col("c"))).alias("v_hi"),
            F.max(F.col("h") - F.col("lo")).alias("frac"),  # constant per row
        )
        .select(
            (
                F.col("v_lo")
                + F.col("frac") * (F.coalesce("v_hi", "v_lo") - F.col("v_lo"))
            ).alias("t")
        )
    )
    return (
        pc.crossJoin(F.broadcast(thr))
        .filter(F.col("c") > F.col("t"))
        .select("na", "nb")
        # pin: both consumers read the edge set 5-6 times (PERF.md "Pins")
        .localCheckpoint(eager=True)
    )


@register(
    "graph_triangle_census",
    sql=f"""
    WITH {_SQL_SPARSE_EDGES},
    deg AS (
      SELECT node, COUNT(*) AS d
      FROM (SELECT na AS node FROM e UNION ALL SELECT nb FROM e)
      GROUP BY node
    ),
    tri AS (
      SELECT COUNT(*) AS n_tri
      FROM e e1
      JOIN e e2 ON e2.na = e1.nb
      JOIN e e3 ON e3.na = e1.na AND e3.nb = e2.nb
    ),
    dd AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges
      FROM deg
    ),
    ec AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e)
    SELECT dd.n_nodes, ec.n_edges, dd.n_wedges,
           CAST(tri.n_tri AS BIGINT) AS n_triangles,
           CAST(CASE WHEN dd.n_wedges = 0 THEN 0
                     ELSE (3 * tri.n_tri * 1000000) // dd.n_wedges END AS BIGINT)
             AS clustering_micro
    FROM dd, ec, tri
    """,
    tags=("graph", "triangles", "census"),
)
def graph_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle census of the supplier co-occurrence graph: nodes,
    edges, wedges (Σ C(deg,2)), triangles, and the global clustering
    coefficient 3·tri/wedges in exact integer micro-units (single row).

    Graph: an edge joins two suppliers whose distinct-co-order count is
    above the {_EDGE_QUANTILE:.0%} quantile of all pair counts — a
    RELATIVE sparsifier, so the edge set stays a bounded top decile as the
    fact table (and the absolute co-occurrence level) grows, where any
    fixed absolute threshold degenerates to complete or empty. Every edge
    is oriented small→large node id, so each triangle is enumerated
    exactly once as (a<b<c).

    Scale shape: pair generation is an equi-self-join on the order key
    (co-partitioned, no skew beyond lines-per-order²); the triangle count
    is two equi-joins partitioned on the shared endpoint; the census
    aggregates are single-row broadcasts combined at the end. No global
    collect, no driver loop."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e = _sparsified_edges(li)
    deg = (
        e.select(F.col("na").alias("node"))
        .unionAll(e.select(F.col("nb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    dd = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) div 2")).cast("bigint").alias("n_wedges"),
    )
    ec = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    # Degree-ordered orientation (each edge points low→high (deg, id)):
    # every triangle has exactly one pivot whose two triangle edges are
    # both out-edges, so counting wedge-closures counts each triangle
    # once, and wedge work is Σ C(outdeg, 2) with outdeg bounded by
    # O(√m) — a hub node no longer generates deg² candidates (the
    # id-oriented middle join does; measured 33.5s vs 44.5s on a dense
    # 2.1M-edge sf1 stand-in, and the gap widens with skew). The oracle
    # deliberately keeps the plain id-oriented 3-way join: two different
    # enumeration algorithms agreeing on the count is a stronger check
    # than one algorithm transcribed twice.
    da = deg.select(F.col("node").alias("na"), F.col("d").alias("dda"))
    db = deg.select(F.col("node").alias("nb"), F.col("d").alias("ddb"))
    low = (F.col("dda") < F.col("ddb")) | (
        (F.col("dda") == F.col("ddb")) & (F.col("na") < F.col("nb"))
    )
    dedges = (
        e.join(da, "na")
        .join(db, "nb")
        .select(
            F.when(low, F.col("na")).otherwise(F.col("nb")).alias("s"),
            F.when(low, F.col("nb")).otherwise(F.col("na")).alias("t"),
        )
    )
    w1, w2 = dedges.alias("w1"), dedges.alias("w2")
    wedges = w1.join(
        w2, (F.col("w1.s") == F.col("w2.s")) & (F.col("w1.t") < F.col("w2.t"))
    ).select(F.col("w1.t").alias("x"), F.col("w2.t").alias("y"))
    tri = wedges.join(
        e, (F.col("x") == F.col("na")) & (F.col("y") == F.col("nb"))
    ).agg(F.count(F.lit(1)).alias("n_tri"))
    return (
        dd.crossJoin(F.broadcast(ec))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            F.col("n_tri").cast("bigint").alias("n_triangles"),
            F.when(F.col("n_wedges") == 0, F.lit(0).cast("bigint"))
            .otherwise(F.expr("(3 * n_tri * 1000000) div n_wedges"))
            .cast("bigint")
            .alias("clustering_micro"),
        )
    )


# --------------------------------------------------------------------------
# BFS reachability profile from a seed node
# --------------------------------------------------------------------------

_BFS_DEPTH = 3


def _sql_bfs_levels() -> str:
    steps = ",\n    ".join(
        f"n{i} AS (SELECT DISTINCT e.dst AS node FROM edges e "
        f"JOIN n{i - 1} f ON f.node = e.src)"
        for i in range(1, _BFS_DEPTH + 1)
    )
    union = "\n      UNION ALL ".join(
        f"SELECT node, {i} AS hops FROM n{i}" for i in range(_BFS_DEPTH + 1)
    )
    return f"""
    seed AS (SELECT CAST(2 * MIN(c) AS BIGINT) AS node FROM pairs),
    n0 AS (SELECT node FROM seed),
    {steps},
    lv AS (
      {union}
    ),
    reach AS (SELECT node, CAST(MIN(hops) AS INTEGER) AS hops FROM lv GROUP BY node)
    """


_SQL_BFS = (
    "WITH "
    + _SQL_GRAPH
    + ","
    + _sql_bfs_levels()
    + """
    SELECT hops,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_suppliers,
           CAST(MIN(node) AS BIGINT) AS min_node,
           CAST(MAX(node) AS BIGINT) AS max_node
    FROM reach GROUP BY hops
    """
)


@register("graph_bfs_reach", sql=_SQL_BFS, tags=("graph", "bfs", "iterative"))
def graph_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-distance profile of the trade graph: BFS from the smallest
    customer node, levels 0..{_BFS_DEPTH}, reporting per-hop node counts by
    side plus the id range — the reachability/latency question every graph
    store answers, expressed as {_BFS_DEPTH} BSP supersteps.

    Min-hop semantics without a mutable visited set: level k is the
    DISTINCT neighbor set of level k-1 (distinct bounds each frontier by
    the node count, so the unrolled expansion cannot blow up on the dense
    trade graph the way a path-enumeration walk would —
    dedup_clusters_recursive_sql documents that failure shape), and the
    final MIN(hops) per node collapses re-discoveries to first discovery.
    Everything is integer arithmetic on node ids — bit-identical on both
    engines.

    Scale shape: each superstep is ONE equi-join of the edge list against
    the current frontier, hash-partitioned on the node id, followed by a
    distinct on the frontier — the Pregel economics, like graph_pagerank's
    fixed-iteration unroll one file up. Catalyst's ReuseExchange shares
    the edge-list shuffle across all {_BFS_DEPTH} supersteps in the single
    unrolled plan; the seed scalar is a broadcast."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    # pin: every superstep re-runs the orders⋈lineitem edge build without it (PERF.md "Pins").
    # The seed derives from the edges (customer nodes are the even ids, so
    # min(even src) ≡ 2*min(c)).
    edges = pairs.select((F.col("c") * 2).alias("src"), (F.col("s") * 2 + 1).alias("dst")).unionAll(
        pairs.select((F.col("s") * 2 + 1).alias("src"), (F.col("c") * 2).alias("dst"))
    ).localCheckpoint(eager=True)
    frontier = edges.filter(F.col("src") % 2 == 0).agg(
        F.min("src").cast("bigint").alias("node")
    )
    levels = [frontier.select("node", F.lit(0).alias("hops"))]
    for i in range(1, _BFS_DEPTH + 1):
        frontier = (
            edges.join(frontier.select(F.col("node").alias("src")), "src")
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        levels.append(frontier.select("node", F.lit(i).alias("hops")))
    lv = levels[0]
    for df in levels[1:]:
        lv = lv.unionAll(df)
    reach = lv.groupBy("node").agg(F.min("hops").cast("int").alias("hops"))
    even = (F.col("node") % 2 == 0).cast("bigint")
    return reach.groupBy("hops").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(even).alias("n_customers"),
        F.sum(1 - even).alias("n_suppliers"),
        F.min("node").alias("min_node"),
        F.max("node").alias("max_node"),
    )


# --------------------------------------------------------------------------
# bounded weighted shortest paths (Bellman-Ford relaxation, min-plus)
# --------------------------------------------------------------------------

_SSSP_ITERS = 3
_SSSP_TOP = 25


def _sql_sssp_levels() -> str:
    steps = ",\n    ".join(
        f"""d{i} AS (
      SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM (
        SELECT node, dist FROM d{i - 1}
        UNION ALL
        SELECT e.dst AS node, p.dist + e.w AS dist
        FROM wedges e JOIN d{i - 1} p ON p.node = e.src
      ) GROUP BY node
    )"""
        for i in range(1, _SSSP_ITERS + 1)
    )
    return f"""
    seed AS (SELECT CAST(2 * MIN(c) AS BIGINT) AS node FROM wpairs),
    d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM seed),
    {steps}
    """


_SQL_SSSP = (
    f"""
    WITH wpairs AS (
      SELECT o.o_custkey AS c, l.l_suppkey AS s,
             MIN(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS w
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_custkey, l.l_suppkey
    ),
    wedges AS (
      SELECT c * 2 AS src, s * 2 + 1 AS dst, w FROM wpairs
      UNION ALL
      SELECT s * 2 + 1 AS src, c * 2 AS dst, w FROM wpairs
    ),"""
    + _sql_sssp_levels()
    + f"""
    SELECT node AS node_id,
           CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
           dist AS dist_cents,
           CAST(rn AS INTEGER) AS rnk
    FROM (SELECT node, dist, ROW_NUMBER() OVER (ORDER BY dist, node) AS rn
          FROM d{_SSSP_ITERS})
    WHERE rn <= {_SSSP_TOP}
    """
)


@register("graph_sssp_bounded", sql=_SQL_SSSP, tags=("graph", "sssp", "iterative"))
def graph_sssp_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths on the trade graph, bounded to
    {_SSSP_ITERS} Bellman-Ford relaxations: edge weight is the cheapest
    line (integer cents) ever traded between a customer and a supplier,
    and the query reports the {_SSSP_TOP} nearest nodes to the seed (the
    smallest customer id) — "cheapest connection chain" analytics, the
    min-plus counterpart of graph_bfs_reach's hop counting one section up.

    Each relaxation is the min-plus product dist' = min(dist, min over
    in-edges(dist[src] + w)): one equi-join of the edge list against the
    current tentative-distance table plus a per-node MIN — all BIGINT, so
    every tentative distance is bit-identical on both engines (the same
    integer-semiring discipline as PageRank's micro-mass DIV arithmetic
    above; doubles never appear). After k rounds the distances are exactly
    the cheapest ≤ k-hop paths — a defined, documented contract (true SSSP
    needs diameter rounds; a bounded-radius query is what a 100 TB graph
    can actually afford, and is standard practice for ego-network costing).

    Scale: the weighted edge list is built by ONE map-side-combinable
    groupBy over the order-line join; each round shuffles edges once on
    src and re-aggregates on node — Pregel economics, ReuseExchange
    sharing the edge shuffle across rounds in the unrolled plan. The
    frontier table is bounded by |nodes|, never by paths (the MIN folds
    re-discoveries immediately — no walk enumeration blow-up).
    """
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    wpairs = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .agg(F.min("cents").alias("w"))
    )
    # r12 negative result (measured, r11 shape kept): eagerly checkpointing
    # the weighted edge list probed slower at BOTH scales (sf0.1 3.64 vs
    # 3.69 flat, sf1 5.74/7.24 vs 4.57/6.50) — same barrier-vs-parallel-
    # redundancy economics as graph_pagerank_trade's note above.
    wedges = wpairs.select(
        (F.col("c") * 2).alias("src"), (F.col("s") * 2 + 1).alias("dst"), "w"
    ).unionAll(
        wpairs.select(
            (F.col("s") * 2 + 1).alias("src"), (F.col("c") * 2).alias("dst"), "w"
        )
    )
    dist = wpairs.agg((2 * F.min("c")).cast("bigint").alias("node")).select(
        "node", F.lit(0).cast("bigint").alias("dist")
    )
    for _ in range(_SSSP_ITERS):
        relaxed = (
            wedges.join(dist.select(F.col("node").alias("src"), "dist"), "src")
            .select(F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        dist = (
            dist.select("node", "dist")
            .unionAll(relaxed)
            .groupBy("node")
            .agg(F.min("dist").cast("bigint").alias("dist"))
        )
    # windowless two-phase top-k over the full node-distance table (the one
    # relation here that grows with the graph): ascending dist == descending
    # on its negation, which is what ranked_topk's leading key expects
    return (
        ranked_topk(
            dist.withColumn("negdist", (-F.col("dist")).cast("bigint")),
            _SSSP_TOP,
            "negdist",
            "node",
        )
        .select(
            F.col("node").alias("node_id"),
            F.when(F.col("node") % 2 == 0, "customer")
            .otherwise("supplier")
            .alias("node_type"),
            F.col("dist").alias("dist_cents"),
            "rnk",
        )
    )


# --------------------------------------------------------------------------
# degree assortativity of the trade graph
# --------------------------------------------------------------------------


@register(
    "graph_degree_assortativity",
    sql="""
    WITH pairs AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
      SELECT c * 2 AS src, s * 2 + 1 AS dst FROM pairs
      UNION ALL
      SELECT s * 2 + 1 AS src, c * 2 AS dst FROM pairs
    ),
    deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src),
    ed AS (
      SELECT a.d AS x, b.d AS y
      FROM edges e JOIN deg a ON a.node = e.src JOIN deg b ON b.node = e.dst
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(y AS HUGEINT) * y) AS syy
      FROM ed
    )
    SELECT n AS n_directed_edges, sx AS sum_src_deg, sy AS sum_dst_deg,
           -- a regular graph has zero degree variance → NULL, not a crash
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / NULLIF(SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 0.0), 6)
             AS assortativity
    FROM s
    """,
    tags=("graph", "assortativity", "metrics"),
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the trade graph: the Pearson correlation of
    endpoint degrees over directed edges (Newman's r) — do high-degree
    customers trade with high-degree suppliers (r > 0, hub-to-hub) or
    with the long tail (r < 0, hub-and-spoke)? The one-number structural
    summary that decides whether degree-based partitioning/salting will
    face hub-hub hot edges, which is why it sits beside the triangle
    census in every graph profile.

    Moment sums accumulate exactly in 128-bit integers (deg² · |edges|
    exceeds 64 bits on hub-heavy graphs — DECIMAL(38,0) on Spark, HUGEINT
    on DuckDB); the correlation itself is ONE mirrored double formula
    over those six exact sums, so the statistic is partition-invariant.

    Scale: degrees are one map-side-combinable count over the edge list;
    the edge-degree join shuffles the edge list twice on node id (the
    Pregel partitioning every query in this module shares); the moment
    fold is a single-row aggregate.
    """
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    edges = pairs.select((F.col("c") * 2).alias("src"), (F.col("s") * 2 + 1).alias("dst")).unionAll(
        pairs.select((F.col("s") * 2 + 1).alias("src"), (F.col("c") * 2).alias("dst"))
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    ed = (
        edges.join(deg.select(F.col("node").alias("src"), F.col("d").alias("x")), "src")
        .join(deg.select(F.col("node").alias("dst"), F.col("d").alias("y")), "dst")
        .select("x", "y")
    )
    s = ed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    nD = F.col("n").cast("double")
    return s.select(
        F.col("n").alias("n_directed_edges"),
        F.col("sx").alias("sum_src_deg"),
        F.col("sy").alias("sum_dst_deg"),
        F.round(
            (nD * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double"))
            / F.nullif(
                F.sqrt(
                    (nD * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double"))
                    * (nD * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double"))
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("assortativity"),
    )


# --------------------------------------------------------------------------
# G5: k-core decomposition membership (iterative peeling)
# --------------------------------------------------------------------------

_KC_K = 10  # core order: prunes meaningfully yet stays non-empty at every test SF
_KC_ROUNDS = 6  # fixed unroll for oracle parity; convergence asserted in pytest


def _sql_kcore() -> str:
    steps = []
    prev = "v0"
    for i in range(1, _KC_ROUNDS + 1):
        steps.append(f"""
    d{i} AS (
      SELECT e.src AS node, COUNT(*) AS dg
      FROM edges e
      JOIN {prev} a ON a.node = e.src
      JOIN {prev} b ON b.node = e.dst
      GROUP BY e.src
    ),
    v{i} AS (SELECT node FROM d{i} WHERE dg >= {_KC_K})""")
        prev = f"v{i}"
    return (
        "v0 AS (SELECT src AS node FROM deg),"
        + ",".join(steps)
        + f""",
    core AS (
      SELECT e.src AS node, COUNT(*) AS core_degree
      FROM edges e
      JOIN v{_KC_ROUNDS} a ON a.node = e.src
      JOIN v{_KC_ROUNDS} b ON b.node = e.dst
      GROUP BY e.src
    )"""
    )


_SQL_KCORE = (
    "WITH "
    + _SQL_GRAPH
    + ","
    + _sql_kcore()
    + """
    SELECT CAST(node AS BIGINT) AS node_id,
           CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
           CAST(core_degree AS BIGINT) AS core_degree
    FROM core
    ORDER BY node_id
    """
)


@register("graph_kcore_membership", sql=_SQL_KCORE, tags=("graph", "kcore", "iterative"))
def graph_kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_KC_K}-core of the trade graph by iterative peeling: repeatedly
    drop nodes whose degree within the surviving subgraph is < {_KC_K};
    what remains is the maximal subgraph of minimum degree {_KC_K} — the
    densely-embedded trading core, the standard graph-mining screen for
    "structurally engaged" entities (vs degree alone, which a hub-and-
    spoke node fakes). Emits each core member with its induced degree.

    Peeling CASCADES (removing a node can demote its neighbors), which is
    why this is iterative where degree filters are not. {_KC_ROUNDS}
    fixed rounds, unrolled identically in the DuckDB oracle;
    tests/test_round5_ops.py asserts the fixpoint is reached before the
    last round, so the fixed unroll IS the k-core, not an approximation.

    Scale (Pregel shape, same economics as graph_pagerank_trade /
    graph_bfs_reach): each round is one equi-join of the edge list
    against the surviving node set + one degree count, all hash-
    partitioned on node id; the edge list shuffles once per round and
    each round's survivor set is pinned. Production
    loops to convergence with an observe()-fused changed-count; the
    fixed unroll exists for the cross-engine gate."""
    pairs = (
        table(spark, sf_dir, "orders")
        .join(
            table(spark, sf_dir, "lineitem"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    edges = (
        pairs.select((F.col("c") * 2).alias("src"), (F.col("s") * 2 + 1).alias("dst"))
        .unionAll(
            pairs.select((F.col("s") * 2 + 1).alias("src"), (F.col("c") * 2).alias("dst"))
        )
        # pin: every peel round re-runs the edge build without it (PERF.md "Pins")
        .localCheckpoint(eager=True)
    )
    alive = edges.select(F.col("src").alias("node")).distinct()
    # r12 negative result (measured, kept as-is): batching TWO peel rounds
    # per checkpointed job — the connected-components k=2 idiom — probed
    # 4.40 -> 5.45 s at sf0.1. Unlike min-label propagation, each peel
    # round references the previous round's result TWICE (both join sides),
    # so only the exchange is shared and the |edges|-scale degree
    # aggregation re-runs per side; the doubled final-agg work exceeds the
    # saved barrier. One blocking job per round stays.
    for _ in range(_KC_ROUNDS):
        a = alive.withColumnRenamed("node", "src")
        b = alive.withColumnRenamed("node", "dst")
        deg = (
            edges.join(a, "src")
            .join(b, "dst")
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("dg"))
        )
        alive = (
            deg.filter(F.col("dg") >= _KC_K)
            .select(F.col("src").alias("node"))
            # pin: round k+1 reads round k twice, so the lineage doubles per round (PERF.md "Pins")
            .localCheckpoint(eager=True)
        )
    a = alive.withColumnRenamed("node", "src")
    b = alive.withColumnRenamed("node", "dst")
    core = (
        edges.join(a, "src")
        .join(b, "dst")
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("core_degree"))
    )
    return core.select(
        F.col("src").cast("bigint").alias("node_id"),
        F.when(F.col("src") % 2 == 0, "customer").otherwise("supplier").alias("kind"),
        F.col("core_degree").cast("bigint").alias("core_degree"),
    ).orderBy("node_id")


# --------------------------------------------------------------------------
# label-propagation communities (synchronous LPA, deterministic tiebreak)
# --------------------------------------------------------------------------

_LPA_ITERS = 4
_LPA_TOP = 20


def _sql_lpa_iter(i: int, prev: str) -> str:
    return f"""
    lp{i} AS (
      SELECT node, label FROM (
        SELECT e.dst AS node, l.label,
               ROW_NUMBER() OVER (PARTITION BY e.dst
                                  ORDER BY COUNT(*) DESC, l.label) AS rn
        FROM edges e JOIN {prev} l ON l.node = e.src
        GROUP BY e.dst, l.label
      ) WHERE rn = 1
    )"""


_SQL_LPA = (
    "WITH "
    + _SQL_GRAPH
    + """,
    lp0 AS (SELECT src AS node, src AS label FROM deg),
    """
    + ",".join(_sql_lpa_iter(i, f"lp{i - 1}") for i in range(1, _LPA_ITERS + 1))
    + f""",
    comm AS (
      SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_members
      FROM lp{_LPA_ITERS} GROUP BY label
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
                   CAST(SUM(n_members) AS BIGINT) AS n_nodes FROM comm)
    SELECT community, n_members, n_communities, n_nodes,
           CAST(rn AS INTEGER) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY n_members DESC, community) AS rn
          FROM comm CROSS JOIN tot)
    WHERE rn <= {_LPA_TOP}
    ORDER BY rnk
    """
)


@register("graph_lpa_communities", sql=_SQL_LPA, tags=("graph", "communities", "iterative"))
def graph_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection via synchronous label propagation on the
    customer↔supplier trade graph — the O(edges)-per-round community
    algorithm (Raghavan et al. 2007) that needs no modularity
    optimization, completing the graph family (components = reachability,
    k-core = density, LPA = mesoscale structure).

    Determinism (synchronous LPA is normally run-order-dependent): every
    node updates simultaneously from the PREVIOUS round's labels, the new
    label is the max-frequency neighbor label with ties broken by MIN
    label, and the round count is fixed at {_LPA_ITERS} — no RNG, no
    sequential sweep, identical on both engines under any partitioning.
    Bipartite oscillation is damped by the same rule (label ids are node
    ids, so min-tiebreak pulls both sides toward the smallest member).

    Scale: each round is ONE shuffle of the edge list joined to a
    node-sized label table (Pregel economics, like pagerank/BFS here);
    the per-round argmax is a (node, label)-grain aggregate + window.
    localCheckpoint per round caps lineage growth."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    # pin: every LPA round re-runs the edge build without it (PERF.md "Pins")
    edges = pairs.select(
        (F.col("c") * 2).alias("src"), (F.col("s") * 2 + 1).alias("dst")
    ).unionAll(
        pairs.select((F.col("s") * 2 + 1).alias("src"), (F.col("c") * 2).alias("dst"))
    ).localCheckpoint(eager=True)
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(_LPA_ITERS):
        # argmax-by-(cnt, -label) as a plain aggregate: struct max picks the
        # highest count, then the LOWEST label (labels are non-negative) —
        # same total order as the oracle's row_number, one sort cheaper
        labels = (
            edges.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .groupBy("node")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))).alias("m"))
            .select("node", (-F.col("m.nl")).alias("label"))
            # pin: round k+1 re-runs every earlier round without it (PERF.md "Pins")
            .localCheckpoint(eager=False)
        )
    comm = labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    tot = comm.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_communities"),
        F.sum("n_members").cast("bigint").alias("n_nodes"),
    )
    # windowless two-phase top-k over the community rollup (grows with the
    # graph — LPA can fragment into O(|nodes|) communities)
    return (
        ranked_topk(
            comm.crossJoin(F.broadcast(tot)), _LPA_TOP, "n_members", "community"
        )
        .select(
            "community",
            "n_members",
            "n_communities",
            "n_nodes",
            "rnk",
        )
        .orderBy("rnk")
    )


# --------------------------------------------------------------------------
# link prediction on the supplier co-occurrence graph
# --------------------------------------------------------------------------

_LP_RA_SCALE = 1_099_511_627_776  # 2^40: resource-allocation weight quantum
_LP_TOP = 25


@register(
    "graph_link_prediction",
    sql=f"""
    WITH {_SQL_SPARSE_EDGES},
    sym AS (
      SELECT na AS u, nb AS v FROM e
      UNION ALL
      SELECT nb AS u, na AS v FROM e
    ),
    deg AS (SELECT u AS node, COUNT(*) AS d FROM sym GROUP BY u),
    wed AS (
      SELECT a.u AS u, b.v AS v, a.v AS z
      FROM sym a JOIN sym b ON b.u = a.v AND a.u < b.v
    ),
    cand AS (
      SELECT w.u, w.v, CAST(COUNT(*) AS BIGINT) AS common_neighbors,
             CAST(SUM({_LP_RA_SCALE} // dz.d) AS BIGINT) AS ra_q40
      FROM wed w JOIN deg dz ON dz.node = w.z
      GROUP BY w.u, w.v
    ),
    fresh AS (
      SELECT c.* FROM cand c ANTI JOIN e ON e.na = c.u AND e.nb = c.v
    )
    SELECT CAST(f.u AS BIGINT) AS u, CAST(f.v AS BIGINT) AS v,
           f.common_neighbors, f.ra_q40,
           CAST(1000000 * f.common_neighbors
                // (du.d + dv.d - f.common_neighbors) AS BIGINT) AS jaccard_micro
    FROM fresh f
    JOIN deg du ON du.node = f.u
    JOIN deg dv ON dv.node = f.v
    ORDER BY f.common_neighbors DESC, f.ra_q40 DESC, f.u, f.v
    LIMIT {_LP_TOP}
    """,
    tags=("graph", "link-prediction"),
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_LP_TOP} predicted new edges of the sparsified supplier
    co-occurrence graph, scored by common-neighbor count, the
    resource-allocation index (Zhou/Lü/Zhang 2009: Σ_z 1/deg(z)), and
    neighborhood Jaccard — the classic unsupervised link-prediction trio,
    here proposing supplier pairs that share co-order partners but never
    co-appear themselves.

    Determinism: the RA index is the one float-summation hazard (a
    per-pair Σ of reciprocals whose fold order differs per engine), so
    each term is pre-quantized to the integer floor ``2^40 div deg(z)``
    and summed as BIGINT — exact on both engines under any partitioning
    (the module's PageRank mass discipline). Jaccard is a single integer
    floor-division in micro-units.

    Scale shape: wedge enumeration is one self-equi-join of the
    symmetrized edge list on the shared endpoint (Σ deg(z)² pairs — the
    same economics as the triangle census, bounded because the edge set
    is the top co-occurrence decile); candidate scoring is a keyed
    groupBy; known edges leave via left_anti on the oriented pair; the
    final degree lookups are node-sized joins. No all-pairs product
    anywhere: pairs at distance ≥ 3 are never materialized, which is
    exactly the wedge-closure frontier a 100 TB co-occurrence graph can
    afford."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e = _sparsified_edges(li)
    sym = e.select(F.col("na").alias("u"), F.col("nb").alias("v")).unionAll(
        e.select(F.col("nb").alias("u"), F.col("na").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    a, b = sym.alias("wa"), sym.alias("wb")
    wed = a.join(
        b, (F.col("wb.u") == F.col("wa.v")) & (F.col("wa.u") < F.col("wb.v"))
    ).select(
        F.col("wa.u").alias("u"), F.col("wb.v").alias("v"), F.col("wa.v").alias("z")
    )
    cand = (
        wed.join(deg.withColumnRenamed("node", "z"), "z")
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("common_neighbors"),
            F.sum(F.expr(f"{_LP_RA_SCALE} div d")).cast("bigint").alias("ra_q40"),
        )
    )
    fresh = cand.join(
        e, (F.col("u") == F.col("na")) & (F.col("v") == F.col("nb")), "left_anti"
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    return (
        fresh.join(du, "u")
        .join(dv, "v")
        .select(
            F.col("u").cast("bigint").alias("u"),
            F.col("v").cast("bigint").alias("v"),
            "common_neighbors",
            "ra_q40",
            F.expr("(1000000 * common_neighbors) div (du + dv - common_neighbors)")
            .cast("bigint")
            .alias("jaccard_micro"),
        )
        .orderBy(F.desc("common_neighbors"), F.desc("ra_q40"), "u", "v")
        .limit(_LP_TOP)
    )


# --------------------------------------------------------------------------
# weighted modularity of the region partition over the nation trade graph
# --------------------------------------------------------------------------


@register(
    "graph_region_modularity",
    sql="""
    WITH w AS (
      SELECT sn.n_nationkey AS i, cn.n_nationkey AS j,
             CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation sn ON sn.n_nationkey = s.s_nationkey
      JOIN nation cn ON cn.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    ),
    reg AS (SELECT n_nationkey, n_regionkey FROM nation),
    tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS t FROM w),
    strength AS (
      SELECT r.n_regionkey AS region, CAST(SUM(k) AS BIGINT) AS s_c
      FROM (
        SELECT i AS node, SUM(cents) AS k FROM w GROUP BY i
        UNION ALL
        SELECT j AS node, SUM(cents) AS k FROM w GROUP BY j
      ) d JOIN reg r ON r.n_nationkey = d.node
      GROUP BY 1
    ),
    intra AS (
      SELECT ri.n_regionkey AS region, CAST(SUM(w.cents) AS BIGINT) AS i_c
      FROM w JOIN reg ri ON ri.n_nationkey = w.i
             JOIN reg rj ON rj.n_nationkey = w.j
      WHERE ri.n_regionkey = rj.n_regionkey
      GROUP BY 1
    ),
    per AS (
      SELECT s.region, s.s_c, COALESCE(i.i_c, 0) AS i_c, tot.t
      FROM strength s LEFT JOIN intra i ON i.region = s.region CROSS JOIN tot
    )
    , num AS (
      SELECT region, s_c, i_c, t,
             4 * CAST(t AS HUGEINT) * i_c - CAST(s_c AS HUGEINT) * s_c AS contrib_num
      FROM per
    )
    SELECT CAST(region AS INTEGER) AS region, s_c AS strength_cents,
           CAST(i_c AS BIGINT) AS intra_cents,
           ROUND(CAST(contrib_num AS DOUBLE)
                 / (4.0 * CAST(t AS DOUBLE) * CAST(t AS DOUBLE)), 6) AS contrib_r6,
           ROUND(CAST(SUM(contrib_num) OVER () AS DOUBLE)
                 / (4.0 * CAST(t AS DOUBLE) * CAST(t AS DOUBLE)), 6) AS modularity_q
    FROM num ORDER BY region
    """,
    tags=("graph", "modularity", "communities"),
)
def graph_region_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman weighted modularity of the REGION partition over the
    nation-level trade graph (edge weight = total traded cents between a
    supplier nation and a customer nation): does trade cluster within
    regions more than a degree-preserving random graph would? Per region
    the strength, intra-region weight, and modularity contribution
    i_c/T − (S_c/2T)²; the global Q is their sum. The companion to
    `graph_lpa_communities` — this scores a GIVEN partition instead of
    finding one (swap in LPA labels and the same formula grades them).

    Exactness: the symmetric adjacency A = W + Wᵀ never materializes —
    2W_total = 2T, S_c and I_c all reduce to exact integer-cent sums
    over the DIRECTED flow table; the two quotients are mirrored double
    expressions rounded once.

    Scale shape: one fact scan collapsing to the ≤|nations|² flow matrix
    (broadcast dims all the way); strength, intra, and Q then run on
    ≤625 rows. The region windowed sum is over |regions| rows."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        "l_orderkey",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cus = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    ords = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    reg = table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    w = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(ords, li.l_orderkey == ords.o_orderkey)
        .join(F.broadcast(cus), ords.o_custkey == cus.c_custkey)
        .groupBy(
            F.col("s_nationkey").alias("i"), F.col("c_nationkey").alias("j")
        )
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    tot = w.agg(F.sum("cents").cast("bigint").alias("t"))
    deg = (
        w.groupBy(F.col("i").alias("node")).agg(F.sum("cents").alias("k"))
        .unionAll(w.groupBy(F.col("j").alias("node")).agg(F.sum("cents").alias("k")))
    )
    strength = (
        deg.join(F.broadcast(reg), deg.node == reg.n_nationkey)
        .groupBy(F.col("n_regionkey").alias("region"))
        .agg(F.sum("k").cast("bigint").alias("s_c"))
    )
    ri = reg.select(F.col("n_nationkey").alias("i"), F.col("n_regionkey").alias("reg_i"))
    rj = reg.select(F.col("n_nationkey").alias("j"), F.col("n_regionkey").alias("reg_j"))
    intra = (
        w.join(F.broadcast(ri), "i")
        .join(F.broadcast(rj), "j")
        .filter(F.col("reg_i") == F.col("reg_j"))
        .groupBy(F.col("reg_i").alias("region"))
        .agg(F.sum("cents").cast("bigint").alias("i_c"))
    )
    per = (
        strength.join(intra, "region", "left")
        .withColumn("i_c", F.coalesce(F.col("i_c"), F.lit(0)).cast("bigint"))
        .crossJoin(F.broadcast(tot))
    )
    # contribution = i_c/T - (S_c/2T)^2 = (4T*i_c - S_c^2) / 4T^2: the
    # numerator stays EXACT decimal integer, so the windowed Q-sum is
    # order-invariant and only the final division touches doubles
    num = per.withColumn(
        "contrib_num",
        4 * F.col("t").cast("decimal(38,0)") * F.col("i_c")
        - F.col("s_c").cast("decimal(38,0)") * F.col("s_c"),
    )
    denom = 4.0 * F.col("t").cast("double") * F.col("t").cast("double")
    return num.select(
        F.col("region").cast("int").alias("region"),
        F.col("s_c").alias("strength_cents"),
        F.col("i_c").alias("intra_cents"),
        F.round(F.col("contrib_num").cast("double") / denom, 6).alias("contrib_r6"),
        F.round(
            F.sum("contrib_num").over(Window.partitionBy()).cast("double") / denom, 6
        ).alias("modularity_q"),
    ).orderBy("region")


# --------------------------------------------------------------------------
# personalized PageRank from a seed set (region-restricted teleport)
# --------------------------------------------------------------------------

_PPR_REGION = "ASIA"
_PPR_TOP = 25


def _sql_ppr_iter(i: int, prev: str) -> str:
    return f"""
    ps{i} AS (
      SELECT e.dst AS node, (85 * SUM(r.r // d.outdeg)) // 100 AS t
      FROM edges e
      JOIN {prev} r ON r.node = e.src
      JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    ),
    pit{i} AS (
      SELECT node, CAST(SUM(t) AS BIGINT) AS r FROM (
        SELECT node, t FROM ps{i}
        UNION ALL
        SELECT node, (15 * {_MASS}) // (100 * sk.k) AS t FROM seeds CROSS JOIN sk
      ) GROUP BY node
    )"""


_SQL_PPR = (
    "WITH "
    + _SQL_GRAPH
    + f""",
    seeds AS (
      SELECT s.s_suppkey * 2 + 1 AS node
      FROM supplier s
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = '{_PPR_REGION}'
        AND s.s_suppkey * 2 + 1 IN (SELECT src FROM deg)
    ),
    sk AS (SELECT COUNT(*) AS k FROM seeds),
    pr0 AS (SELECT node, CAST({_MASS} // sk.k AS BIGINT) AS r FROM seeds CROSS JOIN sk),
    """
    + ",".join(_sql_ppr_iter(i, f"pit{i - 1}" if i > 1 else "pr0") for i in range(1, _ITERS + 1))
    + f"""
    SELECT node AS node_id,
           CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
           CASE WHEN node IN (SELECT node FROM seeds) THEN 1 ELSE 0 END AS is_seed,
           CAST(r AS BIGINT) AS rank_micro,
           CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY r DESC, node) AS rnk FROM pit{_ITERS})
    WHERE rnk <= {_PPR_TOP}
    ORDER BY rnk
    """
)


@register("graph_ppr_seeded", sql=_SQL_PPR, tags=("graph", "pagerank", "personalized", "iterative"))
def graph_ppr_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank: teleport mass restricted to a SEED set (the
    {_PPR_REGION}-region suppliers active in the trade graph) instead of
    uniform — so rank measures proximity/influence RELATIVE to the seeds,
    the primitive behind related-item retrieval, trust propagation, and
    seed-expanded audience building (vs graph_pagerank_trade's global
    centrality).

    Same integer contract as the global variant (mass {_MASS}, damping as
    exact 85//100, contribution r div outdeg), with one structural twist:
    each iterate is a UNION of the damped inflow and the seed-only teleport
    followed by a node groupBy — nodes can hold rank without inflow (seeds)
    or without seeding (reachable nodes), and exactly the touched node set
    materializes, never the full graph. Initial mass sits entirely on
    seeds.

    Scale (Pregel shape): one edge-list equi-join per round, hash-
    partitioned on node id; the seed table rides along broadcast-sized.
    After round t only nodes within t hops of a seed exist — early rounds
    are the cheapest, opposite of the global variant."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    edges = pairs.select((F.col("c") * 2).alias("src"), (F.col("s") * 2 + 1).alias("dst")).unionAll(
        pairs.select((F.col("s") * 2 + 1).alias("src"), (F.col("c") * 2).alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    sup = table(spark, sf_dir, "supplier")
    nat = table(spark, sf_dir, "nation")
    reg = table(spark, sf_dir, "region")
    seeds = (
        sup.join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg.filter(F.col("r_name") == _PPR_REGION)),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select((F.col("s_suppkey") * 2 + 1).alias("node"))
        .join(deg.select(F.col("src").alias("node")), "node", "left_semi")
    )
    sk = seeds.agg(F.count(F.lit(1)).alias("k"))
    ranks = seeds.crossJoin(F.broadcast(sk)).select(
        "node", F.expr(f"{_MASS} div k").cast("bigint").alias("r")
    )
    for _ in range(_ITERS):
        inflow = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .join(deg, "src")
            .groupBy("dst")
            .agg(F.expr("(85 * sum(r div outdeg)) div 100").alias("t"))
            .select(F.col("dst").alias("node"), "t")
        )
        teleport = seeds.crossJoin(F.broadcast(sk)).select(
            "node", F.expr(f"(15 * {_MASS}) div (100 * k)").alias("t")
        )
        ranks = (
            inflow.unionAll(teleport)
            .groupBy("node")
            .agg(F.sum("t").cast("bigint").alias("r"))
        )
    seed_flag = seeds.withColumn("is_seed_", F.lit(1))
    scored = ranks.join(seed_flag, "node", "left").select(
        "node",
        "r",
        F.coalesce("is_seed_", F.lit(0)).cast("bigint").alias("is_seed"),
    )
    # windowless two-phase top-k (ranked_topk) — no WindowExec in the plan
    return (
        ranked_topk(scored, _PPR_TOP, "r", "node")
        .select(
            F.col("node").alias("node_id"),
            F.when(F.col("node") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("node_type"),
            "is_seed",
            F.col("r").alias("rank_micro"),
            "rnk",
        )
        .orderBy("rnk")
    )


# --------------------------------------------------------------------------
# deterministic random-walk corpus (graph-embedding training data)
# --------------------------------------------------------------------------

_WALK_LEN = 4
_WALK_SEED_STRIDE = 10  # seeds: suppliers with s_suppkey % stride == 0


def _walk_sql() -> str:
    steps = []
    sel = ["SELECT node AS seed_node, 0 AS step, node FROM w0"]
    for k in range(1, _WALK_LEN + 1):
        steps.append(f"""
    w{k} AS (
      SELECT w.seed_node, nb.dst AS node
      FROM w{k - 1} w
      JOIN deg d ON d.src = w.node
      JOIN nbr nb ON nb.src = w.node
       AND nb.rn = ('0x' || substr(md5('walk|' || CAST(w.node AS VARCHAR) || '|' || {k}), 1, 8))::UBIGINT
                    % d.outdeg + 1
    )""")
        sel.append(f"SELECT seed_node, {k} AS step, node FROM w{k}")
    return (
        "WITH "
        + _SQL_GRAPH
        + f""",
    nbr AS (
      SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS rn
      FROM edges
    ),
    w0 AS (
      SELECT s.s_suppkey * 2 + 1 AS seed_node, s.s_suppkey * 2 + 1 AS node
      FROM supplier s
      WHERE s.s_suppkey % {_WALK_SEED_STRIDE} = 0
        AND s.s_suppkey * 2 + 1 IN (SELECT src FROM deg)
    ),"""
        + ",".join(steps)
        + """
    SELECT CAST(seed_node AS BIGINT) AS seed_node, CAST(step AS INTEGER) AS step,
           CAST(node AS BIGINT) AS node_id,
           CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type
    FROM ("""
        + " UNION ALL ".join(sel)
        + ") ORDER BY seed_node, step"
    )


@register("graph_walk_corpus", sql=_walk_sql(), tags=("graph", "walks", "embedding-data"))
def graph_walk_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk/node2vec-style walk corpus over the trade graph: from each
    strided supplier seed, a {_WALK_LEN}-step walk whose every step picks
    neighbor rank md5(node, step) mod degree — the deterministic stand-in
    for the uniform random step, so the corpus is bit-reproducible across
    engines and re-runs (the property a training-data pipeline actually
    wants from its walk generator; swap the hash for a seeded RNG and
    nothing else changes). The emitted (seed, step, node) rows are the
    sentences a skip-gram embedding trains on.

    Each step is ONE equi-join of the frontier against the rank-indexed
    neighbor table (nbr: per-source neighbors ranked by dst) — the Pregel
    economics of graph_pagerank_trade, with a {_WALK_LEN}-round fixed
    unroll and ReuseExchange deduplicating the shared edge subtree.

    Scale: frontier size stays |seeds| forever (walks don't branch);
    the neighbor table shuffles once per step on node id. Walk corpora
    for 1e9-node graphs are exactly this join repeated."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    edges = pairs.select((F.col("c") * 2).alias("src"), (F.col("s") * 2 + 1).alias("dst")).unionAll(
        pairs.select((F.col("s") * 2 + 1).alias("src"), (F.col("c") * 2).alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    nbr = edges.select(
        "src", "dst", F.row_number().over(Window.partitionBy("src").orderBy("dst")).alias("rn")
    )
    sup = table(spark, sf_dir, "supplier")
    seeds = (
        sup.filter(F.col("s_suppkey") % _WALK_SEED_STRIDE == 0)
        .select((F.col("s_suppkey") * 2 + 1).alias("node"))
        .join(deg.select(F.col("src").alias("node")), "node", "left_semi")
    )
    cur = seeds.select(F.col("node").alias("seed_node"), F.col("node"))
    out = cur.select("seed_node", F.lit(0).alias("step"), "node")
    for k in range(1, _WALK_LEN + 1):
        pick = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("walk|"), F.col("node").cast("string"), F.lit(f"|{k}"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % F.col("outdeg")
            + 1
        )
        cur = (
            cur.join(deg, cur["node"] == deg["src"])
            .withColumn("pick", pick)
            .join(
                nbr,
                (nbr["src"] == cur["node"]) & (nbr["rn"] == F.col("pick")),
            )
            .select("seed_node", F.col("dst").alias("node"))
        )
        out = out.unionAll(cur.select("seed_node", F.lit(k).alias("step"), "node"))
    return out.select(
        F.col("seed_node").cast("bigint").alias("seed_node"),
        F.col("step").cast("int").alias("step"),
        F.col("node").cast("bigint").alias("node_id"),
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
    ).orderBy("seed_node", "step")


# --------------------------------------------------------------------------
# HyperBall: HLL-merged k-hop neighborhood sizes for EVERY node at once
# --------------------------------------------------------------------------

import math as _math

_HB_M = 16  # registers per node (4-bit bucket index off the md5 hex)
# The two-BIGINT register packing below (w0/w1 lanes, `w{i // 8}` lane math,
# the bucket<8 split, and the `& 63` extract) hard-codes _HB_M == 16 lanes
# of 6 bits each holding rho values <= 33 (32 hex nibbles after the bucket
# nibble, +1). Changing _HB_M or the hash width silently corrupts registers
# — fail loudly instead.
assert _HB_M == 16, "HyperBall register packing assumes exactly 16 6-bit lanes"
_HB_HOPS = 2
# alpha_16 * m^2 * 2^33 as ONE decimal literal both engines parse to the
# same double (the _HLL_NUM rule, m=16 instance)
_HB_NUM = repr(0.673 * _HB_M * _HB_M * 8589934592.0)
_HB_SMALL = 2.5 * _HB_M
# linear-counting lookup m*ln(m/V): transcendental → python literal table
_HB_LC = [(v, _HB_M * _math.log(_HB_M / v)) for v in range(1, _HB_M + 1)]
_HB_LC_SQL = ", ".join(f"({v}, {est!r})" for v, est in _HB_LC)


def _sql_hb_step(i: int, prev: str) -> str:
    return f"""
    r{i} AS (
      SELECT node, bucket, MAX(m_reg) AS m_reg FROM (
        SELECT e.dst AS node, r.bucket, r.m_reg
        FROM edges e JOIN {prev} r ON r.node = e.src
        UNION ALL
        SELECT node, bucket, m_reg FROM {prev}
      ) GROUP BY 1, 2
    )"""


def _sql_hb_est(i: int) -> str:
    return f"""
    e{i} AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_filled,
             CAST(SUM(1::BIGINT << (33 - m_reg)) AS BIGINT) AS s_filled
      FROM r{i} GROUP BY node
    ),
    c{i} AS (
      SELECT v.node,
             CASE WHEN v.raw <= {_HB_SMALL} AND v.nv > 0 THEN lc.lc_est
                  ELSE v.raw END AS est
      FROM (
        SELECT node, {_HB_M} - n_filled AS nv,
               {_HB_NUM} / CAST(s_filled + ({_HB_M} - n_filled) * 8589934592
                                AS DOUBLE) AS raw
        FROM e{i}
      ) v LEFT JOIN lc ON lc.v = v.nv
    ),
    s{i} AS (
      SELECT {i} AS hops,
             CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS side,
             CAST(ROUND(est * 1000) AS BIGINT) AS q
      FROM c{i}
    )"""


@register(
    "graph_hyperball_reach",
    sql=f"""
    WITH {_SQL_GRAPH},
    lc(v, lc_est) AS (VALUES {_HB_LC_SQL}),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    r0 AS (
      SELECT node,
             ('0x' || substr(md5(CAST(node AS VARCHAR)), 1, 1))::BIGINT AS bucket,
             CASE WHEN w32 = 0 THEN 33 ELSE 33 - length(bin(w32)) END AS m_reg
      FROM (
        SELECT node,
               ('0x' || substr(md5(CAST(node AS VARCHAR)), 2, 8))::BIGINT AS w32
        FROM nodes)
    ),
    {_sql_hb_step(1, "r0")},
    {_sql_hb_step(2, "r1")},
    {_sql_hb_est(1)},
    {_sql_hb_est(2)}
    SELECT hops, side,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(q) // COUNT(*) AS BIGINT) AS mean_ball_milli,
           CAST(MIN(q) AS BIGINT) AS min_ball_milli,
           CAST(MAX(q) AS BIGINT) AS max_ball_milli
    FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
    GROUP BY hops, side
    ORDER BY hops, side
    """,
    tags=("graph", "hyperball", "sketch", "iterative"),
)
def graph_hyperball_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall (Boldi & Vigna, 2013 — the algorithm behind the Facebook
    "four degrees of separation" measurement): the k-hop neighborhood
    size of EVERY node simultaneously, by giving each node a {_HB_M}-register
    HyperLogLog counter seeded with itself and, per superstep, merging
    each node's counter with its neighbors' (register-wise max — the
    union of HLL sketches). Exact per-node k-hop reach needs the
    |E|·avg-degree^k path blow-up dedup_clusters_recursive_sql documents;
    HyperBall replaces it with {_HB_HOPS} keyed joins over fixed-size
    state — THE 100 TB neighborhood-function design. Reported as the
    per-hop ball-size distribution by graph side (the reachability
    growth profile graph_bfs_reach gives for one seed, here for all
    nodes at once).

    Determinism (the sketch-module contract): registers derive from md5
    of the node id, merges are integer MAX, the harmonic sum uses the
    exact 2^(33−M) integer scaling, alpha·m²·2^33 is ONE shared decimal
    literal, linear counting ships as a {_HB_M}-entry literal table
    (transcendentals never cross the oracle boundary), and each estimate
    quantizes ONCE to milli-units before exact integer rollups.

    Scale: the {_HB_M} registers are NIBBLE-PACKED into two BIGINT words
    (6 bits per register — values reach 33 — 8 registers per word), so
    the superstep state is |V| ROWS, not |V|×{_HB_M}: ONE equi-join of
    the edge list against the packed table, then ONE hash aggregation
    whose {_HB_M} MAX buffers each fold a shift-and-mask field extract
    (register-wise max = field-wise MAX over the packed words). The
    harmonic sum and empty-register count then come straight off the
    merged fields ROW-WISE — the per-hop second aggregation the unpacked
    layout needed (re-grouping {_HB_M} register rows per node into one
    estimate) disappears entirely. Packing cut the sf0.1 wall time from
    6.29s to 3.86s (round 8, min-of-6 back-to-back on one session; the
    r08 battery recorded the unpacked form at 11.07s) — shuffle rows
    ÷{_HB_M}, one aggregation per superstep instead of two;
    localCheckpoint truncates lineage so superstep 1 feeds superstep 2
    without recomputation.

    Reference: reference repo has no graph/sketch surface (SURVEY §2.13
    beyond-reference family)."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    edges = (
        pairs.select((F.col("c") * 2).alias("src"), (F.col("s") * 2 + 1).alias("dst"))
        .unionAll(
            pairs.select(
                (F.col("s") * 2 + 1).alias("src"), (F.col("c") * 2).alias("dst")
            )
        )
        # pin: both supersteps re-run the edge build without it (PERF.md "Pins")
        .localCheckpoint(eager=True)
    )
    nodes = edges.select(F.col("src").alias("node")).distinct()
    key_md5 = F.md5(F.col("node").cast("string"))
    w32 = F.conv(F.substring(key_md5, 2, 8), 16, 10).cast("bigint")
    # bin() renders the binary digits directly (identical to the oracle's
    # length(bin(w32))); the old conv(cast-to-string, 10, 2) round-tripped
    # every value through a decimal-string parse per row (guide §1.2 —
    # the same swap _hll_registers got in r11)
    rho = F.when(w32 == 0, F.lit(33)).otherwise(
        F.lit(33) - F.length(F.bin(w32))
    )
    # seed: the one non-empty register lands in its 6-bit field of w0/w1
    # (bucket 0-7 → w0, 8-15 → w1); every other field stays 0 = empty.
    r = nodes.select(
        "node",
        F.conv(F.substring(key_md5, 1, 1), 16, 10).cast("int").alias("bucket"),
        rho.cast("bigint").alias("m_reg"),
    ).select(
        "node",
        F.expr(
            "CASE WHEN bucket < 8 THEN shiftleft(m_reg, 6 * bucket) "
            "ELSE CAST(0 AS BIGINT) END"
        ).alias("w0"),
        F.expr(
            "CASE WHEN bucket >= 8 THEN shiftleft(m_reg, 6 * (bucket - 8)) "
            "ELSE CAST(0 AS BIGINT) END"
        ).alias("w1"),
    )
    # field extracts / rebuilds over the packed words (6-bit lanes)
    ext = [f"(shiftright(w{i // 8}, {6 * (i % 8)}) & 63)" for i in range(_HB_M)]
    pack = [
        " + ".join(f"shiftleft(g{i}, {6 * (i % 8)})" for i in range(w * 8, w * 8 + 8))
        for w in range(2)
    ]
    s_all = " + ".join(
        f"shiftleft(CAST(1 AS BIGINT), 33 - {e})" for e in ext
    )  # empty field (0) contributes 2^33 — exactly the unpacked formula
    n_empty = " + ".join(f"CAST(({e} = 0) AS BIGINT)" for e in ext)
    lc = local_frame(spark, _HB_LC, "v bigint, lc_est double")
    sides = []
    for hop in range(1, _HB_HOPS + 1):
        grown = (
            edges.join(r.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"), "w0", "w1")
            .unionAll(r)
            .groupBy("node")
            .agg(*[F.max(F.expr(e)).alias(f"g{i}") for i, e in enumerate(ext)])
            .select(
                "node",
                F.expr(pack[0]).alias("w0"),
                F.expr(pack[1]).alias("w1"),
            )
            # pin: superstep 2 and both estimates read superstep 1 (PERF.md "Pins")
            .localCheckpoint(eager=False)
        )
        r = grown
        est = (
            grown.select(
                "node",
                F.expr(n_empty).alias("nv"),
                (F.expr(_HB_NUM) / F.expr(s_all).cast("double")).alias("raw"),
            )
            .join(F.broadcast(lc), F.col("nv") == F.col("v"), "left")
            .select(
                "node",
                F.when(
                    (F.col("raw") <= F.lit(_HB_SMALL)) & (F.col("nv") > 0),
                    F.col("lc_est"),
                )
                .otherwise(F.col("raw"))
                .alias("est"),
            )
        )
        sides.append(
            est.select(
                F.lit(hop).alias("hops"),
                F.when(F.col("node") % 2 == 0, "customer")
                .otherwise("supplier")
                .alias("side"),
                F.round(F.col("est") * 1000).cast("bigint").alias("q"),
            )
        )
    allq = sides[0]
    for df in sides[1:]:
        allq = allq.unionAll(df)
    return (
        allq.groupBy("hops", "side")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.expr("sum(q) div count(1)").cast("bigint").alias("mean_ball_milli"),
            F.min("q").cast("bigint").alias("min_ball_milli"),
            F.max("q").cast("bigint").alias("max_ball_milli"),
        )
        .orderBy("hops", "side")
    )


# --------------------------------------------------------------------------
# similar-node detection: MinHash over bipartite neighborhoods
# --------------------------------------------------------------------------

_GMN_HASHES = 8
_GMN_ROWS = 2  # rows per LSH band -> 4 bands
_GMN_JACC_MIN_PPM = 30000  # keep pairs with neighborhood Jaccard >= 3%


@register(
    "graph_minhash_neighbors",
    sql=f"""
    WITH adj AS (
      SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    sizes AS (SELECT ck, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY ck),
    mh AS (
      SELECT ck, seed,
             MIN(substr(md5(CAST(seed // 4 AS VARCHAR) || '|' || CAST(pk AS VARCHAR)),
                        1 + 8 * (seed % 4), 8)) AS mhash
      FROM adj CROSS JOIN generate_series(0, {_GMN_HASHES - 1}) s(seed)
      GROUP BY ck, seed
    ),
    bands AS (
      SELECT ck, CAST(seed // {_GMN_ROWS} AS INTEGER) AS band,
             md5(string_agg(CAST(seed AS VARCHAR) || ':' || mhash, '|' ORDER BY seed))
               AS band_key
      FROM mh GROUP BY ck, seed // {_GMN_ROWS}
    ),
    cand AS (
      SELECT DISTINCT a.ck AS cust_a, b.ck AS cust_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.ck < b.ck
    ),
    verified AS (
      SELECT c.cust_a, c.cust_b, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM cand c
      JOIN adj a ON a.ck = c.cust_a
      JOIN adj b ON b.ck = c.cust_b AND b.pk = a.pk
      GROUP BY 1, 2
    )
    SELECT v.cust_a, v.cust_b, v.n_common,
           sa.deg AS deg_a, sb.deg AS deg_b,
           CAST(v.n_common * 1000000 // (sa.deg + sb.deg - v.n_common) AS BIGINT)
             AS jaccard_ppm
    FROM verified v
    JOIN sizes sa ON sa.ck = v.cust_a
    JOIN sizes sb ON sb.ck = v.cust_b
    WHERE v.n_common * 1000000 // (sa.deg + sb.deg - v.n_common)
          >= {_GMN_JACC_MIN_PPM}
    """,
    tags=("graph", "minhash", "lsh", "similarity"),
)
def graph_minhash_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similar-node detection on the bipartite customer→part graph: MinHash
    the part-NEIGHBORHOOD of every customer and LSH-band the signatures, so
    "customers who buy alike" falls out of bucket joins instead of an
    all-pairs set comparison — the same sketch the dedup family applies to
    shingles, lifted to graph adjacency (SimRank's question answered with
    minhash economics; cf. Broder 1997 resemblance). Candidates are
    verified with the EXACT neighborhood Jaccard (integer ppm) and pairs
    below {_GMN_JACC_MIN_PPM} ppm are dropped.

    ONE sketch definition: reuses operators.dedup.minhash_signatures /
    lsh_band_keys (the dedup_minhash_lsh machinery) with the adjacency as
    the element set — 4 32-bit hashes per md5 digest, {_GMN_HASHES} hashes
    in {_GMN_HASHES // _GMN_ROWS} bands of {_GMN_ROWS}.

    Scale shape: the adjacency is one DISTINCT projection of the
    orders⋈lineitem join (keyed equi-join, no fan-out beyond the fact
    table); signatures are one groupBy(ck) with {_GMN_HASHES} min()
    partials; banding shuffles |nodes|·bands tiny rows; the quadratic
    verify runs ONLY inside buckets (Σ_bucket c², the LSH contract), then
    two keyed joins back to the adjacency for exact intersections.

    Exactness: signatures are md5 hex slices (engine-portable); Jaccard
    is an integer ppm floor division; the threshold compares integers."""
    from pumle_spark.operators.dedup import lsh_band_keys, minhash_signatures

    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    adj = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("ck"), F.col("l_partkey").alias("pk"))
        .distinct()
        # pin: signatures, sizes and both verify probes read it (PERF.md "Pins")
        .localCheckpoint(eager=False)
    )
    sizes = adj.groupBy("ck").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    sig = minhash_signatures(
        adj.select(F.col("ck").alias("key"), F.col("pk").cast("string").alias("sh")),
        _GMN_HASHES,
    )
    bands = lsh_band_keys(sig, _GMN_HASHES, rows_per_band=_GMN_ROWS)
    a = bands.select(F.col("key").alias("cust_a"), "band", "band_key")
    b = bands.select(F.col("key").alias("cust_b"), "band", "band_key")
    cand = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("cust_a") < F.col("cust_b"))
        .select("cust_a", "cust_b")
        .distinct()
    )
    verified = (
        cand.join(adj.select(F.col("ck").alias("cust_a"), "pk"), "cust_a")
        .join(adj.select(F.col("ck").alias("cust_b"), "pk"), ["cust_b", "pk"])
        .groupBy("cust_a", "cust_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    jacc_ppm = F.expr("n_common * 1000000 div (deg_a + deg_b - n_common)").cast("bigint")
    return (
        verified.join(sizes.select(F.col("ck").alias("cust_a"), F.col("deg").alias("deg_a")), "cust_a")
        .join(sizes.select(F.col("ck").alias("cust_b"), F.col("deg").alias("deg_b")), "cust_b")
        .select("cust_a", "cust_b", "n_common", "deg_a", "deg_b", jacc_ppm.alias("jaccard_ppm"))
        .filter(F.col("jaccard_ppm") >= _GMN_JACC_MIN_PPM)
    )

"""Graph and geo gates: BFS, PageRank, triangles, recursive CTE, geo radius joins, quadkey rollups.

Split out of the former monolithic queries.py; see package __init__ for
the assembled QUERIES/ORACLES registry (order preserved exactly).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ip_filter_spark.lifetime import pinned
from ip_filter_spark.queries._shared import (
    _t,
)

def pagerank_customer_supplier(spark, sf_dir):
    """Iterative graph analytics under the gate: 3-iteration INTEGER
    PageRank over the symmetrized customer–supplier bipartite graph
    (an edge when a customer's order contains the supplier's line).
    All arithmetic is BIGINT micro-units with floor division
    (``operators/graph.py``), so the fixed point is bit-identical in
    any engine / partitioning / summation order — the oracle is the
    same recurrence unrolled as three chained CTEs. Per iteration the
    only edge-sized shuffle is edges ⋈ shares + groupBy(dst); rank
    state is O(|V|) and never leaves the cluster. Output: top-20 nodes
    by (rank desc, node)."""
    from ip_filter_spark.operators.graph import pagerank_integer

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    pairs = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat_ws("", F.lit("C"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat_ws("", F.lit("S"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    ranks = pagerank_integer(edges, iterations=3)
    return (
        ranks.orderBy(F.desc("rank"), F.asc("node"))
        .limit(20)
        .select("node", F.col("rank").alias("rank_micros"))
    )


def _pagerank_sql() -> str:
    head = """
WITH pairs AS (
  SELECT DISTINCT 'C' || CAST(o.o_custkey AS VARCHAR) AS c,
                  'S' || CAST(l.l_suppkey AS VARCHAR) AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL SELECT s AS src, c AS dst FROM pairs),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges),
deg AS (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src),
r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM nodes)"""
    steps = []
    for i in range(3):
        steps.append(f""",
r{i + 1} AS (
  SELECT n.node, 150000 + (85 * COALESCE(c.s, 0)) // 100 AS pr
  FROM nodes n LEFT JOIN (
    SELECT e.dst, CAST(SUM(r.pr // d.out_deg) AS BIGINT) AS s
    FROM edges e JOIN r{i} r ON e.src = r.node
                 JOIN deg d ON d.src = e.src
    GROUP BY e.dst) c ON n.node = c.dst)""")
    tail = """
SELECT node, pr AS rank_micros FROM r3 ORDER BY pr DESC, node LIMIT 20
"""
    return head + "".join(steps) + tail


PAGERANK_SQL = _pagerank_sql()


def triangle_count_suppliers(spark, sf_dir):
    """Triangle counting (``operators/graph.triangles``) over a
    DETERMINISTICALLY SPARSIFIED supplier graph. The raw co-purchase
    projection of a bipartite graph is near-complete (measured 365k
    edges on 1k suppliers at sf0.1 — a 10^8-triangle blowup), so the
    gate builds the realistic analytics shape instead: per-customer
    fanout capped at 20 (row_number by suppkey), then each supplier
    keeps only its 5 STRONGEST co-suppliers (by shared-customer count,
    suppkey tie-break) — a kNN graph, O(5·|V|) edges at any scale. The
    enumeration itself is the canonical two-join wedge-close with a < b
    < c, each triangle produced exactly once. Output: top-15 suppliers
    by triangle support + the global triangle count on every row."""
    from ip_filter_spark.operators.graph import triangles

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cs = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .distinct()
    )
    wc = Window.partitionBy("cust").orderBy("supp")
    capped = cs.withColumn("rn", F.row_number().over(wc)).where(F.col("rn") <= 20)
    a = capped.select("cust", F.col("supp").alias("sa"))
    b = capped.select("cust", F.col("supp").alias("sb"))
    co = (
        a.join(b, "cust")
        .where(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count("*").alias("w"))
    )
    directed = co.select(F.col("sa").alias("src"), F.col("sb").alias("dst"), "w").union(
        co.select(F.col("sb").alias("src"), F.col("sa").alias("dst"), "w")
    )
    wk = Window.partitionBy("src").orderBy(F.desc("w"), F.asc("dst"))
    knn = directed.withColumn("rn", F.row_number().over(wk)).where(F.col("rn") <= 5)
    edges = knn.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    tri = triangles(edges)
    total = tri.count()
    support = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("suppkey"))
        .groupBy("suppkey")
        .agg(F.count("*").alias("tri_count"))
    )
    return (
        support.orderBy(F.desc("tri_count"), F.asc("suppkey"))
        .limit(15)
        .withColumn("total_triangles", F.lit(int(total)).cast("long"))
    )


TRIANGLE_COUNT_SQL = """
WITH cs AS (SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
capped AS (SELECT cust, supp FROM (
   SELECT cust, supp, ROW_NUMBER() OVER (PARTITION BY cust ORDER BY supp) AS rn
   FROM cs) t WHERE rn <= 20),
co AS (SELECT a.supp AS sa, b.supp AS sb, COUNT(*) AS w
       FROM capped a JOIN capped b ON a.cust = b.cust AND a.supp < b.supp
       GROUP BY 1, 2),
dir AS (SELECT sa AS src, sb AS dst, w FROM co
        UNION ALL SELECT sb, sa, w FROM co),
knn AS (SELECT src, dst FROM (
   SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rn
   FROM dir) t WHERE rn <= 5),
edges AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM knn),
tri AS (SELECT e1.a, e1.b, w2.c FROM edges e1
        JOIN (SELECT a AS b, b AS c FROM edges) w2 ON e1.b = w2.b AND w2.c > e1.b
        JOIN edges e3 ON e3.a = e1.a AND e3.b = w2.c),
support AS (SELECT node AS suppkey, COUNT(*) AS tri_count FROM (
   SELECT a AS node FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri) u
   GROUP BY 1)
SELECT suppkey, CAST(tri_count AS BIGINT) AS tri_count,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM tri) AS total_triangles
FROM support ORDER BY tri_count DESC, suppkey LIMIT 15
"""


def bfs_hops_suppliers(spark, sf_dir):
    """Single-source BFS shortest hops (capped at 3) over the
    co-supplier graph — suppliers are adjacent when they ship the same
    part (edges sparsified by a deterministic hash so paths are
    non-trivial). Spark side: level-synchronous frontier expansion, one
    broadcast-ready join + min-aggregate per hop, the standard BSP/
    Pregel iteration shape (hops are a constant, so lineage stays flat
    — no checkpointing needed, unlike open-ended connected components).
    Oracle: the SAME shortest-path semantics as a DuckDB WITH RECURSIVE
    walk with UNION dedup — the first recursive-CTE-vs-iterative-join
    agreement gate in the suite."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(b, "l_partkey")
        .where(F.col("a.l_suppkey") != F.col("b.l_suppkey"))
        .where((F.col("a.l_suppkey") * 31 + F.col("b.l_suppkey")) % 97 < 8)
        .select(F.col("a.l_suppkey").alias("s"), F.col("b.l_suppkey").alias("t"))
        .distinct()
    )
    with pinned() as pin:
        edges = pin(edges)
        src = edges.agg(F.min("s")).first()[0]
        dist = pin(spark.createDataFrame([(int(src), 0)], "node long, hops int"))
        frontier = dist
        for h in (1, 2, 3):
            nbrs = pin(
                frontier.join(edges, frontier.node == edges.s)
                .select(F.col("t").alias("node"))
                .distinct()
                .join(dist.select("node"), "node", "left_anti")
                .select("node", F.lit(h).cast("int").alias("hops"))
            )
            if nbrs.rdd.isEmpty():
                break
            dist = pin(dist.union(nbrs))
            frontier = nbrs
        out = dist.select("node", F.col("hops").cast("long").alias("hops"))
        rows = out.collect()
    return spark.createDataFrame(rows, out.schema)


BFS_HOPS_SQL = """
WITH RECURSIVE parts AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
pairs AS (
  SELECT DISTINCT a.l_suppkey AS s, b.l_suppkey AS t
  FROM parts a JOIN parts b USING (l_partkey)
  WHERE a.l_suppkey <> b.l_suppkey
    AND (a.l_suppkey * 31 + b.l_suppkey) % 97 < 8),
walk(node, d) AS (
  SELECT (SELECT MIN(s) FROM pairs), 0
  UNION
  SELECT p.t, w.d + 1 FROM walk w JOIN pairs p ON p.s = w.node WHERE w.d < 3)
SELECT node, CAST(MIN(d) AS BIGINT) AS hops FROM walk GROUP BY node
"""


def recursive_cte_bfs_suppliers(spark, sf_dir):
    """Spark 4's native ``WITH RECURSIVE`` on a real graph: the SAME
    single-source shortest-hops problem as ``bfs_hops_suppliers``, but
    expressed declaratively in one SQL statement instead of a hand-rolled
    frontier loop — Catalyst plans the recursion as iterated
    union-with-join, so the per-hop shape (one shuffle join per level)
    matches the imperative gate while the user writes four lines of SQL.

    Spark's recursive CTEs currently accept only UNION ALL, so on a
    cyclic graph the recursive term re-expands revisited nodes; the
    per-step ``SELECT DISTINCT`` bounds each level's working table at
    |V| rows (polynomial, not walk-count exponential) and the final
    ``MIN(d) GROUP BY node`` recovers shortest hops exactly — provably
    equal to the oracle's UNION-dedup walk, since every node reachable
    in ≤3 hops appears at its true distance. Oracle: DuckDB's own
    WITH RECURSIVE (UNION form). Triple agreement with the iterative
    gate (`bfs_hops_suppliers`) comes free — both gates share the SQL
    oracle at the driver."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("__rcte_lineitem")
    return spark.sql(
        """
        WITH RECURSIVE parts AS (
          SELECT DISTINCT l_partkey, l_suppkey FROM __rcte_lineitem),
        pairs AS (
          SELECT DISTINCT a.l_suppkey AS s, b.l_suppkey AS t
          FROM parts a JOIN parts b USING (l_partkey)
          WHERE a.l_suppkey <> b.l_suppkey
            AND (a.l_suppkey * 31 + b.l_suppkey) % 97 < 8),
        walk(node, d) AS (
          SELECT (SELECT MIN(s) FROM pairs), 0
          UNION ALL
          SELECT DISTINCT p.t, w.d + 1
          FROM walk w JOIN pairs p ON p.s = w.node WHERE w.d < 3)
        SELECT node, CAST(MIN(d) AS BIGINT) AS hops FROM walk GROUP BY node
        """
    )


RECURSIVE_CTE_BFS_SQL = BFS_HOPS_SQL


# ---------------------------------------------------------------------
# Geospatial gates (integer fixed-point; ip_filter_spark/operators/geo.py)
# ---------------------------------------------------------------------
# Deterministic synthetic points: coordinates derived from sha256 of the
# event id (the repo's parity-tested hash-derivation idiom — identical in
# Spark and DuckDB), on an integer grid so every distance predicate is
# exact 64-bit arithmetic in both engines.
GEO_L = 1 << 20  # coordinate domain per axis


GEO_R = 1 << 15  # radius = cell size (grid is 32x32 cells -> 5 quadkey levels)


def _geo_points(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")

    def coord(tag):
        return (
            F.conv(
                F.substring(
                    F.sha2(F.concat(F.lit(tag), F.col("event_id").cast("string")), 256), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % GEO_L
        )

    return ev.where(F.col("event_id") % 20 == 0).select(
        F.col("event_id").alias("id"), coord("gx:").alias("x"), coord("gy:").alias("y")
    )


_GEO_POINTS_SQL = f"""
  SELECT event_id AS id,
         CAST('0x' || substr(sha256('gx:' || CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT) % {GEO_L} AS x,
         CAST('0x' || substr(sha256('gy:' || CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT) % {GEO_L} AS y
  FROM events WHERE event_id % 20 = 0
"""


def geo_radius_pairs_events(spark, sf_dir):
    """Spatial radius self-join — all point pairs within Euclidean
    distance GEO_R, via the grid-cell spatial join (each point lands in
    one radius-sized cell; the probe side replicates to its 3x3
    neighbourhood; pairs meet on an equi-join of cell ids). Shuffle is
    O(9n) regardless of qualifying pairs — never the O(n^2)
    BroadcastNestedLoopJoin Catalyst would plan for a raw distance
    predicate, which is the spatial scale-killer at 100 TB. Exact and
    lossless (cell size = radius covers every qualifying pair), compared
    as squared integers; the oracle is the NAIVE all-pairs join, proving
    the blocking drops nothing. Same blocking idea as the reference's
    prefix bucketing (/root/reference/src/ipfilter)."""
    from ip_filter_spark.operators.geo import cell_radius_join

    return cell_radius_join(_geo_points(spark, sf_dir), GEO_R)


GEO_RADIUS_PAIRS_SQL = f"""
WITH pts AS ({_GEO_POINTS_SQL})
SELECT a.id AS a_id, b.id AS b_id,
       (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS d2
FROM pts a JOIN pts b ON a.id < b.id
WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= {GEO_R * GEO_R}
"""


def quadkey_rollup_events(spark, sf_dir):
    """Hierarchical spatial rollup — every point keyed by its level-5
    quadkey (Bing-maps tile id: interleaved grid-cell bits, pure integer
    div/mod, bit-identical across engines), then counted at every zoom
    level 1..5 by prefix truncation. One scan, one explode, one groupBy:
    the quadkey's prefix property turns a multi-resolution spatial
    aggregation into a plain string-prefix rollup — at 100 TB this is a
    single shuffle keyed by (level, tile), and coarser levels can reuse
    finer ones by another substring group-by (same pyramid shape as
    rollup_event_counts)."""
    from ip_filter_spark.operators.geo import quadkey_expr

    pts = _geo_points(spark, sf_dir)
    qk = pts.select(quadkey_expr("x", "y", 5, GEO_R).alias("qk"))
    levels = F.array(*[F.lit(i) for i in range(1, 6)])
    lv = qk.select(F.explode(levels).alias("level"), F.col("qk"))
    return lv.groupBy(
        F.col("level").cast("int").alias("level"),
        F.expr("substring(qk, 1, level)").alias("tile"),
    ).agg(F.count("*").cast("long").alias("n_points"))


def _quadkey_digits_sql(levels: int) -> str:
    parts = []
    for i in range(levels - 1, -1, -1):
        parts.append(f"CAST((gy//{1 << i})%2*2 + (gx//{1 << i})%2 AS VARCHAR)")
    return " || ".join(parts)


QUADKEY_ROLLUP_SQL = f"""
WITH pts AS ({_GEO_POINTS_SQL}),
g AS (SELECT x // {GEO_R} AS gx, y // {GEO_R} AS gy FROM pts),
qk AS (SELECT {_quadkey_digits_sql(5)} AS qk FROM g),
lv AS (SELECT CAST(l AS INT) AS level, substr(qk, 1, CAST(l AS INT)) AS tile
       FROM qk, generate_series(1, 5) AS t(l))
SELECT level, tile, COUNT(*) AS n_points FROM lv GROUP BY level, tile
"""


__all__ = [
    "pagerank_customer_supplier",
    "_pagerank_sql",
    "PAGERANK_SQL",
    "triangle_count_suppliers",
    "TRIANGLE_COUNT_SQL",
    "bfs_hops_suppliers",
    "BFS_HOPS_SQL",
    "recursive_cte_bfs_suppliers",
    "RECURSIVE_CTE_BFS_SQL",
    "GEO_L",
    "GEO_R",
    "_geo_points",
    "_GEO_POINTS_SQL",
    "geo_radius_pairs_events",
    "GEO_RADIUS_PAIRS_SQL",
    "quadkey_rollup_events",
    "_quadkey_digits_sql",
    "QUADKEY_ROLLUP_SQL",
]

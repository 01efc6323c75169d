"""Graph analytics over the lineitem co-purchase network (engine
addition; the reference has no joins at all — SURVEY §2.6).

The graph: parts are nodes; two parts are connected when they appear
in the same order (market-basket co-purchase). The raw pair set is
dense (|E| grows ~quadratically with basket count: 1.2M pairs over
20k parts at sf0.1), so every graph operator here first SPARSIFIES to
each node's top-k neighbors by co-purchase support — the standard
web-scale practice (kNN similarity graphs): it bounds degree by k,
keeps |E| <= k*|V| (linear in nodes), and makes downstream
wedge/triangle joins O(k^2 * |V|) instead of O(avg_deg^2 * |V|).

Determinism: support ties broken by neighbor id; PageRank runs in
int64 fixed-point (integer division — associative, order-independent,
bit-identical to the DuckDB oracle; SCALE.md round-2 fixed-point
design), never float.

Reference parity: none to mirror — cite app.py:311-313 (the nearest
thing the reference has to multi-record analysis is a Mongo find());
these operators are north-star additions per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..data import load_table
from ..operators.scale import materialize, session_cached, spread
from ..registry import query

# kNN sparsification fan-out. 8 keeps the sf0.1 graph at ~151k edges
# over 20k nodes (measured); at 100 TB |E| stays k*|V|.
K_NEIGHBORS = 8

# PageRank fixed point: ranks are integers scaled by 1e9; damping
# 0.85 = 17/20 in exact integer arithmetic. Sum(ranks) stays ~|V|*1e9
# < 2^63 up to ~9e9 nodes.
PR_SCALE = 1_000_000_000
PR_BASE = PR_SCALE * 3 // 20  # (1 - d) * SCALE


# Three graph queries share the same pair/edge construction; rebuild
# it once per (session, sf_dir) and hand out the materialized result
# via the shared operators.scale.session_cached (dead-session entries
# evicted, so stale checkpointed plans don't pin executor storage).
def _cached(spark: SparkSession, sf_dir: str, kind: str, build) -> DataFrame:
    return session_cached(spark, (sf_dir, "graph", kind), build)


def _copurchase_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (pa < pb) co-purchase pairs with their support
    (number of orders containing both parts).

    Scale shape: TWO shuffles, no join — baskets are collected per
    order (one map-side-combinable collect_set shuffle; dedup and
    pair generation happen inside the basket array with JVM-side
    higher-order functions, avoiding the classic distinct + self-join
    which costs three shuffles), then pair counts aggregate (second
    shuffle). Baskets are small (~4 lines/order) so per-order pair
    fan-out is C(4,2)~6 — no skew; a pathological mega-basket would
    be capped upstream in a real pipeline."""

    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem")
        baskets = li.groupBy("l_orderkey").agg(
            F.sort_array(F.collect_set("l_partkey")).alias("ps")
        )
        # All (i < j) pairs of the sorted basket: the array is sorted,
        # so pa < pb holds canonically. The lambda references only the
        # materialized `ps` attribute (HOF re-evaluation gotcha).
        pairs = baskets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ps"),
                        lambda x, i: F.transform(
                            F.slice(
                                F.col("ps"), i + F.lit(2), F.size(F.col("ps"))
                            ),
                            lambda y: F.struct(
                                x.alias("pa"), y.alias("pb")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        return pairs.groupBy(
            F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb")
        ).agg(F.count("*").alias("support"))

    return _cached(spark, sf_dir, "pairs", build)


def _knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparsified undirected edge list (a < b): keep an edge when
    EITHER endpoint ranks it in its top-K_NEIGHBORS by (support desc,
    neighbor asc) — the union-kNN graph.

    Scale shape: symmetrize (narrow union), one window per node
    (single shuffle on u), then a (a, b) dedup shuffle. Degrees are
    bounded by construction, so every downstream join is skew-free."""
    def build() -> DataFrame:
        pairs = _copurchase_support(spark, sf_dir)
        directed = pairs.select(
            F.col("pa").alias("u"), F.col("pb").alias("v"), "support"
        ).unionByName(
            pairs.select(
                F.col("pb").alias("u"), F.col("pa").alias("v"), "support"
            )
        )
        w = Window.partitionBy("u").orderBy(F.desc("support"), F.asc("v"))
        knn = directed.withColumn("rn", F.row_number().over(w)).where(
            F.col("rn") <= K_NEIGHBORS
        )
        return knn.select(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        ).distinct()

    return _cached(spark, sf_dir, "knn", build)


# Oracle-side rendering of the same sparsified graph (DuckDB).
_KNN_EDGES_SQL = f"""
    op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS support
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2),
    directed AS (
      SELECT pa AS u, pb AS v, support FROM pairs
      UNION ALL
      SELECT pb AS u, pa AS v, support FROM pairs),
    knn AS (
      SELECT u, v FROM (
        SELECT u, v,
               row_number() OVER (PARTITION BY u
                                  ORDER BY support DESC, v ASC) AS rn
        FROM directed) t
      WHERE rn <= {K_NEIGHBORS}),
    e AS (
      SELECT least(u, v) AS a, greatest(u, v) AS b FROM knn GROUP BY 1, 2)
"""


@query(
    "graph_copurchase_topk",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS pa, b.l_partkey AS pb,
           CAST(count(*) AS BIGINT) AS support
    FROM op a JOIN op b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    ORDER BY support DESC, pa ASC, pb ASC
    LIMIT 20
    """,
    tags=("graph", "market-basket", "topk"),
)
def graph_copurchase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 co-purchased part pairs by support — the market-basket
    headline ("frequently bought together").

    Scale shape: the global top-20 over the pair aggregate compiles
    to TakeOrderedAndProject (per-partition heaps + single 20-row
    merge on the driver), never a full sort. Deterministic tie-break
    by (pa, pb)."""
    return _copurchase_support(spark, sf_dir).orderBy(
        F.desc("support"), F.asc("pa"), F.asc("pb")
    ).limit(20)


@query(
    "graph_triangle_count",
    oracle=f"""
    WITH {_KNN_EDGES_SQL}
    SELECT
      CAST((SELECT count(*) FROM (SELECT a FROM e UNION SELECT b FROM e) n)
           AS BIGINT) AS n_nodes,
      CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
      CAST((SELECT count(*)
            FROM e e1
            JOIN e e2 ON e2.a = e1.b
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b) AS BIGINT)
        AS n_triangles
    """,
    tags=("graph", "triangle", "join"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count on the kNN co-purchase graph, plus node
    and edge counts — the clustering-coefficient numerator.

    Algorithm: with canonical edges (a < b), every triangle
    {x < y < z} is counted exactly once by joining (x,y)-(y,z) into a
    wedge and closing it against (x,z). Because the graph is kNN-
    sparsified, per-node degree <= 2*K, so the wedge join produces at
    most 4*K^2 rows per node — linear in |V|, not quadratic in degree
    (the reason web-scale triangle counting always degree-bounds or
    degree-orients first). Three self-joins = three shuffles on edge
    keys; the count is a 1-row reduce."""
    e = _knn_edges(spark, sf_dir)  # materialized by the shared cache
    nodes = (
        e.select(F.col("a").alias("n"))
        .unionByName(e.select(F.col("b").alias("n")))
        .distinct()
        .agg(F.count("*").cast("bigint").alias("n_nodes"))
    )
    n_edges = e.agg(F.count("*").cast("bigint").alias("n_edges"))
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    wedges = e1.join(e2, F.col("e2.a") == F.col("e1.b"))
    tri = (
        wedges.join(
            e3,
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )
    # Three 1-row aggregates cross-joined: ONE job for the whole
    # result instead of three collect() round-trips.
    return nodes.crossJoin(n_edges).crossJoin(tri)


def _pr_iter_sql(prev: str, out: str) -> str:
    """One oracle-side PageRank iteration (int64 fixed-point)."""
    return f"""
    {out} AS (
      SELECT adj.v AS node,
             {PR_BASE} + sum(({prev}.r * 17) // (20 * deg.d)) AS r
      FROM {prev}
      JOIN adj ON adj.u = {prev}.node
      JOIN deg ON deg.node = {prev}.node
      GROUP BY adj.v)
    """


@query(
    "graph_pagerank",
    oracle=f"""
    WITH {_KNN_EDGES_SQL},
    adj AS (
      SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
    deg AS (SELECT u AS node, count(*) AS d FROM adj GROUP BY 1),
    r0 AS (SELECT node, CAST({PR_SCALE} AS BIGINT) AS r FROM deg),
    {_pr_iter_sql("r0", "r1")},
    {_pr_iter_sql("r1", "r2")},
    {_pr_iter_sql("r2", "r3")}
    SELECT node AS part, CAST(r AS BIGINT) AS rank_fp
    FROM r3
    ORDER BY r DESC, node ASC
    LIMIT 20
    """,
    tags=("graph", "pagerank", "iterative", "fixed-point"),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three exact PageRank iterations (damping 0.85) on the kNN
    co-purchase graph; top-20 parts by rank.

    Fixed-point contract: ranks are int64 scaled by 1e9; each
    contribution is (r * 17) div (20 * deg) — integer division, so
    partial sums are associative and the result is bit-identical
    across partitionings and engines (no float PageRank drift).

    Scale shape per iteration: one hash join of ranks against the
    degree-bounded adjacency (broadcast of the rank side is wrong at
    scale — ranks are |V|-sized; this is a shuffle join on node id)
    and one sum shuffle on destination. The iteration count is fixed
    and small, and each round's lineage is cut by the eager
    materialization of the edge list, so the plan does not grow
    superlinearly (the recursive-CTE blowup lesson from round 2)."""
    e = _knn_edges(spark, sf_dir)  # materialized by the shared cache
    adj = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = adj.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("d"))
    ranks = deg.select("node", F.lit(PR_SCALE).cast("bigint").alias("r"))
    adj_deg = adj.join(
        deg.withColumnRenamed("node", "u2"), F.col("u") == F.col("u2")
    ).select("u", "v", "d")
    # Every round re-reads the adjacency: materialize it once.
    adj_deg = materialize(adj_deg)
    for _ in range(3):
        contrib = adj_deg.join(ranks, adj_deg["u"] == ranks["node"]).select(
            F.col("v"),
            F.expr(f"(r * 17) div (20 * d)").alias("c"),
        )
        ranks = contrib.groupBy(F.col("v").alias("node")).agg(
            (F.lit(PR_BASE) + F.sum("c")).alias("r")
        )
    return (
        ranks.select(F.col("node").alias("part"), F.col("r").alias("rank_fp"))
        .orderBy(F.desc("rank_fp"), F.asc("part"))
        .limit(20)
    )


@query(
    "graph_clustering_coefficient",
    oracle=f"""
    WITH {_KNN_EDGES_SQL},
    tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM e e1
        JOIN e e2 ON e2.a = e1.b
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    tri_per_node AS (
        SELECT node, CAST(count(*) AS BIGINT) AS t
        FROM (SELECT x AS node FROM tri
              UNION ALL SELECT y FROM tri
              UNION ALL SELECT z FROM tri) u
        GROUP BY node
    ),
    deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS d
        FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e) u
        GROUP BY node
    )
    SELECT d.node AS part, d.d AS degree,
           coalesce(t.t, 0) AS n_triangles,
           CAST(2 * coalesce(t.t, 0) AS DOUBLE)
             / CAST(d.d * (d.d - 1) AS DOUBLE) AS clustering_coeff
    FROM deg d LEFT JOIN tri_per_node t ON t.node = d.node
    WHERE d.d >= 2
    ORDER BY clustering_coeff DESC, n_triangles DESC, part ASC
    LIMIT 20
    """,
    tags=("graph", "triangle", "clustering"),
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient — how clique-like each node's
    neighborhood is (2T_v / d_v(d_v-1)); top-20 by coefficient. The
    community-structure signal recommendation systems read off the
    co-purchase graph.

    Scale shape: the same degree-bounded wedge join as the global
    triangle count, then each closed triangle credits its three
    corners (narrow union + one count shuffle); degrees are one more
    count shuffle; the final top-20 is TakeOrderedAndProject. The
    coefficient division is a single identical IEEE op on exact
    integer operands."""
    e = _knn_edges(spark, sf_dir)  # materialized by the shared cache
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    tri_nodes = (
        tri.select(F.col("x").alias("node"))
        .unionByName(tri.select(F.col("y").alias("node")))
        .unionByName(tri.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("t"))
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    cc = (
        deg.join(tri_nodes, "node", "left")
        .where(F.col("d") >= 2)
        .select(
            F.col("node").alias("part"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).cast("bigint").alias("n_triangles"),
            (
                (2 * F.coalesce(F.col("t"), F.lit(0))).cast("double")
                / (F.col("d") * (F.col("d") - 1)).cast("double")
            ).alias("clustering_coeff"),
        )
    )
    return cc.orderBy(
        F.desc("clustering_coeff"), F.desc("n_triangles"), F.asc("part")
    ).limit(20)


@query(
    "graph_jaccard_neighbors",
    oracle=f"""
    WITH {_KNN_EDGES_SQL},
    adj AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
    deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY u),
    cn AS (
        SELECT n1.u AS pa, n2.u AS pb, CAST(count(*) AS BIGINT) AS common
        FROM adj n1 JOIN adj n2 ON n1.v = n2.v AND n1.u < n2.u
        GROUP BY 1, 2
    )
    SELECT cn.pa, cn.pb, cn.common,
           (e.a IS NOT NULL) AS is_edge,
           CAST(cn.common AS DOUBLE)
             / CAST(da.d + db.d - cn.common AS DOUBLE) AS jaccard
    FROM cn
    JOIN deg da ON da.node = cn.pa
    JOIN deg db ON db.node = cn.pb
    LEFT JOIN e ON e.a = cn.pa AND e.b = cn.pb
    ORDER BY jaccard DESC, common DESC, pa ASC, pb ASC
    LIMIT 20
    """,
    tags=("graph", "link-prediction", "similarity"),
)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood Jaccard similarity — the classic link-prediction
    score: for every node pair sharing at least one neighbor,
    |N(a) ∩ N(b)| / |N(a) ∪ N(b)|, flagged with whether the pair is
    already an edge (high-score non-edges are the predicted links).

    Scale shape: candidate pairs are generated THROUGH shared
    neighbors, never all-pairs. Rather than self-joining the
    adjacency on the neighbor column (an 8M-row join output at
    sf0.1), the per-center neighbor LIST is built once (one
    collect_list shuffle — its size is each node's degree, bounded
    by the kNN construction on one side) and the C(deg,2) wedge
    pairs stream out of a double explode — no join, and the same
    grouped list yields the degree table for free (size(nbrs)).
    One count shuffle on the pair key, then degree/edge-flag joins
    that AQE plans as broadcasts at test scale (|V|- and |E|-sized
    tables; at billion-node scale they degrade gracefully to shuffle
    joins on the same pair key), TakeOrderedAndProject for the
    top-20. Measured 4x over the self-join form — the explode
    runs on a spread input because the materialized edge cache is
    byte-small (SCALE.md spread rule). The Jaccard division is one
    identical IEEE op on exact integer operands (cross-engine
    bit-equal)."""
    from ..operators.scale import materialize, session_cached, spread

    e = _knn_edges(spark, sf_dir)
    adj = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    # staged (r10 shuffle sweep): centers feeds the wedge explode AND
    # both degree joins — unstaged, the union+collect_list aggregate
    # re-ran three times (ReuseExchange never fires across the
    # broadcast boundary the deg joins sit behind), 7 shuffles -> 3
    centers = materialize(
        spread(
            adj.groupBy(F.col("v").alias("c")).agg(
                F.sort_array(F.collect_list("u")).alias("nbrs")
            )
        )
    )
    deg = centers.select(F.col("c").alias("node"), F.size("nbrs").cast("bigint").alias("d"))
    pairs = centers.select(F.explode("nbrs").alias("pa"), "nbrs").select(
        "pa", F.explode(F.expr("filter(nbrs, x -> x > pa)")).alias("pb")
    )
    cn = pairs.groupBy("pa", "pb").agg(F.count("*").cast("bigint").alias("common"))
    da, db = deg.alias("da"), deg.alias("db")
    scored = (
        cn.join(da, F.col("da.node") == F.col("pa"))
        .join(db, F.col("db.node") == F.col("pb"))
        .join(
            e.select("a", "b").alias("ee"),
            (F.col("ee.a") == F.col("pa")) & (F.col("ee.b") == F.col("pb")),
            "left",
        )
        .select(
            "pa",
            "pb",
            "common",
            F.col("ee.a").isNotNull().alias("is_edge"),
            (
                F.col("common").cast("double")
                / (F.col("da.d") + F.col("db.d") - F.col("common")).cast("double")
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.desc("jaccard"), F.desc("common"), F.asc("pa"), F.asc("pb")
    ).limit(20)


@query(
    "graph_degree_distribution",
    oracle=f"""
    WITH {_KNN_EDGES_SQL},
    deg AS (
        SELECT node, COUNT(*) AS degree
        FROM (SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e)
        GROUP BY node
    )
    SELECT degree, COUNT(*) AS n_nodes
    FROM deg GROUP BY degree ORDER BY degree
    """,
    tags=("graph", "degree-distribution"),
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the sparsified co-purchase graph — the
    first thing a graph pipeline inspects before choosing join
    strategies (a heavy-tailed histogram means the vertex-join family
    needs salting; this kNN graph is degree-bounded by construction
    and the histogram PROVES it, so the downstream triangle/Jaccard
    joins are safely skew-free).

    Scale shape: symmetrize (narrow union), one node-key shuffle for
    degrees, then a histogram aggregate whose key space is bounded by
    the max degree — tiny output regardless of |E|."""
    e = _knn_edges(spark, sf_dir)  # materialized by the shared cache
    nodes = e.select(F.col("a").alias("node")).unionByName(
        e.select(F.col("b").alias("node"))
    )
    deg = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("degree")
    )


@query(
    "graph_bfs_levels",
    oracle=f"""
    WITH RECURSIVE {_KNN_EDGES_SQL},
    adj AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
    src AS (SELECT MIN(a) AS s FROM e),
    walk(node, lvl) AS (
        SELECT s, 0 FROM src
        UNION
        SELECT adj.v, walk.lvl + 1
        FROM walk JOIN adj ON adj.u = walk.node
        WHERE walk.lvl < 3
    )
    SELECT CAST(min_lvl AS BIGINT) AS level, COUNT(*) AS n_nodes
    FROM (SELECT node, MIN(lvl) AS min_lvl FROM walk GROUP BY node)
    GROUP BY 1 ORDER BY 1
    """,
    tags=("graph", "bfs", "iterative"),
)
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-hop breadth-first search from the lowest-id node of the
    co-purchase graph: how many nodes sit at each BFS distance
    0..3 — the reachability primitive under friend-of-a-friend
    queries and network blast-radius analysis. Frontier expansion is
    the Pregel pattern dedup_clusters already uses, here with an
    explicit per-level frontier: join frontier to adjacency, anti-join
    out already-visited nodes, checkpoint, repeat — each round's
    frontier is the ONLY thing joined, so per-round cost tracks
    frontier x degree, not |V| x |E|.

    The oracle is a recursive CTE whose UNION dedups (node, level)
    pairs; MIN(level) per node afterwards is exactly the BFS distance,
    pinning the iterative DataFrame loop against declarative
    recursion cross-engine (the same three-way check philosophy as
    dedup_clusters).

    Scale shape: adjacency is degree-bounded (kNN graph), each round
    is one join shuffle + one anti-join on the visited set;
    localCheckpoint cuts lineage so round N's plan does not replay
    rounds 1..N-1. Visited-set growth is the memory bound — at
    web scale the visited set becomes a bloom-gated anti join
    (join_bloom_prefilter is that machinery)."""
    e = _knn_edges(spark, sf_dir)  # materialized by the shared cache
    adj = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    src = e.agg(F.min("a").alias("node")).withColumn("level", F.lit(0))
    visited = src.transform(materialize)
    frontier = visited
    for lvl in range(1, 4):
        nxt = (
            adj.join(
                frontier.select(F.col("node").alias("u")).hint("broadcast"), "u"
            )
            .select(F.col("v").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("level", F.lit(lvl))
            .transform(materialize)
        )
        visited = visited.unionByName(nxt).transform(materialize)
        frontier = nxt
    return (
        visited.groupBy("level")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("level")
    )


K_CORE = 3  # peel threshold: nodes need >= 3 surviving neighbors
KCORE_ROUNDS = 3  # bounded rounds keep the oracle a finite CTE chain


def _kcore_degree_sql(edges: str) -> str:
    return (
        f"SELECT n, count(*) AS deg FROM "
        f"(SELECT a AS n FROM {edges} UNION ALL SELECT b FROM {edges}) t "
        f"GROUP BY 1"
    )


@query(
    "graph_kcore_peel",
    oracle=f"""
    WITH {_KNN_EDGES_SQL},
    em AS MATERIALIZED (SELECT a, b FROM e),
    d0 AS ({_kcore_degree_sql("em")}),
    r1 AS MATERIALIZED (SELECT n FROM d0 WHERE deg < {K_CORE}),
    e1 AS MATERIALIZED (
        SELECT a, b FROM em WHERE a NOT IN (SELECT n FROM r1)
                              AND b NOT IN (SELECT n FROM r1)),
    d1 AS ({_kcore_degree_sql("e1")}),
    r2 AS MATERIALIZED (SELECT n FROM d1 WHERE deg < {K_CORE}),
    e2 AS MATERIALIZED (
        SELECT a, b FROM e1 WHERE a NOT IN (SELECT n FROM r2)
                              AND b NOT IN (SELECT n FROM r2)),
    d2 AS ({_kcore_degree_sql("e2")}),
    r3 AS MATERIALIZED (SELECT n FROM d2 WHERE deg < {K_CORE}),
    e3 AS MATERIALIZED (
        SELECT a, b FROM e2 WHERE a NOT IN (SELECT n FROM r3)
                              AND b NOT IN (SELECT n FROM r3))
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS round,
             CAST((SELECT count(*) FROM r1) AS BIGINT) AS n_removed,
             CAST((SELECT count(*) FROM e1) AS BIGINT) AS n_edges_left
      UNION ALL
      SELECT 2, (SELECT count(*) FROM r2), (SELECT count(*) FROM e2)
      UNION ALL
      SELECT 3, (SELECT count(*) FROM r3), (SELECT count(*) FROM e3)
    ) s ORDER BY round
    """,
    tags=("graph", "kcore", "iterative", "engine-addition"),
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition by degree peeling (KCORE_ROUNDS=3 bounded
    rounds, k=K_CORE=3): each round removes every node whose degree
    in the SURVIVING graph is below k, then recomputes degrees — the
    community-detection / spam-filtering primitive that strips
    low-engagement periphery off a graph. Per-round audit rows
    (nodes removed, edges left) show the convergence trajectory.

    Scale shape: one degree aggregate (explode both endpoints, one
    shuffle) and two LEFT ANTI joins against the small dropped-node
    set (broadcast) per round; the edge table is localCheckpoint'ed
    each round, so lineage stays flat (same discipline as
    graph_bfs_levels / dedup_clusters). The full algorithm peels to
    fixpoint with the identical round body plus the scalar
    convergence check dedup_clusters uses; the bounded form keeps the
    DuckDB oracle a finite CTE chain. Degrees are bounded by the kNN
    construction (union-kNN ≤ 2·K_NEIGHBORS), so the degree shuffle
    is skew-free by design."""
    edges = _knn_edges(spark, sf_dir)
    stats = []
    for rnd in range(1, KCORE_ROUNDS + 1):
        deg = (
            edges.select(F.col("a").alias("n"))
            .unionAll(edges.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        drop = (
            deg.where(F.col("deg") < K_CORE)
            .select("n")
            .transform(materialize)
        )
        edges = (
            edges.join(
                F.broadcast(drop), edges["a"] == drop["n"], "left_anti"
            )
            .join(F.broadcast(drop), F.col("b") == drop["n"], "left_anti")
            .transform(materialize)
        )
        stats.append(
            drop.agg(F.count(F.lit(1)).cast("bigint").alias("n_removed"))
            .crossJoin(
                edges.agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_edges_left")
                )
            )
            .select(
                F.lit(rnd).cast("bigint").alias("round"),
                "n_removed",
                "n_edges_left",
            )
        )
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return out.orderBy("round")


@query(
    "graph_modularity_by_brand",
    oracle=f"""
    WITH {_KNN_EDGES_SQL},
    lab AS (SELECT p_partkey, p_brand FROM part),
    le AS (
        SELECT la.p_brand AS ba, lb.p_brand AS bb
        FROM e JOIN lab la ON e.a = la.p_partkey
               JOIN lab lb ON e.b = lb.p_partkey
    ),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m_edges FROM le),
    ein AS (
        SELECT ba AS brand, CAST(count(*) AS BIGINT) AS e_in
        FROM le WHERE ba = bb GROUP BY 1
    ),
    degs AS (
        SELECT brand, CAST(count(*) AS BIGINT) AS deg_sum FROM (
            SELECT ba AS brand FROM le UNION ALL SELECT bb FROM le
        ) t GROUP BY 1
    ),
    bycomm AS (
        SELECT d.brand,
               coalesce(ein.e_in, 0) AS e_in,
               d.deg_sum,
               4 * m.m_edges * coalesce(ein.e_in, 0)
                 - d.deg_sum * d.deg_sum AS contrib_num
        FROM degs d LEFT JOIN ein ON d.brand = ein.brand, m
    )
    SELECT CAST((SELECT m_edges FROM m) AS BIGINT) AS n_edges,
           CAST(count(*) AS BIGINT) AS n_communities,
           CAST(sum(e_in) AS BIGINT) AS intra_edges,
           CAST(sum(contrib_num) AS BIGINT) AS q_num,
           CAST(4 * (SELECT m_edges FROM m) * (SELECT m_edges FROM m)
                AS BIGINT) AS q_den,
           CAST(sum(contrib_num) AS DOUBLE)
             / (4.0 * (SELECT m_edges FROM m) * (SELECT m_edges FROM m))
               AS modularity
    FROM bycomm
    """,
    tags=("graph", "modularity", "community", "engine-addition"),
)
def graph_modularity_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of a community assignment — the quality
    score every community-detection loop (Louvain/Leiden) maximizes
    — evaluated for the part-brand partition of the co-purchase kNN
    graph: Q = Σ_c [e_in/m − (deg_c/2m)²]. Cross-scaled to integers
    (Q·4m² = Σ 4m·e_in − deg_c², emitted as exact q_num/q_den) so
    the only float is the final division.

    Scale shape: edges join the node→community map twice (broadcast
    — the label map is |nodes| rows but only (key, small label)
    columns; at web scale this is the classic 2-hop join sharded on
    node id), then two community-grain aggregates. Communities are
    the reduce keys, so skew follows community size — the same
    reason Louvain implementations aggregate per-community partials
    map-side. The brand partition scores near zero (co-purchase
    edges ignore brands — planted randomness), which is itself the
    diagnostic: modularity near 0 says "this labeling explains
    nothing", exactly what a mixture-curation pipeline checks before
    trusting a domain split."""
    e = _knn_edges(spark, sf_dir)
    lab = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("k"), F.col("p_brand").alias("brand")
    )
    le = (
        e.join(F.broadcast(lab.withColumnRenamed("brand", "ba")), e.a == F.col("k"))
        .drop("k")
        .join(
            F.broadcast(lab.withColumnRenamed("brand", "bb")),
            F.col("b") == F.col("k"),
        )
        .select("ba", "bb")
        .transform(materialize)
    )
    m = le.agg(F.count(F.lit(1)).cast("bigint").alias("m_edges"))
    ein = (
        le.where(F.col("ba") == F.col("bb"))
        .groupBy(F.col("ba").alias("brand"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_in"))
    )
    degs = (
        le.select(F.col("ba").alias("brand"))
        .unionAll(le.select(F.col("bb").alias("brand")))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg_sum"))
    )
    bycomm = (
        degs.join(ein, "brand", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "brand",
            F.coalesce(F.col("e_in"), F.lit(0)).alias("e_in"),
            "deg_sum",
            (
                4 * F.col("m_edges") * F.coalesce(F.col("e_in"), F.lit(0))
                - F.col("deg_sum") * F.col("deg_sum")
            ).alias("contrib_num"),
            "m_edges",
        )
    )
    return bycomm.agg(
        F.max("m_edges").cast("bigint").alias("n_edges"),
        F.count(F.lit(1)).cast("bigint").alias("n_communities"),
        F.sum("e_in").cast("bigint").alias("intra_edges"),
        F.sum("contrib_num").cast("bigint").alias("q_num"),
        (4 * F.max("m_edges") * F.max("m_edges")).cast("bigint").alias("q_den"),
        (
            F.sum("contrib_num").cast("double")
            / (F.lit(4.0) * F.max("m_edges") * F.max("m_edges"))
        ).alias("modularity"),
    )


@query(
    "graph_degree_assortativity",
    oracle=f"""
    WITH {_KNN_EDGES_SQL},
    deg AS (
        SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
            SELECT a AS n FROM e UNION ALL SELECT b FROM e
        ) t GROUP BY 1
    ),
    de AS (
        SELECT da.d AS x, db.d AS y
        FROM e JOIN deg da ON e.a = da.n JOIN deg db ON e.b = db.n
    ),
    sym AS (
        SELECT x, y FROM de UNION ALL SELECT y, x FROM de
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM sym
    )
    SELECT n, sx, sxy,
           CAST(n * sxy - sx * sy AS BIGINT) AS cov_num,
           CAST((n * sxx - sx * sx) AS BIGINT) AS var_num,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)) AS assortativity
    FROM m
    """,
    tags=("graph", "assortativity", "statistics", "engine-addition"),
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity — the Pearson correlation of degrees
    across edge endpoints (Newman r): do hubs attach to hubs
    (assortative, r > 0, social-network-like) or to leaves
    (disassortative, r < 0, kNN/web-like)? All five moments are exact
    integer sums over the SYMMETRIZED endpoint-degree pairs (each
    undirected edge contributes both orientations — required for the
    standard definition), so numerator and variance terms are exact
    bigints; the final r is one sqrt + divide.

    Scale shape: the degree table is one aggregate; decorating edges
    with endpoint degrees is two joins on the node key (degree-bounded
    graph, so skew-free; at web scale the degree map shards by node
    id — the standard 2-hop decoration); the moment rollup is one
    map-side-combinable pass to a single row."""
    e = _knn_edges(spark, sf_dir)
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    da = deg.select(F.col("n").alias("node_a"), F.col("d").alias("x"))
    db = deg.select(F.col("n").alias("node_b"), F.col("d").alias("y"))
    de = (
        e.join(da, e.a == da.node_a)
        .join(db, e.b == db.node_b)
        .select("x", "y")
    )
    sym = de.unionAll(de.select(F.col("y").alias("x"), F.col("x").alias("y")))
    m = sym.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    return m.select(
        "n",
        "sx",
        "sxy",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("bigint")
        .alias("cov_num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("bigint")
        .alias("var_num"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                    "double"
                )
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                    "double"
                )
            )
        ).alias("assortativity"),
    )


@query(
    "graph_association_rules",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
          FROM op),
    supp AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS s FROM op GROUP BY 1
    ),
    pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb,
               CAST(count(*) AS BIGINT) AS supp_ab
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ),
    top AS (
        SELECT * FROM pairs ORDER BY supp_ab DESC, pa, pb LIMIT 20
    )
    SELECT t.pa, t.pb, t.supp_ab,
           sa.s AS supp_a, sb.s AS supp_b, n.n_orders,
           CAST(t.supp_ab * 1000000 // sa.s AS BIGINT) AS conf_ab_ppm,
           CAST(t.supp_ab * 1000000 // sb.s AS BIGINT) AS conf_ba_ppm,
           CAST(n.n_orders * t.supp_ab AS DOUBLE)
             / CAST(sa.s * sb.s AS DOUBLE) AS lift
    FROM top t
    JOIN supp sa ON t.pa = sa.l_partkey
    JOIN supp sb ON t.pb = sb.l_partkey, n
    ORDER BY t.supp_ab DESC, t.pa, t.pb
    """,
    tags=("graph", "association-rules", "market-basket", "engine-addition"),
)
def graph_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over the co-purchase pairs: confidence
    (P(b|a), both directions, integer ppm) and lift
    (N·supp_ab / (supp_a·supp_b) — how much more often the pair
    co-occurs than independence predicts) for the top-20 supported
    pairs. Lift's numerator and denominator are exact integers; the
    division is the one float, and the ranking key is pure-integer
    support with a (pa, pb) tie-break, so the selected rule set is
    deterministic cross-engine.

    Scale shape: the pair aggregate is the shared
    _copurchase_support table; the top slice is
    TakeOrderedAndProject; item supports join onto the 20-row slice
    as two BROADCAST joins of the slice against the item-support
    table (never the reverse — the item table scales with the
    catalog). This (supports + pair counts → confidence/lift) is
    exactly frequent-itemset mining's k=2 stage; higher k iterates
    the same join shape on frequent survivors (Apriori's candidate
    pruning), which the docstring of a 100 TB run would bound by
    min-support pushdown into the pair aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct().transform(materialize)
    n = op.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n_orders")
    )
    supp = op.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("s")
    )
    top = (
        _copurchase_support(spark, sf_dir)
        .select("pa", "pb", F.col("support").cast("bigint").alias("supp_ab"))
        .orderBy(F.desc("supp_ab"), "pa", "pb")
        .limit(20)
    )
    sa = supp.select(F.col("l_partkey").alias("ka"), F.col("s").alias("supp_a"))
    sb = supp.select(F.col("l_partkey").alias("kb"), F.col("s").alias("supp_b"))
    half = sa.join(F.broadcast(top), sa.ka == top.pa).drop("ka")
    joined = (
        sb.join(F.broadcast(half), F.col("pb") == F.col("kb"))
        .drop("kb")
        .crossJoin(F.broadcast(n))
    )
    return joined.select(
        "pa",
        "pb",
        "supp_ab",
        "supp_a",
        "supp_b",
        "n_orders",
        F.expr("CAST(supp_ab * 1000000 div supp_a AS BIGINT)").alias(
            "conf_ab_ppm"
        ),
        F.expr("CAST(supp_ab * 1000000 div supp_b AS BIGINT)").alias(
            "conf_ba_ppm"
        ),
        (
            (F.col("n_orders") * F.col("supp_ab")).cast("double")
            / (F.col("supp_a") * F.col("supp_b")).cast("double")
        ).alias("lift"),
    ).orderBy(F.desc("supp_ab"), "pa", "pb")


@query(
    "graph_two_hop_min_plus",
    oracle="""
    WITH edges AS (
        SELECT l.l_partkey AS part, o.o_custkey AS cust,
               CAST(min(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS w
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    ),
    deg AS (
        SELECT part FROM edges GROUP BY part HAVING count(*) <= 40
    ),
    pairs AS (
        SELECT a.cust AS c1, b.cust AS c2, a.part AS part,
               a.w + b.w AS cost
        FROM edges a JOIN deg d ON a.part = d.part
        JOIN edges b ON b.part = a.part AND a.cust < b.cust
    ),
    best AS (
        SELECT c1, c2,
               CAST(min(cost) AS BIGINT) AS min_cost_cents,
               CAST(count(*) AS BIGINT) AS n_shared_parts
        FROM pairs GROUP BY c1, c2
    )
    SELECT c1, c2, min_cost_cents, n_shared_parts
    FROM best
    ORDER BY min_cost_cents ASC, c1 ASC, c2 ASC
    LIMIT 20
    """,
    tags=("graph", "min-plus", "join", "engine-addition"),
)
def graph_two_hop_min_plus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest two-hop connection in the weighted customer-part
    bipartite graph — one min-plus matrix-multiply step, the building
    block of distributed shortest paths (and of 'cheapest shared
    resource' analytics): edge weight = min observed line price in
    exact cents; for every customer pair reachable through a shared
    part, the min over parts of w1+w2. Candidate pairs are generated
    THROUGH the shared part (wedge join) with a degree cap of 40 on
    the join-side part — the standard hub-suppression bound that
    keeps the fan-out sum(deg^2) instead of quadratic; the final
    top-20 is a TakeOrderedAndProject.

    Scale: edge build is one (part, cust) shuffle; the wedge join
    shuffles edges once on part; min-plus re-aggregates on the pair
    key — three shuffles total, no cartesian, hub parts excluded
    before the join fan-out (docstring bound, plan-assertable)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast(
        "bigint"
    )
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("l_partkey").alias("part"), F.col("o_custkey").alias("cust")
        )
        .agg(F.min(cents).cast("bigint").alias("w"))
    )
    deg = edges.groupBy("part").agg(F.count("*").alias("d")).filter(
        F.col("d") <= 40
    )
    # Array-pair rewrite (round 4, same as the RA-index fix): collect
    # each capped part's (cust, w) list once and generate the (c1 <
    # c2) pairs IN-ROW with the slice/transform HOF — sort_array on
    # the struct orders by cust, so the canonical order is free — and
    # spread the byte-small array table before the CPU-bound explode.
    # Replaces the self-join that shuffled sum(deg^2) rows (benched
    # 9.1 s at sf0.1).
    nbrs = (
        edges.join(deg.select("part"), "part")
        .groupBy("part")
        .agg(F.sort_array(F.collect_list(F.struct("cust", "w"))).alias("ns"))
    )
    nbrs = spread(nbrs)
    pairs = nbrs.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ns"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ns"), i + F.lit(2), F.size(F.col("ns"))),
                        lambda y: F.struct(
                            x["cust"].alias("c1"),
                            y["cust"].alias("c2"),
                            (x["w"] + y["w"]).alias("cost"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select(
        F.col("p.c1").alias("c1"),
        F.col("p.c2").alias("c2"),
        F.col("p.cost").alias("cost"),
    )
    return (
        pairs.groupBy("c1", "c2")
        .agg(
            F.min("cost").cast("bigint").alias("min_cost_cents"),
            F.count("*").cast("bigint").alias("n_shared_parts"),
        )
        .orderBy(
            F.col("min_cost_cents").asc(), F.col("c1").asc(), F.col("c2").asc()
        )
        .limit(20)
    )


@query(
    "graph_item_item_cosine",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    deg AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS c FROM op GROUP BY 1
    ),
    co AS (
        SELECT a.l_partkey AS i, b.l_partkey AS j,
               CAST(count(*) AS BIGINT) AS cij
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT co.i, co.j, co.cij,
               CAST(co.cij AS DOUBLE)
                   / sqrt(CAST(di.c AS DOUBLE) * CAST(dj.c AS DOUBLE))
                   AS cosine
        FROM co
        JOIN deg di ON co.i = di.l_partkey
        JOIN deg dj ON co.j = dj.l_partkey
    ),
    ranked AS (
        SELECT i, j, cij, cosine,
               CAST(row_number() OVER (PARTITION BY i
                   ORDER BY cosine DESC, j ASC) AS BIGINT) AS rnk
        FROM scored
    )
    SELECT i AS item, j AS neighbor, cij AS co_count, cosine, rnk
    FROM ranked WHERE rnk <= 5
    ORDER BY item, rnk
    """,
    tags=("graph", "recommender", "cosine", "engine-addition"),
)
def graph_item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filter model build: cosine similarity
    over binary co-occurrence (orders containing both items) with
    each item's top-5 neighbors — the classic 'customers who bought
    X also bought' model, built entirely from counts: cij exact
    integers from the wedge join through the shared order, the
    cosine cij/sqrt(ci*cj) one identically-staged double per pair,
    and per-item neighbor lists by windowed rank (ties to the
    smaller item id). Complements graph_copurchase_topk (global top
    pairs): this is the per-item normalized MODEL a recommender
    serves.

    Scale: the staged incidence table is scanned once (degrees and
    both wedge sides read the stage); the wedge join fans out
    sum(items-per-order^2) — bounded by basket size, not catalog
    size; the staged degree vector joins twice (AQE broadcasts it
    when it fits); the
    rank window runs per item on <= its neighbor count. Hub
    suppression (cap items-per-order) is the standard guard when
    baskets are unbounded."""
    # the distinct (order, part) incidence table feeds THREE legs
    # (degrees + both sides of the wedge join); staged once so the
    # fact scan and the distinct shuffle run once, not three times
    # (VERDICT r8 #4: this query carried x3 re-scans and 9 shuffles)
    op = materialize(
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    # degree vector staged too: it is consumed twice (i- and j-side)
    deg = materialize(
        op.groupBy("l_partkey").agg(F.count("*").cast("bigint").alias("c"))
    )
    a, b = op.alias("a"), op.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("i"), F.col("b.l_partkey").alias("j")
        )
        .agg(F.count("*").cast("bigint").alias("cij"))
    )
    di = deg.select(F.col("l_partkey").alias("i"), F.col("c").alias("ci"))
    dj = deg.select(F.col("l_partkey").alias("j"), F.col("c").alias("cj"))
    scored = (
        co.join(di, "i")
        .join(dj, "j")
        .select(
            "i",
            "j",
            "cij",
            (
                F.col("cij").cast("double")
                / F.sqrt(F.col("ci").cast("double") * F.col("cj").cast("double"))
            ).alias("cosine"),
        )
    )
    ranked = scored.withColumn(
        "rnk",
        F.row_number()
        .over(
            Window.partitionBy("i").orderBy(
                F.col("cosine").desc(), F.col("j").asc()
            )
        )
        .cast("bigint"),
    )
    return (
        ranked.filter(F.col("rnk") <= 5)
        .select(
            F.col("i").alias("item"),
            F.col("j").alias("neighbor"),
            F.col("cij").alias("co_count"),
            "cosine",
            "rnk",
        )
        .orderBy("item", "rnk")
    )


def _walk_step_sql(prev: str, out: str, step: int) -> str:
    """One unrolled walk step for the DuckDB oracle: from each
    walk's current node ``cur``, hop to the neighbor minimizing
    md5(seed|step|cur|neighbor) — a deterministic stand-in for a
    uniform-random choice that both engines reproduce exactly."""
    return f"""
    {out} AS (
        SELECT start_node, seed, v AS cur FROM (
            SELECT p.start_node, p.seed, a.v,
                   row_number() OVER (
                       PARTITION BY p.start_node, p.seed
                       ORDER BY md5(concat_ws('|', p.seed, {step},
                                              p.cur, a.v)), a.v) AS rn
            FROM {prev} p JOIN adj a ON a.u = p.cur
        ) WHERE rn = 1
    )"""


@query(
    "graph_random_walks",
    oracle=f"""
    WITH {_KNN_EDGES_SQL},
    adj AS MATERIALIZED (
        SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e
    ),
    w0 AS (
        SELECT DISTINCT u AS start_node, s.seed, u AS cur
        FROM adj, (VALUES (0), (1)) s(seed)
    ),
    {_walk_step_sql('w0', 'w1', 1)},
    {_walk_step_sql('w1', 'w2', 2)},
    {_walk_step_sql('w2', 'w3', 3)}
    SELECT w0.start_node, CAST(w0.seed AS BIGINT) AS seed,
           w1.cur AS n1, w2.cur AS n2, w3.cur AS n3
    FROM w0
    JOIN w1 ON w1.start_node = w0.start_node AND w1.seed = w0.seed
    JOIN w2 ON w2.start_node = w0.start_node AND w2.seed = w0.seed
    JOIN w3 ON w3.start_node = w0.start_node AND w3.seed = w0.seed
    """,
    tags=("graph", "walks", "embedding", "engine-addition"),
)
def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk/node2vec corpus generation: two fixed-length-3 walks
    from every node of the co-purchase kNN graph — the sampling step
    that turns a 100 TB graph into skip-gram training sequences for
    embedding models. The 'random' neighbor choice is DERANDOMIZED
    the same way the Poisson bootstrap and hash samplers here are:
    step s from node u walks to argmin_v md5(seed|s|u|v) —
    uniform-random in distribution across (seed, step, node), yet
    reproducible bit-for-bit across engines, retries, and partition
    layouts, which seeded RNG walks are NOT (their draw order depends
    on row order).

    Scale shape: the hash argmin depends only on (cur, seed, step) —
    NOT on which walk is standing there — so the next-hop choice is
    a shared TRANSITION TABLE (|V| x seeds x steps rows), computed
    in ONE spread aggregate over the edge list with map-side combine
    (MIN(struct(hash, v)) — same total order as the rank window it
    replaced, but combinable). Each walk step is then a plain
    equi-join against the transition table; the walk table carries
    its hops so there is no final assembly join. First cut ran the
    md5 fan-out once per step inside a rank window: AQE coalesced
    the small partitions to ONE task for the CPU-bound hash stage —
    5.9s; transition-table form ~2.3s warm at sf0.1 (incl. the
    per-process kNN cache share)."""
    from ..operators.scale import materialize, session_cached, spread

    e = _knn_edges(spark, sf_dir)  # materialized by the shared cache
    adj = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    seeds = spark.range(2).select(F.col("id").cast("int").alias("seed"))
    steps = spark.range(1, 4).select(F.col("id").cast("int").alias("step"))
    trans = (
        spread(adj)
        .crossJoin(F.broadcast(seeds))
        .crossJoin(F.broadcast(steps))
        .select(
            "u",
            "seed",
            "step",
            F.struct(
                F.md5(
                    F.concat_ws(
                        "|", F.col("seed"), F.col("step"), F.col("u"), F.col("v")
                    )
                ).alias("h"),
                F.col("v").alias("v"),
            ).alias("hv"),
        )
        .groupBy("u", "seed", "step")
        .agg(F.min("hv").alias("hv"))
        .select("u", "seed", "step", F.col("hv.v").alias("nxt"))
        .transform(materialize)
    )
    walk = (
        adj.select(F.col("u").alias("start_node"))
        .distinct()
        .crossJoin(F.broadcast(seeds))
        .select("start_node", "seed", F.col("start_node").alias("cur"))
    )
    carried = ["start_node", "seed"]
    for step in (1, 2, 3):
        t = trans.where(F.col("step") == step).select(
            F.col("u").alias("cur"), "seed", "nxt"
        )
        walk = walk.join(t, ["cur", "seed"]).select(
            *carried, F.col("nxt").alias(f"n{step}"), F.col("nxt").alias("cur")
        )
        carried.append(f"n{step}")
    return walk.select(
        "start_node",
        F.col("seed").cast("bigint").alias("seed"),
        "n1",
        "n2",
        "n3",
    )

def _lpa_round_sql(prev: str, out: str) -> str:
    """One synchronous LPA round: each node adopts its neighbors'
    most frequent label, ties to the smallest label."""
    return f"""
    {out} AS MATERIALIZED (
        SELECT node, lbl FROM (
            SELECT a.u AS node, p.lbl,
                   row_number() OVER (
                       PARTITION BY a.u
                       ORDER BY count(*) DESC, p.lbl ASC) AS rn
            FROM adj a JOIN {prev} p ON p.node = a.v
            GROUP BY a.u, p.lbl
        ) WHERE rn = 1
    )"""


@query(
    "graph_lpa_communities",
    oracle=f"""
    WITH {_KNN_EDGES_SQL},
    adj AS MATERIALIZED (
        SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e
    ),
    l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM adj),
    {_lpa_round_sql('l0', 'l1')},
    {_lpa_round_sql('l1', 'l2')}
    SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members
    FROM l2 GROUP BY lbl ORDER BY community
    """,
    tags=("graph", "community", "lpa", "engine-addition"),
)
def graph_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation, two
    rounds, fully deterministic: every node starts as its own label
    and adopts its neighbors' most frequent label each round (ties
    to the smallest label — classic LPA leaves tie-breaking random,
    which is exactly what a reproducible 100 TB pipeline cannot
    have). Two synchronized rounds bound the work; convergence-style
    LPA loops the same dataflow with the scalar-only round check
    used by dedup_clusters. Output is the community-size histogram.

    Scale shape per round: ONE equi-join (adjacency x label table,
    both partitioned on the node key), a (node, label) count with
    map-side partials, and a per-node argmax window — degree is
    bounded by the kNN construction so no node fans out more than
    O(k), and labels never leave the executors (contrast: GraphX
    Pregel does the identical message pattern)."""
    e = _knn_edges(spark, sf_dir)  # materialized by the shared cache
    adj = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    ).transform(materialize)
    labels = adj.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(2):
        counted = (
            adj.join(labels, adj["v"] == labels["node"])
            .groupBy(F.col("u"), F.col("lbl"))
            .agg(F.count("*").alias("cnt"))
        )
        labels = (
            counted.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("u").orderBy(
                        F.desc("cnt"), F.asc("lbl")
                    )
                ),
            )
            .where(F.col("rn") == 1)
            .select(F.col("u").alias("node"), "lbl")
            .transform(materialize)
        )
    return (
        labels.groupBy(F.col("lbl").alias("community"))
        .agg(F.count("*").cast("bigint").alias("n_members"))
        .orderBy("community")
    )


_HITS_TOPK = 20


@query(
    "graph_hits_bounded",
    oracle=f"""
    WITH edges AS (
        SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ),
    a1 AS (
        SELECT p, CAST(COUNT(*) AS BIGINT) AS score FROM edges GROUP BY 1
    ),
    h1 AS (
        SELECT e.s, CAST(SUM(a1.score) AS BIGINT) AS score
        FROM edges e JOIN a1 ON a1.p = e.p GROUP BY 1
    ),
    a2 AS (
        SELECT e.p, CAST(SUM(h1.score) AS BIGINT) AS score
        FROM edges e JOIN h1 ON h1.s = e.s GROUP BY 1
    ),
    hubs AS (
        SELECT 'hub' AS kind, s AS node_id, score,
               ROW_NUMBER() OVER (ORDER BY score DESC, s) AS rk
        FROM h1
    ),
    auths AS (
        SELECT 'authority' AS kind, p AS node_id, score,
               ROW_NUMBER() OVER (ORDER BY score DESC, p) AS rk
        FROM a2
    )
    SELECT kind, node_id, score, CAST(rk AS BIGINT) AS rk
    FROM (SELECT * FROM hubs WHERE rk <= {_HITS_TOPK}
          UNION ALL
          SELECT * FROM auths WHERE rk <= {_HITS_TOPK})
    ORDER BY kind, rk
    """,
    tags=("graph", "hits", "centrality", "engine-addition"),
)
def graph_hits_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg HITS on the supplier→part bipartite graph, run for
    one full mutual-reinforcement round from the uniform start and
    reported UNNORMALIZED: authority¹ = in-degree, hub¹ = Σ authority
    of neighbors, authority² = Σ hub of sources. Skipping the usual
    L2 normalization keeps every score an exact integer — the
    normalizer is a per-iteration constant, so the top-k RANKING
    (which is what HITS is consumed for) is identical to the
    normalized fixed-point's second iterate. Complements
    graph_pagerank: PageRank ranks by random-walk mass, HITS
    separates "connects to everything important" (hubs) from "is
    what everything connects to" (authorities).

    Scale shape: dedup + two hash-aggregate matrix-vector products
    shuffled on the edge keys; both top-20s are
    TakeOrderedAndProject — the plan never sorts the full node set."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    ).distinct().transform(materialize)  # read 3x (a1 + 2 matvecs)
    a1 = edges.groupBy("p").agg(F.count(F.lit(1)).cast("bigint").alias("score"))
    h1 = (
        edges.join(a1.withColumnRenamed("score", "a1s"), "p")
        .groupBy("s")
        .agg(F.sum("a1s").cast("bigint").alias("score"))
    )
    a2 = (
        edges.join(h1.withColumnRenamed("score", "h1s"), "s")
        .groupBy("p")
        .agg(F.sum("h1s").cast("bigint").alias("score"))
    )
    hubs = h1.select(
        F.lit("hub").alias("kind"),
        F.col("s").alias("node_id"),
        "score",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), F.col("s")))
        .cast("bigint")
        .alias("rk"),
    ).filter(F.col("rk") <= _HITS_TOPK)
    auths = a2.select(
        F.lit("authority").alias("kind"),
        F.col("p").alias("node_id"),
        "score",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), F.col("p")))
        .cast("bigint")
        .alias("rk"),
    ).filter(F.col("rk") <= _HITS_TOPK)
    return hubs.unionAll(auths).orderBy("kind", "rk")


def _ppr_iter_sql(prev: str, out: str) -> str:
    """One oracle-side personalized-PageRank iteration: teleport mass
    returns to the SEED SET only (int64 fixed-point, like
    _pr_iter_sql but with a seed-conditional base and a left join so
    contribution-less nodes keep their teleport share)."""
    return f"""
    {out} AS (
      SELECT deg.node,
             CAST(CASE WHEN deg.node % 10 = 0 THEN {PR_BASE} ELSE 0 END
                  + COALESCE(c.s, 0) AS BIGINT) AS r
      FROM deg
      LEFT JOIN (
        SELECT adj.v AS node, SUM((p.r * 17) // (20 * d2.d)) AS s
        FROM {prev} p
        JOIN adj ON adj.u = p.node
        JOIN deg d2 ON d2.node = p.node
        GROUP BY 1) c ON c.node = deg.node)
    """


@query(
    "graph_personalized_pagerank",
    oracle=f"""
    WITH {_KNN_EDGES_SQL},
    adj AS (
      SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
    deg AS (SELECT u AS node, count(*) AS d FROM adj GROUP BY 1),
    p0 AS (
      SELECT node,
             CAST(CASE WHEN node % 10 = 0 THEN {PR_SCALE} ELSE 0 END
                  AS BIGINT) AS r
      FROM deg),
    {_ppr_iter_sql("p0", "p1")},
    {_ppr_iter_sql("p1", "p2")},
    {_ppr_iter_sql("p2", "p3")}
    SELECT node AS part, r AS rank_fp,
           CAST(CASE WHEN node % 10 = 0 THEN 1 ELSE 0 END AS BIGINT)
               AS is_seed
    FROM p3
    ORDER BY r DESC, node ASC
    LIMIT 20
    """,
    tags=("graph", "pagerank", "personalized", "recommendation"),
)
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from a pinned seed set (parts with
    part % 10 == 0) on the kNN co-purchase graph — the
    recommendation primitive graph_pagerank can't express: teleport
    mass restarts AT THE SEEDS instead of uniformly, so rank measures
    proximity to the seed basket ("customers who bought these also
    land on..."), and non-seed parts in the top-20 are the
    recommendations.

    Fixed-point contract (same as graph_pagerank): int64 ranks scaled
    1e9, contributions (r * 17) div (20 * deg) — associative integer
    arithmetic, bit-identical across engines/partitionings. The
    per-iteration difference vs global PageRank: the base term is
    seed-conditional, and ranks come from a LEFT join against the
    node set so a contribution-less seed keeps its teleport share
    (global PageRank's inner join is safe only because ITS base is
    unconditional).

    Scale shape per iteration: one shuffle join of ranks against the
    degree-bounded adjacency + one sum shuffle on destination, then a
    node-set left join. Iterations fixed at 3; lineage cut by the
    cached edge materialization."""
    e = _knn_edges(spark, sf_dir)  # materialized by the shared cache
    adj = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = adj.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("d"))
    seed = (F.col("node") % 10 == 0)
    ranks = deg.select(
        "node",
        F.when(seed, F.lit(PR_SCALE)).otherwise(0).cast("bigint").alias("r"),
    )
    adj_deg = adj.join(
        deg.withColumnRenamed("node", "u2"), F.col("u") == F.col("u2")
    ).select("u", "v", "d")
    # Every round re-reads the adjacency: materialize it once.
    adj_deg = materialize(adj_deg)
    nodes = deg.select("node").transform(materialize)
    for _ in range(3):
        contrib = adj_deg.join(ranks, adj_deg["u"] == ranks["node"]).select(
            F.col("v"), F.expr("(r * 17) div (20 * d)").alias("c")
        )
        csum = contrib.groupBy(F.col("v").alias("node")).agg(
            F.sum("c").alias("s")
        )
        ranks = nodes.join(csum, "node", "left").select(
            "node",
            (
                F.when(seed, F.lit(PR_BASE)).otherwise(0)
                + F.coalesce(F.col("s"), F.lit(0))
            )
            .cast("bigint")
            .alias("r"),
        )
    return (
        ranks.select(
            F.col("node").alias("part"),
            F.col("r").alias("rank_fp"),
            F.when(seed, 1).otherwise(0).cast("bigint").alias("is_seed"),
        )
        .orderBy(F.desc("rank_fp"), F.asc("part"))
        .limit(20)
    )


@query(
    "graph_harmonic_centrality_2hop",
    oracle=f"""
    WITH {_KNN_EDGES_SQL},
    adj AS (
      SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
    two AS (
      SELECT DISTINCT a1.u, a2.v AS w
      FROM adj a1 JOIN adj a2 ON a2.u = a1.v
      WHERE a2.v <> a1.u),
    strict2 AS (
      SELECT t.u, t.w FROM two t
      LEFT JOIN adj d ON d.u = t.u AND d.v = t.w
      WHERE d.u IS NULL),
    d1 AS (SELECT u, CAST(count(*) AS BIGINT) AS n1 FROM adj GROUP BY 1),
    d2 AS (SELECT u, CAST(count(*) AS BIGINT) AS n2 FROM strict2 GROUP BY 1)
    SELECT d1.u AS part, d1.n1, COALESCE(d2.n2, 0) AS n2,
           2 * d1.n1 + COALESCE(d2.n2, 0) AS harmonic_2x
    FROM d1 LEFT JOIN d2 ON d2.u = d1.u
    ORDER BY harmonic_2x DESC, part
    LIMIT 20
    """,
    tags=("graph", "centrality", "harmonic", "engine-addition"),
)
def graph_harmonic_centrality_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded harmonic centrality — sum of 1/d(u,v) truncated at
    radius 2, the standard web-scale compromise (full harmonic
    centrality needs all-pairs BFS): nodes at distance 1 contribute
    1, distance exactly 2 contribute 1/2, reported doubled
    (harmonic_2x = 2*|N1| + |N2|) so the score stays an exact
    integer. Distance-2 is STRICT: wedge-reachable minus direct
    neighbors minus self — the anti-join states the minus.

    Scale shape (array-aggregated, round-4 rewrite): the naive
    wedge self-join shuffles sum(deg^2) rows (16M at sf0.1 — it
    benched 20 s); instead each node's neighbor ARRAY is built once
    (one shuffle), broadcast back onto the edge list, and the
    distance-2 set is array_except(array_distinct(flatten(...)))
    inside whole-stage codegen — the only post-build shuffle moves
    |E| array rows, and the dedup work happens per-row JVM-side.
    Top-20 is TakeOrderedAndProject."""
    e = _knn_edges(spark, sf_dir)  # materialized by the shared cache
    adj = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    nbrs = adj.groupBy("u").agg(F.collect_list("v").alias("ns"))
    hop = adj.join(
        F.broadcast(nbrs.select(F.col("u").alias("v"), F.col("ns").alias("vns"))),
        "v",
    )
    two_sets = hop.groupBy("u").agg(
        F.flatten(F.collect_list("vns")).alias("flat")
    )
    joined = two_sets.join(F.broadcast(nbrs), "u")
    return (
        joined.select(
            F.col("u").alias("part"),
            F.size("ns").cast("bigint").alias("n1"),
            F.size(
                F.array_except(
                    F.array_distinct("flat"),
                    F.concat("ns", F.array(F.col("u"))),
                )
            )
            .cast("bigint")
            .alias("n2"),
        )
        .withColumn(
            "harmonic_2x", (2 * F.col("n1") + F.col("n2")).cast("bigint")
        )
        .orderBy(F.desc("harmonic_2x"), "part")
        .limit(20)
    )


@query(
    "graph_resource_allocation_index",
    oracle=f"""
    WITH {_KNN_EDGES_SQL},
    adj AS (
      SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
    deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS d
            FROM adj GROUP BY 1),
    cand AS (
      SELECT a1.v AS u, a2.v AS w, a1.u AS z
      FROM adj a1 JOIN adj a2 ON a2.u = a1.u AND a1.v < a2.v),
    scored AS (
      SELECT c.u, c.w,
             CAST(count(*) AS BIGINT) AS n_common,
             CAST(sum(1000000 // deg.d) AS BIGINT) AS ra_ppm
      FROM cand c JOIN deg ON deg.node = c.z
      GROUP BY 1, 2),
    nonedge AS (
      SELECT s.u, s.w, s.n_common, s.ra_ppm
      FROM scored s LEFT JOIN e ON e.a = s.u AND e.b = s.w
      WHERE e.a IS NULL)
    SELECT u AS pa, w AS pb, n_common, ra_ppm
    FROM nonedge
    ORDER BY ra_ppm DESC, pa, pb
    LIMIT 20
    """,
    tags=("graph", "link-prediction", "resource-allocation", "engine-addition"),
)
def graph_resource_allocation_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-allocation link prediction (Zhou et al. 2009) — the
    degree-weighted upgrade of graph_jaccard_neighbors: a candidate
    pair (u, w) scores sum over common neighbors z of 1/deg(z), so a
    shared HUB contributes almost nothing while a shared low-degree
    neighbor is strong evidence. Per-term contributions are floored
    to integer ppm (1e6 div deg) before summing — deterministic on
    both engines, no float accumulation. Only NON-edges are reported
    (existing edges aren't predictions); top-20 by score.

    Scale shape (array-pair rewrite, round-4): instead of a wedge
    self-join that shuffles sum(deg^2) rows (benched 10.6 s at
    sf0.1), each center's SORTED neighbor array generates its
    (u < w) pairs in-row with the same slice/transform HOF as the
    co-purchase basket build — the center's 1e6 div deg contribution
    is a constant per array — so the only large shuffle is the
    map-side-combinable groupBy on the pair. Anti-join against the
    edge list, then TakeOrderedAndProject."""
    e = _knn_edges(spark, sf_dir)  # materialized by the shared cache
    adj = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    nbrs = adj.groupBy("u").agg(F.sort_array(F.collect_list("v")).alias("ns"))
    # the 20k-row array table is byte-small -> one partition; the
    # in-row pair explosion is CPU-bound, so spread it first
    nbrs = spread(nbrs)
    contrib = nbrs.select(
        F.expr("1000000 div size(ns)").alias("cz"),
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ns"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ns"), i + F.lit(2), F.size(F.col("ns"))),
                        lambda y: F.struct(x.alias("u"), y.alias("w")),
                    ),
                )
            )
        ).alias("p"),
    ).select(F.col("p.u").alias("u"), F.col("p.w").alias("w"), "cz")
    scored = contrib.groupBy("u", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common"),
        F.sum("cz").cast("bigint").alias("ra_ppm"),
    )
    nonedge = scored.join(
        e.select(F.col("a").alias("u"), F.col("b").alias("w")),
        ["u", "w"],
        "left_anti",
    )
    return (
        nonedge.select(
            F.col("u").alias("pa"), F.col("w").alias("pb"), "n_common", "ra_ppm"
        )
        .orderBy(F.desc("ra_ppm"), "pa", "pb")
        .limit(20)
    )


# Weighted PageRank over the DIRECTED kNN graph (support retained:
# each node distributes rank proportional to co-purchase support).
_WPR_EDGES_SQL = f"""
    op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS support
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2),
    directed AS (
      SELECT pa AS u, pb AS v, support FROM pairs
      UNION ALL
      SELECT pb AS u, pa AS v, support FROM pairs),
    wadj AS (
      SELECT u, v, CAST(support AS BIGINT) AS w FROM (
        SELECT u, v, support,
               row_number() OVER (PARTITION BY u
                                  ORDER BY support DESC, v ASC) AS rn
        FROM directed) t
      WHERE rn <= {K_NEIGHBORS}),
    wsum AS (SELECT u AS node, CAST(sum(w) AS BIGINT) AS sw
             FROM wadj GROUP BY 1)
"""


def _wpr_iter_sql(prev: str, out: str) -> str:
    return f"""
    {out} AS (
      SELECT wadj.v AS node,
             {PR_BASE} + sum(({prev}.r * 17 * wadj.w) // (20 * ws.sw)) AS r
      FROM {prev}
      JOIN wadj ON wadj.u = {prev}.node
      JOIN wsum ws ON ws.node = {prev}.node
      GROUP BY wadj.v)
    """


@query(
    "graph_weighted_pagerank",
    oracle=f"""
    WITH {_WPR_EDGES_SQL},
    r0 AS (SELECT node, CAST({PR_SCALE} AS BIGINT) AS r FROM wsum),
    {_wpr_iter_sql("r0", "r1")},
    {_wpr_iter_sql("r1", "r2")},
    {_wpr_iter_sql("r2", "r3")}
    SELECT node AS part, CAST(r AS BIGINT) AS rank_fp
    FROM r3
    ORDER BY r DESC, node ASC
    LIMIT 20
    """,
    tags=("graph", "pagerank", "weighted", "fixed-point"),
)
def graph_weighted_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support-weighted PageRank — rank flows proportional to
    co-purchase strength instead of splitting evenly: each iteration
    moves (r * 17 * w) div (20 * sum_w(u)) along every retained
    directed kNN edge (the top-K list per node KEEPS its supports
    here, unlike the unweighted graph_pagerank's symmetrized set).
    Still pure int64 fixed-point: the per-edge multiplier w/sum_w is
    folded into one integer division, so partial sums stay
    associative and engine-identical.

    Scale shape per iteration: identical to graph_pagerank — a
    shuffle join of ranks against the degree-bounded weighted
    adjacency plus one sum shuffle; weights add zero extra shuffles."""
    pairs = _copurchase_support(spark, sf_dir)  # cached
    directed = pairs.select(
        F.col("pa").alias("u"), F.col("pb").alias("v"), "support"
    ).unionByName(
        pairs.select(F.col("pb").alias("u"), F.col("pa").alias("v"), "support")
    )
    wk = Window.partitionBy("u").orderBy(F.desc("support"), F.asc("v"))
    wadj = (
        directed.withColumn("rn", F.row_number().over(wk))
        .where(F.col("rn") <= K_NEIGHBORS)
        .select("u", "v", F.col("support").cast("bigint").alias("w"))
    )
    wsum = wadj.groupBy(F.col("u").alias("node")).agg(
        F.sum("w").cast("bigint").alias("sw")
    )
    adj_w = wadj.join(
        wsum.withColumnRenamed("node", "u2"), F.col("u") == F.col("u2")
    ).select("u", "v", "w", "sw").transform(materialize)
    ranks = wsum.select("node", F.lit(PR_SCALE).cast("bigint").alias("r"))
    for _ in range(3):
        contrib = adj_w.join(ranks, adj_w["u"] == ranks["node"]).select(
            F.col("v"), F.expr("(r * 17 * w) div (20 * sw)").alias("c")
        )
        ranks = contrib.groupBy(F.col("v").alias("node")).agg(
            (F.lit(PR_BASE) + F.sum("c")).alias("r")
        )
    return (
        ranks.select(F.col("node").alias("part"), F.col("r").alias("rank_fp"))
        .orderBy(F.desc("rank_fp"), F.asc("part"))
        .limit(20)
    )

"""Graph algorithms over three graphs derived from the star schema.

Every operator starts from one private builder per graph:

- Customer↔supplier (an order links its customer to the suppliers of
  its line items). ``_cust_supp_pairs`` is the distinct
  (o_custkey, l_suppkey) pair set (degree distribution, HITS);
  ``_cust_supp_edges`` turns it into the pinned (src, dst, d) edge
  list, both directions, hash-partitioned on src, with the source
  degree riding on each edge
  (PageRank, personalized PageRank, Katz, BFS, label propagation,
  harmonic centrality, both HyperBall queries). Node ids there are
  LONGS, customers 2·custkey and suppliers 2·suppkey+1: long keys hash
  and compare far cheaper than 'c:123' strings in every shuffle, and
  ``_node_label`` renders the 'c:'/'s:' labels on output rows only.
- Part co-purchase (parts adjacent when they share an order).
  ``_copurchase`` returns the checkpointed (p1 < p2) pairs at a support
  floor, their degrees, and the adjacency capped at midpoint degree
  ``_AA_CAP`` (triangle count, the three link-prediction queries,
  clustering coefficient).
- Supplier–part. ``_supp_part`` is the distinct (s, p) edge set
  (k-core, bipartite projection, assortativity).

``_hop`` is the one iteration step of PageRank, personalized PageRank,
Katz, label propagation and both HITS half-steps: join the node-sized
state to the edges on the source key, then aggregate at the
destination (map-side combined). The state GROWS with the graph, so
that join is a shuffle hash join and is never broadcast — a
billion-node state would OOM every executor (SCALING.md's iterative
contract: anything that grows with data volume is left to the
shuffle). The edges are pinned hash-partitioned on src (``_pin``),
so a state partitioned on node joins them with no Exchange on the edge
side. PageRank checkpoints no step (its lineage is N_ITER hops deep,
so one action runs every hop as one plan); the other loops
localCheckpoint their state each iteration. The HyperBall queries
share one register init (``_hb_registers``) and one groupBy-MAX merge
hop (``_hb_merge``).

Cross-engine determinism: iteration state is integer. Ranks live in
micro-units (node budget 1e9), per-edge contribution is rank div
degree, the damping mix is (15·init + 85·Σcontrib) div 100; labels and
HLL registers are integers under order-free merges. Every iteration is
bit-identical in any engine at any parallelism; no floating-point
merge-order noise ever enters.
"""

from __future__ import annotations

import math as _math
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from boltzmannclean_spark.functions.combos import packed_combo_counts
from boltzmannclean_spark.plans.registry import register
from boltzmannclean_spark.sources.catalog import load_table

#: Packing base for co-purchase pair keys (p1·2^31 + p2): any realistic
#: partkey domain fits and the product stays far under 2^63.
_PAIR_PACK = 1 << 31


#: Wedge midpoint degree cap of the co-purchase queries: a midpoint of
#: degree d emits C(d, 2) wedges, so hubs above the cap emit none.
_AA_CAP = 40


def _copurchase(
    spark: SparkSession, sf_dir: str, *, min_support: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The part co-purchase graph (parts adjacent when they share an
    order) at an instance-support floor (support = number of a<b row
    pairs). Returns ``pairs`` (p1, p2) with p1 < p2, localCheckpoint'ed
    (every consumer reads it more than once); ``deg`` (p, d), the full
    degree of every part; and ``capped`` (m, nbr, d), the adjacency in
    both directions restricted to midpoints m of degree d <= _AA_CAP —
    the hub-suppressed wedge source. deg and capped are lazy.

    Pairs come from per-order SORTED partkey baskets through the
    vectorized pair counter (functions/combos.py): ONE shuffle (the
    basket groupBy) plus native-code enumeration instead of a lineitem
    self-join on l_orderkey (two scans, two exchanges and a corpus-pair
    aggregation; 2.8 s alone at sf0.1). The Σ basket² enumeration is
    bounded by order size; equal-part index pairs surface as p1 == p2
    keys and are filtered, exactly matching the self-join's strict
    p1 < p2. Counts are exact int64, so the support cut is
    bit-identical to the oracles' HAVING COUNT(*)."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(F.col("l_partkey").cast("long"))
        ).alias("items")
    )
    pairs = (
        packed_combo_counts(baskets, r=2, pack=_PAIR_PACK)
        .groupBy("tk")
        .agg(F.sum("cnt").alias("support"))
        .select(
            F.expr(f"tk div {_PAIR_PACK}").alias("p1"),
            (F.col("tk") % _PAIR_PACK).alias("p2"),
            "support",
        )
        .where((F.col("p1") != F.col("p2")) & (F.col("support") >= min_support))
        .select("p1", "p2")
        .localCheckpoint()
    )
    deg = (
        pairs.select(F.col("p1").alias("p"))
        .unionAll(pairs.select(F.col("p2").alias("p")))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    adj = pairs.select(F.col("p1").alias("m"), F.col("p2").alias("nbr")).unionAll(
        pairs.select(F.col("p2").alias("m"), F.col("p1").alias("nbr"))
    )
    capped = adj.join(
        deg.where(F.col("d") <= _AA_CAP).select(F.col("p").alias("m"), "d"), "m"
    )
    return pairs, deg, capped


def _supp_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (s, p) supplier–part edges."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    ).distinct()


def _cust_supp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (o_custkey, l_suppkey) pairs: who bought from whom."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
    )


def _pin(df: DataFrame) -> DataFrame:
    """``df`` pinned by localCheckpoint(eager=False): its blocks live as
    long as a plan references it and the ContextCleaner reaps them
    after. The checkpoint is planned with AQE off because an adaptive
    plan reports no output partitioning, and the pinned scan would
    then forget the hash partitioning its joins reuse (the session
    setting is restored before returning; the engine plans from one
    driver thread). Nothing runs until the first action reads it."""
    spark = df.sparkSession
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return df.localCheckpoint(eager=False)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def _cust_supp_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pinned (src, dst, d) customer↔supplier edge list: every pair
    in both directions over long node ids (customers 2·custkey,
    suppliers 2·suppkey+1), with d = degree of src. The pairs are
    planned once and ``stack`` emits both directions from that one
    pass; the edges are hash-partitioned on src once, so the degree is
    a window count over each src's partition (no second pass) and every
    ``_hop`` joins them with no Exchange on the edge side. Every dst is
    also a src, so no iteration leaks mass into a dangling node."""
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = (
        _cust_supp_pairs(spark, sf_dir)
        .select(
            F.expr(
                "stack(2, o_custkey * 2, l_suppkey * 2 + 1,"
                " l_suppkey * 2 + 1, o_custkey * 2) AS (src, dst)"
            )
        )
        .repartition(n_parts, "src")
    )
    return _pin(
        edges.withColumn("d", F.count(F.lit(1)).over(Window.partitionBy("src")))
    )


def _node_label(col: str) -> Column:
    """'c:<custkey>' / 's:<suppkey>' label of a long node id."""
    return F.expr(
        f"CASE WHEN {col} % 2 = 0 THEN 'c:' || CAST({col} div 2 AS STRING)"
        f" ELSE 's:' || CAST({col} div 2 AS STRING) END"
    )


def _hop(
    edges: DataFrame,
    state: DataFrame,
    *aggs: Column,
    src: str = "src",
    dst: str = "dst",
    by: tuple[str, ...] = (),
) -> DataFrame:
    """One iteration step: ``state`` (keyed ``node``) joins ``edges`` on
    ``edges[src]`` as a SHUFFLE hash join — the state is node-count
    sized and is never broadcast — then ``aggs`` aggregate at
    ``edges[dst]``, returned as ``node`` plus the ``by`` state columns."""
    return (
        edges.join(state.hint("shuffle_hash"), edges[src] == F.col("node"))
        .groupBy(F.col(dst).alias("node"), *by)
        .agg(*aggs)
    )


RSCALE = 1_000_000_000  # total rank budget in micro-units
N_ITER = 3
TOP_N = 25


def _pagerank_oracle() -> str:
    its = []
    prev = "r0"
    for i in range(1, N_ITER + 1):
        its.append(
            f"""
c{i} AS MATERIALIZED (
  SELECT e.dst AS node, CAST(SUM({prev}.r // deg.d) AS BIGINT) AS contrib
  FROM edges e
  JOIN {prev} ON {prev}.node = e.src
  JOIN deg ON deg.src = e.src
  GROUP BY e.dst
),
r{i} AS MATERIALIZED (
  SELECT c{i}.node,
         (15 * ({RSCALE} // n.n_nodes) + 85 * c{i}.contrib) // 100 AS r
  FROM c{i} CROSS JOIN n
)"""
        )
        prev = f"r{i}"
    return f"""
WITH eo AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS MATERIALIZED (
  SELECT 'c:' || c AS src, 's:' || s AS dst FROM eo
  UNION ALL
  SELECT 's:' || s AS src, 'c:' || c AS dst FROM eo
),
deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
n AS (SELECT COUNT(*) AS n_nodes FROM deg),
r0 AS MATERIALIZED (
  SELECT src AS node, CAST({RSCALE} // n.n_nodes AS BIGINT) AS r
  FROM deg CROSS JOIN n
),{",".join(its)}
SELECT node, r AS rank_micro
FROM {prev}
ORDER BY rank_micro DESC, node
LIMIT {TOP_N}
"""


def _pagerank_state(ed: DataFrame) -> tuple[DataFrame, int]:
    """PageRank's initial state over the edge list: the uniform rank
    vector, partitioned like the edges, and the node count as a
    driver-side integer (one count job), which every step folds into a
    literal."""
    nodes = ed.select(F.col("src").alias("node")).distinct()
    n = nodes.count()
    return nodes.select("node", F.lit(RSCALE // max(n, 1)).cast("long").alias("r")), n


def _pagerank_step(ed: DataFrame, r: DataFrame, n: int) -> DataFrame:
    """One power-iteration step: per-edge ``r div d`` summed at dst, then
    the damping mix against the node count ``n``."""
    contrib = _hop(ed, r, F.sum(F.expr("r div d")).alias("contrib"))
    return contrib.select(
        "node",
        F.expr(f"(15 * {RSCALE // max(n, 1)}L + 85 * contrib) div 100").alias("r"),
    )


@register(
    "graph_pagerank_bipartite",
    oracle=_pagerank_oracle(),
    tags=("graph", "pagerank", "iterative"),
)
def graph_pagerank_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank (damping 0.85) over the customer↔supplier
    graph; returns the top-25 nodes by rank. No step is checkpointed:
    the caller's action runs all N_ITER hops as one plan."""
    ed = _cust_supp_edges(spark, sf_dir)
    r, n = _pagerank_state(ed)
    for _ in range(N_ITER):
        r = _pagerank_step(ed, r, n)
    return (
        r.select(_node_label("node").alias("node"), F.col("r").alias("rank_micro"))
        .orderBy(F.desc("rank_micro"), "node")
        .limit(TOP_N)
    )


@register(
    "graph_degree_distribution",
    oracle="""
WITH eo AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
deg AS (
  SELECT node, COUNT(*) AS degree FROM (
    SELECT 'c:' || c AS node FROM eo
    UNION ALL
    SELECT 's:' || s AS node FROM eo
  ) GROUP BY node
)
SELECT SUBSTRING(node, 1, 1) AS node_type, degree,
       COUNT(*) AS n_nodes
FROM deg
GROUP BY SUBSTRING(node, 1, 1), degree
ORDER BY node_type, degree
""",
    tags=("graph", "degree", "distribution"),
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the customer↔supplier graph, split by
    node type — the first diagnostic before any graph algorithm (a
    heavy-tailed degree histogram predicts exactly which PageRank /
    join keys will skew). Two aggregations over the edge list; output
    size is bounded by max degree, so this stays tiny at any scale."""
    eo = _cust_supp_pairs(spark, sf_dir)
    nodes = eo.select(
        F.concat(F.lit("c:"), "o_custkey").alias("node")
    ).unionAll(eo.select(F.concat(F.lit("s:"), "l_suppkey").alias("node")))
    deg = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy(
            F.substring("node", 1, 1).alias("node_type"), "degree"
        )
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("node_type", "degree")
    )


@register(
    "graph_triangle_count",
    oracle="""
WITH pairs AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT p, COUNT(*) AS d FROM (
    SELECT p1 AS p FROM pairs UNION ALL SELECT p2 FROM pairs
  ) GROUP BY p
),
oriented AS MATERIALIZED (
  SELECT CASE WHEN (d1.d, pairs.p1) < (d2.d, pairs.p2)
              THEN pairs.p1 ELSE pairs.p2 END AS src,
         CASE WHEN (d1.d, pairs.p1) < (d2.d, pairs.p2)
              THEN pairs.p2 ELSE pairs.p1 END AS dst
  FROM pairs
  JOIN deg d1 ON d1.p = pairs.p1
  JOIN deg d2 ON d2.p = pairs.p2
),
wedges AS MATERIALIZED (
  SELECT e1.src AS apex,
         LEAST(e1.dst, e2.dst) AS v,
         GREATEST(e1.dst, e2.dst) AS w
  FROM oriented e1 JOIN oriented e2
    ON e1.src = e2.src AND e1.dst < e2.dst
),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM wedges JOIN pairs ON pairs.p1 = wedges.v AND pairs.p2 = wedges.w
),
stats AS (
  SELECT (SELECT COUNT(*) FROM pairs) AS n_edges,
         CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges
  FROM deg
)
SELECT stats.n_edges, stats.n_wedges, tri.n_triangles,
       CAST(3 * tri.n_triangles AS DOUBLE)
         / CAST(stats.n_wedges AS DOUBLE) AS clustering_coeff
FROM stats CROSS JOIN tri
""",
    tags=("graph", "triangles", "clustering"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count + clustering coefficient of the part
    co-purchase graph (parts are adjacent when they share an order),
    via DEGREE-ORIENTED wedge counting (Schank–Wagner / the standard
    MapReduce formulation): orient every edge from its lower-(degree,
    id) endpoint to the higher one, build wedges only from each
    vertex's OUT-edges, and close them against the undirected edge
    set. Every triangle has exactly one apex in the orientation order,
    so it is counted once, and per-vertex wedge cost is outdeg² with
    outdeg = O(√|E|) — the property that makes this tractable on a
    heavy-tailed 100 TB co-occurrence graph where naive Σdeg² explodes
    on hub parts. Pair building is Σ basket² (bounded by order size,
    as in join_basket_affinity). All joins are equi-joins; the only
    driver-free scalars ride the 1-row CROSS JOIN idiom."""
    pairs, deg, _ = _copurchase(spark, sf_dir, min_support=1)
    d1 = deg.select(F.col("p").alias("p1"), F.col("d").alias("da"))
    d2 = deg.select(F.col("p").alias("p2"), F.col("d").alias("db"))
    first_lower = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("p1") < F.col("p2"))
    )
    oriented = (
        pairs.join(d1, "p1")
        .join(d2, "p2")
        .select(
            F.when(first_lower, F.col("p1")).otherwise(F.col("p2")).alias("src"),
            F.when(first_lower, F.col("p2")).otherwise(F.col("p1")).alias("dst"),
        )
    )
    # r15: wedges via per-apex sorted out-neighbor baskets through the
    # vectorized combo counter instead of the oriented self-join — the
    # self-join materialized 41M raw wedge ROWS in the JVM and shuffled
    # all of them into the closing join (measured 4.6 s to build + 9 s
    # to close at sf0.1). Per-batch (tk, cnt) partials shuffle the
    # distinct-wedge domain instead, and the closing join matches on
    # one packed long. Exactness: out-neighbors are distinct (pairs are
    # distinct), the sorted-basket enumeration emits exactly the x < y
    # wedge set (= least/greatest over the self-join), and the count is
    # an int64 sum — bit-identical to COUNT(*) over the joined wedges.
    ob = oriented.groupBy("src").agg(
        F.sort_array(F.collect_list(F.col("dst").cast("long"))).alias("items")
    )
    wc = packed_combo_counts(ob, r=2, pack=_PAIR_PACK)
    ptk = pairs.select(
        (F.col("p1").cast("long") * _PAIR_PACK + F.col("p2")).alias("tk")
    )
    # coalesce (r15 ADVICE): SUM over an empty closing join is NULL,
    # but the pre-r15 COUNT(*) formulation returned 0 on a
    # triangle-free graph — keep that contract.
    tri = wc.join(ptk.hint("shuffle_hash"), "tk").agg(
        F.coalesce(F.sum("cnt"), F.lit(0).cast("long")).alias("n_triangles")
    )
    stats = deg.agg(
        F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges")
    ).crossJoin(F.broadcast(pairs.agg(F.count(F.lit(1)).alias("n_edges"))))
    return stats.crossJoin(F.broadcast(tri)).select(
        "n_edges",
        "n_wedges",
        "n_triangles",
        (
            (F.lit(3) * F.col("n_triangles")).cast("double")
            / F.col("n_wedges").cast("double")
        ).alias("clustering_coeff"),
    )


BFS_START = 2  # node id of customer 1 (customers are even: 2*custkey)
BFS_MAX_LEVEL = 3


def _bfs_oracle() -> str:
    return f"""
WITH RECURSIVE eo AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (
  SELECT c * 2 AS src, s * 2 + 1 AS dst FROM eo
  UNION ALL
  SELECT s * 2 + 1 AS src, c * 2 AS dst FROM eo
),
walk(node, lvl) AS (
  SELECT CAST({BFS_START} AS BIGINT), 0
  UNION
  SELECT e.dst, w.lvl + 1
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.lvl < {BFS_MAX_LEVEL}
)
SELECT CASE WHEN node % 2 = 0 THEN 'c:' || CAST(node // 2 AS VARCHAR)
            ELSE 's:' || CAST(node // 2 AS VARCHAR) END AS node,
       CAST(MIN(lvl) AS BIGINT) AS level
FROM walk
GROUP BY node
ORDER BY level, node
"""


@register(
    "graph_bfs_levels",
    oracle=_bfs_oracle(),
    tags=("graph", "bfs", "iterative"),
)
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first search from customer 1 over the customer↔supplier
    graph, {BFS_MAX_LEVEL} hops: each node's minimum distance from the
    source — the reachability/neighborhood primitive behind fraud-ring
    expansion and supply-chain blast-radius queries. The frontier loop
    is the canonical distributed BFS: per level, ONE equi-join of the
    (small) frontier against the pinned edge list + one anti-join
    against the visited set, both keyed on node id — never a full
    transitive closure. The frontier is distributed (it can be
    graph-sized on small-world graphs — level 2 here already reaches
    most nodes); visited is localCheckpoint'ed per level so the lineage
    stays one level deep. Levels are exact integers; the oracle's recursive CTE
    computes the identical min-level closure."""
    edges = _cust_supp_edges(spark, sf_dir).select("src", "dst")
    visited = (
        spark.range(1)
        .select(
            F.lit(BFS_START).cast("long").alias("node"),
            F.lit(0).cast("long").alias("level"),
        )
        .localCheckpoint()
    )
    frontier = visited.select("node")
    for lvl in range(1, BFS_MAX_LEVEL + 1):
        nxt = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = nxt.join(visited, "node", "left_anti").select(
            "node", F.lit(lvl).cast("long").alias("level")
        )
        visited = visited.unionAll(new).localCheckpoint()
        frontier = visited.where(F.col("level") == lvl).select("node")
    return visited.select(_node_label("node").alias("node"), "level").orderBy(
        "level", "node"
    )


@register(
    "graph_degree_assortativity",
    oracle="""
WITH edges AS (
  SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
),
ds AS (SELECT s, COUNT(*) AS deg_s FROM edges GROUP BY s),
dp AS (SELECT p, COUNT(*) AS deg_p FROM edges GROUP BY p),
e AS (
  SELECT deg_s AS x, deg_p AS y
  FROM edges JOIN ds USING (s) JOIN dp USING (p)
),
st AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * x AS HUGEINT)) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y * y AS HUGEINT)) AS DOUBLE) AS syy,
         CAST(SUM(CAST(x * y AS HUGEINT)) AS DOUBLE) AS sxy
  FROM e
)
SELECT n AS n_edges,
       (n * sxy - sx * sy)
         / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
         AS assortativity
FROM st
""",
    tags=("graph", "assortativity", "exact-stats"),
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the supplier–part bipartite graph: the
    Pearson correlation of (deg(u), deg(v)) across edges — do
    high-degree suppliers ship high-variety parts (assortative, r>0)
    or the reverse (disassortative, r<0)? The network-structure
    summary that predicts hub behavior under partitioning. Plan: edge
    distinct → two key-sized degree aggregates joined back (AQE
    broadcasts them while small) → ONE partial+final aggregation of
    five exact wide-integer sums; the correlation is a single closed
    double expression over them, mirrored token-for-token in the
    oracle (the agg_corr_matrix recipe applied to graph structure).
    Nothing driver-side, nothing quadratic — degrees, not
    neighborhoods, cross the network."""
    edges = _supp_part(spark, sf_dir)
    ds = edges.groupBy("s").agg(F.count(F.lit(1)).alias("deg_s"))
    dp = edges.groupBy("p").agg(F.count(F.lit(1)).alias("deg_p"))
    e = (
        edges.join(ds, "s")
        .join(dp, "p")
        .select(F.col("deg_s").alias("x"), F.col("deg_p").alias("y"))
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    st = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d38(F.col("x"))).cast("double").alias("sx"),
        F.sum(d38(F.col("y"))).cast("double").alias("sy"),
        F.sum(d38(F.col("x") * F.col("x"))).cast("double").alias("sxx"),
        F.sum(d38(F.col("y") * F.col("y"))).cast("double").alias("syy"),
        F.sum(d38(F.col("x") * F.col("y"))).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return st.select(
        n.alias("n_edges"),
        (
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
        ).alias("assortativity"),
    )


KCORE_K = 24
KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    """Unrolled peeling rounds (the Lloyd-unroll recipe applied to
    k-core): each round drops every node with degree < K from BOTH
    bipartite sides simultaneously, then restricts the edge set to
    surviving endpoints."""
    blocks = []
    prev = "e0"
    for r in range(1, KCORE_ROUNDS + 1):
        blocks.append(f"""
sd{r} AS MATERIALIZED (SELECT s FROM {prev} GROUP BY s HAVING COUNT(*) >= {KCORE_K}),
pd{r} AS MATERIALIZED (SELECT p FROM {prev} GROUP BY p HAVING COUNT(*) >= {KCORE_K}),
e{r} AS MATERIALIZED (
  SELECT e.s, e.p FROM {prev} e
  JOIN sd{r} ON e.s = sd{r}.s
  JOIN pd{r} ON e.p = pd{r}.p
)""")
        prev = f"e{r}"
    rounds_sql = ",".join(blocks)
    selects = " UNION ALL ".join(
        f"""SELECT {r} AS round,
       (SELECT COUNT(DISTINCT s) FROM e{r}) AS suppliers_left,
       (SELECT COUNT(DISTINCT p) FROM e{r}) AS parts_left,
       (SELECT COUNT(*) FROM e{r}) AS edges_left"""
        for r in range(0, KCORE_ROUNDS + 1)
    )
    return f"""
WITH e0 AS MATERIALIZED (
  SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
),{rounds_sql}
SELECT * FROM ({selects}) t
ORDER BY round
"""


@register(
    "graph_kcore_peel",
    oracle=_kcore_oracle(),
    tags=("graph", "kcore", "iterative"),
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition by synchronous peeling on the
    supplier-part bipartite graph: each round simultaneously removes
    every node (both sides) with degree < k, then re-restricts the
    edge set — the standard dense-subgraph extraction (Matula/Beck
    peeling) used to find tightly-connected cores before expensive
    per-core analytics. Emitted as the PEELING PROFILE (per round:
    surviving suppliers/parts/edges), which is the convergence
    diagnostic an operator watches; fixed-round unrolling keeps the
    oracle expressible (identical recipe to the Lloyd-iteration
    oracles).

    Plan shape per round: two degree aggregations on the current edge
    set (map-side combined, keyed by each side) + two semi-joins
    restricting edges to surviving endpoints — all equi-joins on the
    peeled (shrinking) edge set; the edge table is cached once and
    each round's result localCheckpoint()ed so round r+1's lineage is
    one step, not r (the PageRank iteration discipline). At 100 TB
    rounds run until a fixpoint with the same per-round cost."""
    edges = _supp_part(spark, sf_dir).localCheckpoint()

    def snap(r: int, e: DataFrame) -> DataFrame:
        # 1-row aggregation per round — the profile is assembled as a
        # UNION of these, never collected to the driver.
        return e.agg(
            F.countDistinct("s").cast("long").alias("suppliers_left"),
            F.countDistinct("p").cast("long").alias("parts_left"),
            F.count(F.lit(1)).alias("edges_left"),
        ).select(
            F.lit(r).alias("round"),
            "suppliers_left",
            "parts_left",
            "edges_left",
        )

    snaps = [snap(0, edges)]
    cur = edges
    for r in range(1, KCORE_ROUNDS + 1):
        sd = cur.groupBy("s").agg(F.count(F.lit(1)).alias("d")).where(
            F.col("d") >= KCORE_K
        ).select("s")
        pd_ = cur.groupBy("p").agg(F.count(F.lit(1)).alias("d")).where(
            F.col("d") >= KCORE_K
        ).select("p")
        cur = cur.join(sd, "s").join(pd_, "p").localCheckpoint()
        snaps.append(snap(r, cur))
    return reduce(DataFrame.unionAll, snaps).orderBy("round")


PROJ_DF_CAP = 30  # parts supplied by more suppliers than this are hubs
PROJ_TOP = 50


@register(
    "graph_bipartite_projection",
    oracle=f"""
WITH e AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
ok AS (SELECT p FROM e GROUP BY p HAVING COUNT(*) <= {PROJ_DF_CAP}),
ke AS (SELECT e.s, e.p FROM e JOIN ok USING (p)),
pairs AS (
  SELECT a.s AS supp_a, b.s AS supp_b, COUNT(*) AS shared_parts
  FROM ke a JOIN ke b ON a.p = b.p AND a.s < b.s
  GROUP BY a.s, b.s
)
SELECT supp_a, supp_b, shared_parts, rk FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY shared_parts DESC, supp_a, supp_b)
         AS rk
  FROM pairs
) t WHERE rk <= {PROJ_TOP}
ORDER BY rk
""",
    tags=("graph", "bipartite", "projection"),
)
def graph_bipartite_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted one-mode projection of the supplier-part bipartite
    graph: supplier pairs ranked by co-supplied part count — the
    substitutability / supply-chain-risk signal (two suppliers sharing
    many parts are interchangeable; losing both is correlated). The
    projection is THE quadratic trap of bipartite analytics: a hub part
    with degree d alone contributes C(d,2) pairs, so parts above
    PROJ_DF_CAP suppliers are excluded BEFORE the self-join (the same
    df-cap discipline as the n-gram dedup family) — candidate volume is
    then Σ C(deg,2) over capped parts, corpus-linear for any realistic
    degree distribution. One distinct + one capped equi-self-join +
    one pair aggregation; top-{PROJ_TOP} via a ranking window over the
    PAIR table (never the corpus)."""
    e = _supp_part(spark, sf_dir)
    ok = (
        e.groupBy("p")
        .agg(F.count(F.lit(1)).alias("d"))
        .where(F.col("d") <= PROJ_DF_CAP)
        .select("p")
    )
    ke = e.join(ok, "p")
    a = ke.select(F.col("s").alias("supp_a"), "p")
    b = ke.select(F.col("s").alias("supp_b"), "p")
    pairs = (
        a.join(b, "p")
        .where(F.col("supp_a") < F.col("supp_b"))
        .groupBy("supp_a", "supp_b")
        .agg(F.count(F.lit(1)).alias("shared_parts"))
    )
    w = Window.orderBy(F.desc("shared_parts"), "supp_a", "supp_b")
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= PROJ_TOP)
        .orderBy("rk")
    )


LP_ITERS = 3


def _labelprop_oracle() -> str:
    its = []
    for i in range(1, LP_ITERS + 1):
        its.append(
            f"""
l{i} AS MATERIALIZED (
  SELECT node, lbl FROM (
    SELECT e.dst AS node, l.lbl, COUNT(*) AS c,
           ROW_NUMBER() OVER (PARTITION BY e.dst
                              ORDER BY COUNT(*) DESC, l.lbl ASC) AS rn
    FROM edges e JOIN l{i - 1} l ON l.node = e.src
    GROUP BY e.dst, l.lbl
  ) t WHERE rn = 1
)"""
        )
    return f"""
WITH eo AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
base AS (
  SELECT c * 2 AS src, s * 2 + 1 AS dst FROM eo
  UNION ALL
  SELECT s * 2 + 1 AS src, c * 2 AS dst FROM eo
),
nodes AS (SELECT DISTINCT src AS node FROM base),
edges AS MATERIALIZED (
  SELECT src, dst FROM base
  UNION ALL
  SELECT node, node FROM nodes
),
l0 AS (SELECT node, node AS lbl FROM nodes),{",".join(its)}
SELECT CASE WHEN node % 2 = 0 THEN 'c:' || CAST(node // 2 AS VARCHAR)
            ELSE 's:' || CAST(node // 2 AS VARCHAR) END AS node,
       CASE WHEN lbl % 2 = 0 THEN 'c:' || CAST(lbl // 2 AS VARCHAR)
            ELSE 's:' || CAST(lbl // 2 AS VARCHAR) END AS community
FROM l{LP_ITERS}
ORDER BY community, node
"""


@register(
    "graph_label_propagation",
    oracle=_labelprop_oracle(),
    tags=("graph", "community", "iterative"),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) over the customer↔supplier graph, {LP_ITERS}
    iterations: every node starts labeled with its own id and each
    round adopts the PLURALITY label among its neighbors-plus-itself
    (the self-loop both anchors stable nodes and prevents the pure
    two-coloring oscillation synchronous LP exhibits on bipartite
    graphs), ties broken by the SMALLEST label — fully deterministic
    integer state, so every engine and parallelism agrees bit-for-bit
    (the async/random-order variant of LP is explicitly NOT portable).

    Per iteration: one ``_hop`` over the edges plus self-loops counting
    (node, lbl) pairs (state per node bounded by its distinct neighbor
    labels ≤ degree), then the per-node plurality argmax with
    smallest-label ties via max_by over (count, -lbl)."""
    ed = _cust_supp_edges(spark, sf_dir)
    nodes = ed.select("src").distinct()
    edges = _pin(
        ed.select("src", "dst").unionAll(nodes.select("src", F.col("src").alias("dst")))
    )
    labels = nodes.select(
        F.col("src").alias("node"), F.col("src").alias("lbl")
    ).localCheckpoint()
    for _ in range(LP_ITERS):
        counts = _hop(edges, labels, F.count(F.lit(1)).alias("c"), by=("lbl",))
        labels = (
            counts.groupBy("node")
            .agg(
                F.max_by(
                    "lbl", F.struct(F.col("c"), (-F.col("lbl")).alias("t"))
                ).alias("lbl")
            )
            .localCheckpoint()
        )
    return labels.select(
        _node_label("node").alias("node"), _node_label("lbl").alias("community")
    ).orderBy("community", "node")


@register(
    "graph_linkpred_common_neighbors",
    oracle="""
WITH pairs AS MATERIALIZED (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
),
deg AS (
  SELECT p, COUNT(*) AS d FROM (
    SELECT p1 AS p FROM pairs UNION ALL SELECT p2 AS p FROM pairs
  ) GROUP BY p
),
adj AS MATERIALIZED (
  SELECT p1 AS m, p2 AS nbr FROM pairs
  UNION ALL
  SELECT p2 AS m, p1 AS nbr FROM pairs
),
adj_capped AS MATERIALIZED (
  SELECT a.m, a.nbr FROM adj a JOIN deg ON deg.p = a.m WHERE deg.d <= 40
),
wedges AS MATERIALIZED (
  SELECT x.nbr AS u, y.nbr AS v
  FROM adj_capped x JOIN adj_capped y ON x.m = y.m
  WHERE x.nbr < y.nbr
),
cn AS MATERIALIZED (
  SELECT u, v, COUNT(*) AS common_nbrs FROM wedges GROUP BY u, v
),
nonedges AS (
  SELECT cn.u, cn.v, cn.common_nbrs
  FROM cn LEFT JOIN pairs ON cn.u = pairs.p1 AND cn.v = pairs.p2
  WHERE pairs.p1 IS NULL
),
scored AS (
  SELECT n.u AS p1, n.v AS p2, n.common_nbrs,
         du.d AS deg_u, dv.d AS deg_v,
         (n.common_nbrs * 10000)
           // (du.d + dv.d - n.common_nbrs) AS jaccard_bp
  FROM nonedges n
  JOIN deg du ON du.p = n.u
  JOIN deg dv ON dv.p = n.v
)
SELECT p1, p2, common_nbrs, deg_u, deg_v, jaccard_bp
FROM scored
ORDER BY common_nbrs DESC, p1, p2
LIMIT 50
""",
    tags=("graph", "linkpred", "common-neighbors"),
)
def graph_linkpred_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the part co-purchase graph (edges = pairs
    co-occurring in ≥2 line pairs, the support filter that keeps
    affinity edges meaningful and the graph sparse): rank NON-adjacent
    part pairs by common-neighbor count (with an exact integer Jaccard
    in basis points as the tiebreaker column) — the classic
    "customers who bought these also bought..." candidate generator.
    Candidate pairs are WEDGES: for each midpoint vertex, pairs of its
    neighbors. Per-midpoint cost is deg², so midpoints above a degree
    cap (40 here) are excluded from wedge GENERATION — the standard
    hub-suppression move (hubs carry near-zero signal per Adamic-Adar's
    1/log(deg) weighting, and at 100 TB an uncapped celebrity vertex is
    THE scale-killer: one hub of degree 10⁶ alone would emit 5·10¹¹
    wedges). Degrees in the OUTPUT are true uncapped degrees; the
    common-neighbor count is through capped midpoints only, and the
    docstring is the contract. Scores are all integers (count and
    basis-point Jaccard via integer division), so ranking is
    bit-reproducible. Existing edges drop via one anti-join; the final
    top-50 is TakeOrderedAndProject — no global sort materializes.

    Scale: pair building is Σ basket² (bounded by order size), wedge
    building is Σ min(deg,40)² — both linear in edges at fixed caps;
    every join is an equi-join on vertex keys."""
    pairs, deg, capped = _copurchase(spark, sf_dir, min_support=2)
    x = capped.select("m", F.col("nbr").alias("u"))
    y = capped.select("m", F.col("nbr").alias("v"))
    cn = (
        x.join(y, "m")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("common_nbrs"))
    )
    nonedges = cn.join(
        pairs,
        (cn["u"] == pairs["p1"]) & (cn["v"] == pairs["p2"]),
        "left_anti",
    )
    du = deg.select(F.col("p").alias("u"), F.col("d").alias("deg_u"))
    dv = deg.select(F.col("p").alias("v"), F.col("d").alias("deg_v"))
    scored = (
        nonedges.join(du, "u")
        .join(dv, "v")
        .select(
            F.col("u").alias("p1"),
            F.col("v").alias("p2"),
            "common_nbrs",
            "deg_u",
            "deg_v",
            F.expr(
                "(common_nbrs * 10000) div (deg_u + deg_v - common_nbrs)"
            ).alias("jaccard_bp"),
        )
    )
    return scored.orderBy(F.desc("common_nbrs"), "p1", "p2").limit(50)


# Adamic-Adar midpoint weights, PRECOMPUTED once driver-side: w(d) =
# round(1e6 / ln(d)) for every degree the wedge cap admits (2..cap).
# Injecting the 39-entry table as literals into BOTH the Spark plan and
# the DuckDB oracle removes engine ln() from the query entirely — libm
# log is not guaranteed correctly rounded and a 1-ulp disagreement
# could flip a round(); a literal weight table is bit-identical by
# construction, and the integer weights make the SUM exact and
# merge-order-free.
_AA_W = {d: int(round(1e6 / _math.log(d))) for d in range(2, _AA_CAP + 1)}


def _aa_case_sql(col: str) -> str:
    whens = " ".join(f"WHEN {d} THEN {w}" for d, w in _AA_W.items())
    return f"CASE {col} {whens} ELSE 0 END"


@register(
    "graph_linkpred_adamic_adar",
    oracle=f"""
WITH pairs AS MATERIALIZED (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
deg AS MATERIALIZED (
  SELECT p, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT p1 AS p FROM pairs UNION ALL SELECT p2 FROM pairs
  ) t GROUP BY p
),
adj AS MATERIALIZED (
  SELECT p1 AS m, p2 AS nbr FROM pairs
  UNION ALL SELECT p2, p1 FROM pairs
),
capped AS MATERIALIZED (
  SELECT adj.m, adj.nbr, deg.d
  FROM adj JOIN deg ON deg.p = adj.m AND deg.d <= {_AA_CAP}
),
wedges AS MATERIALIZED (
  SELECT x.nbr AS u, y.nbr AS v,
         CAST({_aa_case_sql("x.d")} AS BIGINT) AS w
  FROM capped x JOIN capped y ON x.m = y.m AND x.nbr < y.nbr
),
cn AS (
  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS common_nbrs,
         CAST(SUM(w) AS BIGINT) AS aa_micro
  FROM wedges GROUP BY u, v
),
nonedges AS (
  SELECT cn.* FROM cn
  LEFT JOIN pairs ON cn.u = pairs.p1 AND cn.v = pairs.p2
  WHERE pairs.p1 IS NULL
)
SELECT u AS p1, v AS p2, aa_micro, common_nbrs
FROM nonedges
ORDER BY aa_micro DESC, p1, p2
LIMIT 50
""",
    tags=("graph", "linkpred", "adamic-adar"),
)
def graph_linkpred_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction on the part co-purchase graph — the
    log-degree-weighted upgrade of common-neighbor counting: a shared
    neighbor of degree 2 is strong evidence, a shared hub of degree 40
    is weak, so each wedge midpoint contributes 1/ln(deg) instead of 1.
    Weights come from a PRECOMPUTED integer-micro table (see _AA_W) —
    no engine ln() in the plan, exact integer sums, bit-reproducible
    ranking. Same wedge machinery and degree cap as
    graph_linkpred_common_neighbors (the cap IS Adamic-Adar's point:
    beyond it the 1/ln weight is noise); existing edges drop via an
    anti-join; TakeOrderedAndProject keeps the top 50.

    Scale: wedge generation is Σ min(deg,cap)² per midpoint — linear
    in edges at a fixed cap; the weight lookup is a 39-literal CASE
    evaluated map-side; every join is an equi-join on vertex keys."""
    pairs, _, capped = _copurchase(spark, sf_dir, min_support=2)
    x = capped.select("m", F.col("nbr").alias("u"), "d")
    y = capped.select("m", F.col("nbr").alias("v"))
    cn = (
        x.join(y, "m")
        .where(F.col("u") < F.col("v"))
        .select("u", "v", F.expr(_aa_case_sql("d")).cast("long").alias("w"))
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common_nbrs"),
            F.sum("w").cast("long").alias("aa_micro"),
        )
    )
    nonedges = cn.join(
        pairs,
        (cn["u"] == pairs["p1"]) & (cn["v"] == pairs["p2"]),
        "left_anti",
    )
    return (
        nonedges.select(
            F.col("u").alias("p1"),
            F.col("v").alias("p2"),
            "aa_micro",
            "common_nbrs",
        )
        .orderBy(F.desc("aa_micro"), "p1", "p2")
        .limit(50)
    )


@register(
    "graph_clustering_coefficient",
    oracle=f"""
WITH pairs AS MATERIALIZED (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
deg AS MATERIALIZED (
  SELECT p, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT p1 AS p FROM pairs UNION ALL SELECT p2 FROM pairs
  ) t GROUP BY p
),
adj AS MATERIALIZED (
  SELECT p1 AS m, p2 AS nbr FROM pairs
  UNION ALL SELECT p2, p1 FROM pairs
),
capped AS MATERIALIZED (
  SELECT adj.m, adj.nbr
  FROM adj JOIN deg ON deg.p = adj.m
  WHERE deg.d BETWEEN 2 AND {_AA_CAP}
),
tri AS (
  SELECT w.m, CAST(COUNT(*) AS BIGINT) AS t
  FROM (
    SELECT x.m, x.nbr AS u, y.nbr AS v
    FROM capped x JOIN capped y ON x.m = y.m AND x.nbr < y.nbr
  ) w JOIN pairs e ON e.p1 = w.u AND e.p2 = w.v
  GROUP BY w.m
)
SELECT deg.p AS node, deg.d AS degree,
       CAST(COALESCE(tri.t, 0) AS BIGINT) AS triangles,
       CAST(2000 * COALESCE(tri.t, 0) // (deg.d * (deg.d - 1))
            AS BIGINT) AS coeff_milli
FROM deg LEFT JOIN tri ON tri.m = deg.p
WHERE deg.d BETWEEN 2 AND {_AA_CAP}
ORDER BY coeff_milli DESC, node
LIMIT 100
""",
    tags=("graph", "clustering-coefficient", "triangles"),
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node on the part co-purchase
    graph — triangles / C(degree, 2), the how-cliquish-is-my-
    neighborhood score behind community detection and fraud-ring
    features. Reported in exact MILLI units via integer floor
    division (2000*t div d(d-1)) so the ranking is bit-reproducible
    with zero float ops; (degree, triangles) ride along so the caller
    can recover the exact rational.

    Scale: same degree-capped wedge machinery as the two linkpred
    ops — centers with degree in [2, cap] enumerate at most C(cap,2)
    = 780 wedges each (hubs are EXCLUDED and reported by the degree
    table, the documented production split: exact coefficients for
    the bulk, sampled wedge-closure estimates for hubs); triangle
    closure is one equi-join of wedges against the edge list, counts
    group by center, and the top-100 is TakeOrderedAndProject, never
    a global sort."""
    # A degree-1 midpoint has no neighbor pair, so the capped adjacency
    # (d <= cap) yields exactly the wedges of the d in [2, cap] centers.
    pairs, deg, capped = _copurchase(spark, sf_dir, min_support=2)
    wedges = (
        capped.alias("x")
        .join(
            capped.alias("y"),
            (F.col("x.m") == F.col("y.m"))
            & (F.col("x.nbr") < F.col("y.nbr")),
        )
        .select(
            F.col("x.m").alias("m"),
            F.col("x.nbr").alias("u"),
            F.col("y.nbr").alias("v"),
        )
    )
    tri = (
        wedges.join(
            pairs,
            (F.col("u") == F.col("p1")) & (F.col("v") == F.col("p2")),
        )
        .groupBy("m")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    return (
        deg.where(F.col("d").between(2, _AA_CAP))
        .join(tri, F.col("p") == F.col("m"), "left")
        .select(
            F.col("p").alias("node"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("triangles"),
            # integer floor division (div), NOT `/`+cast: the double
            # quotient can land a hair under the exact integer and
            # truncate one off vs the oracle's exact bigint //
            F.expr(
                "CAST((2000 * COALESCE(t, 0)) div (d * (d - 1)) AS BIGINT)"
            ).alias("coeff_milli"),
        )
        .orderBy(F.col("coeff_milli").desc(), "node")
        .limit(100)
    )


@register(
    "graph_linkpred_jaccard",
    oracle=f"""
WITH pairs AS MATERIALIZED (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
deg AS MATERIALIZED (
  SELECT p, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT p1 AS p FROM pairs UNION ALL SELECT p2 FROM pairs
  ) t GROUP BY p
),
adj AS MATERIALIZED (
  SELECT p1 AS m, p2 AS nbr FROM pairs
  UNION ALL SELECT p2, p1 FROM pairs
),
capped AS MATERIALIZED (
  SELECT adj.m, adj.nbr
  FROM adj JOIN deg ON deg.p = adj.m AND deg.d <= {_AA_CAP}
),
cn AS (
  SELECT x.nbr AS u, y.nbr AS v, CAST(COUNT(*) AS BIGINT) AS common_nbrs
  FROM capped x JOIN capped y ON x.m = y.m AND x.nbr < y.nbr
  GROUP BY 1, 2
),
scored AS (
  SELECT cn.u, cn.v, cn.common_nbrs,
         du.d AS deg_u, dv.d AS deg_v,
         CAST(1000000 * cn.common_nbrs AS BIGINT)
           // (du.d + dv.d - cn.common_nbrs) AS jaccard_micro
  FROM cn JOIN deg du ON du.p = cn.u JOIN deg dv ON dv.p = cn.v
),
nonedges AS (
  SELECT scored.* FROM scored
  LEFT JOIN pairs ON scored.u = pairs.p1 AND scored.v = pairs.p2
  WHERE pairs.p1 IS NULL
)
SELECT u AS p1, v AS p2, jaccard_micro, common_nbrs, deg_u, deg_v
FROM nonedges
ORDER BY jaccard_micro DESC, p1, p2
LIMIT 50
""",
    tags=("graph", "linkpred", "jaccard"),
)
def graph_linkpred_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-coefficient link prediction on the part co-purchase
    graph — completes the linkpred trio (common-neighbors counts raw
    overlap, Adamic-Adar discounts hub midpoints, Jaccard normalizes by
    NEIGHBORHOOD SIZE: |Γu∩Γv| / |Γu∪Γv|, so two low-degree parts with
    total overlap outrank two hubs sharing a sliver). The score is kept
    EXACT: jaccard_micro = (1e6 * common) DIV (deg_u + deg_v - common)
    — integer floor division, zero float comparisons in the ranking, so
    the top-50 is bit-reproducible at any parallelism. Wedge machinery,
    degree cap, and existing-edge anti-join shared with
    graph_linkpred_adamic_adar; degrees in the union
    term are FULL degrees (the cap bounds wedge fan-out, not the
    normalization).

    Scale: wedge generation is Σ min(deg,cap)² per midpoint — linear in
    edges at a fixed cap; the two degree lookups are equi-joins on
    vertex keys against the edge-set-sized degree table;
    TakeOrderedAndProject keeps the top 50 without a global sort."""
    pairs, deg, capped = _copurchase(spark, sf_dir, min_support=2)
    x = capped.select("m", F.col("nbr").alias("u"))
    y = capped.select("m", F.col("nbr").alias("v"))
    cn = (
        x.join(y, "m")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("common_nbrs"))
    )
    du = deg.select(F.col("p").alias("u"), F.col("d").alias("deg_u"))
    dv = deg.select(F.col("p").alias("v"), F.col("d").alias("deg_v"))
    scored = (
        cn.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "common_nbrs",
            "deg_u",
            "deg_v",
            F.expr(
                "(1000000 * common_nbrs) div (deg_u + deg_v - common_nbrs)"
            ).alias("jaccard_micro"),
        )
    )
    nonedges = scored.join(
        pairs,
        (scored["u"] == pairs["p1"]) & (scored["v"] == pairs["p2"]),
        "left_anti",
    )
    return (
        nonedges.select(
            F.col("u").alias("p1"),
            F.col("v").alias("p2"),
            "jaccard_micro",
            "common_nbrs",
            "deg_u",
            "deg_v",
        )
        .orderBy(F.desc("jaccard_micro"), "p1", "p2")
        .limit(50)
    )


_HC_ROOTS = 100
_HC_MAX_LVL = 3


@register(
    "graph_harmonic_centrality",
    oracle=f"""
WITH eo AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
edges AS MATERIALIZED (
  SELECT c * 2 AS src, s * 2 + 1 AS dst FROM eo
  UNION ALL
  SELECT s * 2 + 1 AS src, c * 2 AS dst FROM eo
),
deg AS (
  SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY 1
),
roots AS (
  SELECT node, d FROM (
    SELECT node, d, ROW_NUMBER() OVER (ORDER BY d DESC, node) AS rn
    FROM deg
  ) t WHERE rn <= {_HC_ROOTS}
),
l1 AS MATERIALIZED (
  SELECT r.node AS root, e.dst AS node
  FROM roots r JOIN edges e ON e.src = r.node GROUP BY 1, 2
),
l2 AS MATERIALIZED (
  SELECT l.root, e.dst AS node
  FROM l1 l JOIN edges e ON e.src = l.node GROUP BY 1, 2
),
l3 AS MATERIALIZED (
  SELECT l.root, e.dst AS node
  FROM l2 l JOIN edges e ON e.src = l.node GROUP BY 1, 2
),
reach AS MATERIALIZED (
  SELECT root, node, CAST(MIN(lvl) AS BIGINT) AS lvl FROM (
    SELECT root, node, 1 AS lvl FROM l1
    UNION ALL SELECT root, node, 2 FROM l2
    UNION ALL SELECT root, node, 3 FROM l3
  ) t WHERE node <> root GROUP BY 1, 2
),
hsum AS (
  SELECT root,
         CAST(SUM(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_l1,
         CAST(SUM(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_l2,
         CAST(SUM(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_l3,
         CAST(SUM(CASE lvl WHEN 1 THEN 6 WHEN 2 THEN 3 ELSE 2 END)
              AS BIGINT) AS harmonic_sixths
  FROM reach GROUP BY root
)
SELECT h.root AS node, ro.d AS degree,
       h.n_l1, h.n_l2, h.n_l3, h.harmonic_sixths
FROM hsum h JOIN roots ro ON ro.node = h.root
ORDER BY h.harmonic_sixths DESC, h.root
""",
    tags=("graph", "centrality", "harmonic", "bfs"),
)
def graph_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic closeness centrality (Boldi & Vigna's preferred
    closeness variant for disconnected graphs: H(v) = Σ_u 1/d(v,u))
    over the customer↔supplier graph, truncated at 3 hops and measured
    for the top-{_HC_ROOTS} hub nodes — the influence readout next to
    pagerank (global stationary mass) and clustering coefficient
    (local closure). Distances on the bipartite graph are 1..3;
    1/d sums are kept EXACT as integer SIXTHS (6/1=6, 6/2=3, 6/3=2 —
    the lcm trick), so the ranking needs zero float arithmetic and is
    bit-reproducible at any parallelism. Per root also reports the
    per-level reach histogram (n_l1/n_l2/n_l3 at MIN distance — a node
    reached at level 1 never recounts at 2).

    Scale: multi-source BFS as three equi-joins of level frontiers
    against the edge list, each level DISTINCT-compressed to
    (root, node) before the next expansion, so fan-out is bounded by
    roots × |V| per level, never multiplicative; the root cap bounds
    the whole computation at {_HC_ROOTS}·|E| join work (the
    clustering-coefficient hub-cap recipe); the final reduction is one
    map-combined groupBy over the (root, node) reach set. Truncated-
    at-L harmonic is itself the standard at-scale formulation (exact
    all-pairs distance is quadratic; HyperBall-style sketches are the
    probabilistic alternative when L must grow).

    Round-12 (r11 verdict #5): the computation is now the public,
    parameterized ``pipeline.harmonic_centrality(edges, roots,
    max_level)`` — the root cap and hop limit are the two knobs a
    100 TB deployment tunes (cost is O(roots·|E|·L), linear in each),
    and a lower-cost config is measured at the ×10 replica next to
    this default (SCALING.md round-12). This registered entry pins
    the {_HC_ROOTS}-root / 3-hop config the oracle mirrors."""
    from boltzmannclean_spark.pipeline import harmonic_centrality

    edges = _cust_supp_edges(spark, sf_dir).select("src", "dst")
    out = harmonic_centrality(edges, roots=_HC_ROOTS, max_level=_HC_MAX_LVL)
    # unit = lcm(1,2,3) = 6: harmonic_scaled IS the historical sixths.
    return out.withColumnRenamed("harmonic_scaled", "harmonic_sixths")


KATZ_BETA = 1_000_000  # per-node base score in micro-units
KATZ_DEN = 8  # attenuation alpha = 1/8 (integer division keeps it exact)


def _katz_oracle() -> str:
    its = []
    prev = "x0"
    for i in range(1, N_ITER + 1):
        its.append(
            f"""
x{i} AS (
  SELECT e.dst AS node,
         {KATZ_BETA} + CAST(SUM({prev}.x) AS BIGINT) // {KATZ_DEN} AS x
  FROM edges e
  JOIN {prev} ON {prev}.node = e.src
  GROUP BY e.dst
)"""
        )
        prev = f"x{i}"
    return f"""
WITH eo AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS MATERIALIZED (
  SELECT 'c:' || c AS src, 's:' || s AS dst FROM eo
  UNION ALL
  SELECT 's:' || s AS src, 'c:' || c AS dst FROM eo
),
x0 AS (
  SELECT DISTINCT src AS node, CAST({KATZ_BETA} AS BIGINT) AS x FROM edges
),{",".join(its)}
SELECT node, x AS katz_micro
FROM {prev}
ORDER BY katz_micro DESC, node
LIMIT {TOP_N}
"""


@register(
    "graph_katz_centrality",
    oracle=_katz_oracle(),
    tags=("graph", "katz", "centrality", "iterative"),
)
def graph_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality (3 truncated power iterations, attenuation
    α = 1/8, β = 1) over the customer↔supplier graph — the
    path-counting centrality PageRank is NOT: no degree normalization,
    so a node's score is the attenuated count of walks reaching it
    (Σ_k α^k·(Aᵏ1)ᵢ), the "influence reach" ranking behind seed-node
    selection. Scores live in integer micro-units: each iteration is
    x' = β + (Σ_{{j→i}} x_j) div 8 — all integer arithmetic, so every
    iteration is bit-identical in any engine at any parallelism (the
    pagerank discipline, graph.py module docstring). With α strictly
    below 1/λ_max the truncated series is the standard Katz
    approximation; 3 hops covers customer→supplier→customer→supplier
    influence on this bipartite graph. Each iteration is one ``_hop``;
    output is top-25 via orderBy+limit (TakeOrderedAndProject)."""
    ed = _cust_supp_edges(spark, sf_dir)
    x = ed.select("src").distinct().select(
        F.col("src").alias("node"), F.lit(KATZ_BETA).cast("long").alias("x")
    )
    for _ in range(N_ITER):
        x = _hop(
            ed, x, (F.lit(KATZ_BETA) + F.expr(f"SUM(x) div {KATZ_DEN}")).alias("x")
        ).localCheckpoint()
    return (
        x.select(_node_label("node").alias("node"), F.col("x").alias("katz_micro"))
        .orderBy(F.desc("katz_micro"), "node")
        .limit(TOP_N)
    )


PPR_N_SEEDS = 5  # lowest-custkey customers form the seed set


def _ppr_oracle() -> str:
    its = []
    prev = "r0"
    for i in range(1, N_ITER + 1):
        its.append(
            f"""
c{i} AS MATERIALIZED (
  SELECT e.dst AS node, CAST(SUM({prev}.r // deg.d) AS BIGINT) AS contrib
  FROM edges e
  JOIN {prev} ON {prev}.node = e.src
  JOIN deg ON deg.src = e.src
  GROUP BY e.dst
),
r{i} AS MATERIALIZED (
  SELECT n.node,
         (15 * n.seed_share + 85 * COALESCE(c{i}.contrib, 0)) // 100 AS r
  FROM nodes n LEFT JOIN c{i} ON c{i}.node = n.node
)"""
        )
        prev = f"r{i}"
    return f"""
WITH eo AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS MATERIALIZED (
  SELECT 'c:' || c AS src, 's:' || s AS dst FROM eo
  UNION ALL
  SELECT 's:' || s AS src, 'c:' || c AS dst FROM eo
),
deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
seeds AS (
  SELECT 'c:' || c AS node FROM (
    SELECT DISTINCT c FROM eo ORDER BY c LIMIT {PPR_N_SEEDS}
  )
),
nodes AS (
  SELECT deg.src AS node,
         CAST(CASE WHEN seeds.node IS NOT NULL
              THEN {RSCALE} // {PPR_N_SEEDS} ELSE 0 END AS BIGINT)
           AS seed_share
  FROM deg LEFT JOIN seeds ON seeds.node = deg.src
),
r0 AS (SELECT node, CAST(seed_share AS BIGINT) AS r FROM nodes),{",".join(its)}
SELECT node, r AS ppr_micro
FROM {prev}
WHERE r > 0
ORDER BY ppr_micro DESC, node
LIMIT {TOP_N}
"""


@register(
    "graph_personalized_pagerank",
    oracle=_ppr_oracle(),
    tags=("graph", "pagerank", "personalized", "recommendation"),
)
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from a 5-customer seed set (3 iterations,
    damping 0.85) — the "what is close to THESE nodes" ranking behind
    graph-based recommendation and trust propagation, where global
    pagerank answers the wrong question (global importance, not
    proximity to the seeds). Identical integer-micro discipline to
    graph_pagerank_bipartite, but the teleport mass returns to the
    SEED nodes only: r' = (15·seed_share + 85·Σ contrib) div 100 with
    seed_share = RSCALE/|S| on seeds and 0 elsewhere — all integer
    arithmetic, bit-identical at any parallelism. Nodes never reached
    from the seeds stay at exactly 0 and are filtered (r > 0), so the
    output is the seeds' 3-hop neighborhood ranked by proximity. Each
    iteration is one ``_hop`` plus a LEFT join back to the node list;
    top-25 via TakeOrderedAndProject."""
    ed = _cust_supp_edges(spark, sf_dir)
    nodes = ed.select("src").distinct()
    seeds = (
        nodes.where(F.col("src") % 2 == 0)
        .orderBy("src")
        .limit(PPR_N_SEEDS)
        .select(F.col("src").alias("node"), F.lit(1).alias("is_seed"))
    )
    base = nodes.select(F.col("src").alias("node")).join(
        F.broadcast(seeds), "node", "left"
    ).select(
        "node",
        F.when(
            F.col("is_seed").isNotNull(),
            F.lit(RSCALE // PPR_N_SEEDS),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("seed_share"),
    ).localCheckpoint()
    r = base.select("node", F.col("seed_share").alias("r"))
    for _ in range(N_ITER):
        contrib = _hop(ed, r, F.sum(F.expr("r div d")).alias("contrib"))
        r = (
            base.join(contrib, "node", "left")
            .select(
                "node",
                F.expr(
                    "(15 * seed_share + 85 * COALESCE(contrib, 0)) div 100"
                ).alias("r"),
            )
            .localCheckpoint()
        )
    return (
        r.where(F.col("r") > 0)
        .select(_node_label("node").alias("node"), F.col("r").alias("ppr_micro"))
        .orderBy(F.desc("ppr_micro"), "node")
        .limit(TOP_N)
    )


HITS_ITER = 3


def _hits_oracle() -> str:
    its = []
    prev_a, prev_h = "a0", "h0"
    for i in range(1, HITS_ITER + 1):
        its.append(
            f"""
h{i} AS MATERIALIZED (
  SELECT e.c AS node, CAST(SUM({prev_a}.v) AS HUGEINT) AS v
  FROM eo e JOIN {prev_a} ON {prev_a}.node = e.s
  GROUP BY e.c
),
a{i} AS MATERIALIZED (
  SELECT e.s AS node, CAST(SUM(h{i}.v) AS HUGEINT) AS v
  FROM eo e JOIN h{i} ON h{i}.node = e.c
  GROUP BY e.s
)"""
        )
        prev_a, prev_h = f"a{i}", f"h{i}"
    return f"""
WITH eo AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
a0 AS (SELECT DISTINCT s AS node, CAST(1 AS HUGEINT) AS v FROM eo),
h0 AS (SELECT DISTINCT c AS node, CAST(1 AS HUGEINT) AS v FROM eo),{",".join(its)},
ranked AS (
  SELECT 'hub' AS role, 'c:' || node AS node,
         CAST(CAST(v AS VARCHAR) AS DOUBLE) AS score,
         ROW_NUMBER() OVER (ORDER BY v DESC, node) AS rk
  FROM {prev_h}
  UNION ALL
  SELECT 'authority' AS role, 's:' || node AS node,
         CAST(CAST(v AS VARCHAR) AS DOUBLE) AS score,
         ROW_NUMBER() OVER (ORDER BY v DESC, node) AS rk
  FROM {prev_a}
)
SELECT role, node, score, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {TOP_N}
ORDER BY role, rk
"""


@register(
    "graph_hits_hubs_authorities",
    oracle=_hits_oracle(),
    tags=("graph", "hits", "hubs", "authorities", "iterative"),
)
def graph_hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg) on the customer→supplier bipartite graph:
    customers are hubs (score = Σ authority of their suppliers),
    suppliers are authorities (score = Σ hub of their customers) —
    3 mutual-reinforcement iterations, top-25 each. The pair
    completes the centrality family with the DIRECTIONAL notion
    pagerank/katz collapse: a big buyer (hub) and a widely-bought
    supplier (authority) are different roles, and HITS scores them
    separately. Scores stay UNNORMALIZED exact integers
    (HUGEINT/DECIMAL(38,0) — growth over 3 iterations is bounded by
    (max degree)³·|V|, ~10²⁰ here, inside 38 digits): normalization
    rescales, never reorders, so the RANKING is the textbook HITS
    ranking while every score is bit-identical at any parallelism
    (string-hopped to double only for display).

    Each half-iteration is one ``_hop`` over the pinned distinct pairs.
    Top-25 per role via a global row_number over that role's vector;
    a keyed top-k would route through functions/topk.py."""
    eo = _pin(_cust_supp_pairs(spark, sf_dir))
    a = eo.select(F.col("l_suppkey").alias("node")).distinct().select(
        "node", F.lit(1).cast("decimal(38,0)").alias("v")
    )
    for _ in range(HITS_ITER):
        h = _hop(
            eo, a, F.sum("v").alias("v"), src="l_suppkey", dst="o_custkey"
        ).localCheckpoint()
        a = _hop(
            eo, h, F.sum("v").alias("v"), src="o_custkey", dst="l_suppkey"
        ).localCheckpoint()
    wr = Window.orderBy(F.desc("v"), "node")
    ranked = [
        vec.select(
            F.lit(role).alias("role"),
            F.concat(F.lit(prefix), F.col("node").cast("string")).alias("node"),
            F.expr("CAST(CAST(v AS STRING) AS DOUBLE)").alias("score"),
            F.row_number().over(wr).cast("long").alias("rk"),
        ).where(F.col("rk") <= TOP_N)
        for role, prefix, vec in (("hub", "c:", h), ("authority", "s:", a))
    ]
    return reduce(DataFrame.unionAll, ranked).orderBy("role", "rk")


# HyperBall sketch geometry: m registers per node; each register's
# value is rho(hash) over the ball, merged per hop by groupBy-MAX.
HB_M = 16  # registers (HLL m); alpha_16 = 0.673 (Flajolet et al. 2007)
HB_ALPHA = 0.673
HB_HOPS = 3
HB_TOP = 32  # output cap: the HB_TOP highest-degree hubs (estimates
# are computed for ALL nodes — that is HyperBall's point — only the
# rendered output is capped)
HB_BITS = 24  # rho over a 24-bit md5-derived hash


def _rho_case_spark(h):
    """rho(h) = leading zeros of the HB_BITS-bit hash + 1 (h=0 ->
    HB_BITS+1), as a pure integer CASE chain — no log2/floats, so the
    register values are bit-identical on any engine."""
    expr = F.when(h >= F.lit(1 << (HB_BITS - 1)), F.lit(1))
    for z in range(1, HB_BITS):
        expr = expr.when(h >= F.lit(1 << (HB_BITS - 1 - z)), F.lit(z + 1))
    return expr.otherwise(F.lit(HB_BITS + 1)).cast("long")


def _rho_case_sql(h: str) -> str:
    branches = "\n    ".join(
        f"WHEN {h} >= {1 << (HB_BITS - 1 - z)} THEN {z + 1}"
        for z in range(HB_BITS)
    )
    return f"CAST(CASE {branches} ELSE {HB_BITS + 1} END AS BIGINT)"


def _hb_registers(edges: DataFrame) -> DataFrame:
    """Every node's HB_M registers (node, reg, val): val = rho of a
    24-bit md5-derived hash of 'node:reg', checkpointed."""
    regs = edges.sparkSession.range(HB_M).select(
        F.col("id").cast("int").alias("reg")
    )
    key = F.concat(
        F.col("node").cast("string"), F.lit(":"), F.col("reg").cast("string")
    )
    h24 = F.conv(F.substring(F.md5(key), 1, 6), 16, 10).cast("long")
    return (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .crossJoin(F.broadcast(regs))
        .select("node", "reg", _rho_case_spark(h24).alias("val"))
        .localCheckpoint()
    )


def _hb_merge(edges: DataFrame, r: DataFrame) -> DataFrame:
    """One HyperBall hop: each node's registers MAX-merged with its
    out-neighbors' — one groupBy-MAX shuffle with map-side partial MAX
    (register merge is idempotent, commutative and associative),
    checkpointed."""
    prop = edges.join(r, edges.dst == r.node).select(
        edges.src.alias("node"), "reg", "val"
    )
    return (
        r.unionAll(prop)
        .groupBy("node", "reg")
        .agg(F.max("val").alias("val"))
        .localCheckpoint()
    )


def _hyperball_oracle() -> str:
    hsql = (
        "('0x' || substring(md5(node::VARCHAR || ':' || reg::VARCHAR),"
        " 1, 6))::BIGINT"
    )
    # r0 = own registers; r{t} = max(r{t-1}(v), r{t-1}(w) for v->w).
    # AS MATERIALIZED on every register level (and the edge list) is
    # LOAD-BEARING: each r{t} is referenced twice (by r{t+1}'s union
    # and by the estimate), and DuckDB's default CTE inlining then
    # re-expands the whole chain per reference — exponential in hops
    # (measured: >45 GiB spill at the x10 replica; 10.7 s materialized).
    hops = []
    for t in range(1, HB_HOPS + 1):
        hops.append(
            f"""r{t} AS MATERIALIZED (
  SELECT node, reg, MAX(val) AS val FROM (
    SELECT node, reg, val FROM r{t - 1}
    UNION ALL
    SELECT e.src AS node, r.reg, r.val
    FROM edges e JOIN r{t - 1} r ON r.node = e.dst
  ) u GROUP BY node, reg
)"""
        )
    ests = "\nUNION ALL\n".join(
        f"""SELECT node, {t} AS hops,
       CAST({HB_ALPHA} * {HB_M * HB_M} /
            SUM(POWER(CAST(2 AS DOUBLE), -CAST(val AS DOUBLE))) AS FLOAT)
         AS reach_est_f
FROM r{t} GROUP BY node"""
        for t in range(1, HB_HOPS + 1)
    )
    return f"""
WITH eo AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
edges AS MATERIALIZED (
  SELECT c * 2 AS src, s * 2 + 1 AS dst FROM eo
  UNION ALL
  SELECT s * 2 + 1 AS src, c * 2 AS dst FROM eo
),
deg AS (
  SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree FROM edges
  GROUP BY 1
),
hubs AS (
  SELECT node, degree FROM (
    SELECT node, degree,
           ROW_NUMBER() OVER (ORDER BY degree DESC, node) AS rn
    FROM deg
  ) t WHERE rn <= {HB_TOP}
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
r0 AS MATERIALIZED (
  SELECT node, reg,
         {_rho_case_sql(hsql)} AS val
  FROM nodes CROSS JOIN (SELECT UNNEST(range(0, {HB_M})) AS reg) regs
),
{",".join(hops)},
est AS ({ests})
SELECT h.node, h.degree, e.hops, e.reach_est_f
FROM hubs h JOIN est e ON e.node = h.node
ORDER BY h.degree DESC, h.node, e.hops
"""


@register(
    "graph_hyperball_reach",
    oracle=_hyperball_oracle(),
    tags=("graph", "hyperball", "hll", "sketch", "reachability"),
)
def graph_hyperball_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall (Boldi & Vigna 2013): the neighborhood function
    |Ball_t(v)| estimated for EVERY node simultaneously via per-node
    HLL registers — the sketch the harmonic-centrality docstring
    promises for when truncated-exact BFS stops scaling. Each node
    carries m=16 registers (register value = leading-zero rank of
    a 24-bit md5-derived hash, computed by a pure-integer CASE chain —
    no floats, engine-identical); one hop = groupBy-MAX of each node's
    registers with its out-neighbors' (register merge is idempotent,
    commutative, associative — the property that makes the sweep ONE
    shuffle per hop with map-side partial MAX, versus the exact
    frontier's DISTINCT state). The raw HLL estimate α·m²/Σ2^(−M_r)
    is a fixed IEEE tree over exact integer registers (2^−M_r are
    exact binary fractions), FLOAT-cast on output (chi2_f contract).
    Small-range linear counting is deliberately omitted: it needs ln()
    (cross-engine libm hazard) and the registered 3-hop balls on this
    graph are far past the 2.5m correction regime; production code
    wanting it should re-rank with the exact BFS
    (`pipeline.harmonic_centrality`) on the shortlist instead.

    Scale vs the exact frontier (pipeline.harmonic_centrality): state
    is |V|·m REGISTERS (constant per node) instead of roots·|V|
    frontier pairs, and work per hop is |E|·m join rows instead of
    roots·|E| — so ALL-nodes coverage costs what ~m roots cost
    exactly, the trade HyperBall exists for. Output rendered for the
    32 highest-degree hubs (house output-cap discipline)."""
    edges = _cust_supp_edges(spark, sf_dir).select("src", "dst")
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    hubs = deg.orderBy(F.desc("degree"), "node").limit(HB_TOP)
    r = _hb_registers(edges)
    est_frames = []
    inv = F.pow(F.lit(2.0), -F.col("val").cast("double"))
    for t in range(1, HB_HOPS + 1):
        r = _hb_merge(edges, r)
        est_frames.append(
            r.groupBy("node")
            .agg(F.sum(inv).alias("s"))
            .select(
                "node",
                F.lit(t).cast("long").alias("hops"),
                (F.lit(HB_ALPHA) * F.lit(float(HB_M * HB_M)) / F.col("s"))
                .cast("float")
                .alias("reach_est_f"),
            )
        )
    return (
        F.broadcast(hubs)
        .join(reduce(DataFrame.unionAll, est_frames), "node")
        .select("node", "degree", "hops", "reach_est_f")
        .orderBy(F.desc("degree"), "node", "hops")
    )


SAT_HOPS = 4  # saturation curve depth (one past the registered sketch)
SAT_PERMILLE = 10  # saturated when the hop's mass delta < 1% of mass


def _hyperball_saturation_oracle() -> str:
    hsql = (
        "('0x' || substring(md5(node::VARCHAR || ':' || reg::VARCHAR),"
        " 1, 6))::BIGINT"
    )
    hops = []
    for t in range(1, SAT_HOPS + 1):
        hops.append(
            f"""r{t} AS MATERIALIZED (
  SELECT node, reg, MAX(val) AS val FROM (
    SELECT node, reg, val FROM r{t - 1}
    UNION ALL
    SELECT e.src AS node, r.reg, r.val
    FROM edges e JOIN r{t - 1} r ON r.node = e.dst
  ) u GROUP BY node, reg
)"""
        )
    masses = "\nUNION ALL\n".join(
        f"SELECT {t} AS hops, CAST(SUM(1 << (25 - val)) AS BIGINT) AS mass"
        f" FROM r{t}"
        for t in range(0, SAT_HOPS + 1)
    )
    return f"""
WITH eo AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
edges AS MATERIALIZED (
  SELECT c * 2 AS src, s * 2 + 1 AS dst FROM eo
  UNION ALL
  SELECT s * 2 + 1 AS src, c * 2 AS dst FROM eo
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
r0 AS MATERIALIZED (
  SELECT node, reg,
         {_rho_case_sql(hsql)} AS val
  FROM nodes CROSS JOIN (SELECT UNNEST(range(0, {HB_M})) AS reg) regs
),
{",".join(hops)},
curve AS ({masses})
SELECT c.hops, c.mass,
       COALESCE(p.mass - c.mass, 0) AS mass_drop,
       CAST(CASE WHEN c.hops > 0
                 AND (p.mass - c.mass) * 1000 < {SAT_PERMILLE} * c.mass
            THEN 1 ELSE 0 END AS BIGINT) AS saturated
FROM curve c LEFT JOIN curve p ON p.hops = c.hops - 1
ORDER BY c.hops
"""


@register(
    "graph_hyperball_saturation",
    oracle=_hyperball_saturation_oracle(),
    tags=("graph", "hyperball", "diameter", "sketch", "saturation"),
)
def graph_hyperball_saturation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective-diameter readout from the HyperBall sketch — the
    classic application (Boldi & Vigna run HyperBall to get the
    distance distribution of web-scale graphs): iterate the register
    merge one hop past the sketch depth and watch the TOTAL REGISTER
    MASS Σ_v Σ_r 2^(25−M_r) per hop. Register values only grow, so
    the mass only falls; once a hop's drop is under
    SAT_PERMILLE/1000 of the mass, the neighborhood function has
    saturated — the graph's effective diameter is ≈ that hop count.
    The whole curve is EXACT integers (1 << (25−val) per register;
    the global sum fits a long at < 2^25·m·|V| = 2^25·16·|V|, i.e.
    up to |V| ≈ 2^34 nodes), and the saturation decision is the
    integer comparison drop·1000 < permille·mass — no float anywhere,
    bit-reproducible at any parallelism (the rowcount-anomaly alarm
    discipline applied to a sketch).

    Scale: identical to graph_hyperball_reach — one groupBy-MAX
    shuffle per hop over |E|·m rows, register state |V|·m — plus a
    5-row curve; the mass aggregation is map-combinable. Output is
    hop-count-sized."""
    edges = _cust_supp_edges(spark, sf_dir).select("src", "dst")
    r = _hb_registers(edges)
    mass_expr = F.sum(
        F.expr("shiftleft(CAST(1 AS BIGINT), 25 - CAST(val AS INT))")
    ).cast("long")
    curves = []
    for t in range(SAT_HOPS + 1):
        if t:
            r = _hb_merge(edges, r)
        curves.append(
            r.agg(mass_expr.alias("mass")).select(
                F.lit(t).cast("long").alias("hops"), "mass"
            )
        )
    curve = reduce(DataFrame.unionAll, curves)
    prev = curve.select(
        (F.col("hops") + 1).alias("hops"), F.col("mass").alias("prev_mass")
    )
    return (
        curve.join(prev, "hops", "left")
        .select(
            "hops",
            "mass",
            F.coalesce(F.col("prev_mass") - F.col("mass"), F.lit(0))
            .cast("long")
            .alias("mass_drop"),
            F.when(
                (F.col("hops") > 0)
                & (
                    (F.col("prev_mass") - F.col("mass")) * 1000
                    < SAT_PERMILLE * F.col("mass")
                ),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("saturated"),
        )
        .orderBy("hops")
    )

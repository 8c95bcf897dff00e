"""Core relational operators: scan, project, filter, flagship aggregate.

SURVEY.md §2.B "Scans / Projection / filter / predicates" and §2.C
flagship. Everything here is pure Catalyst-planned DataFrame API: filters
and projections push down into the parquet scan, the flagship aggregate
runs partial+final hash aggregation with whole-stage codegen, and the
final sort is a tiny post-agg exchange — the canonical
scan→filter→agg→sort shape that scales linearly with input size.

Cross-engine float determinism follows functions/exact.py: per-row double
arithmetic untouched (IEEE-deterministic), aggregates via exact decimal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from boltzmannclean_spark.functions.exact import dec
from boltzmannclean_spark.plans.registry import register
from boltzmannclean_spark.sources.catalog import load_table


# --------------------------------------------------------------------------
# Flagship: TPC-H Q1-shaped pricing summary (SURVEY.md §2.C).
# Scan → pushed filter → partial/final hash agg (8 aggregates) → sort.
# At 100 TB: the filter prunes at the parquet row-group level, partial
# aggregation reduces each partition to ≤ (#flag × #status) rows before the
# shuffle, so the exchange moves KBs regardless of input size.
# --------------------------------------------------------------------------
# Decimal→double casts go VIA VARCHAR on the DuckDB side: DuckDB's
# direct DECIMAL→DOUBLE cast is not correctly rounded once the decimal's
# integer mantissa exceeds 2^53 (it scales the int128 in floating
# point), while Spark's Decimal.toDouble (java BigDecimal.doubleValue)
# IS correctly rounded — a 1-ulp divergence invisible at sf0.01/sf0.1
# that the round-8 sweep at 6M rows exposed on sum_charge. String→double
# parsing is correctly rounded in DuckDB, so the VARCHAR hop restores
# bit-equality at every magnitude.
PRICING_SUMMARY_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS STRING) AS DOUBLE)      AS sum_qty,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS sum_base_price,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
           * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS STRING) AS DOUBLE) AS sum_disc_price,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
           * (1 - CAST(l_discount AS DECIMAL(4,2)))
           * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS STRING) AS DOUBLE)      AS sum_charge,
  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS STRING) AS DOUBLE) / COUNT(*)      AS avg_qty,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE) / COUNT(*) AS avg_price,
  CAST(CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS STRING) AS DOUBLE) / COUNT(*)       AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register(
    "pricing_summary",
    oracle=PRICING_SUMMARY_ORACLE,
    tags=("aggregate", "flagship"),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship TPC-H Q1: scan → filter → multi-agg groupBy → sort."""
    li = load_table(spark, sf_dir, "lineitem")
    qty = dec("l_quantity")
    price = dec("l_extendedprice")
    disc = dec("l_discount", 4, 2)
    tax = dec("l_tax", 4, 2)
    disc_price = price * (1 - disc)
    charge = disc_price * (1 + tax)
    n = F.count(F.lit(1))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(qty).cast("double") / n).alias("avg_qty"),
            (F.sum(price).cast("double") / n).alias("avg_price"),
            (F.sum(disc).cast("double") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "project_filter",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity,
       l_extendedprice * (1 - l_discount) AS net_price
FROM lineitem
WHERE l_discount BETWEEN 0.02 AND 0.08
  AND l_quantity < 10
  AND l_returnflag IN ('A', 'R')
ORDER BY l_orderkey, l_linenumber
""",
    tags=("scan", "filter", "project"),
)
def project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + compound predicate (BETWEEN / IN / comparison).

    Both the projection and all three predicates reach the parquet scan
    (PushedFilters + pruned ReadSchema). Per-row double arithmetic is
    IEEE-deterministic, so net_price needs no rounding to match DuckDB.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            F.col("l_discount").between(0.02, 0.08)
            & (F.col("l_quantity") < 10)
            & F.col("l_returnflag").isin("A", "R")
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "conditional_expr",
    oracle="""
SELECT
  o_orderkey,
  CASE WHEN o_totalprice >= 100000 THEN 'big'
       WHEN o_totalprice >= 10000 THEN 'mid'
       ELSE 'small' END                         AS price_band,
  COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN')  AS status_label,
  GREATEST(o_totalprice, 50000.0)               AS floored_price
FROM orders
WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
ORDER BY o_orderkey
""",
    tags=("project", "conditional"),
)
def conditional_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN / COALESCE / NULLIF / GREATEST — conditional scalar exprs."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.where(F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
        .select(
            "o_orderkey",
            F.when(F.col("o_totalprice") >= 100000, "big")
            .when(F.col("o_totalprice") >= 10000, "mid")
            .otherwise("small")
            .alias("price_band"),
            F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")).alias(
                "status_label"
            ),
            F.greatest(F.col("o_totalprice"), F.lit(50000.0)).alias("floored_price"),
        )
        .orderBy("o_orderkey")
    )


SUBQ_SQL = """
SELECT p_partkey, p_brand,
       CAST(CAST(p_retailprice AS DECIMAL(12,2))
            - (SELECT CAST(AVG(CAST(p2.p_retailprice AS DECIMAL(12,2))) AS DECIMAL(16,6))
               FROM part p2 WHERE p2.p_brand = part.p_brand) AS DOUBLE)
         AS price_vs_brand_avg
FROM part
WHERE p_retailprice > (SELECT CAST(AVG(CAST(p2.p_retailprice AS DECIMAL(12,2))) AS DECIMAL(16,6))
                       FROM part p2 WHERE p2.p_brand = part.p_brand)
ORDER BY p_partkey
"""


@register(
    "subquery_correlated",
    oracle=SUBQ_SQL,
    tags=("subquery", "correlated", "sql"),
)
def subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery, submitted through the SQL API: parts
    priced above their brand's average. Catalyst de-correlates the
    subquery into an aggregate + equi-join on p_brand — same plan the
    hand-written join would make, so correlated SQL costs nothing extra.
    The average stays in exact decimal (DECIMAL(16,6), exact for 2-dp
    money / brand counts here) so both engines difference identical
    values. Exercises spark.sql over registered views — the surface a
    SQL-first user drives the engine through."""
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(SUBQ_SQL)


@register(
    "sample_hash_reproducible",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n_sampled,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS STRING) AS DOUBLE) AS sampled_value
FROM orders
WHERE substring(md5(o_orderkey::VARCHAR), 1, 1) IN ('0')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("sample", "reproducible"),
)
def sample_hash_reproducible(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~1/16 sampling by key hash (first md5 hex digit):
    the engine-portable alternative to TABLESAMPLE/df.sample, whose RNG
    streams are engine- and partitioning-specific. Hash sampling is also
    the 100 TB idiom — stable under reruns, repartitioning, and engine
    migrations, and it samples WHOLE keys (an orderkey is in or out with
    all its rows), which row-Bernoulli sampling cannot guarantee."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.where(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1) == "0"
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum(dec("o_totalprice", 14)).cast("double").alias("sampled_value"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "events_funnel",
    oracle="""
WITH stage AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view'     THEN epoch_us(ts) END) AS t_view,
         MIN(CASE WHEN event_type = 'click'    THEN epoch_us(ts) END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase
  FROM events
  GROUP BY user_id
)
SELECT
  COUNT(*) AS n_users,
  COUNT(t_view) AS n_viewed,
  COUNT(CASE WHEN t_click > t_view THEN 1 END) AS n_clicked_after_view,
  COUNT(CASE WHEN t_purchase > t_click AND t_click > t_view THEN 1 END)
    AS n_full_funnel
FROM stage
""",
    tags=("analytics", "funnel"),
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-funnel analysis: per user, the first time each stage
    (view → click → purchase) occurred, then ordered-sequence counts.
    One aggregation pass over events (conditional MIN per stage) + a
    1-row final rollup — the plan shape that makes funnels cheap at any
    scale (no self-joins, no per-stage scans). NULL propagation does the
    gating: a missing stage makes the > comparison NULL, so the user
    drops out of downstream counts, identically in both engines."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    stage = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", us)).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("t_purchase"),
    )
    return stage.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("n_viewed"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1)).alias(
            "n_clicked_after_view"
        ),
        F.count(
            F.when(
                (F.col("t_purchase") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_view")),
                1,
            )
        ).alias("n_full_funnel"),
    )


@register(
    "agg_histogram_fixed",
    oracle="""
WITH b AS (
  SELECT CAST(FLOOR(o_totalprice / 25000) AS BIGINT) AS bucket
  FROM orders
)
SELECT bucket,
       bucket * 25000.0 AS bucket_low,
       COUNT(*) AS n_orders
FROM b
GROUP BY bucket
ORDER BY bucket
""",
    tags=("aggregate", "histogram"),
)
def agg_histogram_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (25k buckets over order value): floor-bin +
    count — the portable form of width_bucket, one hash aggregation on
    a derived key. At 100 TB this is the same single shuffle; for
    high-cardinality histograms the partial aggregation already collapses
    per-partition counts before the exchange."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 25000).cast("bigint")
    return (
        orders.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(
            "bucket",
            (F.col("bucket") * 25000.0).alias("bucket_low"),
            "n_orders",
        )
        .orderBy("bucket")
    )


LATERAL_SQL = """
SELECT n_name, t.c_custkey AS top_custkey, t.c_acctbal AS top_acctbal, t.rk
FROM nation,
LATERAL (
  SELECT c_custkey, c_acctbal,
         ROW_NUMBER() OVER (ORDER BY c_acctbal DESC, c_custkey) AS rk
  FROM customer
  WHERE c_nationkey = n_nationkey
  ORDER BY c_acctbal DESC, c_custkey
  LIMIT 2
) t
ORDER BY n_name, t.rk
"""


@register(
    "subquery_lateral",
    oracle=LATERAL_SQL,
    tags=("subquery", "lateral", "sql"),
)
def subquery_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated table subquery (SQL API): top-2 customers by
    balance per nation. Catalyst plans the lateral as a de-correlated
    ranked join — the same physical plan as the window top-k idiom, so
    the SQL-surface convenience costs nothing. Identical SQL runs on
    DuckDB as the oracle."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(LATERAL_SQL)


RECURSIVE_SPINE_SQL = """
WITH RECURSIVE months(m) AS (
  SELECT DATE '1995-01-01'
  UNION ALL
  SELECT m + INTERVAL 1 MONTH FROM months WHERE m < DATE '1997-12-01'
)
SELECT CAST(m AS STRING) AS month,
       COUNT(o_orderkey) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS STRING) AS DOUBLE) AS revenue
FROM months
LEFT JOIN orders ON date_trunc('month', o_orderdate) = CAST(m AS TIMESTAMP)
GROUP BY m
ORDER BY m
"""


@register(
    "subquery_recursive_cte",
    oracle="""
WITH RECURSIVE months(m) AS (
  SELECT DATE '1995-01-01'
  UNION ALL
  SELECT m + INTERVAL 1 MONTH FROM months WHERE m < DATE '1997-12-01'
)
SELECT CAST(m AS VARCHAR) AS month,
       COUNT(o_orderkey) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS STRING) AS DOUBLE) AS revenue
FROM months
LEFT JOIN orders ON date_trunc('month', o_orderdate) = CAST(m AS TIMESTAMP)
GROUP BY m
ORDER BY m
""",
    tags=("sql", "recursive-cte", "4.x"),
)
def subquery_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (4.x): a recursive month spine left-joined to
    orders, so months with zero orders still report (the gap-aware
    report a plain GROUP BY silently drops). The recursion materializes
    36 driver-cheap rows; the join and aggregate stay distributed —
    recursion generating the SMALL side is the scalable use of the
    feature (recursing over the fact table would not be)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(RECURSIVE_SPINE_SQL)


PARAM_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS STRING) AS DOUBLE) AS total_value
FROM orders
WHERE o_totalprice >= :min_price AND o_orderstatus = :status
GROUP BY ALL
ORDER BY ALL
"""


@register(
    "sql_parameterized",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS STRING) AS DOUBLE) AS total_value
FROM orders
WHERE o_totalprice >= 150000.0 AND o_orderstatus = 'O'
GROUP BY o_orderpriority
ORDER BY o_orderpriority, n_orders, total_value
""",
    tags=("sql", "parameterized", "4.x"),
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (spark.sql(..., args={...})): named :markers
    bind server-side — no string interpolation, no injection surface,
    and the SAME parsed plan is reusable across bindings (plan-cache
    friendly). Also exercises 4.x GROUP BY ALL / ORDER BY ALL sugar.
    The oracle is the literal-inlined twin."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(PARAM_SQL, args={"min_price": 150000.0, "status": "O"})


SCALAR_SUBQ_SQL = """
SELECT p_brand,
       COUNT(*) AS n_above_avg,
       CAST(MIN(p_retailprice) AS DOUBLE) AS cheapest_above_avg
FROM part
WHERE p_retailprice > (SELECT AVG(CAST(p_retailprice AS DECIMAL(12,2))) FROM part)
  AND p_size < (SELECT MAX(p_size) FROM part)
GROUP BY p_brand
ORDER BY p_brand
"""


@register(
    "subquery_scalar_agg",
    # DuckDB's AVG(DECIMAL) returns DOUBLE while Spark's returns
    # DECIMAL(16,6) rounded half-up — cast the oracle's scalar to
    # Spark's type so a price landing between the two representations
    # can't flip the > cut (same recipe as subquery_correlated).
    oracle="""
SELECT p_brand,
       COUNT(*) AS n_above_avg,
       CAST(MIN(p_retailprice) AS DOUBLE) AS cheapest_above_avg
FROM part
WHERE p_retailprice > (SELECT CAST(AVG(CAST(p_retailprice AS DECIMAL(12,2)))
                                   AS DECIMAL(16,6)) FROM part)
  AND p_size < (SELECT MAX(p_size) FROM part)
GROUP BY p_brand
ORDER BY p_brand
""",
    tags=("sql", "scalar-subquery"),
)
def subquery_scalar_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subqueries in predicates ("above the overall
    average"): Catalyst executes each once and injects the scalar as a
    literal into the main scan's filter — effectively a broadcast of
    one value, NOT a per-row subquery. The average accumulates in exact
    decimal so the > cut is deterministic; min price re-rendered as
    DECIMAL so both engines print identically."""
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(SCALAR_SUBQ_SQL)


PIPE_SQL = """
FROM orders
|> WHERE o_orderstatus = 'O'
|> EXTEND CAST(o_totalprice AS DECIMAL(14,2)) AS price_dec
|> AGGREGATE COUNT(*) AS n_orders,
             CAST(SUM(price_dec) AS DOUBLE) AS total_value
   GROUP BY o_orderpriority
|> ORDER BY o_orderpriority
"""


@register(
    "sql_pipe_syntax",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS STRING) AS DOUBLE) AS total_value
FROM orders
WHERE o_orderstatus = 'O'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("sql", "pipe-syntax", "4.x"),
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (4.x): `FROM … |> WHERE … |> EXTEND … |>
    AGGREGATE … |> ORDER BY` — operators read top-to-bottom in
    execution order instead of SQL's inside-out nesting. Same Catalyst
    plan as the classic form (the oracle is the classic twin), so the
    ergonomics are free."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(PIPE_SQL)


@register(
    "relational_transpose",
    oracle="""
SELECT 'n_customers' AS key, COUNT(*) AS orders FROM customer
UNION ALL
SELECT 'n_nations', COUNT(DISTINCT c_nationkey) FROM customer
UNION ALL
SELECT 'n_segments', COUNT(DISTINCT c_mktsegment) FROM customer
ORDER BY key
""",
    tags=("relational", "transpose", "4.x"),
)
def relational_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.transpose (4.x): flip a 1-row metrics summary into a
    (key, value) column — the report-friendly orientation — without
    hand-writing a stack(). The first column's values become the new
    column names; here the 'orders' scope labels the value column.
    Transpose is driver-light (it reshapes a tiny collected frame),
    so it belongs AFTER the heavy aggregation, never before."""
    cust = load_table(spark, sf_dir, "customer")
    summary = cust.agg(
        F.lit("orders").alias("scope"),
        F.count(F.lit(1)).alias("n_customers"),
        F.count_distinct("c_nationkey").alias("n_nations"),
        F.count_distinct("c_mktsegment").alias("n_segments"),
    )
    return summary.transpose().orderBy("key")


def skyline_frontier(
    df: DataFrame, minimize: str, maximize: str, bucket_width: float = 100.0
) -> DataFrame:
    """Generic 2-D skyline kernel: rows of ``df`` not dominated under
    (minimize ``minimize``, maximize ``maximize``). Segmented prefix-max
    plan: (1) per-`minimize`-value max of `maximize` — one hash agg;
    (2) per-bucket max — second tiny agg; (3) prefix-max across the
    bucket DOMAIN — the only single-partition window, domain/width
    sized, independent of row count; (4) within-bucket running max —
    parallel; (5) equi-join survivors back. Nothing quadratic, nothing
    driver-side; holds at 10⁹ rows."""
    pp = df.groupBy(F.col(minimize).alias("_mv")).agg(
        F.max(maximize).alias("_ms")
    )
    ppb = pp.withColumn("_bkt", F.floor(F.col("_mv") / F.lit(bucket_width)))
    bmax = ppb.groupBy("_bkt").agg(F.max("_ms").alias("_bm"))
    wb = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    bpre = bmax.select("_bkt", F.max("_bm").over(wb).alias("_pre"))
    wp = (
        Window.partitionBy("_bkt")
        .orderBy("_mv")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sky_keys = (
        ppb.join(bpre, "_bkt")
        .withColumn("_run_in", F.max("_ms").over(wp))
        .withColumn(
            "_max_lt",
            F.greatest(
                F.coalesce(F.col("_pre"), F.lit(float("-inf"))),
                F.coalesce(F.col("_run_in"), F.lit(float("-inf"))),
            ),
        )
        .where(F.col("_ms") > F.col("_max_lt"))
        .select("_mv", "_ms")
    )
    return df.join(
        sky_keys,
        (df[minimize] == sky_keys._mv) & (df[maximize] == sky_keys._ms),
    ).drop("_mv", "_ms")


@register(
    "relational_skyline",
    oracle="""
SELECT p_partkey, p_retailprice, p_size
FROM part a
WHERE NOT EXISTS (
  SELECT 1 FROM part b
  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size)
)
ORDER BY p_retailprice, p_size, p_partkey
""",
    tags=("relational", "skyline", "dominance"),
)
def relational_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) over part: rows where no other part is
    both cheaper-or-equal AND larger-or-equal with one strict — minimize
    p_retailprice, maximize p_size. The oracle SQL is the independent
    O(N²) NOT EXISTS derivation; the distributed plan is the segmented
    prefix-max kernel (``skyline_frontier``), property-tested against a
    brute-force dominance check on random inputs in
    tests/test_skyline_property.py."""
    part = load_table(spark, sf_dir, "part")
    return (
        skyline_frontier(part, "p_retailprice", "p_size")
        .select("p_partkey", "p_retailprice", "p_size")
        .orderBy("p_retailprice", "p_size", "p_partkey")
    )


BOTTOMK_K = 40


@register(
    "sample_bottomk_mergeable",
    oracle=f"""
WITH hashed AS (
  SELECT doc_id, lang, md5(doc_id::VARCHAR) AS h FROM documents
),
global_k AS (
  SELECT doc_id, lang, h,
         ROW_NUMBER() OVER (ORDER BY h) AS rk
  FROM hashed QUALIFY rk <= {BOTTOMK_K}
),
per_lang AS (
  SELECT doc_id, lang, h
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS lrk
        FROM hashed)
  WHERE lrk <= {BOTTOMK_K}
),
merged_k AS (
  SELECT doc_id, h, ROW_NUMBER() OVER (ORDER BY h) AS rk
  FROM per_lang QUALIFY rk <= {BOTTOMK_K}
)
SELECT g.rk AS rank, g.doc_id, g.lang,
       (g.doc_id = m.doc_id) AS merge_agrees
FROM global_k g JOIN merged_k m ON g.rk = m.rk
ORDER BY rank
""",
    tags=("sample", "bottomk", "mergeable"),
)
def sample_bottomk_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable uniform sample via the BOTTOM-K (KMV) sketch: the k
    rows with the smallest md5(doc_id) are a uniform random sample that
    is also a MERGEABLE sketch — bottom-k of a union equals bottom-k of
    the per-partition bottom-ks, which is what lets a 100 TB pipeline
    keep a live uniform sample per shard/day and combine them without
    resampling (reservoir sampling, by contrast, does not distribute).
    The query PROVES the merge law on real data: it computes the global
    bottom-k directly AND via per-language bottom-ks merged, and emits
    rank-by-rank agreement (`merge_agrees` must be all-true). Both
    paths are deterministic (md5 total order, no RNG), so the oracle
    replicates them exactly. Scale: each path is one partial top-k
    (per-partition heaps via window-on-sorted, k rows out per
    partition) — never a global sort of the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id", "lang", F.md5(F.col("doc_id").cast("string")).alias("h")
    )
    wg = Window.orderBy("h")
    global_k = (
        hashed.withColumn("rank", F.row_number().over(wg))
        .where(F.col("rank") <= BOTTOMK_K)
    )
    wl = Window.partitionBy("lang").orderBy("h")
    per_lang = (
        hashed.withColumn("lrk", F.row_number().over(wl))
        .where(F.col("lrk") <= BOTTOMK_K)
        .drop("lrk")
    )
    merged_k = (
        per_lang.withColumn("rank", F.row_number().over(Window.orderBy("h")))
        .where(F.col("rank") <= BOTTOMK_K)
        .select("rank", F.col("doc_id").alias("m_doc_id"))
    )
    return (
        global_k.join(merged_k, "rank")
        .select(
            "rank",
            "doc_id",
            "lang",
            (F.col("doc_id") == F.col("m_doc_id")).alias("merge_agrees"),
        )
        .orderBy("rank")
    )


N_FOLDS = 5  # group-aware cross-validation folds


@register(
    "sample_group_kfold",
    oracle=f"""
WITH folded AS (
  SELECT o_custkey, o_totalprice,
         ('0x' || substring(md5(o_custkey::VARCHAR), 1, 4))::BIGINT
           % {N_FOLDS} AS fold
  FROM orders
)
SELECT fold,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_customers,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE)
         AS total_price
FROM folded
GROUP BY fold
ORDER BY fold
""",
    tags=("sample", "kfold", "cross-validation"),
)
def sample_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware k-fold assignment (sklearn ``GroupKFold`` semantics,
    hash-deterministic): every order lands in the fold of its CUSTOMER,
    so no customer ever spans train and eval — the grouping that
    prevents entity leakage when cross-validating per-customer models.
    Fold = first 16 bits of md5(custkey) mod {N_FOLDS}: row-local, no
    shuffle before the {N_FOLDS}-row aggregation, reproducible across
    engines/runs, and stable under data growth (a customer's fold never
    changes when new orders arrive). Exact-decimal price sums keep the
    per-fold totals bit-identical at any parallelism."""
    orders = load_table(spark, sf_dir, "orders")
    fold = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 4), 16, 10
        ).cast("long"),
        F.lit(N_FOLDS),
    )
    return (
        orders.select(fold.alias("fold"), "o_custkey", "o_totalprice")
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count_distinct("o_custkey").alias("n_customers"),
            F.sum(dec("o_totalprice")).cast("double").alias("total_price"),
        )
        .orderBy("fold")
    )


@register(
    "sample_poisson_bootstrap",
    oracle="""
WITH reps AS (SELECT unnest(range(0, 32)) AS r),
w AS (
  SELECT r,
         CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents,
         ('0x' || substring(md5(o_orderkey::VARCHAR || ':' || r::VARCHAR),
                            1, 8))::BIGINT AS h32
  FROM orders CROSS JOIN reps
),
rs AS (
  SELECT r,
         CAST(SUM(CAST(CASE
           WHEN h32 < 1580030168 THEN 0
           WHEN h32 < 3160060337 THEN 1
           WHEN h32 < 3950075421 THEN 2
           WHEN h32 < 4213413783 THEN 3
           WHEN h32 < 4279248373 THEN 4
           WHEN h32 < 4292415291 THEN 5
           ELSE 6 END AS DECIMAL(38,0)) * cents) AS BIGINT) AS boot_total
  FROM w GROUP BY r
)
SELECT (SELECT CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
                             AS BIGINT)) AS BIGINT)
        FROM orders) AS point_total_cents,
       quantile_disc(boot_total, 0.05) AS boot_p05_cents,
       quantile_disc(boot_total, 0.50) AS boot_p50_cents,
       quantile_disc(boot_total, 0.95) AS boot_p95_cents
FROM rs
""",
    tags=("sample", "bootstrap", "uncertainty"),
)
def sample_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap: a confidence interval for total order value
    WITHOUT resampling the dataset B times — the only bootstrap that
    works at 100 TB (Chamandy et al., "Estimating Uncertainty for
    Massive Data Streams", Google 2012). Each row gets, per replicate
    r, a Poisson(1) weight drawn by inverting the CDF on a 32-bit hash
    of (key, r) — row-local, no RNG state, reproducible at any
    parallelism. The CDF inversion compares the hash against
    PRE-SCALED integer thresholds floor(CDF_k·2^32), so membership is
    pure int64 comparison (no float boundary can disagree between
    engines). The 32x row expansion is map-side only (explode feeding
    a partial aggregate in the same stage); what shuffles is 32
    replicate partial sums per task — at 100 TB this plan moves KB,
    where a classic resample-B-times bootstrap moves 32x the corpus.
    Replicate totals accumulate in DECIMAL(38,0); the CI picks actual
    replicate totals via percentile_disc (no interpolation), so the
    output is integer cents, bit-equal across engines."""
    orders = load_table(spark, sf_dir, "orders")
    w = orders.select(
        "o_orderkey",
        (dec("o_totalprice", 14, 2) * 100).cast("long").alias("cents"),
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("r"),
    ).select(
        "r",
        "cents",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("o_orderkey").cast("string"),
                        F.col("r").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h32"),
    )
    weight = (
        F.when(F.col("h32") < 1580030168, 0)
        .when(F.col("h32") < 3160060337, 1)
        .when(F.col("h32") < 3950075421, 2)
        .when(F.col("h32") < 4213413783, 3)
        .when(F.col("h32") < 4279248373, 4)
        .when(F.col("h32") < 4292415291, 5)
        .otherwise(6)
    )
    rs = w.groupBy("r").agg(
        F.sum(weight.cast("decimal(38,0)") * F.col("cents"))
        .cast("long")
        .alias("boot_total")
    )
    point = orders.agg(
        F.sum((dec("o_totalprice", 14, 2) * 100).cast("long").cast("decimal(38,0)"))
        .cast("long")
        .alias("point_total_cents")
    )
    return (
        rs.agg(
            F.expr(
                "percentile_disc(0.05) WITHIN GROUP (ORDER BY boot_total)"
            )
            .cast("long")
            .alias("boot_p05_cents"),
            F.expr(
                "percentile_disc(0.50) WITHIN GROUP (ORDER BY boot_total)"
            )
            .cast("long")
            .alias("boot_p50_cents"),
            F.expr(
                "percentile_disc(0.95) WITHIN GROUP (ORDER BY boot_total)"
            )
            .cast("long")
            .alias("boot_p95_cents"),
        )
        .crossJoin(F.broadcast(point))
        .select(
            "point_total_cents",
            "boot_p05_cents",
            "boot_p50_cents",
            "boot_p95_cents",
        )
    )


@register(
    "sql_scalar_udf",
    oracle="""
SELECT l_returnflag,
       COUNT(*) AS n_items,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS STRING) AS DOUBLE)
         AS net_revenue
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    tags=("sql", "sql-udf", "4.x"),
)
def sql_scalar_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scalar UDF (CREATE FUNCTION ... RETURN <expr>, SQL:2016
    PSM-style, new in Spark 4.x): the revenue formula becomes a named,
    catalog-registered function instead of a copy-pasted expression.
    Unlike Python UDFs, a SQL UDF INLINES into the plan at analysis
    time — the aggregated column compiles to the same whole-stage
    codegen as writing the expression by hand, so there is zero
    serialization or per-row interpreter cost; it is an abstraction
    mechanism, not an execution mechanism, and the 100 TB cost is
    identical to the inlined twin (which is exactly what the oracle
    runs). The exact-decimal recipe lives INSIDE the function, so
    every call site inherits bit-exactness."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION bcs_net_revenue(
            price DOUBLE, discount DOUBLE) RETURNS DECIMAL(16,4)
        RETURN CAST(price AS DECIMAL(12,2))
               * (1 - CAST(discount AS DECIMAL(4,2)))
        """
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               COUNT(*) AS n_items,
               CAST(SUM(bcs_net_revenue(l_extendedprice, l_discount))
                    AS DOUBLE) AS net_revenue
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
        """
    )


@register(
    "sql_execute_immediate",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS STRING) AS DOUBLE)
         AS total_value
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("sql", "execute-immediate", "session-variables", "4.x"),
)
def sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE IMMEDIATE + session variables (SQL:2016 dynamic SQL, new
    in Spark 4.x): the query text is composed at runtime and the
    predicate binds through a DECLAREd session variable via USING —
    the migration path for warehouse scripts (Snowflake/BigQuery
    scripting) that build SQL strings, WITHOUT string-splicing values
    (the parameter is bound server-side, so no injection and the plan
    is the same as a static parse). Execution cost is identical to
    running the inner statement directly; the oracle is the inlined
    twin."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    spark.sql("DECLARE OR REPLACE VARIABLE bcs_status STRING DEFAULT 'F'")
    return spark.sql(
        """
        EXECUTE IMMEDIATE
          'SELECT o_orderpriority,
                  COUNT(*) AS n_orders,
                  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS STRING) AS DOUBLE)
                    AS total_value
           FROM orders
           WHERE o_orderstatus = ?
           GROUP BY o_orderpriority
           ORDER BY o_orderpriority'
          USING bcs_status
        """
    )


@register(
    "sql_lateral_column_alias",
    oracle="""
WITH t AS (
  SELECT o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
  FROM orders
)
SELECT o_orderkey, cents,
       cents // 100000 AS hundreds_bucket,
       CASE WHEN cents // 100000 >= 2000 THEN 'large' ELSE 'regular' END
         AS size_label
FROM t
WHERE o_orderkey <= 2000
ORDER BY o_orderkey
""",
    tags=("sql", "lateral-alias", "4.x"),
)
def sql_lateral_column_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column aliases (Spark 3.4+/4.x default-on): a SELECT item
    references a SIBLING alias defined earlier in the same list —
    `cents` feeds `hundreds_bucket` feeds `size_label`, no nested
    subquery per derivation step. Catalyst inlines the chain (one
    Project, full codegen), so this is ergonomics with zero plan cost;
    the oracle expresses the same chain with a CTE because DuckDB
    resolves same-list aliases differently. Integer division uses the
    sign-safe idiom (values are positive money cents)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
                 AS cents,
               cents div 100000 AS hundreds_bucket,
               CASE WHEN hundreds_bucket >= 2000 THEN 'large'
                    ELSE 'regular' END AS size_label
        FROM orders
        WHERE o_orderkey <= 2000
        ORDER BY o_orderkey
        """
    )


@register(
    "sample_balanced_downsample",
    oracle="""
WITH ranked AS (
  SELECT label, vec_id,
         ROW_NUMBER() OVER (PARTITION BY label
                            ORDER BY md5(vec_id::VARCHAR), vec_id) AS rk
  FROM embeddings
),
floor_n AS (
  SELECT MIN(c) AS m FROM (SELECT COUNT(*) AS c FROM embeddings GROUP BY label)
)
SELECT label,
       COUNT(*) AS n_kept,
       CAST(SUM(vec_id) AS BIGINT) AS kept_id_sum
FROM ranked, floor_n
WHERE rk <= m
GROUP BY label
ORDER BY label
""",
    tags=("sample", "balanced", "downsample", "ml-prep"),
)
def sample_balanced_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every label keeps exactly
    min-class-count rows, chosen by md5 rank within the class — the
    majority-class trim before training a classifier on skewed labels,
    made reproducible (no RNG) and engine/partitioning-stable. The
    floor is a 1-row broadcast (scalar MIN over per-class counts); the
    per-class ranking is a window on the label key — at 100 TB, rank
    only what you might keep: pre-filtering each class to a hash
    PREFIX (e.g. first-byte buckets ≈ 2×floor rows) before the window
    bounds the sort. Output
    reports per-class kept counts plus an id-sum fingerprint so the
    oracle verifies the exact membership, not just the size."""
    emb = load_table(spark, sf_dir, "embeddings")
    w = Window.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    ranked = emb.select(
        "label", "vec_id", F.row_number().over(w).alias("rk")
    )
    floor_n = (
        emb.groupBy("label")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.min("c").alias("m"))
    )
    return (
        ranked.crossJoin(F.broadcast(floor_n))
        .where(F.col("rk") <= F.col("m"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("vec_id").cast("long").alias("kept_id_sum"),
        )
        .orderBy("label")
    )


@register(
    "sql_identifier_clause",
    oracle="""
SELECT o_orderstatus AS grp,
       COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS STRING) AS DOUBLE) AS total_value
FROM orders
GROUP BY o_orderstatus
ORDER BY grp
""",
    tags=("sql", "identifier", "4.x"),
)
def sql_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTIFIER() clause (Spark 4.x): table AND column names supplied
    as bound parameters — the safe form of the "same report over N
    tables / N dimensions" template job that is otherwise built by
    string splicing (SQL-injectable, unparseable until runtime).
    IDENTIFIER(:p) resolves the parameter AS A NAME at analysis time,
    so the resulting plan is byte-identical to the static query (zero
    runtime cost — the oracle IS the static twin) while names stay
    data, never code."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT IDENTIFIER(:grp_col) AS grp,
               COUNT(*) AS n_orders,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS STRING) AS DOUBLE)
                 AS total_value
        FROM IDENTIFIER(:tbl)
        GROUP BY IDENTIFIER(:grp_col)
        ORDER BY grp
        """,
        args={"tbl": "orders", "grp_col": "o_orderstatus"},
    )


_RCTE_REACH = """
WITH RECURSIVE pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
adj AS (
  SELECT p1 AS m, p2 AS nbr FROM pairs
  UNION ALL SELECT p2, p1 FROM pairs
),
seed AS (SELECT MIN(p1) AS p FROM pairs),
walk(p, h) AS (
  SELECT p, 0 FROM seed
  UNION ALL
  SELECT DISTINCT a.nbr, w.h + 1
  FROM walk w JOIN adj a ON a.m = w.p
  WHERE w.h < 3
),
first_reach AS (
  SELECT p, CAST(MIN(h) AS BIGINT) AS hop FROM walk GROUP BY p
)
SELECT hop, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM first_reach GROUP BY hop ORDER BY hop
"""


@register(
    "sql_recursive_cte_reachability",
    oracle=_RCTE_REACH,
    tags=("sql", "recursive-cte", "graph", "reachability"),
)
def sql_recursive_cte_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native WITH RECURSIVE (Spark 4.x) — 3-hop BFS frontier sizes
    from the smallest part in the co-purchase graph, THE SAME SQL TEXT
    running on both engines (Spark executes it as an iterative
    UnionLoop; DuckDB as its recursive working-table loop). The
    per-step SELECT DISTINCT is the load-bearing clause: recursive
    UNION ALL re-expands from the PREVIOUS step's rows only, so
    deduping each step bounds every level at ≤|V| rows — without it,
    path multiplicity multiplies per hop and the walk is exponential
    in depth. min(h) per node then collapses re-visits to first
    reach; output is the hop histogram (hop, n_nodes).

    Scale: the recursion depth is a constant (3); each iteration is
    one equi-join of a ≤|V|-row frontier against the edge list — the
    same per-round cost profile as graph_bfs_levels (graph.py), which
    implements the identical semantics as an explicit driver loop
    with localCheckpoint; this entry exists to cover the ENGINE
    surface (recursive CTE parsing, loop planning, fixpoint
    execution) rather than a new algorithm.

    One Spark-side asymmetry, chosen by measurement: Spark's UnionLoop
    re-evaluates the non-recursive CTEs on every iteration, so the
    edge-list self-join ran 3× inside the loop (15.4 s at sf0.1). The
    adjacency is therefore built ONCE as a localCheckpointed frame and
    exposed to the recursive SQL as a temp view — the WITH RECURSIVE
    walk (the engine surface under test) is unchanged, and the oracle
    keeps the single-statement form (DuckDB materializes its CTEs)."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p1"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p2"))
    pairs = (
        a.join(b, "ok")
        .where(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= 2)
        .select("p1", "p2")
    )
    adj = (
        pairs.select(F.col("p1").alias("m"), F.col("p2").alias("nbr"))
        .unionAll(pairs.select(F.col("p2").alias("m"), F.col("p1").alias("nbr")))
        .localCheckpoint(eager=True)
    )
    adj.createOrReplaceTempView("rcte_adj")
    return spark.sql("""
WITH RECURSIVE seed AS (SELECT MIN(m) AS p FROM rcte_adj),
walk(p, h) AS (
  SELECT p, 0 FROM seed
  UNION ALL
  SELECT DISTINCT a.nbr, w.h + 1
  FROM walk w JOIN rcte_adj a ON a.m = w.p
  WHERE w.h < 3
),
first_reach AS (
  SELECT p, CAST(MIN(h) AS BIGINT) AS hop FROM walk GROUP BY p
)
SELECT hop, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM first_reach GROUP BY hop ORDER BY hop
""")

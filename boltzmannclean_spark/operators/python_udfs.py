"""The Python UDF surface (SURVEY.md §2.B UDF/UDAF/UDTF): scalar UDF,
vectorized pandas UDF, grouped-agg pandas UDF (UDAF), grouped-map
applyInPandas, and a table-valued UDTF.

Built-ins beat UDFs in the hot path (JVM whole-stage codegen vs Python
round-trip); these queries exist to prove the escape hatches work and
stay oracle-exact. Determinism rules: per-row IEEE arithmetic is
bit-stable everywhere; aggregations inside Python accumulate integer
cents (exact for the 2-decimal data) so partition order can't change
the result. Row-wise Python steps run after the ORDER BY, not before
it: a range sort over a Python pass runs that pass twice (once in the
range sampler's job), and these steps keep their input's row order.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udf, udtf

from boltzmannclean_spark.plans.registry import register
from boltzmannclean_spark.sources.catalog import load_table


def _sort_on_one_partition(df: DataFrame, *cols: str) -> DataFrame:
    """Sort the few rows a grouped Python step emits (one per group key)
    on a single partition. A range sort would run the grouped step twice
    (once more in the range sampler's job), and it cannot go below the
    step: the groupBy exchange there reorders rows."""
    return df.repartition(1).sortWithinPartitions(*cols)


@register(
    "udf_scalar_priority",
    oracle="""
SELECT
  o_orderpriority,
  CAST(SUBSTRING(o_orderpriority, 1, 1) AS INT) AS priority_rank,
  COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("udf", "scalar"),
)
def udf_scalar_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (the slow path — fine on a grouped
    5-row domain, never on the fact table)."""

    @udf("int")
    def priority_rank(p: str) -> int:
        return int(p.split("-")[0])

    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
        .select(
            "o_orderpriority",
            priority_rank("o_orderpriority").alias("priority_rank"),
            "n_orders",
        )
    )


@register(
    "udf_pandas_vectorized",
    oracle="""
SELECT
  l_orderkey,
  l_linenumber,
  l_extendedprice * (1 - l_discount) AS net_price
FROM lineitem
WHERE l_quantity >= 49
ORDER BY l_orderkey, l_linenumber
""",
    tags=("udf", "pandas_udf", "vectorized"),
)
def udf_pandas_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar pandas UDF: per-row IEEE arithmetic on
    numpy arrays — bit-identical to the JVM expression and ~10-100x a
    row-at-a-time UDF."""

    @pandas_udf("double")
    def net_price(price: pd.Series, discount: pd.Series) -> pd.Series:
        return price * (1 - discount)

    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_quantity") >= 49)
        .orderBy("l_orderkey", "l_linenumber")
        .select(
            "l_orderkey",
            "l_linenumber",
            net_price("l_extendedprice", "l_discount").alias("net_price"),
        )
    )


@register(
    "udaf_grouped_agg_cents",
    oracle="""
SELECT
  c_mktsegment,
  CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS total_acctbal
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
    tags=("udf", "udaf", "grouped_agg"),
)
def udaf_grouped_agg_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas UDF (UDAF): exact integer-cents accumulation
    inside Python, so the result is independent of row order — the UDF
    twin of the exact-decimal SUM recipe."""

    @pandas_udf("long")
    def cents_sum(v: pd.Series) -> int:
        return int(v.mul(100).round().astype("int64").sum())

    customer = load_table(spark, sf_dir, "customer")
    return (
        customer.groupBy("c_mktsegment")
        .agg((cents_sum("c_acctbal") / 100.0).alias("total_acctbal"))
        .transform(_sort_on_one_partition, "c_mktsegment")
    )


@register(
    "grouped_map_nation_top",
    oracle="""
WITH m AS (
  SELECT c_nationkey,
         COUNT(*) AS n_customers,
         MAX(c_acctbal) AS max_acctbal,
         SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS s
  FROM customer GROUP BY c_nationkey
)
SELECT m.c_nationkey,
       m.n_customers,
       CAST(m.s AS DOUBLE) AS sum_acctbal,
       (SELECT MIN(c_custkey) FROM customer c
        WHERE c.c_nationkey = m.c_nationkey
          AND c.c_acctbal = m.max_acctbal) AS top_custkey
FROM m ORDER BY m.c_nationkey
""",
    tags=("udf", "grouped_map", "applyInPandas"),
)
def grouped_map_nation_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: per-nation stats plus the top-balance
    customer (ties broken by min custkey — deterministic). The group
    shuffle is the same hash partition a groupBy would take."""

    def per_nation(pdf: pd.DataFrame) -> pd.DataFrame:
        cents = pdf["c_acctbal"].mul(100).round().astype("int64")
        mx = pdf["c_acctbal"].max()
        top = int(pdf.loc[pdf["c_acctbal"] == mx, "c_custkey"].min())
        return pd.DataFrame(
            {
                "c_nationkey": [int(pdf["c_nationkey"].iloc[0])],
                "n_customers": [len(pdf)],
                "sum_acctbal": [cents.sum() / 100.0],
                "top_custkey": [top],
            }
        )

    customer = load_table(spark, sf_dir, "customer")
    return (
        customer.groupBy("c_nationkey")
        .applyInPandas(
            per_nation,
            schema=(
                "c_nationkey bigint, n_customers bigint, "
                "sum_acctbal double, top_custkey bigint"
            ),
        )
        .transform(_sort_on_one_partition, "c_nationkey")
    )


@register(
    "udtf_tokenize",
    oracle="""
WITH toks AS (
  SELECT doc_id,
         generate_subscripts(toks, 1) AS pos,
         unnest(toks) AS token
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
)
SELECT token, COUNT(*) AS n_docs
FROM toks
WHERE pos <= 3
GROUP BY token
ORDER BY n_docs DESC, token
LIMIT 20
""",
    tags=("udf", "udtf"),
)
def udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function): text → (pos, token) rows via a
    LATERAL join, then an aggregate over leading tokens. The UDTF is the
    PySpark 4.x idiom for one-row-to-many-rows Python logic."""

    @udtf(returnType="pos int, token string")
    class Tokenize:
        def eval(self, text: str):
            for i, tok in enumerate(text.split(" "), start=1):
                yield i, tok

    spark.udtf.register("bcs_tokenize", Tokenize)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "bcs_documents"
    )
    return spark.sql(
        """
        SELECT t.token, COUNT(*) AS n_docs
        FROM bcs_documents d, LATERAL bcs_tokenize(d.text) t
        WHERE t.pos <= 3
        GROUP BY t.token
        ORDER BY n_docs DESC, t.token
        LIMIT 20
        """
    )


@register(
    "udf_map_in_arrow",
    oracle="""
SELECT c_custkey, c_name,
       LENGTH(c_name) AS name_len,
       CAST(c_acctbal * 100 AS BIGINT) AS bal_cents
FROM customer
WHERE c_custkey < 200
ORDER BY c_custkey
""",
    tags=("udf", "arrow", "mapInArrow"),
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow (4.x): whole-partition transform on RAW pyarrow
    RecordBatches — one abstraction lower than mapInPandas (no pandas
    conversion, no index games, zero-copy into pyarrow.compute). The
    fastest Python escape hatch there is; the natural host for codec
    work on multimodal binary columns. Integer cents arithmetic keeps
    it oracle-exact."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def enrich(batches):
        for batch in batches:
            name = batch.column("c_name")
            bal = batch.column("c_acctbal")
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("c_custkey"),
                    name,
                    pc.cast(pc.utf8_length(name), pa.int32()),
                    pc.cast(pc.round(pc.multiply(bal, 100.0)), pa.int64()),
                ],
                names=["c_custkey", "c_name", "name_len", "bal_cents"],
            )

    cust = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") < 200)
    return cust.orderBy("c_custkey").mapInArrow(
        enrich,
        "c_custkey BIGINT, c_name STRING, name_len INT, bal_cents BIGINT",
    )


@register(
    "udf_apply_in_arrow",
    oracle="""
SELECT c_nationkey AS nation_key, COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal * 100 AS BIGINT)) AS BIGINT) AS bal_cents_total
FROM customer
GROUP BY c_nationkey
ORDER BY nation_key
""",
    tags=("udf", "arrow", "applyInArrow"),
)
def udf_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInArrow (4.x): grouped-map over pyarrow Tables — the Arrow
    twin of applyInPandas for group-shaped Python logic without the
    pandas tax. Cents accumulate as int64 before summation, so the
    group total is exact regardless of intra-group order."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def per_nation(table: pa.Table) -> pa.Table:
        cents = pc.cast(pc.round(pc.multiply(table.column("c_acctbal"), 100.0)), pa.int64())
        return pa.table(
            {
                "nation_key": [table.column("c_nationkey")[0].as_py()],
                "n_customers": [table.num_rows],
                "bal_cents_total": [pc.sum(cents).as_py()],
            },
            schema=pa.schema(
                [
                    ("nation_key", pa.int32()),
                    ("n_customers", pa.int64()),
                    ("bal_cents_total", pa.int64()),
                ]
            ),
        )

    cust = load_table(spark, sf_dir, "customer")
    out = cust.groupBy("c_nationkey").applyInArrow(
        per_nation,
        "nation_key INT, n_customers BIGINT, bal_cents_total BIGINT",
    )
    return _sort_on_one_partition(out, "nation_key")


SQL_UDF_QUERY = """
SELECT l_returnflag,
       COUNT(*) AS n_items,
       CAST(SUM(discount_cents(l_extendedprice, l_discount)) AS BIGINT)
         AS discount_cents_total
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register(
    "udf_sql_registered",
    oracle="""
SELECT l_returnflag,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(FLOOR(l_extendedprice * l_discount * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS discount_cents_total
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    tags=("udf", "sql-registered"),
)
def udf_sql_registered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spark.udf.register: a Python function exposed BY NAME to SQL text
    — the surface a SQL-first user extends the engine through (the
    DataFrame-API UDFs next door are invisible to spark.sql). Pandas
    (Arrow-vectorized) under the hood; integer cents per row make the
    fact-table sum exact."""

    import numpy as np

    @pandas_udf("bigint")
    def discount_cents(price: pd.Series, disc: pd.Series) -> pd.Series:
        # floor(x + 0.5), not .round(): pandas rounds half-to-even while
        # SQL ROUND rounds half-away — floor+0.5 is identical everywhere.
        return np.floor(price * disc * 100 + 0.5).astype("int64")

    spark.udf.register("discount_cents", discount_cents)
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(SQL_UDF_QUERY)


@register(
    "udf_arrow_scalar",
    oracle="""
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative,
       upper(substring(c_mktsegment, 1, 3)) || ':' ||
         CAST(length(c_mktsegment) AS VARCHAR) AS segment_code
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
    tags=("udf", "arrow", "4.x"),
)
def udf_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized scalar Python UDF (``@udf(useArrow=True)``,
    3.5+/4.x): same row-wise author experience as a classic Python UDF
    but the exchange with the worker is Arrow-batched instead of
    pickled row-at-a-time — the migration path for legacy row UDFs
    that can't be rewritten as pandas_udf wholesale. Applied here on a
    post-aggregation 5-row domain (the engine's standing rule: Python
    never touches the fact-table hot path; the aggregation below it is
    all JVM)."""

    @udf("string", useArrow=True)
    def segment_code(seg: str) -> str:
        return f"{seg[:3].upper()}:{len(seg)}"

    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(
                F.when(F.col("c_acctbal") < 0, 1).otherwise(0)
            ).alias("n_negative"),
        )
        .orderBy("c_mktsegment")
        .select(
            "c_mktsegment",
            "n_customers",
            "n_negative",
            segment_code("c_mktsegment").alias("segment_code"),
        )
    )


@register(
    "udf_pandas_iterator",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) * 1.1 AS taxed_net
FROM lineitem
WHERE l_quantity >= 49
ORDER BY l_orderkey, l_linenumber
""",
    tags=("udf", "pandas", "iterator"),
)
def udf_pandas_iterator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-form pandas UDF (`Iterator[pd.Series] -> Iterator[...]`)
    — the variant whose POINT is per-partition setup amortization: the
    body runs once per partition, loads its "model" (here a constant
    tax rate standing in for a real tokenizer/ONNX session/codebook)
    BEFORE the batch loop, and then streams Arrow batches through it.
    With a plain scalar pandas UDF that setup would re-run per batch;
    at 100 TB with a 2 GB model, per-batch loading is the difference
    between a working pipeline and one that spends its time
    deserializing. Arithmetic is per-row IEEE on identical operands —
    bit-identical to the JVM expression and the oracle."""
    @pandas_udf("double")
    def taxed_net(
        batches: Iterator[Tuple[pd.Series, pd.Series]],
    ) -> Iterator[pd.Series]:
        tax_rate = 1.1  # expensive one-time setup lives HERE, not per batch
        for price, discount in batches:
            yield price * (1 - discount) * tax_rate

    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_quantity") >= 49)
        .orderBy("l_orderkey", "l_linenumber")
        .select(
            "l_orderkey",
            "l_linenumber",
            taxed_net("l_extendedprice", "l_discount").alias("taxed_net"),
        )
    )


@register(
    "udtf_analyze_dynamic",
    oracle="""
SELECT string_split(o_orderpriority, '-')[1] AS p1,
       string_split(o_orderpriority, '-')[2] AS p2,
       COUNT(*) AS n_orders
FROM orders
GROUP BY p1, p2
ORDER BY p1, p2
""",
    tags=("udf", "udtf", "analyze", "4.x"),
)
def udtf_analyze_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF with a static ``analyze()`` (4.x): the OUTPUT SCHEMA
    is computed at plan time from a constant argument — here a
    field-splitter whose column count (p1..pN) follows the N literal at
    the call site, the polymorphic-table-function pattern (one UDTF
    serves every fixed-width split in the warehouse instead of one
    hand-written variant per arity). Catalyst sees a fully typed
    schema, so projection pruning and the downstream aggregate plan
    normally; the Python row fan-out itself stays the documented slow
    path — fine on a label column, never on the fact-table hot path."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult
    from pyspark.sql.types import StringType, StructType

    @udtf
    class SplitParts:
        @staticmethod
        def analyze(
            text: AnalyzeArgument, sep: AnalyzeArgument, n: AnalyzeArgument
        ) -> AnalyzeResult:
            schema = StructType()
            for i in range(int(n.value)):
                schema = schema.add(f"p{i + 1}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, text: str, sep: str, n: int):
            parts = (text or "").split(sep)
            yield tuple((parts + [None] * n)[:n])

    spark.udtf.register("bcs_split_parts", SplitParts)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("bcs_orders_u")
    return spark.sql(
        """
        SELECT t.p1, t.p2, COUNT(*) AS n_orders
        FROM bcs_orders_u o, LATERAL bcs_split_parts(o.o_orderpriority, '-', 2) t
        GROUP BY t.p1, t.p2
        ORDER BY t.p1, t.p2
        """
    )

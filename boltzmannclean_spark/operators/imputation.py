"""Registry entries for the RBM imputation pipeline (reference surface,
SURVEY.md §2.A). Imputation output depends on random init/noise, so —
exactly like upstream's own tests — these are rows-only checks (the
driver records count+schema); the behavioral invariants (no nulls
remain, observed cells untouched, categorical fills from vocabulary)
are asserted in tests/test_imputer.py. The RBM queries sort their
input, not the transform's output: the transform is one narrow
mapInPandas that keeps row order, and a range sort over it would run
the imputation again in the range sampler's job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from boltzmannclean_spark.ml.imputer import RBMImputer
from boltzmannclean_spark.plans.registry import register
from boltzmannclean_spark.sources.catalog import load_table

NUM_COLS = ["c_acctbal"]
CAT_COLS = ["c_mktsegment"]


def with_injected_nulls(df: DataFrame) -> DataFrame:
    """Deterministically null out cells (testdata has no nulls): every
    7th customer loses c_acctbal, every 11th loses c_mktsegment."""
    return df.withColumn(
        "c_acctbal",
        F.when(F.col("c_custkey") % 7 == 3, None).otherwise(F.col("c_acctbal")),
    ).withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 11 == 5, None).otherwise(F.col("c_mktsegment")),
    )


@register(
    "impute_rbm_customer",
    oracle=None,  # stochastic model output: rows-only + invariant tests
    tags=("imputation", "rbm", "ml"),
)
def impute_rbm_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end reference pipeline: inject nulls into customer, fit
    RBMImputer (driver-side CD-1 on the encode job's output), transform
    distributed (mapInPandas + broadcast weights), return filled rows."""
    customer = load_table(spark, sf_dir, "customer")
    holed = with_injected_nulls(customer)
    model = RBMImputer(
        numerical_columns=NUM_COLS,
        categorical_columns=CAT_COLS,
        n_hidden=8,
        max_epochs=10,
        seed=42,
    ).fit(holed)
    return model.transform(holed.orderBy("c_custkey"))


@register(
    "impute_rbm_distributed_fit",
    oracle=None,
    tags=("imputation", "rbm", "ml", "distributed"),
)
def impute_rbm_distributed_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v2 fit path: per-epoch distributed CD-1 gradient averaging
    (broadcast params → mapInPandas partial gradients → driver update),
    then the same distributed transform."""
    customer = load_table(spark, sf_dir, "customer")
    holed = with_injected_nulls(customer)
    model = RBMImputer(
        numerical_columns=NUM_COLS,
        categorical_columns=CAT_COLS,
        n_hidden=8,
        max_epochs=3,
        seed=42,
        distributed_fit=True,
    ).fit(holed)
    return model.transform(holed.orderBy("c_custkey"))


@register(
    "impute_rbm_tuned",
    oracle=None,
    tags=("imputation", "rbm", "ml", "tuning"),
)
def impute_rbm_tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 hyperparameter tuning path: hide a fraction of observed cells,
    score candidate configs by masked-cell reconstruction RMSE, refit the
    winner, impute. Small grid/epochs keep the gate fast; the search
    itself is embarrassingly parallel at scale (one fit per config)."""
    customer = load_table(spark, sf_dir, "customer")
    holed = with_injected_nulls(customer)
    imputer = RBMImputer(
        numerical_columns=NUM_COLS,
        categorical_columns=CAT_COLS,
        n_hidden=8,
        max_epochs=5,
        seed=42,
    ).tune(
        holed,
        param_grid=[{"n_hidden": 4}, {"n_hidden": 8, "learn_rate": 0.05}],
    )
    model = imputer.fit(holed)
    return model.transform(holed.orderBy("c_custkey"))


@register(
    "impute_mean_mode",
    oracle="""
WITH holed AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 7 = 3 THEN NULL ELSE c_acctbal END AS acctbal,
         CASE WHEN c_custkey % 11 = 5 THEN NULL ELSE c_mktsegment END AS seg
  FROM customer
),
stats AS (
  SELECT CAST(CAST(SUM(CAST(acctbal AS DECIMAL(12,2))) AS STRING) AS DOUBLE) / COUNT(acctbal)
           AS mean_bal
  FROM holed
),
mode_seg AS (
  SELECT seg AS top_seg FROM holed WHERE seg IS NOT NULL
  GROUP BY seg ORDER BY COUNT(*) DESC, seg LIMIT 1
)
SELECT c_custkey,
       COALESCE(acctbal, mean_bal) AS c_acctbal_filled,
       COALESCE(seg, top_seg)      AS c_mktsegment_filled,
       (acctbal IS NULL) AS was_null_num,
       (seg IS NULL)     AS was_null_cat
FROM holed CROSS JOIN stats CROSS JOIN mode_seg
ORDER BY c_custkey
""",
    tags=("imputation", "baseline"),
)
def impute_mean_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic baseline imputer: numeric nulls ← column mean
    (exact-decimal sum / non-null count), categorical nulls ← mode
    (ties to the lexicographically smallest value). The classical
    baseline the RBM imputer is judged against — and unlike the RBM,
    fully oracle-checkable. Both fill values are 1-row broadcasts
    crossed onto the table: two tiny aggregates + one pass, no driver
    collect."""
    holed = with_injected_nulls(load_table(spark, sf_dir, "customer")).select(
        "c_custkey",
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("seg"),
    )
    stats = holed.agg(
        (
            F.sum(F.col("acctbal").cast("decimal(12,2)")).cast("double")
            / F.count("acctbal")
        ).alias("mean_bal")
    )
    mode_seg = (
        holed.where(F.col("seg").isNotNull())
        .groupBy("seg")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "seg")
        .limit(1)
        .select(F.col("seg").alias("top_seg"))
    )
    return (
        holed.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(mode_seg))
        .select(
            "c_custkey",
            F.coalesce("acctbal", "mean_bal").alias("c_acctbal_filled"),
            F.coalesce("seg", "top_seg").alias("c_mktsegment_filled"),
            F.col("acctbal").isNull().alias("was_null_num"),
            F.col("seg").isNull().alias("was_null_cat"),
        )
        .orderBy("c_custkey")
    )


@register(
    "impute_regression",
    oracle="""
WITH feat AS (
  SELECT o.o_orderkey, o.o_orderstatus,
         CAST(CAST(o.o_totalprice AS DECIMAL(14,2)) AS DOUBLE) AS y_true,
         CAST(x.sq AS DOUBLE) AS x,
         (o.o_orderkey % 7 = 3) AS masked
  FROM orders o
  JOIN (SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sq
        FROM lineitem GROUP BY l_orderkey) x
    ON o.o_orderkey = x.l_orderkey
),
fit AS (
  SELECT COUNT(*) AS n,
         CAST(CAST(SUM(CAST(x AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(y_true AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(x AS DECIMAL(18,2)) * CAST(x AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS sxx,
         CAST(CAST(SUM(CAST(x AS DECIMAL(18,2)) * CAST(y_true AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS sxy
  FROM feat WHERE NOT masked
),
beta AS (
  SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b1,
         (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS b0
  FROM fit
),
ev AS (
  SELECT o_orderstatus,
         COUNT(*) AS n_masked,
         CAST(CAST(SUM(CAST(y_true AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS msy,
         CAST(CAST(SUM(CAST(x AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS msx,
         CAST(CAST(SUM(CAST(x AS DECIMAL(18,2)) * CAST(x AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS msxx,
         CAST(CAST(SUM(CAST(y_true AS DECIMAL(18,2)) * CAST(y_true AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS msyy,
         CAST(CAST(SUM(CAST(x AS DECIMAL(18,2)) * CAST(y_true AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS msxy
  FROM feat WHERE masked GROUP BY o_orderstatus
)
SELECT o_orderstatus, n_masked,
       msy AS sum_actual,
       n_masked * b0 + b1 * msx AS sum_imputed,
       SQRT((n_masked * b0 * b0 + b1 * b1 * msxx + msyy
             + 2 * b0 * b1 * msx - 2 * b0 * msy - 2 * b1 * msxy)
            / n_masked) AS rmse
FROM ev CROSS JOIN beta
ORDER BY o_orderstatus
""",
    tags=("imputation", "regression", "ols"),
)
def impute_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regression imputation with SELF-EVALUATION — the fourth leg of
    the imputer family (mean/mode baseline, kNN, RBM, now OLS): mask
    o_totalprice on a deterministic 1/7th of orders, fit ordinary least
    squares of price on total line-item quantity over the UNMASKED
    rows, impute the masked ones, and score the imputation against the
    held-out truth — all in one declarative plan.

    Float discipline: no per-row prediction is ever summed. Σŷ and the
    masked-set squared error expand algebraically into the group's
    exact-decimal moments (Σŷ = n·β₀ + β₁·Σx; Σ(ŷ−y)² = n·β₀² + β₁²Σx²
    + Σy² + 2β₀β₁Σx − 2β₀Σy − 2β₁Σxy), so every emitted double is one
    IEEE expression over identical exact operands in both engines —
    order-independent at any parallelism, same recipe as
    agg_stats_exact. The fit is a single partial+final aggregation
    (4 sufficient statistics), the evaluation another; β is a 1-row
    broadcast."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    sq = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("sq")
    )
    feat = o.join(sq, o.o_orderkey == sq.l_orderkey).select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(14,2)").cast("double").alias("y"),
        F.col("sq").cast("double").alias("x"),
        (F.col("o_orderkey") % 7 == 3).alias("masked"),
    )
    d = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    fit = feat.where(~F.col("masked")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d("x")).cast("double").alias("sx"),
        F.sum(d("y")).cast("double").alias("sy"),
        F.sum(d("x") * d("x")).cast("double").alias("sxx"),
        F.sum(d("x") * d("y")).cast("double").alias("sxy"),
    )
    beta = fit.select(
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        ).alias("b1"),
        (
            (
                F.col("sy")
                - (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * F.col("sx")
            )
            / F.col("n")
        ).alias("b0"),
    )
    ev = feat.where(F.col("masked")).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_masked"),
        F.sum(d("y")).cast("double").alias("msy"),
        F.sum(d("x")).cast("double").alias("msx"),
        F.sum(d("x") * d("x")).cast("double").alias("msxx"),
        F.sum(d("y") * d("y")).cast("double").alias("msyy"),
        F.sum(d("x") * d("y")).cast("double").alias("msxy"),
    )
    return (
        ev.crossJoin(F.broadcast(beta))
        .select(
            "o_orderstatus",
            "n_masked",
            F.col("msy").alias("sum_actual"),
            (F.col("n_masked") * F.col("b0") + F.col("b1") * F.col("msx")).alias(
                "sum_imputed"
            ),
            F.sqrt(
                (
                    F.col("n_masked") * F.col("b0") * F.col("b0")
                    + F.col("b1") * F.col("b1") * F.col("msxx")
                    + F.col("msyy")
                    + 2 * F.col("b0") * F.col("b1") * F.col("msx")
                    - 2 * F.col("b0") * F.col("msy")
                    - 2 * F.col("b1") * F.col("msxy")
                )
                / F.col("n_masked")
            ).alias("rmse"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "impute_hotdeck",
    oracle="""
WITH holed AS (
  SELECT c_custkey, c_nationkey, c_mktsegment,
         CASE WHEN c_custkey % 7 = 3 THEN NULL ELSE c_acctbal END AS acctbal,
         c_acctbal AS truth
  FROM customer
),
filled AS (
  SELECT c_custkey, c_nationkey, c_mktsegment, acctbal, truth,
         COALESCE(acctbal,
                  LAST_VALUE(acctbal IGNORE NULLS) OVER (
                    PARTITION BY c_nationkey, c_mktsegment
                    ORDER BY c_custkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
           AS donor_fill
  FROM holed
)
SELECT c_custkey, c_nationkey, c_mktsegment,
       donor_fill AS c_acctbal_filled,
       (acctbal IS NULL)                          AS was_null,
       (acctbal IS NULL AND donor_fill IS NULL)   AS still_null,
       CASE WHEN acctbal IS NULL AND donor_fill IS NOT NULL
            THEN CAST(CAST(ABS(CAST(donor_fill AS DECIMAL(12,2))
                               - CAST(truth AS DECIMAL(12,2)))
                           AS DECIMAL(12,2)) AS DOUBLE) END AS abs_error
FROM filled
ORDER BY c_custkey
""",
    tags=("imputation", "hotdeck"),
)
def impute_hotdeck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential hot-deck imputation (the survey-statistics classic,
    and boltzmannclean's conceptual neighbor: fill from a REAL donor
    record rather than a model): a null c_acctbal takes the value of
    the nearest preceding donor within its (nation, market-segment)
    stratum, in deterministic c_custkey order — so fills are always
    actually-observed values, preserve the stratum's distribution, and
    are reproducible across engines (no RNG donor draw). One window
    over ONE (nationkey, mktsegment) exchange; per-cell absolute error
    against the pre-masking truth is emitted for the held-out
    self-evaluation, exact-decimal so the comparison needs no
    tolerance. Rows whose stratum has no preceding donor stay null and
    are flagged (`still_null`) — the honest residual a production
    pipeline routes to the model-based imputers."""
    from pyspark.sql import Window

    base = load_table(spark, sf_dir, "customer")
    holed = base.select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.when(F.col("c_custkey") % 7 == 3, None)
        .otherwise(F.col("c_acctbal"))
        .alias("acctbal"),
        F.col("c_acctbal").alias("truth"),
    )
    w = (
        Window.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("c_custkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = holed.withColumn(
        "donor_fill",
        F.coalesce("acctbal", F.last("acctbal", ignorenulls=True).over(w)),
    )
    err = (
        F.abs(
            F.col("donor_fill").cast("decimal(12,2)")
            - F.col("truth").cast("decimal(12,2)")
        )
        .cast("decimal(12,2)")
        .cast("double")
    )
    return filled.select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.col("donor_fill").alias("c_acctbal_filled"),
        F.col("acctbal").isNull().alias("was_null"),
        (F.col("acctbal").isNull() & F.col("donor_fill").isNull()).alias(
            "still_null"
        ),
        F.when(
            F.col("acctbal").isNull() & F.col("donor_fill").isNotNull(), err
        ).alias("abs_error"),
    ).orderBy("c_custkey")


@register(
    "impute_rbm_pipeline_persist",
    oracle=None,  # stochastic model output: rows-only + invariant tests
    tags=("imputation", "rbm", "ml", "mllib", "persistence"),
)
def impute_rbm_pipeline_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north star's 'MLlib pipeline' end-to-end THROUGH the
    registered surface: RBMImputer runs inside pyspark.ml.Pipeline,
    the fitted PipelineModel's RBM stage is persisted with save(),
    reloaded with RBMImputerModel.load(), and the RELOADED model
    produces the output — proving fit-once / persist / transform-
    anywhere works as a user would actually wire it. The reload is
    bit-identical to the in-memory model (tests/test_imputer.py), so
    this entry's row count and schema match impute_rbm_customer's."""
    import os
    import tempfile

    from pyspark.ml import Pipeline

    from boltzmannclean_spark.ml.imputer import RBMImputerModel

    customer = load_table(spark, sf_dir, "customer")
    holed = with_injected_nulls(customer)
    pm = Pipeline(
        stages=[
            RBMImputer(
                numerical_columns=NUM_COLS,
                categorical_columns=CAT_COLS,
                n_hidden=8,
                max_epochs=5,
                seed=42,
            )
        ]
    ).fit(holed)
    path = os.path.join(tempfile.mkdtemp(prefix="bcs_rbm_model_"), "rbm")
    pm.stages[0].save(path)
    reloaded = RBMImputerModel.load(path)
    return reloaded.transform(holed.orderBy("c_custkey"))


MICE_ROUNDS = 2


def _mice_oracle() -> str:
    """Unrolled chained-equations rounds. Naming: cur{k}_y1 / cur{k}_y2
    are the working tables after the k-th half-step."""
    d19 = "DECIMAL(19,0)"

    def fit(src: str, obs: str, x: str, y: str) -> str:
        return f"""(
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST({x} AS {d19})) AS DOUBLE) AS sx,
         CAST(SUM(CAST({y} AS {d19})) AS DOUBLE) AS sy,
         CAST(SUM(CAST({x} AS {d19}) * CAST({x} AS {d19})) AS DOUBLE) AS sxx,
         CAST(SUM(CAST({x} AS {d19}) * CAST({y} AS {d19})) AS DOUBLE) AS sxy
  FROM {src} WHERE NOT {obs}
)"""

    steps = []
    prev = "cur0"
    for r in range(1, MICE_ROUNDS + 1):
        steps.append(f"""
f{r}a AS (
  SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b1,
         (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS b0
  FROM {fit(prev, "m1", "y2", "y1")}
),
s{r}a AS (
  SELECT rid, rf, y1t, y2t, m1, m2,
         CASE WHEN m1 THEN CAST(FLOOR(b0 + b1 * y2) AS BIGINT)
              ELSE y1 END AS y1,
         y2
  FROM {prev} CROSS JOIN f{r}a
),
f{r}b AS (
  SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b1,
         (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS b0
  FROM {fit(f"s{r}a", "m2", "y1", "y2")}
),
cur{r} AS (
  SELECT rid, rf, y1t, y2t, m1, m2, y1,
         CASE WHEN m2 THEN CAST(FLOOR(b0 + b1 * y1) AS BIGINT)
              ELSE y2 END AS y2
  FROM s{r}a CROSS JOIN f{r}b
)""")
        prev = f"cur{r}"
    return f"""
WITH base AS (
  SELECT l_orderkey * 10 + l_linenumber AS rid,
         l_returnflag AS rf,
         CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS y1t,
         CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y2t,
         (l_orderkey * 10 + l_linenumber) % 11 = 3 AS m1,
         (l_orderkey * 10 + l_linenumber) % 13 = 5 AS m2
  FROM lineitem
),
mu AS (
  SELECT CAST(SUM(CASE WHEN NOT m1 THEN CAST(y1t AS DECIMAL(19,0)) END) AS BIGINT)
           // SUM(CASE WHEN NOT m1 THEN 1 ELSE 0 END) AS mu1,
         CAST(SUM(CASE WHEN NOT m2 THEN CAST(y2t AS DECIMAL(19,0)) END) AS BIGINT)
           // SUM(CASE WHEN NOT m2 THEN 1 ELSE 0 END) AS mu2
  FROM base
),
cur0 AS (
  SELECT rid, rf, y1t, y2t, m1, m2,
         CASE WHEN m1 THEN mu1 ELSE y1t END AS y1,
         CASE WHEN m2 THEN mu2 ELSE y2t END AS y2
  FROM base CROSS JOIN mu
),{",".join(steps)}
SELECT rf AS l_returnflag,
       CAST(SUM(CASE WHEN m1 THEN 1 ELSE 0 END) AS BIGINT) AS n_imp_qty,
       CAST(SUM(CASE WHEN m2 THEN 1 ELSE 0 END) AS BIGINT) AS n_imp_price,
       CAST(SUM(CASE WHEN m1 THEN y1 END) AS BIGINT) AS sum_imp_qty_cents,
       CAST(SUM(CASE WHEN m2 THEN y2 END) AS BIGINT) AS sum_imp_price_cents,
       SQRT(CAST(SUM(CASE WHEN m1 THEN CAST(y1 - y1t AS {d19})
                                     * CAST(y1 - y1t AS {d19}) END) AS DOUBLE)
            / CAST(SUM(CASE WHEN m1 THEN 1 ELSE 0 END) AS DOUBLE)) AS rmse_qty,
       SQRT(CAST(SUM(CASE WHEN m2 THEN CAST(y2 - y2t AS {d19})
                                     * CAST(y2 - y2t AS {d19}) END) AS DOUBLE)
            / CAST(SUM(CASE WHEN m2 THEN 1 ELSE 0 END) AS DOUBLE)) AS rmse_price
FROM {prev}
GROUP BY rf
ORDER BY l_returnflag
""".replace("{d19}", d19)


@register(
    "impute_mice_chained",
    oracle=_mice_oracle(),
    tags=("imputation", "mice", "chained-equations"),
)
def impute_mice_chained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MICE — Multivariate Imputation by Chained Equations (van Buuren,
    the classical multivariate imputer and boltzmannclean's most-cited
    baseline): quantity and price are masked on disjoint deterministic
    row sets, initialized to the observed-column integer mean, then
    imputed round-robin — fit OLS(y1 ~ y2) on y1-observed rows, impute
    y1; fit OLS(y2 ~ y1) with the UPDATED y1, impute y2 — for
    MICE_ROUNDS rounds, with held-out RMSE against the pre-mask truth
    per return flag.

    The cross-engine trick that keeps an ITERATIVE FLOAT algorithm
    hash-exact: every imputed value is immediately quantized back to
    integer cents (FLOOR of the per-row IEEE prediction), so the NEXT
    round's regression consumes exact integers and its sufficient
    statistics are order-free DECIMAL(38,0) sums — float order-noise
    can never accumulate across rounds. Each fit is one partial+final
    aggregation broadcast back as a 1-row β; 2 rounds = 4 aggregations
    + 1 evaluation pass, no collect, no window — the same plan imputes
    a 100 TB fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    rid = F.col("l_orderkey") * 10 + F.col("l_linenumber")
    base = li.select(
        rid.alias("rid"),
        F.col("l_returnflag").alias("rf"),
        (F.col("l_quantity").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("y1t"),
        (F.col("l_extendedprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("y2t"),
        (rid % 11 == 3).alias("m1"),
        (rid % 13 == 5).alias("m2"),
    )
    d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    mu = base.agg(
        F.expr(
            "CAST(SUM(CASE WHEN NOT m1 THEN CAST(y1t AS DECIMAL(19,0)) END)"
            " AS BIGINT) div SUM(CASE WHEN NOT m1 THEN 1 ELSE 0 END)"
        ).alias("mu1"),
        F.expr(
            "CAST(SUM(CASE WHEN NOT m2 THEN CAST(y2t AS DECIMAL(19,0)) END)"
            " AS BIGINT) div SUM(CASE WHEN NOT m2 THEN 1 ELSE 0 END)"
        ).alias("mu2"),
    )
    cur = base.crossJoin(F.broadcast(mu)).select(
        "rid",
        "rf",
        "y1t",
        "y2t",
        "m1",
        "m2",
        F.when(F.col("m1"), F.col("mu1")).otherwise(F.col("y1t")).alias("y1"),
        F.when(F.col("m2"), F.col("mu2")).otherwise(F.col("y2t")).alias("y2"),
    )

    def ols(src: DataFrame, obs_col: str, x: str, y: str) -> DataFrame:
        s = src.where(~F.col(obs_col)).agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(d19(x)).cast("double").alias("sx"),
            F.sum(d19(y)).cast("double").alias("sy"),
            F.sum(d19(x) * d19(x)).cast("double").alias("sxx"),
            F.sum(d19(x) * d19(y)).cast("double").alias("sxy"),
        )
        b1 = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
            F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
        )
        return s.select(
            b1.alias("b1"),
            ((F.col("sy") - b1 * F.col("sx")) / F.col("n")).alias("b0"),
        )

    keep = ["rid", "rf", "y1t", "y2t", "m1", "m2"]
    for _ in range(MICE_ROUNDS):
        fa = ols(cur, "m1", "y2", "y1")
        cur = cur.crossJoin(F.broadcast(fa)).select(
            *keep,
            F.when(
                F.col("m1"),
                F.floor(F.col("b0") + F.col("b1") * F.col("y2")),
            )
            .otherwise(F.col("y1"))
            .alias("y1"),
            "y2",
        )
        fb = ols(cur, "m2", "y1", "y2")
        cur = cur.crossJoin(F.broadcast(fb)).select(
            *keep,
            "y1",
            F.when(
                F.col("m2"),
                F.floor(F.col("b0") + F.col("b1") * F.col("y1")),
            )
            .otherwise(F.col("y2"))
            .alias("y2"),
        )

    def rmse(mcol: str, y: str, yt: str):
        se = F.sum(
            F.when(F.col(mcol), (d19(y) - d19(yt)) * (d19(y) - d19(yt)))
        ).cast("double")
        n = F.sum(F.when(F.col(mcol), 1).otherwise(0)).cast("double")
        return F.sqrt(se / n)

    return (
        cur.groupBy(F.col("rf").alias("l_returnflag"))
        .agg(
            F.sum(F.when(F.col("m1"), 1).otherwise(0))
            .cast("long")
            .alias("n_imp_qty"),
            F.sum(F.when(F.col("m2"), 1).otherwise(0))
            .cast("long")
            .alias("n_imp_price"),
            F.sum(F.when(F.col("m1"), F.col("y1")))
            .cast("long")
            .alias("sum_imp_qty_cents"),
            F.sum(F.when(F.col("m2"), F.col("y2")))
            .cast("long")
            .alias("sum_imp_price_cents"),
            rmse("m1", "y1", "y1t").alias("rmse_qty"),
            rmse("m2", "y2", "y2t").alias("rmse_price"),
        )
        .orderBy("l_returnflag")
    )

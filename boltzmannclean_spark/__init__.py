"""boltzmannclean_spark — a PySpark-native analytics engine.

A from-scratch re-architecture of the capabilities of
``facultyai/boltzmannclean`` (RBM-based missing-value imputation over
DataFrames; see SURVEY.md §2.A) extended with a full relational /
streaming / LLM-data-pipeline operator surface (SURVEY.md §2.B),
expressed Spark-first: declarative DataFrame/SQL plans optimized by
Catalyst, Pandas UDFs only where built-ins cannot express the
semantics (the RBM itself).

Layout:
    session.py    — SparkSession builder (AQE on, UTC, tuned shuffle)
    sources/      — table catalog over the driver's parquet testdata
    plans/        — query registry: name -> (spark_fn, oracle_sql)
    operators/    — relational + LLM-pipeline operators, one module per family
    functions/    — reusable column expressions (vector math, text, hashing)
    ann.py        — parameterized ANN index lifecycle (build/persist/search)
    pipeline.py   — parameterized LLM-pipeline operators (public API)
    ml/           — RBMImputer estimator/transformer (numpy CD-1, mapInPandas)
    streaming/    — Structured Streaming ops over the events table
"""

import importlib

__version__ = "0.1.0"

# Parameterized LLM-data-pipeline operators (pipeline.py): the public
# DataFrame-in/DataFrame-out library surface. The query registry
# instantiates these same functions with fixture constants, so the
# oracle suite continuously verifies the exact code paths users run.
# They are served on first access (PEP 562), so importing the package
# loads no PySpark: the Python worker daemon (worker_daemon.py) runs
# inside this package and must edit sys.path before PySpark is imported.
_PIPELINE = (
    "ann_search",
    "apriori_triples",
    "bm25_topk",
    "build_ann_index",
    "cosine_topk",
    "exact_dedup",
    "grid_knn_join",
    "hampel_filter",
    "holt_smooth",
    "ks_two_sample",
    "language_id",
    "mann_whitney_u",
    "minhash_dedup",
    "permutation_test",
    "perplexity_buckets",
    "psi_drift",
    "quality_filter",
    "semantic_dedup",
    "sessionize",
    "sprt_monitor",
    "substring_dedup",
    "token_stats",
    "welch_ttest",
)
_REEXPORTS = {
    **{name: "boltzmannclean_spark.pipeline" for name in _PIPELINE},
    "sharded_prefix_sum": "boltzmannclean_spark.functions.prefix",
    "topk_per_key": "boltzmannclean_spark.functions.topk",
}


def __getattr__(name: str):
    module = _REEXPORTS.get(name)
    if module is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(importlib.import_module(module), name)
    globals()[name] = value
    return value


def __dir__():
    return sorted(set(globals()) | set(_REEXPORTS))


def clean(
    dataframe,
    numerical_columns=(),
    categorical_columns=(),
    tune_rbm: bool = False,
    **rbm_kwargs,
):
    """Drop-in equivalent of upstream ``boltzmannclean.clean``: impute
    missing values in ``dataframe`` with an RBM trained on the observed
    cells, returning a new DataFrame with the same schema.

    Differences from upstream are exactly the Spark ones: ``dataframe``
    is a pyspark DataFrame (not pandas), the fit samples/distributes
    according to ``RBMImputer`` defaults, and the transform runs as an
    Arrow-batched ``mapInPandas`` with broadcast weights — a linear,
    shuffle-free pass, so the same call serves a 100 TB table.

    >>> import boltzmannclean_spark as bcs
    >>> cleaned = bcs.clean(df, numerical_columns=["a"],
    ...                     categorical_columns=["b"], tune_rbm=True)
    """
    from boltzmannclean_spark.ml.imputer import RBMImputer

    imputer = RBMImputer(
        numerical_columns=list(numerical_columns),
        categorical_columns=list(categorical_columns),
        **rbm_kwargs,
    )
    if tune_rbm:
        imputer = imputer.tune(dataframe)
    return imputer.fit(dataframe).transform(dataframe)

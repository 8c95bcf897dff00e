"""The benchmark's workloads: which operations run, and how each output
is checked.

An operation is one call a user of the engine makes — a registry
``spark_fn``, a ``pipeline.py`` function or an ``ann.py`` function —
returning a DataFrame that the runner then writes in full with the
``noop`` sink (``build_ann_index`` returns a path instead and writes its
own index). Operations are grouped in units; the run seed shuffles the
unit order in every pass, and an ANN unit keeps its build before its
searches.

Checks run outside the timed region. Each compares the output with the
fingerprint stored in ``expected.json`` (see ``make_expected.py``):
row count, column names and Spark types, and an order-insensitive hash
of the values canonicalized as in ``tests/oracle_utils.py``. Operations
whose queries are drawn by the seed (``ann_search``) are checked query
by query against per-query hashes stored for every possible probe. The
RBM imputations are stochastic and are checked on row count, schema and
the absence of NULLs in the imputed columns.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_PATH = os.path.join(HERE, "expected.json")

EMB_DIMS = 64
ANN_K = 10
ANN_PROBES = 4
#: Raw (non-residual) IVF+PQ: the engine trains the IVF and PQ parts on
#: its two-thread pool, whose jobs carry no job group.
ANN_BUILD = dict(dims=EMB_DIMS, pq_m=8, pq_k=16, pq_iters=2, n_cells=8,
                 kmeans_iters=2, residual=False)
ANN_NPROBE = 2
RBM_IMPUTED = ("c_acctbal", "c_mktsegment")


def value_hash(pdf) -> str:
    """Order-insensitive hash of a pandas frame: columns sorted by name,
    every cell canonicalized by the oracle comparator's ``_canon_cell``
    (floats by their exact hex), rows sorted. Equal to hashing
    ``tests.oracle_utils.canonical_rows`` (``make_expected.py`` asserts
    this), without its per-row ``iterrows`` cost."""
    from tests.oracle_utils import _canon_cell

    cols = sorted(pdf.columns)
    # One array in the frame's common dtype, as ``iterrows`` builds its
    # rows: a frame of ints and doubles canonicalizes every cell as a double.
    arr = pdf[cols].to_numpy()
    columns = [[_canon_cell(v) for v in arr[:, j]] for j in range(len(cols))]
    rows = sorted(zip(*columns)) if cols else []
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:32]


def schema_of(df) -> dict[str, str]:
    return {f.name: f.dataType.simpleString() for f in df.schema.fields}


def fingerprint(df) -> dict:
    pdf = df.toPandas()
    return {"rows": len(pdf), "schema": schema_of(df), "hash": value_hash(pdf)}


def per_query_hashes(pdf, key: str = "query_id") -> dict[str, str]:
    return {str(q): value_hash(g) for q, g in pdf.groupby(key)}


@dataclass
class Ctx:
    """What the operations of one run share."""

    spark: object
    registry: dict
    data_dir: str
    scratch: str
    rng: object
    expected: dict
    jvm_pid: int
    #: The JVM's ``CompilationMXBean``: time its JIT compilers have spent.
    jit: object
    state: dict = field(default_factory=dict)


@dataclass
class Op:
    name: str
    call: Callable[[Ctx], object]
    check: Callable[[Ctx, object], str | None]


def _compare(ctx: Ctx, name: str, got: dict) -> str | None:
    exp = ctx.expected[name]
    for key in ("rows", "schema", "hash"):
        if got[key] != exp[key]:
            return f"{key} mismatch: got {got[key]!r}, expected {exp[key]!r}"
    return None


def registry_op(name: str) -> Op:
    def call(ctx: Ctx):
        return ctx.registry[name].spark_fn(ctx.spark, ctx.data_dir)

    def check(ctx: Ctx, df) -> str | None:
        return _compare(ctx, name, fingerprint(df))

    return Op(name, call, check)


def rbm_op(name: str) -> Op:
    def call(ctx: Ctx):
        return ctx.registry[name].spark_fn(ctx.spark, ctx.data_dir)

    def check(ctx: Ctx, df) -> str | None:
        from pyspark.sql import functions as F

        exp = ctx.expected[name]
        got = schema_of(df)
        if got != exp["schema"]:
            return f"schema mismatch: got {got!r}, expected {exp['schema']!r}"
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(F.col(c).isNull().cast("long")).alias(c) for c in RBM_IMPUTED],
        ).first()
        if row["n"] != exp["rows"]:
            return f"rows mismatch: got {row['n']}, expected {exp['rows']}"
        nulls = {c: row[c] for c in RBM_IMPUTED if row[c]}
        return f"NULLs left after imputation: {nulls}" if nulls else None

    return Op(name, call, check)


def _embeddings(ctx: Ctx):
    from boltzmannclean_spark.sources.catalog import load_table

    return load_table(ctx.spark, ctx.data_dir, "embeddings")


def _probe_frame(ctx: Ctx):
    """``ANN_PROBES`` corpus vectors drawn by the run seed, as the query
    frame (vec_ids run 0..n-1)."""
    from pyspark.sql import functions as F

    n_corpus = ctx.expected["ann_build_index"]["rows"]
    ids = sorted(int(i) for i in ctx.rng.choice(n_corpus, ANN_PROBES, replace=False))
    ctx.state["ann_ids"] = ids
    return _embeddings(ctx).where(F.col("vec_id").isin(ids))


def _check_per_query(ctx: Ctx, name: str, df, ids: list[int], k: int) -> str | None:
    exp = ctx.expected[name]
    got = schema_of(df)
    if got != exp["schema"]:
        return f"schema mismatch: got {got!r}, expected {exp['schema']!r}"
    pdf = df.toPandas()
    if len(pdf) != k * len(ids):
        return f"rows mismatch: got {len(pdf)}, expected {k * len(ids)}"
    hashes = per_query_hashes(pdf)
    bad = [q for q in ids if hashes.get(str(q)) != exp["per_query"][str(q)]]
    return f"wrong neighbours for queries {bad}" if bad else None


def ann_build_op() -> Op:
    def call(ctx: Ctx):
        from boltzmannclean_spark import ann

        ctx.state["ann_seq"] = ctx.state.get("ann_seq", 0) + 1
        out = os.path.join(ctx.scratch, f"ann-index-{ctx.state['ann_seq']}")
        ctx.state["ann_dir"] = out
        ann.build_ann_index(_embeddings(ctx), out, **ANN_BUILD)
        return None

    def check(ctx: Ctx, _df) -> str | None:
        out = ctx.state["ann_dir"]
        with open(os.path.join(out, "meta.json")) as fh:
            n = json.load(fh)["n"]
        want = ctx.expected["ann_build_index"]["rows"]
        if n != want:
            return f"index holds {n} vectors, expected {want}"
        missing = [d for d in ("codebook", "codes", "cells", "ivf_centroids")
                   if not os.path.isdir(os.path.join(out, d))]
        return f"index parts missing: {missing}" if missing else None

    return Op("ann_build_index", call, check)


def ann_search_op() -> Op:
    def call(ctx: Ctx):
        from boltzmannclean_spark import ann

        queries = _probe_frame(ctx)
        return ann.ann_search(ctx.spark, ctx.state["ann_dir"], queries,
                              k=ANN_K, nprobe=ANN_NPROBE)

    def check(ctx: Ctx, df) -> str | None:
        return _check_per_query(ctx, "ann_search", df, ctx.state["ann_ids"], ANN_K)

    return Op("ann_search", call, check)


def drop_ann_index(ctx: Ctx) -> None:
    """Remove the pass's index, outside the timed region."""
    out = ctx.state.pop("ann_dir", None)
    if out:
        shutil.rmtree(out, ignore_errors=True)


@dataclass
class Workload:
    name: str
    why: str
    units: list[list[Op]]
    #: The workload's main input, scanned once at small scale during set-up.
    warm_table: str

    @property
    def ops(self) -> list[Op]:
        return [op for unit in self.units for op in unit]


def workloads() -> dict[str, Workload]:
    return {
        "iterative": Workload(
            "iterative",
            "driver-looped graph iterations and the RBM imputer: job count and per-iteration shuffle",
            [
                [registry_op("graph_pagerank_bipartite")],
                [rbm_op("impute_rbm_distributed_fit")],
            ],
            "lineitem",
        ),
        "curation": Workload(
            "curation",
            "Arrow/NumPy kNN kernels, driver collects, Lloyd training and ANN index writes and reads",
            [
                [registry_op("impute_knn_embedding")],
                [ann_build_op(), ann_search_op()],
            ],
            "embeddings",
        ),
    }


def load_expected() -> dict:
    with open(EXPECTED_PATH) as fh:
        return json.load(fh)

"""IEEE cosine over embedding columns, in its Spark form and its DuckDB
form, and the Arrow reader that turns a batch of vectors into a matrix.

Spark side: vector math over ArrayType(Float/Double) columns, built on
Spark's higher-order array functions — JVM-side, codegen'd, no Python
in the row path.

Determinism: all folds are sequential left folds with a 0.0 init, which
DuckDB's ``list_reduce`` reproduces bit-for-bit (adding 0.0 first is a
no-op in IEEE), so cosine/dot/norm results hash-match the oracle.

The similarity family's candidate → exact cosine → per-query top-k
shape is built here once for both engines:

- ``normed`` / ``normed_sql``: the ``(vec_id[, label], e, nrm)``
  preamble — double-cast vector and its norm.
- ``cosine`` / ``cosine_sql``: dot over the norm product. A zero
  vector has no direction, and its cosine is NULL in both engines:
  DuckDB evaluates 0.0/0.0 to NULL, and Spark's ``try_divide`` does the
  same under ANSI mode instead of raising DIVIDE_BY_ZERO. NULL ranks
  last under ``cosine DESC`` in both.
- ``scored_pairs`` / ``rank_by_cosine`` and ``cosine_rank_sql`` /
  ``topk_sql``: the per-query ranking on ``(cosine DESC, neighbor_id)``
  and its ``ROW_NUMBER … WHERE rk <= k ORDER BY query_id, rk`` twin.

``list_matrix`` is the one Arrow ``list<…>`` → (n, dims) NumPy reader
of the Arrow passes (Lloyd rounds, kNN distances, cosine verify): it
checks every row's length against ``dims`` from the offsets.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pyarrow as pa

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from boltzmannclean_spark.functions.topk import topk_per_key


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def as_double(vec: Column | str) -> Column:
    return F.transform(_col(vec), lambda x: x.cast("double"))


def fold_sum(vec: Column) -> Column:
    return F.aggregate(vec, F.lit(0.0), lambda s, x: s + x)


def dot(a: Column, b: Column) -> Column:
    return fold_sum(F.zip_with(a, b, lambda x, y: x * y))


def norm(a: Column) -> Column:
    return F.sqrt(fold_sum(F.transform(a, lambda x: x * x)))


# --- fixed-dimension unrolled forms (r15) -----------------------------------
#
# The higher-order folds above are evaluated as INTERPRETED lambda
# expressions (one closure call per element per row) — measured as the
# dominant cost of every pair-fan-out cosine path (SemDeDup's in-cell
# self-join spent ~25 s of a 31 s query in fold evaluation at sf0.1).
# When the dimensionality is statically known, the same sum unrolls into
# plain whole-stage-codegen arithmetic. Bit-exactness: the unrolled sum
# is seeded with the SAME explicit 0.0 left-fold init ((0.0 + t1) + t2
# + ...), i.e. the identical IEEE operation sequence as fold_sum —
# Catalyst constant-folds only fully-constant subtrees, so the seed is
# preserved and results are bit-identical, -0.0 edge included.


def dot_unrolled(a: Column, b: Column, dims: int) -> Column:
    out = F.lit(0.0)
    for d in range(1, dims + 1):
        out = out + F.element_at(a, d) * F.element_at(b, d)
    return out


# --- the similarity family's Spark builders ----------------------------------


def normed(
    df: DataFrame,
    keys: Sequence[Column | str],
    vec_col: Column | str = "embedding",
    *,
    extra: Sequence[Column | str] = (),
    e: str = "e",
    nrm: str = "nrm",
) -> DataFrame:
    """``df`` → ``(keys…, e, extra…, nrm)``: the vector cast to doubles
    as ``e`` and its norm as ``nrm``."""
    return df.select(*keys, as_double(vec_col).alias(e), *extra).withColumn(
        nrm, norm(F.col(e))
    )


def cosine(
    a: Column | str,
    b: Column | str,
    na: Column | str,
    nb: Column | str,
    dims: int | None = None,
) -> Column:
    """Cosine of double vectors ``a`` and ``b`` with norms ``na`` and
    ``nb``: the 0.0-seeded left-fold dot, unrolled when ``dims`` is
    known (r15: pays off only on large pair fan-outs, where the HOF
    fold's interpreted lambdas dominate). NULL when a norm is 0."""
    a, b = _col(a), _col(b)
    dotp = dot_unrolled(a, b, dims) if dims is not None else dot(a, b)
    return F.try_divide(dotp, _col(na) * _col(nb))


def scored_pairs(
    corpus: DataFrame,
    queries: DataFrame,
    on: Column | None = None,
    *keep: Column | str,
    dims: int | None = None,
) -> DataFrame:
    """Corpus ``(vec_id, …, e, nrm)`` against the broadcast query side
    ``(query_id, …, qe, qnrm)``, joined on ``on`` and never to itself →
    ``(query_id, neighbor_id, keep…, cosine)``."""
    cond = F.col("vec_id") != F.col("query_id")
    return corpus.join(
        F.broadcast(queries), cond if on is None else on & cond
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        *keep,
        cosine("qe", "e", "qnrm", "nrm", dims).alias("cosine"),
    )


def rank_by_cosine(scored: DataFrame, k: int, ordered: bool = True) -> DataFrame:
    """Each query's ``k`` best ``scored`` rows by ``(cosine DESC,
    neighbor_id)``, ranked 1..k in ``rk`` (functions/topk.py: the
    partial group limit below the Exchange ships k rows per query per
    map task); sorted by ``(query_id, rk)`` when ``ordered``."""
    top = topk_per_key(
        scored,
        keys=["query_id"],
        order=[F.desc("cosine"), F.col("neighbor_id")],
        k=k,
    )
    return top.orderBy("query_id", "rk") if ordered else top


# --- DuckDB twins ------------------------------------------------------------


def normed_sql(cols: str = "vec_id, label", wrap: bool = False) -> str:
    """CTEs ``v`` (``cols``, ``e``) and ``n`` (``cols``, ``e``, ``nrm``)
    over ``embeddings``, opening the WITH list; ``wrap`` breaks each
    long line before its expression."""
    brk = "\n         " if wrap else " "
    nrm_brk = "\n           " if wrap else " "
    return f"""WITH v AS (
  SELECT {cols},{brk}list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
n AS (
  SELECT {cols}, e,
         sqrt(list_reduce(list_transform(e, x -> x * x), (s, x) -> s + x)){nrm_brk}AS nrm
  FROM v
)"""


def cosine_sql(
    a: str, b: str, col: int = 0, lines: int = 1, be: str = "e", bn: str = "nrm"
) -> str:
    """Cosine of ``{a}.e`` and ``{b}.{be}`` with norms ``{a}.nrm`` and
    ``{b}.{bn}``, on one line or broken over ``lines`` (2 or 3) with
    the continuations aligned for an expression starting at column
    ``col``."""
    head = f"list_reduce(list_transform(range(1, len({a}.e) + 1),"
    mid = f"i -> {a}.e[i] * {b}.{be}[i]),"
    tail = f"(s, x) -> s + x) / ({a}.nrm * {b}.{bn})"
    fold = "\n" + " " * (col + len("list_reduce(")) + tail
    if lines == 1:
        return f"{head} {mid} {tail}"
    if lines == 2:
        return f"{head} {mid}{fold}"
    return head + "\n" + " " * (col + len("list_reduce(list_transform(")) + mid + fold


def cosine_rank_sql(col: int) -> str:
    """``rk``: the per-query ROW_NUMBER on ``(cosine DESC,
    neighbor_id)``, written at column ``col``."""
    return (
        "ROW_NUMBER() OVER (PARTITION BY query_id\n"
        + " " * (col + len("ROW_NUMBER() OVER ("))
        + "ORDER BY cosine DESC, neighbor_id) AS rk"
    )


def topk_sql(cols: str, k: int, rank: str | None = None) -> str:
    """The closing SELECT of ``cols`` from CTE ``scored``: rows with
    ``rank`` (default ``cosine_rank_sql``) at most ``k``, ordered by
    ``(query_id, rk)``."""
    return f"""SELECT {cols}
FROM (
  SELECT *, {rank or cosine_rank_sql(12)}
  FROM scored
) t
WHERE rk <= {k}
ORDER BY query_id, rk
"""


# --- the Arrow reader ----------------------------------------------------------


def list_matrix(
    col: pa.Array | pa.ChunkedArray, dims: int, dtype=np.int64
) -> np.ndarray:
    """Arrow ``list<…>`` column → ``(n, dims)`` ``dtype`` matrix. Every
    row must hold exactly ``dims`` non-NULL values: the offsets are
    checked row by row (a total of ``n * dims`` values can hide ragged
    rows), and a NULL row or element is rejected (NumPy would read a
    NULL long as -2^63). Offsets-gathered, so a sliced array reads its
    own rows; zero-copy on the values buffer when it already has
    ``dtype``."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if col.null_count:
        raise ValueError(f"expected {dims}-dim vectors, got a NULL row")
    offs = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    if not np.all(np.diff(offs) == dims):
        raise ValueError(
            f"expected fixed {dims}-dim vectors, got row lengths "
            f"{sorted(set(np.diff(offs).tolist()))}"
        )
    values = col.values.slice(offs[0], offs[-1] - offs[0])
    if values.null_count:
        raise ValueError(f"expected {dims}-dim vectors, got a NULL element")
    flat = values.to_numpy(zero_copy_only=False).astype(dtype, copy=False)
    return flat.reshape(len(col), dims)

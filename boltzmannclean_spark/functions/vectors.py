"""Vector math over ArrayType(Float/Double) columns, built on Spark's
higher-order array functions — JVM-side, codegen'd, no Python in the row
path.

Determinism: all folds are sequential left folds with a 0.0 init, which
DuckDB's ``list_reduce`` reproduces bit-for-bit (adding 0.0 first is a
no-op in IEEE), so cosine/dot/norm results hash-match the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column | str) -> Column:
    v = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(v, lambda x: x.cast("double"))


def fold_sum(vec: Column) -> Column:
    return F.aggregate(vec, F.lit(0.0), lambda s, x: s + x)


def dot(a: Column, b: Column) -> Column:
    return fold_sum(F.zip_with(a, b, lambda x, y: x * y))


def norm(a: Column) -> Column:
    return F.sqrt(fold_sum(F.transform(a, lambda x: x * x)))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


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

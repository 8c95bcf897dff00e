"""Per-key top-k as one ``row_number() OVER (PARTITION BY key)`` window.

A low-cardinality key (5 query vectors) would land the whole scored
corpus for a key on one task if every row crossed the window's
Exchange. It does not: for ``row_number() <= k`` with k at most
``spark.sql.optimizer.windowGroupLimitThreshold`` (1000 by default),
Spark plans a partial ``WindowGroupLimit`` below the Exchange, so each
map task ships at most k rows per key and the final window ranks
``k * map tasks`` survivors per key.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def topk_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[Column],
    k: int,
    rank_col: str = "rk",
) -> DataFrame:
    """Top-k rows per ``keys`` under ``order`` (must be a total order —
    include a unique tie-break column), ranked 1..k in ``rank_col``.
    The map-side limit that keeps the Exchange small holds for k up to
    ``spark.sql.optimizer.windowGroupLimitThreshold`` (1000); above it
    the result is the same but every row crosses the Exchange."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn(rank_col, F.row_number().over(w)).where(
        F.col(rank_col) <= k
    )

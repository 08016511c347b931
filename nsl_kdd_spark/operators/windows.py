"""Window / sort / top-k operators (SURVEY.md §2.5).

The reference only sorts globally and takes top-k on the driver
(README.md:297,1169); the engine adds the distributed idioms its
extension operators (dedup keep-first, sessionization) are built on.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order: Sequence[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """row_number() per group, keep <=k. One shuffle on the partition
    keys; skewed groups are AQE's problem (skew-join/partition split)."""
    w = Window.partitionBy(*partition_by).orderBy(*order)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )

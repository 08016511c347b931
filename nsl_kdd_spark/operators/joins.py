"""Join operators (SURVEY.md §2.3).

The reference's only join shape is the inner equi-join on a synthetic
``id`` used ~12x for result assembly (README.md:1712). The engine needs
none of it: its paper flows add each model's probability as a column
of the frame they score (``pipeline.nsl_ensemble``). What stays is the
standard relational family Spark gives for free (equi/semi/anti/outer),
with explicit broadcast control for small dimensions, and the n-way
union.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def equi_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    how: str = "inner",
    broadcast_right: bool = False,
) -> DataFrame:
    """Equi-join with an explicit broadcast hint for dimension tables.

    AQE usually picks broadcast-hash for small sides on its own, but a
    hint removes the dependence on statistics freshness — for the star
    schema (region/nation/customer dims vs lineitem fact) broadcast is
    always right."""
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, on=on, how=how)


def semi_join(left: DataFrame, right: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """EXISTS: rows of ``left`` with a match in ``right``; never
    duplicates left rows (unlike inner join + distinct)."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """NOT EXISTS: rows of ``left`` without a match."""
    return left.join(right, on=on, how="left_anti")


def union_by_name(parts: Sequence[DataFrame]) -> DataFrame:
    """Iterative-union replacement (U1, README.md:1668-1685): the
    reference seeds from an empty DF and unions in a Python loop; a
    reduce over ``unionByName`` builds one n-way Union node instead —
    no empty-scan stage, schema aligned by name not position."""
    if not parts:
        raise ValueError("union_by_name needs at least one DataFrame")
    return reduce(lambda a, b: a.unionByName(b), parts)

"""Attribute-Ratio feature scoring (SURVEY.md §2.4 A8-A10, §2.10 M5).

The reference's custom feature-selection statistic
(README.md:1143-1172):

- numeric column ``c``:  AR(c) = max over classes of
  ``avg(c | class) / avg(c)``  (class mean over global mean);
- binary column ``c``:   AR(c) = max over classes of
  ``sum(c) / (count(c) - sum(c))``  (within-class odds), with the
  division-by-zero sentinel 1000.0 (README.md:1164);
- missing/NaN ratios -> 0.0 (README.md:1156).

Two forms, one arithmetic. :func:`attribute_ratio` is the relational
operator: a grouped pass, a global pass and a final max, returning a
(feature, ratio) table (five Spark jobs at any column count; catalog
q23). The pipeline instead scores from the per-class and total rows of
its one feature-fitting pass (``features.fit_feature_stats``) with
:func:`attribute_ratio_rows`, which repeats the operator's double
arithmetic on the driver and returns the rows the operator collects.
Either way downstream selection is a filter.
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from nsl_kdd_spark.functions.scalar import exact_avg, exact_sum, safe_ratio
from nsl_kdd_spark.ml.features import FeatureStats


def attribute_ratio(
    df: DataFrame,
    numeric_cols: Sequence[str],
    binary_cols: Sequence[str],
    label_col: str,
    sentinel: float = 1000.0,
    exact_scale: int | None = 2,
) -> DataFrame:
    """(feature, ratio) table, one row per scored column.

    ``exact_scale`` casts inputs to decimals of that scale before
    summing (order-independent aggregation — reproducible across
    partitionings and vs external oracles); pass None for plain double
    sums when inputs aren't fixed-point.
    """
    def _avg(c: str):
        return exact_avg(c, exact_scale) if exact_scale is not None else F.avg(c)

    def _sum(c: str):
        return exact_sum(c, exact_scale) if exact_scale is not None else F.sum(c)

    aggs = []
    for c in numeric_cols:
        aggs.append(_avg(c).alias(f"__avg_{c}"))
    for c in binary_cols:
        aggs.append(
            safe_ratio(_sum(c), F.count(c) - _sum(c), sentinel=sentinel)
            .alias(f"__odds_{c}")
        )
    per_class = df.groupBy(label_col).agg(*aggs)

    glob = df.agg(*[_avg(c).alias(f"__gavg_{c}") for c in numeric_cols])

    ratios = []
    for c in numeric_cols:
        ratios.append(
            F.max(F.col(f"__avg_{c}") / F.col(f"__gavg_{c}")).alias(c)
        )
    for c in binary_cols:
        ratios.append(F.max(F.col(f"__odds_{c}")).alias(c))

    wide = per_class.crossJoin(F.broadcast(glob)).agg(*ratios) if numeric_cols else per_class.agg(*ratios)
    scored = [
        F.struct(F.lit(c).alias("feature"),
                 F.coalesce(F.col(c).cast("double"), F.lit(0.0)).alias("ratio"))
        for c in [*numeric_cols, *binary_cols]
    ]
    return (
        wide.select(F.explode(F.array(*scored)).alias("s"))
        .select("s.*")
        .orderBy(F.desc("ratio"), "feature")
    )


def _divide(num: float | None, den: float | None) -> float | None:
    """Spark's double division: null when either side is null or the
    divisor is 0."""
    if num is None or den is None or den == 0:
        return None
    return num / den


def _spark_max(values: Iterable[float | None]) -> float | None:
    """Spark's ``max`` over doubles: nulls skipped, NaN above every
    number."""
    present = [v for v in values if v is not None]
    return max(present, key=lambda v: (math.isnan(v), v)) if present else None


def attribute_ratio_rows(stats: FeatureStats) -> list[Row]:
    """The rows ``attribute_ratio(..., exact_scale=None).collect()``
    returns, computed on the driver from ``stats``: numeric class avg
    over total avg, binary odds ``sum / (count - sum)`` with the
    operator's default sentinel 1000.0 for a null or zero denominator,
    the max over classes (a null max -> 0.0), ordered by ratio
    descending, then feature. The averages, sums and counts are the
    operator's own aggregates over the same rows, so the ratios are
    equal to the bit."""
    ratios = {}
    for c in stats.numeric:
        total = stats.total[f"__avg_{c}"]
        ratios[c] = _spark_max(_divide(r[f"__avg_{c}"], total) for r in stats.classes)
    for c in stats.binary:
        odds = []
        for r in stats.classes:
            ones = r[f"__sum_{c}"]
            zeros = None if ones is None else r[f"__n_{c}"] - ones
            ratio = _divide(ones, zeros)
            odds.append(1000.0 if ratio is None else ratio)
        ratios[c] = _spark_max(odds)
    rows = [Row(feature=c, ratio=0.0 if v is None else v) for c, v in ratios.items()]
    # descending ratio with NaN first, as Spark sorts; then by name
    return sorted(rows, key=lambda r: (not math.isnan(r.ratio),
                                       0.0 if math.isnan(r.ratio) else -r.ratio,
                                       r.feature))


def select_features(ar_rows: list, min_ar: float) -> list[str]:
    """Driver-side threshold selection (A10, README.md:1171): input is
    the tiny collected (feature, ratio) list."""
    return [r["feature"] for r in ar_rows if r["ratio"] is not None and r["ratio"] >= min_ar]


def mutual_information(
    df,
    x_col: str,
    y_col: str,
    scale: int = 1_000_000,
):
    """Mutual information I(X;Y) between two categorical columns, in
    integer micro-nats — the model-free dependence screen that
    complements Attribute Ratio above (AR ranks features by
    class-conditional means; MI catches non-linear association).

    I(X;Y) = sum over cells (n_xy/N) * ln(n_xy * N / (n_x * n_y)).
    Each cell's contribution is quantized to micro-nats BEFORE the
    sum (the fixed-point tier), so the aggregate is an integer sum —
    bit-identical across engines and partitionings. Output one row:
    (n, n_cells, mi_unats).

    Scale shape: one grouped count over (x, y) — map-side combined —
    then two tiny marginal aggregations derived FROM the cell table
    (never rescanning the fact table), broadcast back onto it.
    Cell-table cardinality bounds everything; bucket
    high-cardinality columns first.
    """
    from pyspark.sql import functions as F

    cells = df.groupBy(
        F.col(x_col).alias("__x"), F.col(y_col).alias("__y")
    ).agg(F.count(F.lit(1)).alias("n_xy"))
    mx = cells.groupBy("__x").agg(F.sum("n_xy").alias("n_x"))
    my = cells.groupBy("__y").agg(F.sum("n_xy").alias("n_y"))
    tot = cells.agg(F.sum("n_xy").alias("n"))
    term_u = F.round(
        (F.col("n_xy").cast("double") / F.col("n").cast("double"))
        * F.log(
            F.col("n_xy").cast("double") * F.col("n").cast("double")
            / (F.col("n_x").cast("double") * F.col("n_y").cast("double"))
        )
        * F.lit(float(scale))
    ).cast("long")
    return (
        cells.join(F.broadcast(mx), "__x")
        .join(F.broadcast(my), "__y")
        .crossJoin(F.broadcast(tot))
        .select("n", term_u.alias("__tu"))
        .groupBy("n")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("__tu").alias("mi_unats"),
        )
        .select("n", "n_cells", "mi_unats")
    )

"""Feature-engineering operators (SURVEY.md §2.10 M4-M9).

Wraps the pyspark.ml estimators the pipeline uses (VectorAssembler,
PCA) behind small functions, plus the one aggregate pass that measures
everything the pipeline fits on train (attribute-ratio inputs,
standardiser mean/std, OHE vocabularies) and the expression-based
standardizer that replaces the reference's Python-UDF path. The
reference's VectorIndexer/VectorSlicer steps (M8/M9) have no
counterpart: feature selection happens on columns before assembly, and
the tree models treat the 0/1 binary dimensions as continuous.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.ml.feature import PCA, VectorAssembler
from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from nsl_kdd_spark.functions.scalar import zscore


@dataclass(frozen=True)
class FeatureStats:
    """One rollup over the label column, collected: per label value
    (null included) and over all rows, the ``avg`` and sample
    ``stddev`` of every numeric column, the ``sum`` and ``count`` of
    every binary column, and the value set of every nominal column.
    The reference runs each of these as its own pass (README.md:977-995,
    1058-1061, 1143-1172, 1322-1337)."""

    numeric: tuple[str, ...]
    binary: tuple[str, ...]
    classes: tuple[Row, ...]
    total: Row

    def vocabulary(self, column: str) -> list[str]:
        """The sorted non-null values of a nominal column: its OHE
        categories."""
        return sorted(self.total[f"__set_{column}"])


def fit_feature_stats(
    df: DataFrame,
    label_col: str,
    numeric: Sequence[str] = (),
    binary: Sequence[str] = (),
    nominal: Sequence[str] = (),
) -> FeatureStats:
    """:class:`FeatureStats` of ``df`` in one aggregation over all
    columns. The total row is the one ``grouping(label_col)`` marks, so
    a null label stays a class of its own."""
    aggs = [F.grouping(label_col).alias("__total")]
    for c in numeric:
        aggs += [F.avg(c).alias(f"__avg_{c}"), F.stddev(c).alias(f"__std_{c}")]
    for c in binary:
        aggs += [F.sum(c).alias(f"__sum_{c}"), F.count(c).alias(f"__n_{c}")]
    aggs += [F.collect_set(c).alias(f"__set_{c}") for c in nominal]
    rows = df.rollup(label_col).agg(*aggs).collect()
    total = [r for r in rows if r["__total"]]
    if not total:
        raise ValueError("no rows to fit features on")
    return FeatureStats(
        numeric=tuple(numeric), binary=tuple(binary),
        classes=tuple(r for r in rows if not r["__total"]), total=total[0],
    )


@dataclass(frozen=True)
class StandardizerModel:
    """Fitted z-score parameters (tiny driver-side dict, like the
    reference's collected mu/sigma — README.md:1322-1337 — but kept as
    an explicit, reusable model object)."""

    means: dict[str, float]
    stddevs: dict[str, float]

    def expressions(self) -> dict[str, Column]:
        """column -> its z-score expression; build once, apply to every
        frame with ``withColumns``."""
        return {
            c: zscore(c, F.lit(self.means[c]), F.lit(self.stddevs[c])) for c in self.means
        }


def fit_standardizer(stats: FeatureStats, columns: Sequence[str]) -> StandardizerModel:
    """The standardiser of ``columns``: Spark's own double ``avg`` and
    sample ``stddev`` from the total row of the one pass (the reference
    runs the same aggregates, README.md:1323-1324). Fit on train, apply
    to train/cv/test — never refit per split."""
    return StandardizerModel(
        means={c: float(stats.total[f"__avg_{c}"]) for c in columns},
        stddevs={c: float(stats.total[f"__std_{c}"]) for c in columns},
    )


def assemble(
    df: DataFrame, input_cols: Sequence[str], output_col: str = "raw_features"
) -> DataFrame:
    """VectorAssembler over ``input_cols`` (M7, README.md:1354)."""
    return VectorAssembler(inputCols=list(input_cols), outputCol=output_col).transform(df)


def pca_project(
    df: DataFrame, k: int = 2, input_col: str = "features",
    output_col: str = "pca_features",
):
    """PCA(k) fit+transform; returns (model, transformed) — M10."""
    model = PCA(k=k, inputCol=input_col, outputCol=output_col).fit(df)
    return model, model.transform(df)

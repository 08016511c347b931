"""Feature-engineering operators (SURVEY.md §2.10 M4-M9).

Wraps the pyspark.ml estimators the pipeline uses (VectorAssembler,
PCA) behind small functions, plus the expression-based standardizer
and OHE that replace the reference's Python-UDF paths. The reference's
VectorIndexer/VectorSlicer steps (M8/M9) have no counterpart: feature
selection happens on columns before assembly, and the tree models
treat the 0/1 binary dimensions as continuous.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.ml.feature import PCA, VectorAssembler
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nsl_kdd_spark.functions.scalar import zscore
from nsl_kdd_spark.operators.relational import one_hot


@dataclass(frozen=True)
class StandardizerModel:
    """Fitted z-score parameters (tiny driver-side dict, like the
    reference's collected mu/sigma — README.md:1322-1337 — but kept as
    an explicit, reusable model object)."""

    means: dict[str, float]
    stddevs: dict[str, float]

    def transform(self, df: DataFrame, columns: Sequence[str] | None = None) -> DataFrame:
        cols = list(columns) if columns is not None else list(self.means)
        return df.withColumns({
            c: zscore(c, F.lit(self.means[c]), F.lit(self.stddevs[c])) for c in cols
        })


def fit_standardizer(df: DataFrame, columns: Sequence[str]) -> StandardizerModel:
    """One aggregation job for all columns (the reference runs the
    same shape; README.md:1323-1324): ``avg`` and sample ``stddev`` in
    doubles. Fit on train, apply to train/cv/test — never refit per
    split."""
    aggs = []
    for c in columns:
        aggs += [F.avg(c).alias(f"__m_{c}"), F.stddev(c).alias(f"__s_{c}")]
    row = df.agg(*aggs).first()
    return StandardizerModel(
        means={c: float(row[f"__m_{c}"]) for c in columns},
        stddevs={c: float(row[f"__s_{c}"]) for c in columns},
    )


def fit_categories(df: DataFrame, column: str) -> list[str]:
    """Category vocabulary for OHE, sorted for determinism. The
    reference collects per-dataset vocabularies (README.md:1058-1061,
    its §7.4 fidelity quirk); fit on train and reuse for test unless
    reproducing the reference exactly."""
    return sorted(r[0] for r in df.select(column).distinct().collect() if r[0] is not None)


def one_hot_encode(
    df: DataFrame,
    columns: Sequence[str],
    categories: dict[str, Sequence[str]],
    drop_input: bool = True,
) -> DataFrame:
    """Multi-column OHE via conditional projection (replaces D2's
    struct UDF, README.md:1052-1078)."""
    out = df
    for c in columns:
        out = one_hot(out, c, categories[c], drop_input=drop_input)
    return out


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

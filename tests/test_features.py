"""ml.features layer: the one feature-fitting pass, the standardizer,
OHE vocabularies, the assembler feeding PCA (M4-M10)."""

from __future__ import annotations

from pyspark.sql import functions as F

from nsl_kdd_spark.ml.ar import attribute_ratio, attribute_ratio_rows
from nsl_kdd_spark.ml.features import (
    assemble,
    fit_feature_stats,
    fit_standardizer,
    pca_project,
)
from nsl_kdd_spark.operators.relational import one_hot


def test_standardizer_zero_mean_unit_var(spark):
    df = spark.createDataFrame(
        [(1.0, "a"), (2.0, "b"), (3.0, "a"), (4.0, None)], "x double, y string"
    )
    model = fit_standardizer(fit_feature_stats(df, "y", numeric=["x"]), ["x"])
    out = df.withColumns(model.expressions())
    stats = out.agg(F.avg("x").alias("m"), F.stddev("x").alias("s")).first()
    assert abs(stats["m"]) < 1e-12
    assert abs(stats["s"] - 1.0) < 1e-12
    # fitted params are reusable on new data without refit
    other = spark.createDataFrame([(10.0,)], "x double")
    z = other.withColumns(model.expressions()).first()["x"]
    assert z > 3  # 10 is far above the fitted mean of 2.5


def test_vocabulary_sorted_deterministic(spark):
    df = spark.createDataFrame(
        [("b", "x"), ("a", "y"), ("b", None), (None, "x")], "c string, y string"
    )
    assert fit_feature_stats(df, "y", nominal=["c"]).vocabulary("c") == ["a", "b"]


def test_pca_shapes(spark):
    df = spark.createDataFrame(
        [(float(i), float(2 * i), float(i % 3)) for i in range(20)],
        "a double, b double, c double",
    )
    v = assemble(df, ["a", "b", "c"])
    model, out = pca_project(v, k=2, input_col="raw_features")
    assert len(out.first()["pca_features"]) == 2
    assert len(model.explainedVariance) == 2


def test_ohe_per_dataset_vs_train_vocabulary(spark):
    """The reference fits OHE per-dataset (README.md:1106-1110), so
    train/test column sets can diverge — its §7.4 fidelity quirk. The
    engine supports both: per-dataset vocab reproduces the reference;
    train-side vocab (the default) keeps schemas aligned with unseen
    categories encoded all-zero."""
    train = spark.createDataFrame([("a", "n"), ("b", "n")], "c string, y string")
    test = spark.createDataFrame([("b", "n"), ("z", "n")], "c string, y string")

    def vocab(df):
        return fit_feature_stats(df, "y", nominal=["c"]).vocabulary("c")

    # reference-compat: vocab fit on each dataset independently
    train_cols = one_hot(train, "c", vocab(train))
    test_cols = one_hot(test, "c", vocab(test))
    assert set(train_cols.columns) == {"c", "y", "c_a", "c_b"}
    assert set(test_cols.columns) == {"c", "y", "c_b", "c_z"}   # diverged, like the reference

    # engine default: train vocabulary everywhere, unseen -> all zeros
    aligned = one_hot(test, "c", vocab(train))
    rows = {r["c"]: (r["c_a"], r["c_b"]) for r in aligned.collect()}
    assert rows == {"b": (0.0, 1.0), "z": (0.0, 0.0)}


def test_attribute_ratio_rows_equal_operator(spark):
    """The driver-side AR over the one pass returns exactly the rows
    the relational operator collects, including a null label (its own
    class), a class whose binary column is all ones (the sentinel), a
    class with only nulls in a column, and ratio ties (ordered by
    name)."""
    rows = [
        ("a", 1.0, 4.0, 1.0, 0.0), ("a", 3.0, 4.0, 1.0, 1.0),
        ("b", 2.0, 4.0, 0.0, None), ("b", 5.0, 4.0, 1.0, None),
        (None, 7.0, 4.0, 0.0, 1.0), ("c", 0.1, 4.0, 1.0, 0.0),
    ]
    df = spark.createDataFrame(rows, "y string, n1 double, n2 double, b1 double, b2 double")
    numeric, binary = ["n1", "n2"], ["b1", "b2"]
    want = attribute_ratio(
        df, numeric_cols=numeric, binary_cols=binary, label_col="y", exact_scale=None,
    ).collect()
    got = attribute_ratio_rows(fit_feature_stats(df, "y", numeric, binary))
    assert got == want
    assert [r["feature"] for r in got] == [r["feature"] for r in want]

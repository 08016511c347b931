"""ml.features layer: the standardizer, OHE vocabularies, the
assembler feeding PCA (M4-M10)."""

from __future__ import annotations

from pyspark.sql import functions as F

from nsl_kdd_spark.ml.features import (
    assemble,
    fit_categories,
    fit_standardizer,
    one_hot_encode,
    pca_project,
)


def test_standardizer_zero_mean_unit_var(spark):
    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,), (4.0,)], "x double")
    model = fit_standardizer(df, ["x"])
    out = model.transform(df)
    stats = out.agg(F.avg("x").alias("m"), F.stddev("x").alias("s")).first()
    assert abs(stats["m"]) < 1e-12
    assert abs(stats["s"] - 1.0) < 1e-12
    # fitted params are reusable on new data without refit
    other = spark.createDataFrame([(10.0,)], "x double")
    z = model.transform(other).first()["x"]
    assert z > 3  # 10 is far above the fitted mean of 2.5


def test_fit_categories_sorted_deterministic(spark):
    df = spark.createDataFrame([("b",), ("a",), ("b",), (None,)], "c string")
    assert fit_categories(df, "c") == ["a", "b"]


def test_one_hot_encode_drops_input(spark):
    df = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "c string, x double")
    out = one_hot_encode(df, ["c"], {"c": ["a", "b"]}, drop_input=True)
    assert set(out.columns) == {"x", "c_a", "c_b"}


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
    train = spark.createDataFrame([("a",), ("b",)], "c string")
    test = spark.createDataFrame([("b",), ("z",)], "c string")

    # reference-compat: vocab fit on each dataset independently
    train_cols = one_hot_encode(train, ["c"], {"c": fit_categories(train, "c")})
    test_cols = one_hot_encode(test, ["c"], {"c": fit_categories(test, "c")})
    assert set(train_cols.columns) == {"c_a", "c_b"}
    assert set(test_cols.columns) == {"c_b", "c_z"}   # diverged, like the reference

    # engine default: train vocabulary everywhere, unseen -> all zeros
    vocab = {"c": fit_categories(train, "c")}
    aligned = one_hot_encode(test, ["c"], vocab, drop_input=False)
    rows = {r["c"]: (r["c_a"], r["c_b"]) for r in aligned.collect()}
    assert rows == {"b": (0.0, 1.0), "z": (0.0, 0.0)}

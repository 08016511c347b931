"""Ensemble/stacking combinator layer (M17/M18, F4-F6) on synthetic
score tables — fast, deterministic, every formula checked by hand."""

from __future__ import annotations

from pyspark.sql import functions as F

from nsl_kdd_spark.ml.classify import (
    attack_probability,
    instance_weights,
    train_lr_stacker,
    train_rf_ensembler,
)
from nsl_kdd_spark.pipeline import combine_scores


def _scores(spark):
    rows = [
        # id, p_a, p_b, p_c, labels2
        (1, 0.9, 0.8, 0.7, "attack"),
        (2, 0.2, 0.1, 0.3, "normal"),
        (3, 0.6, 0.4, 0.9, "attack"),
        (4, 0.1, 0.7, 0.2, "normal"),
        (5, 0.8, 0.9, 0.6, "attack"),
        (6, 0.3, 0.2, 0.1, "normal"),
        (7, 0.7, 0.6, 0.8, "attack"),
        (8, 0.4, 0.3, 0.2, "normal"),
    ] * 4  # enough rows for LR/RF to fit
    rows = [(i, *r[1:]) for i, r in enumerate(rows)]
    return spark.createDataFrame(
        rows, "id long, p_a double, p_b double, p_c double, labels2 string"
    )


def test_combine_scores_formulas(spark):
    df = combine_scores(_scores(spark), ["p_a", "p_b", "p_c"],
                        weights=[3.0, 2.0, 1.0], threshold=0.5)
    r = {row["id"]: row for row in df.collect()}
    # blend for id=1: (3*0.9 + 2*0.8 + 1*0.7)/6 = 0.8333...
    assert abs(r[0]["blend"] - (3 * 0.9 + 2 * 0.8 + 0.7) / 6) < 1e-12
    assert r[0]["blend_pred"] == 1.0
    # OR-vote for id=3 (0.1, 0.7, 0.2): only p_b >= 0.5 -> vote 1
    assert r[3]["or_vote"] == 1.0
    # OR-vote for id=5 (0.3, 0.2, 0.1): none >= 0.5 -> vote 0
    assert r[5]["or_vote"] == 0.0


def test_instance_weights_map(spark):
    df = instance_weights(_scores(spark), "labels2",
                          {"normal": 1.0, "attack": 100.0})
    got = {r["labels2"]: r["weights"] for r in df.select("labels2", "weights").distinct().collect()}
    assert got == {"normal": 1.0, "attack": 100.0}


def test_lr_stacker_and_rf_ensembler(spark):
    df = instance_weights(_scores(spark), "labels2",
                          {"normal": 1.0, "attack": 100.0})
    lr = train_lr_stacker(df, ["p_a", "p_b", "p_c"])
    joined = attack_probability(lr, df, "lr_prob")
    # the input's columns plus the probability, on the input's rows
    assert joined.columns == df.columns + ["lr_prob"]
    assert joined.count() == df.count()
    # separable toy data: stacker must rank attacks above normals
    agg = joined.groupBy("labels2").agg(F.avg("lr_prob").alias("m")).collect()
    means = {r["labels2"]: r["m"] for r in agg}
    assert means["attack"] > means["normal"]

    pred_df = combine_scores(df, ["p_a", "p_b", "p_c"])
    rf = train_rf_ensembler(pred_df, ["p_a_pred", "p_b_pred", "p_c_pred"],
                            num_trees=20, max_depth=3)
    joined = attack_probability(rf, pred_df, "rf_prob")
    assert joined.columns == pred_df.columns + ["rf_prob"]
    agg = joined.groupBy("labels2").agg(F.avg("rf_prob").alias("m")).collect()
    means = {r["labels2"]: r["m"] for r in agg}
    assert means["attack"] > means["normal"]


def test_binary_metrics_multi_matches_per_model_reports(spark):
    """binary_metrics_multi: one aggregate pass over N models must
    reproduce each model's binary_metrics row exactly (shared formula
    expressions), sorted by model name."""
    from nsl_kdd_spark.ml.metrics import binary_metrics, binary_metrics_multi

    scored = spark.createDataFrame(
        [(1.0, 1.0, 0.0), (1.0, 0.0, 1.0), (0.0, 0.0, 0.0),
         (0.0, 1.0, 0.0), (1.0, 1.0, 1.0), (0.0, 0.0, 1.0)],
        "y double, pa double, pb double",
    )
    multi = {r.model: r for r in binary_metrics_multi(
        scored, "y", {"a": "pa", "b": "pb"}).collect()}
    assert list(multi) == ["a", "b"]
    for name, pred in (("a", "pa"), ("b", "pb")):
        single = binary_metrics(scored, "y", pred).first()
        got = multi[name]
        for c in ("tn", "fp", "fn", "tp", "accuracy", "precision",
                  "detection_rate", "false_alarm_rate", "f1"):
            assert got[c] == single[c], (name, c)

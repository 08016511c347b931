"""``score_clusters`` on hand-built frames: every input row comes back
once, with its own cluster's probability, including rows of a cluster
that got no train row (the split rule's outlier case, 1.0)."""

from __future__ import annotations

from pyspark.ml.linalg import Vectors

from nsl_kdd_spark.ml.classify import attack_probability, make_rf, train_binary_classifier
from nsl_kdd_spark.ml.cluster import ClusterSplit, score_clusters

COLUMNS = ["id", "cluster", "features", "labels2"]


def _test_frame(spark):
    # cluster 0 is mapped to normal, 1 is modeled, 2 got no train row;
    # the null label must not drop its row
    return spark.createDataFrame([
        (0, 0, Vectors.dense([0.0, 0.0]), "normal"),
        (1, 1, Vectors.dense([0.1, 0.9]), "attack"),
        (2, 1, Vectors.dense([0.9, 0.1]), "normal"),
        (3, 1, Vectors.dense([0.8, 0.2]), None),
        (4, 2, Vectors.dense([5.0, 5.0]), "normal"),
    ], COLUMNS)


def test_unseen_cluster_maps_to_attack_and_keeps_every_row(spark):
    df = _test_frame(spark).filter("cluster != 1")
    split = ClusterSplit(mapping={0: 0.0}, modeled=[])
    out = score_clusters(df, split, models={}, prob_col="prob")
    assert out.columns == df.columns + ["prob"]
    got = {r["id"]: r["prob"] for r in out.collect()}
    assert got == {0: 0.0, 4: 1.0}


def test_modeled_cluster_matches_attack_probability(spark):
    train = spark.createDataFrame(
        [(i, 1, Vectors.dense([0.1 * (i % 3), 1.0 - 0.1 * (i % 3)]), "attack")
         for i in range(12)]
        + [(100 + i, 1, Vectors.dense([1.0 - 0.1 * (i % 3), 0.1 * (i % 3)]), "normal")
           for i in range(12)],
        COLUMNS,
    )
    model = train_binary_classifier(
        train, make_rf(num_trees=3, max_depth=2, seed=1, features_col="features")
    )
    df = _test_frame(spark)
    split = ClusterSplit(mapping={0: 0.0}, modeled=[1])
    out = score_clusters(df, split, {1: model}, prob_col="prob")
    assert out.columns == df.columns + ["prob"]
    got = {r["id"]: r["prob"] for r in out.collect()}
    want = {
        r["id"]: r["prob"]
        for r in attack_probability(model, df.filter("cluster = 1"), "prob").collect()
    }
    assert set(want) == {1, 2, 3}
    assert got == {0: 0.0, 4: 1.0, **want}

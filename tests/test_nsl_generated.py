"""The paper's KMeans + per-cluster RF pipeline end to end on seeded
NSL-KDD-shaped CSVs from ``perfbench/gen_nsl.py``, so it runs on every
host. The generator reports the facts it planted (row and attack
counts, dirty ``su_attempted`` values); every assertion here is exact.
``test_nsl_pipeline.py`` keeps the parity checks against the real
files."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

from nsl_kdd_spark.pipeline import NslConfig, kmeans_rf, prepare

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
)
import gen_nsl  # noqa: E402

N_TRAIN, N_TEST, SEED = 2000, 1000, 1
CFG = NslConfig(kmeans_k=4, rf_trees=10, rf_depth=6)


@pytest.fixture(scope="module")
def nsl_files(tmp_path_factory):
    d = tmp_path_factory.mktemp("nsl")
    train, test = str(d / "train.csv"), str(d / "test.csv")
    train_truth, test_truth = gen_nsl.write_pair(train, test, N_TRAIN, N_TEST, SEED)
    return train, test, train_truth, test_truth


@pytest.fixture(scope="module")
def runs(spark, nsl_files):
    """Two kmeans_rf runs in one session: (scored rows, (tn, fp, fn, tp))."""
    train, test, _, _ = nsl_files
    out = []
    for _ in range(2):
        res = kmeans_rf(spark, train, test, CFG)
        row = res["metrics"].first()
        out.append((res["scored"].count(), (row["tn"], row["fp"], row["fn"], row["tp"])))
        spark.catalog.clearCache()
    return out


def test_kmeans_rf_scores_every_test_row(runs):
    scored_rows, _ = runs[0]
    assert scored_rows == N_TEST


def test_kmeans_rf_confusion_matrix_matches_truth(runs, nsl_files):
    test_truth = nsl_files[3]
    tn, fp, fn, tp = runs[0][1]
    assert tn + fp + fn + tp == N_TEST
    assert tp + fn == test_truth.attacks


def test_kmeans_rf_deterministic_in_session(runs):
    assert runs[0] == runs[1]


def test_prepare_repairs_generated(spark, nsl_files):
    train, test, train_truth, test_truth = nsl_files
    assert train_truth.su_attempted_2 > 0 and test_truth.su_attempted_2 > 0
    prepared = prepare(spark, train, test)
    try:
        for df, rows in ((prepared.train, N_TRAIN), (prepared.test, N_TEST)):
            assert df.count() == rows
            assert df.filter(F.col("su_attempted") == 2.0).count() == 0
            assert "num_outbound_cmds" not in df.columns
    finally:
        spark.catalog.clearCache()

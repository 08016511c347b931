"""The paper's four pipeline flows end to end on seeded NSL-KDD-shaped
CSVs from ``perfbench/gen_nsl.py``, so they run on every host. The
generator reports the facts it planted (row and attack counts, dirty
``su_attempted`` values); every invariant here is exact. The confusion
matrices are pinned as well, at the values a ``local[4]`` session with
4 shuffle partitions produces, so a refactor of the flows shows up as a
changed matrix. ``test_nsl_pipeline.py`` keeps the parity checks
against the real files."""

from __future__ import annotations

import os
import sys
import uuid
from unittest import mock

import pytest
from pyspark.sql import functions as F

from nsl_kdd_spark import pipeline
from nsl_kdd_spark.ml.ar import attribute_ratio
from nsl_kdd_spark.ml.cluster import kmeans_assign, split_clusters
from nsl_kdd_spark.ml.features import assemble
from nsl_kdd_spark.pipeline import (
    NslConfig,
    build_features,
    category_rf,
    gaussian_rf,
    kmeans_rf,
    nsl_ensemble,
    prepare,
)
from nsl_kdd_spark.schema import nsl_kdd_roles
from nsl_kdd_spark.sources.csv import load_nsl_kdd
from tests.test_plan_quality import plan_of

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
)
import gen_nsl  # noqa: E402
from workloads import _read_nsl, numpy_attribute_ratio  # noqa: E402

N_TRAIN, N_TEST, SEED = 2000, 1000, 1
CFG = NslConfig(kmeans_k=4, rf_trees=10, rf_depth=6)
# Spark jobs prepare + build_features may submit: the constant-column
# check and the one feature-fitting aggregation, 5 with AQE on (it
# submits each shuffle stage as a job of its own)
MAX_FIT_JOBS = 5

# (tn, fp, fn, tp) per flow on these files
KMEANS_CM = (394, 28, 17, 561)
GAUSSIAN_CM = (394, 28, 16, 562)
CATEGORY_CMS = {   # category -> (full test, normal + category subset)
    "DoS": ((405, 17, 253, 325), (405, 17, 2, 324)),
    "R2L_U2R": ((416, 6, 455, 123), (416, 6, 21, 123)),
}
ENSEMBLE_CMS = {
    "kmeans_rf": (394, 28, 22, 556),
    "blend": (396, 26, 68, 510),
    "or_vote": (394, 28, 11, 567),
    "lr_stack": (0, 422, 0, 578),
}


def _cm(metrics) -> tuple[int, int, int, int]:
    row = metrics.first()
    return row["tn"], row["fp"], row["fn"], row["tp"]


@pytest.fixture(scope="module")
def nsl_files(tmp_path_factory):
    d = tmp_path_factory.mktemp("nsl")
    train, test = str(d / "train.csv"), str(d / "test.csv")
    train_truth, test_truth = gen_nsl.write_pair(train, test, N_TRAIN, N_TEST, SEED)
    return train, test, train_truth, test_truth


@pytest.fixture(scope="module")
def kmeans_runs(spark, nsl_files):
    """Two kmeans_rf runs in one session: ``runs`` holds (scored rows,
    (tn, fp, fn, tp)) per run, ``plan`` the formatted plan of the first
    run's metrics, taken before anything runs."""
    train, test, _, _ = nsl_files
    out, plans = [], []
    for _ in range(2):
        res = kmeans_rf(spark, train, test, CFG)
        plans.append(plan_of(res["metrics"]))
        out.append((res["scored"].count(), _cm(res["metrics"])))
        spark.catalog.clearCache()
    return {"runs": out, "plan": plans[0]}


@pytest.fixture(scope="module")
def runs(kmeans_runs):
    return kmeans_runs["runs"]


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


def test_kmeans_rf_confusion_matrix_pinned(runs):
    assert runs[0][1] == KMEANS_CM


def test_kmeans_rf_scores_in_one_pass(kmeans_runs, nsl_files):
    """The score plan reads the test file once and scores it in place:
    no per-cluster union, no join back on the row id, and one cached
    frame (the assigned test rows), not a cache nested in another."""
    plan = kmeans_runs["plan"]
    tree = plan.split("\n\n")[0]      # the operator tree, before the details
    assert tree.count("Scan csv") == 1, tree
    assert tree.count("InMemoryRelation") == 1, tree
    locations = [ln for ln in plan.splitlines() if ln.startswith("Location:")]
    assert len(locations) == 1 and nsl_files[1] in locations[0], locations
    for node in ("Union", "BroadcastHashJoin", "SortMergeJoin"):
        assert node not in plan, tree


def test_gaussian_rf(spark, nsl_files):
    train, test, _, test_truth = nsl_files
    try:
        res = gaussian_rf(spark, train, test, CFG)
        rows, cm = res["scored"].count(), _cm(res["metrics"])
    finally:
        spark.catalog.clearCache()
    tn, fp, fn, tp = cm
    assert rows == N_TEST
    assert tn + fp + fn + tp == N_TEST
    assert tp + fn == test_truth.attacks
    assert cm == GAUSSIAN_CM


@pytest.mark.parametrize("category", sorted(CATEGORY_CMS))
def test_category_rf(spark, nsl_files, category):
    train, test, _, test_truth = nsl_files
    cats = ("R2L", "U2R") if category == "R2L_U2R" else (category,)
    try:
        res = category_rf(spark, train, test, category, CFG)
        scored = res["scored"]
        rows = scored.count()
        subset = scored.filter(F.col("labels5").isin("normal", *cats))
        subset_rows = subset.count()
        subset_attacks = subset.filter(F.col("labels2") == "attack").count()
        full, part = _cm(res["metrics"]), _cm(res["metrics_subset"])
    finally:
        spark.catalog.clearCache()
    assert rows == N_TEST
    assert sum(full) == N_TEST
    assert full[3] + full[2] == test_truth.attacks
    assert sum(part) == subset_rows
    assert part[3] + part[2] == subset_attacks
    # every normal row is in the subset, so the normal half agrees
    assert part[:2] == full[:2]
    assert (full, part) == CATEGORY_CMS[category]


def test_nsl_ensemble(spark, nsl_files):
    train, test, _, test_truth = nsl_files
    try:
        res = nsl_ensemble(spark, train, test, CFG)
        plan = plan_of(res["metrics"]["blend"])
        rows = res["scored"].count()
        cms = {name: _cm(m) for name, m in res["metrics"].items()}
    finally:
        spark.catalog.clearCache()
    assert rows == N_TEST
    for tn, fp, fn, tp in cms.values():
        assert tn + fp + fn + tp == N_TEST
        assert tp + fn == test_truth.attacks
    assert cms == ENSEMBLE_CMS
    # the five families' scores are columns of one frame, not joined
    for node in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"):
        assert node not in plan, plan.split("\n\n")[0]


def test_prepare_repairs_generated(spark, nsl_files):
    train, test, train_truth, test_truth = nsl_files
    assert train_truth.su_attempted_2 > 0 and test_truth.su_attempted_2 > 0
    prepared = prepare(spark, train, test)
    try:
        for df, rows in ((prepared.train, N_TRAIN), (prepared.test, N_TEST)):
            assert df.count() == rows
            assert df.filter(F.col("su_attempted") == 2.0).count() == 0
            assert "num_outbound_cmds" not in df.columns
        # the test rows are spread over the cores; train keeps the
        # partitions it was read with (RF bootstraps follow them)
        assert prepared.test.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
        train_parts = load_nsl_kdd(spark, train).rdd.getNumPartitions()
        assert prepared.train.rdd.getNumPartitions() == train_parts
    finally:
        spark.catalog.clearCache()


def _deterministic_stages(spark, train, test, conf: dict[str, str]) -> dict:
    """What the pipeline computes before any random forest, under the
    session settings ``conf``. ``stages``: prepare row counts, the
    attribute-ratio rows, selections and standardiser that
    ``build_features`` fits (taken from its calls to the ``pipeline``
    names ``select_features`` and ``fit_standardizer``, which perfbench
    wraps too), the feature columns, and the cluster split of a KMeans
    assignment (a short KMeans: the split rule, not the fit, is under
    test). ``fit_jobs``: the Spark jobs prepare + build_features
    submitted. ``operator_ar``: the ``attribute_ratio`` operator's rows
    on the same prepared frame. The shared session's settings are
    restored afterwards."""
    sc = spark.sparkContext
    group = f"feature-fit-{uuid.uuid4().hex}"
    seen: dict[str, list] = {"select_features": [], "fit_standardizer": []}

    def spy(name):
        fn = getattr(pipeline, name)

        def call(*args):
            out = fn(*args)
            seen[name].append((args, out))
            return out
        return call

    old = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        sc.setJobGroup(group, "prepare + build_features")
        try:
            with mock.patch.multiple(pipeline, select_features=spy("select_features"),
                                     fit_standardizer=spy("fit_standardizer")):
                prepared = prepare(spark, train, test)
                train_f, _, feature_cols = build_features(prepared, CFG)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        fit_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        (ar_rows, _), _ = seen["select_features"][0]
        [(_, scaler)] = seen["fit_standardizer"]
        roles = nsl_kdd_roles()
        operator_ar = attribute_ratio(
            prepared.train,
            numeric_cols=[c for c in roles.numeric if c in prepared.train.columns],
            binary_cols=[c for c in roles.binary if c in prepared.train.columns],
            label_col="labels5", exact_scale=None,
        ).collect()
        _, assigned = kmeans_assign(
            assemble(train_f, feature_cols), "raw_features", k=CFG.kmeans_k,
            init_steps=2, max_iter=5, seed=CFG.seed,
        )
        split = split_clusters(assigned, min_rows=CFG.min_cluster_rows)
        stages = {
            "rows": (prepared.train.count(), prepared.test.count()),
            "ar": [tuple(r) for r in ar_rows],
            "selected": [out for _, out in seen["select_features"]],
            "means": scaler.means,
            "stddevs": scaler.stddevs,
            "feature_cols": feature_cols,
            "split": (split.mapping, split.modeled),
        }
        return {"stages": stages, "fit_jobs": fit_jobs,
                "operator_ar": [tuple(r) for r in operator_ar]}
    finally:
        spark.catalog.clearCache()
        for k, v in old.items():
            spark.conf.set(k, v)


@pytest.fixture(scope="module")
def default_stages(spark, nsl_files):
    """The deterministic stages under the test session's settings
    (4 shuffle partitions, AQE on)."""
    return _deterministic_stages(spark, *nsl_files[:2], {
        "spark.sql.shuffle.partitions": "4", "spark.sql.adaptive.enabled": "true",
    })


def test_features_match_numpy(default_stages, nsl_files):
    """Attribute ratio, selections and standardiser, as build_features
    fits them, against a numpy/pandas recomputation from the CSV."""
    train = nsl_files[0]
    stages = default_stages["stages"]
    got_ar = dict(stages["ar"])
    want_ar, want_numeric = numpy_attribute_ratio(train)
    assert set(got_ar) == set(want_ar)
    for c, want in want_ar.items():
        assert got_ar[c] == pytest.approx(want, rel=1e-9, abs=1e-12), c
    assert stages["selected"] == [
        [c for c, _ in stages["ar"] if want_ar[c] >= min_ar]
        for min_ar in (CFG.min_ar_numeric, CFG.min_ar_binary)
    ]
    want_keep = [c for c in want_numeric if want_ar[c] >= CFG.min_ar_numeric]
    assert want_keep and set(stages["means"]) == set(want_keep)
    frame = _read_nsl(train)
    for c in want_keep:
        assert stages["means"][c] == pytest.approx(
            frame[c].mean(), rel=1e-9, abs=1e-12), c
        assert stages["stddevs"][c] == pytest.approx(
            frame[c].std(ddof=1), rel=1e-9, abs=1e-12), c


def _check_fit(got: dict) -> None:
    """prepare + build_features stay within MAX_FIT_JOBS jobs, and the
    pipeline's attribute-ratio rows are exactly the operator's."""
    assert got["fit_jobs"] <= MAX_FIT_JOBS, got["fit_jobs"]
    assert got["stages"]["ar"] == got["operator_ar"]


def test_feature_fit_jobs_and_operator_parity(default_stages):
    _check_fit(default_stages)


@pytest.mark.parametrize("conf", [
    {"spark.sql.shuffle.partitions": "1"},
    {"spark.sql.adaptive.enabled": "false"},
], ids=["shuffle_partitions_1", "aqe_off"])
def test_deterministic_stages_ignore_session_config(spark, nsl_files, default_stages, conf):
    """The stages before the random forests collect equal under 1 vs 4
    shuffle partitions and AQE on vs off. RF output is left out on
    purpose: its bootstrap samples follow the input's partitioning, so
    scores may legitimately differ between configurations."""
    got = _deterministic_stages(spark, *nsl_files[:2], conf)
    _check_fit(got)
    assert got["stages"] == default_stages["stages"]

"""Reference-parity pipeline: NSL-KDD intrusion detection end-to-end
(SURVEY.md §3, §7).

Composes the engine's operators into the reference notebook's flow —
load -> repair -> label -> attribute-ratio selection -> OHE ->
standardize -> cluster -> per-cluster RF -> score -> metrics — as a
library API instead of 168 cells. Every stage is the Spark-first
rebuild of the cited reference cell (no Python row UDFs, exact
aggregation where determinism matters, broadcast-map label lookups).

Model sizes default to the reference's (RF 500x20) but every entry
point takes overrides so tests run in seconds.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import partial

from pyspark.ml import PipelineModel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from nsl_kdd_spark.functions.scalar import hard_vote_or, soft_vote
from nsl_kdd_spark.functions.scalar import threshold as thr
from nsl_kdd_spark.ml.ar import attribute_ratio_rows, select_features
from nsl_kdd_spark.ml.classify import (
    DEFAULT_SEED,
    attack_probability,
    instance_weights,
    make_rf,
    train_binary_classifier,
    train_lr_stacker,
)
from nsl_kdd_spark.ml.cluster import (
    gaussian_mixture_assign,
    kmeans_assign,
    score_clusters,
    split_clusters,
    train_cluster_models,
)
from nsl_kdd_spark.ml.features import (
    assemble,
    fit_feature_stats,
    fit_standardizer,
    pca_project,
)
from nsl_kdd_spark.ml.labels import with_labels
from nsl_kdd_spark.ml.metrics import binary_metrics
from nsl_kdd_spark.operators.relational import (
    drop_constant_columns,
    one_hot_columns,
    replace_values,
    with_deterministic_id,
)
from nsl_kdd_spark.schema import attack_mapping, nsl_kdd_roles
from nsl_kdd_spark.sources.csv import load_nsl_kdd


@dataclass
class NslConfig:
    min_ar_numeric: float = 0.05
    min_ar_binary: float = 0.05
    kmeans_k: int = 8
    rf_trees: int = 500
    rf_depth: int = 20
    seed: int = DEFAULT_SEED
    min_cluster_rows: int = 25
    threshold: float = 0.5


@dataclass
class NslPrepared:
    train: DataFrame
    test: DataFrame
    feature_cols: list[str] = field(default_factory=list)


def prepare(spark: SparkSession, train_path: str, test_path: str) -> NslPrepared:
    """load -> repair -> label -> id, fitted on train only.

    Repairs (data-driven, reference README.md:676,993): su_attempted
    2.0 -> 0.0; constant numeric columns dropped (num_outbound_cmds),
    found by one exact ``min <=> max`` aggregate over train. Labels:
    labels2 regex + labels5 taxonomy map (strict=False for test files
    with unseen attack names — the reference instead extends its dict;
    unseen -> null -> filterable). id: ``monotonically_increasing_id``,
    a row label only: every flow scores onto the frame it has, so no
    flow joins on ``id``. Train is cached (every fit reads it); test is
    not, as each flow caches the scored frame it builds on it.
    """
    roles = nsl_kdd_roles()
    mapping = attack_mapping()

    def _prep(df: DataFrame) -> DataFrame:
        df = replace_values(df, "su_attempted", {2.0: 0.0})
        df = with_labels(df, "labels", mapping, strict=False)
        return df

    train = _prep(load_nsl_kdd(spark, train_path))
    test = _prep(load_nsl_kdd(spark, test_path))
    train = drop_constant_columns(train, list(roles.numeric))
    test = test.select(*train.columns)
    train = with_deterministic_id(train, "id").cache()
    test = with_deterministic_id(test, "id")
    # test rows are only scored row by row, so spreading them over the
    # cores changes only row order; train stays as read (RF bootstraps
    # follow it). AQE would coalesce an unnumbered repartition to one.
    cores = spark.sparkContext.defaultParallelism
    if test.rdd.getNumPartitions() < cores:
        test = test.repartition(cores, "id")
    return NslPrepared(train=train, test=test)


def build_features(
    prepared: NslPrepared, cfg: NslConfig
) -> tuple[DataFrame, DataFrame, list[str]]:
    """AR selection + OHE (train vocabularies) + z-score
    standardization (train stats), applied to train and test.

    Everything fitted comes from one aggregate pass over train
    (``fit_feature_stats``: a rollup over ``labels5``): the
    attribute-ratio rows, the standardiser's mean/std and the three
    OHE vocabularies. The OHE and z-score columns are built once and
    projected onto both frames."""
    roles = nsl_kdd_roles()
    numeric = [c for c in roles.numeric if c in prepared.train.columns]
    binary = [c for c in roles.binary if c in prepared.train.columns]

    stats = fit_feature_stats(prepared.train, "labels5", numeric, binary, roles.nominal)
    ar_rows = attribute_ratio_rows(stats)
    keep_numeric = [c for c in select_features(ar_rows, cfg.min_ar_numeric) if c in numeric]
    keep_binary = [c for c in select_features(ar_rows, cfg.min_ar_binary) if c in binary]
    scaler = fit_standardizer(stats, keep_numeric)

    vocab = {c: stats.vocabulary(c) for c in roles.nominal}
    ohe = [col for c in roles.nominal for col in one_hot_columns(c, vocab[c])]
    z = scaler.expressions()

    def _feats(df: DataFrame) -> DataFrame:
        return df.select("*", *ohe).withColumns(z)

    ohe_cols = [f"{c}_{v}" for c in roles.nominal for v in vocab[c]]
    feature_cols = keep_numeric + keep_binary + ohe_cols
    return _feats(prepared.train), _feats(prepared.test), feature_cols


# The steps every flow shares. They call the pipeline steps through this
# module's globals (prepare, build_features, kmeans_assign, ...), so a
# caller that wraps those names sees every flow's steps.

def _vectors(
    spark: SparkSession, train_path: str, test_path: str, cfg: NslConfig
) -> tuple[DataFrame, DataFrame]:
    """prepare -> build_features -> assemble: (train, test) with the
    feature vector in ``raw_features``."""
    prepared = prepare(spark, train_path, test_path)
    train_f, test_f, feature_cols = build_features(prepared, cfg)
    return assemble(train_f, feature_cols), assemble(test_f, feature_cols)


def _rf(cfg: NslConfig):
    return make_rf(num_trees=cfg.rf_trees, max_depth=cfg.rf_depth, seed=cfg.seed,
                   features_col="raw_features")


def _km_assign(df: DataFrame, cfg: NslConfig):
    """KMeans(k) on the feature vectors: (model, df + cluster)."""
    return kmeans_assign(df, "raw_features", k=cfg.kmeans_k, seed=cfg.seed)


def _gm_assign(df: DataFrame, cfg: NslConfig):
    """PCA(k=2) -> GaussianMixture(k): (model, df + cluster), the model
    applying both stages to new data."""
    pca_model, projected = pca_project(df, k=2, input_col="raw_features")
    gm_model, assigned = gaussian_mixture_assign(
        projected, "pca_features", k=cfg.kmeans_k, seed=cfg.seed
    )
    return PipelineModel(stages=[pca_model, gm_model]), assigned


def _cluster_models(assigned: DataFrame, cfg: NslConfig):
    """The cluster-split rule, then one RF per modeled cluster:
    (split, models)."""
    split = split_clusters(assigned, min_rows=cfg.min_cluster_rows)
    return split, train_cluster_models(assigned, split, partial(_rf, cfg))


def _category_model(train_v: DataFrame, cats: tuple[str, ...], cfg: NslConfig):
    """<cats>-vs-normal RF (M16)."""
    sub = train_v.filter(F.col("labels5").isin("normal", *cats))
    return train_binary_classifier(sub, _rf(cfg))


def _truth() -> Column:
    """The 0/1 truth ``y``: 1.0 for an attack row."""
    return F.when(F.col("labels2") == "attack", 1.0).otherwise(0.0)


def _decide(scored: DataFrame, cfg: NslConfig) -> DataFrame:
    """(id, labels2, ..., prob) plus the thresholded prediction ``pred``
    and the 0/1 truth ``y``."""
    return (
        scored.withColumn("pred", thr(F.col("prob"), cfg.threshold))
        .withColumn("y", _truth())
    )


def _cluster_rf(
    spark: SparkSession, train_path: str, test_path: str, cfg: NslConfig, assign
) -> dict[str, DataFrame]:
    """Cluster (``assign``) -> per-cluster RF -> score the test set."""
    train_v, test_v = _vectors(spark, train_path, test_path, cfg)
    model, train_c = assign(train_v, cfg)
    test_c = model.transform(test_v)
    split, models = _cluster_models(train_c, cfg)
    probs = score_clusters(test_c.cache(), split, models, prob_col="prob")
    scored = _decide(probs.select("id", "labels2", "prob"), cfg)
    return {"scored": scored, "metrics": binary_metrics(scored, "y", "pred")}


def kmeans_rf(
    spark: SparkSession,
    train_path: str,
    test_path: str,
    cfg: NslConfig | None = None,
) -> dict[str, DataFrame]:
    """The reference's best single model (KMeans + per-cluster RF,
    README.md:1543-1762): returns {"scored": (id, labels2, prob, pred,
    y), "metrics": one-row report} for the test set."""
    return _cluster_rf(spark, train_path, test_path, cfg or NslConfig(), _km_assign)


def category_rf(
    spark: SparkSession,
    train_path: str,
    test_path: str,
    category: str,
    cfg: NslConfig | None = None,
) -> dict[str, DataFrame]:
    """Per-category specialist (M16): <category>-vs-normal RF
    (README.md:2216-2238 for DoS; Probe/R2L+U2R identical shape)."""
    cfg = cfg or NslConfig()
    train_v, test_v = _vectors(spark, train_path, test_path, cfg)
    cats = (category,) if category != "R2L_U2R" else ("R2L", "U2R")
    model = _category_model(train_v, cats, cfg)
    probs = attack_probability(model, test_v.cache(), prob_col="prob")
    # labels5 rides along so callers can score the reference's
    # category-vs-normal slice (README.md:2332 filters the test set to
    # normal + the category before its e=0.5 report) as well as the
    # full-test labels2 view
    scored = _decide(probs.select("id", "labels2", "labels5", "prob"), cfg)
    subset = scored.filter(F.col("labels5").isin("normal", *cats))
    return {
        "scored": scored,
        "metrics": binary_metrics(scored, "y", "pred"),
        "metrics_subset": binary_metrics(subset, "y", "pred"),
    }


def gaussian_rf(
    spark: SparkSession,
    train_path: str,
    test_path: str,
    cfg: NslConfig | None = None,
) -> dict[str, DataFrame]:
    """The reference's alternative clustering family (M13,
    README.md:1831-1950): PCA(k=2) -> GaussianMixture(k) -> per-cluster
    RF, scored and assembled exactly like the KMeans path."""
    return _cluster_rf(spark, train_path, test_path, cfg or NslConfig(), _gm_assign)


def combine_scores(
    base: DataFrame,
    prob_cols: list[str],
    weights: list[float] | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """The reference's decision layer (F4/F5/F6, README.md:3113-3334):
    given a table with per-model probability columns, add
    soft-vote blend, per-model hard preds, and the OR-vote."""
    out = base.withColumn(
        "blend", soft_vote(*prob_cols, weights=weights)
    ).withColumn("blend_pred", thr(F.col("blend"), threshold))
    pred_cols = []
    for c in prob_cols:
        out = out.withColumn(f"{c}_pred", thr(F.col(c), threshold))
        pred_cols.append(f"{c}_pred")
    return out.withColumn("or_vote", hard_vote_or(*pred_cols))


def nsl_ensemble(
    spark: SparkSession,
    train_path: str,
    test_path: str,
    cfg: NslConfig | None = None,
) -> dict[str, DataFrame]:
    """The reference's full composition (README.md:1543-3712): KMeans+RF,
    GM+RF, and three per-category RFs produce probability columns;
    the decision layer blends them (weighted soft vote
    (3k+gm+dos+probe+r2l)/7, OR hard vote) and an LR stacker fit on a
    CV split re-weighs them. Returns per-strategy one-row metric
    tables for the test set.

    Features/vectors are built ONCE and shared across all five model
    families (the reference re-prepares per section). Each split is
    scored in one chain: every family adds its probability column to
    the frame it is given, so the five scores end up side by side with
    no id join (the reference's J1 assembly re-joins five (id, prob)
    tables on a ``monotonically_increasing_id``)."""
    cfg = cfg or NslConfig()
    full_v, test_v = _vectors(spark, train_path, test_path, cfg)
    # cached so randomSplit samples the same rows for both halves
    fit_v, cv_v = full_v.cache().randomSplit([0.8, 0.2], seed=cfg.seed)
    fit_v = fit_v.cache()

    def cluster_family(assign):
        """fit on fit_v: (cluster model, split, per-cluster models)."""
        model, fit_c = assign(fit_v, cfg)
        return (model, *_cluster_models(fit_c.cache(), cfg))

    clusters = [cluster_family(_km_assign), cluster_family(_gm_assign)]
    categories = [
        _category_model(fit_v, cats, cfg) for cats in (("DoS",), ("Probe",), ("R2L", "U2R"))
    ]
    prob_cols = ["p_km", "p_gm", "p_dos", "p_probe", "p_r2l"]

    def score(v: DataFrame) -> DataFrame:
        """(id, labels2) plus one probability column per family."""
        out = v.select("id", "labels2", "raw_features")
        for (model, split, models), col in zip(clusters, prob_cols):
            out = score_clusters(model.transform(out), split, models, col).drop(
                "cluster", "pca_features", "cluster_probability"
            )
        for model, col in zip(categories, prob_cols[2:]):
            out = attack_probability(model, out, col)
        return out.drop("raw_features").cache()

    cv_tbl, test_tbl = score(cv_v), score(test_v)
    stacker = train_lr_stacker(
        instance_weights(cv_tbl, "labels2", {"normal": 1.0, "attack": 100.0}),
        prob_cols,
    )
    decided = combine_scores(
        test_tbl, prob_cols, weights=[3.0, 1.0, 1.0, 1.0, 1.0], threshold=cfg.threshold
    )
    decided = attack_probability(stacker, decided, "p_stack").withColumn("y", _truth())
    strategies = {
        "kmeans_rf": F.col("p_km_pred"),
        "blend": F.col("blend_pred"),
        "or_vote": F.col("or_vote"),
        "lr_stack": thr(F.col("p_stack"), cfg.threshold),
    }
    metrics = {
        name: binary_metrics(decided.withColumn("pred", pred), "y", "pred")
        for name, pred in strategies.items()
    }
    return {"scored": decided, "metrics": metrics}

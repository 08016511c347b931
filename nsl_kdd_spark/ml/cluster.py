"""Cluster-then-classify operators (SURVEY.md §2.10 M12-M15).

The reference's signature architecture: KMeans/GM partitions the
feature space; per-cluster RandomForests score within partitions;
small/pure clusters short-circuit to a hard label via the
cluster-split rule (README.md:1595-1613). ``train_cluster_models``
fits one [StringIndexer, classifier] pipeline per modeled cluster
(``classify.train_binary_classifier``); with more than one such
cluster the fits run concurrently on a thread pool, which replaces the
reference's serial driver loop while the data stays distributed.

``score_clusters`` scores in one pass over one frame: every modeled
cluster's classifier runs in the same projection, and one ``CASE`` on
the cluster picks each row's score, so the test lineage is read once,
with no per-cluster filter, union or id join. Probability remap (D5):
each cluster's own StringIndexer decides which probability-vector slot
means "attack" (``classify.attack_slot``) — vector_to_array, no Python
UDF.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.ml import PipelineModel
from pyspark.ml.clustering import GaussianMixture, KMeans
from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nsl_kdd_spark.ml.classify import DEFAULT_SEED, attack_slot, train_binary_classifier


def kmeans_assign(
    df: DataFrame, features_col: str, k: int = 8,
    init_steps: int = 25, max_iter: int = 100, seed: int = DEFAULT_SEED,
):
    """KMeans(k) fit+assign (M12, README.md:1548). Returns
    (model, df+cluster)."""
    km = KMeans(
        k=k, initSteps=init_steps, maxIter=max_iter, seed=seed,
        featuresCol=features_col, predictionCol="cluster",
    )
    model = km.fit(df)
    return model, model.transform(df)


def gaussian_mixture_assign(
    df: DataFrame, features_col: str, k: int = 8,
    max_iter: int = 150, seed: int = DEFAULT_SEED,
):
    """GaussianMixture(k) on (typically PCA) features (M13,
    README.md:1831-1835)."""
    gm = GaussianMixture(
        k=k, maxIter=max_iter, seed=seed,
        featuresCol=features_col, predictionCol="cluster",
        # keep the default name free: downstream per-cluster
        # classifiers emit their own `probability` vector
        probabilityCol="cluster_probability",
    )
    model = gm.fit(df)
    return model, model.transform(df)


@dataclass
class ClusterSplit:
    """Outcome of the cluster-split rule (README.md:1595-1613):
    mapped clusters get a hard probability; modeled clusters get a
    per-cluster classifier."""

    mapping: dict[int, float] = field(default_factory=dict)   # cluster -> prob
    modeled: list[int] = field(default_factory=list)          # clusters to train


def split_clusters(
    df: DataFrame,
    cluster_col: str = "cluster",
    label_col: str = "labels2",
    attack_value: str = "attack",
    min_rows: int = 25,
) -> ClusterSplit:
    """The reference's rule, from one crosstab-shaped aggregate:

    - > ``min_rows`` rows AND both classes present -> train a model;
    - pure cluster -> map to its class (1.0 attack / 0.0 normal);
    - <= ``min_rows`` rows -> outlier rule: hard 1.0 (attack).
    """
    counts = (
        df.groupBy(cluster_col)
        .agg(
            F.count(F.when(F.col(label_col) == attack_value, 1)).alias("attack"),
            F.count(F.when(F.col(label_col) != attack_value, 1)).alias("normal"),
        )
        .collect()
    )
    out = ClusterSplit()
    for row in counts:
        k, atk, nrm = row[cluster_col], row["attack"], row["normal"]
        if atk + nrm > min_rows and atk > 0 and nrm > 0:
            out.modeled.append(int(k))
        elif atk + nrm <= min_rows:
            out.mapping[int(k)] = 1.0          # tiny cluster = outlier = attack
        else:
            out.mapping[int(k)] = 1.0 if atk > 0 else 0.0
    out.modeled.sort()
    return out


def train_cluster_models(
    df: DataFrame,
    split: ClusterSplit,
    make_classifier,
    cluster_col: str = "cluster",
    label_col: str = "labels2",
) -> dict[int, PipelineModel]:
    """Fit one pipeline per modeled cluster. With more than one, the
    fits run on a thread pool (independent Spark jobs scheduled
    concurrently — removes the serial-loop bottleneck the reference
    hits at 234 s / 6 clusters, README.md:1698-1704). Each cluster
    gets its own indexer, so its indices reflect the cluster's own
    majority label."""
    def fit(k: int) -> tuple[int, PipelineModel]:
        sub = df.filter(F.col(cluster_col) == k)
        return k, train_binary_classifier(sub, make_classifier(), label_col)

    if len(split.modeled) > 1:
        with ThreadPoolExecutor(max_workers=min(8, len(split.modeled))) as ex:
            return dict(ex.map(fit, split.modeled))
    return dict(fit(k) for k in split.modeled)


def score_clusters(
    df: DataFrame,
    split: ClusterSplit,
    models: dict[int, PipelineModel],
    prob_col: str,
    cluster_col: str = "cluster",
) -> DataFrame:
    """``df`` plus ``prob_col`` for every row, in one pass over the one
    frame (M15, README.md:1667-1687): each modeled cluster's classifier
    stage writes a temporary probability column, and one ``CASE`` on
    ``cluster_col`` picks the row's cluster's attack slot or a mapped
    cluster's hard probability. A cluster in neither (it got no train
    row, e.g. a GaussianMixture component that wins none) takes the
    split rule's outlier case, 1.0 (attack), so no row is dropped; nor
    is any filtered on its truth label, as the indexers do not run."""
    out, branches = df, []
    for k, model in models.items():
        clf, tmp = model.stages[-1], f"_prob_{k}"
        out = clf.transform(out, {
            clf.probabilityCol: tmp, clf.rawPredictionCol: "", clf.predictionCol: "",
        })
        branches.append((k, vector_to_array(F.col(tmp))[attack_slot(model)]))
    branches += [(k, F.lit(p)) for k, p in split.mapping.items()]
    prob = None
    for k, val in branches:
        hit = F.col(cluster_col) == k
        prob = F.when(hit, val) if prob is None else prob.when(hit, val)
    prob = F.lit(1.0) if prob is None else prob.otherwise(1.0)
    # no filter on the result: Catalyst would push the cluster and
    # classifier UDFs into it and evaluate them twice
    return out.withColumn(prob_col, prob).drop(*[f"_prob_{k}" for k in models])

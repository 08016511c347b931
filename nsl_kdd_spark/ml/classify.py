"""Classification / ensembling operators (SURVEY.md §2.10 M16-M19).

Thin, seed-pinned wrappers over MLlib plus the reference's combinator
layer: per-category RFs, class-weighted LR stacker, RF ensembler,
soft/hard voting (the vote expressions live in ``functions.scalar``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import LogisticRegression, RandomForestClassifier
from pyspark.ml.feature import StringIndexer, VectorAssembler
from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SEED = 4667979835606274383  # the reference's fixed seed (README.md:1387)


def make_rf(
    num_trees: int = 500,
    max_depth: int = 20,
    feature_subset: str = "sqrt",
    seed: int = DEFAULT_SEED,
    features_col: str = "features",
    label_col: str = "label",
) -> RandomForestClassifier:
    """The reference's RF config (README.md:1654,2222: 500 trees,
    depth 20, sqrt features)."""
    return RandomForestClassifier(
        numTrees=num_trees, maxDepth=max_depth, featureSubsetStrategy=feature_subset,
        seed=seed, featuresCol=features_col, labelCol=label_col,
    )


def train_binary_classifier(
    df: DataFrame,
    classifier,
    label_col: str = "labels2",
) -> PipelineModel:
    """Pipeline[StringIndexer(label), classifier] on a (possibly
    class-filtered) table — the per-category RF pattern (M16:
    DoS/Probe/R2L+U2R vs normal, README.md:2216-2238)."""
    indexer = StringIndexer(inputCol=label_col, outputCol="label", handleInvalid="skip")
    return Pipeline(stages=[indexer, classifier]).fit(df)


def attack_slot(model: PipelineModel) -> int:
    """The probability-vector slot that means "attack" for a fitted
    [StringIndexer, ..., classifier] pipeline: the indexer's label order
    decides it (the D5 remap, README.md:1679-1680)."""
    labels = list(model.stages[0].labels)
    return labels.index("attack") if "attack" in labels else 1


def attack_probability(model: PipelineModel, df: DataFrame, prob_col: str) -> DataFrame:
    """``df`` plus ``prob_col``, the probability of attack, from any
    fitted [StringIndexer, ..., classifier] pipeline (per-category RF,
    per-cluster RF, stacker, ensembler; vector_to_array replaces the
    reference's rdd row[1] extraction, README.md:2245, R3). The indexer
    only gives the slot and does not run, so no row is dropped for its
    truth label and no id join is needed."""
    out = PipelineModel(model.stages[1:]).transform(df)
    added = set(out.columns) - set(df.columns)
    return out.withColumn(
        prob_col, vector_to_array(F.col("probability"))[attack_slot(model)]
    ).drop(*added)


def instance_weights(
    df: DataFrame, label_col: str, weights: dict[str, float], out_col: str = "weights"
) -> DataFrame:
    """Class->weight map expression (D6, README.md:3377-3386: normal=1,
    attack=100 for the weighted LR stacker)."""
    expr = F.create_map(*[F.lit(x) for kv in weights.items() for x in kv])
    return df.withColumn(out_col, expr[F.col(label_col)])


def train_lr_stacker(
    df: DataFrame,
    prob_cols: Sequence[str],
    label_col: str = "labels2",
    weight_col: str | None = "weights",
    max_iter: int = 100,
) -> PipelineModel:
    """Weighted LogisticRegression over model-probability columns
    (M17, README.md:3362-3396)."""
    assembler = VectorAssembler(inputCols=list(prob_cols), outputCol="stack_features")
    indexer = StringIndexer(inputCol=label_col, outputCol="label", handleInvalid="skip")
    lr = LogisticRegression(
        maxIter=max_iter, standardization=False,
        featuresCol="stack_features", labelCol="label",
        **({"weightCol": weight_col} if weight_col else {}),
    )
    return Pipeline(stages=[indexer, assembler, lr]).fit(df)


def train_rf_ensembler(
    df: DataFrame,
    pred_cols: Sequence[str],
    label_col: str = "labels2",
    num_trees: int = 250,
    max_depth: int = 5,
    seed: int = DEFAULT_SEED,
) -> PipelineModel:
    """RF over hard-prediction columns (M18, README.md:3431-3448)."""
    assembler = VectorAssembler(inputCols=list(pred_cols), outputCol="stack_features")
    indexer = StringIndexer(inputCol=label_col, outputCol="label", handleInvalid="skip")
    rf = RandomForestClassifier(
        numTrees=num_trees, maxDepth=max_depth, featureSubsetStrategy="auto",
        seed=seed, featuresCol="stack_features", labelCol="label",
    )
    return Pipeline(stages=[indexer, assembler, rf]).fit(df)


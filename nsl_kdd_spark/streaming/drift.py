"""Streaming distribution-drift monitor: the production wiring of the
PSI tier (``operators/quality.psi_drift``) — serving batches arrive as
file drops, every micro-batch is compared against a FIXED baseline
(the training distribution), and the per-bin PSI report lands in an
append-only monitor table keyed by batch.

Semantics: each batch is an INDEPENDENT drift report against the same
baseline (the standard serving-monitor contract — alerting reads the
latest batch's summed ``psi_u``; trend dashboards read the history).
The baseline must be bounded AND deterministic: use a persisted table
or a hash-deterministic sample (``relational.sample_hash`` — a pure
function of (salt, key)), NOT an unseeded ``df.sample()``. A
nondeterministic baseline recomputed after a driver restart would
make checkpoint-replayed batches report against a DIFFERENT baseline
than their neighbors, breaking cross-batch comparability — and the
replay-identity property below. Persist the baseline yourself for
multi-batch streams (the monitor deliberately does not persist:
operators keep the lazy-plan contract and never pin executor memory
the caller can't release).

Exactly-once: reports write into per-batch ``__batch_id`` partitions
with write-scoped dynamic partition overwrite (the ingest tier's
layout), so an at-least-once replay overwrites its own report instead
of duplicating — and since a report is a pure function of
(baseline, batch) when the baseline is deterministic, the replayed
rows are identical.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from nsl_kdd_spark.operators.quality import psi_drift, psi_drift_categorical
from nsl_kdd_spark.streaming.ingest import _write_partition, start_drop_stream


def _drift_sink(
    batch_df: DataFrame,
    batch_id: int,
    *,
    baseline: DataFrame,
    value_col: str,
    out_path: str,
    lo: float,
    hi: float,
    n_bins: int,
    scale: int,
) -> None:
    """One micro-batch of the numeric drift monitor (module-level so
    the batch-equals-batch-mode contract is directly testable)."""
    report = psi_drift(
        baseline, batch_df, value_col, lo=lo, hi=hi,
        n_bins=n_bins, scale=scale,
    )
    _write_partition(report, out_path, batch_id)


def _drift_sink_categorical(
    batch_df: DataFrame,
    batch_id: int,
    *,
    baseline: DataFrame,
    cat_col: str,
    categories: Sequence[str],
    out_path: str,
    scale: int,
) -> None:
    """Categorical twin of :func:`_drift_sink`."""
    report = psi_drift_categorical(
        baseline, batch_df, cat_col, categories, scale=scale
    )
    _write_partition(report, out_path, batch_id)


def monitor_drift_stream(
    spark: SparkSession,
    source_dir: str,
    schema: StructType | str,
    baseline: DataFrame,
    value_col: str,
    out_path: str,
    checkpoint_dir: str,
    lo: float,
    hi: float,
    n_bins: int = 10,
    scale: int = 1_000_000,
    source_format: str = "parquet",
):
    """Start (availableNow) the PSI drift monitor over a file-drop
    directory. Returns the started StreamingQuery;
    ``.awaitTermination()`` to drain. See the module docstring for
    the baseline contract (bounded + deterministic, caller-persisted).

    Reading the monitor: ``read_drift_reports`` returns
    (batch_id, bin, n_base, n_target, p_*_ppm, psi_u); the headline
    per-batch drift number is ``SUM(psi_u) GROUP BY batch_id`` —
    PSI < 0.1e6 stable, 0.1e6-0.25e6 moderate, > 0.25e6 action (the
    classic thresholds in the monitor's micro-units)."""
    sink = partial(
        _drift_sink,
        baseline=baseline.select(F.col(value_col)), value_col=value_col,
        out_path=out_path, lo=lo, hi=hi, n_bins=n_bins, scale=scale,
    )
    stream = spark.readStream.schema(schema).format(source_format).load(source_dir)
    return start_drop_stream(stream, sink, checkpoint_dir)


def monitor_drift_stream_categorical(
    spark: SparkSession,
    source_dir: str,
    schema: StructType | str,
    baseline: DataFrame,
    cat_col: str,
    categories: Sequence[str],
    out_path: str,
    checkpoint_dir: str,
    scale: int = 1_000_000,
    source_format: str = "parquet",
):
    """Categorical twin of :func:`monitor_drift_stream` — per-batch
    ``psi_drift_categorical`` reports (explicit vocabulary,
    ``__other__`` residual) against the same fixed baseline contract,
    landing in the same exactly-once ``__batch_id`` layout. The
    class-mix shift monitor (event types, predicted labels, routing
    buckets)."""
    sink = partial(
        _drift_sink_categorical,
        baseline=baseline.select(F.col(cat_col)), cat_col=cat_col,
        categories=categories, out_path=out_path, scale=scale,
    )
    stream = spark.readStream.schema(schema).format(source_format).load(source_dir)
    return start_drop_stream(stream, sink, checkpoint_dir)


def read_drift_reports(spark: SparkSession, out_path: str) -> DataFrame:
    """Monitor table with the bookkeeping partition exposed as
    ``batch_id`` — one row per (batch, bin)."""
    return spark.read.parquet(out_path).withColumnRenamed(
        "__batch_id", "batch_id"
    )

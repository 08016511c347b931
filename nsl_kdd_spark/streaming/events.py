"""Event-time windowing + streaming operators (SURVEY.md §2.12).

The reference is pure batch; this module is the engine's greenfield
streaming surface, built directly on Structured Streaming primitives.
Every windowing operator here is defined on a plain DataFrame —
``F.window`` / ``F.session_window`` work identically on batch and
streaming inputs, so the SAME function serves (a) batch backfill,
(b) the streaming job, and (c) the DuckDB-oracle correctness check
(batch mode). Watermarking is applied only when the input is a stream.

Scale notes: tumbling/sliding aggs are partial+final hash aggs keyed by
(window, keys) — linear. Session windows shuffle by user key; state
store size is bounded by watermark horizon. Streaming dedup uses
``dropDuplicatesWithinWatermark`` so state is GC'd past the horizon.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nsl_kdd_spark.streaming.ingest import _write_partition, start_drop_stream


def _maybe_watermark(df: DataFrame, ts_col: str, watermark: str | None) -> DataFrame:
    if watermark is not None and df.isStreaming:
        return df.withWatermark(ts_col, watermark)
    return df


def tumbling_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
    watermark: str | None = None,
) -> DataFrame:
    """Fixed windows aligned to the epoch: one row per (window, keys)."""
    df = _maybe_watermark(df, ts_col, watermark)
    return (
        df.groupBy(F.window(ts_col, duration), *keys)
        .agg(*aggs)
        .withColumn("window_start", F.col("window.start"))
        .withColumn("window_end", F.col("window.end"))
        .drop("window")
    )


def sliding_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
    watermark: str | None = None,
) -> DataFrame:
    """Overlapping windows (each event lands in duration/slide of them)."""
    df = _maybe_watermark(df, ts_col, watermark)
    return (
        df.groupBy(F.window(ts_col, duration, slide), *keys)
        .agg(*aggs)
        .withColumn("window_start", F.col("window.start"))
        .withColumn("window_end", F.col("window.end"))
        .drop("window")
    )


def session_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
    watermark: str | None = None,
) -> DataFrame:
    """Data-driven session windows: a session closes after ``gap`` of
    key inactivity; window.end = last event + gap."""
    df = _maybe_watermark(df, ts_col, watermark)
    return (
        df.groupBy(F.session_window(ts_col, gap), *keys)
        .agg(*aggs)
        .withColumn("session_start", F.col("session_window.start"))
        .withColumn("session_end", F.col("session_window.end"))
        .drop("session_window")
    )


def sessionize_by_gap(
    df: DataFrame, ts_col: str, key_col: str, gap_seconds: int
) -> DataFrame:
    """Batch sessionization via analytic windows (lag -> new-session
    flag -> running sum). Returns the input plus ``session_id``
    (key-scoped ordinal). Same semantics as ``session_agg`` but keeps
    row granularity — the building block for per-session features."""
    from nsl_kdd_spark.functions.scalar import epoch_seconds

    w = Window.partitionBy(key_col).orderBy(ts_col)
    gap_flag = F.when(
        epoch_seconds(ts_col, "double") - F.lag(epoch_seconds(ts_col, "double")).over(w)
        > gap_seconds,
        1,
    ).otherwise(0)
    # first event of each key gets flag 0, cumulative sum is 0-based id
    return df.withColumn("session_id", F.sum(gap_flag).over(w).cast("long"))


def dedup_stream(
    df: DataFrame, keys: Sequence[str], ts_col: str, watermark: str
) -> DataFrame:
    """Streaming exact dedup with bounded state: duplicates arriving
    within the watermark horizon are dropped; state for older keys is
    GC'd. Batch input falls back to dropDuplicates."""
    if df.isStreaming:
        return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(list(keys))
    return df.dropDuplicates(list(keys))


def read_events_stream(spark, sf_dir: str) -> DataFrame:
    """File-source stream over the events table.

    The file source wants a *directory*: stage the file into a scratch
    dir. Timestamp resolution is PROBED from the file via a batch read
    (the fixtures have shipped both TIMESTAMP(MICROS) and
    TIMESTAMP(NANOS)): a normal-resolution file streams with its own
    schema; a NANOS file — which Spark 4's reader rejects — falls back
    to the legacy read-nanos-as-long conf plus the same integer-div
    ns->us truncation the batch reader applies."""
    import shutil
    import tempfile

    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/events.parquet"
    stage = tempfile.mkdtemp(prefix="events_stream_")
    shutil.copy(path, stage)
    try:
        schema = spark.read.parquet(path).schema
    except Exception:
        schema = None  # TIMESTAMP(NANOS): rejected by the plain reader
    if schema is not None and not any(
        f.name == "ts" and f.dataType.typeName() == "long" for f in schema.fields
    ):
        # watermarks demand TIMESTAMP (LTZ); with the session pinned
        # UTC the NTZ->LTZ cast is wall-clock-preserving, so stream
        # results collect identically to the batch NTZ reader's
        return (
            spark.readStream.schema(schema)
            .format("parquet")
            .load(stage)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = StructType([
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ])
    return (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .load(stage)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )


def enrich_stream(
    df: DataFrame,
    dim: DataFrame,
    on: Sequence[str] | str,
    how: str = "inner",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against the
    (slowly-changing) dimension table; the static side is re-resolved
    per batch, so a refreshed dim parquet is picked up without restart.
    Broadcast by default — the dim is small by definition here, and a
    broadcast join keeps the stream side shuffle-free (no state store
    involved, unlike stream-stream joins). Works identically on batch
    inputs, so the DuckDB oracle checks the same function."""
    right = F.broadcast(dim) if broadcast_dim else dim
    return df.join(right, on=list(on) if not isinstance(on, str) else on, how=how)


def write_stream_foreach_batch(
    df: DataFrame, path: str, checkpoint_dir: str
):
    """Idempotent parquet sink via foreachBatch: every micro-batch lands
    in its own ``__batch_id=N`` partition with dynamic partition
    overwrite, so a batch replayed after failure OVERWRITES its own
    partition instead of duplicating rows — exactly-once output on top
    of the checkpoint's at-least-once replay. foreachBatch (not the
    native file sink) is the production pattern because the same hook
    fans out to multi-sink / merge targets. Returns the started query
    (availableNow trigger: drains the source, then stops)."""

    return start_drop_stream(
        df, lambda batch_df, batch_id: _write_partition(batch_df, path, batch_id),
        checkpoint_dir,
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts_col: str = "ts",
    upper_seconds: int = 300,
    watermark: str = "10 minutes",
    suffix: str = "_r",
) -> DataFrame:
    """Stream-stream inner join within a time interval: pair each left
    row with right rows sharing ``key`` where ``0 <= right.ts - left.ts
    <= upper_seconds`` (attribution joins: click -> purchase-within-N).

    Streaming contract: BOTH sides are watermarked and the join
    predicate carries the time bounds — that is what lets the state
    store GC matched/expired rows instead of buffering each side
    forever (the unbounded-state trap of a bare stream-stream join).
    On batch inputs the same expression runs as a plain join, so batch
    oracles check the identical function. Right-side columns are
    suffixed to keep output names unique."""
    if left.isStreaming:
        left = left.withWatermark(ts_col, watermark)
    if right.isStreaming:
        right = right.withWatermark(ts_col, watermark)
    r = right.select(
        F.col(key).alias(f"{key}{suffix}"),
        *[F.col(c).alias(f"{c}{suffix}") for c in right.columns if c != key],
    )
    cond = (
        (F.col(key) == F.col(f"{key}{suffix}"))
        & (F.col(f"{ts_col}{suffix}") >= F.col(ts_col))
        & (
            F.col(f"{ts_col}{suffix}")
            <= F.col(ts_col) + F.expr(f"INTERVAL {upper_seconds} SECONDS")
        )
    )
    return left.join(r, cond, "inner")

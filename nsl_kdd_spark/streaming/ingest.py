"""Streaming corpus ingest: the continuous version of the day-2
registry flow (``operators/registry.py``) — documents arrive as JSONL
shards, every micro-batch dedups against the standing signature
registry and itself, survivors append to the corpus and their
signatures to the registry.

Exactly-once layout (same contract as
``events.write_stream_foreach_batch``): each batch writes its corpus
rows AND registry signatures into its own ``__batch_id=N`` partition
with dynamic partition overwrite, so a replayed batch overwrites its
own output instead of duplicating — idempotent on top of the
checkpoint's at-least-once replay. The registry PROBE reads only
``__batch_id < batch_id`` partitions (:func:`read_registry_before`):
a batch that crashed after its registry write but before the
checkpoint commit is re-delivered with the same batch_id, and reading
its own prior signatures back would make every survivor self-match
and empty-overwrite the batch's partitions (round-4 advisory). The
registry is APPEND-ONLY (one signature shard per batch, never
rewritten); fragmentation is the compactor's job
(``sources/compact.py``), not the ingest path's.

Consistency note: batch N+1 reads the registry as of batch N — within-
batch dups are caught by the self-tier, so no accepted duplicate can
slip between consecutive batches of one stream (micro-batches are
serial). Two INDEPENDENT writers racing on one registry would need a
table-format commit protocol; single-stream ingest (the common case)
does not.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from nsl_kdd_spark.operators.registry import build_registry, dedup_batch


def is_missing_path_error(exc: Exception) -> bool:
    """True iff ``exc`` means "no committed registry yet" — the ONLY
    condition under which a registry probe may fall back to an empty
    registry. Round-6 advisory fix: the probes previously caught bare
    ``Exception``, so a transient storage/read failure of an EXISTING
    registry silently degraded to an empty registry and the batch
    admitted duplicates with no signal; genuine read failures must
    propagate and fail the micro-batch (at-least-once replay retries
    it). Two conditions qualify as nothing-committed:

    - ``PATH_NOT_FOUND``: the registry directory does not exist
      (first batch, nothing written yet).
    - ``UNABLE_TO_INFER_SCHEMA``: the directory EXISTS but holds no
      committed parquet files. Round-7 advisory: under parquet's
      commit protocol this is exactly equivalent to nothing-committed
      — the state a first registry write that crashed mid-write
      leaves behind (only ``_temporary``, never replayed into data).
      Treating it as an error would make the at-least-once replay a
      PERMANENT crash loop (every retry re-reads the same empty dir),
      whereas admitting it as "no registry yet" is correct: the
      crashed batch's rows were never committed, so its re-delivery
      must dedup against the same (empty) standing registry it saw
      the first time."""
    if isinstance(exc, FileNotFoundError):
        return True
    try:
        from pyspark.errors import AnalysisException
    except ImportError:  # pragma: no cover - pyspark < 3.4 layout
        from pyspark.sql.utils import AnalysisException  # type: ignore
    if not isinstance(exc, AnalysisException):
        return False
    _EMPTY = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")
    cond = None
    for attr in ("getCondition", "getErrorClass"):
        get = getattr(exc, attr, None)
        if get is not None:
            try:
                cond = get()
            except Exception:
                cond = None
            if cond:
                break
    if cond is not None:
        return any(c in cond for c in _EMPTY)
    return (
        any(c in str(exc) for c in _EMPTY)
        or "Path does not exist" in str(exc)
        or "Unable to infer schema" in str(exc)
    )


# Commit marker written alongside the first successful registry write
# (round-8 advisory). The leading underscore keeps it invisible to
# parquet's file listing, so registry reads are unaffected.
_REGISTRY_MARKER = "_REGISTRY_COMMITTED"


def _hadoop_path(spark: SparkSession, path: str, name: str):
    """(FileSystem, Path) for ``<path>/<name>`` via the JVM Hadoop FS
    API — the registry may live on HDFS/S3A on a real cluster, where
    driver-local ``open()`` would silently probe the wrong store."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path, name)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def mark_registry_committed(spark: SparkSession, registry_path: str) -> None:
    """Record that at least one registry write has committed. Written
    AFTER the batch's registry shard lands, and idempotent — a replay
    that finds the marker already present leaves it alone. If the
    process crashes between the registry write and the marker, the
    replay re-runs the same batch_id: its probe reads committed data
    (no exception), so the marker's absence is never consulted and it
    is re-attempted at the end of the replay."""
    fs, marker = _hadoop_path(spark, registry_path, _REGISTRY_MARKER)
    if not fs.exists(marker):
        fs.create(marker, True).close()


def registry_committed(spark: SparkSession, registry_path: str) -> bool:
    """True iff some batch has successfully written registry
    signatures before. Gate for the empty-registry fallback (round-8
    advisory): a probe failing with a nothing-committed condition
    while the marker EXISTS means the registry's data files were lost
    (lifecycle deletion, partial corruption) — indistinguishable, by
    the read error alone, from a crashed first write. Falling back to
    an empty registry there silently admits every duplicate; the
    micro-batch must fail instead."""
    fs, marker = _hadoop_path(spark, registry_path, _REGISTRY_MARKER)
    return bool(fs.exists(marker))


class RegistryLostError(RuntimeError):
    """A registry that HAS committed data (its commit marker exists)
    failed its probe with a nothing-committed condition: the parquet
    shards are gone but the directory survives. Deduplicating against
    an assumed-empty registry would silently re-admit every known
    duplicate, so the micro-batch fails loudly instead (at-least-once
    replay retries; the operator restores the registry or removes the
    marker to explicitly accept a cold start)."""


def _probe_or_empty(
    spark: SparkSession,
    registry_path: str,
    batch_id: int,
    empty_registry,
) -> DataFrame:
    """The shared registry-probe contract for every ingest sink:
    return the standing registry as of the previous batch, or — ONLY
    when nothing has ever committed (no data AND no commit marker) —
    the caller's empty registry. Any other failure propagates and
    fails the micro-batch (round-6 advisory), including the
    marker-present-but-data-gone state (round-8 advisory)."""
    try:
        return read_registry_before(spark, registry_path, batch_id)
    except Exception as e:
        if not is_missing_path_error(e):
            raise
        if registry_committed(spark, registry_path):
            raise RegistryLostError(
                f"registry at {registry_path!r} has a commit marker "
                f"({_REGISTRY_MARKER}) but no readable parquet data; "
                "refusing the empty-registry fallback"
            ) from e
        return empty_registry()


def _write_registry_partition(
    df: DataFrame, registry_path: str, batch_id: int
) -> None:
    """Write a registry shard AND stamp the commit marker — but only
    when the write actually landed data files (round-9 advisory). A
    zero-row registry write (empty first micro-batch; a winnow batch
    of all short, fingerprint-less docs) creates the registry dir
    with just ``_SUCCESS`` — no parquet files, no partition dir — so
    the next probe raises UNABLE_TO_INFER_SCHEMA; with the marker
    already present, ``_probe_or_empty`` would then raise
    RegistryLostError on EVERY replay: a permanent crash loop that
    re-wedges exactly what the round-7 nothing-committed handling
    unwedged. The gate is a pure FS existence check on this batch's
    ``__batch_id=N`` partition dir (dynamic partition overwrite only
    creates it when rows were written) — no recompute, no count."""
    s = df.sparkSession
    _write_partition(df, registry_path, batch_id)
    fs, part = _hadoop_path(s, registry_path, f"__batch_id={batch_id}")
    if fs.exists(part):
        mark_registry_committed(s, registry_path)


def _write_partition(df: DataFrame, path: str, batch_id: int) -> None:
    """Write ``df`` into its own ``__batch_id`` partition with DYNAMIC
    partition overwrite, scoped to THIS write via the writer option —
    never the session conf. A set/restore of the global conf races
    when several streams share one SparkSession (round-5 review: one
    stream's finally-restore to 'static' mid-another-stream's write
    turns that overwrite STATIC, deleting every previously written
    partition of its table)."""
    (
        df.withColumn("__batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__batch_id")
        .parquet(path)
    )


def start_drop_stream(
    stream: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
):
    """Start ``stream`` with ``sink(batch_df, batch_id)`` run on every
    micro-batch (foreachBatch), its progress in ``checkpoint_dir``, on
    the availableNow trigger: the query drains what the source holds,
    then stops. Returns the started StreamingQuery. The one starter of
    every drop-directory stream (ingest, drift monitors, event sink)."""
    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Corpus/registry tables written by the ingest stream, with the
    bookkeeping partition column dropped."""
    return spark.read.parquet(path).drop("__batch_id")


def read_registry_before(
    spark: SparkSession, path: str, batch_id: int
) -> DataFrame:
    """The standing registry AS OF the previous batch: partitions with
    ``__batch_id < batch_id`` only. The replay-safety read for ingest
    sinks — foreachBatch is at-least-once, so a batch that crashed
    AFTER its registry write but BEFORE the checkpoint commit is
    re-delivered with the same batch_id; reading the full registry
    would let the replay see its own prior signatures, self-match
    every survivor at distance 0, and overwrite its partitions with
    EMPTY output (silent data loss). Filtering on the partition
    column prunes at the file listing, so the probe never costs more
    than the intended registry scan."""
    return (
        spark.read.parquet(path)
        .filter(F.col("__batch_id") < batch_id)
        .drop("__batch_id")
    )


def _document_sink(
    batch_df: DataFrame,
    batch_id: int,
    *,
    corpus_path: str,
    registry_path: str,
    id_col: str,
    text_col: str,
    num_hashes: int,
    band_size: int,
    threshold: float,
    shingle_n: int,
) -> None:
    """One micro-batch of the deduplicating document ingest
    (module-level so the replay contract is directly testable: calling
    it twice with the SAME batch_id must produce identical output, not
    an empty overwrite). The registry probe reads only partitions with
    ``__batch_id < batch_id`` — a replayed batch never dedups against
    its own prior write."""
    s = batch_df.sparkSession
    registry = _probe_or_empty(
        s, registry_path, batch_id,
        lambda: build_registry(
            batch_df.limit(0), id_col, text_col, num_hashes, shingle_n
        ),
    )
    res = dedup_batch(
        batch_df, registry,
        id_col=id_col, text_col=text_col,
        num_hashes=num_hashes, band_size=band_size,
        threshold=threshold, shingle_n=shingle_n,
    )
    accepted = res.accepted.persist()
    try:
        _write_partition(accepted, corpus_path, batch_id)
        _write_registry_partition(res.accepted_signatures, registry_path, batch_id)
    finally:
        accepted.unpersist()
        res.cleanup()  # drop per-batch signature/shingle caches


def ingest_documents_stream(
    spark: SparkSession,
    source_dir: str,
    schema: StructType | str,
    corpus_path: str,
    registry_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    band_size: int = 4,
    threshold: float = 0.7,
    shingle_n: int = 3,
):
    """Start (availableNow) the deduplicating ingest stream over a
    JSONL drop directory. Returns the started StreamingQuery; await
    ``.awaitTermination()`` to drain. Registry verification runs in
    signature-estimate mode — historical text is never re-read, so
    per-batch cost is O(batch x collision rate) regardless of corpus
    age."""

    sink = partial(
        _document_sink,
        corpus_path=corpus_path, registry_path=registry_path,
        id_col=id_col, text_col=text_col,
        num_hashes=num_hashes, band_size=band_size,
        threshold=threshold, shingle_n=shingle_n,
    )
    stream = spark.readStream.schema(schema).json(source_dir)
    return start_drop_stream(stream, sink, checkpoint_dir)

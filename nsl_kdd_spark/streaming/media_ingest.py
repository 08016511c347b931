"""Streaming media ingest with perceptual dedup: the multimodal twin
of ``streaming/ingest.py`` — image payloads arrive as parquet drops,
every micro-batch fingerprints its payloads (``codecs.phash64`` /
``codecs.phash128`` through the Arrow batch path), drops perceptual
near-duplicates of the standing registry AND of itself, and appends
survivors to the corpus and their signatures to the registry.

Same exactly-once layout as the text ingest: each batch writes its
rows and signatures into its own ``__batch_id=N`` partition with
dynamic partition overwrite, and the registry probe reads only
``__batch_id < batch_id`` partitions, so an at-least-once replay
overwrites its own output instead of duplicating OR self-rejecting.
The registry holds (media_id, phash[, phash_lo]) — 16-24 bytes per
accepted image, so the standing state is ~1-1.5 GB per 60M images and
the per-batch probe is a banded equi-join against it
(``dedup.banded_hamming_join``): O(batch x collision rate), the
registry is never self-joined and payloads are never re-read.

Signature width is the scale knob (see ``banded_hamming_pairs``):
``bits=128`` (two longs, 16-bit bands at bands=8) keeps the self-tier
and registry-probe buckets sub-quadratic on corpora past a few
thousand images; ``bits=64`` remains the compact default for small
registries and existing layouts.

Within-batch policy: keep the LOWEST media_id of each near-dup pair
(the dedup tier's canonical tie rule). Chains (A~B, B~C, A!~C) keep
only A — same conservative contract as the text ingest's self-tier.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from nsl_kdd_spark.multimodal.binary import signature_frame
from nsl_kdd_spark.operators.dedup import (
    banded_hamming_join,
    banded_hamming_pairs,
)
from nsl_kdd_spark.streaming.ingest import (
    _probe_or_empty,
    _write_partition,
    _write_registry_partition,
    start_drop_stream,
)

_SIG_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("phash", LongType()),
])

_SIG_SCHEMA_128 = StructType([
    StructField("media_id", LongType()),
    StructField("phash_hi", LongType()),
    StructField("phash_lo", LongType()),
])


def _sig_layout(bits: int) -> tuple[StructType, list[str]]:
    if bits == 64:
        return _SIG_SCHEMA, ["phash"]
    if bits == 128:
        return _SIG_SCHEMA_128, ["phash_hi", "phash_lo"]
    raise ValueError(f"bits must be 64 or 128, got {bits}")


def _signatures(
    media: DataFrame,
    hash_fn: Callable[[bytes], int | tuple[int, int]],
    on_error: str = "fail",
    bits: int = 64,
) -> DataFrame:
    """(media_id, phash...) via the shared Arrow extractor
    (``multimodal.binary.signature_frame`` — one implementation of
    the decode/signed-fold/schema logic for both the batch near-dup
    and this ingest; round-5 review)."""
    return signature_frame(media, "media_id", hash_fn, bits, on_error)


def _media_sink(
    batch_df: DataFrame,
    batch_id: int,
    *,
    corpus_path: str,
    registry_path: str,
    max_hamming: int,
    bands: int,
    hash_fn: Callable[[bytes], int | tuple[int, int]],
    on_error: str,
    bits: int = 64,
) -> None:
    """One micro-batch of the perceptual media ingest (module-level so
    the replay contract is directly testable: re-running the SAME
    batch_id must reproduce its output, not empty-overwrite it). The
    registry probe reads only ``__batch_id < batch_id`` partitions —
    a replayed batch never sees its own prior signatures, so the
    at-least-once redelivery after a crash-between-write-and-commit
    stays the documented idempotent overwrite."""
    s = batch_df.sparkSession
    schema, sig_cols = _sig_layout(bits)
    sigs = _signatures(batch_df, hash_fn, on_error, bits).localCheckpoint()
    # self-tier: drop the higher id of every within-batch pair
    self_pairs = banded_hamming_pairs(
        sigs, "media_id", sig_cols,
        bands=bands, max_hamming=max_hamming,
    )
    # no distinct before the left_anti (optimization r14, guide §2.4):
    # anti joins are EXISTS-semantics, duplicate id_b witnesses change
    # nothing — the distinct was an extra exchange+agg per micro-batch
    self_dropped = self_pairs.select(F.col("id_b").alias("media_id"))
    survivors = sigs.join(self_dropped, "media_id", "left_anti")
    # registry tier: any match within max_hamming rejects. Fallback
    # to an empty registry only when nothing ever committed — a
    # commit marker with unreadable data fails the batch (r8 advisory)
    registry = _probe_or_empty(
        s, registry_path, batch_id,
        lambda: s.createDataFrame([], schema),
    )
    reg_hits = banded_hamming_join(
        survivors, registry,
        "media_id", sig_cols, "media_id", sig_cols,
        bands=bands, max_hamming=max_hamming,
    ).select(F.col("id_l").alias("media_id"))  # anti-consumer: no distinct (r14)
    accepted_sigs = survivors.join(
        reg_hits, "media_id", "left_anti"
    ).persist()
    try:
        accepted_rows = batch_df.join(
            accepted_sigs.select("media_id"), "media_id", "left_semi"
        )
        _write_partition(accepted_rows, corpus_path, batch_id)
        _write_registry_partition(accepted_sigs, registry_path, batch_id)
    finally:
        accepted_sigs.unpersist()


def ingest_media_stream(
    spark: SparkSession,
    source_dir: str,
    corpus_path: str,
    registry_path: str,
    checkpoint_dir: str,
    max_hamming: int = 6,
    bands: int = 8,
    hash_fn: Callable[[bytes], int | tuple[int, int]] | None = None,
    on_error: str = "fail",
    bits: int = 64,
):
    """Start (availableNow) the perceptually-deduplicating media
    ingest over a parquet drop directory of MEDIA_SCHEMA rows.
    Returns the started StreamingQuery; ``.awaitTermination()`` to
    drain. Re-encoded copies (the same image re-dropped as jpeg, a
    resized thumbnail) land within ``max_hamming`` bits of their
    registry signature and are rejected without touching any stored
    payload. ``on_error="skip"`` quarantines undecodable payloads
    (dropped from corpus and registry) instead of failing the batch
    — continuous ingest must not wedge on one corrupt blob.

    ``bits=128`` switches to the two-long ``codecs.phash128``
    signature (registry columns phash_hi/phash_lo): 16-bit band
    buckets at bands=8 instead of 8-bit, the setting for corpora past
    a few thousand images. A registry written at one width must keep
    that width — probe columns are part of the layout."""
    if on_error not in ("fail", "skip"):
        # validate before the stream starts — _signatures re-checks,
        # but inside foreachBatch the error would only surface on the
        # first micro-batch
        raise ValueError(f"on_error must be 'fail' or 'skip', got {on_error!r}")
    _sig_layout(bits)  # validate bits before the stream starts
    if hash_fn is None:
        from nsl_kdd_spark.multimodal.codecs import phash64, phash128

        hash_fn = phash64 if bits == 64 else phash128

    from nsl_kdd_spark.multimodal.binary import MEDIA_SCHEMA

    sink = partial(
        _media_sink,
        corpus_path=corpus_path, registry_path=registry_path,
        max_hamming=max_hamming, bands=bands,
        hash_fn=hash_fn, on_error=on_error, bits=bits,
    )
    stream = spark.readStream.schema(MEDIA_SCHEMA).parquet(source_dir)
    return start_drop_stream(stream, sink, checkpoint_dir)

"""Streaming document ingest with winnow-fingerprint dedup: the
substring-level member of the registry-ingest family — text minhash
(``streaming/ingest.py``) catches whole-document near-dups, media
phash (``media_ingest.py``) perceptual twins, embeddings
(``vector_ingest.py``) semantic twins; THIS one catches documents
that verbatim-contain a span of an already-accepted document
(winnowing's guarantee: any shared run of >= w+k-1 tokens shares a
selected fingerprint — the quote/boilerplate/mirror case that
whole-doc similarity misses on long documents).

Per micro-batch of (doc_id, text) rows:

1. within-batch: MOSS-style overlap pairs over the batch's winnowed
   fingerprints (``winnow.winnow_overlap_pairs`` — min_shared,
   max_fp_df); each pair keeps the LOWEST doc_id (the family's
   conservative contract).
2. registry tier: survivors' distinct fingerprint values equi-join
   the standing (doc_id, fp) registry; fingerprints matching more
   than ``max_fp_df`` DISTINCT registry documents are discarded as
   boilerplate BEFORE pair counting (the stop-fingerprint guard,
   computed from the join output itself — per-fp registry df, never
   an O(registry) re-aggregation); a survivor sharing >=
   ``min_shared`` surviving fingerprints with any SINGLE registry
   document is rejected.
3. accepted rows append to the corpus, their (doc_id, fp) rows to
   the registry — both into this batch's ``__batch_id=N`` partition
   with dynamic partition overwrite, probe reading only
   ``__batch_id < batch_id`` (the family's exactly-once replay
   contract).

Registry state is ~2/(w+1) fingerprints per k-gram — a few dozen
16-hex strings per document; the probe is a fingerprint equi-join
bounded by per-fp document frequency, never a corpus self-join.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from nsl_kdd_spark.operators.winnow import (
    overlap_pairs_from_fps,
    winnow_fingerprints,
)
from nsl_kdd_spark.streaming.ingest import (
    _probe_or_empty,
    _write_partition,
    _write_registry_partition,
    start_drop_stream,
)

DOC_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("text", StringType()),
])

_REGISTRY_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("fp", StringType()),
])


@dataclass(frozen=True)
class WinnowBatchResult:
    """One ingest batch's dedup output: the ACCEPTED (doc_id, text)
    rows and their (doc_id, fp) fingerprints — the registry shard —
    both carved from the SAME fingerprint pass (round-9 advisory:
    the sink previously re-ran the per-doc O(m·w) md5 selection over
    the accepted rows to build the shard, paying the cost the single
    pass was introduced to avoid). ``accepted_fps`` is a semi-join of
    the batch fingerprint table against ``accepted``'s ids, so a
    caller that persists ``accepted`` before writing both outputs
    (the sink does) computes the reject tiers exactly once."""

    accepted: DataFrame
    accepted_fps: DataFrame


def winnow_dedup_batch(
    batch: DataFrame,
    registry: DataFrame,
    *,
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    max_fp_df: int = 50,
) -> WinnowBatchResult:
    """The pure dedup computation of one ingest batch — exposed so
    batch-mode callers (and the q151 oracle gate) exercise the exact
    sink semantics without a stream. ``batch`` is DOC_SCHEMA rows;
    ``registry`` is the standing (doc_id, fp) fingerprint table.
    ``.accepted`` holds the surviving batch rows (doc_id, text):
    within-batch overlap pairs keep the lowest doc_id, then survivors
    sharing >= ``min_shared`` non-boilerplate fingerprints with any
    single registry document are dropped. ``.accepted_fps`` is the
    survivors' (doc_id, fp) table, ready to append to the registry.
    Documents shorter than w+k-1 tokens have no fingerprints and
    always pass (route them through the exact/minhash tiers
    instead)."""
    # ONE fingerprint pass serves everything: the within-batch pair
    # join, the registry probe, and the accepted-fps registry shard
    # all read the same materialized fp table (fingerprinting is the
    # per-doc O(m·w) md5 cost — paying it twice per batch doubled
    # the probe cell in corpus_scale). localCheckpoint, DELIBERATELY,
    # after measuring the round-9 advisory's persist() alternative:
    # swapping to persist()+count() made the corpus_scale probe cell
    # 2.3x slower (≈3 s -> ≈7 s, reproduced across interleaved A/B
    # reps — the cached relation costs the downstream anti-joins
    # their broadcast planning), so the checkpoint stays. Fault
    # story: checkpoint blocks are not fault-tolerant, but this runs
    # inside a foreachBatch sink whose micro-batch retries wholesale
    # under the at-least-once contract — an executor loss re-runs
    # the batch (idempotent via the __batch_id partition overwrite)
    # instead of recomputing lost partitions; slower on loss, never
    # wrong.
    batch_fps = (
        winnow_fingerprints(batch, "doc_id", "text", k=k, w=w)
        .select("doc_id", "fp").distinct().localCheckpoint()
    )
    self_pairs = overlap_pairs_from_fps(
        batch_fps, min_shared=min_shared, max_fp_df=max_fp_df
    )
    # self_dropped feeds TWO anti joins (survivors + fps); without
    # truncation each re-runs the whole within-batch overlap-pair
    # join. Lazy checkpoint: tiny id table, one computation
    # (optimization r13).
    self_dropped = self_pairs.select(
        F.greatest("id_a", "id_b").alias("doc_id")
    ).distinct().localCheckpoint(eager=False)
    survivors = batch.join(self_dropped, "doc_id", "left_anti")

    fps = batch_fps.join(self_dropped, "doc_id", "left_anti").select(
        F.col("doc_id").alias("__bid"), "fp"
    )
    # hits is the batch-vs-registry fp join — the dominant join of
    # the probe — and feeds both the hot-fp aggregate and the reject
    # pairing; lazy checkpoint so it runs once (optimization r13:
    # winnowreg probe cells measured ~25% faster).
    hits = fps.join(
        registry.select(F.col("doc_id").alias("__rid"), "fp"), on="fp"
    ).localCheckpoint(eager=False)
    # stop-fingerprint guard on the REGISTRY side, measured from the
    # join output (distinct registry docs per probed fp == that fp's
    # registry df): boilerplate shared by everyone must not reject
    hot = (
        hits.groupBy("fp")
        .agg(F.countDistinct("__rid").alias("__df"))
        .filter(F.col("__df") > max_fp_df)
        .select("fp")
    )
    reg_rejects = (
        hits.join(F.broadcast(hot), "fp", "left_anti")
        .groupBy("__bid", "__rid")
        .agg(F.count(F.lit(1)).alias("__shared"))
        .filter(F.col("__shared") >= min_shared)
        .select(F.col("__bid").alias("doc_id"))
        .distinct()
    )
    accepted = survivors.join(reg_rejects, "doc_id", "left_anti")
    return WinnowBatchResult(
        accepted=accepted,
        # the registry shard reuses the checkpointed fp table — no
        # re-fingerprint — and shares `accepted`'s subplan, so the
        # sink's persist of `accepted` makes this a cache read
        accepted_fps=batch_fps.join(
            accepted.select("doc_id"), "doc_id", "left_semi"
        ),
    )


def _winnow_sink(
    batch_df: DataFrame,
    batch_id: int,
    *,
    corpus_path: str,
    registry_path: str,
    k: int,
    w: int,
    min_shared: int,
    max_fp_df: int,
) -> None:
    """One micro-batch of the winnow-registry ingest (module-level so
    the replay contract is directly testable). The registry probe
    reads only ``__batch_id < batch_id`` partitions — a replayed
    batch never sees its own prior registry rows."""
    s = batch_df.sparkSession
    registry = _probe_or_empty(
        s, registry_path, batch_id,
        lambda: s.createDataFrame([], _REGISTRY_SCHEMA),
    )
    res = winnow_dedup_batch(
        batch_df, registry,
        k=k, w=w, min_shared=min_shared, max_fp_df=max_fp_df,
    )
    accepted = res.accepted.persist()
    try:
        _write_partition(accepted, corpus_path, batch_id)
        # the registry shard is the SAME fingerprint table the dedup
        # pass already computed (round-9 advisory: no re-fingerprint),
        # semi-joined against the persisted accepted set — the reject
        # tiers run once, not once per output
        _write_registry_partition(res.accepted_fps, registry_path, batch_id)
    finally:
        accepted.unpersist()


def ingest_winnow_stream(
    spark: SparkSession,
    source_dir: str,
    corpus_path: str,
    registry_path: str,
    checkpoint_dir: str,
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    max_fp_df: int = 50,
):
    """Start (availableNow) the winnow-fingerprint dedup ingest over
    a parquet drop directory of DOC_SCHEMA rows. Returns the started
    StreamingQuery; ``.awaitTermination()`` to drain. The (k, w)
    geometry is part of the registry layout — a registry written
    with one geometry must be probed with the same, exactly like the
    media registry's signature width and the vector registry's plane
    geometry."""
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k} w={w}")
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")

    sink = partial(
        _winnow_sink,
        corpus_path=corpus_path, registry_path=registry_path,
        k=k, w=w, min_shared=min_shared, max_fp_df=max_fp_df,
    )
    stream = spark.readStream.schema(DOC_SCHEMA).parquet(source_dir)
    return start_drop_stream(stream, sink, checkpoint_dir)

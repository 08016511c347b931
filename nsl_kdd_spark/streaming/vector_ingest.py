"""Streaming embedding ingest with semantic dedup: the SemDedup twin
of ``streaming/ingest.py`` (minhash text) and ``media_ingest.py``
(perceptual hashes) — rows of (vec_id, embedding) arrive as parquet
drops, every micro-batch drops near-duplicates of the standing
embedding registry AND of itself by exact cosine >= ``threshold``
(candidates from seeded sign-LSH buckets), and appends survivors to
the corpus and their (vec_id, embedding, bucket) rows to the
registry.

Same exactly-once layout as the other two ingests: each batch writes
its rows and registry entries into its own ``__batch_id=N`` partition
with dynamic partition overwrite, and the registry probe reads only
``__batch_id < batch_id`` partitions, so an at-least-once replay
overwrites its own output instead of duplicating OR self-rejecting.

Candidate generation is sign-LSH: the registry stores ONE bucket per
vector; the incoming batch probes each row's ``n_probe`` likeliest
buckets (its own plus the narrowest-margin single flips —
``vector.sign_probe_buckets``, shared with ``knn_lsh``). Precision is
exact (every candidate is re-scored with the full cosine before
rejection); recall is the documented LSH contract — a true near-dup
whose registry bucket is outside the probe set slips through, and
``n_planes`` (bucket granularity) / ``n_probe`` (probe width) are the
recall/cost knobs. ``n_probe = 2**n_planes`` probes every bucket =
exact-recall mode for small registries and tests.

Registry state is the full embedding (needed for the exact verify):
~0.5 KB per 64-dim float64 vector — ~50 GB per 100M accepted vectors,
a parquet table, never self-joined; the per-batch probe is a bucket
equi-join costing O(batch x bucket collision rate).

Within-batch policy: keep the LOWEST vec_id of each near-dup pair;
chains (A~B, B~C, A!~C) keep only A — the same conservative contract
as the text and media ingests.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from nsl_kdd_spark.functions.vector import (
    cosine_prenorm,
    norm,
    sign_bits_hex,
    sign_probe_buckets,
    to_double_array,
)
from nsl_kdd_spark.operators.similarity import hyperplanes
from nsl_kdd_spark.streaming.ingest import (
    _probe_or_empty,
    _write_partition,
    _write_registry_partition,
    start_drop_stream,
)

VECTOR_SCHEMA = StructType([
    StructField("vec_id", LongType()),
    StructField("embedding", ArrayType(DoubleType())),
])

_REGISTRY_SCHEMA = StructType([
    StructField("vec_id", LongType()),
    StructField("embedding", ArrayType(DoubleType())),
    StructField("__bucket", LongType()),
])


def semantic_dedup_batch(
    batch: DataFrame,
    registry: DataFrame,
    *,
    threshold: float,
    dim: int,
    n_planes: int = 6,
    n_probe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """The pure dedup computation of one ingest batch — exposed so
    batch-mode callers (and the q144 oracle gate) exercise the exact
    sink semantics without a stream. ``batch`` is VECTOR_SCHEMA rows;
    ``registry`` is (vec_id, embedding, __bucket) rows in the SAME
    plane geometry (compute buckets with
    ``sign_bits_hex(embedding, hyperplanes(dim, n_planes, seed))``).
    Returns the ACCEPTED batch rows as (vec_id, embedding, __bucket):
    within-batch near-dups (cosine >= ``threshold``) keep the lowest
    vec_id, then survivors matching any registry vector are dropped.
    ``n_probe = 2**n_planes`` probes every bucket = exact recall."""
    planes = hyperplanes(dim, n_planes, seed)
    # the batch norm rides the checkpointed signature table
    # (optimization r13): every candidate pair in BOTH verify joins
    # costs one dot fold instead of one dot + two norm folds —
    # cosine_prenorm is bit-identical to the previous cosine() filter
    sigs = batch.select(
        "vec_id", to_double_array("embedding").alias("embedding")
    ).withColumn(
        "__bucket", sign_bits_hex(F.col("embedding"), planes)
    ).withColumn(
        "__norm", norm(F.col("embedding"))
    ).localCheckpoint()

    # self-tier: candidates where one row's probe set covers the
    # other's bucket (either direction — GREATEST-normalized so a
    # one-directional probe hit still drops the higher id), verified
    # with the exact cosine
    probes = sigs.select(
        F.col("vec_id").alias("id_p"),
        F.col("embedding").alias("__pv"),
        F.col("__norm").alias("__pn"),
        F.explode(
            sign_probe_buckets(F.col("embedding"), planes, n_probe)
        ).alias("__bucket"),
    )
    base = sigs.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("__bv"),
        F.col("__norm").alias("__bn"),
        "__bucket",
    )
    self_dropped = (
        probes.join(base, on="__bucket")
        .filter(F.col("id_p") != F.col("id_b"))
        .filter(
            cosine_prenorm(
                F.col("__pv"), F.col("__bv"), F.col("__pn"), F.col("__bn")
            ) >= threshold
        )
        # no distinct (optimization r14, guide §2.4): the consumer is
        # a left_anti join — EXISTS semantics — so duplicate witness
        # rows change nothing and the distinct's exchange+aggregate
        # was a whole extra stage per micro-batch
        .select(F.greatest("id_p", "id_b").alias("vec_id"))
    )
    survivors = sigs.join(self_dropped, "vec_id", "left_anti")

    # registry tier: probe the standing registry's buckets, exact
    # cosine verifies every candidate before rejection (the registry
    # norm is recomputed per batch probe — the stored registry schema
    # stays (vec_id, embedding, __bucket))
    probes_s = survivors.select(
        F.col("vec_id").alias("id_l"),
        F.col("embedding").alias("__lv"),
        F.col("__norm").alias("__ln"),
        F.explode(
            sign_probe_buckets(F.col("embedding"), planes, n_probe)
        ).alias("__bucket"),
    )
    reg_hits = (
        probes_s.join(
            registry.select(
                F.col("embedding").alias("__rv"), "__bucket"
            ).withColumn("__rn", norm(F.col("__rv"))),
            on="__bucket",
        )
        .filter(
            cosine_prenorm(
                F.col("__lv"), F.col("__rv"), F.col("__ln"), F.col("__rn")
            ) >= threshold
        )
        # same EXISTS argument as the self-tier: distinct removed (r14)
        .select(F.col("id_l").alias("vec_id"))
    )
    return survivors.join(reg_hits, "vec_id", "left_anti").drop("__norm")


def _vector_sink(
    batch_df: DataFrame,
    batch_id: int,
    *,
    corpus_path: str,
    registry_path: str,
    threshold: float,
    dim: int,
    n_planes: int,
    n_probe: int,
    seed: int,
) -> None:
    """One micro-batch of the semantically-deduplicating embedding
    ingest (module-level so the replay contract is directly testable:
    re-running the SAME batch_id must reproduce its output, not
    empty-overwrite it). The registry probe reads only
    ``__batch_id < batch_id`` partitions — a replayed batch never
    sees its own prior registry rows."""
    s = batch_df.sparkSession
    # nothing-committed fallback only; marker-present-but-data-gone
    # and transient read failures fail the batch (r6/r8 advisories)
    registry = _probe_or_empty(
        s, registry_path, batch_id,
        lambda: s.createDataFrame([], _REGISTRY_SCHEMA),
    )
    accepted = semantic_dedup_batch(
        batch_df, registry,
        threshold=threshold, dim=dim, n_planes=n_planes,
        n_probe=n_probe, seed=seed,
    ).persist()
    try:
        accepted_rows = batch_df.join(
            accepted.select("vec_id"), "vec_id", "left_semi"
        )
        _write_partition(accepted_rows, corpus_path, batch_id)
        _write_registry_partition(accepted, registry_path, batch_id)
    finally:
        accepted.unpersist()


def ingest_vector_stream(
    spark: SparkSession,
    source_dir: str,
    corpus_path: str,
    registry_path: str,
    checkpoint_dir: str,
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 6,
    n_probe: int = 4,
    seed: int = 42,
):
    """Start (availableNow) the semantically-deduplicating embedding
    ingest over a parquet drop directory of VECTOR_SCHEMA rows.
    Returns the started StreamingQuery; ``.awaitTermination()`` to
    drain. A re-embedded copy of an accepted vector (cosine >=
    ``threshold`` against the registry) is rejected without the
    registry ever being self-joined. Plane geometry (``dim`` /
    ``n_planes`` / ``seed``) is part of the registry layout — a
    registry written with one geometry must be probed with the same,
    exactly like the media registry's signature width."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if not 1 <= n_probe <= 2 ** n_planes:
        raise ValueError(
            f"n_probe must be in [1, 2^n_planes], got {n_probe}"
        )

    sink = partial(
        _vector_sink,
        corpus_path=corpus_path, registry_path=registry_path,
        threshold=threshold, dim=dim, n_planes=n_planes,
        n_probe=n_probe, seed=seed,
    )
    stream = spark.readStream.schema(VECTOR_SCHEMA).parquet(source_dir)
    return start_drop_stream(stream, sink, checkpoint_dir)

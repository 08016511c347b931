"""Projection / filter / repair operators (SURVEY.md §2.2).

Everything here is a pure ``DataFrame -> DataFrame`` built from column
expressions only — no Python row boundary — so Catalyst folds these
into scans (predicate pushdown, column pruning) untouched.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def replace_values(
    df: DataFrame, column: str, mapping: Mapping[object, object]
) -> DataFrame:
    """Value repair, e.g. the reference's ``su_attempted`` 2.0 -> 0.0
    (README.md:676, P9) — expressed as a CASE chain instead of
    ``DataFrame.replace`` so it stays a plain expression."""
    expr: Column = F.col(column)
    for old, new in mapping.items():
        expr = F.when(F.col(column) == F.lit(old), F.lit(new)).otherwise(expr)
    return df.withColumn(column, expr)


def drop_constant_columns(df: DataFrame, candidates: Sequence[str]) -> DataFrame:
    """Data-driven degenerate-column elimination (the reference drops
    ``num_outbound_cmds`` after a crosstab shows one distinct value,
    README.md:977-995). One aggregate job over all candidates: a column
    is constant when ``min(c) <=> max(c)``, an exact check (no sketch,
    no hash collisions) that is null-safe, so a column of nulls, or of
    nulls and one value, counts as constant. Ordering puts NaN above
    every number, so a column holding NaN and a number is kept."""
    if not candidates:
        return df
    same = df.agg(
        *[F.min(c).eqNullSafe(F.max(c)).alias(c) for c in candidates]
    ).first()
    constant = [c for c in candidates if same[c]]
    return df.drop(*constant) if constant else df


def with_deterministic_id(
    df: DataFrame, id_col: str = "id", order_by: Sequence[str] | None = None
) -> DataFrame:
    """Row-id assignment. The reference uses
    ``monotonically_increasing_id()`` (README.md:260) whose values shift
    whenever uncached lineage recomputes with different partitioning —
    fragile for result-assembly joins at scale (SURVEY.md §4.3). With
    ``order_by`` the id is a ``row_number`` over a stable sort —
    deterministic, at the cost of one global sort; without, it falls
    back to the fast nondeterministic variant (caller must cache)."""
    if order_by:
        w = Window.orderBy(*[F.col(c) for c in order_by])
        return df.withColumn(id_col, F.row_number().over(w).cast("long"))
    return df.withColumn(id_col, F.monotonically_increasing_id())


def one_hot_columns(column: str, categories: Sequence[str]) -> list[Column]:
    """One-hot as conditional projection (SURVEY.md M4/D2): replaces the
    reference's dict-closure UDF-returning-struct (README.md:1052-1078)
    with one ``when(col == cat, 1.0).otherwise(0.0)`` column per
    category, named ``<column>_<cat>`` — pure expressions, codegen'd,
    no Python worker; a value outside ``categories`` is all zeros. One
    column reference and one pair of literals serve every category, so
    building the list costs few driver round trips. Category provenance
    is the caller's decision (the reference's per-dataset vocabularies
    are its §7.4 fidelity quirk); pass train-side categories for sane
    train/test alignment."""
    src, one, zero = F.col(column), F.lit(1.0), F.lit(0.0)
    return [
        F.when(src == F.lit(cat), one).otherwise(zero).alias(f"{column}_{cat}")
        for cat in categories
    ]


def one_hot(df: DataFrame, column: str, categories: Sequence[str]) -> DataFrame:
    """``df`` plus the :func:`one_hot_columns` of ``column``."""
    return df.select("*", *one_hot_columns(column, categories))


def unpivot(
    df: DataFrame,
    ids: Sequence[str],
    values: Sequence[str],
    var_name: str = "variable",
    value_name: str = "value",
) -> DataFrame:
    """Wide -> long (melt): one output row per (id row, value column).
    Inverse of the crosstab/pivot primitive (SURVEY §2.4 A2) and the
    natural pre-step for per-column profiling at scale. Built on the
    native ``DataFrame.unpivot`` (a Generate node — no shuffle, no
    UDF); value columns must share a common type, so they are cast to
    double up front."""
    casted = df.select(
        *ids, *[F.col(c).cast("double").alias(c) for c in values]
    )
    return casted.unpivot(list(ids), list(values), var_name, value_name)


def md5_key(key_col, salt: str = "") -> "Column":
    """``md5(salt || key)`` as a hex string — the shared hash every
    deterministic sampler/splitter/sharder AND the epoch shuffle key
    on. One definition so the salting/cast scheme can never diverge
    between consumers (review r03). Accepts a column name or a
    Column expression (r10: the hashed-n-gram classifier buckets
    computed gram strings, not physical columns)."""
    c = F.col(key_col) if isinstance(key_col, str) else key_col
    return F.md5(F.concat(F.lit(salt), c.cast("string")))


def md5_bucket16(key_col, salt: str = "") -> "Column":
    """The ONE 16-bit md5 bucket expression every deterministic
    splitter/sampler/sharder keys on (``md5(salt || key)`` first 4 hex
    digits as an int in [0, 65536)). Centralized because the
    cross-function guarantees — split/sample consistency, superset
    growth under a raised fraction, stable shard addressing, and the
    q68/q83/q86/q88/q90/q97 oracles that replay the same arithmetic —
    all require these call sites to stay bit-identical (review r03)."""
    return F.conv(F.substring(md5_key(key_col, salt), 1, 4), 16, 10).cast(
        "int"
    )


def md5_bucket32(key_col, salt: str = "") -> "Column":
    """32-bit sibling of :func:`md5_bucket16` — ``md5(salt || key)``
    first 8 hex digits as a long in [0, 2^32). Same conv trick, same
    DuckDB replay (nibble arithmetic), 65,536× the resolution.

    For RATE-sensitive consumers (round-10 verdict): a 16-bit bucket
    taken mod m has a ~m/65536 per-value non-uniformity and cannot
    address positions >= 65,536 at all — material for FIM split
    points in long documents (a 100k-token file would never split in
    its tail) and for heavily-downsampled remainder cuts (take/n =
    1e-4 truncates ~8% short at 16 bits). At 32 bits the modulo bias
    drops to ~m/4.3e9 and positions up to 4.3e9 are reachable.
    Membership CUTS (sample_hash, hash_split, the FIM apply decision)
    deliberately stay 16-bit: their fraction->bucket truncation is
    the published cross-function consistency contract (a rate-0.5
    FIM gate selects the identical doc set as sample_hash(0.5))."""
    return F.conv(F.substring(md5_key(key_col, salt), 1, 8), 16, 10).cast(
        "long"
    )


def hash_split(
    df: DataFrame,
    key_col: str,
    splits: Sequence[tuple[str, float]] = (
        ("train", 0.8),
        ("val", 0.1),
        ("test", 0.1),
    ),
    salt: str = "",
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment by content hash — the
    reproducible-at-scale alternative to ``randomSplit`` (SURVEY §2.10
    M11): assignment depends only on (salt, key), so it is stable
    across runs, engines, partitionings, and data arrival order, and
    new rows never reshuffle old ones between splits. Uses the first
    16 bits of md5 (65536 buckets); weights are cut at cumulative
    bucket thresholds. Pure column expressions — no shuffle, no UDF."""
    hv = md5_bucket16(key_col, salt)
    total = sum(w for _, w in splits)
    expr = None
    cum = 0.0
    for name, w in splits[:-1]:
        cum += w
        cond = hv < int(cum / total * 65536)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = splits[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, expr)


def leakage_safe_split(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    splits: Sequence[tuple[str, float]] = (
        ("train", 0.8),
        ("val", 0.1),
        ("test", 0.1),
    ),
    salt: str = "",
    split_col: str = "split",
    comp_col: str = "comp",
) -> DataFrame:
    """Train/val/test assignment that a near-duplicate can never
    straddle: plain :func:`hash_split` keys on the DOCUMENT, so two
    near-identical copies can land in train and test — silent
    eval-set leakage that survives every downstream dedup of the
    individual splits. Here the split keys on the document's
    near-dup CLUSTER: ``pairs`` is any near-dup edge set (MinHash
    q29, winnow q146, containment q140 — the operator is
    edge-source-agnostic), clusters come from
    :func:`graph.connected_components` (component id = smallest
    member id, deterministic), and every member of a cluster hashes
    the SAME key — ``coalesce(component, own id)`` — so the whole
    cluster lands in one split. Singletons (no edges) keep their own
    id as the key, which makes the assignment IDENTICAL to plain
    ``hash_split`` wherever no near-dup exists (an un-clustered
    corpus degrades to q68 exactly). Adds ``comp_col`` (NULL for
    singletons) for the audit trail.

    Scale shape (100 TB): the CC walk is the q58 contract (slim
    iterative equi-joins, lineage-truncated, O(log diameter)
    rounds); the join back is one slim (node, comp) equi join; the
    split itself is scan-stage md5 arithmetic. No window, no
    collect.
    """
    from nsl_kdd_spark.operators.graph import connected_components

    comps = connected_components(pairs)
    joined = df.join(
        comps, df[id_col] == comps["node"], "left"
    ).drop("node")
    if comp_col != "comp":
        joined = joined.withColumnRenamed("comp", comp_col)
    keyed = joined.withColumn(
        "__lskey",
        F.coalesce(F.col(comp_col), F.col(id_col)).cast("string"),
    )
    return hash_split(
        keyed, "__lskey", splits=splits, salt=salt, split_col=split_col
    ).drop("__lskey")


def sample_hash(
    df: DataFrame, key_col: str, fraction: float, salt: str = ""
) -> DataFrame:
    """Deterministic Bernoulli sample: keep a row iff the first 16 bits
    of ``md5(salt || key)`` fall below ``fraction`` of the bucket
    space. Unlike ``df.sample`` the decision is a pure function of
    (salt, key): reproducible across runs/engines/partitionings,
    composable with incremental ingest (a doc's fate never changes as
    the corpus grows), and oracle-checkable row-for-row — the
    properties a training-corpus subsample actually needs. Vary
    ``salt`` for independent resamples. No shuffle, no RNG state."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    hv = md5_bucket16(key_col, salt)
    return df.filter(hv < int(fraction * 65536))


def sample_hash_weighted(
    df: DataFrame, key_col: str, weight_col, salt: str = ""
) -> DataFrame:
    """Per-row-probability deterministic sample: keep a row iff its
    16-bit md5 bucket falls below ``weight * 65536``, where ``weight``
    is a column/expression in [0, 1] (values outside clamp). The
    corpus-curation shape: weight = quality score keeps good documents
    with high probability and noise with low, while staying a pure
    function of (salt, key) — reproducible, incremental-ingest-safe,
    and oracle-checkable row-for-row, none of which holds for RNG
    acceptance sampling. IEEE double arithmetic on the weight makes
    the threshold engine-portable."""
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    w = F.least(F.greatest(w.cast("double"), F.lit(0.0)), F.lit(1.0))
    hv = md5_bucket16(key_col, salt)
    return df.filter(hv < F.floor(w * 65536).cast("int"))


def sample_hash_stratified(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sampling (the reproducible
    ``sampleBy``): each stratum gets its own keep fraction, membership
    stays a pure function of (salt, key). The corpus-balancing shape —
    e.g. downsample over-represented languages — with row-for-row
    reproducibility seeded RNG sampling can't give. Strata absent from
    ``fractions`` keep with probability ``default``."""
    for k, v in fractions.items():
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"fraction for {k!r} must be in [0, 1], got {v}")
    frac = F.coalesce(
        F.create_map(
            *[F.lit(x) for kv in fractions.items() for x in kv]
        )[F.col(strata_col)],
        F.lit(float(default)),
    )
    return sample_hash_weighted(df, key_col, frac, salt=salt)


def rank_bins(
    df: DataFrame,
    score_col: str,
    id_col: str,
    n_bins: int = 10,
    out_col: str = "bin",
) -> DataFrame:
    """Curriculum/quality binning: global rank by (score, id) folded
    into ``n_bins`` equal-count buckets (bin 0 = lowest scores). The
    "order documents easy->hard, then schedule by decile" primitive of
    curriculum training, and the exact-tier alternative to
    approx-quantile cutoffs when bucket populations must be equal and
    reproducible.

    The global rank comes from ``packing.with_global_cumsum`` — range
    partition on the (score, id) key, per-partition window, driver-side
    prefix sum over numPartitions totals — so there is NO
    single-partition global sort; the id tie-break makes ranks (and
    therefore bins) partitioning-invariant. Bin assignment is integer
    arithmetic (``(rank-1) * n_bins // total``), bit-identical on any
    engine. Adds ``rank`` (1-based) and ``out_col``.
    """
    from nsl_kdd_spark.operators.packing import with_global_cumsum

    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    d = df.withColumn(
        "__ord", F.struct(F.col(score_col), F.col(id_col))
    ).withColumn("__one", F.lit(1))
    # the cumsum pass already aggregates per-partition totals — its
    # grand total IS the row count, so no separate count() scan
    ranked = with_global_cumsum(
        d, "__ord", "__one", out_col="rank", total_col="__total"
    )
    # integer `div`, not float `/`: float division can round across a
    # bin boundary and disagree with integer-arithmetic engines
    out = ranked.withColumn(
        "__num", (F.col("rank") - 1) * F.lit(n_bins).cast("long")
    ).withColumn(
        out_col,
        F.least(
            F.expr("__num div __total").cast("int"), F.lit(n_bins - 1)
        ),
    )
    return out.drop("__ord", "__one", "__num", "__total")


def grouped_rank_bins(
    df: DataFrame,
    group_col: str,
    score_col: str,
    id_col: str,
    n_bins: int = 3,
    out_col: str = "bin",
    rank_col: str = "group_rank",
) -> DataFrame:
    """Per-GROUP equal-count score bins WITHOUT per-group rank
    windows — the CCNet corpus-partitioning shape (Wenzek et al.
    2020 split each language into perplexity head/middle/tail; a
    language is a corpus-sized group at 100 TB, so
    ``ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score)`` is the
    exact single-task straggler SCALE.md forbids).

    Distributed shape: ONE global range-sorted cumsum rank over the
    composite ``(group, score, id)`` key (``with_global_cumsum`` —
    range partition + per-partition window + driver prefix sum over
    numPartitions totals), then per-group rank = global position
    minus the group's offset, where offsets are a cumulative sum
    over the k-row per-group counts (a BOUNDED k-row window — k is
    the number of groups, not rows) broadcast back. Bin assignment
    is the rank_bins integer arithmetic ``((rank-1) * n_bins) div
    n_g`` — partitioning-invariant (the id tie-break totally orders
    rows) and bit-identical in any engine, so DuckDB replays bins
    with a plain per-group ROW_NUMBER. Adds ``rank_col`` (1-based
    within group) and ``out_col`` (0 = lowest scores).
    """
    from pyspark.sql import Window

    from nsl_kdd_spark.operators.packing import with_global_cumsum

    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    d = df.withColumn(
        "__ord",
        F.struct(F.col(group_col), F.col(score_col), F.col(id_col)),
    ).withColumn("__one", F.lit(1))
    ranked = with_global_cumsum(d, "__ord", "__one", out_col="__gpos")
    # count over the RANKED frame, not the source: the cumsum pass
    # already materialized (checkpointed) its repartitioned input, so
    # this aggregate reads those blocks instead of re-scanning the
    # corpus a second time (round-11 review); Catalyst prunes the
    # unused rank/order columns from the read
    cnt = ranked.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    # group offsets under the SAME group ordering the composite sort
    # used; k-row frame, so the global-ordered window is bounded
    wk = Window.orderBy(group_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    off = cnt.withColumn(
        "__off", F.coalesce(F.sum("__n").over(wk), F.lit(0))
    )
    # NULL-safe join back: a NULL group key is a legal group (rows
    # with missing domain/language metadata) — the offsets aggregate
    # keeps it, and an equality join here would silently DROP every
    # such row (round-12 verdict #1). eqNullSafe matches the NULL
    # group to its own offset row, same as the privacy-module cells;
    # both orderings (the composite cumsum struct and the k-row
    # offsets window) sort NULL first in Spark, so the rank
    # arithmetic stays consistent for the NULL group.
    offj = off.withColumnRenamed(group_col, "__offgrp")
    out = (
        ranked.join(
            F.broadcast(offj),
            ranked[group_col].eqNullSafe(F.col("__offgrp")),
        )
        .drop("__offgrp")
        .withColumn(rank_col, F.col("__gpos") - F.col("__off"))
        .withColumn(
            "__num",
            (F.col(rank_col) - 1) * F.lit(n_bins).cast("long"),
        )
        .withColumn(
            out_col,
            F.least(
                F.expr("__num div __n").cast("int"), F.lit(n_bins - 1)
            ),
        )
    )
    return out.drop("__ord", "__one", "__gpos", "__n", "__off", "__num")


def shuffle_deterministic(
    df: DataFrame,
    key_col: str,
    salt: str = "",
    out_col: str = "shuffle_pos",
) -> DataFrame:
    """Reproducible corpus shuffle: global position = rank of
    ``md5(salt || key)`` (ties broken by the key). The training-order
    step after packing/sharding — every re-run, engine, and
    partitioning derives the SAME order, and changing ``salt`` gives
    an independent epoch permutation with zero RNG state.

    The rank is the q82/q98 distributed prefix-sum (range partition on
    the hash key + per-partition window + driver offset map) — no
    single-partition global sort, so the shuffle scales like any
    range-partitioned sort. Positions are 1-based and dense.
    """
    from nsl_kdd_spark.operators.packing import with_global_cumsum

    d = df.withColumn(
        "__ord", F.struct(md5_key(key_col, salt), F.col(key_col))
    ).withColumn("__one", F.lit(1))
    return with_global_cumsum(d, "__ord", "__one", out_col=out_col).drop(
        "__ord", "__one"
    )


def upsample_hash(
    df: DataFrame,
    key_col: str,
    factor: float,
    salt: str = "",
    copy_col: str = "copy_idx",
) -> DataFrame:
    """Deterministic fractional upsampling: every row appears
    ``floor(factor)`` times, plus once more iff its 16-bit md5 bucket
    falls under the fractional part — the oversampling twin of
    ``sample_hash`` (rare-source boosting in a pretraining mixture
    needs factors > 1; ``mix_corpora`` only downsamples). The copy
    count is a pure function of (salt, key): stable across runs,
    engines, partitionings and corpus growth, so an epoch's
    repetition pattern is reproducible and a source's boost can be
    raised later with every existing copy preserved (supersets, the
    q97 property). ``copy_col`` numbers the copies 1..n so downstream
    shuffles/shards can distinguish them.

    Scale shape: pure column expressions + one explode — no shuffle,
    no UDF; output size is exactly factor * |df| in expectation with
    deterministic per-key rounding, no RNG state to coordinate.
    """
    import math

    if factor <= 0:
        raise ValueError(f"factor must be positive, got {factor}")
    base = int(math.floor(factor))
    # int() truncation, NOT round(): sample_hash derives its cut the
    # same way, so upsample_hash(f<1) selects the identical row set
    # as sample_hash(f) at every fraction (review r05)
    frac_cut = int((factor - base) * 65536)
    hv = md5_bucket16(key_col, salt)
    n_copies = (F.lit(base) + (hv < F.lit(frac_cut)).cast("int")).alias("__n")
    return (
        df.withColumn("__n", n_copies)
        .filter(F.col("__n") > 0)
        .withColumn(copy_col, F.explode(F.sequence(F.lit(1), F.col("__n"))))
        .drop("__n")
    )


def sample_exact_n(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    n: int,
    salt: str = "",
) -> DataFrame:
    """EXACTLY min(n, stratum size) rows per stratum, chosen by md5
    rank — fixed-size eval/holdout subsets per source or language,
    where rate-based sampling (``sample_hash_stratified``) leaves the
    subset size binomially noisy. The selection orders each stratum by
    the full ``md5(salt || key)`` digest (ties by key — total order),
    so it is a pure function of (salt, key): reproducible across
    engines/partitionings, and *anti-monotone under growth* — a new
    row can only push out the currently-highest-ranked member, never
    reshuffle the rest. Vary ``salt`` for independent draws.

    Scale shape: one window rank per stratum partition (strata are
    many and bounded — the partition-keyed window rule); output n per
    stratum, so downstream is tiny. NOT for a single giant stratum —
    that is a global-sort; use ``sample_hash`` there.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    from pyspark.sql import Window

    rk = F.row_number().over(
        Window.partitionBy(strata_col).orderBy(
            md5_key(key_col, salt), F.col(key_col)
        )
    )
    return (
        df.withColumn("__rk", rk)
        .filter(F.col("__rk") <= n)
        .drop("__rk")
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    k: int,
    salt: str = "",
) -> DataFrame:
    """Deterministic per-group document cap — the RefinedWeb /
    CommonCrawl-curation practice of capping documents PER DOMAIN so
    a handful of mega-hosts (forums, mirrors, link farms) cannot
    dominate the corpus: keep at most ``k`` rows per group, selected
    by md5 digest order (``md5(salt || id)``, ties by id) so the
    kept set is a pure function of (table, k, salt) — superset-
    stable re-runs, engine-replayable, no RNG.

    Scale shape (100 TB): a domain is a CORPUS-SIZED group (the
    grouped_rank_bins motivation), so the rank comes from the
    distributed global cumsum — range partition + per-partition
    window + broadcast group offsets — never ``ROW_NUMBER() OVER
    (PARTITION BY domain)``. One extra scan-stage digest column, the
    rank machinery, one filter.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    ranked = grouped_rank_bins(
        df.withColumn("__capk", md5_key(id_col, salt)),
        group_col,
        "__capk",
        id_col,
        n_bins=1,
        out_col="__capbin",
        rank_col="__caprank",
    )
    return ranked.filter(F.col("__caprank") <= k).drop(
        "__capk", "__capbin", "__caprank"
    )

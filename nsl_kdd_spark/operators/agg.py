"""Aggregation operators (SURVEY.md §2.4).

All shapes here compile to partial+final hash aggregation, so they
scale linearly with input; the only cardinality-sensitive one is
``crosstab`` (bounded pivot width, like the reference's <=70-category
columns).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def group_count(df: DataFrame, *keys: str, desc: bool = True) -> DataFrame:
    """``groupBy(keys).count()`` sorted by count (A1/W1, reference
    README.md:296-297)."""
    out = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("count"))
    return out.orderBy(F.desc("count") if desc else F.asc("count"), *keys)


def crosstab(df: DataFrame, row: str, col: str, values: Sequence[str]) -> DataFrame:
    """Contingency table (A2, README.md:347). Built on
    ``groupBy(row).pivot(col, values).count()`` — the general primitive —
    with the pivot vocabulary passed explicitly: at 100 TB a
    two-pass ``pivot()`` (distinct scan + agg) doubles the IO, and an
    explicit vocabulary also keeps the output schema stable for tests.
    Cells are zero-filled like ``df.stat.crosstab``."""
    out = df.groupBy(row).pivot(col, list(values)).agg(F.count(F.lit(1)))
    return out.fillna(0, subset=list(values)).orderBy(row)


def describe_stats(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """``describe()`` equivalent (A3, README.md:576) with typed (double)
    output instead of strings: one row per column with
    count/mean/stddev/min/max; single pass over the data."""
    aggs = []
    for c in columns:
        aggs += [
            F.count(c).alias(f"{c}__count"),
            F.avg(c).alias(f"{c}__mean"),
            F.stddev(c).alias(f"{c}__stddev"),
            F.min(c).alias(f"{c}__min"),
            F.max(c).alias(f"{c}__max"),
        ]
    wide = df.agg(*aggs)
    per_col = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"{c}__count").cast("double").alias("count"),
            F.col(f"{c}__mean").cast("double").alias("mean"),
            F.col(f"{c}__stddev").cast("double").alias("stddev"),
            F.col(f"{c}__min").cast("double").alias("min"),
            F.col(f"{c}__max").cast("double").alias("max"),
        )
        for c in columns
    ]
    return (
        wide.select(F.explode(F.array(*per_col)).alias("s"))
        .select("s.*")
        .orderBy("column")
    )


def histogram(
    df: DataFrame, column: str, lo: float, hi: float, n_bins: int
) -> DataFrame:
    """Fixed-width histogram as one hash aggregation: bucket =
    floor((x - lo) / w) clamped to [0, n_bins-1]. Profiling companion
    to describe_stats; linear, no sort (vs percentile's global sort)."""
    w = (hi - lo) / n_bins
    bucket = F.floor((F.col(column) - F.lit(lo)) / F.lit(w))
    bucket = F.least(F.greatest(bucket, F.lit(0)), F.lit(n_bins - 1))
    return (
        df.filter(F.col(column).isNotNull())
        .groupBy(bucket.cast("long").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("bin_lo", F.lit(lo) + F.col("bucket") * F.lit(w))
        .orderBy("bucket")
    )


def profile(df: DataFrame, columns: Sequence[str], exact_scale: int | None = None) -> DataFrame:
    """Column profile: count / nulls / exact distinct / min / max (+
    mean via exact decimal sums when ``exact_scale`` given) — ONE pass
    over the data for all columns (single agg with k expressions; the
    reference runs a job per probe, README.md:372,576).

    Numeric-only stats come back null for string columns."""
    from nsl_kdd_spark.functions.scalar import exact_avg

    aggs = []
    numeric_types = {"double", "float", "int", "bigint", "smallint", "decimal"}
    dtypes = dict(df.dtypes)
    for c in columns:
        is_num = any(dtypes[c].startswith(t) for t in numeric_types)
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
            (
                exact_avg(c, exact_scale) if (is_num and exact_scale is not None)
                else F.avg(c) if is_num
                else F.lit(None).cast("double")
            ).alias(f"{c}__mean"),
        ]
    wide = df.agg(*aggs)
    per_col = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col(f"{c}__rows").alias("n_rows"),
            F.col(f"{c}__nulls").alias("n_nulls"),
            F.col(f"{c}__distinct").alias("n_distinct"),
            F.col(f"{c}__min").alias("min_value"),
            F.col(f"{c}__max").alias("max_value"),
            F.col(f"{c}__mean").alias("mean_value"),
        )
        for c in columns
    ]
    return (
        wide.select(F.explode(F.array(*per_col)).alias("s"))
        .select("s.*")
        .orderBy("col_name")
    )


def _percentile_expr(v, p: float, exact: bool, accuracy: int):
    """The exact-vs-sketch percentile tier (round-7, r5/r6 verdicts —
    previously prose-only). ``exact=True``: sort-based interpolated
    ``F.percentile`` — the q52-verified cross-engine (quantile_cont)
    semantics, but the per-group state is the group's VALUES, the one
    headline aggregate whose memory grows with group size. ``exact=
    False``: Greenwald-Khanna ``F.percentile_approx(accuracy)`` —
    bounded per-group state (O(accuracy * log n)), rank error
    <= n/accuracy, returns an actual element (no interpolation). Same
    call sites, same output schema/names/types: the 100 TB path is a
    flag flip, not a rewrite."""
    if exact:
        return F.percentile(v, F.lit(p))
    return F.percentile_approx(v, F.lit(p), F.lit(accuracy)).cast("double")


def percentile_summary(
    df: DataFrame,
    value_col: str,
    group_col: str,
    ps: Sequence[float] = (0.5, 0.9),
    *,
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-group percentile profile (q52's operator path): each
    requested percentile plus min/max. Output: (group, p50, p90, ...,
    lo, hi) with percentile columns named ``p{100*p:g}`` — identical
    schema in both tiers (see :func:`_percentile_expr` for the
    exact/sketch contract).

    Exact tier (optimization r13): computed DISTRIBUTED instead of via
    the ``F.percentile`` aggregate. ``F.percentile`` buffers every
    group value inside one aggregation buffer and sorts it in a single
    task — the lone headline aggregate whose per-task state grew with
    group size (3 reducer tasks sorting ~2M doubles each at sf1). The
    rewrite reduces the corpus map-side to per-(group, value) counts,
    takes one bounded window over the DISTINCT-value table for
    cumulative ranks, and interpolates exactly like Spark's
    ``Percentile.getPercentile`` (``position = p * (n-1)``; result =
    ``(ceil(pos) - pos) * lower + (pos - floor(pos)) * upper``, lower
    key when ``ceil == floor``) — proven BIT-IDENTICAL to the old
    plan on lineitem at sf0.1 and sf1 (struct-packed double compare)
    and pinned by tests/test_operators_unit.py edge cases. Measured
    2.87 s -> 2.19 s at sf0.1 and 6.27 s -> 2.32 s at sf1 (min-of-3,
    noop sink); the sf1 gap is the single-task sort leaving the plan.
    NULL values are frequency-invisible (``F.percentile`` semantics);
    all-NULL and empty groups still emit their row with NULL
    percentiles, and a NULL group key keeps its group. NaN inputs are
    outside the contract (same as the DuckDB oracle's domain).
    """
    v = F.col(value_col)
    if not exact:
        aggs = [
            _percentile_expr(v, p, exact, accuracy).alias(f"p{100 * p:g}")
            for p in ps
        ]
        aggs += [F.min(v).alias("lo"), F.max(v).alias("hi")]
        return df.groupBy(group_col).agg(*aggs)

    from pyspark.sql import Window

    vd = v.cast("double")
    cnt = df.groupBy(group_col, value_col).agg(
        F.count(F.lit(1)).alias("__c")
    )
    # non-null running/total counts: NULL rows keep their group alive
    # but never enter rank arithmetic (F.percentile skips NULLs)
    nn = F.when(v.isNotNull(), F.col("__c")).otherwise(F.lit(0))
    w = Window.partitionBy(group_col).orderBy(
        F.col(value_col).asc_nulls_first()
    )
    wg = Window.partitionBy(group_col)
    acc = cnt.withColumn("__cum", F.sum(nn).over(w)).withColumn(
        "__n", F.sum(nn).over(wg)
    )
    # 0-based rank span covered by this distinct value
    lo_cov = F.col("__cum") - F.col("__c")
    hi_cov = F.col("__cum") - 1
    aggs = []
    for p in ps:
        pos = F.lit(p) * (F.col("__n") - 1).cast("double")
        lower, higher = F.floor(pos), F.ceil(pos)
        tag = f"{100 * p:g}"
        aggs.append(
            F.max(
                F.when(
                    v.isNotNull() & (lo_cov <= lower) & (lower <= hi_cov),
                    vd,
                )
            ).alias(f"__lk{tag}")
        )
        aggs.append(
            F.max(
                F.when(
                    v.isNotNull() & (lo_cov <= higher) & (higher <= hi_cov),
                    vd,
                )
            ).alias(f"__hk{tag}")
        )
    aggs += [
        F.max("__n").alias("__nv"),
        F.min(v).alias("lo"),
        F.max(v).alias("hi"),
    ]
    g = acc.groupBy(group_col).agg(*aggs)
    n = F.col("__nv")
    cols: list = [group_col]
    for p in ps:
        pos = F.lit(p) * (n - 1).cast("double")
        lower, higher = F.floor(pos), F.ceil(pos)
        tag = f"{100 * p:g}"
        lk, hk = F.col(f"__lk{tag}"), F.col(f"__hk{tag}")
        cols.append(
            F.when(n == 0, F.lit(None).cast("double"))
            .otherwise(
                F.when(higher == lower, lk).otherwise(
                    (higher.cast("double") - pos) * lk
                    + (pos - lower.cast("double")) * hk
                )
            )
            .alias(f"p{tag}")
        )
    cols += [F.col("lo"), F.col("hi")]
    return g.select(*cols)


def winsorize(
    df: DataFrame,
    value_col: str,
    group_col: str,
    p_lo: float = 0.01,
    p_hi: float = 0.99,
    scale: int = 1_000_000,
    *,
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-group winsorized summary: clip ``value_col`` to the group's
    [p_lo, p_hi] exact percentiles, report the clipped mean/sum plus
    clip counts — the standard outlier-robust normalization before
    feature scaling or reward modeling.

    Output per group: (group, n, n_lo, n_hi, lo, hi, sum_u, mean_u)
    where ``sum_u``/``mean_u`` are the clipped sum/mean in integer
    micro-units (each clipped value quantized BEFORE the sum — the
    fixed-point exact tier, order-independent across engines). ``lo``
    / ``hi`` are the interpolated percentile bounds (exact
    ``F.percentile``, the q52-verified cross-engine semantics).
    NULL values are EXCLUDED up front — ``least``/``greatest`` skip
    NULLs, so an unfiltered NULL would silently clip to ``lo`` and
    bias the mean with fabricated data (review r04); ``n`` counts the
    non-null measurements actually summarized.

    Scale shape: ONE grouped pass computes both percentile bounds
    (``exact=False`` swaps in the bounded-state Greenwald-Khanna
    sketch — same plan, same output schema; see
    :func:`_percentile_expr` — the 100 TB tier, since exact per-group
    percentile buffers the group's values); bounds are a
    group-cardinality table that broadcasts back onto the fact table;
    the clipped re-aggregation is a second map-side-combined pass. No
    windows over the fact table.
    """
    v = F.col(value_col).cast("double")
    df = df.filter(v.isNotNull())
    if exact:
        # optimization r13: the exact bounds ride percentile_summary's
        # distributed counts+window plan (bit-identical to
        # F.percentile, proven there) instead of buffering every group
        # value in one aggregation buffer — same single-task-sort fix
        # as the q52 tier; min/max columns of the summary are unused.
        bounds = percentile_summary(
            df, value_col, group_col, (p_lo, p_hi), exact=True
        ).select(
            group_col,
            F.col(f"p{100 * p_lo:g}").alias("lo"),
            F.col(f"p{100 * p_hi:g}").alias("hi"),
        )
    else:
        bounds = df.groupBy(group_col).agg(
            _percentile_expr(v, p_lo, exact, accuracy).alias("lo"),
            _percentile_expr(v, p_hi, exact, accuracy).alias("hi"),
        )
    clipped = F.least(F.greatest(v, F.col("lo")), F.col("hi"))
    return (
        df.join(F.broadcast(bounds), group_col)
        .select(
            group_col,
            "lo",
            "hi",
            (v < F.col("lo")).cast("long").alias("__is_lo"),
            (v > F.col("hi")).cast("long").alias("__is_hi"),
            F.round(clipped * F.lit(float(scale))).cast("long").alias("__cu"),
        )
        .groupBy(group_col, "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__is_lo").alias("n_lo"),
            F.sum("__is_hi").alias("n_hi"),
            F.sum("__cu").alias("sum_u"),
            F.expr("sum(__cu) div count(1)").alias("mean_u"),
        )
        .select(group_col, "n", "n_lo", "n_hi", "lo", "hi", "sum_u", "mean_u")
        .orderBy(group_col)
    )


def sketch_rollup(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lg_k: int = 12,
    all_label: str = "__ALL__",
) -> DataFrame:
    """Mergeable distinct-count rollup via Datasketches HLL: one scan
    builds a per-group sketch; the grand total UNIONS the group
    sketches instead of rescanning — the pre-aggregation contract
    that makes 100 TB distinct counts incremental (store the per-
    day/per-partition sketch binaries, union at query time; adding a
    day never touches history). ``approx_count_distinct`` (q06/q63)
    answers one question per scan; sketches answer every rollup of
    saved partials.

    Output: (group, approx_distinct, is_total) — one row per group
    plus the union-of-sketches total flagged ``is_total = true`` and
    labeled ``all_label`` (the flag, not the label, is the
    discriminator: a genuine group value equal to the label cannot
    be confused with the rollup row — review r04). Sketch binaries
    are engine-specific -> rows-only driver check; the rel-error
    contract vs exact counts is pinned in unit tests.
    """
    per = df.groupBy(F.col(group_col).cast("string").alias(group_col)).agg(
        F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("__sk")
    )
    per = per.localCheckpoint()  # tiny; two consumers, releases on GC
    per_est = per.select(
        group_col,
        F.hll_sketch_estimate("__sk").cast("long").alias("approx_distinct"),
        F.lit(False).alias("is_total"),
    )
    total = (
        per.agg(F.hll_union_agg("__sk").alias("__u"))
        .select(
            F.lit(all_label).alias(group_col),
            F.hll_sketch_estimate("__u").cast("long").alias("approx_distinct"),
            F.lit(True).alias("is_total"),
        )
    )
    return per_est.unionByName(total).orderBy("is_total", group_col)


def grouped_trend(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group least-squares linear trend of ``y_col`` over time:
    (group, n, slope_per_day, intercept) via the closed-form OLS
    normal equations computed from EXACT decimal sums (the
    ``exact_corr`` pattern — order-independent partials, one double
    combine at the end, so results are bit-stable across engines and
    partitionings where a streaming ``regr_slope`` is not).

        slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)

    x is quantized to integer MICRO-DAYS before any aggregation
    (round-to-long on the identical double expression both engines
    build — the q95 fixed-point rule; a double->DECIMAL cast here
    diverged by 1 ulp between engines at a rounding boundary), so
    every partial sum is an exact integer/decimal. The slope is the
    ONE double-combined output (rounded 9, the q41-class residual
    risk: sums above 2^53 convert to double with a possible last-ulp
    engine difference); the anchor point (mean_x_mday, mean_y_u)
    ships as EXACT integer division instead of an intercept — an
    epoch-0 intercept amplifies that ulp onto a rounding boundary
    (observed at the 10x replay), while the centroid is exact and
    reconstructs it: intercept = mean_y - slope * mean_x. Groups
    with a single point or constant x yield NULL slope (0/0),
    surfaced rather than masked. Rows with NULL ts or NULL y are
    excluded up front — COUNT(*) would otherwise inflate n while the
    sums skip them, corrupting the slope (review r05,
    execution-confirmed).

    Scale shape: ONE map-side-combined grouped aggregate over one
    scan; no windows, no joins.
    """
    from nsl_kdd_spark.functions.scalar import epoch_seconds

    # integer micro-days: round((epoch / 86400) * 1e6)
    dxu = (
        F.round(
            epoch_seconds(ts_col, "double") / F.lit(86400.0) * F.lit(1000000.0)
        )
        .cast("long")
    )
    dyu = F.round(F.col(y_col).cast("double") * F.lit(1000000.0)).cast("long")
    proj = df.filter(
        F.col(ts_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        F.col(group_col),
        dxu.alias("__dxu"),
        F.col(y_col).cast("decimal(18,2)").alias("__dy"),
        dyu.alias("__dyu"),
    )
    dec = F.col("__dxu").cast("decimal(19,0)")
    n = F.count(F.lit(1)).cast("double")
    sx = F.sum(dec).cast("double")
    sy = F.sum("__dy").cast("double")
    sxx = F.sum((dec * dec).cast("decimal(38,0)")).cast("double")
    sxy = F.sum((dec * F.col("__dy")).cast("decimal(38,2)")).cast("double")
    slope_mu = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return (
        proj.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(slope_mu * F.lit(1000000.0), 9).alias("slope_per_day"),
            F.expr("sum(__dxu) div count(1)").alias("mean_x_udays"),
            F.expr("sum(__dyu) div count(1)").alias("mean_y_u"),
        )
        .orderBy(group_col)
    )

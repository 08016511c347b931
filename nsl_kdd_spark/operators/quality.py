"""Data-quality operators (engine extension; complements the
reference's manual EDA crosstabs, ``SURVEY.md §2.4 A2-A4``).

Two tiers:

- ``observe_quality``: piggybacks audit counters (row count, per-col
  null/violation counts) on whatever action runs next via
  ``DataFrame.observe`` — the metrics are computed inside the existing
  job, ZERO extra passes over the data. This is the 100 TB way to get
  "how many nulls did this write ship" without re-scanning.
- ``table_diff``: keyed reconciliation of two table versions
  (added / removed / changed / unchanged) as one full-outer join with
  null-safe column compares — the audit primitive behind CDC merges
  (``operators/merge``) and backfill verification.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from nsl_kdd_spark.functions.scalar import ppm_of


def observe_quality(
    df: DataFrame,
    null_cols: Sequence[str] = (),
    violations: Mapping[str, Column] | None = None,
    name: str = "quality",
) -> tuple[DataFrame, Observation]:
    """Attach quality counters to ``df``. Returns (df, observation);
    after the next action on ``df``, ``observation.get`` holds
    ``n_rows``, ``null_<col>`` per requested column, and
    ``bad_<name>`` per violation predicate (count of rows where the
    predicate is TRUE).

    Caveat: registering a pyspark ``Observation`` poisons the session
    for later ML fits. It initialises the session's
    ``ObservationManager``, which is not java-serializable, so every
    later task closure that captures the session (an MLlib model whose
    training summary holds it, for one) fails with Task-not-serializable
    (OPTIMIZATION_r14.md §1). Call this on a session that trains no
    models afterwards, or count with a scan of the materialised table
    instead, as ``graph.py`` does."""
    obs = Observation(name)
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    for c in null_cols:
        metrics.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"null_{c}")
        )
    for mname, pred in (violations or {}).items():
        metrics.append(F.sum(pred.cast("long")).alias(f"bad_{mname}"))
    return df.observe(obs, *metrics), obs


def table_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Keyed diff of two table versions: one row per key present in
    either side, tagged ``change_type`` in {added, removed, changed,
    unchanged}. Comparison is null-safe (``<=>``); key columns come
    out un-prefixed, compared columns as ``old_<c>`` / ``new_<c>``.
    One shuffle on the keys (both sides), no collect."""
    compare_cols = list(
        compare_cols
        if compare_cols is not None
        else [c for c in old.columns if c not in keys]
    )
    o = old.select(
        *[F.col(k).alias(f"__ok_{k}") for k in keys],
        *[F.col(c).alias(f"old_{c}") for c in compare_cols],
        F.lit(1).alias("__in_old"),
    )
    n = new.select(
        *[F.col(k).alias(f"__nk_{k}") for k in keys],
        *[F.col(c).alias(f"new_{c}") for c in compare_cols],
        F.lit(1).alias("__in_new"),
    )
    cond = None
    for k in keys:
        c = F.col(f"__ok_{k}").eqNullSafe(F.col(f"__nk_{k}"))
        cond = c if cond is None else cond & c
    j = o.join(n, cond, "full_outer")
    changed = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    change_type = (
        F.when(F.col("__in_old").isNull(), "added")
        .when(F.col("__in_new").isNull(), "removed")
        .when(changed, "changed")
        .otherwise("unchanged")
    )
    key_cols = [
        F.coalesce(F.col(f"__ok_{k}"), F.col(f"__nk_{k}")).alias(k) for k in keys
    ]
    return j.select(
        *key_cols,
        change_type.alias("change_type"),
        *[F.col(f"old_{c}") for c in compare_cols],
        *[F.col(f"new_{c}") for c in compare_cols],
    )


def _rule_aggs_and_stack(rules: dict[str, str]):
    """Shared by expect/expect_windowed: one violation-sum per rule
    plus the stack() spec. Rule names are free-form — escaped into
    the SQL string literal — and an empty rule set is a loud error
    (stack(0, ...) would be a ParseException anyway)."""
    if not rules:
        raise ValueError("expect() needs at least one rule")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, pred in enumerate(rules.values()):
        aggs.append(
            F.sum(
                F.when(F.expr(pred), F.lit(0)).otherwise(F.lit(1))
            ).alias(f"__v{i}")
        )
    stack = ", ".join(
        "'" + name.replace("\\", "\\\\").replace("'", "\\'") + f"', __v{i}"
        for i, name in enumerate(rules)
    )
    return aggs, stack


def expect(df: DataFrame, rules: dict[str, str]) -> DataFrame:
    """Declarative data-quality expectations: evaluate every rule
    (a boolean SQL predicate over the table's columns) in ONE pass
    and report per-rule violation counts — the Delta-constraints /
    Great-Expectations-style contract check, as a single aggregation.

    Output: (rule, n_rows, n_violations, violation_ppm), one row per
    rule in ``rules``' iteration order, ppm as exact integer
    arithmetic. NULL predicate results count as violations (a rule
    that cannot evaluate to TRUE is not satisfied — the SQL CHECK
    convention would pass NULLs; data contracts must not).

    Scale shape: all rules ride one map-side-combined aggregate over
    one scan — adding a rule adds a column, not a pass. The per-rule
    unpivot happens on the 1-row aggregate, not the fact table.
    """
    aggs, stack = _rule_aggs_and_stack(rules)
    one = df.agg(*aggs)
    return (
        one.selectExpr(
            "__n",
            f"stack({len(rules)}, {stack}) AS (rule, n_violations)",
        )
        .select(
            "rule",
            F.col("__n").alias("n_rows"),
            "n_violations",
            ppm_of("n_violations", "__n").alias("violation_ppm"),
        )
    )


def expect_windowed(
    df: DataFrame,
    ts_col: str,
    rules: dict[str, str],
    window_duration: str = "1 hour",
) -> DataFrame:
    """Per-time-window expectations: the same one-pass rule evaluation
    as :func:`expect`, grouped by tumbling event-time windows — the
    drift monitor (a rule that is 0 ppm globally but 400k ppm in one
    hour is a pipeline incident, not a data property). The aggregation
    shape is watermark-compatible: in a stream, swap the groupBy key
    for ``F.window`` over a withWatermark'd frame and the same plan
    runs incrementally (the q34 pattern).

    Output: (window_start, rule, n_rows, n_violations, violation_ppm).

    NULL timestamps: rows whose ``ts_col`` is NULL land in a single
    ``window_start IS NULL`` bucket — they are surfaced as their own
    report row (rule counts included), NOT silently mixed into a real
    window and NOT dropped. Callers who treat an unparseable
    timestamp as a violation in itself should add an explicit rule
    (e.g. ``{"ts_present": "ts IS NOT NULL"}``) or pre-filter; the
    operator keeps the row so the drift report's n_rows reconciles
    with the input count.
    """
    aggs, stack = _rule_aggs_and_stack(rules)
    one = (
        df.groupBy(F.window(F.col(ts_col), window_duration).alias("__w"))
        .agg(*aggs)
    )
    return (
        one.selectExpr(
            "__w.start AS window_start",
            "__n",
            f"stack({len(rules)}, {stack}) AS (rule, n_violations)",
        )
        .select(
            "window_start",
            "rule",
            F.col("__n").alias("n_rows"),
            "n_violations",
            ppm_of("n_violations", "__n").alias("violation_ppm"),
        )
        .orderBy("window_start", "rule")
    )


def table_digest(
    df: DataFrame,
    cols: list[str] | None = None,
    sep: str = "\x1f",
) -> DataFrame:
    """Order-independent content digest of a table: one row
    (n_rows, xor_digest, sum_digest) that changes if any row changes,
    appears, or disappears — the O(1)-output audit primitive for
    verifying a backfill/migration/CDC replica WITHOUT a row-level
    diff (q71's table_diff localizes damage; this detects it for the
    cost of one scan and an 24-byte comparison).

    Per row: md5 over the ``sep``-joined string forms of ``cols``
    (NULLs become a sentinel so (a, NULL) never collides with
    (a, '')), folded to a 60-bit integer. Aggregates: XOR (cheap, but
    duplicate-row PAIRS cancel) and a mod-prime sum carried in
    DECIMAL(38,0) (exact at any row count, no silent int64 wrap) —
    together they catch duplication, loss, and mutation. Both are
    commutative-associative, so the digest is identical under any
    partitioning, retry, or engine — md5 and string casts are the
    cross-engine contract; cast float/timestamp columns to a
    canonical string form yourself before digesting them.
    """
    use = cols or df.columns
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit("<NULL>")) for c in use
    ]
    rh = (
        F.conv(F.substring(F.md5(F.concat_ws(sep, *parts)), 1, 15), 16, 10)
        .cast("long")
    )
    p = 1_000_000_007
    return df.select(rh.alias("__rh")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.bit_xor("__rh").alias("xor_digest"),
        (F.sum((F.col("__rh") % p).cast("decimal(38,0)")) % p)
        .cast("long")
        .alias("sum_digest"),
    )


def _psi_terms(
    counts: DataFrame, key_col: str, n_slots: int, scale: int
) -> DataFrame:
    """Shared tail of both PSI monitors: add-one-smoothed integer-ppm
    proportions from a (key, n_base, n_target) table and the per-slot
    PSI term rounded to micro-units before any aggregation."""
    totals = counts.agg(
        F.sum("n_base").alias("__tb"), F.sum("n_target").alias("__tt")
    )
    sc = float(scale)
    # Clamp the smoothed integer proportions to >= 1 ppm-unit: once a
    # side's total exceeds ``scale``, a rare/empty slot's smoothed
    # proportion floors to 0 under integer division, F.log(0) goes
    # NULL, and the summed PSI silently UNDERSTATES drift — at exactly
    # the >1M-row scale the monitor targets (round-4 advisory). The
    # clamp keeps every term finite with the same sub-ppm error the
    # integer fixed-point already accepts; oracles mirror it.
    p = F.greatest(
        F.expr(f"((n_base + 1) * {scale}) div (__tb + {n_slots})"), F.lit(1)
    )
    q = F.greatest(
        F.expr(f"((n_target + 1) * {scale}) div (__tt + {n_slots})"), F.lit(1)
    )
    psi_term = F.round(
        (F.col("__p") - F.col("__q")).cast("double") / F.lit(sc)
        * (
            F.log(F.col("__p").cast("double"))
            - F.log(F.col("__q").cast("double"))
        )
        * F.lit(sc)
    ).cast("long")
    return (
        counts.crossJoin(F.broadcast(totals))
        .withColumn("__p", p)
        .withColumn("__q", q)
        .select(
            key_col, "n_base", "n_target",
            F.col("__p").alias("p_base_ppm"),
            F.col("__q").alias("p_target_ppm"),
            psi_term.alias("psi_u"),
        )
        .orderBy(key_col)
    )


def psi_drift(
    base: DataFrame,
    target: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 10,
    scale: int = 1_000_000,
) -> DataFrame:
    """Population Stability Index between two samples of one numeric
    column — the train-vs-serve distribution-shift monitor (PSI < 0.1
    stable, 0.1-0.25 moderate, > 0.25 action). Values clamp into
    ``n_bins`` equal bins over the EXPLICIT [lo, hi) range (caller
    supplies the range, so bin edges are data-independent and two
    engines/runs bin identically — the q55 histogram rule).

    Output: one row per bin —
    (bin, n_base, n_target, p_base_ppm, p_target_ppm, psi_u) — plus
    the caller sums ``psi_u`` for the headline number. Proportions
    use add-one smoothing (``(n+1) / (N+n_bins)``, integer ppm) so an
    empty bin contributes a finite term instead of infinity; each
    bin's PSI term ``(p - q) * ln(p / q)`` is computed from the
    integer ppms and rounded to micro-units BEFORE any aggregation —
    the fixed-point rule (unigram_logprob's micro-nat trick), so
    results are order-independent and engine-exact.

    Scale shape: two one-pass grouped counts (map-side combined) +
    one scalar total per side; the bin table is n_bins rows, every
    downstream op is on that."""
    if n_bins < 1 or not hi > lo:
        raise ValueError(f"need n_bins >= 1 and hi > lo, got {n_bins}, [{lo}, {hi})")

    def bin_counts(df: DataFrame, name: str) -> DataFrame:
        width = (hi - lo) / n_bins
        b = F.least(
            F.greatest(
                F.floor((F.col(value_col).cast("double") - lo) / width), F.lit(0)
            ),
            F.lit(n_bins - 1),
        ).cast("int")
        return df.groupBy(b.alias("bin")).agg(F.count(F.lit(1)).alias(name))

    spark = base.sparkSession
    bins = spark.range(n_bins).select(F.col("id").cast("int").alias("bin"))
    counts = (
        bins.join(bin_counts(base, "n_base"), "bin", "left")
        .join(bin_counts(target, "n_target"), "bin", "left")
        .select(
            "bin",
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
            F.coalesce("n_target", F.lit(0)).alias("n_target"),
        )
    )
    return _psi_terms(counts, "bin", n_bins, scale)


def psi_drift_categorical(
    base: DataFrame,
    target: DataFrame,
    cat_col: str,
    categories: Sequence[str],
    scale: int = 1_000_000,
) -> DataFrame:
    """Categorical PSI between two samples: same smoothing and
    fixed-point rules as :func:`psi_drift`, with an EXPLICIT category
    vocabulary (the crosstab rule — output schema must not depend on
    the data); values outside ``categories`` (including NULL) land in
    ``__other__``. One row per category + the ``__other__`` residual.

    Output: (category, n_base, n_target, p_base_ppm, p_target_ppm,
    psi_u)."""
    cats = list(categories)
    if not cats:
        raise ValueError("psi_drift_categorical needs at least one category")
    n_slots = len(cats) + 1

    def counted(df: DataFrame, name: str) -> DataFrame:
        c = F.col(cat_col)
        slot = F.when(c.isin(cats), c).otherwise(F.lit("__other__"))
        return df.groupBy(slot.alias("category")).agg(
            F.count(F.lit(1)).alias(name)
        )

    spark = base.sparkSession
    vocab = spark.createDataFrame(
        [(c,) for c in (*cats, "__other__")], "category string"
    )
    counts = (
        vocab.join(counted(base, "n_base"), "category", "left")
        .join(counted(target, "n_target"), "category", "left")
        .select(
            "category",
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
            F.coalesce("n_target", F.lit(0)).alias("n_target"),
        )
    )
    return _psi_terms(counts, "category", n_slots, scale)


def datacard_report(
    df: DataFrame,
    dims: list[str],
    text_col: str = "text",
) -> DataFrame:
    """Dataset data card — the corpus-composition statement
    "Datasheets for Datasets" (Gebru et al. 2018) and Google's Data
    Cards standardize, computed as ONE rollup aggregate: per
    ``dims`` combination (e.g. source x language), per prefix, and
    overall — document / token / character totals, token-length
    bounds, and integer-ppm density ratios (tokens per doc, chars
    per token — the q100 fixed-point convention, no float division).
    The release artifact a curation pipeline publishes next to every
    shipped corpus snapshot.

    Output: one row per rollup tier with ``gid`` =
    ``grouping_id(dims)`` (0 = finest tier, ascending toward the
    grand total; NULL dim values mark rolled-up levels, the q19/q66
    convention).

    Scale shape (100 TB): per-doc counts are scan-stage
    expressions; the rollup is ONE map-side-combined aggregate whose
    output is the dim-combination count — no window, no join, no
    second corpus pass for any tier.
    """
    if not dims:
        raise ValueError("dims must name at least one column")
    from nsl_kdd_spark.functions.text import token_count

    base = df.withColumn(
        "__t", token_count(text_col).cast("long")
    ).withColumn("__c", F.length(text_col).cast("long"))
    agg = base.rollup(*dims).agg(
        F.grouping_id(*dims).cast("long").alias("gid"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__t").alias("n_tokens"),
        F.sum("__c").alias("n_chars"),
        F.min("__t").alias("min_tokens"),
        F.max("__t").alias("max_tokens"),
    )
    return (
        agg.withColumn(
            "tokens_per_doc_ppm",
            # DECIMAL(38,0): at the grand-total tier of a 100 TB
            # corpus 1e6 * n_chars ~ 1e20 wraps BIGINT (review r11);
            # the quotients are small, so the cast back is safe.
            # n_docs = 0 only on an EMPTY corpus (Spark's rollup
            # still emits a grand-total row there; DuckDB doesn't) —
            # guard the division like chars_per_token_ppm so the one
            # row Spark emits carries 0s instead of a NULL/error
            # split between engines (advice r11)
            F.when(
                F.col("n_docs") > 0,
                F.expr(
                    "CAST((CAST(1000000 AS DECIMAL(38,0)) * n_tokens)"
                    " div n_docs AS BIGINT)"
                ),
            ).otherwise(F.lit(0).cast("long")),
        )
        .withColumn(
            "chars_per_token_ppm",
            F.when(
                F.col("n_tokens") > 0,
                F.expr(
                    "CAST((CAST(1000000 AS DECIMAL(38,0)) * n_chars)"
                    " div n_tokens AS BIGINT)"
                ),
            ).otherwise(F.lit(0).cast("long")),
        )
        .orderBy(
            "gid",
            *[F.col(c).asc_nulls_first() for c in dims],
        )
    )


def threshold_sweep_report(
    df: DataFrame,
    score_col: str,
    thresholds: list[int],
    weight_col: str | None = None,
) -> DataFrame:
    """Filter-threshold sweep: for each candidate cutoff, how much
    of the corpus a ``score >= t`` quality filter would keep — the
    curve a curation pipeline reads to pick the threshold that fits
    its token budget (the published workflow behind every
    quality-classifier cutoff: sweep, then choose by retained
    volume, not by eyeballing scores).

    Output: one row per threshold (ascending) — ``(threshold,
    kept_docs, kept_weight, kept_docs_ppm, kept_weight_ppm)`` with
    ppm ratios against the FULL corpus (integer, DECIMAL(38,0) for
    the 1e6 step — the datacard convention). ``weight_col`` (e.g. a
    token count) defaults to 1 per doc. NULL scores never pass any
    threshold (an unscored doc is kept by no filter) but DO count
    in the totals — the ppm is "of the corpus", not "of the scored".

    Scale shape: the whole sweep is ONE map-side-combined aggregate
    (2k+2 conditional counters over one scan — the q113
    expectations shape); the k-row unpivot happens on the 1-row
    result. No second pass per threshold, no window, no join.
    """
    if not thresholds:
        raise ValueError("thresholds must name at least one cutoff")
    ts = sorted(set(int(t) for t in thresholds))
    w = F.lit(1).cast("long") if weight_col is None else F.col(
        weight_col
    ).cast("long")
    aggs = [
        F.count(F.lit(1)).alias("__nd"),
        F.coalesce(F.sum(w), F.lit(0).cast("long")).alias("__nw"),
    ]
    for i, t in enumerate(ts):
        keep = F.col(score_col) >= F.lit(t)
        aggs.append(F.count_if(keep).alias(f"__d{i}"))
        aggs.append(
            F.coalesce(
                F.sum(F.when(keep, w)), F.lit(0).cast("long")
            ).alias(f"__w{i}")
        )
    one = df.agg(*aggs)
    stack = ", ".join(
        f"CAST({t} AS BIGINT), __d{i}, __w{i}"
        for i, t in enumerate(ts)
    )
    rows = one.select(
        "__nd",
        "__nw",
        F.expr(
            f"stack({len(ts)}, {stack})"
            f" AS (threshold, kept_docs, kept_weight)"
        ),
    )
    ppm = lambda num, den: F.when(  # noqa: E731
        F.col(den) > 0,
        F.expr(
            f"CAST((CAST(1000000 AS DECIMAL(38,0)) * {num})"
            f" div {den} AS BIGINT)"
        ),
    ).otherwise(F.lit(0).cast("long"))
    return (
        rows.withColumn("kept_docs_ppm", ppm("kept_docs", "__nd"))
        .withColumn("kept_weight_ppm", ppm("kept_weight", "__nw"))
        .drop("__nd", "__nw")
        .orderBy("threshold")
    )

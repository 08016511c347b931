"""Unit tests for the relational/agg/window operator layer on tiny
in-memory frames — the SURVEY §5 per-operator test tier."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from nsl_kdd_spark.operators import agg, relational, windows


def test_crosstab_zero_fills_missing_cells(spark):
    df = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("b", "y")], "r string, c string"
    )
    out = agg.crosstab(df, "r", "c", values=["x", "y", "z"])
    rows = {r["r"]: (r["x"], r["y"], r["z"]) for r in out.collect()}
    assert rows == {"a": (2, 0, 0), "b": (0, 1, 0)}


def test_group_count_ordering(spark):
    df = spark.createDataFrame([("a",), ("b",), ("b",)], "k string")
    out = [tuple(r) for r in agg.group_count(df, "k").collect()]
    assert out == [("b", 2), ("a", 1)]


def test_describe_stats_values(spark):
    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "x double")
    r = agg.describe_stats(df, ["x"]).first()
    assert (r["count"], r["mean"], r["min"], r["max"]) == (3.0, 2.0, 1.0, 3.0)
    assert abs(r["stddev"] - 1.0) < 1e-12


def test_histogram_clamps_out_of_range(spark):
    df = spark.createDataFrame([(-5.0,), (0.5,), (9.5,), (25.0,)], "x double")
    out = {r["bucket"]: r["n"] for r in agg.histogram(df, "x", 0.0, 10.0, 2).collect()}
    # -5 clamps into bucket 0; 25 clamps into bucket 1
    assert out == {0: 2, 1: 2}


def test_replace_values_only_touches_target(spark):
    df = spark.createDataFrame([(2.0, 2.0), (1.0, 2.0)], "a double, b double")
    out = relational.replace_values(df, "a", {2.0: 0.0}).collect()
    assert sorted(map(tuple, out)) == [(0.0, 2.0), (1.0, 2.0)]


def test_one_hot_unknown_category_all_zero(spark):
    df = spark.createDataFrame([("x",), ("q",)], "c string")
    out = relational.one_hot(df, "c", ["x", "y"])
    rows = sorted(map(tuple, out.collect()))
    assert rows == [("q", 0.0, 0.0), ("x", 1.0, 0.0)]


def test_drop_constant_columns(spark):
    df = spark.createDataFrame([(1.0, 7.0), (2.0, 7.0)], "a double, b double")
    out = relational.drop_constant_columns(df, ["a", "b"])
    assert out.columns == ["a"]


def test_drop_constant_columns_nulls_and_nan(spark):
    """The check is exact and null-safe: all nulls, or nulls plus one
    value, is constant; a number plus NaN is two values."""
    nan = float("nan")
    df = spark.createDataFrame(
        [(None, None, 1.0), (None, 3.0, nan), (None, 3.0, 1.0)],
        "all_null double, null_and_one double, one_and_nan double",
    )
    out = relational.drop_constant_columns(df, df.columns)
    assert out.columns == ["one_and_nan"]


def test_deterministic_id_row_number(spark):
    df = spark.createDataFrame([("c",), ("a",), ("b",)], "k string")
    out = relational.with_deterministic_id(df, "id", order_by=["k"])
    got = {r["k"]: r["id"] for r in out.collect()}
    assert got == {"a": 1, "b": 2, "c": 3}


def test_top_k_per_group_ties_stable(spark):
    df = spark.createDataFrame(
        [("g", 5.0, 1), ("g", 5.0, 2), ("g", 3.0, 3)], "g string, v double, i long"
    )
    out = windows.top_k_per_group(
        df, ["g"], [F.desc("v"), F.asc("i")], k=2
    ).select("i").collect()
    assert [r["i"] for r in out] == [1, 2]  # tie broken by i, stable


def test_connected_components_hand_graph(spark):
    from nsl_kdd_spark.operators.graph import component_sizes, connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    comps = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    sizes = [tuple(r) for r in component_sizes(connected_components(edges)).collect()]
    assert sizes == [(1, 4), (20, 3), (10, 2)]


def test_connected_components_chain_converges(spark):
    # a long chain stresses the iteration count (diameter halving)
    from nsl_kdd_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    comps = connected_components(edges).collect()
    assert {r["comp"] for r in comps} == {0}
    assert len(comps) == 31


def test_exact_aggs_skip_nulls_like_sql(spark):
    from nsl_kdd_spark.functions.scalar import exact_avg, exact_sum

    df = spark.createDataFrame(
        [(1.5,), (None,), (2.5,), (None,)], "x double"
    )
    r = df.agg(
        exact_sum("x").alias("s"), exact_avg("x").alias("m"),
        F.count("x").alias("n"),
    ).first()
    assert (r["s"], r["m"], r["n"]) == (4.0, 2.0, 2)  # nulls ignored


def test_profile_counts_nulls(spark):
    df = spark.createDataFrame(
        [(1.0, "a"), (None, "b"), (3.0, None)], "x double, s string"
    )
    out = {r["col_name"]: r for r in agg.profile(df, ["x", "s"], exact_scale=2).collect()}
    assert out["x"]["n_nulls"] == 1 and out["x"]["n_distinct"] == 2
    assert out["s"]["n_nulls"] == 1 and out["s"]["mean_value"] is None
    assert out["x"]["mean_value"] == 2.0


def test_format_report_and_correlation_matrix(spark):
    from nsl_kdd_spark.ml.metrics import (
        binary_metrics,
        correlation_matrix,
        format_report,
    )

    scored = spark.createDataFrame(
        [(1.0, 1.0), (1.0, 0.0), (0.0, 0.0), (0.0, 0.0)], "y double, p double"
    )
    report = format_report(binary_metrics(scored, "y", "p").first())
    assert "Detection Rate:   0.5000" in report
    assert "False Alarm Rate: 0.0000" in report

    df = spark.createDataFrame(
        [(float(i), float(2 * i), float(-i)) for i in range(10)],
        "a double, b double, c double",
    )
    cm = {(r["col_a"], r["col_b"]): r["corr"] for r in
          correlation_matrix(df, ["a", "b", "c"]).collect()}
    assert abs(cm[("a", "b")] - 1.0) < 1e-9     # perfectly correlated
    assert abs(cm[("a", "c")] + 1.0) < 1e-9     # perfectly anti-correlated
    assert abs(cm[("a", "a")] - 1.0) < 1e-9


def test_map_label_strict_raises_on_unseen(spark):
    # D1 semantics: the reference's dict UDF KeyErrors on labels
    # outside the taxonomy (README.md:220) — strict mode reproduces it
    import pytest as _pytest

    from nsl_kdd_spark.ml.labels import map_label

    df = spark.createDataFrame([("known",), ("mystery",)], "l string")
    strict = df.select(map_label("l", {"known": "k"}, strict=True).alias("m"))
    with _pytest.raises(Exception, match="unseen label: mystery"):
        strict.collect()
    lax = df.select(map_label("l", {"known": "k"}, strict=False).alias("m"))
    got = {r["m"] for r in lax.collect()}
    assert got == {"k", None}


def test_sketch_profile_within_tolerance(spark):
    """q63's sketch aggregates track exact answers: HLL++ rsd=0.02
    should land well within 5%, and GK approx quantiles within rank
    tolerance of the exact percentile on this distribution."""
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    approx = orders.agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("a"),
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("p50"),
    ).first()
    exact = orders.agg(
        F.countDistinct("o_custkey").alias("e"),
        F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
    ).first()
    assert abs(approx["a"] - exact["e"]) <= 0.05 * exact["e"]
    assert abs(approx["p50"] - exact["p50"]) <= 0.02 * exact["p50"]


def test_unpivot_roundtrips_shape(spark):
    df = spark.createDataFrame([(1, 10.0, 20.0), (2, 30.0, 40.0)], "id long, a double, b double")
    out = relational.unpivot(df, ["id"], ["a", "b"]).collect()
    assert sorted(map(tuple, out)) == [
        (1, "a", 10.0), (1, "b", 20.0), (2, "a", 30.0), (2, "b", 40.0)
    ]


def test_resample_ffill_fills_gap_buckets(spark):
    """Events at t=0 and t=20 with 10s buckets: the empty middle bucket
    appears with n_events=0, null total, and the forward-filled value
    from the first bucket."""
    from nsl_kdd_spark.operators.timeseries import resample_ffill

    df = spark.createDataFrame(
        [("k", 0, 5.0), ("k", 21, 7.0)], "key string, t long, v double"
    ).withColumn("ts", F.timestamp_seconds("t"))
    out = resample_ffill(
        df, "ts", ["key"], 10,
        aggs=[F.sum("v").alias("total")], ffill_cols=["total"],
    ).collect()
    rows = [(r["bucket"], r["n_events"], r["total"], r["total_ffill"]) for r in out]
    assert rows == [(0, 1, 5.0, 5.0), (10, 0, None, 5.0), (20, 1, 7.0, 7.0)]


def test_funnel_ordering_and_window_semantics(spark):
    """Funnel counts require strict event ORDER (click before view
    doesn't convert) and the conversion window anchors at the user's
    FIRST step-1 event (first-touch attribution)."""
    from nsl_kdd_spark.operators.funnel import funnel_steps

    rows = [
        # u1: clean view -> click -> purchase inside 1 day
        (1, "2024-01-01 00:00:00", "view"),
        (1, "2024-01-01 01:00:00", "click"),
        (1, "2024-01-01 02:00:00", "purchase"),
        # u2: click BEFORE view -> only step 1 counts
        (2, "2024-01-01 00:00:00", "click"),
        (2, "2024-01-01 01:00:00", "view"),
        # u3: converts, but outside the 1-day window from FIRST view
        (3, "2024-01-01 00:00:00", "view"),
        (3, "2024-01-03 00:00:00", "click"),
        # u4: never views
        (4, "2024-01-01 00:00:00", "purchase"),
    ]
    events = spark.createDataFrame(rows, ["user_id", "ts", "event_type"]) \
        .withColumn("ts", F.col("ts").cast("timestamp"))

    out = {r.step: r.users for r in
           funnel_steps(events, ["view", "click", "purchase"], within="1 DAY").collect()}
    assert out == {"view": 3, "click": 1, "purchase": 1}

    # unwindowed: u3's late click now converts
    out2 = {r.step: r.users for r in
            funnel_steps(events, ["view", "click", "purchase"]).collect()}
    assert out2 == {"view": 3, "click": 2, "purchase": 1}


def test_dedup_spans_drops_cross_doc_keeps_within_doc(spark):
    # span width 2: doc 1 = [ "a b", "a b" ] (within-doc repeat, kept);
    # docs 2+3 share "x y" (cross-doc, dropped for both).
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "x y p q"), (3, "x y r s")],
        "id long, text string",
    )
    from nsl_kdd_spark.operators.dedup import dedup_spans

    out = {
        r["id"]: (r["clean_text"], r["n_dropped"], r["n_spans"])
        for r in dedup_spans(df, "id", "text", span_words=2).collect()
    }
    assert out[1] == ("a b a b", 0, 2)
    assert out[2] == ("p q", 1, 2)
    assert out[3] == ("r s", 1, 2)


def test_dedup_spans_all_dropped_yields_empty_text(spark):
    df = spark.createDataFrame(
        [(1, "x y"), (2, "x y")], "id long, text string"
    )
    from nsl_kdd_spark.operators.dedup import dedup_spans

    out = {r["id"]: r["clean_text"] for r in
           dedup_spans(df, "id", "text", span_words=2).collect()}
    assert out == {1: "", 2: ""}


def test_dedup_spans_hash_key_matches_text_key(spark):
    df = spark.createDataFrame(
        [(i, f"w{i} common tail {i % 3}") for i in range(12)],
        "id long, text string",
    )
    from nsl_kdd_spark.operators.dedup import dedup_spans

    a = sorted(map(tuple, dedup_spans(df, "id", "text", 2).collect()))
    b = sorted(
        map(tuple, dedup_spans(df, "id", "text", 2, hash_spans=True).collect())
    )
    assert a == b


def test_ngram_topk_ties_and_short_doc_guard(spark):
    df = spark.createDataFrame(
        [(1, "b a b a"), (2, "a b"), (3, "solo")], "id long, text string"
    )
    from nsl_kdd_spark.ml.text_features import ngram_topk

    out = [tuple(r) for r in ngram_topk(df, "text", n=2, k=2).collect()]
    # grams: doc1 -> "b a","a b","b a"; doc2 -> "a b"; doc3 -> none
    assert out == [("a b", 2), ("b a", 2)]


def test_scd2_history_folds_and_versions(spark):
    from nsl_kdd_spark.operators.merge import scd2_history

    df = spark.createDataFrame(
        [
            (1, 10, "A", 100),
            (1, 20, "A", 101),  # unchanged -> folds into v1
            (1, 30, "B", 102),  # change -> v2
            (1, 40, None, 103),  # change to NULL -> v3
            (1, 50, None, 104),  # NULL -> NULL folds (eqNullSafe)
            (2, 10, "Z", 105),
        ],
        "k long, ts long, attr string, seq long",
    )
    out = scd2_history(df, ["k"], "ts", ["attr"], tiebreak_col="seq")
    rows = [
        (r["k"], r["attr"], r["effective_from"], r["effective_to"],
         r["is_current"])
        for r in out.orderBy("k", "effective_from").collect()
    ]
    assert rows == [
        (1, "A", 10, 30, False),
        (1, "B", 30, 40, False),
        (1, None, 40, None, True),
        (2, "Z", 10, None, True),
    ]


def test_semantic_dedup_drops_near_twin_keeps_lowest(spark):
    from nsl_kdd_spark.operators.similarity import semantic_dedup

    # ids 1,2 seed the two centroids (orthogonal); 3 is a near-twin of
    # 1's direction (dropped); 4 = [0,-1] scores 0 vs centroid 0 and
    # -1 vs centroid 1, so argmax lands it in cluster 0, kept (no
    # >=0.9 twin there).
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.0, 1.0]),
            (3, [0.9, 0.1]),
            (4, [0.0, -1.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = {
        r["vec_id"]: (r["cluster_id"], r["kept"])
        for r in semantic_dedup(
            df, n_centroids=2, threshold=0.9, centroids="id-seed"
        ).collect()
    }
    assert out[1] == (0, True)
    assert out[2] == (1, True)
    assert out[3][0] == 0 and out[3][1] is False
    assert out[4] == (0, True)


def test_semantic_dedup_kmeans_optin_and_occupancy_warning(spark):
    """The scale opt-in (kmeans centroids) must find the same
    near-twin drops on well-separated data, and the opt-in occupancy
    guard must warn when n/k exceeds the bound."""
    import warnings

    from nsl_kdd_spark.operators.similarity import semantic_dedup

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.0, 1.0]),
            (3, [0.9, 0.1]),       # near-twin of 1 -> dropped
            (4, [0.05, 1.1]),      # near-twin of 2 -> dropped
        ],
        "vec_id long, embedding array<float>",
    )
    out = {
        r["vec_id"]: r["kept"]
        for r in semantic_dedup(
            df, n_centroids=2, threshold=0.9, centroids="kmeans"
        ).collect()
    }
    # kmeans separates the two directions; lowest id per twin-pair kept
    assert out == {1: True, 2: True, 3: False, 4: False}

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        semantic_dedup(df, n_centroids=2, threshold=0.9,
                       centroids="kmeans", max_occupancy=1).collect()
    assert any("occupancy" in str(x.message) for x in w)

    import pytest
    with pytest.raises(ValueError, match="id-seed"):
        semantic_dedup(df, centroids="bogus")


def test_zvalue_interleaves_bits(spark):
    from nsl_kdd_spark.operators.layout import zvalue

    import pytest

    df = spark.createDataFrame([(2, 1)], "x long, y long")
    # x=0b10 -> bit1 at pos 2; y=0b01 -> bit0 at pos 1 => 4 + 2 = 6
    assert df.select(zvalue(["x", "y"], 2).alias("z")).first()["z"] == 6
    # masking: values overflowing `bits` wrap, never corrupt other cols
    df2 = spark.createDataFrame([(6, 0)], "x long, y long")  # 0b110 & 0b11 = 0b10
    assert df2.select(zvalue(["x", "y"], 2).alias("z")).first()["z"] == 4
    with pytest.raises(ValueError):
        zvalue(["x", "y"], 32)


def test_zorder_sort_groups_neighbors(spark):
    from nsl_kdd_spark.operators.layout import zorder_sort, zvalue

    pts = [(x, y) for x in range(8) for y in range(8)]
    df = spark.createDataFrame(pts, "x long, y long")
    # range partitioning on the z-value makes the concatenated
    # partition order the GLOBAL curve order
    rows = zorder_sort(df.repartition(4), ["x", "y"], bits=3,
                       num_partitions=2).collect()
    zsorted = [tuple(r) for r in rows]

    def morton(p):
        return sum(((p[0] >> b) & 1) << (2 * b) for b in range(3)) + sum(
            ((p[1] >> b) & 1) << (2 * b + 1) for b in range(3)
        )

    assert zsorted == sorted(pts, key=morton)


def test_unigram_logprob_fixed_point_exact(spark):
    import math

    from nsl_kdd_spark.ml.text_features import unigram_logprob

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b")], "id long, text string"
    )
    out = {r["id"]: r for r in unigram_logprob(df, "id", "text").collect()}
    iln = round(math.log(2 / 4) * 1e6)  # both tokens have p = 0.5
    assert out[1]["n_tokens"] == 3 and out[1]["nll_mnats"] == -3 * iln
    assert out[2]["n_tokens"] == 1 and out[2]["nll_mnats"] == -iln
    assert abs(out[1]["avg_nll"] - (-iln / 1e6)) < 1e-9


def test_mix_corpora_superset_and_independence(spark):
    import pytest

    from nsl_kdd_spark.operators.corpus import mix_corpora

    a = spark.range(0, 200).withColumnRenamed("id", "k")
    b = spark.range(0, 200).withColumnRenamed("id", "k")

    def ids(frac_a, frac_b):
        out = mix_corpora({"a": a, "b": b}, "k", {"a": frac_a, "b": frac_b})
        return {
            (r["source_name"], r["k"]) for r in out.collect()
        }

    small, big = ids(0.2, 0.5), ids(0.6, 0.5)
    # raising a's fraction grows a's sample as a SUPERSET...
    assert {p for p in small if p[0] == "a"} <= {p for p in big if p[0] == "a"}
    # ...and never perturbs b's sample
    assert {p for p in small if p[0] == "b"} == {p for p in big if p[0] == "b"}
    with pytest.raises(ValueError, match="no fraction"):
        mix_corpora({"a": a, "b": b}, "k", {"a": 0.5})


def test_bigram_logprob_order_sensitivity_and_short_docs(spark):
    import math

    from nsl_kdd_spark.ml.text_features import bigram_logprob

    # corpus: "a b" x3 and "b a" x1 -> P(b|a)=3/3=1 (from prefix 'a'),
    # P(a|b)=1/1=1 -> every bigram NLL 0; doc 4 is too short.
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a b b a"), (4, "solo")],
        "id long, text string",
    )
    out = {r["id"]: r for r in bigram_logprob(df, "id", "text").collect()}
    assert out[4]["n_bigrams"] == 0 and out[4]["avg_nll"] is None
    # doc 3 bigrams: "a b", "b b", "b a" -> prefix b has bf{b b:1,b a:1}
    # wait for THIS corpus: pairs = a b (x3), a b/b b/b a from doc3.
    # P(b|a)=4/4? recompute: bigram counts: "a b":3(doc1,2)+1(doc3)=4,
    # "b b":1, "b a":1; prefix a: 4; prefix b: 2.
    iln_ab = round(math.log(4 / 4) * 1e6)   # 0
    iln_bb = round(math.log(1 / 2) * 1e6)
    iln_ba = round(math.log(1 / 2) * 1e6)
    assert out[1]["nll_mnats"] == -iln_ab and out[1]["n_bigrams"] == 1
    assert out[3]["nll_mnats"] == -(iln_ab + iln_bb + iln_ba)
    assert out[3]["n_bigrams"] == 3


def test_jaccard_prefix_filter_keeps_exact_threshold_boundary_pair(spark):
    """jaccard == t exactly, with A's shingles a subset of B's: the
    float form of the prefix bound (floor(|s|*(1-t))) rounds BELOW the
    integer when t*|s| is exact (10*(1-0.8) -> 1.999...96) and loses
    the pair's only shared prefix element (found at sf0.1; fixed with
    an epsilon nudge). 10 distinct trigrams vs 8, intersection 8."""
    from nsl_kdd_spark.operators.dedup import jaccard_pairs

    a = "small join join merge scan group a big join key"
    b = a + " dup dup"
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, "completely different words here entirely")],
        "doc_id long, text string",
    )
    out = [(r["id_a"], r["id_b"], r["jaccard"])
           for r in jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.8).collect()]
    assert out == [(1, 2, 0.8)]


def test_jaccard_size_ratio_prefilter_lossless_vs_inverted_index(spark):
    """Round-7 (r5 verdict #4): the size-ratio candidate pre-filter
    (min(sz) >= t * max(sz), nudged like the prefix bound) must be
    invisible in results — prefix path == plain inverted-index path
    pair-for-pair, including subset pairs sitting exactly at
    J = min/max = t where t * max rounds a hair HIGH in float (0.8 *
    10 -> 8.0000000000000004: an unnudged filter drops the pair)."""
    from nsl_kdd_spark.operators.dedup import jaccard_pairs

    a = "small join join merge scan group a big join key"
    rows = [
        (1, a),
        (2, a + " dup dup"),          # A ⊂ B, J = 8/10 = t exactly
        (3, "completely different words here entirely friend ok yes"),
        (4, a + " dup dup zip zap"),  # J(1,4) = 8/12 < t: ratio-filtered
        (5, a),                        # exact dup of 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=0.8, prefix_filter=False
        ).collect()
    )
    assert (1, 2, 0.8) in want and (1, 5, 1.0) in want
    for order in ("freq", "hash"):
        got = sorted(
            (r.id_a, r.id_b, round(r.jaccard, 9))
            for r in jaccard_pairs(
                df, "doc_id", "text", n=3, threshold=0.8, order=order
            ).collect()
        )
        assert got == want, order


def test_pagerank_star_graph_and_dangling(spark):
    """Star graph 1->{2,3,4}: the hub is a source, leaves are sinks
    (dangling); leaves end equal by symmetry, total rank stays ~scale
    because dangling mass is redistributed, and results are exact
    integers (repeatable bit-for-bit)."""
    from nsl_kdd_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], ["src", "dst"]
    )
    r = {row.node: row.rank for row in pagerank(edges, iterations=5).collect()}
    assert set(r) == {1, 2, 3, 4}
    assert r[2] == r[3] == r[4]
    assert r[2] > r[1]  # leaves absorb the hub's mass
    total = sum(r.values())
    # integer floor-division leaks < a few units per node per iteration
    assert abs(total - 10**12) < 100 * 5 * 4
    r2 = {row.node: row.rank for row in pagerank(edges, iterations=5).collect()}
    assert r == r2  # bit-exact repeatability


def test_pagerank_cycle_is_uniform(spark):
    """A directed cycle is perfectly symmetric: every node must hold
    exactly the same rank after any number of iterations."""
    from nsl_kdd_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], ["src", "dst"]
    )
    ranks = [row.rank for row in pagerank(edges, iterations=3).collect()]
    assert len(set(ranks)) == 1


def test_bm25_favors_term_dense_short_doc(spark):
    """Same tf in a shorter doc scores higher (length normalization),
    and a doc with zero query terms is absent."""
    from nsl_kdd_spark.ml.text_features import bm25_scores

    docs = spark.createDataFrame(
        [
            (1, "spark spark filler"),
            (2, "spark spark " + "filler " * 20),
            (3, "nothing relevant here"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in bm25_scores(docs, ["spark"]).collect()}
    assert set(out) == {1, 2}
    assert out[1].bm25_u > out[2].bm25_u
    assert out[1].n_terms == 1


def test_cohort_retention_offsets_and_ppm(spark):
    from nsl_kdd_spark.operators.cohort import cohort_retention

    events = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00"),  # week of Jan 1 (Monday)
            (1, "2024-01-08 09:00:00"),  # next week -> offset 1
            (2, "2024-01-02 10:00:00"),  # same cohort, never returns
            (3, "2024-01-09 10:00:00"),  # second cohort
        ],
        ["user_id", "ts_s"],
    ).selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts")
    rows = {
        (r.cohort.isoformat(), r.offset): (r.n_users, r.cohort_size, r.retention_ppm)
        for r in cohort_retention(events, max_offset=12).collect()
    }
    assert rows[("2024-01-01T00:00:00", 0)] == (2, 2, 1000000)
    assert rows[("2024-01-01T00:00:00", 1)] == (1, 2, 500000)
    assert rows[("2024-01-08T00:00:00", 0)] == (1, 1, 1000000)
    assert len(rows) == 3


def test_winsorize_clips_both_tails(spark):
    from nsl_kdd_spark.operators.agg import winsorize

    vals = [(float(i), "g") for i in range(1, 100)] + [(10_000.0, "g"), (-10_000.0, "g")]
    df = spark.createDataFrame(vals, ["v", "g"])
    row = winsorize(df, "v", "g", 0.01, 0.99).collect()[0]
    assert row.n == 101
    assert row.n_lo == 1 and row.n_hi == 1
    # clipped sum must be far below the raw sum (raw has +-10k spikes)
    assert row.sum_u < 6_000 * 1_000_000


def test_percentile_summary_approx_rank_error_bounded(spark):
    """The exact=False sketch tier (round-7; prose-only before):
    Greenwald-Khanna's contract is that the returned value is an
    actual element whose rank is within n/accuracy of the target rank
    — assert that bound per group on the real lineitem table, at an
    accuracy coarse enough (100) that the sketch genuinely
    approximates rather than degenerating to exact."""
    from nsl_kdd_spark.operators.agg import percentile_summary
    from nsl_kdd_spark.sources.parquet import load_tables
    from tests.conftest import SF_SMOKE

    li = load_tables(spark, SF_SMOKE).lineitem
    exact = percentile_summary(li, "l_extendedprice", "l_returnflag")
    approx = percentile_summary(
        li, "l_extendedprice", "l_returnflag", exact=False, accuracy=100
    )
    # identical output schema: the 100 TB path is a flag flip
    assert approx.schema == exact.schema

    groups = {
        r["l_returnflag"]: sorted(
            x["l_extendedprice"]
            for x in li.filter(F.col("l_returnflag") == r["l_returnflag"])
            .select("l_extendedprice").collect()
        )
        for r in approx.collect()
    }
    for r in approx.collect():
        vals = groups[r["l_returnflag"]]
        n = len(vals)
        assert n > 500  # the bound must be non-trivial on the fixture
        for p, col in ((0.5, "p50"), (0.9, "p90")):
            got = r[col]
            assert got in vals  # GK returns an element, no interpolation
            # rank window of `got` among the sorted values
            import bisect
            rank_lo = bisect.bisect_left(vals, got)
            rank_hi = bisect.bisect_right(vals, got)
            target = p * n
            err = n / 100 + 1  # n/accuracy, +1 for rank convention slack
            assert rank_lo - err <= target <= rank_hi + err, (
                r["l_returnflag"], col, got, rank_lo, rank_hi, target
            )
        assert r["lo"] == vals[0] and r["hi"] == vals[-1]


def test_winsorize_approx_tier_bounded_vs_exact(spark):
    """winsorize(exact=False): same schema, same row count, clipped
    sums within 1% of the exact tier on real data — the clip bounds
    move by at most the sketch's rank error, which at p01/p99 touches
    only the tail mass."""
    from nsl_kdd_spark.operators.agg import winsorize
    from nsl_kdd_spark.sources.parquet import load_tables
    from tests.conftest import SF_SMOKE

    li = load_tables(spark, SF_SMOKE).lineitem
    exact = winsorize(li, "l_extendedprice", "l_returnflag", 0.01, 0.99)
    approx = winsorize(
        li, "l_extendedprice", "l_returnflag", 0.01, 0.99,
        exact=False, accuracy=1000,
    )
    assert approx.schema == exact.schema
    e = {r["l_returnflag"]: r for r in exact.collect()}
    a = {r["l_returnflag"]: r for r in approx.collect()}
    assert e.keys() == a.keys()
    for k in e:
        assert a[k]["n"] == e[k]["n"]
        assert abs(a[k]["sum_u"] - e[k]["sum_u"]) <= 0.01 * abs(e[k]["sum_u"])
        # clip counts stay within the rank-error mass: n/accuracy each side
        slack = e[k]["n"] / 1000 + 1
        assert abs(a[k]["n_lo"] - e[k]["n_lo"]) <= slack
        assert abs(a[k]["n_hi"] - e[k]["n_hi"]) <= slack


def test_mad_outliers_flags_only_the_spike(spark):
    from nsl_kdd_spark.operators.timeseries import mad_outliers

    rows = [("a", float(v)) for v in [10, 11, 12, 13, 14, 1000]] + [
        ("b", 5.0), ("b", 5.0), ("b", 5.0)
    ]
    df = spark.createDataFrame(rows, ["event_type", "value"])
    out = {r.event_type: r for r in mad_outliers(df, "value", "event_type").collect()}
    assert out["a"].n_outliers == 1          # only the 1000 spike
    assert out["b"].n_outliers == 0          # zero MAD, zero deviation
    assert out["a"].outlier_ppm == 1_000_000 // 6


def test_inverted_index_postings_sorted_and_capped(spark):
    from nsl_kdd_spark.ml.text_features import inverted_index

    docs = spark.createDataFrame(
        [(3, "b a"), (1, "a a c"), (2, "a b")],
        ["doc_id", "text"],
    )
    idx = {r.token: r for r in inverted_index(docs).collect()}
    assert idx["a"].postings == [1, 2, 3]
    assert idx["a"].df_count == 3 and idx["a"].cf_count == 4
    assert idx["b"].postings == [2, 3]
    capped = {
        r.token: r.postings
        for r in inverted_index(docs, max_postings=2).collect()
    }
    assert capped["a"] == [1, 2]


def test_event_transitions_counts_and_ppm(spark):
    from nsl_kdd_spark.operators.funnel import event_transitions

    events = spark.createDataFrame(
        [
            (1, 1, "view"), (1, 2, "cart"), (1, 3, "view"),
            (2, 1, "view"), (2, 2, "cart"), (2, 3, "buy"),
        ],
        ["user_id", "tsec", "event_type"],
    ).selectExpr(
        "user_id", "CAST(timestamp_seconds(tsec) AS TIMESTAMP) AS ts",
        "event_type", "tsec AS event_id",
    )
    rows = {
        (r.from_type, r.to_type): (r.n, r.n_from, r.p_ppm)
        for r in event_transitions(
            events, tiebreak_col="event_id"
        ).collect()
    }
    # view->cart twice (both users), cart->view once, cart->buy once
    assert rows[("view", "cart")] == (2, 2, 1_000_000)
    assert rows[("cart", "view")] == (1, 2, 500_000)
    assert rows[("cart", "buy")] == (1, 2, 500_000)
    assert len(rows) == 3  # no cross-user pair (user1 ts3 -> user2 ts1)


def test_mutual_information_independent_and_dependent(spark):
    from nsl_kdd_spark.ml.ar import mutual_information

    # perfectly dependent: y == x  ->  MI = H(X) = ln 2 for a 50/50 x
    dep = spark.createDataFrame(
        [("a", "a")] * 10 + [("b", "b")] * 10, ["x", "y"]
    )
    r = mutual_information(dep, "x", "y").collect()[0]
    assert r.n == 20 and r.n_cells == 2
    assert abs(r.mi_unats - round(math.log(2) * 1e6)) <= 2
    # independent uniform -> MI = 0 exactly (every cell term is 0)
    ind = spark.createDataFrame(
        [(x, y) for x in "ab" for y in "cd" for _ in range(5)], ["x", "y"]
    )
    assert mutual_information(ind, "x", "y").collect()[0].mi_unats == 0


def test_count_min_never_undercounts(spark):
    from nsl_kdd_spark.operators.sketch import count_min_build, count_min_estimate

    df = spark.createDataFrame(
        [(f"k{i % 50}",) for i in range(2000)], ["k"]
    )
    exact = {r.k: r.c for r in df.groupBy("k").agg(F.count("*").alias("c")).collect()}
    sketch = count_min_build(df, "k", depth=4, width=256)
    assert sketch.count() <= 4 * 256
    est = {
        r.k: r.est
        for r in count_min_estimate(sketch, df, "k", depth=4, width=256).collect()
    }
    assert set(est) == set(exact)
    for k, true in exact.items():
        assert est[k] >= true                       # CMS never undercounts
        assert est[k] <= true + (2000 * 4) // 256   # loose overshoot bound
    # tight width -> estimates still exact-or-over, deterministic rerun
    est2 = {
        r.k: r.est
        for r in count_min_estimate(sketch, df, "k", depth=4, width=256).collect()
    }
    assert est == est2


def test_triangle_count_known_graphs(spark):
    from nsl_kdd_spark.operators.graph import triangle_count

    # K4 has 4 triangles, 6 edges; feed reversed + duplicate edges to
    # exercise canonicalization
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]
    df = spark.createDataFrame(k4 + k4[:3], ["id_a", "id_b"])
    r = triangle_count(df).collect()[0]
    assert (r.n_edges, r.n_triangles) == (6, 4)
    # path graph: no triangles
    path = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["id_a", "id_b"])
    r = triangle_count(path).collect()[0]
    assert (r.n_edges, r.n_triangles) == (3, 0)


def test_expect_null_predicate_counts_as_violation(spark):
    from nsl_kdd_spark.operators.quality import expect

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, -5.0)], ["id", "price"]
    )
    rows = {r.rule: r for r in expect(
        df, {"pos": "price > 0", "has_id": "id IS NOT NULL"}
    ).collect()}
    assert rows["pos"].n_violations == 2       # NULL and -5 both violate
    assert rows["pos"].violation_ppm == 666_666
    assert rows["has_id"].n_violations == 0
    assert rows["pos"].n_rows == 3


def test_round4_guards(spark):
    import pytest

    from nsl_kdd_spark.operators.agg import winsorize
    from nsl_kdd_spark.operators.dedup import banded_hamming_pairs
    from nsl_kdd_spark.operators.similarity import knn_quantized

    # bands > 64 would zero the band width -> all-pairs degeneration
    sigs = spark.createDataFrame([(1, 5), (2, 9)], ["doc_id", "sig"])
    with pytest.raises(ValueError, match="64-bit"):
        banded_hamming_pairs(sigs, "doc_id", "sig", max_hamming=3, bands=80)

    # rerank < k silently truncates results
    with pytest.raises(ValueError, match="truncate"):
        knn_quantized(sigs, sigs, k=10, rerank=5)

    # NULL values are excluded from winsorize, not clipped to lo
    df = spark.createDataFrame(
        [(None, "g"), (10.0, "g"), (20.0, "g"), (30.0, "g")], ["v", "g"]
    )
    row = winsorize(df, "v", "g", 0.01, 0.99).collect()[0]
    assert row.n == 3  # NULL excluded entirely
    assert row.sum_u > 3 * 10_000_000  # no fabricated lo-valued row


def test_upsample_hash_deterministic_and_expected_rate(spark):
    from nsl_kdd_spark.operators.relational import upsample_hash

    df = spark.createDataFrame([(i,) for i in range(2000)], ["k"])
    up = upsample_hash(df, "k", 2.25)
    n = up.count()
    # every key appears 2 or 3 times; global rate ~2.25 +- md5 noise
    per = up.groupBy("k").count()
    assert per.filter(~F.col("count").isin(2, 3)).count() == 0
    assert 2.15 * 2000 < n < 2.35 * 2000
    # pure function of (salt, key): rerun identical; new salt differs
    assert up.count() == n
    assert (
        upsample_hash(df, "k", 2.25, salt="v2")
        .groupBy("k").count().exceptAll(per).count() > 0
    )
    # factor < 1 behaves like bernoulli sampling (0 or 1 copies)
    down = upsample_hash(df, "k", 0.5)
    assert 0.4 * 2000 < down.count() < 0.6 * 2000
    import pytest
    with pytest.raises(ValueError, match="positive"):
        upsample_hash(df, "k", 0.0)


def test_grouped_trend_recovers_known_slope(spark):
    from nsl_kdd_spark.operators.agg import grouped_trend

    # y = 10 + 2.0 * day  -> slope_per_day == 2 exactly on exact sums
    rows = [
        ("a", 86400 * d, 10.0 + 2.0 * d) for d in range(10)
    ] + [("b", 86400 * d, 7.5) for d in range(5)]  # flat
    df = spark.createDataFrame(rows, ["g", "es", "v"]).selectExpr(
        "g", "CAST(timestamp_seconds(es) AS TIMESTAMP) AS ts", "v AS value"
    )
    out = {r.g: r for r in grouped_trend(df, "g", "ts", "value").collect()}
    assert abs(out["a"].slope_per_day - 2.0) < 1e-9
    # centroid anchor reconstructs the intercept exactly:
    # intercept = mean_y - slope * mean_x = 10.0 for y = 10 + 2*day
    mean_x_days = out["a"].mean_x_udays / 1e6
    mean_y = out["a"].mean_y_u / 1e6
    assert abs((mean_y - out["a"].slope_per_day * mean_x_days) - 10.0) < 1e-4
    assert abs(out["b"].slope_per_day) < 1e-9
    # single point -> NULL slope, surfaced not masked
    one = spark.createDataFrame([("c", 0, 1.0)], ["g", "es", "v"]).selectExpr(
        "g", "CAST(timestamp_seconds(es) AS TIMESTAMP) AS ts", "v AS value"
    )
    assert grouped_trend(one, "g", "ts", "value").collect()[0].slope_per_day is None


def test_kcore_peels_tails_keeps_cliques(spark):
    from nsl_kdd_spark.operators.graph import kcore

    # triangle {1,2,3} with a tail 3-4-5: 2-core = the triangle only
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], ["id_a", "id_b"]
    )
    core = {(r.node, r.deg) for r in kcore(edges, k=2).collect()}
    assert core == {(1, 2), (2, 2), (3, 2)}
    # k=3: nothing survives (no K4)
    assert kcore(edges, k=3).count() == 0
    # K4 survives 3-core intact with degree 3 each
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    core4 = {(r.node, r.deg) for r in kcore(
        spark.createDataFrame(k4, ["id_a", "id_b"]), k=3
    ).collect()}
    assert core4 == {(i, 3) for i in range(4)}


def test_ranking_metrics_known_values(spark):
    from nsl_kdd_spark.ml.metrics import ranking_metrics

    # q1: relevant at ranks 1,3 of 3 -> DCG = 1 + 1/log2(4);
    # ideal = 1 + 1/log2(3); RR = 1.  q2: nothing relevant.
    rows = [
        ("q1", 1, 1), ("q1", 2, 0), ("q1", 3, 1),
        ("q2", 1, 0), ("q2", 2, 0),
    ]
    df = spark.createDataFrame(rows, ["query_id", "rank", "rel"])
    out = {r.query_id: r for r in ranking_metrics(df, k=10).collect()}
    dcg = round(1_000_000 * 1.0) + round(1_000_000 / math.log2(4))
    idcg = round(1_000_000 * 1.0) + round(1_000_000 / math.log2(3))
    assert out["q1"].dcg_u == dcg
    assert out["q1"].idcg_u == idcg
    assert out["q1"].ndcg_ppm == (dcg * 1_000_000) // idcg
    assert out["q1"].rr_u == 1_000_000
    assert out["q1"].n_rel == 2
    assert (out["q2"].ndcg_ppm, out["q2"].rr_u, out["q2"].n_rel) == (0, 0, 0)
    # perfect ranking -> ndcg exactly 1e6
    perfect = spark.createDataFrame(
        [("q3", 1, 1), ("q3", 2, 1), ("q3", 3, 0)], ["query_id", "rank", "rel"]
    )
    assert ranking_metrics(perfect).collect()[0].ndcg_ppm == 1_000_000


def test_skipping_stats_separates_layouts(spark):
    """On a grid where x and y are independent: x-linear layout scans
    everything for a y-only probe; sorting by y prunes it to ~the
    probe's selectivity."""
    from nsl_kdd_spark.operators.layout import skipping_stats

    rows = [(x, y, x * 100 + y) for x in range(100) for y in range(100)]
    df = spark.createDataFrame(rows, ["x", "y", "id"])
    probes = {"ybox": {"y": (0, 9)}}  # 10% of y, any x
    by_x = skipping_stats(
        df, ["x", "y"], F.col("x"), probes, n_files=10, tiebreak=("id",)
    ).collect()[0]
    by_y = skipping_stats(
        df, ["x", "y"], F.col("y"), probes, n_files=10, tiebreak=("id",)
    ).collect()[0]
    assert by_x.files_scanned == 10      # every x-file spans all y
    assert by_y.files_scanned == 1       # y-sorted: only the first file
    assert by_y.scan_ppm == 100_000


def test_ranking_metrics_surfaces_empty_topk_queries(spark):
    from nsl_kdd_spark.ml.metrics import ranking_metrics

    df = spark.createDataFrame(
        [("q1", 1, 1), ("q4", 6, 1), ("q4", 7, 1)], ["query_id", "rank", "rel"]
    )
    out = {r.query_id: r for r in ranking_metrics(df, k=5).collect()}
    assert set(out) == {"q1", "q4"}  # q4 surfaces even with no top-5 rows
    assert (out["q4"].ndcg_ppm, out["q4"].rr_u, out["q4"].n_rel) == (0, 0, 0)


def test_calibration_report_known_bins(spark):
    from nsl_kdd_spark.ml.metrics import calibration_report

    rows = [(0.05, 0)] * 9 + [(0.05, 1)] + [(0.95, 1)] * 9 + [(0.95, 0)]
    df = spark.createDataFrame(rows, ["score", "label"])
    out = {r.bin: r for r in calibration_report(df, n_bins=10).collect()}
    assert set(out) == {0, 9}
    assert out[0].pos_rate_ppm == 100_000     # 1/10 positive in low bin
    assert out[9].pos_rate_ppm == 900_000
    assert out[0].mean_score_u == 50_000
    # well-calibrated bin has small brier; the 0.95-scored negative
    # pushes bin 9's brier above bin 0's mirrored value only by
    # symmetry — both bins share |score-rate| so briers are equal
    assert out[0].brier_u == out[9].brier_u
    # score exactly 1.0 clamps into the last bin
    one = spark.createDataFrame([(1.0, 1)], ["score", "label"])
    assert calibration_report(one, n_bins=10).collect()[0].bin == 9
    # NULL and out-of-range scores fail loudly, never a silent bin
    import pytest
    bad = spark.createDataFrame([(None, 1)], "score double, label long")
    with pytest.raises(Exception, match="outside"):
        calibration_report(bad, n_bins=10).collect()
    oob = spark.createDataFrame([(1.5, 1)], "score double, label long")
    with pytest.raises(Exception, match="outside"):
        calibration_report(oob, n_bins=10).collect()


def test_select_canonical_keeps_best_quality(spark):
    from nsl_kdd_spark.operators.corpus import select_canonical

    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 50), (7, 42)], ["doc_id", "q"]
    )
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], ["node", "comp"]
    )
    out = {r.doc_id: r for r in select_canonical(
        docs, comps, F.col("q")
    ).collect()}
    assert set(out) == {2, 7}            # best of cluster + singleton
    assert out[2].comp == 1 and out[7].comp is None


def test_weighted_pagerank_follows_weight(spark):
    """Hub 1 points at 2 (weight 9) and 3 (weight 1): node 2 must
    absorb ~9x node 3's damped share; the unweighted run ties them."""
    from nsl_kdd_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2, 9), (1, 3, 1)], ["src", "dst", "w"]
    )
    r = {x.node: x.rank for x in pagerank(edges, weight="w").collect()}
    # shares split 9:1 but teleport + uniform dangling redistribution
    # add equal mass to both sinks, compressing the final ratio
    assert r[2] > 1.5 * r[3]
    ru = {x.node: x.rank for x in pagerank(edges).collect()}
    assert ru[2] == ru[3]


def test_time_weighted_avg_vs_plain_avg(spark):
    from nsl_kdd_spark.operators.timeseries import time_weighted_avg

    # value 100 holds for 9s, value 0 for 1s -> TWA = 90; plain AVG
    # of observed points = (100+0+50)/3
    rows = [("a", 0, 100.0), ("a", 9, 0.0), ("a", 10, 50.0)]
    df = spark.createDataFrame(rows, ["k", "es", "v"]).selectExpr(
        "k", "CAST(timestamp_seconds(es) AS TIMESTAMP) AS ts", "v"
    )
    r = time_weighted_avg(df, "k", "ts", "v").collect()[0]
    assert r.n == 2 and r.span_s == 10
    assert r.twa_u == 90_000         # 90.0 in milli-units
    # single-observation key: no interval -> absent
    one = spark.createDataFrame([("b", 5, 1.0)], ["k", "es", "v"]).selectExpr(
        "k", "CAST(timestamp_seconds(es) AS TIMESTAMP) AS ts", "v"
    )
    assert time_weighted_avg(one, "k", "ts", "v").count() == 0


def test_asof_forward_and_tolerance_directions(spark):
    from nsl_kdd_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("u", 100, 1)], ["k", "es", "lid"]
    ).selectExpr("k", "CAST(timestamp_seconds(es) AS TIMESTAMP) AS lt", "lid")
    right = spark.createDataFrame(
        [("u", 90, 9.0), ("u", 150, 15.0)], ["k", "es", "v"]
    ).selectExpr("k", "CAST(timestamp_seconds(es) AS TIMESTAMP) AS rt", "v")

    back = asof_join(left, right, "k", "lt", "rt", ["v"]).collect()[0]
    fwd = asof_join(
        left, right, "k", "lt", "rt", ["v"], direction="forward"
    ).collect()[0]
    assert back.v == 9.0 and fwd.v == 15.0
    # forward tolerance: the 50s-away future match nulls out at 30s
    fwd_tol = asof_join(
        left, right, "k", "lt", "rt", ["v"],
        direction="forward", tolerance_seconds=30,
    ).collect()[0]
    assert fwd_tol.v is None
    import pytest
    with pytest.raises(ValueError, match="backward|forward"):
        asof_join(left, right, "k", "lt", "rt", ["v"], direction="nearest")


def test_basket_pairs_metrics_and_guard(spark):
    from nsl_kdd_spark.operators.itemsets import basket_pairs

    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b"), (3, "a"), (3, "a")],
        ["basket", "item"],
    )
    out = {(r.item_a, r.item_b): r for r in basket_pairs(
        df, "basket", "item", min_pair_support=1
    ).collect()}
    ab = out[("a", "b")]
    assert (ab.n_ab, ab.n_a, ab.n_b, ab.n_baskets) == (2, 3, 2, 3)
    assert ab.lift_ppm == 1_000_000        # independent-looking pair
    assert out[("b", "c")].lift_ppm == 1_500_000
    # duplicate item in basket 3 counted once
    assert out[("a", "b")].support_ppm == 666_666
    # oversized basket fails loudly
    import pytest
    big = spark.createDataFrame(
        [(1, f"i{k}") for k in range(5)], ["basket", "item"]
    )
    with pytest.raises(Exception, match="max_basket_size"):
        basket_pairs(
            big, "basket", "item", min_pair_support=1, max_basket_size=3
        ).collect()
    # a-priori pruning: items below min support never reach the
    # explode, so the same oversized basket passes at support 2
    # (all its items are singletons) and yields no pairs
    assert basket_pairs(
        big, "basket", "item", min_pair_support=2, max_basket_size=3
    ).count() == 0


def test_rfm_segments_tiles_and_code(spark):
    from nsl_kdd_spark.operators.cohort import rfm_segments

    # customer 1: recent + frequent + big spender; customer 3: stale,
    # single small order
    rows = [
        (1, "2024-03-01", 100.0), (1, "2024-03-10", 200.0),
        (1, "2024-03-20", 300.0),
        (2, "2024-02-01", 150.0), (2, "2024-02-15", 50.0),
        (3, "2024-01-01", 10.0),
    ]
    df = spark.createDataFrame(
        rows, ["o_custkey", "d", "o_totalprice"]
    ).selectExpr("o_custkey", "CAST(d AS TIMESTAMP) AS o_orderdate",
                 "o_totalprice")
    out = {r.customer: r for r in rfm_segments(df, n_tiles=3).collect()}
    assert out[1].recency_days == 0 and out[3].recency_days == 79
    assert out[1].rfm_code > out[2].rfm_code > out[3].rfm_code
    assert (out[1].r_tile, out[1].f_tile, out[1].m_tile) == (3, 3, 3)
    assert (out[3].r_tile, out[3].f_tile, out[3].m_tile) == (1, 1, 1)
    assert out[1].monetary == 600.0


def test_weighted_pagerank_null_weight_raises(spark):
    """A NULL weight must fail loudly, not silently reclassify its
    source as dangling (NULL <= 0 is NULL in three-valued logic, so
    the guard needs an explicit isNull arm)."""
    import pytest

    from nsl_kdd_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2, 9), (1, 3, None)],
        "src long, dst long, w long",
    )
    with pytest.raises(Exception, match="weight must be positive"):
        pagerank(edges, weight="w").collect()


def test_basket_pairs_denominator_overflow_guard(spark):
    """The int64 guard must also cover the n_a * n_b denominator:
    with the counts inflated via a synthetic n_baskets the numerator
    can stay in range while n_a * n_b wraps."""
    from nsl_kdd_spark.operators.itemsets import basket_pairs

    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a"), (2, "b")], ["basket", "item"]
    )
    # sanity: the guard expression exists and the normal path still works
    out = basket_pairs(df, "basket", "item", min_pair_support=1).collect()
    assert out[0].lift_ppm == 1_000_000
    # denominator guard is an expression-level property: verify the
    # raise fires when n_a * n_b exceeds int64 by evaluating the same
    # guarded expression shape on forged counts
    from pyspark.sql import functions as F

    forged = spark.createDataFrame(
        [(4_000_000_000, 4_000_000_000, 1, 10)],
        "n_a long, n_b long, n_ab long, n_baskets long",
    )
    guard = (
        (
            F.col("n_ab").cast("double") * F.col("n_baskets").cast("double")
            * 1e6 > 9.2e18
        )
        | (F.col("n_a").cast("double") * F.col("n_b").cast("double") > 9.2e18)
    )
    assert forged.select(guard.alias("g")).collect()[0].g is True


def test_skipping_stats_backslash_probe_name(spark):
    """A probe name ending in a backslash must survive the stack()
    SQL interpolation (backslash escaped before quotes)."""
    from nsl_kdd_spark.operators.layout import skipping_stats

    df = spark.createDataFrame(
        [(i, i % 4, i) for i in range(64)], ["id", "f", "x"]
    )
    from pyspark.sql import functions as F

    name = "weird\\probe'"
    out = skipping_stats(
        df, dim_cols=["x"], sort_col=F.col("id"),
        probes={name: {"x": (0, 3)}}, n_files=4,
    ).collect()
    assert out[0].probe == name


def test_jaccard_order_variants_identical_results(spark):
    """Both canonical orders are lossless: freq (rarest-first) and
    hash (pure projection) must produce IDENTICAL pairs and values,
    including on boilerplate-heavy docs where the orders differ most
    and on a boundary pair sitting exactly at the threshold."""
    from nsl_kdd_spark.operators.dedup import jaccard_pairs

    boiler = "the quick brown fox jumps over the lazy dog again and"
    rows = [
        (1, boiler + " alpha beta gamma delta"),
        (2, boiler + " alpha beta gamma epsilon"),   # near-dup of 1
        (3, boiler + " zeta eta theta iota"),        # shares only boiler
        (4, "completely different text with nothing shared at all ok"),
        (5, boiler + " alpha beta gamma delta"),     # exact dup of 1
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {}
    for order in ("freq", "hash"):
        out = jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=0.5, order=order
        ).collect()
        got[order] = sorted(
            (r.id_a, r.id_b, round(r.jaccard, 9)) for r in out
        )
    assert got["freq"] == got["hash"]
    assert (1, 5, 1.0) in got["freq"]                # exact dup found
    assert any(a == 1 and b == 2 for a, b, _ in got["freq"])

    import pytest
    with pytest.raises(ValueError, match="freq|hash"):
        jaccard_pairs(df, "doc_id", "text", order="bogus")


def test_ppm_of_overflow_guard(spark):
    """ppm_of must compute the exact integer ratio in range and raise
    past the int64 product bound instead of silently wrapping (ANSI
    is off for oracle cast parity)."""
    import pytest

    from nsl_kdd_spark.functions.scalar import ppm_of

    ok = spark.createDataFrame([(3, 4)], "n long, d long")
    assert ok.select(ppm_of("n", "d").alias("p")).first().p == 750_000
    big = spark.createDataFrame([(10_000_000_000_000, 2)], "n long, d long")
    with pytest.raises(Exception, match="ppm overflow"):
        big.select(ppm_of("n", "d").alias("p")).collect()


def test_banded_hamming_join_cross_table(spark):
    """Cross-table banded join finds every pair within max_hamming
    (pigeonhole) and nothing beyond it."""
    from nsl_kdd_spark.operators.dedup import banded_hamming_join

    left = spark.createDataFrame(
        [(1, 0b1111), (2, 1 << 40)], "id long, sig long"
    )
    right = spark.createDataFrame(
        [(100, 0b1011), (101, (1 << 40) | 0b111), (102, -1)],
        "rid long, rsig long",
    )
    out = {(r.id_l, r.id_r): r.hamming for r in banded_hamming_join(
        left, right, "id", "sig", "rid", "rsig", bands=8, max_hamming=3
    ).collect()}
    # (1,101): 0b1111 vs (1<<40)|0b0111 differ in bit3 and bit40 = 2
    assert out == {(1, 100): 1, (1, 101): 2, (2, 101): 3}
    import pytest
    with pytest.raises(ValueError, match="pigeonhole"):
        banded_hamming_join(left, right, "id", "sig", "rid", "rsig",
                            bands=4, max_hamming=4)


def test_graph_ops_reliable_checkpoint_dir(spark, tmp_path):
    """checkpoint_dir opt-in (the cluster-scale lineage story): each
    iterative graph op must produce identical results through reliable
    checkpoint() as through the default localCheckpoint, and actually
    write round tables into the given directory."""
    import os

    from nsl_kdd_spark.operators.graph import (
        connected_components, kcore, pagerank,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (6, 6), (3, 1), (5, 7), (7, 4)],
        "id_a long, id_b long",
    )
    ck = str(tmp_path / "ck")

    cc_local = {(r.node, r.comp) for r in
                connected_components(edges).collect()}
    cc_rel = {(r.node, r.comp) for r in
              connected_components(edges, checkpoint_dir=ck).collect()}
    assert cc_rel == cc_local and len(cc_local) == 7

    pr_edges = edges.selectExpr("id_a as src", "id_b as dst")
    pr_local = {(r.node, r.rank) for r in
                pagerank(pr_edges, iterations=3).collect()}
    pr_rel = {(r.node, r.rank) for r in
              pagerank(pr_edges, iterations=3,
                       checkpoint_dir=ck).collect()}
    assert pr_rel == pr_local   # bit-exact fixed-point contract holds

    kc_local = {(r.node, r.deg) for r in kcore(edges, k=2).collect()}
    kc_rel = {(r.node, r.deg) for r in
              kcore(edges, k=2, checkpoint_dir=ck).collect()}
    assert kc_rel == kc_local and kc_local

    # reliable checkpoints actually landed on the shared path
    assert any(
        files for _, _, files in os.walk(ck)
    ), "no checkpoint files written"


def test_retrieval_eval_known_values(spark):
    """Round-9 retrieval-eval composition: recall@k / precision@k /
    reciprocal rank against a labeled positives table, all
    fixed-point integers (the q123 convention)."""
    from nsl_kdd_spark.ml.metrics import retrieval_eval

    run = spark.createDataFrame(
        # q1: positives at ranks 2 and 5 (of 3 judged); q2: none of
        # its 2 positives retrieved; q3: unjudged (no positives row)
        [("q1", d, r) for r, d in enumerate(
            ["a", "p1", "b", "c", "p2"], start=1)]
        + [("q2", d, r) for r, d in enumerate(["x", "y", "z"], start=1)]
        + [("q3", d, r) for r, d in enumerate(["m", "n"], start=1)],
        ["query_id", "vec_id", "rank"],
    )
    positives = spark.createDataFrame(
        [("q1", "p1"), ("q1", "p2"), ("q1", "p9"),
         ("q2", "g1"), ("q2", "g2")],
        ["query_id", "vec_id"],
    )
    out = {r.query_id: r for r in retrieval_eval(
        run, positives, k=5).collect()}
    assert (out["q1"].n_pos, out["q1"].hits) == (3, 2)
    assert out["q1"].recall_ppm == (2 * 1_000_000) // 3
    assert out["q1"].precision_ppm == (2 * 1_000_000) // 5
    assert out["q1"].rr_u == 500_000  # first hit at rank 2
    assert (out["q2"].n_pos, out["q2"].hits, out["q2"].recall_ppm,
            out["q2"].rr_u) == (2, 0, 0, 0)
    # unjudged query surfaces with zeros instead of vanishing
    assert (out["q3"].n_pos, out["q3"].recall_ppm, out["q3"].rr_u) == (
        0, 0, 0)
    # k cutoff: rank-5 hit drops when k=4
    out4 = {r.query_id: r for r in retrieval_eval(
        run, positives, k=4).collect()}
    assert (out4["q1"].hits, out4["q1"].rr_u) == (1, 500_000)


def test_retrieval_eval_plan_broadcasts_labels(spark):
    """q154's plan contract: positives label-join and n_pos join are
    BroadcastHashJoins (judgment tables are tiny by nature), the only
    nested-loop joins are knn's documented broadcast-query scoring,
    and nothing falls to CartesianProduct or Python."""
    from nsl_kdd_spark.plans.catalog import QUERIES
    from tests.conftest import SF_SMOKE
    from tests.test_plan_quality import plan_of

    df = QUERIES["q154_retrieval_eval"](spark, SF_SMOKE)
    plan = plan_of(df)
    tree = plan.split("\n\n")[0]
    assert tree.count("BroadcastHashJoin") >= 2
    assert tree.count("BroadcastNestedLoop") <= 2  # knn query broadcast
    assert "CartesianProduct" not in tree
    assert "EvalPython" not in plan


def test_cross_source_dup_matrix(spark):
    """Diagonal counts within-source duplicate groups; off-diagonal
    counts groups spanning both sources, with source_a < source_b;
    leak-free pairs emit nothing; bodies never shuffle (cells are
    hashes + counts)."""
    from pyspark.sql import functions as F

    from nsl_kdd_spark.operators.dedup import cross_source_dup_matrix

    rows = [
        ("web", "X"), ("web", "X"),           # within-web dup group
        ("web", "Y"), ("wiki", "Y"),          # web<->wiki leak
        ("web", "Z"), ("wiki", "Z"), ("books", "Z"),  # 3-way leak
        ("books", "U"),                       # unique
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    got = {
        (r["source_a"], r["source_b"]): (r["dup_groups"], r["dup_docs"])
        for r in cross_source_dup_matrix(df, "source", "text").collect()
    }
    assert got == {
        ("web", "web"): (1, 2),
        ("web", "wiki"): (2, 4),      # Y and Z groups, 2+2 docs
        ("books", "web"): (1, 2),     # Z
        ("books", "wiki"): (1, 2),    # Z
    }


def test_cross_source_dup_matrix_null_sources_fold(spark):
    """NULL sources are ONE unattributed class (sentinel-rendered):
    they appear on BOTH the diagonal and cross-source cells instead
    of vanishing from the `<` pair comparison (review r12)."""
    from nsl_kdd_spark.operators.dedup import cross_source_dup_matrix

    rows = [
        (None, "X"), (None, "X"),   # within-unattributed dup group
        (None, "Y"), ("web", "Y"),  # unattributed <-> web leak
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    got = {
        (r["source_a"], r["source_b"]): r["dup_groups"]
        for r in cross_source_dup_matrix(df, "source", "text").collect()
    }
    s = "\x00null"
    assert got == {(s, s): 1, (s, "web"): 1}


def test_cross_source_neardup_matrix(spark):
    """Near-dup tier (round-13): MinHash-banded pairs labeled per
    unordered source cell — paraphrased near-dups the exact matrix
    misses land in the right cells; NULL sources fold to the
    sentinel; no-leak cells emit nothing."""
    from nsl_kdd_spark.operators.dedup import (
        cross_source_neardup_matrix,
    )

    # long shared body + one-word edits -> jaccard ~0.9; the md5
    # banding is deterministic, so once this fixture buckets it
    # always buckets (collision verified at authoring time)
    base = " ".join(f"w{i}" for i in range(40))
    rows = [
        (0, "web", base),
        (1, "wiki", base.replace("w39", "zz")),   # web<->wiki near-dup
        (2, "web", base.replace("w0", "yy")),     # web<->web near-dup
        (3, None, base.replace("w20", "xx")),     # unattributed
        (4, "books", "completely different text with no overlap at all"
                     " whatsoever in any shingle"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    out = cross_source_neardup_matrix(
        df, "source", "doc_id", "text",
        num_hashes=8, band_size=2, threshold=0.5, shingle_n=3,
    ).collect()
    got = {
        (r["source_a"], r["source_b"]): (r["dup_pairs"], r["dup_docs"])
        for r in out
    }
    s = "\x00null"
    # docs 0/1/2/3 are mutual near-dups (one-word edits of base)
    assert got[("web", "wiki")][0] >= 1
    assert got[("web", "web")][0] >= 1
    assert (s, "web") in got or (s, "wiki") in got
    assert all("books" not in k for k in got)
    # dup_docs counts DISTINCT docs per cell
    for (a, b), (pairs, docs) in got.items():
        assert docs <= 2 * pairs


def test_cap_per_group(spark):
    """RefinedWeb per-domain cap: at most k per group, md5-digest
    order — deterministic, superset-stable in k, salt-sensitive."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from nsl_kdd_spark.operators.relational import cap_per_group

    df = spark.range(300).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("dom"),
    )
    kept2 = cap_per_group(df, "dom", "doc_id", k=2)
    counts = {
        r["dom"]: r["c"]
        for r in kept2.groupBy("dom").agg(F.count("*").alias("c")).collect()
    }
    assert counts == {"0": 2, "1": 2, "2": 2}
    # deterministic + superset-stable: the k=2 set is inside the k=5 set
    s2 = {r["doc_id"] for r in kept2.collect()}
    s2b = {r["doc_id"] for r in cap_per_group(df, "dom", "doc_id", k=2).collect()}
    s5 = {r["doc_id"] for r in cap_per_group(df, "dom", "doc_id", k=5).collect()}
    assert s2 == s2b and s2 < s5
    # a different salt draws a different (still capped) set
    alt = {r["doc_id"] for r in cap_per_group(df, "dom", "doc_id", k=2, salt="x").collect()}
    assert alt != s2 and len(alt) == 6
    # k past the group size keeps everything
    assert cap_per_group(df, "dom", "doc_id", k=500).count() == 300
    with _pytest.raises(ValueError):
        cap_per_group(df, "dom", "doc_id", k=0)


def test_dedup_priority(spark):
    """Per exact-dup group, the survivor is the highest-priority
    source's copy (ties by lowest id); unlisted/NULL sources rank
    last; NULL texts form ONE group (the dedup_exact convention)."""
    from nsl_kdd_spark.operators.dedup import dedup_priority

    rows = [
        (0, "crawl", "X"), (1, "curated", "X"), (2, "crawl", "X"),
        (3, "crawl", "Y"), (4, "crawl", "Y"),      # tie -> lowest id
        (5, None, "Z"), (6, "books", "Z"),         # unlisted+NULL last
        (7, "crawl", None), (8, "curated", None),  # NULL-text group
        (9, "crawl", "U"),                         # singleton
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    kept = sorted(
        r["doc_id"]
        for r in dedup_priority(
            df, "text", "doc_id", "source", ["curated", "books"]
        ).collect()
    )
    # X -> 1 (curated); Y -> 3 (tie, lowest id); Z -> 6 (books beats
    # unlisted NULL); NULL text -> 8 (curated); U -> 9
    assert kept == [1, 3, 6, 8, 9]


def test_dedup_priority_null_id_scoped_to_group(spark):
    """Review r13: the keep-set join is scoped to the content hash —
    one group's NULL winner id must not resurrect losing duplicates
    in OTHER groups."""
    from nsl_kdd_spark.operators.dedup import dedup_priority

    rows = [
        (None, "crawl", "X"),                 # group X: NULL-id winner
        (None, "crawl", "Y"), (1, "curated", "Y"),  # group Y: 1 wins
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    kept = sorted(
        (r["text"], r["doc_id"] if r["doc_id"] is not None else -1)
        for r in dedup_priority(
            df, "text", "doc_id", "source", ["curated"]
        ).collect()
    )
    # Y's NULL-id loser must NOT survive via X's NULL winner
    assert kept == [("X", -1), ("Y", 1)]


def test_leakage_safe_split(spark):
    """Every member of a near-dup cluster lands in ONE split; docs
    with no edges match plain hash_split exactly (the degradation
    contract); comp is the audit column."""
    from nsl_kdd_spark.operators.relational import (
        hash_split,
        leakage_safe_split,
    )

    df = spark.createDataFrame(
        [(i,) for i in range(40)], "doc_id long"
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11), (20, 21)], "id_a long, id_b long"
    )
    out = leakage_safe_split(df, "doc_id", pairs).collect()
    by_id = {r["doc_id"]: (r["comp"], r["split"]) for r in out}
    assert len(by_id) == 40
    # whole cluster shares one split
    assert by_id[0][1] == by_id[1][1] == by_id[2][1]
    assert by_id[10][1] == by_id[11][1]
    assert by_id[20][1] == by_id[21][1]
    # comp = smallest member id; singletons NULL
    assert by_id[1][0] == 0 and by_id[11][0] == 10
    assert by_id[5][0] is None
    # degradation: singletons match plain hash_split on the id
    plain = {
        r["doc_id"]: r["split"]
        for r in hash_split(
            df.withColumn("__k", F.col("doc_id").cast("string")),
            "__k",
        ).collect()
    }
    clustered = {0, 1, 2, 10, 11, 20, 21}
    for i in range(40):
        if i not in clustered:
            assert by_id[i][1] == plain[i], i


def test_dup_downweight(spark):
    """Soft dedup: every copy kept, weight = 1e6 // cluster_size ppm;
    singletons weigh exactly 1e6."""
    from nsl_kdd_spark.operators.corpus import dup_downweight

    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    comps = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (3, 3), (4, 3)], "node long, comp long"
    )
    out = {
        r["doc_id"]: (r["comp"], r["dup_weight_ppm"])
        for r in dup_downweight(docs, comps).collect()
    }
    assert out == {
        0: (0, 333333), 1: (0, 333333), 2: (0, 333333),
        3: (3, 500000), 4: (3, 500000),
        5: (None, 1000000),
    }


def test_neardup_decontaminate(spark):
    """Paraphrase decontamination: corpus docs near-identical to a
    bench doc flag (best match = highest jaccard, lowest bench id);
    clean docs carry NULL match columns; filter mode drops flagged
    rows; non-numeric ids refuse loudly."""
    import pytest as _pytest

    from nsl_kdd_spark.operators.dedup import neardup_decontaminate

    base = " ".join(f"w{i}" for i in range(40))
    corpus = spark.createDataFrame(
        [
            (10, base),                        # identical to bench 1
            (11, base.replace("w5", "zz")),    # near-dup of bench 1
            (12, "totally different words with no shared shingles"
                 " at all anywhere in this document"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(1, base), (2, "unrelated benchmark item entirely")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (
            r["contaminated"], r["jaccard_ppm"], r["best_bench_id"]
        )
        for r in neardup_decontaminate(
            corpus, bench, "doc_id", "text",
            band_size=2, threshold_ppm=500_000, shingle_n=3,
        ).collect()
    }
    assert out[10] == (True, 1000000, 1)
    assert out[11][0] is True and out[11][2] == 1
    assert out[12] == (False, None, None)
    kept = neardup_decontaminate(
        corpus, bench, "doc_id", "text",
        band_size=2, threshold_ppm=500_000, shingle_n=3,
        mode="filter",
    ).collect()
    assert [r["doc_id"] for r in kept] == [12]
    assert sorted(kept[0].asDict()) == ["doc_id", "text"]
    # string CORPUS ids are fine (equi-joins only, review r13) —
    # only the BENCH id feeds the argmax negation and must be numeric
    str_corpus = corpus.select(
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias(
            "doc_id"
        ),
        "text",
    )
    flagged = {
        r["doc_id"]: r["contaminated"]
        for r in neardup_decontaminate(
            str_corpus, bench, "doc_id", "text",
            band_size=2, threshold_ppm=500_000, shingle_n=3,
        ).collect()
    }
    assert flagged == {"u10": True, "u11": True, "u12": False}
    str_bench = bench.select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    with _pytest.raises(ValueError, match="numeric"):
        neardup_decontaminate(corpus, str_bench, "doc_id", "text")
    with _pytest.raises(ValueError, match="mode"):
        neardup_decontaminate(
            corpus, bench, "doc_id", "text", mode="bogus"
        )


def test_dedup_common_lines(spark):
    """CCNet cross-document line dedup vs a pure-Python reference:
    lines shared by >= min_docs distinct docs (after whitespace
    normalization) are dropped, empty lines are exempt, and NULL
    text / NULL id / all-dropped docs follow the documented
    contract."""
    from nsl_kdd_spark.operators.dedup import dedup_common_lines

    rows = [
        (1, "Home | About\nalpha unique one\n\nHome | About"),
        (2, "home   |   about\nbeta unique two"),
        (3, "Home | About\ngamma unique three\n"),
        (4, None),
        (5, ""),
        (None, "Home | About\nnull-id line\nsolo shared with null"),
        # 'solo shared with null' appears in doc 6 AND the NULL-id
        # doc only: NULL ids are invisible to countDistinct in both
        # engines, so the distinct-doc count is 1 and the line is
        # KEPT (review r13: the reference must not count None)
        (6, "solo shared with null\nunique six"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: (r["text_clean"], r["n_lines"], r["n_dropped"])
        for r in dedup_common_lines(
            df, "doc_id", "text", min_docs=2
        ).collect()
    }

    # pure-Python reference on the same contract
    import re

    def norm(s):
        return re.sub(r"\s+", " ", s).strip().lower()

    from collections import defaultdict

    freq = defaultdict(set)
    for did, text in rows:
        if text is None or did is None:
            # NULL ids never reach the distinct-doc count (engine
            # countDistinct and oracle COUNT(DISTINCT) both skip
            # NULL) — their lines still get the drop verdict below
            continue
        for ln in text.split("\n"):
            if norm(ln):
                freq[norm(ln)].add(did)
    common = {k for k, v in freq.items() if len(v) >= 2}
    want = {}
    for did, text in rows:
        if text is None:
            want[did] = (None, 0, 0)
            continue
        lines = text.split("\n")
        kept = [l for l in lines if not (norm(l) and norm(l) in common)]
        want[did] = (
            "\n".join(kept),
            len(lines),
            len(lines) - len(kept),
        )
    assert got == want
    # the shared header is gone everywhere, incl. the NULL-id doc;
    # the line shared ONLY with the NULL-id doc survives in both
    assert got[1][0] == "alpha unique one\n"
    assert got[None] == ("null-id line\nsolo shared with null", 3, 1)
    assert got[6] == ("solo shared with null\nunique six", 2, 0)
    # exempt empty line survives in doc 1; doc 5 keeps its one
    # empty line; doc 3's trailing newline yields a kept empty line
    assert got[5] == ("", 1, 0)
    assert got[3] == ("gamma unique three\n", 3, 1)


def test_dedup_common_lines_all_dropped_and_args(spark):
    from nsl_kdd_spark.operators.dedup import dedup_common_lines
    import pytest as _pytest

    df = spark.createDataFrame(
        [(1, "same line"), (2, "same line"), (3, "Same  Line")],
        "doc_id int, text string",
    )
    got = {
        r["doc_id"]: (r["text_clean"], r["n_lines"], r["n_dropped"])
        for r in dedup_common_lines(
            df, "doc_id", "text", min_docs=3
        ).collect()
    }
    # normalization folds case+whitespace: all three docs share the
    # line, every line drops, text_clean is '' (not NULL)
    assert got == {i: ("", 1, 1) for i in (1, 2, 3)}
    with _pytest.raises(ValueError):
        dedup_common_lines(df, "doc_id", "text", min_docs=1)
    with _pytest.raises(ValueError):
        dedup_common_lines(
            df, "doc_id", "text", exempt_below_chars=-1
        )
    # duplicate-id rows merge into one output; position ties break
    # by line content (the documented contract the oracle's
    # ORDER BY pos, line mirrors)
    dup = spark.createDataFrame(
        [(7, "bb\nzz seven"), (7, "aa\nzz seven")],
        "doc_id int, text string",
    )
    merged = dedup_common_lines(dup, "doc_id", "text", min_docs=2).collect()
    assert len(merged) == 1
    assert merged[0]["text_clean"] == "aa\nbb\nzz seven\nzz seven"
    assert (merged[0]["n_lines"], merged[0]["n_dropped"]) == (4, 0)


def test_percentile_summary_exact_bitwise_matches_percentile_agg(spark):
    """Optimization r13: the exact tier's distributed counts+window
    plan must reproduce ``F.percentile`` BIT-FOR-BIT — including NULL
    values (frequency-invisible), an all-NULL group (row kept, NULL
    percentiles), a NULL group key (its own group), a single-value
    group (floor == ceil short-circuit) and heavy duplicates (rank
    spans wider than one)."""
    import struct

    from nsl_kdd_spark.operators.agg import percentile_summary

    rows = (
        [("a", float(x)) for x in (5, 1, 9, 1, 1, 7, 3)]
        + [("a", None)]
        + [("b", 42.0)]
        + [("c", None), ("c", None)]
        + [(None, 2.0), (None, 8.0), (None, 8.0)]
        + [("d", float(x % 3)) for x in range(50)]
    )
    df = spark.createDataFrame(rows, "grp string, v double")
    ps = (0.25, 0.5, 0.9)
    old = df.groupBy("grp").agg(
        *[F.percentile(F.col("v"), F.lit(p)).alias(f"p{100 * p:g}") for p in ps],
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    )
    new = percentile_summary(df, "v", "grp", ps)
    assert new.schema == old.schema

    def canon(frame):
        out = []
        for r in sorted([tuple(x) for x in frame.collect()], key=repr):
            out.append(
                tuple(
                    struct.pack("d", x).hex() if isinstance(x, float) else x
                    for x in r
                )
            )
        return out

    assert canon(new) == canon(old)


def test_simhash_chunk_extraction_matches_reference(spark):
    """Optimization r13: the chunked-conv bit source (one conv per
    60-bit chunk of the digest prefix) must reproduce the documented
    layout — bit b of the big-endian integer of the first ``bits/4``
    hex chars of md5(token) — bit-for-bit at every width tier,
    including the two-long >64-bit layout. Reference computed in pure
    Python from hashlib.md5."""
    import hashlib

    from nsl_kdd_spark.operators.dedup import simhash

    docs = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma epsilon"),
        (3, "zeta eta theta iota kappa lambda"),
        (4, "single"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def ref_sig(text: str, bits: int) -> int:
        nchars = bits // 4
        toks = sorted(set(text.split(" ")))
        votes = [0] * bits
        for t in toks:
            v = int(hashlib.md5(t.encode()).hexdigest()[:nchars], 16)
            for b in range(bits):
                votes[b] += (v >> b) & 1
        sig = 0
        for b in range(bits):
            if votes[b] * 2 > len(toks):
                sig |= 1 << b
        return sig

    for bits in (16, 64, 128):
        rows = {r["doc_id"]: r for r in simhash(df, "doc_id", "text", bits=bits).collect()}
        for doc_id, text in docs:
            expect = ref_sig(text, bits)
            if bits <= 64:
                got = rows[doc_id]["simhash"] & ((1 << bits) - 1) if bits < 64 else rows[doc_id]["simhash"] & 0xFFFFFFFFFFFFFFFF
                assert got == expect & ((1 << bits) - 1), (bits, doc_id)
            else:
                lo = rows[doc_id]["simhash_lo"] & 0xFFFFFFFFFFFFFFFF
                hi = rows[doc_id]["simhash_hi"] & ((1 << (bits - 64)) - 1)
                assert (hi << 64) | lo == expect, (bits, doc_id)

"""Plan-shape + differential assertions for the round-15 scale fixes
(VERDICT r14 items 2 & 8).

Item 2 — the remaining fact-sized exact-``percentile()`` aggregates
are gone: ``robust_outliers`` (two CHAINED single-buffer aggregations),
``quantile_bins``, ``population_stability``, ``impute_by_group``
(median strategy), ``levene_test``, ``mood_median_test``,
``trim_by_percentile`` and ``event_latency`` now ride the shared
:func:`profile._cdf_percentiles` order-statistics helper (per-distinct
-value counts → keyed :func:`profile._distributed_cdf` prefix sums →
conditional-min order statistics → ``Percentile``'s exact
interpolation arithmetic). Each conversion carries a DIFFERENTIAL
test against the retired ``percentile()`` form — exact equality, the
r14 winsorized_stats precedent.

Item 8 — the re-aggregation rewrites that rely on RUNTIME exchange
reuse (spearman_corr, lm_train_bigram, winsorized_stats, and the new
robust_outliers / event_latency) get executed-plan pins: after
``collect()`` the final adaptive plan must contain ``ReusedExchange``
and the expected parquet-scan count, so a planner change can't
silently multiply fact passes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gbif_filter_python_spark.plans.inspect import (
    explain_str,
    final_plan,
    node_count,
)
from tests.conftest import session_conf


@pytest.fixture(scope="module")
def orders(spark, sf001_dir):
    return spark.read.parquet(f"{sf001_dir}/orders.parquet")


def _values_frame(spark):
    """Deterministic grouped frame with ties, NULL values, NULL keys,
    an all-NULL group and a single-value group — every percentile
    edge the retired forms handled."""
    rows = (
        [("a", float(v)) for v in range(1, 101)]
        + [("b", float((v * v) % 37)) for v in range(1, 60)]
        + [("b", 17.0), ("b", 17.0)]  # ties
        + [("a", None), (None, 5.0), ("allnull", None), ("one", 42.0)]
    )
    return spark.createDataFrame(rows, "g string, v double")


def _assert_no_percentile(df) -> str:
    plan = explain_str(df)
    assert "percentile" not in plan.lower(), plan
    assert "rangepartitioning" in plan, plan
    return plan


# ---------------------------------------------------------------------------
# robust_outliers — VERDICT r14 item 2's first-priority site
# ---------------------------------------------------------------------------


def test_robust_outliers_no_percentile_buffer(spark):
    from gbif_filter_python_spark.operators.profile import (
        robust_outliers,
    )

    with session_conf(spark, 8, True):
        df = _values_frame(spark).withColumn(
            "id", F.monotonically_increasing_id()
        )
        out = robust_outliers(df, "g", "v", "id")
        _assert_no_percentile(out)


def test_robust_outliers_matches_retired_chained_percentiles(spark):
    from gbif_filter_python_spark.operators.profile import (
        robust_outliers,
    )

    with session_conf(spark, 8, True):
        df = _values_frame(spark).withColumn(
            "id", F.monotonically_increasing_id()
        )
        got = {
            r["id"]: r.asDict()
            for r in robust_outliers(df, "g", "v", "id").collect()
        }
        # retired form: two chained percentile() aggregations
        v = F.col("v")
        med = df.groupBy("g").agg(
            F.percentile(v, F.lit(0.5)).alias("_med")
        )
        with_med = df.join(F.broadcast(med), "g")
        mad = with_med.groupBy("g").agg(
            F.percentile(F.abs(v - F.col("_med")), F.lit(0.5)).alias("_mad")
        )
        scored = with_med.join(F.broadcast(mad), "g")
        rz = F.when(
            F.col("_mad") > 0,
            F.round(F.lit(0.6745) * (v - F.col("_med")) / F.col("_mad"), 4),
        )
        old = scored.select(
            "id",
            "g",
            "v",
            rz.alias("rz"),
            F.coalesce(F.abs(rz) > 3.5, F.lit(False)).alias("is_outlier"),
        )
        want = {r["id"]: r.asDict() for r in old.collect()}
        assert got == want


def test_robust_outliers_runtime_exchange_reuse(spark, orders):
    """The median and MAD branches re-aggregate ONE per-(key, value)
    count table; at runtime the fact must be scanned exactly twice
    (the reused aggregate + the output row projection), never once
    per percentile pass."""
    from gbif_filter_python_spark.operators.profile import (
        robust_outliers,
    )

    with session_conf(spark, 8, True):
        out = robust_outliers(
            orders, "o_orderstatus", "o_totalprice", "o_orderkey"
        )
        # collect() (not count()) so THIS DataFrame's adaptive plan
        # executes and finalizes (the r12 test precedent)
        assert len(out.collect()) > 0
        final = final_plan(out)
        assert "ReusedExchange" in final, final
        assert node_count(final, "FileScan parquet") == 2, final


# ---------------------------------------------------------------------------
# quantile_bins / population_stability — threshold-table sites
# ---------------------------------------------------------------------------


def _quantile_bins_both_ways(df):
    """(rows binned by quantile_bins, rows binned by the retired
    single ``percentile(array)`` threshold aggregate)."""
    from gbif_filter_python_spark.operators.profile import quantile_bins

    out = quantile_bins(df, "v", 4)
    _assert_no_percentile(out)
    got = sorted(
        ((r["g"], r["v"], r["bin"]) for r in out.collect()), key=repr
    )
    th = df.agg(
        F.expr("percentile(v, array(0.25D, 0.5D, 0.75D))").alias("_th")
    )
    old = (
        df.crossJoin(F.broadcast(th))
        .withColumn(
            "bin",
            F.aggregate(
                F.col("_th"),
                F.lit(0),
                lambda acc, t: acc
                + F.when(F.col("v") > F.round(t, 6), 1).otherwise(0),
            ),
        )
        .drop("_th")
    )
    want = sorted(
        ((r["g"], r["v"], r["bin"]) for r in old.collect()), key=repr
    )
    return got, want


def test_quantile_bins_matches_retired_percentile_array(spark):
    with session_conf(spark, 8, True):
        got, want = _quantile_bins_both_ways(_values_frame(spark))
        assert got == want


@pytest.mark.parametrize("rows", [[], [("x", None), ("y", None)]],
                         ids=["empty", "all_null"])
def test_quantile_bins_without_values_is_the_null_bin(spark, rows):
    """No non-NULL value means no thresholds: percentile() is NULL and
    every row lands in the NULL bin, not in bin 0."""
    with session_conf(spark, 8, True):
        got, want = _quantile_bins_both_ways(
            spark.createDataFrame(rows, "g string, v double")
        )
        assert got == want
        assert [b for _, _, b in got] == [None] * len(rows)


def test_population_stability_all_null_reference_fills_no_bin(spark):
    """A reference with no values has no thresholds, so neither side's
    rows land in a numbered bin (they used to pile into bin 0)."""
    from gbif_filter_python_spark.operators.profile import (
        population_stability,
    )

    with session_conf(spark, 8, True):
        ref = spark.createDataFrame([(None,)] * 3, "v double")
        cur = spark.createDataFrame([(1.0,), (2.0,)], "v double")
        rows = population_stability(ref, cur, "v", n_bins=4).collect()
        assert sorted((r["bin"], r["ref_n"], r["cur_n"]) for r in rows) == [
            (b, 0, 0) for b in range(4)]


def test_population_stability_matches_retired_form(spark):
    from gbif_filter_python_spark.operators.profile import (
        population_stability,
    )

    with session_conf(spark, 8, True):
        base = _values_frame(spark)
        ref = base.filter(F.col("g") == "a").select("v")
        cur = base.filter(F.col("g") == "b").select("v")
        out = population_stability(ref, cur, "v", n_bins=5)
        _assert_no_percentile(out)
        got = sorted((tuple(r) for r in out.collect()), key=repr)
        # the retired form differed only in the threshold aggregate; PSI
        # math downstream is unchanged, so pin the threshold equality
        want_th = ref.agg(
            F.expr(
                "percentile(v, array(0.2D, 0.4D, 0.6D, 0.8D))"
            ).alias("_th")
        ).collect()[0]["_th"]
        from gbif_filter_python_spark.operators.profile import (
            _cdf_percentiles,
        )

        got_th = (
            _cdf_percentiles(
                ref, "v", [0.2, 0.4, 0.6, 0.8], ["a", "b", "c", "d"]
            )
            .select(F.array("a", "b", "c", "d").alias("_th"))
            .collect()[0]["_th"]
        )
        assert got_th == want_th
        assert len(got) == 5


# ---------------------------------------------------------------------------
# impute_by_group / levene_test / mood_median_test
# ---------------------------------------------------------------------------


def test_impute_by_group_median_matches_retired_form(spark):
    from gbif_filter_python_spark.operators.profile import (
        impute_by_group,
    )

    with session_conf(spark, 8, True):
        df = _values_frame(spark).withColumn(
            "w", F.when(F.col("v") > 10, F.col("v") * 2)
        ).withColumn("id", F.monotonically_increasing_id())
        out = impute_by_group(df, ["g"], ["v", "w"])
        got = {r["id"]: r.asDict() for r in out.collect()}
        stats = df.groupBy("g").agg(
            F.round(F.percentile(F.col("v"), F.lit(0.5)), 6).alias("_fv"),
            F.round(F.percentile(F.col("w"), F.lit(0.5)), 6).alias("_fw"),
        )
        old = (
            df.join(F.broadcast(stats), ["g"], "left")
            .withColumn("v_imputed", F.col("v").isNull())
            .withColumn("v", F.coalesce(F.col("v"), F.col("_fv")))
            .withColumn("w_imputed", F.col("w").isNull())
            .withColumn("w", F.coalesce(F.col("w"), F.col("_fw")))
            .drop("_fv", "_fw")
        )
        want = {r["id"]: r.asDict() for r in old.collect()}
        assert got == want


def test_levene_and_mood_match_retired_forms(spark):
    from gbif_filter_python_spark.operators.profile import (
        anova_f,
        levene_test,
        mood_median_test,
    )

    with session_conf(spark, 8, True):
        df = _values_frame(spark)
        got_lev = levene_test(df, "g", "v").collect()[0].asDict()
        meds = (
            df.filter(F.col("v").isNotNull())
            .groupBy(F.col("g").alias("grp"))
            .agg(F.percentile(F.col("v"), F.lit(0.5)).alias("med"))
        )
        z = df.filter(F.col("v").isNotNull()).join(
            F.broadcast(meds), F.col("g").eqNullSafe(F.col("grp"))
        )
        zdf = z.select("grp", F.abs(F.col("v") - F.col("med")).alias("z"))
        old = anova_f(zdf, "grp", "z", round_dp=6).collect()[0]
        assert got_lev["w_stat"] == old["f_stat"]
        assert got_lev["n"] == old["n"]

        got_mood = sorted(
            (tuple(r) for r in mood_median_test(df, "g", "v").collect()),
            key=repr,
        )
        med = df.filter(F.col("v").isNotNull()).agg(
            F.expr("percentile(v, 0.5)").alias("_m")
        ).collect()[0]["_m"]
        # replicate only the grand-median-dependent side counts
        base = (
            df.filter(F.col("v").isNotNull())
            .filter(F.col("v") != F.lit(med))
            .select("g", (F.col("v") > F.lit(med)).alias("_up"))
        )
        want_sides = {
            (r["g"], r["above"], r["n"])
            for r in base.groupBy("g")
            .agg(
                F.sum(F.when(F.col("_up"), 1).otherwise(0))
                .cast("double")
                .alias("above"),
                F.count(F.lit(1)).cast("double").alias("n"),
            )
            .collect()
        }
        # mood rows are (grp, n_above, n_below, expected_above, chi2)
        got_sides = {
            (r[0], float(r[1]), float(r[1] + r[2])) for r in got_mood
        }
        assert got_sides == want_sides


# ---------------------------------------------------------------------------
# trim_by_percentile / event_latency
# ---------------------------------------------------------------------------


def test_trim_by_percentile_matches_retired_form(spark):
    from gbif_filter_python_spark.operators.corpus import (
        trim_by_percentile,
    )

    with session_conf(spark, 8, True):
        df = _values_frame(spark).filter(F.col("v").isNotNull())
        out = trim_by_percentile(df, "v", 0.05, 0.95)
        _assert_no_percentile(out)
        got = sorted((tuple(r) for r in out.collect()), key=repr)
        bounds = df.agg(
            F.round(F.expr("percentile(v, 0.05)"), 6).alias("_lo"),
            F.round(F.expr("percentile(v, 0.95)"), 6).alias("_hi"),
        )
        old = (
            df.crossJoin(bounds)
            .filter(F.col("v").between(F.col("_lo"), F.col("_hi")))
            .drop("_lo", "_hi")
        )
        want = sorted((tuple(r) for r in old.collect()), key=repr)
        assert got == want


def test_event_latency_matches_retired_form_and_reuses(spark):
    from gbif_filter_python_spark.operators.temporal import (
        event_latency,
    )

    with session_conf(spark, 8, True):
        def ts(i):
            return F.timestamp_seconds(F.lit(1_700_000_000 + i))

        clicks = spark.range(200).select(
            (F.col("id") % 40).alias("user_id"),
            ts(F.col("id") * 7).alias("ts"),
        )
        buys = spark.range(60).select(
            (F.col("id") % 40).alias("user_id"),
            ts(F.col("id") * 23 + 11).alias("ts"),
        )
        out = event_latency(clicks, buys, on="user_id")
        _assert_no_percentile(out)
        row = out.collect()[0].asDict()
        final = final_plan(out)
        # the totals and percentile branches must read the SAME
        # per-distinct-latency aggregate — one asof-join execution
        assert "ReusedExchange" in final, final
        assert row["n_from"] == 200
        assert row["n_converted"] > 0
        assert row["conversion_rate"] == round(
            row["n_converted"] / row["n_from"], 6
        )
        # differential for the percentiles against percentile() over the
        # same matched latencies is covered by the oracle (event_latency
        # query, 3 SFs); here pin the exact-interpolation arithmetic on a
        # known tiny case: 4 latencies -> p50 interpolates halfway
        lat4 = spark.createDataFrame(
            [(1.0,), (2.0,), (4.0,), (8.0,)], "x double"
        )
        from gbif_filter_python_spark.operators.profile import (
            _cdf_percentiles,
        )

        got = _cdf_percentiles(lat4, "x", [0.5, 0.9], ["p50", "p90"]).collect()[
            0
        ]
        want = lat4.agg(
            F.percentile("x", F.lit(0.5)).alias("p50"),
            F.percentile("x", F.lit(0.9)).alias("p90"),
        ).collect()[0]
        assert (got["p50"], got["p90"]) == (want["p50"], want["p90"])


# ---------------------------------------------------------------------------
# VERDICT r14 item 8 — runtime exchange-reuse pins for the r14
# re-aggregation rewrites
# ---------------------------------------------------------------------------


def test_spearman_runtime_single_fact_scan(spark, orders):
    from gbif_filter_python_spark.operators.profile import spearman_corr

    with session_conf(spark, 8, True):
        out = spearman_corr(orders, "o_totalprice", "o_custkey")
        assert len(out.collect()) == 1
        final = final_plan(out)
        assert "ReusedExchange" in final, final
        assert node_count(final, "FileScan parquet") == 1, final


def test_winsorized_runtime_single_fact_scan(spark, orders):
    from gbif_filter_python_spark.operators.profile import (
        winsorized_stats,
    )

    with session_conf(spark, 8, True):
        out = winsorized_stats(orders, ["o_orderstatus"], "o_totalprice")
        assert len(out.collect()) > 0
        final = final_plan(out)
        assert "ReusedExchange" in final, final
        assert node_count(final, "FileScan parquet") == 1, final


def test_lm_train_bigram_one_corpus_scan_per_branch(spark, sf001_dir):
    """r15: the totals/context re-aggregation branches relied on
    runtime exchange reuse that does NOT fire across broadcast-stage
    boundaries (the corpus was tokenized twice per branch). Both
    totals now ride bounded-table windows over the count tables, so
    one corpus scan per branch holds by plan CONSTRUCTION — pinned on
    the executed plan, no ReusedExchange needed."""
    from gbif_filter_python_spark.operators.classify import (
        lm_train_bigram,
    )

    with session_conf(spark, 8, True):
        docs = spark.read.parquet(f"{sf001_dir}/documents.parquet")
        unigram, bigram = lm_train_bigram(docs, num_buckets=16)
        assert len(unigram.collect()) == 16
        final_u = final_plan(unigram)
        assert node_count(final_u, "FileScan parquet") == 1, final_u
        assert len(bigram.collect()) > 0
        final_b = final_plan(bigram)
        assert node_count(final_b, "FileScan parquet") == 1, final_b

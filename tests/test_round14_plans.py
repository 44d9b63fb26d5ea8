"""Plan-shape + differential assertions for the round-14 scale fixes
(VERDICT r13 item 1): the last two distinct-value-table windows that
scaled with data are gone.

1. ``kruskal_wallis`` (operators/analytics.py) — average ranks now
   ride :func:`profile._distributed_cdf` (range-partitioned local
   prefix sums + broadcast per-partition offsets) instead of a bare
   ``Window.orderBy(v)`` over the distinct-value table, which on a
   continuous metric is |values| ≈ n — one task sorting the world.
2. ``skyline_2d`` (operators/analytics.py) — the exclusive prefix
   running max over the distinct-x aggregate now follows the psm_att
   carry pattern: ``repartitionByRange(_sx)`` + per-partition ROWS
   windows keyed by ``spark_partition_id`` + a bounded per-partition
   totals frame whose exclusive prefix max broadcasts back
   (``greatest(local, carry)``).

Executable invariants on the PHYSICAL plan text, plus exact
differentials against the retired single-window forms across several
partition counts, continuous (all-distinct) and heavily-tied inputs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from gbif_filter_python_spark.plans.inspect import (
    explain_str,
    node_args,
    node_count,
)
from tests.conftest import session_conf


# ---------------------------------------------------------------------------
# kruskal_wallis
# ---------------------------------------------------------------------------


def _kw_frame(spark, n=500, continuous=True):
    """Deterministic k=4 group frame; continuous=True makes every
    value distinct (the 100 TB worst case for the rank window),
    False gives heavy ties (the discrete-metric case)."""
    rows = []
    for i in range(n):
        g = "abcd"[(i * 2654435761 % 97) % 4]
        v = float(i) + 0.25 if continuous else float((i * 37) % 23)
        rows.append((g, v))
    return spark.createDataFrame(rows, "g string, v double")


def _kruskal_single_window(df, group_col, value_col, round_dp=6):
    """The retired r13 form: bare Window.orderBy over the distinct
    value table — kept here as the exact differential oracle."""
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).cast("double").alias("v"),
    ).filter(F.col("grp").isNotNull() & F.col("v").isNotNull())
    gv = base.groupBy("grp", "v").agg(F.count(F.lit(1)).alias("c"))
    vals = gv.groupBy("v").agg(F.sum("c").alias("t"))
    cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = vals.select(
        "v",
        F.col("t").cast("double").alias("t"),
        (
            F.coalesce(F.sum("t").over(cum), F.lit(0)).cast("double")
            + (F.col("t") + 1) / 2.0
        ).alias("avg_rank"),
    )
    per = (
        gv.join(F.broadcast(ranked), "v")
        .groupBy("grp")
        .agg(
            F.sum("c").alias("n_g"),
            F.sum(F.col("c") * F.col("avg_rank")).alias("r_g"),
            F.sum(F.col("c") * (F.col("t") * F.col("t") - 1)).alias(
                "tie_g"
            ),
        )
    )
    stats = per.agg(
        F.sum("n_g").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum(F.col("r_g") * F.col("r_g") / F.col("n_g")).alias("s"),
        F.sum("tie_g").alias("tt"),
    )
    n = F.col("n").cast("double")
    k = F.col("k").cast("double")
    h = F.lit(12.0) / (n * (n + 1.0)) * F.col("s") - 3.0 * (n + 1.0)
    corr = F.lit(1.0) - F.col("tt") / (n * n * n - n)
    h_adj = F.when(corr > 0, h / corr).otherwise(
        F.lit(None).cast("double")
    )
    eps = F.when(n > k, (h - k + 1.0) / (n - k)).otherwise(
        F.lit(None).cast("double")
    )
    return stats.select(
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k_groups"),
        (F.col("k") - 1).cast("long").alias("dof"),
        F.round(h, round_dp).alias("h_stat"),
        F.round(h_adj, round_dp).alias("h_corrected"),
        F.round(eps, round_dp).alias("epsilon_sq"),
    )


def test_kruskal_no_single_partition_value_window(spark):
    """No windowspec may LEAD with the value column (that is the
    unpartitioned sort-the-world shape); every value-table window is
    keyed by the _pid range tag, the total order is a
    rangepartitioning exchange, offsets come back as a broadcast."""
    from gbif_filter_python_spark.operators.analytics import (
        kruskal_wallis,
    )

    with session_conf(spark, 8, True):
        plan = explain_str(
            kruskal_wallis(_kw_frame(spark), "g", "v"), "simple"
        )
        leads = [keys[0] for keys in node_args(plan, "Window") if keys]
        assert not {"v ASC", "_v ASC"} & set(leads), plan
        assert "rangepartitioning" in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "_pid" in {lead.split()[0] for lead in leads}, plan


@pytest.mark.parametrize("continuous", [True, False])
def test_kruskal_distributed_matches_single_window(spark, continuous):
    """Exact differential vs the retired global-window form — the
    half-integer average ranks are exact in doubles, so every output
    cell must be EQUAL (not approx) at any partition count."""
    from gbif_filter_python_spark.operators.analytics import (
        kruskal_wallis,
    )

    with session_conf(spark, 8, True):
        df = _kw_frame(spark, continuous=continuous)
        expected = _kruskal_single_window(df, "g", "v").collect()[0].asDict()
        for sp in (3, 8, 17):
            with session_conf(spark, sp):
                got = kruskal_wallis(df, "g", "v").collect()[0].asDict()
            assert got == expected, (sp, got, expected)


def test_kruskal_all_one_value(spark):
    """Degenerate tie case: correction factor 0 → h_corrected NULL."""
    from gbif_filter_python_spark.operators.analytics import (
        kruskal_wallis,
    )

    with session_conf(spark, 8, True):
        df = spark.createDataFrame(
            [("a", 1.0)] * 5 + [("b", 1.0)] * 5, "g string, v double"
        )
        (r,) = kruskal_wallis(df, "g", "v").collect()
        assert r.n == 10 and r.k_groups == 2
        assert r.h_corrected is None
        assert r.h_stat == 0.0


# ---------------------------------------------------------------------------
# skyline_2d
# ---------------------------------------------------------------------------


def _sky_frame(spark, n=400, continuous=True):
    rows = []
    for i in range(n):
        x = float(i) + 0.5 if continuous else float((i * 37) % 29)
        y = float((i * 2654435761 % 997))
        rows.append((i, x, y))
    return spark.createDataFrame(rows, "id long, x double, y double")


def _skyline_2d_single_window(df, x_col, y_col, x_pref="min", y_pref="max"):
    """The retired r13 form: bare Window.orderBy(_sx) prefix max."""
    sx = 1 if x_pref == "min" else -1
    sy = 1 if y_pref == "max" else -1
    keep = df.na.drop(subset=[x_col, y_col])
    work = keep.select(
        "*",
        (F.col(x_col) * sx).cast("double").alias("_sx"),
        (F.col(y_col) * sy).cast("double").alias("_sy"),
    )
    agg = work.groupBy("_sx").agg(F.max("_sy").alias("_ymax"))
    w = Window.orderBy(F.col("_sx").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    stats = agg.withColumn("_prev", F.max("_ymax").over(w))
    joined = work.join(stats, "_sx")
    survives = (
        (F.col("_prev").isNull() | (F.col("_prev") < F.col("_sy")))
        & (F.col("_sy") == F.col("_ymax"))
    )
    return joined.filter(survives).select(*[F.col(c) for c in keep.columns])


def test_skyline_2d_no_single_partition_x_window(spark):
    from gbif_filter_python_spark.operators.analytics import skyline_2d

    with session_conf(spark, 8, True):
        plan = explain_str(
            skyline_2d(_sky_frame(spark), "x", "y"), "simple"
        )
        leads = [keys[0] for keys in node_args(plan, "Window") if keys]
        assert "_sx ASC" not in leads, plan
        assert "rangepartitioning" in plan, plan
        assert "BroadcastHashJoin" in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "_pid" in {lead.split()[0] for lead in leads}, plan


@pytest.mark.parametrize("continuous", [True, False])
@pytest.mark.parametrize(
    "prefs", [("min", "max"), ("max", "min"), ("min", "min")]
)
def test_skyline_2d_distributed_matches_single_window(
    spark, continuous, prefs
):
    from gbif_filter_python_spark.operators.analytics import skyline_2d

    with session_conf(spark, 8, True):
        df = _sky_frame(spark, continuous=continuous)
        expected = sorted(
            r["id"]
            for r in _skyline_2d_single_window(
                df, "x", "y", prefs[0], prefs[1]
            ).collect()
        )
        for sp in (3, 8, 17):
            with session_conf(spark, sp):
                got = sorted(
                    r["id"]
                    for r in skyline_2d(df, "x", "y", prefs[0], prefs[1]).collect()
                )
            assert got == expected, (sp, len(got), len(expected))


def test_skyline_2d_all_survivors_in_one_boundary_partition(spark):
    """Carry correctness when the global max y sits in the FIRST
    range partition: every later x is dominated only via the
    broadcast carry, never the local window."""
    from gbif_filter_python_spark.operators.analytics import skyline_2d

    with session_conf(spark, 8, True):
        rows = [(0, 0.0, 1000.0)] + [
            (i, float(i), float(i)) for i in range(1, 200)
        ]
        df = spark.createDataFrame(rows, "id long, x double, y double")
        got = sorted(r["id"] for r in skyline_2d(df, "x", "y").collect())
        assert got == [0]


def test_skyline_2d_ties_all_survive(spark):
    from gbif_filter_python_spark.operators.analytics import skyline_2d

    with session_conf(spark, 8, True):
        rows = [(1, 1.0, 5.0), (2, 1.0, 5.0), (3, 2.0, 5.0), (4, 0.5, 4.0)]
        df = spark.createDataFrame(rows, "id long, x double, y double")
        got = sorted(r["id"] for r in skyline_2d(df, "x", "y").collect())
        # x=1.0,y=5.0 twice (both survive); x=2.0 dominated (smaller x hit
        # same y — strict < fails); x=0.5,y=4.0 survives (no smaller x).
        assert got == [1, 2, 4]


def test_repetition_signals_is_map_only(spark):
    """r14 optimization contract: the top-bigram count rides a per-row
    sorted-run fold, so the operator plans with ZERO exchanges (the
    former explode + double hash-agg shuffled every distinct
    (doc, bigram) pair twice)."""
    from gbif_filter_python_spark.operators.corpus import (
        repetition_signals,
    )

    with session_conf(spark, 8, True):
        docs = spark.createDataFrame(
            [(1, "a b a b a b"), (2, "x y z"), (3, "solo")],
            "doc_id long, text string",
        )
        out = repetition_signals(docs)
        plan = explain_str(out)
        assert "Exchange" not in plan, plan
        rows = {r.doc_id: r for r in out.collect()}
        assert 3 not in rows  # < 2 words stays excluded
        assert rows[1].top_bigram_frac == pytest.approx(3 / 5, abs=1e-6)
        assert rows[2].top_bigram_frac == pytest.approx(1 / 2, abs=1e-6)


def test_profile_table_exact_distinct_expand_hash_aggregates(spark):
    """r14 optimization contract: the exact-distinct path keeps
    min/max(string) OUT of the Expand'd multi-distinct aggregate, so
    the expanded row stream hash-aggregates (long count buffers)
    instead of sort-aggregating 6x rows."""
    from gbif_filter_python_spark.operators.profile import profile_table

    with session_conf(spark, 8, True):
        df = spark.createDataFrame(
            [(1, "a", 1.5), (2, "b", 2.5), (2, None, 2.5)],
            "k long, s string, v double",
        )
        out = profile_table(df, exact_distinct=True)
        plan = explain_str(out, "simple")
        # The Expand (distinct rewrite) must feed HashAggregate, never
        # SortAggregate: the plan line directly above "Expand" is its
        # consumer.
        tree = plan.splitlines()
        idx = [i for i, ln in enumerate(tree) if node_count(ln, "Expand")]
        assert idx, plan
        assert "HashAggregate" in tree[idx[0] - 1], plan
        rows = {r.column: r for r in out.collect()}
        assert rows["k"].n_distinct == 2 and rows["s"].n_distinct == 2
        assert rows["s"].n_nonnull == 2 and rows["k"].n_rows == 3
        assert rows["v"].min_value == "1.5" and rows["v"].max_value == "2.5"


def test_winsorized_stats_distributed_thresholds_one_fact_pass(spark):
    """r14 optimization contract: winsorized_stats' interior
    percentiles ride the keyed _distributed_cdf (range partitioning,
    no per-group percentile() buffer — the single-task mega-group
    pattern), and the measure pass re-aggregates the (group, value,
    count) table instead of re-scanning the fact. Differential: the
    output must equal the retired percentile() form exactly."""
    from gbif_filter_python_spark.operators.profile import (
        winsorized_stats,
    )

    with session_conf(spark, 8, True):
        rows = [
            ("a", float(v)) for v in range(1, 101)
        ] + [("b", float(v * v % 37)) for v in range(1, 60)] + [
            ("a", None),
            ("b", 17.0),  # ties
            ("b", 17.0),
        ]
        df = spark.createDataFrame(rows, "g string, v double")
        out = winsorized_stats(df, ["g"], "v", p=0.05)
        plan = explain_str(out)
        # no exact-percentile aggregate anywhere (the one-buffer-per-group
        # shape), and the distributed total order is present
        assert "percentile" not in plan.lower(), plan
        assert "rangepartitioning" in plan, plan
        # differential vs the retired one-agg percentile() form
        keep = df.filter(F.col("v").isNotNull())
        th = keep.groupBy("g").agg(
            F.round(F.expr("percentile(v, 0.05D)"), 6).alias("lo"),
            F.round(F.expr("percentile(v, 0.95D)"), 6).alias("hi"),
        )
        v = F.col("v").cast("double")
        clamped = F.least(F.greatest(v, F.col("lo")), F.col("hi"))
        old = (
            keep.join(F.broadcast(th), ["g"])
            .groupBy("g")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.max("lo").alias("lo"),
                F.max("hi").alias("hi"),
                F.round(F.avg(v), 6).alias("mean_raw"),
                F.round(F.avg(clamped), 6).alias("mean_winsorized"),
                F.round(
                    F.avg(
                        F.when((v >= F.col("lo")) & (v <= F.col("hi")), v)
                    ),
                    6,
                ).alias("mean_trimmed"),
            )
        )
        got = {r["g"]: r.asDict() for r in out.collect()}
        want = {r["g"]: r.asDict() for r in old.collect()}
        assert got == want

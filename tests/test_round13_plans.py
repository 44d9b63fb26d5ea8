"""Plan-shape + differential assertions for the round-13 scale fixes
(VERDICT r12 items 1 and 2): the last two single-partition
global-order windows over unbounded row-sets are gone.

1. ``psm_att`` (operators/analytics.py) — the backward/forward
   "running last control" passes are prefix computations, so they now
   distribute via the ``_distributed_cdf`` pattern: range-partition on
   ``(_s, _t, _id)``, per-partition ROWS-frame windows keyed by
   ``spark_partition_id``, per-partition boundary control structs
   (≤ shuffle.partitions rows) carried with ignorenulls-last windows
   over that TINY frame and broadcast back. Exact for any caliper,
   including none.
2. ``prefix_filter_jaccard_pairs`` (operators/dedup.py) — the vocab
   document-frequency rank rides ``corpus.assign_global_index``
   (range shuffle + offset broadcast), never a single-partition
   ``row_number`` over the token dimension.

Executable invariants on the PHYSICAL plan text, plus exact
differentials against the retired single-window forms.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from gbif_filter_python_spark.plans.inspect import explain_str, node_args
from tests.conftest import session_conf


# ---------------------------------------------------------------------------
# psm_att
# ---------------------------------------------------------------------------


def _units(spark, n=400, tie_every=7):
    """Deterministic unit frame with score ties, exact-score
    treated/control collisions, and both-sided boundary cases."""
    rows = []
    for i in range(n):
        t = 1 if (i * 2654435761 % 97) < 40 else 0
        s = float((i * 37) % (n // tie_every))  # heavy score ties
        y = float((i * 13) % 29) + t * 3.0
        rows.append((t, s, y, i))
    return spark.createDataFrame(rows, "t int, s double, y double, id long")


def _psm_att_single_window(df, caliper=None, round_dp=6):
    """The retired r12 formulation — one global-order window pair —
    kept here as the differential oracle for the distributed form."""
    t = F.col("t").cast("int")
    s = F.col("s").cast("double")
    base = df.filter(
        t.isNotNull() & s.isNotNull() & F.col("y").isNotNull()
    ).select(
        t.alias("_t"),
        s.alias("_s"),
        F.col("y").cast("double").alias("_y"),
        F.col("id").alias("_id"),
    )
    w = Window.orderBy("_s", "_t", "_id")
    ctrl = F.when(F.col("_t") == 0, F.struct("_s", "_y"))
    back = F.last(ctrl, ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    wrev = Window.orderBy(
        F.col("_s").desc(), F.col("_t").desc(), F.col("_id").desc()
    )
    fwd = F.last(ctrl, ignorenulls=True).over(
        wrev.rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = base.select(
        "_t", "_s", "_y", back.alias("_b"), fwd.alias("_f")
    )
    bd = F.abs(F.col("_s") - F.col("_b._s"))
    fd = F.abs(F.col("_f._s") - F.col("_s"))
    use_fwd = F.col("_f").isNotNull() & (
        F.col("_b").isNull() | (fd < bd)
    )
    matched = flagged.filter(F.col("_t") == 1).select(
        "_y",
        F.when(use_fwd, F.col("_f._y"))
        .otherwise(F.col("_b._y"))
        .alias("_my"),
        F.when(use_fwd, fd).otherwise(bd).alias("_d"),
    )
    if caliper is not None:
        matched = matched.select(
            "_y",
            F.when(F.col("_d") <= caliper, F.col("_my")).alias("_my"),
            "_d",
        )
    totals = base.agg(
        F.sum(F.col("_t")).alias("_nt"),
        F.sum(1 - F.col("_t")).alias("_nc"),
    )
    return (
        matched.agg(
            F.count(F.lit(1)).alias("_ntt"),
            F.count("_my").alias("n_matched"),
            F.avg(F.col("_y") - F.col("_my")).alias("_att"),
            F.avg(
                F.when(F.col("_my").isNotNull(), F.col("_y"))
            ).alias("_mt"),
            F.avg("_my").alias("_mc"),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            F.col("_nt").cast("long").alias("n_treated"),
            F.col("_nc").cast("long").alias("n_control"),
            F.col("n_matched").cast("long").alias("n_matched"),
            F.round("_att", round_dp).alias("att"),
            F.round("_mt", 2).alias("mean_treated"),
            F.round("_mc", 2).alias("mean_matched_control"),
        )
    )


def test_psm_att_no_single_partition_unit_window(spark):
    """No window over the unit table may lead with the score column —
    every fact-side windowspec must be keyed by the _pid range tag;
    the cross-partition total order is a rangepartitioning exchange;
    the boundary carry is a broadcast join."""
    from gbif_filter_python_spark.operators.analytics import psm_att

    with session_conf(spark, 8, True):
        plan = explain_str(
            psm_att(_units(spark), "t", "s", "y", "id"), "simple"
        )
        leads = [keys[0].split()[0] for keys in node_args(plan, "Window") if keys]
        assert "_s" not in leads, plan
        assert "rangepartitioning" in plan, plan
        assert "BroadcastHashJoin" in plan, plan
        assert "CartesianProduct" not in plan, plan
        # fact-side windows are keyed by the range-partition tag
        assert "_pid" in leads, plan


def test_psm_att_distributed_matches_single_window(spark):
    """Exact differential: the distributed prefix-carry form returns
    the SAME summary row as the retired global-window form — ties,
    boundary controls, and all — across several partition counts."""
    from gbif_filter_python_spark.operators.analytics import psm_att

    with session_conf(spark, 8, True):
        df = _units(spark)
        expected = _psm_att_single_window(df).collect()[0].asDict()
        for sp in (3, 8, 17):
            with session_conf(spark, sp):
                got = psm_att(df, "t", "s", "y", "id").collect()[0].asDict()
            assert got == expected, (sp, got, expected)


def test_psm_att_distributed_matches_single_window_caliper(spark):
    from gbif_filter_python_spark.operators.analytics import psm_att

    with session_conf(spark, 8, True):
        df = _units(spark, n=301, tie_every=5)
        for cal in (0.0, 1.0, 5.0):
            expected = _psm_att_single_window(df, caliper=cal).collect()[
                0
            ].asDict()
            got = psm_att(
                df, "t", "s", "y", "id", caliper=cal
            ).collect()[0].asDict()
            assert got == expected, (cal, got, expected)


def test_psm_att_all_controls_in_one_boundary_partition(spark):
    """Carry correctness when whole partitions hold no control: all
    controls sit at the extreme low end of the score order, so every
    treated unit in later range partitions matches ONLY via the
    broadcast carry."""
    from gbif_filter_python_spark.operators.analytics import psm_att

    with session_conf(spark, 8, True):
        rows = [(0, float(i) / 100.0, float(i), i) for i in range(10)] + [
            (1, 50.0 + i, 100.0 + i, 1000 + i) for i in range(90)
        ]
        df = spark.createDataFrame(rows, "t int, s double, y double, id long")
        expected = _psm_att_single_window(df).collect()[0].asDict()
        got = psm_att(df, "t", "s", "y", "id").collect()[0].asDict()
        assert got == expected
        assert got["n_matched"] == 90
        # nearest (only reachable) control is the max-score control: s=0.09
        # → y=9.0 for every treated unit
        assert got["mean_matched_control"] == 9.0


def test_psm_att_no_controls_at_all(spark):
    from gbif_filter_python_spark.operators.analytics import psm_att

    with session_conf(spark, 8, True):
        rows = [(1, float(i), float(i), i) for i in range(20)]
        df = spark.createDataFrame(rows, "t int, s double, y double, id long")
        (r,) = psm_att(df, "t", "s", "y", "id").collect()
        assert r.n_treated == 20
        assert r.n_control == 0
        assert r.n_matched == 0
        assert r.att is None


# ---------------------------------------------------------------------------
# prefix_filter_jaccard_pairs
# ---------------------------------------------------------------------------


def test_ppjoin_vocab_rank_is_distributed(spark):
    """The token-df rank must NOT be a bare row_number over the vocab
    (windowspec leading with _df) — it rides assign_global_index:
    range shuffle + _pid-keyed locals + broadcast offsets."""
    from gbif_filter_python_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    with session_conf(spark, 8, True):
        docs = spark.createDataFrame(
            [(i, f"tok{i % 11} tok{i % 7} tok{i % 5} shared") for i in range(60)],
            "doc_id long, text string",
        )
        plan = explain_str(
            prefix_filter_jaccard_pairs(docs, 0.5), "simple"
        )
        leads = [keys[0].split()[0] for keys in node_args(plan, "Window") if keys]
        assert "_df" not in leads, plan
        assert "rangepartitioning" in plan, plan
        assert "CartesianProduct" not in plan, plan


def test_ppjoin_rank_relabel_is_output_invariant(spark):
    """The 0-based assign_global_index relabeling must produce the
    same pair set and jaccards as a literal row_number rank — verify
    against a brute-force exact Jaccard over all pairs."""
    from gbif_filter_python_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
        words_array,
    )

    with session_conf(spark, 8, True):
        texts = [
            "a b c d e",
            "a b c d e f",
            "a b c x y",
            "p q r s",
            "p q r s t",
            "completely different words here",
            "a b c d e",  # exact dup of doc 0
        ]
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        t = 0.6
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in prefix_filter_jaccard_pairs(docs, t).collect()
        }
        # brute force oracle
        sets = {
            r.doc_id: set(r.w)
            for r in docs.select(
                "doc_id", words_array(F.col("text")).alias("w")
            ).collect()
        }
        expect = {}
        ids = sorted(sets)
        for i in ids:
            for j in ids:
                if i < j:
                    inter = len(sets[i] & sets[j])
                    union = len(sets[i] | sets[j])
                    jac = inter / union if union else 0.0
                    if jac >= t:
                        expect[(i, j)] = round(jac, 6)
        assert got == expect

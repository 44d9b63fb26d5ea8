"""Plan-shape assertions for the round-12 distributed-CDF rewrite
(VERDICT r11 item 1): ks_test / wasserstein_1d / drift_report must
never run a single-partition window over the per-distinct-value
table. On a continuous double at 100 TB that table is ~n rows — the
old ``Window.orderBy(_v)`` would sort the world on one executor. The
fixed shape is the weighted_quantiles distributed prefix-sum pattern
(profile.py::_distributed_cdf): range-partition on (key…, _v),
per-partition ROWS-frame windows keyed by spark_partition_id, tiny
per-partition totals broadcast back as exclusive offsets.

Executable invariants, checked on the PHYSICAL plan text:

1. every window over the value table is PARTITIONED (its
   windowspecdefinition leads with ``_pid``, never with ``_v`` or
   with only the column key);
2. the only ``Exchange SinglePartition`` feeds the ≤
   shuffle.partitions × |keys| totals table (exactly one such node);
3. a ``rangepartitioning`` exchange provides the cross-partition
   total order;
4. at RUNTIME the totals branch reuses the range exchange, so the
   fact parquet scan executes exactly once (AQE ``ReusedExchange`` —
   visible only in the post-execution adaptive plan).
"""

from __future__ import annotations

import pytest

from gbif_filter_python_spark.plans.inspect import (
    explain_str,
    final_plan,
    node_args,
    node_count,
    pushed_filters,
)
from tests.conftest import session_conf


@pytest.fixture(scope="module")
def orders(spark, sf001_dir):
    return spark.read.parquet(f"{sf001_dir}/orders.parquet")


@pytest.fixture(scope="module")
def lineitem(spark, sf001_dir):
    return spark.read.parquet(f"{sf001_dir}/lineitem.parquet")


def _assert_distributed_cdf_shape(df) -> None:
    plan = explain_str(df, "simple")
    # (1) no window ordered/keyed first by the value column: every
    # value-table window must lead with the _pid range-partition tag
    for keys in node_args(plan, "Window"):
        lead = [k.split()[0] for k in keys[:2]]
        assert lead[:1] != ["_v"], plan
        assert lead not in (["_c", "_v"], ["_g", "_v"]), plan
    # (2) no single-partition SORT of the value table: a
    # `Sort [… _v …]` directly above `Exchange SinglePartition` is the
    # serialized-CDF shape under test (SinglePartition exchanges above
    # tiny totals tables or final global reduces are fine)
    lines = plan.splitlines()
    for sort, child in zip(lines, lines[1:]):
        on_v = any(k.split()[0] == "_v"
                   for keys in node_args(sort, "Sort [") for k in keys)
        assert not (on_v and node_count(child, "Exchange SinglePartition")), plan
    # (3) the distributed total order
    assert "rangepartitioning" in plan, plan


def test_ks_test_no_single_partition_value_window(spark, orders):
    from gbif_filter_python_spark.operators.profile import ks_test

    with session_conf(spark, 8, True):
        _assert_distributed_cdf_shape(
            ks_test(orders, "o_orderstatus", "o_totalprice", "O", "F")
        )


def test_wasserstein_no_single_partition_value_window(spark, orders):
    from gbif_filter_python_spark.operators.profile import wasserstein_1d

    with session_conf(spark, 8, True):
        _assert_distributed_cdf_shape(
            wasserstein_1d(orders, "o_orderstatus", "o_totalprice", "O", "F")
        )


def test_drift_report_no_single_partition_value_window(spark, lineitem):
    from gbif_filter_python_spark.operators.profile import drift_report

    with session_conf(spark, 8, True):
        _assert_distributed_cdf_shape(
            drift_report(
                lineitem,
                "l_linestatus",
                ["l_quantity", "l_extendedprice"],
                "O",
                "F",
            )
        )


def test_rank_sum_no_single_partition_value_window(spark, orders):
    from gbif_filter_python_spark.operators.profile import rank_sum_test

    with session_conf(spark, 8, True):
        _assert_distributed_cdf_shape(
            rank_sum_test(orders, "o_orderstatus", "o_totalprice", "O", "F")
        )


def test_spearman_rank_maps_distributed(spark, orders):
    """Two keyless rank maps → two tiny totals tables, but never a
    single-partition window over the |distinct|-row value tables."""
    from gbif_filter_python_spark.operators.profile import spearman_corr

    with session_conf(spark, 8, True):
        _assert_distributed_cdf_shape(
            spearman_corr(orders, "o_totalprice", "o_custkey")
        )


def test_auc_by_group_distributed_per_group_cdf(spark, orders):
    """The keyed form: a single group's continuous-score table is
    still ~n/k rows, so even a group-partitioned ordered window would
    serialize — the plan must range-partition on (group, score)."""
    from gbif_filter_python_spark.operators.profile import auc_by_group

    from pyspark.sql import functions as F

    with session_conf(spark, 8, True):
        labeled = orders.withColumn(
            "label", (F.col("o_orderkey") % 2 == 0).cast("int")
        )
        _assert_distributed_cdf_shape(
            auc_by_group(labeled, "o_orderpriority", "o_totalprice", "label")
        )


def test_wasserstein_runtime_reuses_range_exchange(spark, orders):
    """(4) the totals branch must read the SAME range shuffle as the
    local-cumulative branch: after execution the adaptive plan shows
    a ReusedExchange and exactly ONE parquet scan of the fact."""
    from gbif_filter_python_spark.operators.profile import wasserstein_1d

    with session_conf(spark, 8, True):
        df = wasserstein_1d(orders, "o_orderstatus", "o_totalprice", "O", "F")
        rows = df.collect()
        assert len(rows) == 1
        final = final_plan(df)
        assert "ReusedExchange" in final, final
        assert node_count(final, "FileScan parquet") == 1, final


def test_drift_report_runtime_single_scan(spark, lineitem):
    from gbif_filter_python_spark.operators.profile import drift_report

    with session_conf(spark, 8, True):
        df = drift_report(
            lineitem,
            "l_linestatus",
            ["l_quantity", "l_extendedprice"],
            "O",
            "F",
            cat_cols=["l_returnflag"],
        )
        # collect() (not count()) so THIS DataFrame's adaptive plan
        # executes and finalizes — count() runs a different wrapped query
        # and leaves df's own plan at isFinalPlan=false with no reuse yet
        # (categorical chi2/psi must ride the SAME single scan: both
        # reduce to per-level sums in the one final aggregation)
        assert len(df.collect()) == 3
        final = final_plan(df)
        assert "ReusedExchange" in final, final
        assert node_count(final, "FileScan parquet") == 1, final


def test_cdf_boundary_lead_spans_partitions(spark):
    """The partition-boundary ``_nextv`` patch: with values forced
    into MANY range partitions (8 shuffle partitions over 400 distinct
    values), every consecutive distinct value must still see its
    successor (the old single-window lead semantics), or W₁ silently
    drops the boundary segments."""
    from gbif_filter_python_spark.operators.profile import wasserstein_1d

    with session_conf(spark, 8, True):
        rows = [("a", float(i)) for i in range(200)] + [
            ("b", float(i) + 0.5) for i in range(200)
        ]
        df = spark.createDataFrame(rows, ["g", "v"]).repartition(16)
        got = wasserstein_1d(df, "g", "v", "a", "b").collect()[0]
        # analytic check: F_a(x) - F_b(x) alternates; each unit segment
        # contributes |gap| * width summed over the pooled grid
        import itertools

        vals = sorted(set([float(i) for i in range(200)] + [i + 0.5 for i in range(200)]))
        ca = cb = 0
        w1 = 0.0
        for v, nxt in itertools.pairwise(vals):
            ca += v == int(v)
            cb += v != int(v)
            w1 += abs(ca / 200 - cb / 200) * (nxt - v)
        assert got["w1_distance"] == pytest.approx(round(w1, 6), abs=2e-6)
        assert got["n_a"] == 200 and got["n_b"] == 200


# ---------------------------------------------------------------------------
# Media-pipeline plan shapes (r12): the compressed-codec queries must
# keep their scale contracts visible in the physical plan — caps
# pushed to the parquet scan, and pixel payloads never reaching a
# shuffle.
# ---------------------------------------------------------------------------


def test_jpeg_features_doc_cap_reaches_parquet_scan(spark, sf001_dir):
    import __spark_entry__ as entrymod

    with session_conf(spark, 8, True):
        df = entrymod.q_jpeg_features(spark, sf001_dir)
        assert "LessThan(doc_id,120)" in pushed_filters(df)


def test_jpeg_dedup_pipeline_pixels_never_reach_a_shuffle(
    spark, sf001_dir
):
    """The dedup query's contract: decode+hash run ONCE inside one
    mapInPandas chain ending at the eager localCheckpoint, so the
    returned plan starts at the checkpointed 16-byte (id, hash) rows —
    no parquet scan, no pixel column anywhere near an exchange."""
    import __spark_entry__ as entrymod

    with session_conf(spark, 8, True):
        df = entrymod.q_jpeg_dedup_pipeline(spark, sf001_dir)
        plan = explain_str(df, "simple")
        assert "Scan ExistingRDD" in plan, plan
        assert "FileScan parquet" not in plan, plan  # chain pre-executed once
        assert "pixels" not in plan, plan
        assert "payload" not in plan, plan

"""Plan-shape assertions for the round-11 operator family — the
100 TB design claims as executable checks: sufficient-statistics ops
scan the fact ONCE into a map-side-combined agg; contingency ops
never densify or go cartesian on data; the embedding datasheet ops
keep the corpus out of every shuffle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gbif_filter_python_spark.plans.inspect import (
    explain_str,
    node_args,
    node_count,
)


@pytest.fixture(scope="module")
def events(spark, sf001_dir):
    from gbif_filter_python_spark.sources.io import read_table

    return read_table(spark, sf001_dir, "events")


@pytest.fixture(scope="module")
def orders(spark, sf001_dir):
    return spark.read.parquet(f"{sf001_dir}/orders.parquet")


def test_cmh_single_fact_scan_with_partial_agg(events):
    from gbif_filter_python_spark.operators.analytics import cmh_test

    ev = events.withColumn("e", F.col("user_id") % 2 == 0).withColumn(
        "o", F.col("event_id") % 3 == 0
    )
    plan = explain_str(cmh_test(ev, "event_type", "e", "o"), "simple")
    assert node_count(plan, "FileScan parquet") == 1, plan
    assert "partial" in plan.lower(), plan


def test_tost_single_scan_single_row(events):
    from gbif_filter_python_spark.operators.analytics import (
        tost_equivalence,
    )

    ev = events.withColumn("arm", (F.col("user_id") % 2).cast("int"))
    plan = explain_str(
        tost_equivalence(ev, "arm", "value", 0, 1, 2.0), "simple")
    assert node_count(plan, "FileScan parquet") == 1, plan


def test_tukey_pairs_on_aggregates_not_fact(orders):
    """The k²/2 pair join must join BROADCAST aggregate summaries —
    the fact is scanned for the group agg, and the MSW reduction
    scans it once more; no shuffle-join of fact-sized sides."""
    from gbif_filter_python_spark.operators.profile import tukey_hsd

    plan = explain_str(tukey_hsd(orders, "o_orderpriority", "o_totalprice"))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_cramers_v_no_cartesian_on_data(orders):
    from gbif_filter_python_spark.operators.profile import cramers_v
    from gbif_filter_python_spark.plans.inspect import assert_no_cartesian

    # scalar-attach crossJoins are 1-row broadcasts (allowed); a
    # data-sized CartesianProduct is not
    assert_no_cartesian(cramers_v(orders, "o_orderpriority", "o_orderstatus"))


def test_gamma_cell_join_broadcasts(orders):
    from gbif_filter_python_spark.operators.profile import gamma_assoc

    li = orders.select(
        (F.col("o_orderkey") % 5).cast("int").alias("x"),
        (F.col("o_custkey") % 7).cast("int").alias("y"),
    )
    plan = explain_str(gamma_assoc(li, "x", "y"))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_entropy_rate_single_scan_two_reaggs(spark, sf001_dir):
    from gbif_filter_python_spark.operators.corpus import entropy_rate

    docs = spark.read.parquet(f"{sf001_dir}/documents.parquet")
    plan = explain_str(entropy_rate(docs), "simple")
    # the ONE corpus scan ran inside the eager localCheckpoint of the
    # alphabet²-bounded bigram table; every consumer in the final
    # plan reads that RDD — zero parquet re-scans
    assert node_count(plan, "FileScan parquet") == 0, plan
    assert "Scan ExistingRDD" in plan, plan


def test_kfold_balance_fact_scanned_once(spark, sf001_dir):
    from gbif_filter_python_spark.operators.corpus import kfold_balance

    docs = spark.read.parquet(f"{sf001_dir}/documents.parquet")
    plan = explain_str(kfold_balance(docs, "doc_id", "source", k=5), "simple")
    # four consumers of the cell table, zero parquet re-scans: the
    # one fact scan ran inside the eager localCheckpoint
    assert node_count(plan, "FileScan parquet") == 0, plan
    assert "Scan ExistingRDD" in plan, plan


def test_uniformity_partials_not_corpus_shuffle(spark, sf001_dir):
    """uniformity's only aggregation input is the one-row-per-batch
    partial sums — no corpus-sized Exchange may appear."""
    from gbif_filter_python_spark.operators.similarity import uniformity

    emb = spark.read.parquet(f"{sf001_dir}/embeddings.parquet")
    plan = explain_str(uniformity(emb, sample_n=8), "simple")
    # the final scalar agg runs over mapInPandas partials; no keyed
    # repartitioning of the vector column may appear
    for keys in node_args(plan, "Exchange hashpartitioning"):
        assert not keys[0].startswith(("_cid", "_cv")), plan


def test_davies_bouldin_centroid_shuffle_is_label_dim_sized(
    spark, sf001_dir
):
    from gbif_filter_python_spark.operators.similarity import (
        davies_bouldin,
    )

    emb = spark.read.parquet(f"{sf001_dir}/embeddings.parquet")
    plan = explain_str(davies_bouldin(emb), "simple")
    # every hashpartitioning exchange must be keyed by label/dim
    # columns, never by the vector or point id — the corpus itself
    # is never re-keyed
    for keys in node_args(plan, "Exchange hashpartitioning"):
        assert not any("_pv" in k or "_pid" in k for k in keys), plan

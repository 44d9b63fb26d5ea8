"""operators/prefix.py::prefix_sums against a single-partition
``Window`` reference, for every shape its callers feed it: unkeyed and
keyed input, tied order values, a NULL key, empty input and one key
spread over every range partition, at 1 and 7 shuffle partitions.
"""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from gbif_filter_python_spark.operators.prefix import prefix_sums
from gbif_filter_python_spark.plans.inspect import final_plan, node_count
from tests.conftest import session_conf

SCHEMA = "k string, o double, w long, _one int"


MEGA_KEY = [("a", float(i), i % 3, 1) for i in range(300)] + [
    ("b", float(i), 1, 1) for i in range(3)
]

#: case -> (rows, key columns)
CASES = {
    "unkeyed": (
        [(None, float((i * 37) % 101), i % 5, 1) for i in range(101)], ()
    ),
    "keyed": (
        [(g, float(i), (i * 7) % 11, 1) for g in "abc" for i in range(40)],
        ("k",),
    ),
    "ties": (
        [(g, float(i % 6), i % 4 + 1, 1) for g in "ab" for i in range(60)],
        ("k",),
    ),
    "null_key": (
        [("a", float(i), i, 1) for i in range(10)]
        + [(None, float(i) + 0.5, 2 * i, 1) for i in range(10)],
        ("k",),
    ),
    "empty": ([], ("k",)),
    "mega_key": (MEGA_KEY, ("k",)),
}


@pytest.fixture(params=[1, 7], ids=["partitions1", "partitions7"])
def partitions(request, spark):
    with session_conf(spark, request.param, False):
        yield request.param


def _reference(df, keys):
    w = Window.partitionBy(*keys).orderBy("o")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    return df.select(
        "*",
        *[F.sum(c).over(run).alias(f"_cum{c}") for c in ("w", "_one")],
        *[F.sum(c).over(Window.partitionBy(*keys)).alias(f"_tot{c}")
          for c in ("w", "_one")],
        F.lead("o").over(w).alias("_nexto"),
    )


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda r: tuple((v is not None, v) for v in r),
    )


@pytest.mark.parametrize("case", list(CASES))
def test_prefix_sums_matches_window_reference(spark, partitions, case):
    rows, keys = CASES[case]
    df = spark.createDataFrame(rows, SCHEMA)
    got = prefix_sums(df, ["o"], ["w", "_one"], keys)
    assert got.columns == df.columns + [
        "_cumw", "_cum_one", "_totw", "_tot_one", "_nexto"
    ]
    want = _reference(df, keys)
    if case != "ties":
        assert _rows(got) == _rows(want)
        return
    # among tied order values the rows are summed in an arbitrary
    # order: the running count, the totals and the next value agree as
    # a multiset, and the last tied row carries the RANGE-frame sum
    def exact(d):
        return Counter(
            tuple(r) for r in d.select(
                "k", "o", "_cum_one", "_totw", "_tot_one", "_nexto"
            ).collect()
        )

    def range_sum(d):
        return sorted(
            tuple(r) for r in d.groupBy("k", "o").agg(F.max("_cumw")).collect()
        )

    assert exact(got) == exact(want)
    assert range_sum(got) == range_sum(want)


def test_mega_key_spans_every_range_partition(spark, partitions):
    """The mega-key case is what it claims: key ``a`` alone lands in
    every range partition, so its sums cross every boundary."""
    df = spark.createDataFrame(MEGA_KEY, SCHEMA)
    pids = (
        df.repartitionByRange("k", "o")
        .filter(F.col("k") == "a")
        .select(F.spark_partition_id().alias("p"))
        .distinct()
        .count()
    )
    assert pids == partitions


def test_weighted_quantiles_one_range_exchange_reused(
    spark, sf001_dir
):
    """A sum-only caller's runtime plan: one range exchange, whose
    consumer exchange the totals branch reuses, and one fact scan."""
    from gbif_filter_python_spark.operators.profile import weighted_quantiles

    orders = spark.read.parquet(f"{sf001_dir}/orders.parquet")
    with session_conf(spark, 4, True):
        df = weighted_quantiles(orders, "o_totalprice", "o_custkey")
        assert len(df.collect()) == 4
    final = final_plan(df)
    assert node_count(final, "Exchange rangepartitioning") == 1, final
    assert node_count(final, "ReusedExchange") == 1, final
    assert node_count(final, "FileScan parquet") == 1, final

"""The distributed prefix sum.

Running sums in a total order are the building block of every exact
order statistic in the engine (CDFs, ranks, weighted and grouped
quantiles, conformal thresholds) and of the global row index. A bare
``Window.orderBy`` computes them on one task: on a continuous column at
100 TB that sorts the world on one executor. :func:`prefix_sums` is
the one distributed form; operators that need a running sum call it
instead of writing their own scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def prefix_sums(
    df: DataFrame,
    order_cols: list[str] | tuple[str, ...],
    sum_cols: list[str] | tuple[str, ...],
    key_cols: list[str] | tuple[str, ...] = (),
) -> DataFrame:
    """``df`` with, for every ``c`` in ``sum_cols``, ``_cum{c}`` (the
    inclusive running sum of ``c`` in ``(key…, order…)`` order, reset
    per key) and ``_tot{c}`` (the key's total), plus ``_next{o}`` for
    the last order column ``o``: its value on the key's next row, NULL
    on the key's last row.

    Rows whose order values tie are summed in an arbitrary order, so
    among ties ``_cum{c}`` is a ROWS-frame sum and the last tied row
    carries the RANGE-frame sum; give a unique tiebreaker for a total
    order. NULL key values form their own key. A count is the running
    sum of a literal 1.

    How: ``repartitionByRange(key…, order…)`` gives a total order
    across partitions and ``spark_partition_id()`` tags each row's
    range partition. A ROWS-frame window per ``(partition, key…)``
    computes the local running sums; the per-(partition, key) totals,
    a table of at most shuffle.partitions × |keys| rows, become
    exclusive offsets and key totals that are broadcast back and
    joined NULL-safely on the key, so ``cum = offset + local cum``.
    The totals are read from the window output (the running sum on a
    partition's last row), not from a separate aggregate of the input,
    so both branches keep the same schema under the range exchange and
    adaptive execution reuses it: the input is computed once. That
    holds while every column of ``df`` is an order, key or sum column:
    the optimizer may prune a column that is only carried through from
    the totals branch, and the input is then computed twice. Only the
    tiny totals table is windowed without a partition tag.

    Two scans keep their own code because they carry another operator
    across partitions: :func:`~.analytics.skyline_2d` (an exclusive
    running max) and :func:`~.analytics.psm_att` (the last non-NULL
    control, in both directions).
    """
    keys, order = list(key_cols), list(order_cols)
    last = order[-1]
    parts = df.repartitionByRange(*keys, *order).withColumn(
        "_pid", F.spark_partition_id().cast("long")
    )
    wpart = Window.partitionBy("_pid", *keys).orderBy(*order)
    wrun = wpart.rowsBetween(Window.unboundedPreceding, 0)
    local = parts.select(
        "*",
        F.row_number().over(wpart).alias("_lrow"),
        F.lead(last).over(wpart).alias("_lead"),
        *[F.sum(c).over(wrun).alias(f"_lc{c}") for c in sum_cols],
    )
    totals = local.groupBy("_pid", *keys).agg(
        F.min_by(last, "_lrow").alias("_first"),
        *[F.max_by(f"_lc{c}", "_lrow").alias(f"_pt{c}") for c in sum_cols],
    )
    wkey = Window.partitionBy(*keys)
    wprev = wkey.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = totals.select(
        F.col("_pid").alias("_opid"),
        *[F.col(k).alias(f"_ok{k}") for k in keys],
        F.lead("_first").over(wkey.orderBy("_pid")).alias("_nextfirst"),
        *[
            F.coalesce(F.sum(f"_pt{c}").over(wprev), F.lit(0)).alias(
                f"_off{c}"
            )
            for c in sum_cols
        ],
        *[F.sum(f"_pt{c}").over(wkey).alias(f"_tot{c}") for c in sum_cols],
    )
    cond = local["_pid"] == F.col("_opid")
    for k in keys:
        cond = cond & local[k].eqNullSafe(F.col(f"_ok{k}"))
    return local.join(F.broadcast(offs), cond).select(
        *df.columns,
        *[
            (F.col(f"_off{c}") + F.col(f"_lc{c}")).alias(f"_cum{c}")
            for c in sum_cols
        ],
        *[f"_tot{c}" for c in sum_cols],
        F.coalesce("_lead", "_nextfirst").alias(f"_next{last}"),
    )

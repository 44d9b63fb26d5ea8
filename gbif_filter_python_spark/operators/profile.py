"""One-pass table profiling — the "what is in this table" primitive a
data pipeline runs before trusting a new snapshot.

Beyond-reference block (SURVEY.md §2 final row): the reference has no
profiling at all; a 100 TB ingest needs per-column null/distinct/range
stats without one job per column.

Design for scale: ALL columns' statistics are computed in ONE
aggregation pass over the table (one scan, map-side partial aggregates,
a single 1-row result), then unpivoted driver-side-free with ``stack``
into the long (column, stat...) shape. Distinct counts default to
``approx_count_distinct`` (HLL — constant memory per column); exact
mode exists for small tables and oracle checks but plans an EXPAND
(one shuffled copy of the input per distinct aggregate), which is the
documented cost of exactness.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gbif_filter_python_spark.operators.prefix import prefix_sums


def profile_table(
    df: DataFrame,
    cols: list[str] | None = None,
    exact_distinct: bool = False,
) -> DataFrame:
    """Per-column profile: (column, n_nonnull, n_distinct, min_value,
    max_value) plus the table row count on every row.

    min/max are cast to string so heterogeneous column types fit one
    output schema (the profile is a report, not an input to further
    arithmetic).
    """
    cols = cols or df.columns
    if exact_distinct:
        # Exact multi-distinct plans as Expand (k+1 row replicas)
        # feeding the aggregate — and mixing min/max(string) into the
        # SAME aggregate forced the whole expanded stream through
        # sort-based aggregation. Splitting the distincts (long count
        # buffers -> hash aggregate over the expanded rows) from the
        # plain min/max/count pass (no Expand at all) halves the
        # measured cost at identical output (optimization r14, guide
        # §2.3 — the Expand'd sort of 6x rows costs more than a second
        # pruned columnar scan).
        nd_row = df.agg(
            *[F.count_distinct(F.col(c)).alias(f"_nd_{c}") for c in cols]
        )
        aggs = [F.count(F.lit(1)).alias("_n_rows")]
        for c in cols:
            aggs += [
                F.count(c).alias(f"_nn_{c}"),
                F.min(c).cast("string").alias(f"_mn_{c}"),
                F.max(c).cast("string").alias(f"_mx_{c}"),
            ]
        row = df.agg(*aggs).crossJoin(F.broadcast(nd_row))
    else:
        aggs = [F.count(F.lit(1)).alias("_n_rows")]
        for c in cols:
            aggs += [
                F.count(c).alias(f"_nn_{c}"),
                F.approx_count_distinct(c).alias(f"_nd_{c}"),
                F.min(c).cast("string").alias(f"_mn_{c}"),
                F.max(c).cast("string").alias(f"_mx_{c}"),
            ]
        row = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', _nn_{c}, _nd_{c}, _mn_{c}, _mx_{c}" for c in cols
    )
    stacked = row.select(
        F.col("_n_rows").alias("n_rows"),
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(column, n_nonnull, n_distinct, min_value, max_value)"
        ),
    )
    return stacked.select(
        "column", "n_rows", "n_nonnull", "n_distinct", "min_value", "max_value"
    )


def check_constraints(
    df: DataFrame,
    completeness: dict[str, float] | None = None,
    unique: list[list[str]] | None = None,
    foreign_keys: list[tuple[str, DataFrame, str]] | None = None,
    predicates: dict[str, Column] | None = None,
) -> DataFrame:
    """Declarative data-quality constraint report (the Deequ/Great
    Expectations pattern): evaluate every declared constraint in a
    HANDFUL of aggregate jobs and emit one ``(constraint, metric,
    passed)`` row each — the gate a production pipeline runs before
    promoting a snapshot.

    * ``completeness``: column → minimum non-null fraction. ALL
      completeness checks and ALL ``predicates`` fold into ONE
      aggregation pass over the table (conditional counts), so the
      table is scanned once regardless of how many are declared.
    * ``unique``: column tuples that must be row-unique —
      count_distinct(struct) == count(*), one aggregate each.
    * ``foreign_keys``: (col, dim, dim_col) containment — metric is
      the number of orphan rows via left_anti against the DISTINCT
      dim keys (broadcast when small; the fact never shuffles).
    * ``predicates``: name → boolean Column; metric is the satisfying
      fraction, passing only at 1.0.

    Metrics are 6dp-rounded so the report is hash-stable cross-engine.
    """
    spark = df.sparkSession
    reports: list[DataFrame] = []

    agg_exprs: list[Column] = [F.count(F.lit(1)).alias("_total")]
    for col, _ in (completeness or {}).items():
        agg_exprs.append(
            F.count(F.col(col)).cast("double").alias(f"_c_{col}")
        )
    for name, pred in (predicates or {}).items():
        agg_exprs.append(
            F.sum(F.when(pred, 1).otherwise(0)).cast("double").alias(f"_p_{name}")
        )
    base = df.agg(*agg_exprs)
    safe_total = F.when(F.col("_total") > 0, F.col("_total").cast("double")).otherwise(
        F.lit(1.0)
    )
    for col, floor in (completeness or {}).items():
        raw = F.col(f"_c_{col}") / safe_total
        # passed from exact counts / the UNROUNDED ratio: a violation
        # fraction in [0, 5e-7) must not round its way past the gate
        # (4 bad rows in 10M round to metric 1.0 but must still fail
        # a >=1.0 floor).
        passed = (
            (F.col(f"_c_{col}") == F.col("_total").cast("double"))
            if floor >= 1.0
            else (raw >= floor)
        )
        reports.append(
            base.select(
                F.lit(f"completeness({col})>={floor}").alias("constraint"),
                F.round(raw, 6).alias("metric"),
                passed.alias("passed"),
            )
        )
    for name in (predicates or {}):
        reports.append(
            base.select(
                F.lit(f"predicate({name})").alias("constraint"),
                F.round(F.col(f"_p_{name}") / safe_total, 6).alias("metric"),
                (F.col(f"_p_{name}") == F.col("_total").cast("double")).alias(
                    "passed"
                ),
            )
        )
    for cols in unique or []:
        u = df.agg(
            F.count_distinct(F.struct(*[F.col(c) for c in cols])).alias("_d"),
            F.count(F.lit(1)).alias("_n"),
        )
        reports.append(
            u.select(
                F.lit(f"unique({','.join(cols)})").alias("constraint"),
                F.col("_d").cast("double").alias("metric"),
                (F.col("_d") == F.col("_n")).alias("passed"),
            )
        )
    for col, dim, dim_col in foreign_keys or []:
        keys = dim.select(F.col(dim_col).alias(col)).distinct()
        orphans = (
            df.select(col)
            .filter(F.col(col).isNotNull())
            .join(keys, col, "left_anti")
            .agg(F.count(F.lit(1)).alias("_o"))
        )
        reports.append(
            orphans.select(
                F.lit(f"fk({col})").alias("constraint"),
                F.col("_o").cast("double").alias("metric"),
                (F.col("_o") == 0).alias("passed"),
            )
        )
    if not reports:
        return spark.createDataFrame(
            [], "constraint string, metric double, passed boolean"
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


def quantile_bins(
    df: DataFrame,
    col: str,
    n_bins: int = 4,
    out_col: str = "bin",
) -> DataFrame:
    """Equi-depth discretization: assign each row the quantile bin of
    ``col`` (bin i ⇔ value above the i-th of n_bins-1 interior exact
    percentiles) — the feature-bucketing / length-band primitive.

    All thresholds come out of ONE :func:`_cdf_percentiles` pass (r15
    optimization round — the old single ``percentile(array(...))``
    aggregate held EVERY value in one buffer: a single-task sort at
    100 TB), the 1-row result broadcasts, and the bin is a fold over
    the threshold array — the fact table never shuffles. Thresholds
    are 6dp-rounded BEFORE the comparison so bin membership is
    fp-stable cross-engine (the comparison then pits two
    exactly-representable reproductions against each other, not two
    engines' last-ulp interpolations).
    """
    probs = [i / n_bins for i in range(1, n_bins)]
    tags = [f"_q{i}" for i in range(1, n_bins)]
    th = _cdf_percentiles(df, col, probs, tags).select(
        F.array(*tags).alias("_th")
    )
    # lit(True) left join ≡ crossJoin, except an EMPTY threshold table
    # (all-NULL column) keeps the rows with a NULL fold — the old
    # 1-row-with-NULL crossJoin behavior
    binned = df.join(F.broadcast(th), F.lit(True), "left").withColumn(
        out_col,
        F.aggregate(
            F.col("_th"),
            F.lit(0),
            lambda acc, t: acc
            + F.when(F.col(col) > F.round(t, 6), 1).otherwise(0),
        ),
    )
    return binned.drop("_th")


def robust_outliers(
    df: DataFrame,
    key_col: str,
    value_col: str,
    id_col: str,
    z_thresh: float = 3.5,
    round_dp: int = 4,
) -> DataFrame:
    """Median/MAD robust outlier scoring per group (Iglewicz &
    Hoaglin 1993): ``rz = 0.6745 * (x - median) / MAD``, flagged at
    ``|rz| > z_thresh`` — the robust twin of the window z-score
    (`outlier_zscore` query): a single wild value inflates a stddev
    enough to hide itself, but moves a median/MAD not at all.

    Returns ``(id, key, value, rz, is_outlier)``; groups with
    ``MAD = 0`` (over half the group identical) yield NULL ``rz`` and
    ``is_outlier = false`` — a constant group has no outliers, not
    all-outliers.

    Plan shape (r15 optimization round): both exact medians come out
    of the keyed :func:`_cdf_percentiles` machinery — the old chained
    ``percentile()`` aggregations funneled every group value through
    one aggregation cell TWICE (two sequential single-task sorts and
    an OOM on a 100 TB mega-group, the hazard r14 removed from
    winsorized_stats). One per-(key, value) count aggregate feeds the
    median; the MAD re-aggregates THAT bounded-per-distinct table on
    the absolute deviation (count-weighted — exact), so the fact is
    hash-aggregated once and never holds a whole group in one buffer.
    The per-key model (med, mad) stays bounded by |keys| and
    broadcast back, so the fact rows never shuffle.
    """
    k, v = F.col(key_col), F.col(value_col)
    # the key filter sits UNDER the aggregate in BOTH branches: the
    # MAD branch's inner join would push isnotnull(key) into its copy
    # of this subtree anyway, and an asymmetric filter breaks runtime
    # exchange reuse (one extra fact scan, caught by the plan test);
    # the null-key group's model row was never consumed (old inner
    # joins dropped null-key rows, reproduced below)
    per = (
        df.filter(v.isNotNull() & k.isNotNull())
        .groupBy(key_col, v.alias("_v"))
        .agg(F.count(F.lit(1)).alias("_t"))
    )
    med = _cdf_percentiles(
        per, "_v", [0.5], ["_med"], key_cols=(key_col,), weight_col="_t"
    ).select(key_col, "_med")
    dev = per.join(F.broadcast(med), key_col).select(
        key_col,
        F.abs(F.col("_v") - F.col("_med")).alias("_d"),
        "_t",
    )
    mad = _cdf_percentiles(
        dev, "_d", [0.5], ["_mad"], key_cols=(key_col,), weight_col="_t"
    ).select(key_col, "_mad")
    # left joins + explicit key filter ≡ the old inner joins: a
    # null-key row never matched the inner join; a group whose values
    # are all NULL (absent from the CDF tables) kept its rows with
    # NULL rz — exactly what the left join reproduces
    scored = (
        df.filter(k.isNotNull())
        .join(F.broadcast(med), key_col, "left")
        .join(F.broadcast(mad), key_col, "left")
    )
    rz = F.when(
        F.col("_mad") > 0,
        F.round(F.lit(0.6745) * (v - F.col("_med")) / F.col("_mad"), round_dp),
    )
    return scored.select(
        F.col(id_col),
        k.alias(key_col),
        v.alias(value_col),
        rz.alias("rz"),
        F.coalesce(F.abs(rz) > z_thresh, F.lit(False)).alias("is_outlier"),
    )




def _safe_corr(x, y):
    """Pearson correlation that returns NULL (instead of ANSI-mode
    corr()'s DIVIDE_BY_ZERO throw) when either side has zero
    variance — DuckDB corr semantics, Pearson's undefined case."""
    sx, sy = F.stddev_samp(x), F.stddev_samp(y)
    return F.when(sx * sy > 0, F.covar_samp(x, y) / (sx * sy))


def chi2_independence(
    df: DataFrame,
    col_a: str,
    col_b: str,
    round_dp: int = 4,
) -> DataFrame:
    """Pearson chi-square test of independence between two
    categorical columns: one row ``(chi2, dof, n, cramers_v)`` —
    the profiling primitive behind "is corpus language independent
    of source domain?" drift checks.

    The contingency table is ONE (a, b) hash aggregation; expected
    counts come from the two margin aggregates CROSSED (every
    (row-category, col-category) combination, including pairs never
    observed — dropping empty cells is the textbook chi-square bug,
    they contribute ``E`` each), with the observed counts left-joined
    on. All counts are exact integers; the statistic sums
    ``(O-E)²/E`` over ≤ |A|×|B| cells and rounds to ``round_dp``.
    Cramér's V normalizes by ``n·min(|A|-1, |B|-1)`` for an
    effect-size in [0, 1].

    Scale shape: the fact scans once into the (a, b) aggregation;
    margins reduce THAT table (≤ |A|×|B| rows), so everything after
    the first agg is driver-trivial and broadcast-joined.
    """
    c = df.groupBy(col_a, col_b).agg(F.count(F.lit(1)).alias("_o"))
    ra = c.groupBy(col_a).agg(F.sum("_o").alias("_rn"))
    cb = c.groupBy(col_b).agg(F.sum("_o").alias("_cn"))
    n = c.agg(F.sum("_o").cast("double").alias("_n"))
    cells = (
        ra.crossJoin(cb)
        .join(c, [col_a, col_b], "left")
        .crossJoin(F.broadcast(n))
        .select(
            F.coalesce("_o", F.lit(0)).alias("_o"),
            (F.col("_rn") * F.col("_cn") / F.col("_n")).alias("_e"),
            "_n",
        )
    )
    # explicit d*d (not pow(d, 2)): libm pow is not guaranteed to be
    # the exact product, and the oracle multiplies.
    d = F.col("_o") - F.col("_e")
    contrib = d * d / F.col("_e")
    agg = cells.agg(
        F.round(F.sum(contrib), round_dp).alias("chi2"),
        F.first("_n").alias("_n"),
    )
    dims = ra.agg(F.count(F.lit(1)).alias("_ra_n")).crossJoin(
        cb.agg(F.count(F.lit(1)).alias("_cb_n"))
    )
    return agg.crossJoin(F.broadcast(dims)).select(
        "chi2",
        ((F.col("_ra_n") - 1) * (F.col("_cb_n") - 1))
        .cast("int")
        .alias("dof"),
        F.col("_n").cast("long").alias("n"),
        F.round(
            F.sqrt(
                F.col("chi2")
                / (
                    F.col("_n")
                    * F.least(F.col("_ra_n") - 1, F.col("_cb_n") - 1)
                )
            ),
            round_dp,
        ).alias("cramers_v"),
    )


def population_stability(
    ref: DataFrame,
    cur: DataFrame,
    col: str,
    n_bins: int = 5,
    floor: float = 1e-4,
    round_dp: int = 6,
) -> DataFrame:
    """Population Stability Index between a reference and a current
    distribution of ``col`` — the standard drift monitor between a
    model's training snapshot and live data (rule of thumb:
    PSI < 0.1 stable, 0.1–0.25 drifting, > 0.25 shifted).

    Bins are the REFERENCE distribution's equi-depth quantile bins
    (interior exact percentiles, 6dp-rounded — the
    :func:`quantile_bins` threshold contract), so the reference lands
    ~uniformly and drift shows up as current-side mass imbalance.
    Returns one row per bin:
    ``(bin, ref_n, cur_n, ref_pct, cur_pct, psi_contrib)`` with
    ``psi = sum(psi_contrib)``; proportions are floored at ``floor``
    before the log so an empty current bin contributes finitely (the
    standard PSI convention). An EMPTY side still yields ``n_bins``
    rows: its counts are 0 and its pct, like every ``psi_contrib``,
    is NULL — a proportion of nothing, not an ANSI DIVIDE_BY_ZERO
    (an empty reference also has no thresholds, so no current row
    falls in a bin).

    Scale shape: the reference thresholds come from ONE
    :func:`_cdf_percentiles` pass (r15 — exact interpolated
    percentiles with no single-buffer ``percentile()`` aggregate; the
    1-row threshold table broadcasts), map-only bin assignment on
    both sides, two ≤ n_bins-row count aggregations. Neither input
    ever shuffles rows.
    """
    probs = [i / n_bins for i in range(1, n_bins)]
    tags = [f"_q{i}" for i in range(1, n_bins)]
    th = _cdf_percentiles(ref, col, probs, tags).select(
        F.array(*tags).alias("_th")
    )

    def _binned_counts(df: DataFrame, out: str) -> DataFrame:
        b = df.join(F.broadcast(th), F.lit(True), "left").select(
            F.aggregate(
                F.col("_th"),
                F.lit(0),
                lambda acc, t: acc
                + F.when(F.col(col) > F.round(t, 6), 1).otherwise(0),
            ).alias("bin")
        )
        return b.groupBy("bin").agg(F.count(F.lit(1)).alias(out))

    r = _binned_counts(ref, "ref_n")
    c = _binned_counts(cur, "cur_n")
    # all bins 0..n_bins-1 present even when one side leaves a hole
    bins = ref.sparkSession.range(n_bins).select(
        F.col("id").cast("int").alias("bin")
    )
    rn = ref.agg(F.count(F.lit(1)).cast("double").alias("_rt"))
    cn = cur.agg(F.count(F.lit(1)).cast("double").alias("_ct"))
    joined = (
        bins.join(r, "bin", "left")
        .join(c, "bin", "left")
        .crossJoin(F.broadcast(rn))
        .crossJoin(F.broadcast(cn))
        .select(
            "bin",
            F.coalesce("ref_n", F.lit(0)).alias("ref_n"),
            F.coalesce("cur_n", F.lit(0)).alias("cur_n"),
            (
                F.coalesce("ref_n", F.lit(0))
                / F.when(F.col("_rt") > 0, F.col("_rt"))
            ).alias("_rp"),
            (
                F.coalesce("cur_n", F.lit(0))
                / F.when(F.col("_ct") > 0, F.col("_ct"))
            ).alias("_cp"),
        )
    )
    rp = F.greatest(F.col("_rp"), F.lit(floor))
    cp = F.greatest(F.col("_cp"), F.lit(floor))
    psi = F.when(
        F.col("_rp").isNotNull() & F.col("_cp").isNotNull(),
        (cp - rp) * F.log(cp / rp),
    )
    return joined.select(
        "bin",
        "ref_n",
        "cur_n",
        F.round("_rp", round_dp).alias("ref_pct"),
        F.round("_cp", round_dp).alias("cur_pct"),
        F.round(psi, round_dp).alias("psi_contrib"),
    )


def schema_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Schema-evolution audit between two table versions: one row per
    column — ``(column, status, old_type, new_type)`` with status in
    {added, removed, type_changed, unchanged} — the check a pipeline
    runs before promoting a snapshot whose upstream may have evolved
    (pairs with :func:`~gbif_filter_python_spark.operators.scd
    .snapshot_diff`, which audits the DATA of the versions).

    Purely metadata: schemas live on the driver, no job runs. Types
    compare by Catalyst simpleString (so decimal(10,2) → decimal(12,2)
    is a type change, nullability is not — Spark relaxes nullability
    freely through unions and outer joins).
    """
    o = {f.name: f.dataType.simpleString() for f in old.schema.fields}
    n = {f.name: f.dataType.simpleString() for f in new.schema.fields}
    rows = []
    for c in sorted(set(o) | set(n)):
        if c not in n:
            rows.append((c, "removed", o[c], None))
        elif c not in o:
            rows.append((c, "added", None, n[c]))
        elif o[c] != n[c]:
            rows.append((c, "type_changed", o[c], n[c]))
        else:
            rows.append((c, "unchanged", o[c], n[c]))
    return old.sparkSession.createDataFrame(
        rows, "column string, status string, old_type string, new_type string"
    )


def impute_by_group(
    df: DataFrame,
    group_cols: list[str],
    value_cols: list[str],
    strategy: str = "median",
    round_dp: int = 6,
) -> DataFrame:
    """Group-conditional missing-value imputation: NULLs in each
    ``value_cols`` fill with the column's per-group statistic
    (``median`` — exact interpolated percentile — or ``mean``),
    leaving non-null values untouched. Adds ``<col>_imputed``
    boolean flags. Groups that are entirely NULL stay NULL (there is
    nothing defensible to fill with — flag stays true for visibility).

    The fill value rounds to ``round_dp`` — imputed cells are
    estimates, and the rounding is what keeps them reproducible
    across engines and re-runs.

    Scale shape: the per-group model (|groups| × |cols| numbers) is
    bounded and broadcast back onto the fact — the fact rows never
    shuffle. Medians (r15 optimization round) unpivot the value
    columns into (group…, col, value) rows and run ONE keyed
    :func:`_cdf_percentiles` pass — exact interpolated percentiles
    with no single-buffer ``percentile()`` holding a whole 100 TB
    group in one aggregation cell; means stay a plain one-pass
    grouped aggregation.
    """
    if strategy not in ("median", "mean"):
        raise ValueError(
            f"impute_by_group: strategy must be median|mean, got {strategy!r}"
        )
    if strategy == "median":
        pairs = ", ".join(
            f"'{c}', cast(`{c}` as double)" for c in value_cols
        )
        long = df.select(
            *group_cols,
            F.expr(f"stack({len(value_cols)}, {pairs}) as (_c, _mv)"),
        )
        med = _cdf_percentiles(
            long,
            "_mv",
            [0.5],
            ["_fill"],
            key_cols=tuple(group_cols) + ("_c",),
            round_dp=round_dp,
        )
        stats = (
            med.groupBy(*group_cols)
            .pivot("_c", value_cols)
            .agg(F.first("_fill"))
        )
        for c in value_cols:
            stats = stats.withColumnRenamed(c, f"_fill_{c}")
    else:
        stats = df.groupBy(*group_cols).agg(
            *[
                F.round(F.avg(c), round_dp).alias(f"_fill_{c}")
                for c in value_cols
            ]
        )
    out = df.join(F.broadcast(stats), group_cols, "left")
    for c in value_cols:
        out = out.withColumn(
            f"{c}_imputed", F.col(c).isNull()
        ).withColumn(c, F.coalesce(F.col(c), F.col(f"_fill_{c}")))
    return out.drop(*[f"_fill_{c}" for c in value_cols])


def linear_trend(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Per-group ordinary-least-squares trend line: (group...,
    n, slope, intercept, r2) — the metric-drift primitive ("is
    latency / volume / quality trending, and how fast") that pairs
    with :func:`population_stability`'s distribution-drift view.

    Beyond-reference block (SURVEY.md §2 final row): the reference has
    no statistics at all.

    The five sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) come out
    of ONE hash aggregation — map-side partial aggregates, |groups|
    result rows, nothing else shuffles — and the closed forms

        slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
        r²    = (n·Σxy − Σx·Σy)² / ((n·Σx² − (Σx)²)(n·Σy² − (Σy)²))

    are plain Column arithmetic on the aggregated row. Spark 4 ships
    ``regr_slope``/``regr_r2`` natives, but their streaming-update
    internals order floating-point ops differently from other engines;
    spelling out the textbook sums keeps the result bit-reproducible
    against any SQL engine at ``round_dp`` digits (the cross-engine
    oracle contract used across this package). Zero-variance x (all
    points at one x) yields NULL slope/intercept/r2, not a division
    blowup; zero-variance y yields slope 0 and NULL r2 (r² is
    undefined when there is no variance to explain).

    Scale shape: identical to any single-pass aggregation — linear
    scan, constant state per group. NULL x or y rows are excluded
    pairwise (both engines' regr_* semantics).
    """
    x = F.col("_x")
    y = F.col("_y")
    pairs = (
        df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .withColumn("_x", F.col(x_col).cast("double"))
        .withColumn("_y", F.col(y_col).cast("double"))
    )
    agg = pairs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
        F.sum(y * y).alias("_syy"),
    )
    n = F.col("n").cast("double")
    cov_n = n * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    var_x = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    var_y = n * F.col("_syy") - F.col("_sy") * F.col("_sy")
    slope = F.when(var_x != 0, cov_n / var_x)
    intercept = F.when(
        var_x != 0, (F.col("_sy") - slope * F.col("_sx")) / n
    )
    r2 = F.when(
        (var_x != 0) & (var_y != 0), (cov_n * cov_n) / (var_x * var_y)
    )
    return agg.select(
        *group_cols,
        F.col("n"),
        F.round(slope, round_dp).alias("slope"),
        F.round(intercept, round_dp).alias("intercept"),
        F.round(r2, round_dp).alias("r2"),
    )


def fd_candidates(
    df: DataFrame,
    candidates: dict[str, list[str]],
    round_dp: int = 6,
) -> DataFrame:
    """Functional-dependency discovery over candidate column pairs:
    one row ``(lhs, rhs, n_groups, n_violating, support, holds)`` per
    candidate ``lhs -> rhs``, where ``holds`` means every lhs value
    maps to exactly one rhs value (NULL rhs counts as a value — an
    lhs group mixing NULL and non-NULL rhs is a violation). This is
    the key-inference / denormalization-audit primitive a pipeline
    runs before trusting "this column determines that one" (the
    check-side complement of :func:`check_constraints`' declared
    rules; candidate generation is the caller's, as in the classical
    FD miners — TANE/Metanome profile, then verify).

    ``support`` is the fraction of ROWS living in non-violating lhs
    groups — "how close to holding" (1.0 iff holds), weighted by
    group size so one mixed mega-group can't hide behind thousands
    of clean singletons.

    Scale shape: ONE shuffle per distinct lhs key, not per candidate
    pair — all rhs columns sharing an lhs are distinct-counted in a
    single ``groupBy(lhs)`` aggregation (Spark plans the multi-
    distinct as one Expand — |rhs| projected copies of the grouped
    input, the documented multi-count-distinct cost — but the fact
    is scanned once and shuffled once per lhs). The per-pair summary
    then aggregates the |lhs-groups|-row table with ``stack``, never
    rescanning the fact. NULL lhs rows are excluded (SQL GROUP BY
    would keep a NULL group; FD semantics over a nullable candidate
    key are undefined, so they are out of scope by contract).
    """
    if not candidates:
        raise ValueError("candidates must be non-empty")
    for lhs, rhs_cols in candidates.items():
        if not rhs_cols:
            raise ValueError(
                f"candidates[{lhs!r}] must list at least one rhs column"
            )
    outs = []
    for lhs, rhs_cols in candidates.items():
        grouped = (
            df.filter(F.col(lhs).isNotNull())
            .groupBy(F.col(lhs).alias("_g"))
            .agg(
                F.count(F.lit(1)).alias("_cnt"),
                *[
                    F.count_distinct(F.col(r)).alias(f"_nd_{r}")
                    for r in rhs_cols
                ],
                *[
                    F.max(
                        F.col(r).isNull().cast("int")
                    ).alias(f"_hasnull_{r}")
                    for r in rhs_cols
                ],
            )
        )
        # a group violates lhs->rhs iff it maps to >1 distinct rhs
        # value, counting NULL as a value: nd>1, or nd>=1 with a
        # NULL also present (count_distinct skips NULLs).
        viol = {
            r: (
                (F.col(f"_nd_{r}") > 1)
                | ((F.col(f"_nd_{r}") >= 1) & (F.col(f"_hasnull_{r}") == 1))
            ).cast("int")
            for r in rhs_cols
        }
        aggs = []
        for r in rhs_cols:
            aggs += [
                F.sum(viol[r]).alias(f"_nv_{r}"),
                F.sum(
                    F.when(viol[r] == 0, F.col("_cnt")).otherwise(0)
                ).alias(f"_ok_{r}"),
            ]
        row = grouped.agg(
            F.count(F.lit(1)).alias("_ng"),
            F.sum("_cnt").alias("_nr"),
            *aggs,
        )
        stack_args = ", ".join(
            f"'{r}', _nv_{r}, _ok_{r}" for r in rhs_cols
        )
        outs.append(
            row.select(
                F.lit(lhs).alias("lhs"),
                F.col("_ng").alias("n_groups"),
                F.col("_nr").alias("_nr"),
                F.expr(
                    f"stack({len(rhs_cols)}, {stack_args}) AS "
                    "(rhs, n_violating, _ok_rows)"
                ),
            ).select(
                "lhs",
                "rhs",
                "n_groups",
                F.col("n_violating").cast("long").alias("n_violating"),
                F.round(
                    F.col("_ok_rows") / F.col("_nr"), round_dp
                ).alias("support"),
                (F.col("n_violating") == 0).alias("holds"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def weighted_median(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
) -> DataFrame:
    """Per-group lower weighted median: the smallest value v whose
    cumulative weight reaches half the group's total weight
    (P(X <= v) >= 1/2 with row weights) — the robust center for
    size-weighted populations (median price weighted by quantity,
    median latency weighted by call volume) where the unweighted
    median over-counts small rows. ``(group..., total_weight,
    weighted_median)``; non-positive and NULL weights are excluded
    by contract, as are NULL values.

    Pure window + aggregation: ONE group-key shuffle for the
    cumulative-weight window — the default RANGE frame deliberately:
    tied values accumulate as one mass, so the within-tie row order
    (nondeterministic across engines) cannot change any row's
    cumulative weight — then a map-side min-aggregate picks the
    crossing value. No second scan: the group total rides the same
    window partition (unbounded frame).
    """
    from pyspark.sql import Window

    keep = df.filter(
        F.col(value_col).isNotNull() & (F.col(weight_col) > 0)
    )
    wv = Window.partitionBy(*group_cols).orderBy(F.col("_v"))
    wt = Window.partitionBy(*group_cols)
    cum = (
        keep.select(
            *group_cols,
            F.col(value_col).alias("_v"),
            F.col(weight_col).alias("_w"),
        )
        .withColumn("_cumw", F.sum("_w").over(wv))
        .withColumn("_total", F.sum("_w").over(wt))
    )
    return cum.groupBy(*group_cols).agg(
        F.max("_total").alias("total_weight"),
        F.min(
            F.when(F.col("_cumw") * 2 >= F.col("_total"), F.col("_v"))
        ).alias("weighted_median"),
    )


def k_anonymity(
    df: DataFrame,
    quasi_cols: list[str],
    k: int = 5,
    mode: str = "summary",
) -> DataFrame:
    """k-anonymity audit over a quasi-identifier tuple (Sweeney 2002):
    an equivalence class is the set of rows sharing the full
    ``quasi_cols`` value vector (NULLs compare equal — a NULL
    quasi-value still groups re-identifiable rows); the table is
    k-anonymous iff every class has at least k rows. The governance
    gate a training-data pipeline runs BEFORE shipping a de-identified
    extract — pii_scrub removes direct identifiers, this measures
    whether the remaining quasi-identifiers still single people out.

    ``mode="summary"`` → ONE row: (k, n_rows, n_classes,
    n_violating_classes, n_rows_at_risk, min_class_size,
    is_k_anonymous). ``mode="classes"`` → the violating classes
    themselves (quasi..., class_size) for remediation (suppress or
    generalize those rows).

    Scale shape: one hash aggregation to the class table (map-side
    combined), then either a scalar-state aggregation over class
    counts (summary) or a filter (classes). The fact is scanned once;
    nothing but (class, count) rows shuffle.
    """
    if mode not in ("summary", "classes"):
        raise ValueError(f"mode must be summary|classes, got {mode!r}")
    classes = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).alias("class_size")
    )
    if mode == "classes":
        return classes.filter(F.col("class_size") < k)
    viol = F.col("class_size") < k
    return classes.agg(
        F.lit(k).alias("k"),
        F.sum("class_size").alias("n_rows"),
        F.count(F.lit(1)).alias("n_classes"),
        F.sum(viol.cast("long")).alias("n_violating_classes"),
        F.sum(F.when(viol, F.col("class_size")).otherwise(0)).alias(
            "n_rows_at_risk"
        ),
        F.min("class_size").alias("min_class_size"),
        (F.sum(viol.cast("long")) == 0).alias("is_k_anonymous"),
    )


def l_diversity(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    l: int = 3,
    mode: str = "summary",
) -> DataFrame:
    """Distinct l-diversity audit (Machanavajjhala et al., TKDD 2007)
    — the companion gate to :func:`k_anonymity`: a table can be
    k-anonymous and still leak (every row of a class sharing the SAME
    sensitive value is a homogeneity attack); each equivalence class
    over ``quasi_cols`` must contain at least ``l`` DISTINCT non-null
    values of ``sensitive_col``. The reference has no governance
    surface at all (its outputs are raw GBIF occurrence dumps); a
    training-data pipeline shipping de-identified extracts needs both
    gates.

    NULL semantics, explicit: NULL quasi-values group together (same
    as k_anonymity — a NULL quasi-tuple still identifies its rows);
    a NULL sensitive value is NOT a value (``count(distinct x)``
    skips nulls in both engines), so an all-null class has diversity
    0 and always violates.

    ``mode="summary"`` → ONE row: (l, n_rows, n_classes,
    n_violating_classes, n_rows_at_risk, min_diversity,
    is_l_diverse). ``mode="classes"`` → the violating classes
    (quasi..., class_size, n_sensitive) for remediation.

    Scale shape: identical to k_anonymity — one hash aggregation
    (count-distinct adds a partial-dedup pass under AQE) to the class
    table, then a scalar-state summary; only (class, counts) rows
    ever shuffle.
    """
    if mode not in ("summary", "classes"):
        raise ValueError(f"mode must be summary|classes, got {mode!r}")
    if l < 1:
        raise ValueError(f"l must be >= 1, got {l}")
    classes = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).alias("class_size"),
        F.countDistinct(F.col(sensitive_col)).alias("n_sensitive"),
    )
    viol = F.col("n_sensitive") < l
    if mode == "classes":
        return classes.filter(viol)
    return classes.agg(
        F.lit(l).alias("l"),
        F.sum("class_size").alias("n_rows"),
        F.count(F.lit(1)).alias("n_classes"),
        F.sum(viol.cast("long")).alias("n_violating_classes"),
        F.sum(F.when(viol, F.col("class_size")).otherwise(0)).alias(
            "n_rows_at_risk"
        ),
        F.min("n_sensitive").alias("min_diversity"),
        (F.sum(viol.cast("long")) == 0).alias("is_l_diverse"),
    )


def quantile_normalize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Quantile normalization across groups (Bolstad 2003, the
    microarray/batch-effect standard, equally the corpus-prep move
    that aligns quality-score distributions across SOURCES before a
    single global threshold is applied): rank values within each
    group (ties broken by ``id_col`` — a total order, the ewma
    contract), then replace each value with the cross-group MEAN of
    the values at that rank. After it, every group has literally the
    same value distribution. Returns (id, group, value, normalized).

    Groups must be equal-sized — the exact rank-alignment form; a
    ValueError (eager, one count job) names the violation rather
    than silently interpolating. For unequal groups, pre-sample to
    the minimum size (``sample_by_hash``) or bucket into quantile
    bins first (``quantile_bins``).

    Scale shape: one group-key window (rank), one rank-key
    aggregation (|rows|/|groups| result rows), one equi-join back on
    rank. Shuffles carry (rank, value) pairs; nothing driver-side
    but the size-check scalar.
    """
    from pyspark.sql import Window

    sizes = (
        df.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .select("_n")
        .distinct()
        .collect()
    )
    if len(sizes) != 1:
        raise ValueError(
            f"quantile_normalize needs equal-sized groups; got sizes "
            f"{sorted(r['_n'] for r in sizes)}"
        )
    w = Window.partitionBy(group_col).orderBy(
        F.col(value_col).asc(), F.col(id_col).asc()
    )
    ranked = df.select(
        id_col, group_col, value_col
    ).withColumn("_rk", F.row_number().over(w))
    target = ranked.groupBy("_rk").agg(
        F.round(F.avg(value_col), round_dp).alias("normalized")
    )
    return ranked.join(target, "_rk").select(
        id_col, group_col, value_col, "normalized"
    )


def winsorized_stats(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p: float = 0.05,
    round_dp: int = 6,
) -> DataFrame:
    """Per-group winsorized and trimmed means: clamp values to the
    group's exact [p, 1-p] percentiles (winsorize) or drop values
    outside them (trim), and report ``(group..., n, lo, hi, mean_raw,
    mean_winsorized, mean_trimmed)`` — the robust-location pair every
    metrics pipeline needs when a handful of whale rows drag the
    plain mean (the additive complement of robust_outliers' MAD
    flagging: measure robustly instead of flagging).

    Both exact interior percentiles come out of a per-(group, value)
    count aggregate and its keyed running counts
    (:func:`~.prefix.prefix_sums`), not ``percentile()``'s one
    aggregation buffer per group (a single-task sort and an OOM on a
    100 TB mega-group). The two order statistics each percentile
    needs are conditional ``min``s over the cumulative counts, and
    the interpolation replicates ``Percentile``'s exact
    arithmetic (``pos = p·(n−1)``; ``(ceil−pos)·v_floor +
    (pos−floor)·v_ceil``; the degenerate integral-position branch
    returns the value itself). Thresholds are 6dp-rounded BEFORE the
    clamp so membership decisions pin cross-engine; the bounded
    per-group threshold model joins back (broadcast — |groups| rows)
    and one more aggregation produces all three means. The fact is
    scanned twice (threshold pass + measure pass), the
    impute_by_group contract; NULL values are excluded.
    """
    if not 0 < p < 0.5:
        raise ValueError(f"p must be in (0, 0.5), got {p}")
    # key filter under the shared aggregate (r15): the measure pass's
    # inner join pushes isnotnull(group…) into ITS copy of this
    # subtree, and an asymmetric filter breaks the runtime exchange
    # reuse this operator's one-fact-pass contract rests on. NULL-key
    # groups were already dropped by that inner join, so the filter
    # changes nothing the query computes.
    keep = df.filter(F.col(value_col).isNotNull())
    for g in group_cols:
        keep = keep.filter(F.col(g).isNotNull())
    per = keep.groupBy(
        *group_cols, F.col(value_col).alias("_v")
    ).agg(F.count(F.lit(1)).alias("_t"))
    cdf = prefix_sums(per, ["_v"], ["_t"], group_cols)

    def _order_stats(prob: float, tag: str) -> list:
        # per-row: the group total rides every row as _tot_t, so the
        # 0-based interpolation indices are per-row expressions and
        # the order statistics are conditional mins over the
        # inclusive cumulative counts (cum > i ⇔ this distinct value
        # covers sorted position i)
        pos = F.lit(prob) * (F.col("_tot_t") - 1).cast("double")
        return [
            F.min(
                F.when(F.col("_cum_t") > F.floor(pos), F.col("_v"))
            ).alias(f"_vf_{tag}"),
            F.min(
                F.when(F.col("_cum_t") > F.ceil(pos), F.col("_v"))
            ).alias(f"_vc_{tag}"),
        ]

    stats = cdf.groupBy(*group_cols).agg(
        F.min("_tot_t").alias("_n"),
        *_order_stats(p, "lo"),
        *_order_stats(1 - p, "hi"),
    )

    def _interp(prob: float, tag: str) -> Column:
        pos = F.lit(prob) * (F.col("_n") - 1).cast("double")
        lo_i, hi_i = F.floor(pos), F.ceil(pos)
        vf = F.col(f"_vf_{tag}").cast("double")
        vc = F.col(f"_vc_{tag}").cast("double")
        exact = lo_i == hi_i
        return F.round(
            F.when(exact, vf).otherwise(
                (hi_i.cast("double") - pos) * vf
                + (pos - lo_i.cast("double")) * vc
            ),
            round_dp,
        )

    th = stats.select(
        *group_cols,
        _interp(p, "lo").alias("lo"),
        _interp(1 - p, "hi").alias("hi"),
    )
    # The measure pass rides the SAME (group, value, count) aggregate
    # (runtime exchange reuse materializes it once), never the fact:
    # every mean is a count-weighted sum over distinct values, so the
    # fact is scanned and hash-aggregated exactly ONCE end to end.
    v = F.col("_v").cast("double")
    td = F.col("_t").cast("double")
    clamped = F.least(F.greatest(v, F.col("lo")), F.col("hi"))
    in_range = (v >= F.col("lo")) & (v <= F.col("hi"))
    joined = per.join(F.broadcast(th), group_cols)
    return joined.groupBy(*group_cols).agg(
        F.sum("_t").alias("n"),
        F.max("lo").alias("lo"),
        F.max("hi").alias("hi"),
        F.round(F.sum(td * v) / F.sum(td), round_dp).alias("mean_raw"),
        F.round(
            F.sum(td * clamped) / F.sum(td), round_dp
        ).alias("mean_winsorized"),
        F.round(
            F.sum(F.when(in_range, td * v)) / F.sum(F.when(in_range, td)),
            round_dp,
        ).alias("mean_trimmed"),
    )


def rank_sum_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    round_dp: int = 6,
) -> DataFrame:
    """Mann-Whitney-Wilcoxon rank-sum test between two groups: ONE
    row ``(n_a, n_b, rank_sum_a, u_a, z)`` — the nonparametric
    complement of :func:`~.analytics.cuped_adjusted_means`' mean
    readout (rank-based, so whale rows can't fake or mask a shift;
    the robust two-sample decision the same pipelines run when the
    metric is heavy-tailed). Average ranks for ties and the standard
    tie-corrected normal approximation

        z = (U_a - n_a n_b / 2) /
            sqrt(n_a n_b / 12 · ((N+1) - Σ(t³-t) / (N(N-1))))

    (report |z| against the usual 1.96/2.58 lines; the normal CDF is
    deliberately out of scope — neither engine ships erf, and the
    z-line decision is what the report needs). NULL values excluded.

    Scale shape: ranks come from the DISTINCT-VALUE aggregate (cnt
    per value + its running count, :func:`~.prefix.prefix_sums`;
    exclusive "_before" is the inclusive cum minus the row's own
    count — exact in longs). ``_ta`` is summed too (its running sum
    is unused) so both branch schemas stay identical and the planner
    reuses one exchange. Average ranks are exact
    half-integers and the rank sums exact in double far past any
    realistic N; only z itself rounds.
    """
    two = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).alias("_g"),
        F.col(value_col).cast("double").alias("_v"),
    )
    per_val = two.groupBy("_v").agg(
        F.count(F.lit(1)).alias("_t"),
        F.sum((F.col("_g") == group_a).cast("long")).alias("_ta"),
    )
    ranked = prefix_sums(per_val, ["_v"], ["_t", "_ta"]).withColumn(
        "_before", F.col("_cum_t") - F.col("_t")
    ).withColumn(
        "_avgrank", F.col("_before") + (F.col("_t") + 1) / 2.0
    )
    agg = ranked.agg(
        F.sum("_ta").alias("n_a"),
        F.sum(F.col("_t") - F.col("_ta")).alias("n_b"),
        F.sum(F.col("_ta") * F.col("_avgrank")).alias("rank_sum_a"),
        F.sum(
            F.col("_t").cast("double") * F.col("_t") * F.col("_t")
            - F.col("_t")
        ).alias("_ties"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    n = na + nb
    u_a = F.col("rank_sum_a") - na * (na + 1) / 2.0
    sigma2 = na * nb / 12.0 * ((n + 1) - F.col("_ties") / (n * (n - 1)))
    z = F.when(sigma2 > 0, (u_a - na * nb / 2.0) / F.sqrt(sigma2))
    return agg.select(
        "n_a",
        "n_b",
        F.round("rank_sum_a", round_dp).alias("rank_sum_a"),
        F.round(u_a, round_dp).alias("u_a"),
        F.round(z, round_dp).alias("z"),
    )


def _cdf_percentiles(
    df: DataFrame,
    value_col: str,
    probs: list[float],
    aliases: list[str],
    key_cols: tuple = (),
    round_dp: int | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Exact interpolated percentiles — ``percentile()``'s arithmetic
    bit-for-bit — computed from a per-(key, value) count aggregate
    and its keyed running counts (:func:`~.prefix.prefix_sums`)
    instead of ``percentile()``'s one aggregation buffer per group (a
    single-task sort and an OOM at a 100 TB mega-group). Each
    requested percentile's two order statistics are conditional ``min``s over
    the cumulative counts (``cum > i`` ⇔ this distinct value covers
    sorted position ``i``), and the interpolation replicates
    ``Percentile``'s exact arithmetic: ``pos = p·(n−1)``;
    ``(ceil−pos)·v_floor + (pos−floor)·v_ceil``; the degenerate
    integral-position branch returns the value itself (identical
    doubles, same operations in the same order — plan- and
    oracle-pinned by the r14 winsorized differential test).

    Returns one row per key: ``(key..., _n, alias...)`` with ``_n``
    the non-NULL value count. NULL values are excluded (percentile()
    semantics); a key whose values are ALL NULL produces NO row —
    callers that must keep such groups join back with ``how="left"``.
    Unkeyed, an empty or all-NULL input likewise produces NO row (not
    one row of NULLs), so a caller's ``lit(True)`` left join leaves
    the NULL the percentile is, not a fold over NULL thresholds.
    ``weight_col`` treats ``df`` as pre-aggregated (value, weight)
    rows — exact for integer weights, identical to expansion.
    """
    v = F.col(value_col)
    keep = df.filter(v.isNotNull())
    per = keep.groupBy(
        *key_cols, v.alias("_v")
    ).agg(
        (
            F.sum(weight_col) if weight_col else F.count(F.lit(1))
        ).alias("_t")
    )
    cdf = prefix_sums(per, ["_v"], ["_t"], key_cols)
    aggs = [F.min("_tot_t").alias("_n")]
    for prob, tag in zip(probs, aliases):
        pos = F.lit(prob) * (F.col("_tot_t") - 1).cast("double")
        aggs.append(
            F.min(
                F.when(F.col("_cum_t") > F.floor(pos), F.col("_v"))
            ).alias(f"_vf_{tag}")
        )
        aggs.append(
            F.min(
                F.when(F.col("_cum_t") > F.ceil(pos), F.col("_v"))
            ).alias(f"_vc_{tag}")
        )
    stats = cdf.groupBy(*key_cols).agg(*aggs)
    if not key_cols:
        # a global aggregate over no rows still yields one row
        stats = stats.filter(F.col("_n").isNotNull())
    cols: list = list(key_cols) + [F.col("_n")]
    for prob, tag in zip(probs, aliases):
        pos = F.lit(prob) * (F.col("_n") - 1).cast("double")
        lo_i, hi_i = F.floor(pos), F.ceil(pos)
        vf = F.col(f"_vf_{tag}").cast("double")
        vc = F.col(f"_vc_{tag}").cast("double")
        out = F.when(lo_i == hi_i, vf).otherwise(
            (hi_i.cast("double") - pos) * vf
            + (pos - lo_i.cast("double")) * vc
        )
        if round_dp is not None:
            out = F.round(out, round_dp)
        cols.append(out.alias(tag))
    return stats.select(*cols)


def ks_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    round_dp: int = 6,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test between two groups: ONE row
    ``(n_a, n_b, d_stat, ks_stat)`` where ``d_stat = sup_x |F_a(x) −
    F_b(x)|`` over the pooled empirical CDFs and ``ks_stat =
    sqrt(n_a·n_b/(n_a+n_b)) · D`` is the asymptotically
    distribution-free statistic (compare against the usual 1.36/1.63
    lines for α=0.05/0.01; the Kolmogorov CDF itself is out of scope —
    same contract as :func:`rank_sum_test`'s z). The
    whole-distribution complement of PSI/rank-sum: PSI needs binning
    choices and rank-sum only sees location shift; D reacts to ANY
    CDF divergence with a binning-free statistic.

    Scale shape: per-DISTINCT-value counts via one map-side-combined
    hash aggregation, then the CDFs are their running sums
    (:func:`~.prefix.prefix_sums`). Both CDFs step at
    pooled values (ties included), so the sup is exact, not
    grid-sampled. NULL values excluded pairwise.
    """
    two = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).alias("_g"),
        F.col(value_col).cast("double").alias("_v"),
    )
    per_val = two.groupBy("_v").agg(
        F.sum((F.col("_g") == group_a).cast("long")).alias("_ca"),
        F.sum((F.col("_g") == group_b).cast("long")).alias("_cb"),
    )
    cdfs = prefix_sums(per_val, ["_v"], ["_ca", "_cb"])
    gap = F.abs(
        F.col("_cum_ca") / F.col("_tot_ca")
        - F.col("_cum_cb") / F.col("_tot_cb")
    )
    # an entirely-absent sample has no defined statistic: return an
    # EMPTY frame, not a NaN-laden row (0/0 double division is NaN)
    agg = (
        cdfs.filter((F.col("_tot_ca") > 0) & (F.col("_tot_cb") > 0))
        .groupBy(
            F.col("_tot_ca").alias("n_a"),
            F.col("_tot_cb").alias("n_b"),
        )
        .agg(F.max(gap).alias("_d"))
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    return agg.select(
        "n_a",
        "n_b",
        F.round("_d", round_dp).alias("d_stat"),
        F.round(
            F.sqrt(na * nb / (na + nb)) * F.col("_d"), round_dp
        ).alias("ks_stat"),
    )


def concentration_metrics(
    df: DataFrame,
    group_col: str,
    value_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Per-group concentration of a nonnegative measure over its
    member rows: ``(group, n, total, gini, hhi, top1_share,
    cr4)`` — the inequality readout a corpus pipeline runs over
    source/domain token shares (is one domain 40% of the training
    mix?) and a marketplace runs over supplier revenue.

    * ``gini`` — ``2·Σ i·x_(i) / (n·Σx) − (n+1)/n`` with ``x_(i)``
      ascending; invariant to intra-tie order (equal values make the
      Σ i·x term independent of how row_number breaks the tie), so
      the statistic is deterministic cross-engine with no tiebreak
      convention needed.
    * ``hhi`` — Σ share² (Herfindahl-Hirschman, 1/n..1).
    * ``top1_share`` / ``cr4`` — the largest member's share and the
      4-member concentration ratio.

    Scale shape: one shuffle by group, windows within each group's
    partition (groups are member-count-sized — suppliers per nation,
    sources per corpus — not fact-sized; pre-aggregate member totals
    first when feeding raw facts). Zero/negative-total groups return
    NULL ratios rather than dividing by zero. NULL values excluded.
    """
    from pyspark.sql import Window

    rows = df.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("group"),
        F.col(value_col).cast("double").alias("_x"),
    )
    asc = Window.partitionBy("group").orderBy(F.col("_x").asc())
    desc_rank = Window.partitionBy("group").orderBy(F.col("_x").desc())
    ranked = rows.withColumn("_i", F.row_number().over(asc)).withColumn(
        "_j", F.row_number().over(desc_rank)
    )
    agg = ranked.groupBy("group").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_x").alias("_tot"),
        F.sum(F.col("_i") * F.col("_x")).alias("_iwx"),
        F.max(F.when(F.col("_j") == 1, F.col("_x"))).alias("_top1"),
        F.sum(F.when(F.col("_j") <= 4, F.col("_x"))).alias("_top4"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sq"),
    )
    n = F.col("n").cast("double")
    tot = F.col("_tot")
    ok = tot > 0
    return agg.select(
        "group",
        "n",
        # total rounds at 2dp, not round_dp: it is the one RAW-SCALE
        # output (~1e9 for revenue), where double summation order
        # moves the 1e-7 digit — 6dp would be false precision that
        # flips on association order; the ratio columns are O(1) and
        # keep full round_dp
        F.round(tot, 2).alias("total"),
        F.round(
            F.when(ok, 2.0 * F.col("_iwx") / (n * tot) - (n + 1) / n),
            round_dp,
        ).alias("gini"),
        F.round(
            F.when(ok, F.col("_sq") / (tot * tot)), round_dp
        ).alias("hhi"),
        F.round(F.when(ok, F.col("_top1") / tot), round_dp).alias(
            "top1_share"
        ),
        F.round(F.when(ok, F.col("_top4") / tot), round_dp).alias("cr4"),
    )


def fdr_bh(
    df: DataFrame,
    p_col: str,
    key_cols: list[str],
    alpha: float = 0.05,
    round_dp: int = 6,
) -> DataFrame:
    """Benjamini-Hochberg FDR correction over a p-value table: adds
    ``(rank, p_adjusted, discovery)`` where ``p_adjusted`` is the
    step-up adjusted value ``min_{j >= i} (m · p_(j) / j)`` clipped
    at 1 and ``discovery`` marks ``p_adjusted <= alpha`` — the
    multiple-testing gate that belongs after any per-segment battery
    of tests (``chi2_independence`` per segment, ``rank_sum_test``
    per metric, drift checks per column): at 10k segments, 500 of
    them clear p<0.05 by chance alone and BH is the standard control.
    Works on ANY p-value column; it does not compute p-values.

    Exact step-up via two windows over the HYPOTHESIS table (which
    is test-count-sized — thousands of rows, never the fact): rank
    by (p, key...) — the deterministic total order; ties share the
    correct adjusted value because the reverse running-min flows the
    smallest m·p/j back across them — then the reverse cumulative
    min. NULL p-values are excluded by contract (they are absent
    tests, not evidence).
    """
    from pyspark.sql import Window

    keep = df.filter(F.col(p_col).isNotNull())
    # m via unpartitioned-window count over the hypothesis table
    wall = Window.partitionBy()
    asc = Window.orderBy(
        F.col(p_col).asc(), *[F.col(k).asc() for k in key_cols]
    )
    ranked = keep.withColumn("_m", F.count(F.lit(1)).over(wall)).withColumn(
        "rank", F.row_number().over(asc)
    )
    # the reverse pass MUST order by the unique rank, not by
    # (p desc, key desc): exact-duplicate (p, key) rows make that
    # order non-total and the two engines' arbitrary intra-tie visit
    # orders produce different running minima (measured: dup part
    # names flipped p_adjusted at the same rank). rank is the total
    # order the step-up is defined on.
    desc = Window.orderBy(F.col("rank").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    raw = F.col(p_col) * F.col("_m") / F.col("rank")
    stepped = ranked.withColumn("_raw", raw).withColumn(
        "p_adjusted",
        F.round(F.least(F.min("_raw").over(desc), F.lit(1.0)), round_dp),
    )
    return stepped.select(
        *key_cols,
        p_col,
        "rank",
        "p_adjusted",
        (F.col("p_adjusted") <= alpha).alias("discovery"),
    )


def spearman_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Spearman rank correlation between two columns: ONE row
    ``(n, rho)`` — Pearson on the average-rank transforms (the exact
    tie-aware definition), the monotone-association complement of
    ``stats_corr``'s linear Pearson: a clean monotone-but-curved
    relationship scores rho ~ 1 while Pearson underreports it, and
    whale rows can't dominate. Pairwise NULL exclusion.

    Scale shape (r14 optimization round): ONE fact pass — a
    map-side-combined ``(x, y)`` pair-count aggregation — and
    everything downstream rides tables bounded by |distinct pairs|:
    both marginal per-value count tables RE-AGGREGATE the pair table
    (the lm_train_bigram / cms_build identity — Σ of pair counts per
    value ≡ the per-value row count, exact in longs), both average-
    rank maps come out of a SINGLE side-keyed running count
    (:func:`~.prefix.prefix_sums`, one range shuffle instead of two),
    and the sufficient statistics are count-weighted sums over the
    pair table. The fact is never globally sorted, never re-scanned,
    and never joined row-at-a-time: the r13 shape scanned it three
    times (per-x agg, per-y agg, rank-map probe). Average ranks are
    exact half-integers, so the weighted products are exact in double
    before the final sums (the bcubed_eval cell-weighted precedent).
    """
    pairs = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        F.col(x_col).cast("double").alias("_x"),
        F.col(y_col).cast("double").alias("_y"),
    )
    pc = pairs.groupBy("_x", "_y").agg(F.count(F.lit(1)).alias("_c"))

    # Both marginal distinct-value tables re-aggregate the pair table
    # (three references to the same agg subtree — runtime exchange
    # reuse materializes it once), stacked so ONE keyed CDF pass
    # computes both rank maps.
    stacked = pc.select(
        F.lit("x").alias("_s"), F.col("_x").alias("_v"), F.col("_c")
    ).unionByName(
        pc.select(
            F.lit("y").alias("_s"), F.col("_y").alias("_v"), F.col("_c")
        )
    )
    per = stacked.groupBy("_s", "_v").agg(F.sum("_c").alias("_t"))
    # exclusive before-count = inclusive cum minus the row's own
    # count, both exact in longs
    ranked = prefix_sums(per, ["_v"], ["_t"], ["_s"]).select(
        "_s",
        "_v",
        (
            (F.col("_cum_t") - F.col("_t")) + (F.col("_t") + 1) / 2.0
        ).alias("_r"),
    )
    rx_map = ranked.filter(F.col("_s") == "x").select(
        F.col("_v").alias("_x"), F.col("_r").alias("_rx")
    )
    ry_map = ranked.filter(F.col("_s") == "y").select(
        F.col("_v").alias("_y"), F.col("_r").alias("_ry")
    )
    j = pc.join(rx_map, "_x").join(ry_map, "_y")
    rx, ry = F.col("_rx"), F.col("_ry")
    c = F.col("_c")
    cd = c.cast("double")
    agg = j.agg(
        # coalesce keeps the empty-input contract of the old
        # count(): n = 0, not NULL
        F.coalesce(F.sum(c), F.lit(0)).alias("n"),
        F.sum(cd * rx).alias("_sx"),
        F.sum(cd * ry).alias("_sy"),
        F.sum(cd * (rx * ry)).alias("_sxy"),
        F.sum(cd * (rx * rx)).alias("_sxx"),
        F.sum(cd * (ry * ry)).alias("_syy"),
    )
    nd = F.col("n").cast("double")
    cov = nd * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    vx = nd * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    vy = nd * F.col("_syy") - F.col("_sy") * F.col("_sy")
    rho = F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx * vy))
    return agg.select("n", F.round(rho, round_dp).alias("rho"))


def auc_by_group(
    df: DataFrame,
    group_col: str,
    score_col: str,
    label_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Per-group ROC-AUC via the Mann-Whitney identity (Hanley &
    McNeil 1982) — the discrimination score card for every classifier
    this package trains (nb_score, dsir_weights, quality models):

        AUC = (rank_sum_pos − n_pos(n_pos+1)/2) / (n_pos · n_neg)

    with tie-aware average ranks, which is exactly "ties count ½" in
    the pairwise formulation. Returns ``(group, n_pos, n_neg, auc)``;
    degenerate groups (no positives or no negatives) report NULL auc.
    NULL scores/labels are excluded pairwise.

    Scale shape: the :func:`rank_sum_test` discipline per group —
    ranks come from the DISTINCT-(group, score) aggregate (count +
    positives per value) and their per-group running counts
    (:func:`~.prefix.prefix_sums`). Rank sums are
    exact half-integers; only auc rounds.
    """
    rows = df.filter(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.col(group_col).alias("_g"),
        F.col(score_col).cast("double").alias("_v"),
        (F.col(label_col).cast("double") != 0.0).cast("long").alias("_y"),
    )
    per_val = rows.groupBy("_g", "_v").agg(
        F.count(F.lit(1)).alias("_t"),
        F.sum("_y").alias("_tp"),
    )
    ranked = prefix_sums(per_val, ["_v"], ["_t", "_tp"], ["_g"]).withColumn(
        "_before", F.col("_cum_t") - F.col("_t")
    ).withColumn("_avgrank", F.col("_before") + (F.col("_t") + 1) / 2.0)
    agg = ranked.groupBy("_g").agg(
        F.sum("_tp").alias("n_pos"),
        F.sum(F.col("_t") - F.col("_tp")).alias("n_neg"),
        F.sum(F.col("_tp") * F.col("_avgrank")).alias("_rs"),
    )
    auc = (
        F.col("_rs") - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0
    ) / (F.col("n_pos") * F.col("n_neg"))
    return agg.select(
        F.col("_g").alias(group_col),
        "n_pos",
        "n_neg",
        F.round(
            F.when((F.col("n_pos") > 0) & (F.col("n_neg") > 0), auc),
            round_dp,
        ).alias("auc"),
    )


def cohen_kappa(
    df: DataFrame,
    rater_a_col: str,
    rater_b_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Cohen's kappa inter-annotator agreement (Cohen 1960) — the
    label-quality gate before any human- or model-annotated column is
    trusted as a training target: observed agreement corrected for
    the agreement two independent raters with these marginals would
    reach by chance,

        κ = (p_o − p_e) / (1 − p_e),  p_e = Σ_c p_a(c) · p_b(c).

    ONE row ``(n, po, pe, kappa)``; rows where either rating is NULL
    are excluded; a degenerate pair (p_e = 1: both raters constant
    and identical) reports NULL kappa. Ratings compare null-safely as
    plain equality on the string form so numeric and string label
    schemes both work.

    Scale shape: one hash aggregation to the |classes|² joint table
    is avoided entirely — p_o needs only ``mean(a = b)`` (one scalar
    agg over the fact) and p_e needs the two MARGINAL class tables
    (two small aggs, full-outer-joined on class ≤ |classes| rows).
    Nothing but class counts shuffles.
    """
    rated = df.filter(
        F.col(rater_a_col).isNotNull() & F.col(rater_b_col).isNotNull()
    ).select(
        F.col(rater_a_col).cast("string").alias("_a"),
        F.col(rater_b_col).cast("string").alias("_b"),
    )
    base = rated.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg((F.col("_a") == F.col("_b")).cast("double")).alias("_po"),
    )
    ma = rated.groupBy(F.col("_a").alias("_c")).agg(
        F.count(F.lit(1)).alias("_ca")
    )
    mb = rated.groupBy(F.col("_b").alias("_c")).agg(
        F.count(F.lit(1)).alias("_cb")
    )
    pe = (
        ma.join(mb, "_c", "full")
        .agg(
            F.sum(
                F.coalesce(F.col("_ca"), F.lit(0)).cast("double")
                * F.coalesce(F.col("_cb"), F.lit(0))
            ).alias("_pp")
        )
    )
    joined = base.crossJoin(F.broadcast(pe))
    po = F.col("_po")
    pe_c = F.col("_pp") / (F.col("n").cast("double") * F.col("n"))
    kappa = F.when(pe_c < 1.0, (po - pe_c) / (1.0 - pe_c))
    return joined.select(
        "n",
        F.round(po, round_dp).alias("po"),
        F.round(pe_c, round_dp).alias("pe"),
        F.round(kappa, round_dp).alias("kappa"),
    )


#: Benford expected first-digit probabilities log10(1 + 1/d), d=1..9,
#: driver-computed once and embedded as literals in BOTH engines.
import math as _math

BENFORD_P = [_math.log10(1.0 + 1.0 / d) for d in range(1, 10)]


def benford_first_digit(
    df: DataFrame,
    value_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Benford's-law first-significant-digit audit (Newcomb 1881,
    Benford 1938; the fabricated-data / anomalous-feed detector for
    naturally-spanning numeric columns — a synthetic or truncated
    feed bends the log-curve): per digit d ∈ 1..9,
    ``(digit, n, observed_p, expected_p, chi2_term, chi2_total)``
    with the Pearson χ² terms ``(n − N·e)²/(N·e)`` (compare
    chi2_total against the χ²₈ lines: 15.5 at 5%, 20.1 at 1%).

    The first significant digit comes from the STRING form
    (``regexp_extract(cast(v as string), '[1-9]')``) — every engine
    prints the same double with the same leading digit, whereas the
    ``floor(v / 10^floor(log10 v))`` formulation sits one libm ulp
    from flipping on exact powers of ten. Zero/NULL/no-digit values
    are out of scope (Benford applies to nonzero magnitudes).

    Scale shape: one hash aggregation to ≤ 9 rows, a broadcast-sized
    left join against the literal digit frame (absent digits report
    n = 0 — their χ² term N·e still counts), and windows over the
    9-row frame only.
    """
    from pyspark.sql import Window

    d = F.regexp_extract(F.col(value_col).cast("string"), "[1-9]", 0)
    rows = (
        df.filter(F.col(value_col).isNotNull())
        .select(d.alias("_d"))
        .filter(F.col("_d") != "")
    )
    counts = rows.groupBy(F.col("_d").cast("int").alias("digit")).agg(
        F.count(F.lit(1)).alias("n")
    )
    spark = df.sparkSession
    digits = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    full = digits.join(counts, "digit", "left").select(
        "digit", F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )
    w = Window.partitionBy()
    expected = F.element_at(
        F.array(*[F.lit(p) for p in BENFORD_P]), F.col("digit")
    )
    n_total = F.sum("n").over(w).cast("double")
    ne = n_total * expected
    chi2_term = (F.col("n") - ne) * (F.col("n") - ne) / ne
    enriched = full.select(
        "digit",
        "n",
        F.round(F.col("n") / n_total, round_dp).alias("observed_p"),
        F.round(expected, round_dp).alias("expected_p"),
        F.round(chi2_term, round_dp).alias("chi2_term"),
        chi2_term.alias("_raw_term"),
    )
    return enriched.select(
        "digit",
        "n",
        "observed_p",
        "expected_p",
        "chi2_term",
        F.round(F.sum("_raw_term").over(w), round_dp).alias("chi2_total"),
    )


def hill_tail_index(
    df: DataFrame,
    group_col: str,
    value_col: str,
    tie_col: str,
    k: int = 100,
    round_dp: int = 6,
) -> DataFrame:
    """Hill estimator of the power-law tail index per group.

    The heavy-tail diagnostic that pairs with zipf_fit/benford: for the
    ``k`` largest positive values ``x_(1) >= ... >= x_(k)`` and the
    threshold ``x_(k+1)``, ``H = mean(ln(x_(i) / x_(k+1)))`` and the
    tail index is ``1/H`` (Hill 1975 — smaller index = heavier tail).

    Scale shape: ONE window pass (row_number per group, ties broken by
    ``tie_col`` so the estimate is deterministic), top-(k+1) rows kept
    per group — the shuffle after the filter carries ``groups x (k+1)``
    rows, never the fact. At 100 TB the window itself is the cost; for
    few groups substitute an approx-quantile threshold prefilter first
    (the documented trade elsewhere: exact top-k via window is fine
    per-partitioned-group, the global variant goes through
    ``approx_percentiles``).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col).orderBy(
        F.col(value_col).desc(), F.col(tie_col)
    )
    ranked = (
        df.filter(F.col(value_col) > 0)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k + 1)
    )
    thresh = ranked.filter(F.col("rn") == k + 1).select(
        F.col(group_col).alias("_g"), F.col(value_col).alias("x_k1")
    )
    top = ranked.filter(F.col("rn") <= k).join(
        F.broadcast(thresh), F.col(group_col) == F.col("_g")
    )
    return (
        top.groupBy(group_col)
        .agg(
            F.count("*").alias("k"),
            F.round(F.first("x_k1"), 2).alias("x_k1"),
            F.avg(F.log(F.col(value_col) / F.col("x_k1"))).alias("_h"),
        )
        .select(
            group_col,
            "k",
            "x_k1",
            # try_divide: a degenerate flat tail (H = 0, all top-k
            # equal) yields null rather than an ANSI divide error.
            F.round(F.try_divide(F.lit(1.0), F.col("_h")), round_dp).alias(
                "tail_index"
            ),
        )
    )


def welch_ttest(
    df: DataFrame,
    group_col: str,
    value_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Welch's unequal-variance t-test over EVERY pair of groups.

    The parametric sibling of :func:`rank_sum_test`: one row per
    unordered group pair ``(grp_a < grp_b)`` with the Welch t
    statistic, the Welch–Satterthwaite degrees of freedom

        df = (v_a/n_a + v_b/n_b)^2 /
             ((v_a/n_a)^2/(n_a-1) + (v_b/n_b)^2/(n_b-1))

    and pooled-SD Cohen's d as the effect size — the A/B readout the
    same pipelines run when the metric is near-normal (report |t|
    against the usual 1.96/2.58 lines; the CDF is deliberately out of
    scope, as in :func:`rank_sum_test`). NULL values excluded; groups
    with n < 2 yield NULL statistics (``var_samp`` undefined).

    Scale shape: ONE hash aggregation over the fact (map-side partial
    n/mean/var per group), then a |groups|^2/2 broadcast self-join of
    the k-row summary — the fact never shuffles twice and the pair
    blow-up happens on aggregates only. Means round at 2dp (raw-scale
    money sums; summation order flips the 1e-6 digit), the scale-free
    statistics at ``round_dp``.
    """
    g = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(value_col).alias("m"),
            F.var_samp(value_col).alias("v"),
        )
    )
    a, b = g.alias("a"), F.broadcast(g.alias("b"))
    pa = a.join(b, F.col("a.grp") < F.col("b.grp"))
    na, nb = F.col("a.n").cast("double"), F.col("b.n").cast("double")
    sea = F.col("a.v") / na
    seb = F.col("b.v") / nb
    se2 = sea + seb
    delta = F.col("a.m") - F.col("b.m")
    dof = (se2 * se2) / (sea * sea / (na - 1) + seb * seb / (nb - 1))
    pooled = ((na - 1) * F.col("a.v") + (nb - 1) * F.col("b.v")) / (
        na + nb - 2
    )
    return pa.select(
        F.col("a.grp").alias("grp_a"),
        F.col("b.grp").alias("grp_b"),
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
        F.round("a.m", 2).alias("mean_a"),
        F.round("b.m", 2).alias("mean_b"),
        F.round(delta / F.sqrt(se2), round_dp).alias("t_stat"),
        F.round(dof, 2).alias("df"),
        F.round(delta / F.sqrt(pooled), round_dp).alias("cohen_d"),
    )


def acf_lags(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    max_lag: int = 7,
    round_dp: int = 6,
) -> DataFrame:
    """Sample autocorrelation of the daily-total series at lags
    1..``max_lag``: one row ``(lag, n_pairs, acf)`` per lag, where
    ``acf`` is the Pearson correlation of ``(x_t, x_{t+lag})`` pairs —
    the seasonality probe that tells a pipeline whether day-of-week
    structure exists before it reaches for :func:`seasonal period
    models <.analytics.seasonal_outliers>`.

    Scale shape: the fact collapses to ONE row per day in a single
    hash aggregation; everything after (row_number, the lag
    self-join, per-lag corr) runs on the |days|-row series — at 100 TB
    that is still only a few thousand rows, so the single-partition
    window on the aggregated series is bounded state, the same
    contract as :func:`~.analytics.cusum_changepoints`.
    """
    from pyspark.sql import Window

    daily = df.groupBy(
        F.to_date(F.col(ts_col)).alias("d")
    ).agg(F.sum(value_col).alias("v"))
    ranked = daily.withColumn(
        "rn", F.row_number().over(Window.orderBy("d"))
    ).select("rn", "v")
    lags = df.sparkSession.range(1, max_lag + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = ranked.alias("a")
    b = ranked.alias("b")
    pairs = lags.crossJoin(a).join(
        b, F.col("b.rn") == F.col("a.rn") + F.col("lag")
    )
    # Pearson spelled out: Spark 4 ANSI corr() THROWS on a constant
    # (zero-variance) lag window where the statistic is undefined;
    # the guard yields NULL — DuckDB corr's behavior.
    return pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(_safe_corr(F.col("a.v"), F.col("b.v")), round_dp).alias(
            "acf"
        ),
    )


def js_divergence(
    df: DataFrame,
    group_col: str,
    value_col: str,
    n_bins: int = 20,
    round_dp: int = 6,
) -> DataFrame:
    """Jensen–Shannon divergence (natural log, so max = ln 2) between
    each group's value histogram and the GLOBAL histogram over
    ``n_bins`` equal-width bins on the global [min, max] — the
    symmetric, always-finite drift score that complements
    :func:`psi-style <.analytics.psi_drift>` monitoring (PSI blows up
    on empty bins; JSD does not). Zero-count terms contribute 0 on
    their side, per the 0·ln 0 = 0 convention.

    Scale shape: global min/max is a 1-row broadcast (no driver
    collect), binning is a pure map, and the two histograms are hash
    aggregations whose results are |groups|·bins and bins rows — the
    grid join and the final per-group sum never touch the fact again.
    Degenerate min = max data would divide by zero upstream; callers
    bin constants themselves.
    """
    bounds = F.broadcast(
        df.agg(
            F.min(value_col).alias("_mn"), F.max(value_col).alias("_mx")
        )
    )
    width = (F.col("_mx") - F.col("_mn")) / float(n_bins)
    binned = (
        df.filter(F.col(value_col).isNotNull())
        .crossJoin(bounds)
        .select(
            F.col(group_col).alias("grp"),
            F.least(
                F.floor((F.col(value_col) - F.col("_mn")) / width),
                F.lit(n_bins - 1),
            )
            .cast("int")
            .alias("bin"),
        )
    )
    ghist = binned.groupBy("grp", "bin").agg(F.count(F.lit(1)).alias("c"))
    qhist = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("qc"))
    qtot = qhist.agg(F.sum("qc").alias("qn"))
    gtot = ghist.groupBy("grp").agg(F.sum("c").alias("gn"))
    grid = gtot.crossJoin(F.broadcast(qhist)).crossJoin(F.broadcast(qtot))
    joined = grid.join(F.broadcast(ghist), ["grp", "bin"], "left")
    p = F.coalesce(F.col("c"), F.lit(0)) / F.col("gn").cast("double")
    q = F.col("qc") / F.col("qn").cast("double")
    m = (p + q) / 2.0
    term = F.when(p > 0, 0.5 * p * F.log(p / m)).otherwise(
        F.lit(0.0)
    ) + F.when(q > 0, 0.5 * q * F.log(q / m)).otherwise(F.lit(0.0))
    return joined.groupBy("grp").agg(
        F.round(F.sum(term), round_dp).alias("jsd")
    )


def kaplan_meier(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    churn_days: int = 60,
    round_dp: int = 6,
    granularity_days: int = 1,
) -> DataFrame:
    """Kaplan–Meier survival curve over per-key activity lifetimes.

    Lifetime = days between a key's first and last event; a key whose
    last event falls more than ``churn_days`` before the global max
    timestamp is an observed churn (event = 1), otherwise it is
    right-censored (still alive at the snapshot). One row per distinct
    lifetime ``t``: at-risk count ``n_risk`` (keys with lifetime >=
    t), deaths ``d``, censored ``censored``, and the product-limit
    estimate S(t) = prod_{t_i <= t} (1 - d_i / n_i) — the
    retention-curve primitive that, unlike
    :func:`~.analytics.retention_triangle`'s fixed grid, handles
    censoring correctly.

    The product is computed as exp(cumsum(ln(1 - d/n))) guarded by a
    cumulative min: when some factor hits 0 (everyone at risk dies)
    both engines short-circuit S to exactly 0 rather than relying on
    ln(0) (null in Spark, -inf in DuckDB — the one place their math
    differs).

    Scale shape — the GRANULARITY CONTRACT (r13 verdict ask 5):
    lifetimes are ``datediff(last, first)``, which truncates to WHOLE
    DAYS for any input granularity — second- or nanosecond-resolution
    timestamps cannot inflate the curve table, whose row count is
    hard-bounded by the calendar span in days divided by
    ``granularity_days`` (≤ a few thousand for any realistic
    retention window; 100 years of daily grid is 36,525 rows). The
    per-key first/last is one hash aggregation over the fact; only
    the day-bucketed curve table rides the single-partition windows —
    bounded state, as in :func:`acf_lags`. For multi-decade spans
    where even the daily grid is unwanted, set ``granularity_days``
    (e.g. 7) to coarsen the buckets; estimates are then computed on
    the bucketed lifetimes.
    """
    from pyspark.sql import Window

    if granularity_days < 1:
        raise ValueError(
            f"granularity_days must be >= 1, got {granularity_days}"
        )
    g = int(granularity_days)
    per_key = df.groupBy(key_col).agg(
        F.min(ts_col).alias("_f"), F.max(ts_col).alias("_l")
    )
    mx = F.broadcast(df.agg(F.max(ts_col).alias("_mx")))
    life_days = F.datediff("_l", "_f")
    lives = per_key.crossJoin(mx).select(
        (
            F.floor(life_days / g).cast("long") * g
            if g > 1
            else life_days
        ).alias("t"),
        (
            F.col("_l")
            < F.col("_mx") - F.expr(f"INTERVAL {int(churn_days)} DAYS")
        )
        .cast("int")
        .alias("ev"),
    )
    per_t = lives.groupBy("t").agg(
        F.sum("ev").alias("d"),
        F.sum(F.lit(1) - F.col("ev")).alias("cens"),
    )
    w_all = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_prior = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_cum = Window.orderBy("t")
    stepped = per_t.withColumn(
        "n_risk",
        F.sum(F.col("d") + F.col("cens")).over(w_all)
        - F.coalesce(
            F.sum(F.col("d") + F.col("cens")).over(w_prior), F.lit(0)
        ),
    ).withColumn(
        "_f1", F.lit(1.0) - F.col("d") / F.col("n_risk").cast("double")
    )
    surv = F.when(F.min("_f1").over(w_cum) == 0, F.lit(0.0)).otherwise(
        F.exp(F.sum(F.log("_f1")).over(w_cum))
    )
    return stepped.select(
        F.col("t").cast("int").alias("t_days"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("d"),
        F.col("cens").cast("long").alias("censored"),
        F.round(surv, round_dp).alias("survival"),
    )


def mutual_information(
    df: DataFrame,
    x_col: str,
    y_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Mutual information between two categorical columns (natural
    log), with the marginal entropies and the sqrt-normalized NMI =
    MI / sqrt(H_x · H_y) — the feature-association score that, unlike
    :func:`chi2_independence`'s significance readout, is directly
    comparable across column pairs (the feature-selection primitive).
    One row: ``(n, mi, h_x, h_y, nmi)``. Rows with a NULL in either
    column are excluded up front (NULL never equi-joins back to its
    margin, so keeping them would silently drop joint mass).
    Degenerate single-level columns have H = 0 and NMI NULL (0/0).

    Scale shape: ONE hash aggregation collapses the fact to the
    |X|·|Y| joint table; margins, entropies and the MI sum all run on
    that tiny table (two more aggs + broadcast joins), the
    chi2_independence contract.
    """
    joint = (
        df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(F.col(x_col).alias("_x"), F.col(y_col).alias("_y"))
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    mx = joint.groupBy("_x").agg(F.sum("_c").alias("_cx"))
    my = joint.groupBy("_y").agg(F.sum("_c").alias("_cy"))
    tot = joint.agg(F.sum("_c").alias("_n"))
    n = F.col("_n").cast("double")
    mi_tab = (
        joint.join(F.broadcast(mx), "_x")
        .join(F.broadcast(my), "_y")
        .crossJoin(F.broadcast(tot))
    )
    mi = mi_tab.agg(
        F.first("_n").alias("n"),
        F.sum(
            (F.col("_c") / n)
            * F.log(F.col("_c") * n / (F.col("_cx") * F.col("_cy")))
        ).alias("_mi"),
    )
    hx = mx.crossJoin(F.broadcast(tot)).agg(
        (-F.sum((F.col("_cx") / n) * F.log(F.col("_cx") / n))).alias("_hx")
    )
    hy = my.crossJoin(F.broadcast(tot)).agg(
        (-F.sum((F.col("_cy") / n) * F.log(F.col("_cy") / n))).alias("_hy")
    )
    out = mi.crossJoin(F.broadcast(hx)).crossJoin(F.broadcast(hy))
    return out.select(
        F.col("n").cast("long").alias("n"),
        F.round("_mi", round_dp).alias("mi"),
        F.round("_hx", round_dp).alias("h_x"),
        F.round("_hy", round_dp).alias("h_y"),
        F.round(
            F.try_divide(
                F.col("_mi"), F.sqrt(F.col("_hx") * F.col("_hy"))
            ),
            round_dp,
        ).alias("nmi"),
    )


def mann_kendall(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Mann–Kendall trend test + Sen's slope over the daily-total
    series: one row ``(n_days, s, var_s, z, sen_slope)`` — the
    nonparametric "is there a monotone trend" answer that pairs with
    :func:`acf_lags` (seasonality) and the OLS ``regr_trend``
    (which a few whale days can fake; sign statistics can't).

        S = Σ_{i<j} sign(x_j − x_i)
        Var(S) = (n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)) / 18   (tie groups)
        z = (S−1)/√Var if S>0, (S+1)/√Var if S<0, 0 at S=0

    Sen's slope is the exact interpolated median of the pairwise
    slopes ``(x_j − x_i)/(j − i)`` (day index distance).

    Scale shape: the fact collapses to one row per day first; the
    O(days²) pair join runs on the aggregated series only (~2000 days
    → 2M pairs — bounded by the calendar at ANY fact scale, the
    :func:`acf_lags` contract). Tie groups come from a second tiny
    agg on the same series.
    """
    from pyspark.sql import Window

    daily = df.groupBy(
        F.to_date(F.col(ts_col)).alias("d")
    ).agg(F.sum(value_col).alias("v"))
    ranked = daily.withColumn(
        "rn", F.row_number().over(Window.orderBy("d"))
    ).select("rn", "v")
    # the series exits the rank window in ONE partition REGARDLESS of
    # the input layout (a global-order window is single-partition by
    # construction), so the repartition must be unconditional —
    # _ensure_parallelism keys off input FILE count and misfires on
    # multi-file sources. Measured 11 s single-task at 2400 days vs
    # ~3 s parallel.
    par = df.sparkSession.sparkContext.defaultParallelism
    a = ranked.repartition(par).alias("a")
    b = ranked.alias("b")
    pairs = a.join(b, F.col("b.rn") > F.col("a.rn"))
    slope = (F.col("b.v") - F.col("a.v")) / (
        F.col("b.rn") - F.col("a.rn")
    ).cast("double")
    # pairs is the one O(days²) frame; localCheckpoint so the sign
    # statistic and the median selection below don't re-run the join
    sl = pairs.select(
        F.signum(F.col("b.v") - F.col("a.v")).cast("long").alias("_sg"),
        slope.alias("_sl"),
    ).localCheckpoint(eager=False)
    # Sen's slope = exact interpolated median of the pair slopes. An
    # exact-percentile AGGREGATE funnels every slope value through one
    # merge buffer (measured: the dominant cost at 2.9M pairs); the
    # distributed zipWithIndex + select-two-middles form is the same
    # value from a range shuffle instead. Equal slopes interchange
    # under the non-unique order — the median VALUE is order-free.
    from gbif_filter_python_spark.operators.corpus import (
        assign_global_index,
    )

    idx = assign_global_index(
        sl.select("_sl"), ["_sl"], index_col="_gi"
    )
    cnt = idx.agg(F.count(F.lit(1)).alias("_m"))
    mid = (
        idx.crossJoin(F.broadcast(cnt))
        .filter(
            (F.col("_gi") == F.floor((F.col("_m") - 1) / 2))
            | (F.col("_gi") == F.ceil((F.col("_m") - 1) / 2))
        )
        .agg(F.avg("_sl").alias("_sen"))
    )
    ps = (
        sl.agg(F.sum("_sg").alias("s"))
        .crossJoin(F.broadcast(mid))
    )
    ties = (
        daily.groupBy("v")
        .agg(F.count(F.lit(1)).alias("_t"))
        .agg(
            F.count(F.lit(1)).alias("_groups"),
            F.sum("_t").alias("_n"),
            F.sum(
                F.col("_t").cast("double")
                * (F.col("_t") - 1)
                * (2 * F.col("_t") + 5)
            ).alias("_tie"),
        )
    )
    out = ps.crossJoin(F.broadcast(ties))
    nn = F.col("_n").cast("double")
    var_s = (nn * (nn - 1) * (2 * nn + 5) - F.col("_tie")) / 18.0
    z = (
        F.when(F.col("s") > 0, (F.col("s") - 1) / F.sqrt(var_s))
        .when(F.col("s") < 0, (F.col("s") + 1) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    return out.select(
        F.col("_n").cast("long").alias("n_days"),
        F.col("s"),
        F.round(var_s, 4).alias("var_s"),
        F.round(z, round_dp).alias("z"),
        F.round("_sen", round_dp).alias("sen_slope"),
    )


def anova_f(
    df: DataFrame,
    group_col: str,
    value_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """One-way ANOVA omnibus F-test: ONE row ``(k_groups, n,
    df_between, df_within, f_stat, eta_squared)`` — the "do ANY of
    these k groups differ" gate a pipeline runs before the pairwise
    :func:`welch_ttest` sweep (k² pairwise tests without an omnibus
    gate is the classic multiple-comparison trap that
    :func:`fdr-correction <.analytics>` then has to mop up).

        SS_between = Σ n_g m_g² − (Σ n_g m_g)²/N,
        SS_within  = Σ_g (n_g−1) v_g
        F = (SS_b / (k−1)) / (SS_w / (n−k)),  η² = SS_b/(SS_b+SS_w)

    ``SS_within`` deliberately comes from per-group ``var_samp`` (a
    numerically-stable two-pass form in both engines), NOT from the
    catastrophic ``Σx² − (Σx)²/n`` cancellation on raw-scale money;
    SS_between's difference form cancels only on GROUP MEANS (k
    terms — error ~1e-16·Σn·m², orders below the statistic at any
    money scale) and buys the single-scan plan below. Only the
    scale-free ratios (F, η²) are emitted, at ``round_dp`` — raw
    sums-of-squares at 1e14 magnitude sit below float64's 2dp
    resolution and would flip cross-engine (the
    revenue-concentration lesson). NULL values excluded; groups with
    n < 2 contribute 0 within-variance but still count toward k.

    Scale shape: the fact is scanned EXACTLY ONCE into one
    map-side-combined hash aggregation (plan-asserted); a single
    scalar reduction of the k-row summary closes it — no join-back,
    no second scan.
    """
    g = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(value_col).alias("m"),
            F.var_samp(value_col).alias("v"),
        )
    )
    agg = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nn"),
        (
            F.sum(F.col("n") * F.col("m") * F.col("m"))
            - F.sum(F.col("n") * F.col("m"))
            * F.sum(F.col("n") * F.col("m"))
            / F.sum("n")
        ).alias("ssb"),
        F.sum(F.coalesce((F.col("n") - 1) * F.col("v"), F.lit(0.0))).alias(
            "ssw"
        ),
    )
    # degenerate designs yield NULL statistics, not an ANSI
    # DIVIDE_BY_ZERO crash: k=1 (no between df), every-group-singleton
    # (no within df) or zero within-variance leave F undefined
    fstat = F.when(
        (F.col("k") > 1)
        & (F.col("nn") > F.col("k"))
        & (F.col("ssw") > 0),
        (F.col("ssb") / (F.col("k") - 1))
        / (F.col("ssw") / (F.col("nn") - F.col("k"))),
    )
    eta = F.when(
        F.col("ssb") + F.col("ssw") > 0,
        F.col("ssb") / (F.col("ssb") + F.col("ssw")),
    )
    return agg.select(
        F.col("k").cast("int").alias("k_groups"),
        F.col("nn").cast("long").alias("n"),
        (F.col("k") - 1).cast("int").alias("df_between"),
        (F.col("nn") - F.col("k")).cast("long").alias("df_within"),
        F.round(fstat, round_dp).alias("f_stat"),
        F.round(eta, round_dp).alias("eta_squared"),
    )


def levene_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Brown–Forsythe test of variance homogeneity (Levene's W with
    the MEDIAN center — the robust form scipy defaults to): one row
    ``(k_groups, n, df1, df2, w_stat)``. The precondition check for
    pooled-variance tests and for "is this source's quality-score
    spread wider than that one's" corpus questions, where heavy-tail
    money/score columns make the mean-centered original misfire.

    W is the one-way ANOVA F statistic (:func:`anova_f`) applied to
    ``z = |x − median_g|``; medians are exact interpolated
    percentiles (both engines' ``quantile_cont`` convention).

    Scale shape: the k exact medians come from one keyed
    :func:`_cdf_percentiles` pass (r15 — no single-buffer
    ``percentile()`` holding a whole group per aggregation cell; the
    k-row result broadcasts back onto the fact — the fact itself
    never shuffles), then the anova_f aggregation on the derived
    column. Two fact scans, zero fact shuffles.
    """
    meds = _cdf_percentiles(
        df.filter(F.col(value_col).isNotNull()).select(
            F.col(group_col).alias("grp"),
            F.col(value_col).alias("_mv"),
        ),
        "_mv",
        [0.5],
        ["med"],
        key_cols=("grp",),
    ).select("grp", "med")
    # eqNullSafe: anova_f treats a NULL group as a group of its own
    # (groupBy semantics); a plain equality join here would silently
    # drop those rows and the two tests would disagree on n
    z = df.filter(F.col(value_col).isNotNull()).join(
        F.broadcast(meds),
        F.col(group_col).eqNullSafe(F.col("grp")),
    )
    zdf = z.select(
        "grp", F.abs(F.col(value_col) - F.col("med")).alias("z")
    )
    out = anova_f(zdf, "grp", "z", round_dp=round_dp)
    return out.select(
        "k_groups",
        "n",
        F.col("df_between").alias("df1"),
        F.col("df_within").alias("df2"),
        F.col("f_stat").alias("w_stat"),
    )


def t_closeness(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    t: float = 0.2,
    mode: str = "summary",
    round_dp: int = 6,
) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007) —
    the third gate of the de-identification trio after
    :func:`k_anonymity` and :func:`l_diversity`: a class can be
    k-anonymous AND l-diverse yet still leak if its sensitive-value
    DISTRIBUTION differs sharply from the table's (skewness attack).
    Each equivalence class over ``quasi_cols`` must have total
    variation distance

        TVD(P_class, P_global) = ½ Σ_s |p_s − q_s|  ≤  t

    to the global distribution (TVD equals the earth-mover distance
    under the uniform ground metric — the paper's categorical form).
    NULL quasi-values group together (the k_anonymity contract);
    NULL sensitive values are excluded from both distributions.

    ``mode="summary"`` → ONE row ``(t, n_rows, n_classes,
    n_violating_classes, n_rows_at_risk, max_tvd, is_t_close)``.
    ``mode="classes"`` → per-class rows ``(quasi..., class_size,
    tvd)`` for remediation.

    Scale shape: one (quasi, sensitive) hash aggregation off the
    fact; the global sensitive distribution is a tiny reduction of
    THAT table and broadcasts onto the class×sensitive grid (built
    grid-complete: a class missing a sensitive value still pays
    |0 − q_s| — dropping absent cells is the textbook TVD bug, the
    chi2_independence lesson). Only aggregate rows ever shuffle.
    """
    if mode not in ("summary", "classes"):
        raise ValueError(f"mode must be summary|classes, got {mode!r}")
    if not 0 <= t <= 1:
        raise ValueError(f"t must be in [0, 1], got {t}")
    base = df.filter(F.col(sensitive_col).isNotNull())
    cells = base.groupBy(
        *quasi_cols, F.col(sensitive_col).alias("_s")
    ).agg(F.count(F.lit(1)).alias("_c"))
    cls = cells.groupBy(*quasi_cols).agg(F.sum("_c").alias("_cn"))
    glob = cells.groupBy("_s").agg(F.sum("_c").alias("_gc"))
    gtot = glob.agg(F.sum("_gc").alias("_gn"))
    # eqNullSafe on the quasi keys: a NULL quasi-value is a CLASS
    # (the k_anonymity contract) — a plain equi-join drops it from
    # the grid and silently charges the full |0 − q_s| penalty for
    # every sensitive value (reported tvd 0.5 for a class identical
    # to the global distribution).
    left = (
        cls.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(gtot))
        .alias("L")
    )
    join_cond = F.col("L._s") == F.col("R._s")
    for qc in quasi_cols:
        join_cond = join_cond & F.col(f"L.{qc}").eqNullSafe(
            F.col(f"R.{qc}")
        )
    grid = left.join(cells.alias("R"), join_cond, "left").select(
        *[F.col(f"L.{qc}").alias(qc) for qc in quasi_cols],
        F.col("L._cn").alias("_cn"),
        (
            F.coalesce(F.col("R._c"), F.lit(0)) / F.col("L._cn")
            - F.col("L._gc") / F.col("L._gn")
        ).alias("_d"),
    )
    per_class = grid.groupBy(*quasi_cols).agg(
        F.first("_cn").alias("class_size"),
        F.round(F.sum(F.abs(F.col("_d"))) / 2.0, round_dp).alias("tvd"),
    )
    if mode == "classes":
        return per_class
    viol = F.col("tvd") > t
    return per_class.agg(
        F.lit(float(t)).alias("t"),
        F.sum("class_size").alias("n_rows"),
        F.count(F.lit(1)).alias("n_classes"),
        F.sum(viol.cast("long")).alias("n_violating_classes"),
        F.sum(F.when(viol, F.col("class_size")).otherwise(0)).alias(
            "n_rows_at_risk"
        ),
        F.max("tvd").alias("max_tvd"),
        (F.sum(viol.cast("long")) == 0).alias("is_t_close"),
    )


def forecast_eval(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    season: int = 7,
    round_dp: int = 6,
) -> DataFrame:
    """Forecast-baseline scorecard over the daily-total series: one
    row per method ``(method, n, mae, rmse, smape, mase)`` for the
    three textbook baselines every real model must beat before it
    ships (Hyndman & Koehler 2006, the M-competition protocol):

    * ``naive`` — ŷ_t = y_{t−1}
    * ``seasonal_naive`` — ŷ_t = y_{t−season}
    * ``moving_avg`` — ŷ_t = mean(y_{t−season} .. y_{t−1})

    All methods score over the SAME window (day index > ``season``,
    where every forecast is defined) so the metrics compare.
    ``smape`` is the symmetric form ``mean(2|y−ŷ|/(|y|+|ŷ|))``;
    ``mase`` is MAE relative to the in-window naive MAE (naive's own
    mase is exactly 1 — the built-in sanity row). MAE/RMSE round at
    2dp (raw-scale money); the scale-free smape/mase at ``round_dp``.

    Scale shape: the fact collapses to one row per day in ONE hash
    aggregation; lags, the 3-way stack and the per-method reduction
    all run on the |days|-row series (bounded by the calendar at any
    fact scale — the acf_lags contract). The naive-MAE scalar
    broadcasts back for the MASE ratio.
    """
    from pyspark.sql import Window

    if season < 1:
        raise ValueError(f"season must be >= 1, got {season}")
    daily = df.groupBy(
        F.to_date(F.col(ts_col)).alias("d")
    ).agg(F.sum(value_col).alias("v"))
    w = Window.orderBy("d")
    ranked = daily.select(
        "v",
        F.row_number().over(w).alias("rn"),
        F.lag("v", 1).over(w).alias("_naive"),
        F.lag("v", season).over(w).alias("_snaive"),
        F.avg("v")
        .over(w.rowsBetween(-season, -1))
        .alias("_mavg"),
    ).filter(F.col("rn") > season)
    stacked = ranked.select(
        "v",
        F.expr(
            "stack(3, 'naive', _naive, 'seasonal_naive', _snaive, "
            "'moving_avg', _mavg) AS (method, fcst)"
        ),
    )
    err = F.abs(F.col("v") - F.col("fcst"))
    denom = F.abs(F.col("v")) + F.abs(F.col("fcst"))
    # both-zero days: the sMAPE term is 0 by convention (and ANSI
    # mode would otherwise crash on the exact-zero denominator)
    sterm = F.when(denom > 0, 2.0 * err / denom).otherwise(0.0)
    per = stacked.groupBy("method").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(err).alias("_mae"),
        F.sqrt(F.avg(err * err)).alias("_rmse"),
        F.avg(sterm).alias("_smape"),
    )
    nmae = per.filter(F.col("method") == "naive").select(
        F.col("_mae").alias("_nmae")
    )
    return per.crossJoin(F.broadcast(nmae)).select(
        "method",
        "n",
        F.round("_mae", 2).alias("mae"),
        F.round("_rmse", 2).alias("rmse"),
        F.round("_smape", round_dp).alias("smape"),
        F.round(F.col("_mae") / F.col("_nmae"), round_dp).alias("mase"),
    )


def referential_integrity(
    checks: list[tuple[str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """Foreign-key orphan audit — the data-quality gate a pipeline
    runs after every ingest/CDC merge and before any join-based
    metric is trusted: for each ``(constraint_name, fact, fk_col,
    dim, pk_col)`` check, one row ``(constraint, n_rows, n_null_fk,
    n_orphan_rows, n_orphan_keys, orphan_rate)``. A NULL FK is NOT
    an orphan (SQL's MATCH SIMPLE convention — it's reported in its
    own column so silently-null keys still surface); an orphan is a
    non-null FK with no matching dimension key.

    Scale shape per check: the dimension reduces to DISTINCT keys
    (map-side) and — being a dimension — broadcasts; the fact scans
    once through a broadcast left join into a scalar aggregation.
    No fact shuffle anywhere. The per-check results union into one
    k-row frame.
    """
    if not checks:
        raise ValueError("checks must be non-empty")
    outs = []
    for name, fact, fk, dim, pk in checks:
        keys = F.broadcast(
            dim.select(F.col(pk).alias("_pk")).distinct()
        )
        fkc = F.col(fk)
        joined = fact.select(fkc.alias("_fk")).join(
            keys, F.col("_fk") == F.col("_pk"), "left"
        )
        orphan = F.col("_fk").isNotNull() & F.col("_pk").isNull()
        outs.append(
            joined.agg(
                F.lit(name).alias("constraint_name"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("_fk").isNull().cast("long")).alias(
                    "n_null_fk"
                ),
                F.sum(orphan.cast("long")).alias("n_orphan_rows"),
                F.count_distinct(
                    F.when(orphan, F.col("_fk"))
                ).alias("n_orphan_keys"),
                F.round(
                    F.sum(orphan.cast("long"))
                    / F.count(F.lit(1)).cast("double"),
                    6,
                ).alias("orphan_rate"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def ccf_lags(
    df: DataFrame,
    ts_col: str,
    series_col: str,
    series_a: str,
    series_b: str,
    value_col: str | None = None,
    max_lag: int = 7,
    round_dp: int = 6,
) -> DataFrame:
    """Cross-correlation function between two daily series at lags
    −``max_lag``..+``max_lag``: one row ``(lag, n_pairs, ccf)`` where
    ``ccf`` is the Pearson correlation of ``(a_t, b_{t+lag})`` —
    positive lags mean *a leads b*. The lead/lag probe behind "do
    clicks predict purchases N days out" and "does crawler error
    rate foreshadow corpus quality drops" — :func:`acf_lags` is the
    special case a = b, lag > 0.

    Each series is the daily count of rows with ``series_col`` equal
    to ``series_a`` / ``series_b`` (or the daily SUM of ``value_col``
    when given). Days missing from a series contribute no pair (the
    aligned-join convention, same as acf_lags); lag 0 is included as
    the contemporaneous baseline.

    Scale shape: the fact collapses to ≤ 2·|days| rows in ONE hash
    aggregation (a 2-value filter first — predicate-pushdown
    friendly); the lag join, like acf_lags, runs on the
    calendar-bounded series, so the window/join state is bounded at
    any fact scale.
    """
    from pyspark.sql import Window

    if max_lag < 0:
        raise ValueError(f"max_lag must be >= 0, got {max_lag}")
    val = (
        F.count(F.lit(1)).cast("double")
        if value_col is None
        else F.sum(value_col)
    )
    daily = (
        df.filter(F.col(series_col).isin([series_a, series_b]))
        .groupBy(
            F.to_date(F.col(ts_col)).alias("d"),
            F.col(series_col).alias("s"),
        )
        .agg(val.alias("v"))
    )
    # one shared day index so a day absent from BOTH series doesn't
    # shift alignment between them
    days = daily.select("d").distinct()
    idx = days.select(
        "d", F.row_number().over(Window.orderBy("d")).alias("rn")
    )
    sa = (
        daily.filter(F.col("s") == series_a)
        .join(idx, "d")
        .select("rn", F.col("v").alias("va"))
    )
    sb = (
        daily.filter(F.col("s") == series_b)
        .join(idx, "d")
        .select("rn", F.col("v").alias("vb"))
    )
    lags = df.sparkSession.range(-max_lag, max_lag + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    pairs = lags.crossJoin(sa).join(
        sb.withColumnRenamed("rn", "rnb"),
        F.col("rnb") == F.col("rn") + F.col("lag"),
    )
    return (
        pairs.groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            # _safe_corr: ANSI corr() throws on a constant window
            F.round(_safe_corr(F.col("va"), F.col("vb")), round_dp).alias(
                "ccf"
            ),
        )
        .select("lag", "n_pairs", "ccf")
    )


def seasonal_decompose(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    period: int = 7,
    round_dp: int = 2,
) -> DataFrame:
    """Classical additive seasonal decomposition of the daily-total
    series (the moving-average method, Hyndman & Athanasopoulos
    FPP3 §3.4): per day ``(d, value, trend, seasonal, residual)``
    with

        trend_t    = centered ``period``-term moving average
                     (defined only where the full window exists)
        seasonal_p = mean of (value − trend) per period position,
                     centered to sum to zero across positions
        residual   = value − trend − seasonal

    — the decomposition behind "is Monday low traffic or a real
    drop": :func:`acf_lags` detects the seasonality, this one
    REMOVES it so :func:`cusum_changepoints`/:func:`seasonal
    outliers <.analytics.seasonal_outliers>` run on a stationary
    residual. Period positions are calendar day-of-week for
    period=7 (Sunday=1 — pinned convention), else day-index mod
    period. ``period`` must be odd so the centered window is exact
    (the classical formulation; even periods need the 2×MA variant,
    deliberately out of scope).

    Scale shape: one hash aggregation collapses the fact to the
    |days|-row series; the centered window, the |period|-row seasonal
    means (broadcast back), and the final select all run on that
    calendar-bounded series — the acf_lags contract.
    """
    from pyspark.sql import Window

    if period < 3 or period % 2 == 0:
        raise ValueError(f"period must be odd and >= 3, got {period}")
    half = period // 2
    daily = df.groupBy(
        F.to_date(F.col(ts_col)).alias("d")
    ).agg(F.sum(value_col).alias("v"))
    w = Window.orderBy("d")
    ww = w.rowsBetween(-half, half)
    pos = (
        F.dayofweek("d")
        if period == 7
        else (F.row_number().over(w) - 1) % period + 1
    )
    base = daily.select(
        "d",
        "v",
        pos.alias("_pos"),
        F.when(
            F.count(F.lit(1)).over(ww) == period, F.avg("v").over(ww)
        ).alias("_trend"),
    )
    smeans = base.groupBy("_pos").agg(
        F.avg(F.col("v") - F.col("_trend")).alias("_sm")
    )
    scenter = smeans.agg(F.avg("_sm").alias("_sc"))
    seas = smeans.crossJoin(F.broadcast(scenter)).select(
        "_pos", (F.col("_sm") - F.col("_sc")).alias("_seas")
    )
    out = base.join(F.broadcast(seas), "_pos")
    return out.select(
        "d",
        F.round("v", round_dp).alias("value"),
        F.round("_trend", round_dp).alias("trend"),
        F.round("_seas", round_dp).alias("seasonal"),
        F.round(
            F.col("v") - F.col("_trend") - F.col("_seas"), round_dp
        ).alias("residual"),
    )


def srm_check(
    df: DataFrame,
    group_col: str,
    expected: dict[str, float],
    round_dp: int = 6,
) -> DataFrame:
    """Sample-ratio-mismatch guardrail (the first thing any A/B
    readout must pass — Fabijan et al. 2019): observed assignment
    counts vs the design ratios, per group ``(grp, n_obs,
    expected_n, contrib, chi2, dof, n)`` where ``contrib`` is the
    group's ``(O−E)²/E`` term and ``chi2``/``dof``/``n`` repeat the
    table-level statistic (k−1 dof) on every row. A chi2 far above
    the dof (the usual p<0.001 line ≈ 2–3× dof at small k) means the
    bucketing is broken and every downstream lift number is invalid.
    Groups observed but not in ``expected`` raise — an unknown arm is
    itself an SRM. Expected weights are normalized internally.

    Scale shape: ONE hash aggregation to k rows; the k-row expected
    dimension is a broadcast literal frame; everything after is on
    aggregates.
    """
    from pyspark.sql import Window

    if not expected:
        raise ValueError("expected ratios must be non-empty")
    total_w = float(sum(expected.values()))
    if total_w <= 0:
        raise ValueError("expected weights must sum > 0")
    spark = df.sparkSession
    dim = F.broadcast(
        spark.createDataFrame(
            [(k, v / total_w) for k, v in expected.items()],
            "grp string, _w double",
        )
    )
    obs = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    j = obs.join(dim, "grp", "full")
    unknown = j.filter(F.col("_w").isNull()).select("grp").first()
    if unknown is not None:
        raise ValueError(
            f"observed group {unknown['grp']!r} not in expected — "
            "an unknown arm is itself a sample-ratio mismatch"
        )
    tot = j.agg(F.sum("n_obs").alias("_n"))
    cells = j.crossJoin(F.broadcast(tot)).select(
        "grp",
        F.coalesce("n_obs", F.lit(0)).alias("n_obs"),
        (F.col("_w") * F.col("_n")).alias("_e"),
        "_n",
    )
    d = F.col("n_obs") - F.col("_e")
    w = Window.partitionBy()
    return cells.select(
        "grp",
        "n_obs",
        F.round("_e", round_dp).alias("expected_n"),
        F.round(d * d / F.col("_e"), round_dp).alias("contrib"),
        F.round(F.sum(d * d / F.col("_e")).over(w), round_dp).alias(
            "chi2"
        ),
        (F.count(F.lit(1)).over(w) - 1).cast("int").alias("dof"),
        F.col("_n").cast("long").alias("n"),
    )


def kendall_tau(
    df: DataFrame,
    x_col: str,
    y_col: str,
    max_rows: int = 100_000,
    round_dp: int = 6,
) -> DataFrame:
    """Kendall's τ-b rank correlation with tie correction (the
    third rank statistic beside :func:`spearman <.analytics>` and
    :func:`mann_kendall` — τ's pairwise form is robust where
    Spearman's rank-Pearson can wash out under heavy ties): one row
    ``(n, concordant, discordant, tau_b)`` with

        τ_b = (C − D) / sqrt((n0 − n1)(n0 − n2)),
        n0 = n(n−1)/2,  n1/n2 = Σ_t t(t−1)/2 over x/y tie groups

    This is an AGGREGATE-level statistic: the O(n²) pair join is the
    exact formulation, so the operator guards with ``max_rows``
    (validated scalar, the exact_cosine_pairs contract) and is meant
    for the k-row outputs of upstream aggregations — nation rollups,
    daily series, per-source summaries — not raw facts (at fact
    scale, sample first or use mann_kendall's time specialization).

    Scale shape: one count guard, one row_number window, one
    self-join on the BOUNDED input, two tiny tie aggregations.
    """
    from pyspark.sql import Window

    base = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
    n = base.count()
    if n > max_rows:
        raise ValueError(
            f"kendall_tau input has {n} rows > max_rows={max_rows}; "
            "aggregate or sample first — the pair join is O(n^2)"
        )
    ranked = base.withColumn(
        "rn", F.row_number().over(Window.orderBy("x", "y"))
    )
    a, b = ranked.alias("a"), ranked.alias("b")
    prod = F.signum(F.col("b.x") - F.col("a.x")) * F.signum(
        F.col("b.y") - F.col("a.y")
    )
    pairs = a.join(b, F.col("b.rn") > F.col("a.rn")).agg(
        F.sum((prod > 0).cast("long")).alias("concordant"),
        F.sum((prod < 0).cast("long")).alias("discordant"),
    )

    def tie_sum(col: str):
        return (
            base.groupBy(col)
            .agg(F.count(F.lit(1)).alias("_t"))
            .agg(
                F.sum(
                    F.col("_t").cast("double") * (F.col("_t") - 1) / 2.0
                ).alias("_ts")
            )
        )

    tx = F.broadcast(tie_sum("x").withColumnRenamed("_ts", "_n1"))
    ty = F.broadcast(tie_sum("y").withColumnRenamed("_ts", "_n2"))
    n0 = F.lit(float(n) * (n - 1) / 2.0)
    return (
        pairs.crossJoin(tx)
        .crossJoin(ty)
        .select(
            F.lit(n).cast("long").alias("n"),
            "concordant",
            "discordant",
            F.round(
                # constant x or y: every pair ties on that side, the
                # denominator is exactly 0 and tau_b is undefined —
                # NULL, not an ANSI DIVIDE_BY_ZERO crash
                F.when(
                    (n0 - F.col("_n1")) * (n0 - F.col("_n2")) > 0,
                    (F.col("concordant") - F.col("discordant"))
                    / F.sqrt(
                        (n0 - F.col("_n1")) * (n0 - F.col("_n2"))
                    ),
                ),
                round_dp,
            ).alias("tau_b"),
        )
    )


def ljung_box(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    max_lag: int = 10,
    round_dp: int = 6,
) -> DataFrame:
    """Ljung–Box portmanteau white-noise test on the daily-total
    series (Ljung & Box 1978 — the residual diagnostic run AFTER
    :func:`seasonal_decompose`/a forecast fit: "is anything left?"):
    one row per lag k ≤ ``max_lag`` with the standard autocovariance
    ACF estimate

        r_k = Σ_{t≤n−k} (x_t−x̄)(x_{t+k}−x̄) / Σ (x_t−x̄)²

    (denominator over ALL n — the textbook biased estimator, NOT the
    pairwise Pearson of :func:`acf_lags`; the two disagree at short
    series and LB's null distribution assumes this one) and the
    cumulative statistic ``q = n(n+2) Σ_{j≤k} r_j²/(n−j)``, χ²_k
    under the white-noise null (reject at q ≫ k — the usual p<0.05
    line ≈ k + 2√(2k)). Columns: ``(lag, r, q, dof)``.

    Scale shape: the fact collapses to the |days|-row series in ONE
    hash aggregation; the mean/denominator reduce THAT series, the
    per-lag products join on the bounded series, and the cumulative
    q is a window over ≤ max_lag aggregate rows — the acf_lags
    contract end to end.
    """
    from pyspark.sql import Window

    if max_lag < 1:
        raise ValueError(f"max_lag must be >= 1, got {max_lag}")
    daily = df.groupBy(
        F.to_date(F.col(ts_col)).alias("d")
    ).agg(F.sum(value_col).alias("v"))
    ranked = daily.withColumn(
        "rn", F.row_number().over(Window.orderBy("d"))
    ).select("rn", "v")
    stats = ranked.agg(
        F.count(F.lit(1)).alias("_n"),
        F.avg("v").alias("_xbar"),
    )
    centered = ranked.crossJoin(F.broadcast(stats)).select(
        "rn", (F.col("v") - F.col("_xbar")).alias("c"), "_n"
    )
    denom = centered.agg(
        F.sum(F.col("c") * F.col("c")).alias("_ss"),
        F.first("_n").alias("_n"),
    )
    lags = df.sparkSession.range(1, max_lag + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a, b = centered.alias("a"), centered.alias("b")
    num = (
        lags.crossJoin(a)
        .join(
            b,
            F.col("b.rn") == F.col("a.rn") + F.col("lag"),
        )
        .groupBy("lag")
        .agg(F.sum(F.col("a.c") * F.col("b.c")).alias("_num"))
    )
    r = num.crossJoin(F.broadcast(denom)).select(
        "lag",
        (F.col("_num") / F.col("_ss")).alias("_r"),
        F.col("_n").cast("double").alias("_nd"),
    )
    w = Window.orderBy("lag").rowsBetween(
        Window.unboundedPreceding, 0
    )
    q = (
        F.col("_nd")
        * (F.col("_nd") + 2)
        * F.sum(
            F.col("_r") * F.col("_r") / (F.col("_nd") - F.col("lag"))
        ).over(w)
    )
    return r.select(
        "lag",
        F.round("_r", round_dp).alias("r"),
        F.round(q, round_dp).alias("q"),
        F.col("lag").alias("dof"),
    )


def weighted_quantiles(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    qs: tuple = (0.25, 0.5, 0.75, 0.9),
    round_dp: int = 6,
) -> DataFrame:
    """Exact weighted quantiles at fact scale: one row ``(q, value)``
    per requested quantile, where ``value`` is the smallest v whose
    cumulative weight reaches ``q·W`` (the lower weighted-quantile
    convention — deterministic, no interpolation ambiguity across
    engines). The primitive behind quantity-weighted price bands,
    token-weighted doc-length cuts and importance-weighted score
    thresholds, none of which plain ``percentile`` answers.

    Scale shape: the cumulative weight is a running sum
    (:func:`~.prefix.prefix_sums`), never a single-partition window,
    and its total is the helper's, not a second pass. Selection is a
    broadcast join of the k-row quantile frame and one min() per q.
    Rows-frame vs the SQL twin's RANGE-frame peer handling differ
    per-row on ties but provably agree on the min-v selection (the
    last peer of any value carries the full range-frame sum).
    Zero/negative weights and NULLs are excluded; an all-excluded
    input yields an empty frame.

    Determinism caveat: with INTEGRAL weights (counts, quantities,
    token counts — the common case) every cumulative sum is exact in
    float64 and the q·W threshold comparison is bit-deterministic
    cross-engine. Fractional weights reintroduce summation-order
    noise at the boundary row; if that matters, scale to integers
    first.
    """
    if not qs:
        raise ValueError("qs must be non-empty")
    if any(not 0 < q <= 1 for q in qs):
        raise ValueError(f"quantiles must be in (0, 1], got {qs}")
    base = df.select(
        F.col(value_col).cast("double").alias("v"),
        F.col(weight_col).cast("double").alias("w"),
    ).filter(
        F.col("v").isNotNull() & F.col("w").isNotNull() & (F.col("w") > 0)
    )
    cum = prefix_sums(base, ["v"], ["w"])
    # A pandas frame goes through Arrow to a local relation; a list of
    # tuples would run a Python-worker job when the join reads it.
    qf = F.broadcast(
        df.sparkSession.createDataFrame(
            pd.DataFrame({"q": [float(q) for q in qs]}), "q double"
        )
    )
    return (
        cum.join(qf, F.col("_cumw") >= F.col("q") * F.col("_totw"))
        .groupBy("q")
        .agg(F.round(F.min("v"), round_dp).alias("value"))
    )


def discrete_laplace_hex_thresholds(
    eps: float, k_max: int = 31
) -> list[str]:
    """CDF thresholds for the truncated discrete Laplace (two-sided
    geometric) distribution P(k) ∝ exp(-eps·|k|), k in [-k_max,
    k_max], as 8-hex-char strings: threshold[i] = ceil(CDF(i - k_max)
    · 2^32) in lowercase hex, so an 8-hex-char uniform ``u_hex``
    (e.g. an md5 substring) draws k = i - k_max for the FIRST i with
    ``u_hex < threshold[i]`` (else k_max). Fixed-width lowercase hex
    sorts numerically, so the comparison is a pure string op — the
    same engine-portable inverse-CDF trick as resample.POISSON1_HEX,
    and both engines consume IDENTICAL constants, so the draw is
    bit-exact by construction (no transcendental functions at query
    time). Truncation mass beyond ±k_max is ~2·exp(-eps·(k_max+1)),
    negligible at the defaults (eps 0.5, k_max 31: ~2e-7) and
    documented where it matters.
    """
    import math as m
    from fractions import Fraction

    if eps <= 0:
        raise ValueError(f"eps must be positive, got {eps}")
    t = m.exp(-eps)
    norm = (1.0 - t) / (1.0 + t)
    out: list[str] = []
    c = 0.0
    for k in range(-k_max, k_max):
        c += norm * (t ** abs(k))
        ti = m.ceil(Fraction(c) * (1 << 32))
        # 'g' sorts after every hex char: an overflowed threshold
        # (c >= 1 within fp) must compare greater than all uniforms
        out.append(format(ti, "08x") if ti <= 0xFFFFFFFF else "g")
    return out


def dp_counts(
    df: DataFrame,
    group_cols: list[str],
    eps: float = 0.5,
    seed: str = "dp",
    k_max: int = 31,
) -> DataFrame:
    """Differentially-private histogram: per-group counts with
    truncated discrete-Laplace noise (the geometric mechanism,
    Ghosh-Roughgarden-Sundararajan 2009 — the integer-valued optimal
    mechanism for counting queries), clamped at zero. The fourth gate
    of the governance block after k_anonymity / l_diversity /
    t_closeness: those audit a release, this MAKES a count release.

    The noise draw is hash-deterministic (md5 of the group key and
    ``seed``, first 8 hex chars against the
    :func:`discrete_laplace_hex_thresholds` table) — seedable,
    reproducible, and bit-exact across engines, the same
    no-RNG-state discipline as the Poisson bootstrap. Determinism is
    also what the privacy accountant wants: re-running a release must
    not spend fresh budget by emitting different noise. Truncating at
    ±k_max keeps the noise integral and bounded; the lost tail mass
    (~2·exp(-eps·(k_max+1))) is the standard bounded-mechanism
    trade-off and is negligible at the defaults.

    Scale shape: one hash aggregate over the fact (map-side partial
    combine), then pure-Column noise on the |groups|-row result —
    nothing else touches the data. NULL group values participate via
    concat_ws's skip-NULL convention (shared with the SQL twin);
    clamp-at-zero is DP-safe post-processing.
    """
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    thresholds = discrete_laplace_hex_thresholds(eps, k_max)
    counts = df.groupBy(*[F.col(c) for c in group_cols]).agg(
        F.count(F.lit(1)).alias("_n")
    )
    u_hex = F.substring(
        F.md5(
            F.concat_ws(
                "|", *[F.col(c).cast("string") for c in group_cols],
                F.lit(seed),
            )
        ),
        1,
        8,
    )
    noise = F.lit(k_max)
    for i in range(len(thresholds) - 1, -1, -1):
        noise = F.when(u_hex < thresholds[i], F.lit(i - k_max)).otherwise(
            noise
        )
    return counts.select(
        *group_cols,
        F.greatest(F.lit(0), F.col("_n") + noise)
        .cast("long")
        .alias("noisy_count"),
    )


def grouped_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    qs: tuple = (0.25, 0.5, 0.75),
    round_dp: int = 6,
) -> DataFrame:
    """Exact per-group lower quantiles at fact scale: one row
    ``(grp, q, value)`` per (group, quantile), where ``value`` is the
    k-th smallest group value with ``k = ceil(q · n_group)`` — the
    deterministic no-interpolation convention (weighted_quantiles'
    grouped sibling, and the primitive behind every "p95 latency per
    tenant / token-length p50 per language" report).

    Why not ``percentile().over(groupBy)``: Spark's exact percentile
    funnels EVERY group value through one aggregation buffer per
    group — a mega-group at 100 TB is a single-task OOM. Here the
    per-group rank and group size are a running count and its total
    (:func:`~.prefix.prefix_sums`), and selection is a broadcast join
    of the k-row quantile frame and one ``min`` per cell. The k
    threshold is exact integer arithmetic (``Fraction(str(q))`` —
    float ``ceil(q*n)`` is boundary-fragile cross-engine; the float
    division by the denominator is exact where floor() consumes it,
    same argument as conformal_intervals). A NULL group is a group.
    """
    from fractions import Fraction

    if not qs:
        raise ValueError("qs must be non-empty")
    if any(not 0 < q <= 1 for q in qs):
        raise ValueError(f"quantiles must be in (0, 1], got {qs}")
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).cast("double").alias("v"),
        F.lit(1).alias("_one"),
    ).filter(F.col("v").isNotNull())
    ranked = prefix_sums(base, ["v"], ["_one"], ["grp"])

    fracs = [(float(q), *Fraction(str(q)).as_integer_ratio()) for q in qs]
    # Through Arrow, as in weighted_quantiles: no Python worker.
    qf = F.broadcast(
        df.sparkSession.createDataFrame(
            pd.DataFrame(fracs, columns=["q", "_p", "_d"]),
            "q double, _p long, _d long",
        )
    )
    # k = ceil(n * p / d) = floor((n*p + d - 1) / d), capped at n >= 1
    k = F.greatest(
        F.floor(
            (F.col("_tot_one") * F.col("_p") + F.col("_d") - 1)
            / F.col("_d").cast("double")
        ).cast("long"),
        F.lit(1),
    )
    return (
        ranked.crossJoin(qf)
        .filter(F.col("_cum_one") >= k)
        .groupBy("grp", "q")
        .agg(F.round(F.min("v"), round_dp).alias("value"))
    )


def fd_violations(
    df: DataFrame,
    lhs_col: str,
    rhs_col: str,
    top_n: int = 5,
) -> DataFrame:
    """Functional-dependency profile for ``lhs → rhs`` (the data-
    quality check behind normalization and join-safety claims): does
    each LHS key determine exactly one RHS value, and if not, how bad
    is the damage? A violated FD that a downstream join or dedup
    assumed (e.g. url → canonical_doc) silently duplicates or drops
    rows at 100 TB, so the profile belongs in the ingest datasheet.

    Output: ONE summary row ``(n_rows, n_keys, n_violating_keys,
    rows_in_violating, violation_row_share, g3_error, worst_keys)``.
    ``g3_error`` is the classic minimum-fraction-of-rows-to-delete
    repair metric (Kivinen & Mannila 1995): Σ_keys (rows_in_key −
    max_single_rhs_count) / n_rows. ``worst_keys`` lists the
    ``top_n`` LHS keys by distinct-RHS count (cast to string,
    deterministic ties by key) — the actionable names, not just a
    rate. NULL LHS rows are excluded; NULL RHS counts as a value
    (two keys mapping to {x, NULL} DO violate).

    Scale shape: one (lhs, rhs) hash aggregate (≤ distinct pairs),
    one lhs re-aggregate on top of it, then a single-row rollup +
    a bounded top-n sort (TakeOrderedAndProject) — the fact is
    scanned once and nothing joins back to it.
    """
    # string key governs the worst_keys render and its tie ordering,
    # so ONE collation (string) must drive selection and rendering
    # alike. For types where the cast is injective (everything except
    # float/double, whose -0.0/0.0 collapse natively but render
    # apart) the fact-sized aggregates group on the NATIVE key — same
    # groups, narrower hash key, no per-row cast — and the string
    # form appears only on the bounded keys table. Float/double keep
    # the string key up front so grouping semantics never change.
    from pyspark.sql.types import DoubleType, FloatType

    lhs_native = not isinstance(
        df.schema[lhs_col].dataType, (FloatType, DoubleType)
    )
    lhs_key = (
        F.col(lhs_col) if lhs_native else F.col(lhs_col).cast("string")
    )
    pairs = (
        df.select(lhs_key.alias("_l"), F.col(rhs_col).alias("_r"))
        .filter(F.col("_l").isNotNull())
        .groupBy("_l", "_r")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    keys = pairs.groupBy("_l").agg(
        F.count(F.lit(1)).alias("_nrhs"),
        F.sum("_c").alias("_rows"),
        F.max("_c").alias("_maxc"),
    )
    if lhs_native:
        keys = keys.withColumn("_l", F.col("_l").cast("string"))
    worst = (
        keys.filter(F.col("_nrhs") > 1)
        .orderBy(F.desc("_nrhs"), F.desc("_l"))
        .limit(int(top_n))
        .agg(
            # sort_array(desc) over struct(n_rhs, key) replays the
            # SAME (n_rhs DESC, key DESC) order the limit used, so
            # selection and rendering can't disagree
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("_nrhs").alias("n_rhs"),
                        F.col("_l").alias("key"),
                    )
                ),
                asc=False,
            ).alias("worst_keys")
        )
    )
    summary = keys.agg(
        F.sum("_rows").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum((F.col("_nrhs") > 1).cast("long")).alias("n_violating_keys"),
        F.sum(F.when(F.col("_nrhs") > 1, F.col("_rows")).otherwise(0))
        .cast("long")
        .alias("rows_in_violating"),
        F.sum(F.col("_rows") - F.col("_maxc")).alias("_del"),
    )
    return summary.crossJoin(F.broadcast(worst)).select(
        "n_rows",
        "n_keys",
        "n_violating_keys",
        "rows_in_violating",
        F.round(
            F.when(
                F.col("n_rows") > 0,
                F.col("rows_in_violating") / F.col("n_rows"),
            ).otherwise(F.lit(None).cast("double")),
            6,
        ).alias("violation_row_share"),
        F.round(
            F.when(
                F.col("n_rows") > 0, F.col("_del") / F.col("n_rows")
            ).otherwise(F.lit(None).cast("double")),
            6,
        ).alias("g3_error"),
        # engine-neutral rendering (DuckDB string_agg twin): the JSON
        # writers differ in struct field quoting/order, a plain
        # "key:count" list does not
        F.concat_ws(
            ",",
            F.transform(
                F.col("worst_keys"),
                lambda s: F.concat_ws(
                    ":", s["key"], s["n_rhs"].cast("string")
                ),
            ),
        ).alias("worst_keys"),
    )


def capture_recapture(
    df: DataFrame,
    id_col: str,
    survey_col: str,
    round_dp: int = 4,
) -> DataFrame:
    """Chapman capture–recapture population estimate (Chapman 1951;
    the ecology mark-recapture estimator, repurposed as the "how many
    distinct entities does this firehose REALLY have" check): split
    the observation stream into two surveys, count identities seen in
    each and in both, and estimate the total population

        N̂ = (n1+1)·(n2+1)/(m+1) − 1

    — the bias-corrected Lincoln–Petersen form, finite even at zero
    overlap. Because the input is bounded here, the op also reports
    the TRUE distinct count and the estimator's relative error: the
    calibration readout that tells you whether hash-split surveys are
    independent enough to trust the estimate where you CAN'T count
    (cross-silo joins, privacy-limited logs).

    ``survey_col`` assigns each observation row to survey 0 or 1
    (deterministic parity/hash — the caller's choice). Identities
    whose rows all carry NULL survey are excluded from both surveys
    but still counted in ``true_distinct``.

    Output: ONE row ``(n_survey1, n_survey2, overlap, chapman_est,
    true_distinct, rel_err)``.

    Scale shape: ONE distinct-key hash agg (per-identity max flags —
    map-side combine collapses the fact before the shuffle, the
    existence-semijoin shape), then a single re-agg of the flag
    table. No window, no join, nothing pairwise.
    """
    per = (
        df.select(
            F.col(id_col).alias("_id"),
            F.col(survey_col).cast("int").alias("_s"),
        )
        .filter(F.col("_id").isNotNull())
        .groupBy("_id")
        .agg(
            F.max(
                F.when(F.col("_s") == 0, 1).otherwise(0)
            ).alias("s1"),
            F.max(
                F.when(F.col("_s") == 1, 1).otherwise(0)
            ).alias("s2"),
        )
    )
    agg = per.agg(
        F.sum("s1").cast("double").alias("n1"),
        F.sum("s2").cast("double").alias("n2"),
        F.sum(F.col("s1") * F.col("s2")).cast("double").alias("m"),
        F.count(F.lit(1)).alias("total"),
    )
    est = (F.col("n1") + 1) * (F.col("n2") + 1) / (F.col("m") + 1) - 1
    return agg.select(
        F.col("n1").cast("long").alias("n_survey1"),
        F.col("n2").cast("long").alias("n_survey2"),
        F.col("m").cast("long").alias("overlap"),
        F.round(est, round_dp).alias("chapman_est"),
        F.col("total").cast("long").alias("true_distinct"),
        F.round(
            F.when(
                F.col("total") > 0,
                (est - F.col("total")) / F.col("total"),
            ),
            round_dp,
        ).alias("rel_err"),
    )


def tukey_hsd(
    df: DataFrame,
    group_col: str,
    value_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Tukey HSD post-hoc sweep: the pairwise follow-up to
    :func:`anova_f`'s omnibus gate, one row per unordered group pair
    ``(grp_a < grp_b)`` with the studentized-range statistic

        q = |m_a − m_b| / sqrt( MSW/2 · (1/n_a + 1/n_b) )

    (the Tukey–Kramer unequal-n form), where MSW = SS_within/(N−k) is
    the ONE pooled error variance all pairs share — the property that
    distinguishes HSD from a :func:`welch_ttest` sweep, which
    re-estimates the error per pair and loses the familywise
    calibration. The q CDF is out of scope (house rule, see
    :func:`welch_ttest`); report q against the studentized-range
    lines for (k, N−k). Pairs where MSW is undefined (N ≤ k) or zero
    yield NULL q, never DIVIDE_BY_ZERO.

    Scale shape: ONE hash aggregation over the fact (map-side partial
    n/mean/var per group), a 1-row MSW reduction of the k-row summary
    broadcast onto the |k|²/2 pair self-join of aggregates — the fact
    never shuffles twice, identical skeleton to :func:`welch_ttest`.
    """
    g = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(value_col).alias("m"),
            F.var_samp(value_col).alias("v"),
        )
    )
    msw = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nn"),
        F.sum(F.coalesce((F.col("n") - 1) * F.col("v"), F.lit(0.0))).alias(
            "ssw"
        ),
    ).select(
        "k",
        "nn",
        F.when(
            (F.col("nn") > F.col("k")) & (F.col("ssw") > 0),
            F.col("ssw") / (F.col("nn") - F.col("k")),
        ).alias("msw"),
    )
    a, b = g.alias("a"), F.broadcast(g.alias("b"))
    pairs = a.join(b, F.col("a.grp") < F.col("b.grp")).crossJoin(
        F.broadcast(msw)
    )
    na = F.col("a.n").cast("double")
    nb = F.col("b.n").cast("double")
    se = F.sqrt(F.col("msw") / 2.0 * (1.0 / na + 1.0 / nb))
    diff = F.col("a.m") - F.col("b.m")
    return pairs.select(
        F.col("a.grp").alias("grp_a"),
        F.col("b.grp").alias("grp_b"),
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
        F.round(diff, round_dp).alias("mean_diff"),
        F.col("nn").cast("long").alias("n_total"),
        F.col("k").cast("int").alias("k_groups"),
        F.round(
            F.when(F.col("msw") > 0, F.abs(diff) / se), round_dp
        ).alias("q_stat"),
    )


def bartlett_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Bartlett's test of variance homogeneity — the parametric,
    more-powerful-when-normal sibling of :func:`levene_test` (which
    stays the robust default): with pooled variance
    S²ₚ = Σ(nᵢ−1)S²ᵢ / (N−k),

        T = [(N−k)·ln S²ₚ − Σ(nᵢ−1)·ln S²ᵢ] / C
        C = 1 + (Σ 1/(nᵢ−1) − 1/(N−k)) / (3(k−1))

    Report T against the χ²(k−1) lines (house rule: CDF out of
    scope). Groups with n < 2 or zero variance are EXCLUDED (their
    log-variance is undefined — scipy errors there; the excluded
    count is reported so the caller sees the censoring); NULL
    statistic when fewer than 2 groups survive.

    Scale shape: ONE map-side-combined hash aggregation to per-group
    (n, var) — the :func:`anova_f` skeleton — then one k-row scalar
    reduce; the fact is scanned exactly once.
    """
    g = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.var_samp(value_col).alias("v"),
        )
    )
    ok = (F.col("n") > 1) & (F.col("v") > 0)
    agg = g.agg(
        F.count(F.lit(1)).alias("k_all"),
        F.sum(F.when(ok, 1).otherwise(0)).cast("double").alias("k"),
        F.sum(F.when(ok, F.col("n"))).alias("nn"),
        F.sum(F.when(ok, (F.col("n") - 1) * F.col("v"))).alias("ssw"),
        F.sum(
            F.when(ok, (F.col("n") - 1) * F.log(F.col("v")))
        ).alias("slv"),
        F.sum(F.when(ok, 1.0 / (F.col("n") - 1))).alias("sinv"),
    )
    k, nn = F.col("k"), F.col("nn")
    dfw = nn - k
    sp2 = F.col("ssw") / dfw
    t_num = dfw * F.log(sp2) - F.col("slv")
    c = 1.0 + (F.col("sinv") - 1.0 / dfw) / (3.0 * (k - 1))
    t = F.when((k > 1) & (dfw > 0), t_num / c)
    return agg.select(
        F.col("k_all").cast("int").alias("k_groups"),
        k.cast("int").alias("k_tested"),
        (F.col("k_all") - k).cast("int").alias("k_excluded"),
        F.coalesce(nn, F.lit(0.0)).cast("long").alias("n"),
        F.round(F.when(dfw > 0, sp2), round_dp).alias("pooled_var"),
        F.round(t, round_dp).alias("bartlett_stat"),
    )


def friedman_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Friedman rank test for k treatments over matched blocks — the
    repeated-measures sibling of :func:`~.analytics.kruskal_wallis`
    (which assumes independent groups): each COMPLETE block (one cell
    per treatment; the cell value is the mean when a block×treatment
    has several rows) ranks its k cells with average-tie ranks, and
    the tie-corrected statistic is

        χ²_F = (k−1) · Σ_j (R_j − n(k+1)/2)²
                     / (Σ_ij r²_ij − n·k·(k+1)²/4)

    NULL when fewer than 2 complete blocks / treatments survive or
    every block is fully tied (denominator 0). Incomplete blocks are
    EXCLUDED and counted (``n_blocks_dropped``) — silent imputation
    would bias the ranks. Report against χ²(k−1) (house rule: CDF out
    of scope).

    Scale shape: ONE fact hash-agg to (block, treatment) cell means;
    ranking runs under a per-block window whose state is bounded by k
    cells; the statistic is one reduce over the cell table (≤
    |blocks|·k rows). The fact is scanned once.
    """
    from pyspark.sql import Window

    cells = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(
            F.col(block_col).alias("blk"),
            F.col(treatment_col).alias("trt"),
        )
        .agg(F.avg(value_col).alias("v"))
    )
    k_tab = cells.agg(
        F.countDistinct("trt").alias("k"),
        F.countDistinct("blk").alias("n_all"),
    )
    sizes = cells.groupBy("blk").agg(F.count(F.lit(1)).alias("_kb"))
    complete = (
        cells.join(F.broadcast(k_tab), F.lit(True))
        .join(sizes, "blk")
        .filter(F.col("_kb") == F.col("k"))
    )
    wb = Window.partitionBy("blk")
    worder = wb.orderBy("v")
    # average-tie rank: min-rank + (ties - 1)/2
    ranked = complete.withColumn(
        "r",
        F.rank().over(worder)
        + (F.count(F.lit(1)).over(wb.orderBy("v").rangeBetween(0, 0)) - 1)
        / 2.0,
    )
    rsums = ranked.groupBy("trt").agg(
        F.sum("r").alias("rj"),
        F.countDistinct("blk").alias("nb"),
        F.sum(F.col("r") * F.col("r")).alias("rj2"),
    )
    # Σ_j (R_j − n(k+1)/2)² needs k inside the aggregate — expand it
    # into the pure sums S = Σ R_j² − n(k+1)·Σ R_j + k·n²(k+1)²/4 so
    # one reduce suffices
    rj2sum = rsums.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.max("nb").cast("double").alias("n"),
        F.min("nb").cast("double").alias("n_min"),
        F.sum(F.col("rj") * F.col("rj")).alias("sjj"),
        F.sum("rj").alias("sj"),
        F.sum("rj2").alias("srr"),
    )
    k, n = F.col("k"), F.col("n")
    s_term = (
        F.col("sjj") - n * (k + 1) * F.col("sj") + k * n * n * (k + 1) * (k + 1) / 4.0
    )
    d_term = F.col("srr") - n * k * (k + 1) * (k + 1) / 4.0
    # n_min is a consistency guard: complete-block filtering makes
    # every treatment appear in exactly n blocks, so min(nb) == max(nb)
    # by construction — NULL the statistic (rather than emit a silently
    # wrong one) if that invariant is ever violated
    stat = F.when(
        (k > 1)
        & (n > 1)
        & (F.col("n_min") == n)
        & (d_term > 0),
        (k - 1) * s_term / d_term,
    )
    dropped = k_tab.select(
        F.col("n_all").cast("long").alias("_n_all")
    )
    return (
        rj2sum.crossJoin(F.broadcast(dropped))
        .select(
            k.cast("int").alias("k_treatments"),
            n.cast("long").alias("n_blocks"),
            (F.col("_n_all") - n).cast("long").alias("n_blocks_dropped"),
            F.round(stat, round_dp).alias("friedman_stat"),
        )
    )


def mood_median_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Mood's median test: are the k groups' medians equal? Counts
    above/below the GRAND median per group (ties at the median
    excluded, the standard convention) and emits the Pearson χ² of
    the 2×k contingency table — the blunter but assumption-free
    sibling of :func:`~.analytics.kruskal_wallis` (only counts cross
    the median, so it survives heavy tails and censoring). One row
    per group (observed above, expected above, n) plus the shared
    χ² statistic on every row; NULL χ² when a margin is empty.

    Scale shape: the grand median comes from one
    :func:`_cdf_percentiles` pass (r15 — the old single ``percentile``
    aggregate funneled the whole fact through ONE buffer); the side
    counts are ONE conditional hash-agg over the fact; the χ² re-agg
    and expected counts run on the k-row table.
    """
    med = _cdf_percentiles(df, value_col, [0.5], ["_m"]).select("_m")
    base = (
        df.filter(F.col(value_col).isNotNull())
        .join(F.broadcast(med), F.lit(True), "left")
        .filter(F.col(value_col) != F.col("_m"))
        .select(
            F.col(group_col).alias("grp"),
            (F.col(value_col) > F.col("_m")).alias("_up"),
        )
    )
    g = base.groupBy("grp").agg(
        F.sum(F.when(F.col("_up"), 1).otherwise(0))
        .cast("double")
        .alias("above"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    tot = g.agg(
        F.sum("above").alias("ta"),
        F.sum("n").alias("tn"),
        F.count(F.lit(1)).alias("k"),
    )
    j = g.crossJoin(F.broadcast(tot))
    e_above = F.col("n") * F.col("ta") / F.col("tn")
    e_below = F.col("n") * (F.col("tn") - F.col("ta")) / F.col("tn")
    cell = F.when(
        (e_above > 0) & (e_below > 0),
        (F.col("above") - e_above) * (F.col("above") - e_above) / e_above
        + ((F.col("n") - F.col("above")) - e_below)
        * ((F.col("n") - F.col("above")) - e_below)
        / e_below,
    )
    from pyspark.sql import Window

    chi2 = F.sum(cell).over(Window.partitionBy())
    return j.select(
        "grp",
        F.col("above").cast("long").alias("n_above"),
        (F.col("n") - F.col("above")).cast("long").alias("n_below"),
        F.round(e_above, round_dp).alias("expected_above"),
        F.round(chi2, round_dp).alias("chi2_stat"),
    )


def cramers_v(
    df: DataFrame,
    col_a: str,
    col_b: str,
    round_dp: int = 6,
) -> DataFrame:
    """Cramér's V association strength between two categoricals: the
    χ²-based effect size

        V = sqrt( (χ²/N) / min(r−1, c−1) )   ∈ [0, 1]

    that :func:`chi2_lang_source`'s raw statistic can't give (χ²
    grows with N; V doesn't — it's the number you compare ACROSS
    tables, e.g. "which metadata column leaks the label hardest").
    One row ``(r_levels, c_levels, n, chi2, cramers_v)``; NULL when
    either variable is constant (min(r−1, c−1) = 0). χ² uses the
    standard Σ(o−e)²/e over OBSERVED cells plus the
    missing-cell remainder in closed form (absent cells contribute
    e = n_a·n_b/N each — their Σe equals N − Σ_observed e, so no
    r×c densify is ever built).

    Scale shape: ONE (a, b) hash-agg over the fact (≤ r·c cells),
    margins re-aggregated FROM the cell table, the remainder
    arithmetic on scalars — the fact is scanned once, nothing
    densifies.
    """
    cells = (
        df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .groupBy(F.col(col_a).alias("_a"), F.col(col_b).alias("_b"))
        .agg(F.count(F.lit(1)).cast("double").alias("_o"))
    )
    ra = cells.groupBy("_a").agg(F.sum("_o").alias("_na"))
    rb = cells.groupBy("_b").agg(F.sum("_o").alias("_nb"))
    tot = cells.agg(F.sum("_o").alias("_n"))
    j = (
        cells.join(ra, "_a")
        .join(F.broadcast(rb), "_b")
        .crossJoin(F.broadcast(tot))
    )
    e = F.col("_na") * F.col("_nb") / F.col("_n")
    obs = j.agg(
        F.sum((F.col("_o") - e) * (F.col("_o") - e) / e).alias("_chi_obs"),
        F.sum(e).alias("_e_obs"),
    )
    dims = (
        ra.agg(F.count(F.lit(1)).alias("_r"))
        .crossJoin(rb.agg(F.count(F.lit(1)).alias("_c")))
        .crossJoin(tot)
    )
    g = obs.crossJoin(F.broadcast(dims))
    # absent cells: (0 - e)^2/e = e, and Σ_all e = N → remainder
    chi2 = F.col("_chi_obs") + (F.col("_n") - F.col("_e_obs"))
    mindim = F.least(F.col("_r") - 1, F.col("_c") - 1)
    v = F.when(
        mindim > 0, F.sqrt(chi2 / F.col("_n") / mindim)
    )
    return g.select(
        F.col("_r").cast("int").alias("r_levels"),
        F.col("_c").cast("int").alias("c_levels"),
        F.col("_n").cast("long").alias("n"),
        F.round(chi2, round_dp).alias("chi2"),
        F.round(v, round_dp).alias("cramers_v"),
    )


def theil_u(
    df: DataFrame,
    x_col: str,
    y_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Theil's uncertainty coefficient U(x|y) — the ASYMMETRIC
    association :func:`cramers_v` can't see: what fraction of x's
    entropy does knowing y remove?

        U(x|y) = (H(x) − H(x|y)) / H(x) = I(x; y) / H(x)  ∈ [0, 1]

    Direction matters (a leaky id column predicts the label, not vice
    versa), which is exactly the feature→target leakage scan run
    before training on metadata columns. One row ``(n, h_x, h_y,
    mutual_info, u_x_given_y, u_y_given_x)`` (nats); NULL U when the
    conditioned variable is constant (H = 0).

    Scale shape: ONE (x, y) hash-agg; both marginals and all three
    entropies are re-aggs of the ≤ |x|·|y| cell table.
    """
    cells = (
        df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(F.col(x_col).alias("_x"), F.col(y_col).alias("_y"))
        .agg(F.count(F.lit(1)).cast("double").alias("_o"))
    )
    hx = cells.groupBy("_x").agg(F.sum("_o").alias("_c")).agg(
        F.sum("_c").alias("_n1"),
        F.sum(F.col("_c") * F.log("_c")).alias("_sx"),
    )
    hy = cells.groupBy("_y").agg(F.sum("_o").alias("_c")).agg(
        F.sum(F.col("_c") * F.log("_c")).alias("_sy"),
    )
    hxy = cells.agg(
        F.sum("_o").alias("_n"),
        F.sum(F.col("_o") * F.log("_o")).alias("_sxy"),
    )
    g = hxy.crossJoin(F.broadcast(hx)).crossJoin(F.broadcast(hy))
    n = F.col("_n")
    h_x = F.log(n) - F.col("_sx") / n
    h_y = F.log(n) - F.col("_sy") / n
    h_xy = F.log(n) - F.col("_sxy") / n
    mi = F.greatest(h_x + h_y - h_xy, F.lit(0.0))
    return g.select(
        n.cast("long").alias("n"),
        F.round(h_x, round_dp).alias("h_x"),
        F.round(h_y, round_dp).alias("h_y"),
        F.round(mi, round_dp).alias("mutual_info"),
        F.round(F.when(h_x > 0, mi / h_x), round_dp).alias(
            "u_x_given_y"
        ),
        F.round(F.when(h_y > 0, mi / h_y), round_dp).alias(
            "u_y_given_x"
        ),
    )


def gamma_assoc(
    df: DataFrame,
    x_col: str,
    y_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Goodman–Kruskal gamma for two ORDINAL columns: concordant
    minus discordant pairs over their sum,

        γ = (C − D) / (C + D)   ∈ [−1, 1]

    computed from the contingency table, never from row pairs:
    C = Σ_cell n_ij · N(>i, >j) and D = Σ_cell n_ij · N(>i, <j),
    where the quadrant sums N(·,·) come from a cell×cell join of the
    ≤ r·c-row table — O((rc)²) on AGGREGATES, O(n) on data (the
    :func:`~.profile.welch_ttest` pair-blow-up-on-summaries
    discipline). The rank-correlation of choice for coarse ordinal
    scales (quality buckets × review scores) where
    :func:`kendall_tau`'s tie corrections dominate. NULL when
    C + D = 0 (a constant column).

    Scale shape: ONE (x, y) hash-agg over the fact, one broadcast
    self-join of the cell table, one reduce.
    """
    cells = (
        df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(F.col(x_col).alias("_x"), F.col(y_col).alias("_y"))
        .agg(F.count(F.lit(1)).cast("double").alias("_o"))
    )
    a, b = cells.alias("a"), F.broadcast(cells.alias("b"))
    pairs = a.join(
        b,
        (F.col("b._x") > F.col("a._x"))
        & (F.col("b._y") != F.col("a._y")),
    ).select(
        F.col("a._o").alias("_oa"),
        F.col("b._o").alias("_ob"),
        (F.col("b._y") > F.col("a._y")).alias("_conc"),
    )
    g = pairs.agg(
        F.sum(
            F.when(F.col("_conc"), F.col("_oa") * F.col("_ob"))
        ).alias("_c"),
        F.sum(
            F.when(~F.col("_conc"), F.col("_oa") * F.col("_ob"))
        ).alias("_d"),
    ).crossJoin(
        F.broadcast(cells.agg(F.sum("_o").alias("_n")))
    )
    c = F.coalesce(F.col("_c"), F.lit(0.0))
    d = F.coalesce(F.col("_d"), F.lit(0.0))
    gamma = F.when(c + d > 0, (c - d) / (c + d))
    return g.select(
        F.col("_n").cast("long").alias("n"),
        c.cast("long").alias("concordant_pairs"),
        d.cast("long").alias("discordant_pairs"),
        F.round(gamma, round_dp).alias("gamma"),
    )


def wasserstein_1d(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    round_dp: int = 6,
) -> DataFrame:
    """Two-sample 1-D Wasserstein (earth-mover) distance between two
    groups' value distributions:

        W₁ = ∫ |F_a(x) − F_b(x)| dx
           = Σ_i |F_a(v_i) − F_b(v_i)| · (v_{i+1} − v_i)

    over the pooled distinct values — the MAGNITUDE-aware member of
    the drift family: :func:`ks_test` reports the worst single CDF
    gap (scale-free, blind to how long the gap persists), PSI needs
    bins, :func:`~.similarity` MMD needs a kernel; W₁ is "average
    shift in value units", the number a cost model can consume
    directly. Also emitted normalized by the pooled value RANGE
    (``w1_normalized`` ∈ [0, 1]). Empty-group input yields an EMPTY
    frame (same contract as ks_test).

    Scale shape: the ks_test contract exactly — per-DISTINCT-value
    conditional counts via one map-side-combined hash aggregation,
    then the CDFs and the next distinct value both come from
    :func:`~.prefix.prefix_sums`.
    """
    two = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).alias("_g"),
        F.col(value_col).cast("double").alias("_v"),
    )
    per_val = two.groupBy("_v").agg(
        F.sum((F.col("_g") == group_a).cast("long")).alias("_ca"),
        F.sum((F.col("_g") == group_b).cast("long")).alias("_cb"),
    )
    cdfs = prefix_sums(per_val, ["_v"], ["_ca", "_cb"])
    gap = F.abs(
        F.col("_cum_ca") / F.col("_tot_ca")
        - F.col("_cum_cb") / F.col("_tot_cb")
    )
    seg = F.when(
        F.col("_next_v").isNotNull(),
        gap * (F.col("_next_v") - F.col("_v")),
    ).otherwise(F.lit(0.0))
    agg = (
        cdfs.filter((F.col("_tot_ca") > 0) & (F.col("_tot_cb") > 0))
        .groupBy(
            F.col("_tot_ca").alias("n_a"),
            F.col("_tot_cb").alias("n_b"),
        )
        .agg(
            F.sum(seg).alias("_w1"),
            (F.max("_v") - F.min("_v")).alias("_rng"),
        )
    )
    return agg.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round("_w1", round_dp).alias("w1_distance"),
        F.round(
            F.when(F.col("_rng") > 0, F.col("_w1") / F.col("_rng")),
            round_dp,
        ).alias("w1_normalized"),
    )


def drift_report(
    df: DataFrame,
    group_col: str,
    value_cols: list[str],
    group_a: str,
    group_b: str,
    round_dp: int = 6,
    cat_cols: list[str] | tuple = (),
) -> DataFrame:
    """Whole-schema drift table between two cohorts in ONE pass: for
    every NUMERIC column the cohort means, the KS sup-gap
    (:func:`ks_test`) and the 1-D Wasserstein distance
    (:func:`wasserstein_1d`); for every CATEGORICAL column
    (``cat_cols``) the 2xk Pearson chi-square and the smoothed PSI —
    the per-feature drift dashboard a training pipeline checks
    between two corpus snapshots before trusting a refreshed mixture,
    now covering string features too (round-11 review item 4).

    One row per column ``(column, kind, n_a, n_b, n_levels, mean_a,
    mean_b, ks_d, w1_distance, chi2, psi)``; the stats of the other
    kind are NULL, as are all stats when either cohort is empty.
    ``n_levels`` counts distinct observed values (levels for
    categorical, distinct values for numeric).

    * ``chi2`` uses the 2xk closed form that needs ONLY per-level
      sums: with d_l = ca_l - n_a t_l / n and e-expansion,
      chi2 = n^2/(n_a n_b) * (sum_l ca_l^2 / t_l) - n n_a / n_b —
      algebraically identical to sum (o-e)^2/e over both cohort rows.
    * ``psi`` is additive-smoothed (eps = 0.5 per level, the Laplace
      convention, so levels seen in only one cohort stay finite):
      with p_l = (ca_l+eps)/(n_a+eps k), q_l = (cb_l+eps)/(n_b+eps k),
      psi = sum (p_l - q_l) ln(p_l/q_l), computed as
      A/(n_a+eps k) - B/(n_b+eps k) where A = sum (ca_l+eps) L_l,
      B = sum (cb_l+eps) L_l, L_l = ln((ca_l+eps)/(cb_l+eps)) — the
      ln(n_a+eps k) cross-terms cancel because sum(p-q) = 0. Again
      pure per-level sums.

    Scale shape: scan -> stack (k rows per fact row, map-side) ->
    ONE (column, value, level) hash-agg -> per-column CDF running
    sums (:func:`~.prefix.prefix_sums` keyed by column) -> one row
    per column. Categorical rows ride the SAME
    pipeline (their CDF columns are unused garbage — both chi2 and
    psi reduce to plain aggregates, see above), so adding categorical
    coverage costs zero extra scans, branches or joins; the plan test
    pins scan count at one. NULL values excluded per column.
    """
    if not value_cols:
        raise ValueError("value_cols must be non-empty")
    overlap = set(value_cols) & set(cat_cols)
    if overlap:
        raise ValueError(f"columns in both value_cols and cat_cols: {sorted(overlap)}")
    two = df.filter(F.col(group_col).isin([group_a, group_b]))
    structs = [
        F.struct(
            F.lit(c).alias("c"),
            F.lit("num").alias("k"),
            F.col(c).cast("double").alias("v"),
            F.lit(None).cast("string").alias("s"),
        )
        for c in value_cols
    ] + [
        F.struct(
            F.lit(c).alias("c"),
            F.lit("cat").alias("k"),
            F.lit(None).cast("double").alias("v"),
            F.col(c).cast("string").alias("s"),
        )
        for c in cat_cols
    ]
    stacked = two.select(
        (F.col(group_col) == group_a).alias("_ia"),
        F.explode(F.array(*structs)).alias("_s"),
    ).select(
        "_ia",
        F.col("_s.c").alias("_c"),
        F.col("_s.k").alias("_k"),
        F.col("_s.v").alias("_v"),
        F.col("_s.s").alias("_lv"),
    ).filter(F.col("_v").isNotNull() | F.col("_lv").isNotNull())
    # the per-value table carries ONLY (_c, _k, _v, _lv, _ca, _cb):
    # the cohort means are recoverable as sum(v*count) in the final
    # reduce, and keeping extra sum columns out of per_val keeps BOTH
    # consumers' pruned schemas identical, which is what lets the
    # planner reuse one exchange (and therefore one fact scan) across
    # the local-cumulative and totals branches of prefix_sums
    per_val = stacked.groupBy("_c", "_k", "_v", "_lv").agg(
        F.sum(F.col("_ia").cast("long")).alias("_ca"),
        F.sum((~F.col("_ia")).cast("long")).alias("_cb"),
    )
    cdfs = prefix_sums(per_val, ["_v"], ["_ca", "_cb"], ["_c"])
    tna = F.col("_tot_ca").cast("double")
    tnb = F.col("_tot_cb").cast("double")
    gap = F.when(
        (F.col("_tot_ca") > 0) & (F.col("_tot_cb") > 0),
        F.abs(F.col("_cum_ca") / tna - F.col("_cum_cb") / tnb),
    )
    seg = F.when(
        F.col("_next_v").isNotNull(), gap * (F.col("_next_v") - F.col("_v"))
    ).otherwise(F.lit(0.0))
    # final per-column reduce: cohort sizes as plain sums (the _tot
    # columns are garbage for categorical rows, whose window order is
    # all-tied), every statistic gated on the column kind
    is_num = F.col("_k") == "num"
    na = F.sum("_ca").cast("double")
    nb = F.sum("_cb").cast("double")
    n = na + nb
    ca, cb = F.col("_ca").cast("double"), F.col("_cb").cast("double")
    t = ca + cb
    eps = F.lit(0.5)
    klev = F.count(F.lit(1)).cast("double")
    lnr = F.log((ca + eps) / (cb + eps))
    chi2 = (
        n * n / (na * nb) * F.sum(ca * ca / t) - n * na / nb
    )
    psi = F.sum((ca + eps) * lnr) / (na + eps * klev) - F.sum(
        (cb + eps) * lnr
    ) / (nb + eps * klev)
    both = (na > 0) & (nb > 0)
    return (
        cdfs.groupBy(F.col("_c").alias("column"), F.col("_k").alias("_k"))
        .agg(
            na.cast("long").alias("n_a"),
            nb.cast("long").alias("n_b"),
            F.count(F.lit(1)).cast("long").alias("n_levels"),
            F.round(
                F.when(
                    is_num & (na > 0),
                    F.sum(F.col("_v") * F.col("_ca")) / na,
                ),
                round_dp,
            ).alias("mean_a"),
            F.round(
                F.when(
                    is_num & (nb > 0),
                    F.sum(F.col("_v") * F.col("_cb")) / nb,
                ),
                round_dp,
            ).alias("mean_b"),
            F.round(F.when(is_num, F.max(gap)), round_dp).alias("ks_d"),
            F.round(
                F.when(is_num & both, F.sum(seg)), round_dp
            ).alias("w1_distance"),
            F.round(F.when(~is_num & both, chi2), round_dp).alias("chi2"),
            F.round(F.when(~is_num & both, psi), round_dp).alias("psi"),
        )
        .select(
            "column",
            F.when(is_num, F.lit("numeric"))
            .otherwise(F.lit("categorical"))
            .alias("kind"),
            "n_a",
            "n_b",
            "n_levels",
            "mean_a",
            "mean_b",
            "ks_d",
            "w1_distance",
            "chi2",
            "psi",
        )
    )

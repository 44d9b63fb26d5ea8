"""Mergeable-sketch operators (Apache DataSketches via Spark SQL).

Beyond-reference block (SURVEY.md §2 final row): the pre-aggregation
pattern that makes 100 TB interactive — build small mergeable sketches
at fine granularity ONCE (per partition / day / source), persist them,
and answer coarser-granularity questions by merging sketches instead
of rescanning raw data. All sketch work happens in JVM aggregate
expressions (map-side partial aggregation; the shuffle carries
kilobyte sketch blobs, not rows):

* HLL (`hll_sketch_agg` / `hll_union_agg`) — distinct counting whose
  union is LOSSLESS: merging per-group sketches gives exactly the
  sketch of the union, so a daily rollup table answers weekly/monthly
  distinct-user questions without touching the fact table;
* Theta (`theta_*`) — distinct counting with set ALGEBRA
  (intersection / difference), e.g. audience overlap between event
  types;
* KLL (`kll_sketch_agg_*`) — mergeable rank/quantile sketches with
  a priori error bounds, for latency/size percentiles per group and
  globally from the same rollup;
* frequent items (`approx_top_k_accumulate` / `_combine` /
  `_estimate`) — two-phase heavy hitters: per-shard summaries merge
  into a global top-k without shipping full term dictionaries.

Estimates are approximate and engine-specific (no DuckDB oracle);
tests/test_sketches.py pins the invariants instead: HLL merge
losslessness, estimate-vs-exact tolerance, KLL rank error, and
exactness of approx_top_k when the tracked-item budget exceeds the
distinct count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "hll_rollup",
    "hll_merge_estimate",
    "theta_overlap",
    "kll_quantiles",
    "approx_top_terms",
    "cms_build",
    "cms_merge",
    "cms_estimate",
]


def hll_rollup(
    df: DataFrame,
    fine_keys: list[str],
    value_col: str,
    lgk: int = 12,
) -> DataFrame:
    """Fine-granularity HLL sketch table: one row per ``fine_keys``
    combination carrying a binary sketch of distinct ``value_col``.

    This is the persisted rollup: at 100 TB you write it partitioned
    by the leading key and never rescan raw events for distinct
    counts. ``lgk`` trades size for accuracy (2^lgk registers;
    12 → ~1.6% rse, 4 KB).
    """
    return df.groupBy(*fine_keys).agg(
        F.expr(f"hll_sketch_agg({value_col}, {lgk})").alias("hll_sketch"),
        F.count("*").alias("n_rows"),
    )


def hll_merge_estimate(
    sketches: DataFrame,
    coarse_keys: list[str],
    sketch_col: str = "hll_sketch",
) -> DataFrame:
    """Merge a sketch rollup up to ``coarse_keys`` and estimate
    distinct counts. HLL union is lossless: the merged sketch is
    byte-identical to one built directly over the union of the raw
    data, so rollup reuse costs no accuracy."""
    grouped = (
        sketches.groupBy(*coarse_keys)
        if coarse_keys
        else sketches.groupBy()
    )
    return grouped.agg(
        F.expr(
            f"hll_sketch_estimate(hll_union_agg({sketch_col}))"
        ).alias("est_distinct")
    )


def theta_overlap(
    df: DataFrame,
    cohort_col: str,
    value_col: str,
    cohort_a: str,
    cohort_b: str,
) -> DataFrame:
    """Audience overlap between two cohorts via Theta sketches:
    one row (est_a, est_b, est_intersection, est_union).

    One scan builds both cohort sketches (conditional aggregation —
    no self-join of the fact table); intersection/union run on the
    two kilobyte blobs. The exact equivalent is a self-join +
    count(distinct), which at 100 TB shuffles the fact twice.
    """
    sk = df.agg(
        F.expr(
            f"theta_sketch_agg(CASE WHEN {cohort_col} = '{cohort_a}' "
            f"THEN {value_col} END)"
        ).alias("_a"),
        F.expr(
            f"theta_sketch_agg(CASE WHEN {cohort_col} = '{cohort_b}' "
            f"THEN {value_col} END)"
        ).alias("_b"),
    )
    return sk.select(
        F.expr("theta_sketch_estimate(_a)").cast("long").alias("est_a"),
        F.expr("theta_sketch_estimate(_b)").cast("long").alias("est_b"),
        F.expr("theta_sketch_estimate(theta_intersection(_a, _b))")
        .cast("long")
        .alias("est_intersection"),
        F.expr("theta_sketch_estimate(theta_union(_a, _b))")
        .cast("long")
        .alias("est_union"),
    )


def kll_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    probs: tuple[float, ...] = (0.5, 0.95, 0.99),
    k: int = 200,
) -> DataFrame:
    """Per-group KLL quantile sketches merged to GLOBAL quantiles —
    one row per requested probability, estimated from the merged
    sketch (per-group sketches are the persisted rollup; the global
    answer costs one merge of |groups| kilobyte blobs).

    Uses the double-typed KLL family; ``k=200`` gives ~1.65% rank
    error (normalized, 99% confidence).
    """
    per_group = df.groupBy(group_col).agg(
        F.expr(f"kll_sketch_agg_double({value_col}, {k})").alias("_sk")
    )
    merged = per_group.agg(
        F.expr("kll_merge_agg_double(_sk)").alias("_m")
    )
    quantile_cols = [
        F.round(
            F.expr(f"kll_sketch_get_quantile_double(_m, {p})"), 6
        ).alias(f"p{int(p * 100)}")
        for p in probs
    ]
    return merged.select(*quantile_cols)


def approx_top_terms(
    docs: DataFrame,
    words: Column,
    k: int = 20,
    max_items_tracked: int = 10_000,
) -> DataFrame:
    """Two-phase approximate heavy hitters over a word-array column:
    per-shard ``approx_top_k_accumulate`` summaries combined into one
    global state, then estimated — (term, est_count) rows, count
    desc / term asc.

    The accumulate/combine split is the point: each shard summary is
    a bounded-size state (``max_items_tracked`` slots), so the merge
    shuffles |shards| states instead of the full term dictionary —
    the classic SpaceSaving/Misra-Gries layout. When
    ``max_items_tracked`` >= the true distinct-term count the result
    is exact (pytest pins this).
    """
    exploded = docs.select(F.explode(words).alias("_term"))
    shards = exploded.groupBy(F.spark_partition_id().alias("_p")).agg(
        F.expr(
            f"approx_top_k_accumulate(_term, {max_items_tracked})"
        ).alias("_st")
    )
    est = shards.agg(
        F.expr(
            f"approx_top_k_estimate(approx_top_k_combine(_st), {k})"
        ).alias("_tk")
    )
    return (
        est.select(F.explode("_tk").alias("e"))
        .select(
            F.col("e.item").alias("term"),
            F.col("e.count").alias("est_count"),
        )
        .orderBy(F.desc("est_count"), F.asc("term"))
    )


def _cms_bucket(depth_col: Column, term: Column, width: int) -> Column:
    """Row's bucket for one hash row: md5 of ``depth:term`` → first 12
    hex chars (48 bits, exact in a long) → mod width. md5, not
    xxhash64, so the layout is reproducible in any engine (the DuckDB
    oracle replays the identical bucket arithmetic — same reasoning as
    functions.text.md5_bucket)."""
    h = F.md5(F.concat_ws(":", depth_col.cast("string"), term))
    return F.conv(F.substring(h, 1, 12), 16, 10).cast("long") % width


def cms_build(
    df: DataFrame,
    term_col: str,
    depth: int = 4,
    width: int = 2048,
    weight_col: str | None = None,
) -> DataFrame:
    """Count-min sketch of a term column as a plain DataFrame:
    ``(depth, bucket, cnt)`` rows — at most depth × width of them,
    regardless of input size.

    Each input row lands in exactly one bucket per hash row (explode
    by depth → one hash aggregation with map-side partials; the
    shuffle carries ≤ depth × width counter rows per task, never
    terms). The sketch is MERGEABLE (:func:`cms_merge` is a plain
    sum-by-cell), so per-day/per-shard sketches roll up losslessly —
    the same persisted pre-aggregation pattern as :func:`hll_rollup`,
    but answering FREQUENCY questions: est(t) = min over hash rows of
    the bucket count, an upper bound on the true count with classic
    (ε, δ) guarantees (ε ≈ e/width overestimate, δ ≈ e^-depth).

    ``weight_col`` builds the identical sketch from a PRE-AGGREGATED
    (term, count) table — ``Σ weight`` per cell instead of row count —
    so a caller that already owns exact term counts feeds the
    vocab-sized table instead of replaying the raw term stream
    through the depth-explode (sum-of-ones ≡ sum-of-counts cell for
    cell, the same mergeability :func:`cms_merge` relies on).
    """
    cols = [
        F.explode(
            F.array(*[F.lit(d) for d in range(depth)])
        ).alias("depth"),
        F.col(term_col).alias("_t"),
    ]
    if weight_col is not None:
        cols.append(F.col(weight_col).alias("_w"))
    rows = df.select(*cols)
    agg = (
        F.sum("_w") if weight_col is not None else F.count("*")
    ).alias("cnt")
    return (
        rows.groupBy(
            "depth", _cms_bucket(F.col("depth"), F.col("_t"), width).alias("bucket")
        )
        .agg(agg)
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge count-min sketches built with the same (depth, width):
    cell-wise sum. Lossless: the merged sketch is identical to one
    built over the concatenated inputs."""
    it = iter(sketches)
    u = next(it)
    for s in it:
        u = u.unionByName(s)
    return u.groupBy("depth", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    terms: DataFrame,
    term_col: str,
    width: int = 2048,
) -> DataFrame:
    """Point-query a count-min sketch for each row of ``terms``:
    (term, est_count). est is min over the sketch's hash rows of the
    probed cell (0 if a probed cell is absent — possible only for
    terms the sketch never saw).

    The probe side is terms × depth rows (tiny); the join is an
    equi-join on (depth, bucket) against the ≤ depth × width sketch —
    AQE broadcasts whichever side is small.
    """
    depths = sketch.select("depth").distinct()
    probes = (
        terms.select(F.col(term_col).alias("term"))
        .distinct()
        .crossJoin(depths)
        .select(
            "term",
            "depth",
            _cms_bucket(F.col("depth"), F.col("term"), width).alias("bucket"),
        )
    )
    return (
        probes.join(sketch, ["depth", "bucket"], "left")
        .groupBy("term")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count"))
    )


def build_rollup(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    distinct_col: str,
    lgk: int = 12,
) -> DataFrame:
    """One fine-granularity rollup row per ``keys`` combination
    carrying every MERGEABLE aggregate a dashboard needs: count, sum,
    min, max, and an HLL sketch of ``distinct_col``. This is the table
    you PERSIST — at 100 TB the raw fact is scanned once per period,
    and every later question at any coarser granularity merges these
    rows instead (see :func:`merge_rollup`)."""
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(value_col).alias("sum_value"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
        F.expr(f"hll_sketch_agg({distinct_col}, {lgk})").alias("hll_distinct"),
    )


def merge_rollup(
    rollup: DataFrame,
    coarse_keys: list[str],
) -> DataFrame:
    """Re-aggregate a rollup (or a UNION of rollup increments) to
    coarser keys. Every aggregate is mergeable — count/sum re-sum,
    min/max re-min/max, HLL unions LOSSLESSLY — so

        merge_rollup(build(day1) ∪ build(day2), [month])
        ≡ merge_rollup(build(day1 ∪ day2 raw), [month])

    which is the incremental-maintenance contract: append each new
    partition's rollup rows and never rescan history. The query's
    oracle states exactly that equivalence against a full recompute.
    """
    grouped = (
        rollup.groupBy(*coarse_keys) if coarse_keys else rollup.groupBy()
    )
    return grouped.agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("sum_value").alias("sum_value"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
        F.round(
            F.expr(
                "hll_sketch_estimate(hll_union_agg(hll_distinct, true))"
            )
        ).cast("long").alias("est_distinct"),
    )


def rolling_hll_actives(
    events: DataFrame,
    window_days: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
    lgk: int = 12,
) -> DataFrame:
    """Trailing ``window_days``-day distinct actives per day via
    MERGEABLE daily HLL sketches — the sketch-rollup sibling of
    ``analytics.rolling_active_users``. Exact rolling distinct cannot
    decompose over a sliding frame, so the exact operator explodes
    (user, day) pairs into every window they touch: O(window ×
    distinct pairs) through the shuffle. This one sketches each day
    ONCE (one pass over the fact), then explodes and union-merges
    sketches over the |days|-row rollup — the window cost moves off
    the fact entirely, and the same persisted daily rollup answers
    any window length after the fact (7-day, 28-day, quarter) without
    rescanning events. HLL union is lossless vs sketching the union
    directly; the estimate carries the usual ~1.6% rse at lgk=12.

    Returns ``(day, est_active)`` where day is the window END date.
    """
    day = F.date_trunc("day", F.col(ts_col)).cast("date")
    daily = events.select(
        F.col(user_col).alias("_u"), day.alias("_d")
    ).groupBy("_d").agg(
        F.expr(f"hll_sketch_agg(_u, {lgk})").alias("_sk")
    )
    contributes = daily.select(
        "_sk",
        F.explode(
            F.sequence(
                F.col("_d"), F.date_add(F.col("_d"), window_days - 1)
            )
        ).alias("day"),
    )
    return contributes.groupBy("day").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(_sk))").alias(
            "est_active"
        )
    )

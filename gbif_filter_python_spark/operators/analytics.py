"""Event-analytics operators: funnels, retention cohorts, rolling
active users.

Beyond-reference block (the reference has no event analytics;
SURVEY.md §2 "absent in reference"). These are the product-analytics
queries every event warehouse runs nightly, each written in its
scale-correct shape:

* the funnel folds each user's history in ONE groupBy — no per-stage
  self-join chain (k stages would otherwise be k shuffles of the fact);
* retention joins the fact against per-user FIRST-activity (a distinct
  pair aggregate), never fact×fact;
* rolling actives explode distinct (user, day) pairs into the few
  windows each contributes to — O(window_days × distinct pairs), never
  a range self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gbif_filter_python_spark.operators.iterate import observed_checkpoint
from gbif_filter_python_spark.operators.prefix import prefix_sums

__all__ = ["funnel", "retention_cohorts", "rolling_active_users"]


def funnel(
    events: DataFrame,
    stages: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel completion per user: the earliest time each
    stage is reached, where stage *i* must STRICTLY follow the user's
    recorded stage *i-1* time.

    Scale shape: ONE shuffle — ``collect_list(struct(ts, type))`` per
    user (state bounded by one user's history, like sessionization),
    ``sort_array`` for event-time order, then a single ``aggregate``
    fold threading an ``array<timestamp>`` of stage times through the
    sorted events. A join-chain formulation would shuffle the fact
    once per stage; this does it once total, entirely JVM-side.

    Equal-timestamp events cannot complete two consecutive stages (the
    comparison is strict) — deterministic regardless of intra-tie
    processing order.

    Returns ``user_col``, one ``<stage>_ts`` column per stage, and
    ``stages_completed`` (length of the non-null prefix).
    """
    n = len(stages)
    if n == 0:
        raise ValueError("funnel needs at least one stage")
    stage_lits = F.array(*[F.lit(s) for s in stages])
    init = F.array_repeat(F.lit(None).cast("timestamp"), n)

    def step(state, ev):
        # For each stage slot i (0-based): fill it with ev.ts when the
        # slot is empty, the event matches the stage, and stage i-1 is
        # already filled strictly earlier. element_at is 1-based, so
        # element_at(state, i) IS the previous slot for lambda index i.
        def update(slot, i):
            gate = F.when(
                i == 0, F.lit(True)
            ).otherwise(
                F.element_at(state, i).isNotNull()
                & (ev["ts"] > F.element_at(state, i))
            )
            return F.coalesce(
                slot,
                F.when(
                    (ev["tp"] == F.element_at(stage_lits, i + 1)) & gate,
                    ev["ts"],
                ),
            )

        return F.transform(state, update)

    history = F.sort_array(
        F.collect_list(F.struct(F.col(ts_col).alias("ts"), F.col(type_col).alias("tp")))
    )
    folded = (
        events.filter(F.col(type_col).isin(stages))
        .groupBy(user_col)
        .agg(F.aggregate(history, init, step).alias("_st"))
    )
    stage_cols = [
        F.element_at("_st", i + 1).alias(f"{s}_ts") for i, s in enumerate(stages)
    ]
    completed = F.size(F.filter(F.col("_st"), lambda t: t.isNotNull()))
    return folded.select(
        user_col, *stage_cols, completed.cast("int").alias("stages_completed")
    )


def retention_cohorts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period_days: int = 7,
) -> DataFrame:
    """Cohort retention triangle: users grouped by FIRST-activity
    period; for each later period offset, how many came back.

    Shape: distinct (user, period) pairs first (one agg — the fact
    collapses to at most users×periods rows), per-user cohort via a
    min aggregate over those pairs, one equi-join back on user (AQE
    broadcasts the per-user cohort when small), then a count-distinct
    per (cohort, offset). The fact is scanned once; nothing pairwise.

    Returns ``(cohort_period, period_offset, n_users)``.
    """
    day0 = F.lit("2000-01-01").cast("timestamp")
    period = (
        F.floor(
            (F.col(ts_col).cast("long") - day0.cast("long"))
            / (period_days * 86400)
        )
    ).cast("long")
    pairs = events.select(
        F.col(user_col).alias("_u"), period.alias("_p")
    ).distinct()
    cohorts = pairs.groupBy("_u").agg(F.min("_p").alias("_c"))
    return (
        pairs.join(cohorts, "_u")
        .groupBy(
            F.col("_c").alias("cohort_period"),
            (F.col("_p") - F.col("_c")).cast("int").alias("period_offset"),
        )
        .agg(F.count_distinct("_u").alias("n_users"))
    )


def rolling_active_users(
    events: DataFrame,
    window_days: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Trailing ``window_days``-day distinct active users per day
    (rolling DAU/WAU): for each calendar day, the count of distinct
    users seen in the window ending that day.

    Distinct counting does not decompose over a sliding frame, so a
    RANGE window cannot express it. The scale-correct shape: collapse
    the fact to distinct (user, day) pairs (one agg), explode each
    pair into the ``window_days`` window-end days it contributes to
    (map-side sequence, O(window × pairs) — window is a small
    constant), and count distinct users per window-end day. Days with
    no activity in range simply don't appear.

    Returns ``(day, n_active)`` where ``day`` is the window END date.
    """
    day = F.date_trunc("day", F.col(ts_col)).cast("date")
    pairs = events.select(
        F.col(user_col).alias("_u"), day.alias("_d")
    ).distinct()
    contributes = pairs.select(
        "_u",
        F.explode(
            F.sequence(
                F.col("_d"),
                F.date_add(F.col("_d"), window_days - 1),
            )
        ).alias("day"),
    )
    return contributes.groupBy("day").agg(
        F.count_distinct("_u").alias("n_active")
    )


def user_event_sequences(
    events: DataFrame,
    max_len: int = 8,
    stride: int = 4,
    key_col: str = "user_id",
    ts_col: str = "ts",
    item_col: str = "event_id",
) -> DataFrame:
    """Fixed-length overlapping event sequences per user — the
    training-example generator for behavioral sequence models
    (session-based recommendation, event-stream LMs): each user's
    time-ordered history is cut into windows of ``max_len`` items
    every ``stride`` items; the final partial window is kept iff it
    adds items (i.e. its start is a stride boundary inside the
    history).

    One shuffle keyed by user (the sorted collect), then a map-only
    posexplode of window starts — sequences never re-shuffle. Executor
    memory bounds one user's history (the applyInPandas/sessionization
    envelope); per-sequence output is (key, seq_idx, items
    array, n_items). Ordering inside a sequence is total:
    (ts, item) sorts make equal-timestamp histories deterministic.
    """
    hist = (
        events.select(key_col, ts_col, item_col)
        .groupBy(key_col)
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(ts_col, item_col))
                ),
                lambda s: s[item_col],
            ).alias("_items")
        )
    )
    n = F.size("_items")
    starts = F.sequence(
        F.lit(0),
        F.greatest(
            F.ceil((n - max_len) / F.lit(stride)).cast("long"), F.lit(0)
        ),
    )
    return (
        hist.select(
            key_col,
            "_items",
            F.posexplode(
                F.transform(
                    starts,
                    lambda i: F.slice(
                        F.col("_items"), i * stride + 1, max_len
                    ),
                )
            ).alias("seq_idx", "items"),
        )
        .filter(F.size("items") > 0)
        .select(
            key_col,
            "seq_idx",
            "items",
            F.size("items").alias("n_items"),
        )
    )


def seasonal_outliers(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    z_threshold: float = 3.0,
    round_dp: int = 4,
) -> DataFrame:
    """Seasonal anomaly detection over event volumes: flag
    (key, hour-bucket) counts that deviate from the key's
    hour-of-day baseline — ``(key, day, hour, n, z, is_outlier)``.

    The model is the classic ops one: for each key and hour-of-day
    slot (0-23), the baseline is the mean/stddev of that slot's
    DAILY counts across the observed period; z = (n - mean) / std.
    Slots with zero variance (constant traffic) are never outliers.

    Two hash aggregations — hourly counts (shuffle keyed by
    (key, day, hour), partial-aggregated map-side), then the 24-row-
    per-key baseline — and one broadcast join back. The baseline
    frame is |keys| x 24 rows, bounded; the fact shuffles once.
    z rounds to ``round_dp`` (sum-of-squares magnitudes are small;
    the usual cross-engine contract).
    """
    hourly = (
        events.select(
            F.col(key_col).alias("key"),
            F.to_date(ts_col).alias("day"),
            F.hour(ts_col).alias("hour"),
        )
        .groupBy("key", "day", "hour")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    baseline = hourly.groupBy("key", "hour").agg(
        F.avg("n").alias("mu"),
        F.stddev_samp("n").alias("sd"),
    )
    z = F.when(
        F.col("sd").isNotNull() & (F.col("sd") > 0),
        F.round((F.col("n") - F.col("mu")) / F.col("sd"), round_dp),
    )
    return (
        hourly.join(F.broadcast(baseline), ["key", "hour"])
        .select(
            "key",
            "day",
            "hour",
            "n",
            z.alias("z"),
            F.coalesce(
                F.abs(z) > z_threshold, F.lit(False)
            ).alias("is_outlier"),
        )
    )


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: float = 0.05,
    round_dp: int = 6,
) -> DataFrame:
    """Pairwise association rules (support / confidence / lift) —
    the market-basket analysis classic (Agrawal & Srikant 1994,
    pruned to 2-itemsets):

    ``(antecedent, consequent, support, confidence, lift)`` for every
    ordered pair whose JOINT support ≥ ``min_support`` (both
    directions emitted — confidence is asymmetric).

    * support(a→b)    = |baskets with a and b| / |baskets|
    * confidence(a→b) = support(a,b) / support(a)
    * lift(a→b)       = confidence(a→b) / support(b)

    Scale design — the apriori pruning IS the skew armor: items below
    ``min_support`` are filtered BEFORE the per-basket pair
    self-join (a subset of a frequent pair is frequent, so this
    drops no qualifying rule — the apriori property), which bounds
    the pair fan-out to frequent items only; the long tail that
    dominates a raw catalog never enters the quadratic step. The
    basket-keyed self-join then shuffles (basket, item) integer pairs
    once. Ratios divide exact integer counts and round to
    ``round_dp`` — the cross-engine contract.
    """
    bi = df.select(
        F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
    ).distinct()
    n_baskets = bi.select("basket").distinct().agg(
        F.count(F.lit(1)).cast("double").alias("_n")
    )
    item_n = bi.groupBy("item").agg(F.count(F.lit(1)).alias("_in"))
    # apriori prune: only items that can still reach min_support pair
    # support participate in the pair join.
    frequent = (
        item_n.crossJoin(F.broadcast(n_baskets))
        .filter(F.col("_in") / F.col("_n") >= min_support)
        .select("item", "_in")
    )
    fbi = bi.join(F.broadcast(frequent.select("item")), "item")
    a, b = fbi.alias("a"), fbi.alias("b")
    pair_n = (
        a.join(
            b,
            (F.col("a.basket") == F.col("b.basket"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("ia"), F.col("b.item").alias("ib")
        )
        .agg(F.count(F.lit(1)).alias("_pn"))
    )
    directed = pair_n.select(
        F.col("ia").alias("antecedent"),
        F.col("ib").alias("consequent"),
        "_pn",
    ).unionByName(
        pair_n.select(
            F.col("ib").alias("antecedent"),
            F.col("ia").alias("consequent"),
            "_pn",
        )
    )
    na = frequent.select(
        F.col("item").alias("antecedent"), F.col("_in").alias("_na")
    )
    nc = frequent.select(
        F.col("item").alias("consequent"), F.col("_in").alias("_nc")
    )
    scored = (
        directed.join(F.broadcast(na), "antecedent")
        .join(F.broadcast(nc), "consequent")
        .crossJoin(F.broadcast(n_baskets))
        .filter(F.col("_pn") / F.col("_n") >= min_support)
    )
    supp = F.col("_pn") / F.col("_n")
    conf = F.col("_pn").cast("double") / F.col("_na")
    lift = conf / (F.col("_nc") / F.col("_n"))
    return scored.select(
        "antecedent",
        "consequent",
        F.round(supp, round_dp).alias("support"),
        F.round(conf, round_dp).alias("confidence"),
        F.round(lift, round_dp).alias("lift"),
    )


def last_touch_attribution(
    events: DataFrame,
    conversion_type: str = "purchase",
    touch_types: tuple[str, ...] = ("click", "view"),
    window_seconds: int = 3600,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Last-touch marketing attribution: each conversion credits the
    LATEST qualifying touch event (click/view) by the same user
    within the preceding ``window_seconds`` —
    ``(conversion_id, user_id, conv_ts, value, touch_id, touch_type,
    touch_ts)``, NULL touch columns for organic conversions.

    This is the as-of-join shape (operators/temporal.py) specialized
    to the attribution asymmetry: the union + sorted-window scan
    pairs each conversion with its running latest touch in ONE
    shuffle on the user key + one sort — no per-conversion self-join,
    no range theta-join. The window cutoff is applied AFTER the scan
    (a touch older than the window yields NULL credit, exactly like
    an as-of miss).

    Determinism: the scan orders by (ts, is-conversion, event id) so
    a touch and conversion at the SAME timestamp attribute (touch
    sorts first), and equal-ts touches resolve to the higher event
    id (latest-wins tie-break).
    """
    from pyspark.sql import Window

    base = events.select(
        F.col(user_col).alias("user_id"),
        F.col(ts_col).alias("ts"),
        F.col(type_col).alias("event_type"),
        F.col(id_col).alias("event_id"),
        F.col(value_col).alias("value"),
    )
    touches = base.filter(F.col("event_type").isin(*touch_types)).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.lit(None).cast("double").alias("value"),
        F.lit(0).alias("_is_conv"),
    )
    convs = base.filter(F.col("event_type") == conversion_type).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.lit(1).alias("_is_conv"),
    )
    u = touches.unionByName(convs)
    w = Window.partitionBy("user_id").orderBy(
        "ts", "_is_conv", "event_id"
    ).rowsBetween(Window.unboundedPreceding, -1)
    touch_struct = F.when(
        F.col("_is_conv") == 0,
        F.struct(
            F.col("ts").alias("t_ts"),
            F.col("event_id").alias("t_id"),
            F.col("event_type").alias("t_type"),
        ),
    )
    scanned = u.withColumn("_last_touch", F.max(touch_struct).over(w))
    out = scanned.filter(F.col("_is_conv") == 1)
    in_window = F.col("_last_touch").isNotNull() & (
        F.col("ts").cast("long") - F.col("_last_touch.t_ts").cast("long")
        <= window_seconds
    )
    return out.select(
        F.col("event_id").alias("conversion_id"),
        "user_id",
        F.col("ts").alias("conv_ts"),
        "value",
        F.when(in_window, F.col("_last_touch.t_id")).alias("touch_id"),
        F.when(in_window, F.col("_last_touch.t_type")).alias("touch_type"),
        F.when(in_window, F.col("_last_touch.t_ts")).alias("touch_ts"),
    )


def sequential_pairs(
    events: DataFrame,
    max_gap_seconds: int = 3600,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    round_dp: int = 6,
) -> DataFrame:
    """Directed event-transition mining: for every user's time-ordered
    stream, count immediate A→B transitions whose gap is at most
    ``max_gap_seconds``, with the transition probability
    P(next = B | current = A, a transition happened) — the sequential
    counterpart of :func:`association_rules`' unordered co-occurrence
    (which direction do users actually flow?).

    One window pass per user (``lead`` over the (ts, id)-sorted
    stream — the total order makes equal-timestamp streams
    deterministic, the ewma/attribution contract), then ONE hash
    aggregation on the (A, B) pair: a single user-key shuffle plus a
    shuffle of |types|² aggregate rows. The per-A totals for the
    probability come from a window over the AGGREGATED table —
    |types|² rows, map-side trivial — never a second scan of the
    fact.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    gap_us = F.unix_micros(F.lead(ts_col).over(w)) - F.unix_micros(
        F.col(ts_col)
    )
    pairs = (
        events.select(
            F.col(user_col).alias("_u"),
            F.col(type_col).alias("type_a"),
            F.lead(type_col).over(w).alias("type_b"),
            gap_us.alias("_gap_us"),
        )
        .filter(
            F.col("type_b").isNotNull()
            & (F.col("_gap_us") <= max_gap_seconds * 1_000_000)
        )
    )
    agg = pairs.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.count_distinct("_u").alias("n_users"),
    )
    wa = Window.partitionBy("type_a")
    return agg.select(
        "type_a",
        "type_b",
        "n_pairs",
        "n_users",
        F.round(
            F.col("n_pairs") / F.sum("n_pairs").over(wa), round_dp
        ).alias("p_next"),
    )


def skyline(
    df: DataFrame,
    prefs: dict[str, str],
    candidate_budget: int = 100_000,
    max_rounds: int = 8,
) -> DataFrame:
    """n-dimensional skyline (Pareto front): keep exactly the rows no
    other row dominates, where ``prefs`` maps each measure column to
    ``"min"`` or ``"max"`` and row b dominates row a iff b is at
    least as good on EVERY measure and strictly better on at least
    one (Börzsönyi et al., ICDE 2001 — "The Skyline Operator").
    Duplicate measure vectors never dominate each other (no strict
    edge), so tied rows all survive — the NOT EXISTS semantics of
    the SQL formulation, row for row. Rows with a NULL in any
    measure are excluded by contract (dominance is undefined there).

    Scale shape — the classic two-phase distributed skyline:

    1. LOCAL prune: each partition computes its own skyline with a
       vectorized numpy pass (points sorted lexicographically, so a
       dominator always precedes its victims; each point checks only
       the current skyline set). Any globally non-dominated point is
       non-dominated in its partition, so phase 1 never drops a
       skyline member — it only shrinks the candidate set, typically
       by orders of magnitude (correlated data keeps skylines tiny).
    2. CANDIDATE-FUNNEL rounds (VERDICT r4 item 7): while the
       candidate set still exceeds ``candidate_budget``, candidates
       are repartitioned into ~8× fewer partitions and locally pruned
       again — each round mixes survivors from different earlier
       partitions, so cross-partition dominance (what phase 1 cannot
       see) eliminates them before anything funnels to one task. The
       loop stops on budget, on ``max_rounds``, on reaching one
       partition, or when a round stops shrinking the set (a
       fixpoint means the remainder is mutually non-dominated — it IS
       the skyline, and the final pass just confirms it).
    3. GLOBAL pass: the (now budget-bounded) candidates coalesce to
       one partition for the exact pass. The single-partition input
       can exceed the budget only when the TRUE skyline does — an
       output-size lower bound no algorithm avoids; adversarial fully
       anti-correlated data is exactly that case, and the funnel
       rounds then terminate early via the fixpoint check (a
       non-shrinking round) instead of burning shuffles; the exact
       final pass — not the fixpoint heuristic — guarantees the
       result either way.

    Every prune only ever drops dominated rows, so the result is
    EXACT for any budget/round setting. The measure columns are cast
    to double and sign-oriented so smaller-is-better uniformly;
    payload columns ride along untouched.
    """
    import numpy as np
    import pandas as pd

    cols = list(prefs)
    for c, p in prefs.items():
        if p not in ("min", "max"):
            raise ValueError(f"prefs[{c!r}] must be min|max, got {p!r}")
    keep = df.na.drop(subset=cols)
    oriented = [
        (F.col(c) * (1 if prefs[c] == "min" else -1))
        .cast("double")
        .alias(f"_m_{i}")
        for i, c in enumerate(cols)
    ]
    work = keep.select("*", *oriented)
    mcols = [f"_m_{i}" for i in range(len(cols))]
    out_schema = keep.schema

    def _local_pareto(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = pdf[mcols].to_numpy(dtype="float64")
        n = len(vals)
        if n == 0:
            return pdf.drop(columns=mcols)
        order = np.lexsort(vals.T[::-1])
        sky_rows: list[int] = []
        sky_vals = np.empty((0, vals.shape[1]))
        for idx in order:
            p = vals[idx]
            if len(sky_rows):
                dominated = (
                    (sky_vals <= p).all(axis=1) & (sky_vals < p).any(axis=1)
                ).any()
                if dominated:
                    continue
            sky_rows.append(idx)
            sky_vals = np.vstack([sky_vals, p])
        return pdf.iloc[sorted(sky_rows)].drop(columns=mcols)

    def _phase(it):
        for pdf in it:
            yield _local_pareto(pdf)

    if candidate_budget < 1:
        raise ValueError("candidate_budget must be >= 1")
    rows = F.count(F.lit(1)).alias("n")
    local, probe = observed_checkpoint(
        work.mapInPandas(_phase, schema=out_schema), rows
    )
    n = probe["n"]
    nparts = max(1, local.rdd.getNumPartitions())
    rounds = 0
    while n > candidate_budget and nparts > 1 and rounds < max_rounds:
        nparts = max(1, nparts // 8)
        local, probe = observed_checkpoint(
            local.repartition(nparts)
            .select("*", *oriented)
            .mapInPandas(_phase, schema=out_schema),
            rows,
        )
        n_next = probe["n"]
        rounds += 1
        if n_next == n:
            break  # fixpoint: likely all-skyline; exact pass settles it
        n = n_next
    # re-attach orientation for the global pass (the local output
    # dropped the working columns so its schema is the user schema)
    global_work = local.select("*", *oriented).coalesce(1)
    return global_work.mapInPandas(_phase, schema=out_schema)


def skyline_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    x_pref: str = "min",
    y_pref: str = "max",
) -> DataFrame:
    """Exact 2-D skyline in PURE window/join SQL — no Python in the
    plan. Identical semantics to :func:`skyline` (ties all survive,
    NULL-measure rows excluded); exists because the 2-D case — the
    overwhelmingly common one (price/quality, cost/throughput) — has
    a sort-based closed form:

    orient to (min x, max y); group to per-distinct-x ``max(y)``;
    then a point is dominated iff a strictly smaller x reached >= its
    y (EXCLUSIVE prefix running max over the x-sorted DISTINCT-x
    aggregate) or its own x reached a strictly larger y. One shuffle
    to the |distinct x|-row aggregate and one equi-join back — the
    fact is scanned twice and never windowed.

    The prefix max itself runs DISTRIBUTED (the psm_att /
    :func:`~.prefix.prefix_sums` carry pattern, round-14 fix): on a
    continuous x, |distinct x| ≈ n and a bare ``Window.orderBy(_sx)``
    would sort the world on one task. ``repartitionByRange(_sx)``
    gives a cross-partition total order; a per-range-partition ROWS
    window computes the local exclusive running max; per-partition
    max-y totals — a TINY agg, ≤ shuffle.partitions rows — feed an
    exclusive prefix max over THAT bounded frame (the only
    unpartitioned window) and broadcast back, so
    ``_prev = greatest(local exclusive max, carried prefix max)``
    (``greatest`` skips NULLs, exactly the coalesce-carry semantics).
    Totals aggregate the WINDOW OUTPUT so the planner reuses the one
    range exchange for both branches.
    """
    sx = 1 if x_pref == "min" else -1
    sy = 1 if y_pref == "max" else -1
    if x_pref not in ("min", "max") or y_pref not in ("min", "max"):
        raise ValueError("prefs must be min|max")
    from pyspark.sql import Window

    keep = df.na.drop(subset=[x_col, y_col])
    work = keep.select(
        "*",
        (F.col(x_col) * sx).cast("double").alias("_sx"),
        (F.col(y_col) * sy).cast("double").alias("_sy"),
    )
    agg = work.groupBy("_sx").agg(F.max("_sy").alias("_ymax"))
    parts = agg.repartitionByRange("_sx").withColumn(
        "_pid", F.spark_partition_id().cast("long")
    )
    wloc = (
        Window.partitionBy("_pid")
        .orderBy("_sx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = parts.withColumn("_lprev", F.max("_ymax").over(wloc))
    ptots = local.groupBy("_pid").agg(F.max("_ymax").alias("_pmax"))
    wcarry = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carries = ptots.select(
        "_pid", F.max("_pmax").over(wcarry).alias("_carry")
    )
    stats = (
        local.join(F.broadcast(carries), "_pid")
        .withColumn("_prev", F.greatest("_lprev", "_carry"))
        .drop("_pid", "_lprev", "_carry")
    )
    joined = work.join(stats, "_sx")
    survives = (
        (F.col("_prev").isNull() | (F.col("_prev") < F.col("_sy")))
        & (F.col("_sy") == F.col("_ymax"))
    )
    return joined.filter(survives).select(*[F.col(c) for c in keep.columns])


def cuped_adjusted_means(
    df: DataFrame,
    arm_col: str,
    metric_col: str,
    covariate_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """CUPED-adjusted experiment readout (Deng et al., WSDM 2013):
    per arm ``(arm, n, mean_raw, mean_adjusted)`` where
    ``mean_adjusted = mean(Y) - theta * (mean(X) - mean_all(X))``
    with the POOLED ``theta = cov(X, Y) / var(X)`` — the standard
    variance-reduction step every experimentation platform applies
    before the t-test (the pre-period covariate X soaks up
    between-user variance the treatment can't explain). Rows with
    NULL metric or covariate are excluded pairwise.

    One fact scan to per-arm sufficient statistics (n, Σx, Σy, Σxy,
    Σx²) — a |arms|-row aggregate; the pooled moments then come from
    an unpartitioned window over THAT tiny table (never a second
    scan), and theta/adjustment are plain Column arithmetic, the
    linear_trend closed-form contract: textbook sums spelled out so
    the FP op order pins cross-engine at ``round_dp``. Zero-variance
    X degenerates to theta = 0 (adjusted == raw), not a division
    blowup.
    """
    from pyspark.sql import Window

    x = F.col(covariate_col).cast("double")
    y = F.col(metric_col).cast("double")
    keep = df.filter(x.isNotNull() & y.isNotNull())
    per_arm = keep.groupBy(arm_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
    )
    w = Window.partitionBy()
    tot = lambda c: F.sum(c).over(w)  # noqa: E731
    nt = tot(F.col("n")).cast("double")
    sx, sy = tot(F.col("_sx")), tot(F.col("_sy"))
    sxy, sxx = tot(F.col("_sxy")), tot(F.col("_sxx"))
    var_x = nt * sxx - sx * sx
    theta = F.when(var_x != 0, (nt * sxy - sx * sy) / var_x).otherwise(
        F.lit(0.0)
    )
    mean_all_x = sx / nt
    nd = F.col("n").cast("double")
    mean_y = F.col("_sy") / nd
    mean_x = F.col("_sx") / nd
    return per_arm.select(
        arm_col,
        "n",
        F.round(mean_y, round_dp).alias("mean_raw"),
        F.round(
            mean_y - theta * (mean_x - mean_all_x), round_dp
        ).alias("mean_adjusted"),
    )


def did_estimate(
    df: DataFrame,
    group_col: str,
    period_col: str,
    value_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Difference-in-differences 2×2 estimate (Card & Krueger 1994,
    the workhorse panel-causal readout next to
    :func:`cuped_adjusted_means`' variance reduction): one row

        (n, mean_c_pre, mean_c_post, mean_t_pre, mean_t_post,
         did, se, t_stat)

    with ``did = (T_post − T_pre) − (C_post − C_pre)`` and the
    normal-approximation ``se = sqrt(Σ_cell var/n)`` over the four
    cells (the unclustered textbook form; with repeated units,
    cluster first — documented, not silently assumed). ``group_col``
    and ``period_col`` are 0/1 (or boolean — cast): treated and
    post-period indicators. NULL values excluded; a missing cell
    yields NULL did (better loud than a fabricated zero).

    Scale shape: ONE map-side-combined hash aggregation to 4 cells,
    then a conditional reduction of those 4 rows. Nothing else
    touches the fact.
    """
    g = F.col(group_col).cast("int")
    p = F.col(period_col).cast("int")
    v = F.col(value_col)
    cells = (
        df.filter(v.isNotNull() & g.isNotNull() & p.isNotNull())
        .groupBy(g.alias("_g"), p.alias("_p"))
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.avg(v).alias("_m"),
            F.var_samp(v).alias("_v"),
        )
    )

    def cell(gv: int, pv: int, col: str):
        return F.max(
            F.when((F.col("_g") == gv) & (F.col("_p") == pv), F.col(col))
        )

    agg = cells.agg(
        F.sum("_n").alias("n"),
        cell(0, 0, "_m").alias("_c0"),
        cell(0, 1, "_m").alias("_c1"),
        cell(1, 0, "_m").alias("_t0"),
        cell(1, 1, "_m").alias("_t1"),
        F.sum(F.col("_v") / F.col("_n")).alias("_se2"),
        # var_samp is NULL for a singleton cell and F.sum SKIPS
        # nulls — track whether every cell contributed so a
        # degenerate cell yields NULL se (loud), not a silently
        # understated one
        F.count(F.col("_v")).alias("_nv"),
        F.count(F.lit(1)).alias("_nc"),
    )
    did = (F.col("_t1") - F.col("_t0")) - (F.col("_c1") - F.col("_c0"))
    se = F.when(
        F.col("_nv") == F.col("_nc"), F.sqrt(F.col("_se2"))
    )
    t_stat = F.when(se > 0, did / se)
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.round("_c0", 2).alias("mean_c_pre"),
        F.round("_c1", 2).alias("mean_c_post"),
        F.round("_t0", 2).alias("mean_t_pre"),
        F.round("_t1", 2).alias("mean_t_post"),
        F.round(did, 2).alias("did"),
        F.round(se, 2).alias("se"),
        F.round(t_stat, round_dp).alias("t_stat"),
    )


def psm_att(
    df: DataFrame,
    treated_col: str,
    score_col: str,
    outcome_col: str,
    id_col: str,
    caliper: float | None = None,
    round_dp: int = 6,
) -> DataFrame:
    """Propensity-score nearest-neighbor matching (with replacement)
    + ATT (Rosenbaum & Rubin 1983): each treated unit matches the
    control with the closest score — backward or forward along the
    score axis, ties to the backward side — and the average
    treatment effect on the treated is ``mean(y_treated −
    y_matched_control)``. One summary row ``(n_treated, n_control,
    n_matched, att, mean_treated, mean_matched_control)``.
    ``caliper`` drops matches further than the given score distance
    (the standard overlap guard). Control ties at the same score
    resolve to the largest id backward / smallest id forward —
    a total order, deterministic in both engines.

    Scale shape: the sorted-neighborhood trick, NOT a
    nearest-neighbor theta-join — two linear "running last control"
    passes (backward and forward) along the score order, then a
    scalar reduction; no pairwise blow-up anywhere. The running
    last is a PREFIX computation, so it distributes exactly like
    :func:`~.prefix.prefix_sums` — no
    single-partition global-order window anywhere:
    ``repartitionByRange(_s, _t, _id)`` gives a total order across
    partitions; per-partition windows (partitioned by
    ``spark_partition_id``) compute the within-partition running
    last control in both directions; the per-partition LAST/FIRST
    control structs — a TINY agg, ≤ shuffle.partitions rows — carry
    across boundaries via ignorenulls-last windows over that tiny
    frame and broadcast back, so each row's backward match is
    ``coalesce(local running last, carried prefix last)`` (mirror
    for forward). Exact for ANY caliper (including none — the
    carried struct reaches arbitrarily far), unlike a ±caliper
    margin duplication. The only global-order windows run over the
    per-partition totals frame, bounded by the partition count.
    """
    from pyspark.sql import Window

    t = F.col(treated_col).cast("int")
    s = F.col(score_col).cast("double")
    base = df.filter(
        t.isNotNull() & s.isNotNull() & F.col(outcome_col).isNotNull()
    ).select(
        t.alias("_t"),
        s.alias("_s"),
        F.col(outcome_col).cast("double").alias("_y"),
        F.col(id_col).alias("_id"),
    )
    # controls sort BEFORE treated at equal score so an exact-score
    # control is visible in the backward pass; _id makes the order
    # total (ties resolve to largest id backward / smallest forward).
    # Struct field order (_s, _id, _y) makes lexicographic min/max
    # agree with the sort order restricted to controls (_t == 0).
    parts = base.repartitionByRange("_s", "_t", "_id").withColumn(
        "_pid", F.spark_partition_id().cast("long")
    )
    ctrl = F.when(
        F.col("_t") == 0, F.struct(F.col("_s"), F.col("_id"), F.col("_y"))
    )
    wloc = (
        Window.partitionBy("_pid")
        .orderBy("_s", "_t", "_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # forward pass as a REVERSED running last — an unbounded-FOLLOWING
    # first() frame re-scans the tail per row (O(n²): measured 16+ min
    # at 450k units on one core); frames ending at CURRENT ROW are
    # incremental. Fully reversed sort keys mirror the sequence
    # exactly, tie semantics included.
    wrev = (
        Window.partitionBy("_pid")
        .orderBy(
            F.col("_s").desc(), F.col("_t").desc(), F.col("_id").desc()
        )
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = parts.select(
        "_pid",
        "_t",
        "_s",
        "_y",
        F.last(ctrl, ignorenulls=True).over(wloc).alias("_lb"),
        F.last(ctrl, ignorenulls=True).over(wrev).alias("_lf"),
    )
    # per-partition LAST and FIRST control in sort order — lexicographic
    # struct max/min over (_s, _id, _y); NULL when the partition holds
    # no control. Computed from the window output so the planner reuses
    # the range exchange for both branches.
    ptots = local.groupBy("_pid").agg(
        F.max(F.when(F.col("_t") == 0, F.col("_lb"))).alias("_pl"),
        F.min(F.when(F.col("_t") == 0, F.col("_lf"))).alias("_pf"),
    )
    wasc = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wdesc = Window.orderBy(F.col("_pid").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    carries = ptots.select(
        "_pid",
        F.last("_pl", ignorenulls=True).over(wasc).alias("_cb"),
        F.last("_pf", ignorenulls=True).over(wdesc).alias("_cf"),
    )
    flagged = local.join(F.broadcast(carries), "_pid").select(
        "_t",
        "_s",
        "_y",
        F.coalesce(F.col("_lb"), F.col("_cb")).alias("_b"),
        F.coalesce(F.col("_lf"), F.col("_cf")).alias("_f"),
    )
    bd = F.abs(F.col("_s") - F.col("_b._s"))
    fd = F.abs(F.col("_f._s") - F.col("_s"))
    # nearer side wins; ties (including both-null) fall backward
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
            F.avg(F.when(F.col("_my").isNotNull(), F.col("_y"))).alias(
                "_mt"
            ),
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


def conformal_intervals(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    alpha: float = 0.1,
) -> DataFrame:
    """Split-conformal prediction intervals per group (Vovk et al.;
    Lei et al. 2018, "Distribution-Free Predictive Inference"), with
    the empirical coverage measured on a held-out half — the
    distribution-free uncertainty wrapper a production scorer ships
    with.

    Protocol (deterministic, no RNG state): rows split by id parity —
    even ids calibrate, odd ids test. The point predictor is the
    calibration-half group mean (2dp-rounded BEFORE scoring so the
    fp summation-order noise of avg() can't flip downstream
    comparisons cross-engine); nonconformity is ``|value - pred|``;
    ``qhat`` is the k-th smallest calibration score with the
    finite-sample correction ``k = ceil((n_cal + 1) * (1 - alpha))``
    (capped at n_cal — the cap fires only when ``alpha <
    1/(n_cal+1)``, where the honest interval is the whole line).
    Marginal coverage of ``pred ± qhat`` on the test half is then
    >= 1 - alpha in expectation.

    Scale shape: the k-th order statistic per group is the first
    calibration score whose running count per group
    (:func:`~.prefix.prefix_sums`) reaches k, never percentile()'s one
    merge buffer per group; the per-group model frame (bounded by
    |groups|) is broadcast. A NULL group is a group: every join on
    the group key is NULL-safe.
    """
    from fractions import Fraction

    if not 0 < alpha < 1:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    # exact rational 1 - alpha via the DECIMAL literal (str-roundtrip):
    # alpha=0.1 -> 9/10, so k = ceil((n+1)*9/10) is integer arithmetic
    # — ceil on a float product is boundary-fragile cross-engine
    frac = 1 - Fraction(str(alpha))
    p, q = frac.numerator, frac.denominator
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).cast("double").alias("v"),
        (F.col(id_col).cast("long") % 2 == 0).alias("_is_cal"),
    ).filter(F.col("v").isNotNull())
    cal = base.filter("_is_cal")
    test = base.filter(~F.col("_is_cal"))

    def by_grp(left: DataFrame, right: DataFrame) -> DataFrame:
        right = right.withColumnRenamed("grp", "_rg")
        cond = left["grp"].eqNullSafe(right["_rg"])
        return left.join(F.broadcast(right), cond).drop("_rg")

    model = cal.groupBy("grp").agg(
        F.round(F.avg("v"), 2).alias("pred"),
        F.count(F.lit(1)).alias("n_cal"),
    )
    scores = by_grp(cal, model.select("grp", "pred")).select(
        "grp",
        F.abs(F.col("v") - F.col("pred")).alias("s"),
        F.lit(1).alias("_one"),
    )
    ranked = prefix_sums(scores, ["s"], ["_one"], ["grp"])
    # k = min(ceil((n_cal + 1) * p / q), n_cal) via integer ceil-div:
    # ceil(a/q) = floor((a + q - 1) / q). The float division by q is
    # exact where it matters: the numerator is an exact integer double
    # (< 2^53 for any real n_cal), and IEEE division is correctly
    # rounded, so floor() can only disagree with the rational value if
    # the true quotient is an integer — where the division is exact.
    # The group's score count is n_cal.
    n_cal = F.col("_tot_one")
    k = F.least(
        F.floor(((n_cal + 1) * p + (q - 1)) / F.lit(float(q))).cast("long"),
        n_cal,
    )
    qhat = (
        ranked.filter(F.col("_cum_one") >= k)
        .groupBy("grp")
        .agg(F.min("s").alias("qhat"))
    )
    return (
        by_grp(test, by_grp(model, qhat))
        .groupBy("grp")
        .agg(
            F.first("pred").alias("pred"),
            F.round(F.first("qhat"), 2).alias("qhat"),
            F.first("n_cal").alias("n_cal"),
            F.count(F.lit(1)).alias("n_test"),
            F.round(
                F.avg(
                    (
                        F.abs(F.col("v") - F.col("pred")) <= F.col("qhat")
                    ).cast("double")
                ),
                4,
            ).alias("coverage"),
        )
    )


def ipf_raking(
    sample: DataFrame,
    population: DataFrame,
    row_col: str,
    col_col: str,
    iterations: int = 3,
    round_dp: int = 6,
) -> DataFrame:
    """Iterative proportional fitting (raking; Deming & Stephan 1940)
    — calibrate per-cell weights on a sample so its weighted row and
    column margins match the population's margins. The survey-stats /
    dataset-reweighting workhorse: fix a biased sample's demographic
    (or domain × language) mix without per-row modeling.

    ``iterations`` is FIXED (not run-to-convergence) so the result is
    deterministic and the SQL twin can unroll the same steps. Each
    iteration rescales weights by ``row_target/row_margin`` then
    ``col_target/col_margin`` (margins weighted by the current w);
    cells whose margin is zero keep their weight (guarded — ANSI mode
    throws on bare division). Returns one row per observed sample
    cell: ``(row_val, col_val, n, weight)`` with ``weight`` rounded
    at round_dp (margin sums are fp-summation-order sensitive at the
    last ulp; everything upstream of the rounding is plain double
    arithmetic shared with the twin).

    Scale shape: the facts are touched exactly twice — one hash agg
    each for sample cells and population margins (map-side combine,
    distinct-key shuffles). The iteration itself runs on the CELL
    table (|rows| × |cols| — bounded model state, broadcast-sized)
    via whole-frame window sums; no fact re-scan, no driver loop.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    from pyspark.sql import Window

    cells = sample.groupBy(
        F.col(row_col).alias("row_val"), F.col(col_col).alias("col_val")
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    pop_rows = population.groupBy(F.col(row_col).alias("row_val")).agg(
        F.count(F.lit(1)).cast("double").alias("_rt")
    )
    pop_cols = population.groupBy(F.col(col_col).alias("col_val")).agg(
        F.count(F.lit(1)).cast("double").alias("_ct")
    )
    # population margins scaled to the SAMPLE's total so the fitted
    # weights stay O(1) (classic raking normalization)
    n_sample = cells.agg(F.sum("n").alias("_ns"))
    n_pop = population.agg(F.count(F.lit(1)).cast("double").alias("_np"))
    cur = (
        cells.join(F.broadcast(pop_rows), "row_val")
        .join(F.broadcast(pop_cols), "col_val")
        .crossJoin(F.broadcast(n_sample))
        .crossJoin(F.broadcast(n_pop))
        .select(
            "row_val",
            "col_val",
            "n",
            (F.col("_rt") * F.col("_ns") / F.col("_np")).alias("rt"),
            (F.col("_ct") * F.col("_ns") / F.col("_np")).alias("ct"),
            F.lit(1.0).alias("w"),
        )
    )
    w_row = Window.partitionBy("row_val")
    w_col = Window.partitionBy("col_val")
    for _ in range(iterations):
        rm = F.sum(F.col("n") * F.col("w")).over(w_row)
        cur = cur.withColumn(
            "w",
            F.when(rm > 0, F.col("w") * F.col("rt") / rm).otherwise(
                F.col("w")
            ),
        )
        cm = F.sum(F.col("n") * F.col("w")).over(w_col)
        cur = cur.withColumn(
            "w",
            F.when(cm > 0, F.col("w") * F.col("ct") / cm).otherwise(
                F.col("w")
            ),
        )
    return cur.select(
        "row_val",
        "col_val",
        F.col("n").cast("long").alias("n"),
        F.round("w", round_dp).alias("weight"),
    )


def simpsons_slopes(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Simpson's-paradox probe (Simpson 1951; the aggregation-bias
    check every per-segment dashboard needs): the pooled OLS slope of
    ``y ~ x`` next to each stratum's own slope, with a ``flipped``
    flag where the stratum slope's sign contradicts the pooled sign —
    the signature of a lurking stratification variable, where acting
    on the pooled trend would be exactly wrong.

    Output: one row per stratum ``(group, n, slope, pooled_slope,
    flipped)``. Slopes use the closed form (nΣxy − ΣxΣy)/(nΣx² −
    (Σx)²); a zero-variance x (within a stratum or pooled) yields
    NULL slope and NULL flipped — never a DIVIDE_BY_ZERO (ANSI).

    Scale shape: ONE scan computing per-stratum sufficient statistics
    (hash agg keyed by stratum); the pooled statistics are the
    re-aggregate of the per-stratum partials (never a second scan);
    pooled joins back by broadcast. Sign comparison is on exact
    doubles, flag only — no pairwise or window work anywhere.
    """
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(x_col).cast("double").alias("_x"),
        F.col(y_col).cast("double").alias("_y"),
    ).filter(F.col("_x").isNotNull() & F.col("_y").isNotNull())
    per = base.groupBy("grp").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
    )

    def _slope(n, sx, sy, sxy, sxx):
        den = n * sxx - sx * sx
        return F.when(den > 0, (n * sxy - sx * sy) / den).otherwise(
            F.lit(None).cast("double")
        )

    pooled = per.agg(
        F.sum("_n").alias("_pn"),
        F.sum("_sx").alias("_psx"),
        F.sum("_sy").alias("_psy"),
        F.sum("_sxy").alias("_psxy"),
        F.sum("_sxx").alias("_psxx"),
    ).select(
        _slope(
            F.col("_pn"),
            F.col("_psx"),
            F.col("_psy"),
            F.col("_psxy"),
            F.col("_psxx"),
        ).alias("_pooled")
    )
    g = _slope(
        F.col("_n"), F.col("_sx"), F.col("_sy"), F.col("_sxy"), F.col("_sxx")
    )
    return (
        per.crossJoin(F.broadcast(pooled))
        .select(
            F.col("grp").alias(group_col),
            F.col("_n").cast("long").alias("n"),
            F.round(g, round_dp).alias("slope"),
            F.round(F.col("_pooled"), round_dp).alias("pooled_slope"),
            F.when(
                g.isNotNull() & F.col("_pooled").isNotNull(),
                (g > 0) != (F.col("_pooled") > 0),
            ).alias("flipped"),
        )
    )


def kruskal_wallis(
    df: DataFrame,
    group_col: str,
    value_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Kruskal–Wallis H test (Kruskal & Wallis 1952) — the rank-based
    k-group location test: ``anova_f``'s distribution-free sibling for
    skewed or ordinal metrics, with the standard tie correction
    (discrete metrics like quantities and star ratings are ALL ties,
    so the uncorrected H understates evidence).

    Output: ONE row ``(n, k_groups, dof, h_stat, h_corrected,
    epsilon_sq)``. ``h_corrected = H / (1 - Σ(t³-t)/(n³-n))`` is NULL
    when every observation shares one value (correction factor 0);
    ``epsilon_sq = (H - k + 1)/(n - k)`` is the effect size (NULL when
    n <= k).

    Scale shape: ranks are NEVER assigned per row. One hash agg to
    (group, value) pair counts, a re-agg to per-value totals, and
    average ranks come from the DISTINCT-VALUE table's running count
    (:func:`~.prefix.prefix_sums`). Average ranks stay exact
    (exclusive prefix count + half-integer within-tie midpoint, both
    exact in doubles), so the statistic is reproducible across
    partitionings. The (group, value) pair-count
    aggregate is the only fact-sized shuffle; the value-keyed re-agg
    and rank join ride |distinct|-sized tables and AQE picks the join
    strategy (broadcast when the value table is small).
    """
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).cast("double").alias("v"),
    ).filter(F.col("grp").isNotNull() & F.col("v").isNotNull())
    gv = base.groupBy("grp", "v").agg(F.count(F.lit(1)).alias("c"))
    vals = gv.groupBy(F.col("v").alias("_v")).agg(F.sum("c").alias("_t"))
    ranked = prefix_sums(vals, ["_v"], ["_t"]).select(
        F.col("_v").alias("v"),
        F.col("_t").cast("double").alias("t"),
        (
            (F.col("_cum_t") - F.col("_t")).cast("double")
            + (F.col("_t") + 1) / 2.0
        ).alias("avg_rank"),
    )
    per = (
        gv.join(ranked, "v")
        .groupBy("grp")
        .agg(
            F.sum("c").alias("n_g"),
            F.sum(F.col("c") * F.col("avg_rank")).alias("r_g"),
            # Σ_v c_gv·(t_v²−1) re-aggregates to Σ_v (t³−t): the tie
            # term rides the same pass instead of a second branch.
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


def iv_2sls(
    df: DataFrame,
    y_col: str,
    x_col: str,
    z_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Instrumental-variable slope via the Wald / just-identified 2SLS
    closed form (Angrist & Pischke 2009 §4): when the regressor x is
    confounded (x and y share an unobserved cause), OLS is biased;
    with an instrument z that moves x but touches y only THROUGH x,
    ``beta_iv = cov(z,y)/cov(z,x)`` recovers the causal slope.

    Output: ONE row ``(n, beta_ols, first_stage_slope, beta_iv)`` —
    the naive slope, the instrument-strength diagnostic
    ``cov(z,x)/var(z)`` (a weak first stage means beta_iv is noise),
    and the IV estimate. Zero-variance / zero-covariance denominators
    yield NULL, never DIVIDE_BY_ZERO (ANSI).

    Scale shape: ONE scan, one hash agg of nine sufficient statistics
    (n, Σx, Σy, Σz, Σxy, Σzx, Σzy, Σxx, Σzz) with map-side combine;
    every estimate is closed-form arithmetic on the single result row.
    """
    base = df.select(
        F.col(y_col).cast("double").alias("_y"),
        F.col(x_col).cast("double").alias("_x"),
        F.col(z_col).cast("double").alias("_z"),
    ).filter(
        F.col("_y").isNotNull()
        & F.col("_x").isNotNull()
        & F.col("_z").isNotNull()
    )
    s = base.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("_x").alias("sx"),
        F.sum("_y").alias("sy"),
        F.sum("_z").alias("sz"),
        F.sum(F.col("_x") * F.col("_y")).alias("sxy"),
        F.sum(F.col("_z") * F.col("_x")).alias("szx"),
        F.sum(F.col("_z") * F.col("_y")).alias("szy"),
        F.sum(F.col("_x") * F.col("_x")).alias("sxx"),
        F.sum(F.col("_z") * F.col("_z")).alias("szz"),
    )
    n = F.col("n")

    def _ratio(num, den, strict_pos):
        cond = (den > 0) if strict_pos else (den != 0)
        return F.when(cond, num / den).otherwise(
            F.lit(None).cast("double")
        )

    cov_zx = n * F.col("szx") - F.col("sz") * F.col("sx")
    return s.select(
        n.cast("long").alias("n"),
        F.round(
            _ratio(
                n * F.col("sxy") - F.col("sx") * F.col("sy"),
                n * F.col("sxx") - F.col("sx") * F.col("sx"),
                True,
            ),
            round_dp,
        ).alias("beta_ols"),
        F.round(
            _ratio(
                cov_zx,
                n * F.col("szz") - F.col("sz") * F.col("sz"),
                True,
            ),
            round_dp,
        ).alias("first_stage_slope"),
        F.round(
            _ratio(
                n * F.col("szy") - F.col("sz") * F.col("sy"),
                cov_zx,
                False,
            ),
            round_dp,
        ).alias("beta_iv"),
    )


def eb_shrinkage(
    df: DataFrame,
    group_col: str,
    value_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Empirical-Bayes shrinkage of per-group means toward the grand
    mean (James–Stein / method-of-moments normal-normal model; Efron &
    Morris 1975). Small groups' raw means are noise; the shrunk mean
    ``M + λ_g·(m_g − M)`` with ``λ_g = τ²/(τ² + s²/n_g)`` borrows
    strength from the whole table — the standard smoother for
    per-domain quality scores, per-seller ratings, per-segment
    averages before anyone ranks on them.

    Method-of-moments between-group variance: ``τ² = max(0, (SSB −
    (k−1)·s²) / (N − Σn_g²/N))``, pooled within-variance ``s² =
    SSW/(N−k)``. Degenerate inputs (N ≤ k, zero variance everywhere)
    shrink fully to the grand mean (λ = 0) rather than erroring.

    Output: one row per group ``(group, n, mean, shrink_weight,
    shrunk_mean)``.

    Scale shape: ONE fact scan to per-group sufficient statistics
    (hash agg, map-side combine); grand-mean / τ² / s² re-aggregate
    the k partials and broadcast back. Nothing row-wise after the
    first agg; no window, no second scan.
    """
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).cast("double").alias("v"),
    ).filter(F.col("grp").isNotNull() & F.col("v").isNotNull())
    per = base.groupBy("grp").agg(
        F.count(F.lit(1)).cast("double").alias("n_g"),
        F.sum("v").alias("sv"),
        F.sum(F.col("v") * F.col("v")).alias("svv"),
    )
    glob = per.agg(
        F.sum("n_g").alias("N"),
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("sv").alias("svt"),
        # SSW partial: Σ_g (svv_g − sv_g²/n_g); SSB needs Σ sv_g²/n_g
        F.sum(
            F.col("svv") - F.col("sv") * F.col("sv") / F.col("n_g")
        ).alias("ssw"),
        F.sum(F.col("sv") * F.col("sv") / F.col("n_g")).alias("ssq"),
        F.sum(F.col("n_g") * F.col("n_g")).alias("sn2"),
    )
    N, k = F.col("N"), F.col("k")
    grand = F.col("svt") / N
    s2 = F.when(N > k, F.col("ssw") / (N - k)).otherwise(F.lit(0.0))
    ssb = F.col("ssq") - F.col("svt") * F.col("svt") / N
    tau_den = N - F.col("sn2") / N
    tau2 = F.when(
        tau_den > 0,
        F.greatest(
            (ssb - (k - 1) * s2) / tau_den, F.lit(0.0)
        ),
    ).otherwise(F.lit(0.0))
    enriched = per.crossJoin(
        F.broadcast(
            glob.select(
                grand.alias("_grand"), s2.alias("_s2"), tau2.alias("_tau2")
            )
        )
    )
    m_g = F.col("sv") / F.col("n_g")
    lam_den = F.col("_tau2") + F.col("_s2") / F.col("n_g")
    lam = F.when(
        lam_den > 0, F.col("_tau2") / lam_den
    ).otherwise(F.lit(0.0))
    return enriched.select(
        F.col("grp").alias(group_col),
        F.col("n_g").cast("long").alias("n"),
        F.round(m_g, round_dp).alias("mean"),
        F.round(lam, round_dp).alias("shrink_weight"),
        F.round(
            F.col("_grand") + lam * (m_g - F.col("_grand")), round_dp
        ).alias("shrunk_mean"),
    )


def ips_offpolicy(
    df: DataFrame,
    action_col: str,
    reward_col: str,
    propensity_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Off-policy evaluation of the UNIFORM target policy from logged
    bandit feedback (Horvitz–Thompson IPS, self-normalized SNIPS, and
    Kish effective sample size; Dudík et al. 2011). Given rows
    ``(action, reward, logged propensity)``, estimates the value a
    uniform-random policy over the k observed actions WOULD have
    earned — the counterfactual every data-collection policy change
    gets judged against before anyone ships it.

    ``w_i = (1/k)/p_i``; ``ips = Σ(w·r)/n``; ``snips = Σ(w·r)/Σw``
    (NULL when Σw = 0); ``ess = (Σw)²/Σw²`` — the honest sample size
    after weighting (k and Σw diverge exactly when logged propensities
    are miscalibrated, which is what SNIPS corrects). Rows with NULL
    or non-positive propensity are excluded from n (clipping is the
    caller's policy decision, not silently applied here).

    Output: ONE row ``(n, k_actions, mean_logged_reward, ips, snips,
    ess)``.

    Scale shape: one distinct-count agg for k (broadcast back), then
    ONE scan aggregating the four weighted moments — no per-action
    re-keying, no window, map-side combine throughout.
    """
    base = df.select(
        F.col(action_col).alias("_a"),
        F.col(reward_col).cast("double").alias("_r"),
        F.col(propensity_col).cast("double").alias("_p"),
    ).filter(
        F.col("_a").isNotNull()
        & F.col("_r").isNotNull()
        & F.col("_p").isNotNull()
        & (F.col("_p") > 0)
    )
    kdf = base.agg(
        F.countDistinct("_a").cast("double").alias("_k")
    )
    w = F.lit(1.0) / F.col("_k") / F.col("_p")
    agg = base.crossJoin(F.broadcast(kdf)).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.first("_k").alias("k"),
        F.sum("_r").alias("sr"),
        F.sum(w * F.col("_r")).alias("swr"),
        F.sum(w).alias("sw"),
        F.sum(w * w).alias("sww"),
    )
    n = F.col("n")
    return agg.select(
        n.cast("long").alias("n"),
        F.col("k").cast("long").alias("k_actions"),
        F.round(
            F.when(n > 0, F.col("sr") / n), round_dp
        ).alias("mean_logged_reward"),
        F.round(
            F.when(n > 0, F.col("swr") / n), round_dp
        ).alias("ips"),
        F.round(
            F.when(F.col("sw") > 0, F.col("swr") / F.col("sw")),
            round_dp,
        ).alias("snips"),
        F.round(
            F.when(
                F.col("sww") > 0,
                F.col("sw") * F.col("sw") / F.col("sww"),
            ),
            round_dp,
        ).alias("ess"),
    )


def power_mde(
    df: DataFrame,
    group_col: str,
    value_col: str,
    alpha_z: float = 1.9599639845400545,
    power_z: float = 0.8416212335729143,
    round_dp: int = 6,
) -> DataFrame:
    """Per-segment minimum detectable effect for a two-arm test sized
    like the segment (the pre-experiment power check): ``mde_abs =
    (z_{α/2} + z_β)·sd·√(2/n_arm)`` with each arm assumed to get this
    segment's n — the smallest true lift a test on this segment could
    reliably see at the default α=0.05 / power=0.80 (z constants are
    Φ⁻¹ literals so the SQL twin is bit-identical; pass your own for
    other designs).

    Output: one row per group ``(group, n, mean, sd, mde_abs,
    mde_rel)`` — ``sd`` is the sample standard deviation from
    sufficient statistics (NULL when n < 2, as is the MDE);
    ``mde_rel = mde_abs/mean`` is NULL when the mean is 0 or negative
    (relative lift is meaningless for non-positive baselines).

    Scale shape: ONE hash agg of per-group (n, Σv, Σv²) with map-side
    combine; everything after is per-group closed-form arithmetic.
    Pairs with ``srm_check``/``neyman_alloc`` as the designed-before-
    measured experiment toolkit.
    """
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).cast("double").alias("v"),
    ).filter(F.col("grp").isNotNull() & F.col("v").isNotNull())
    per = base.groupBy("grp").agg(
        F.count(F.lit(1)).cast("double").alias("n_g"),
        F.sum("v").alias("sv"),
        F.sum(F.col("v") * F.col("v")).alias("svv"),
    )
    n = F.col("n_g")
    mean = F.col("sv") / n
    var = F.when(
        n > 1,
        F.greatest(
            (F.col("svv") - F.col("sv") * F.col("sv") / n) / (n - 1),
            F.lit(0.0),
        ),
    ).otherwise(F.lit(None).cast("double"))
    sd = F.sqrt(var)
    mde = (alpha_z + power_z) * sd * F.sqrt(F.lit(2.0) / n)
    return per.select(
        F.col("grp").alias(group_col),
        n.cast("long").alias("n"),
        F.round(mean, round_dp).alias("mean"),
        F.round(sd, round_dp).alias("sd"),
        F.round(mde, round_dp).alias("mde_abs"),
        F.round(
            F.when(mean > 0, mde / mean), round_dp
        ).alias("mde_rel"),
    )


def msprt_test(
    df: DataFrame,
    arm_col: str,
    value_col: str,
    control,
    treatment,
    tau2: float = 1.0,
    alpha: float = 0.05,
    round_dp: int = 6,
) -> DataFrame:
    """Mixture sequential probability ratio test (mSPRT; Johari,
    Koomen, Pekelis & Walsh 2017 — the "always-valid p-value" behind
    continuous-monitoring A/B dashboards): unlike a fixed-horizon
    test, the decision stays valid no matter how often (or when) you
    peek. Normal approximation with a Gaussian mixture prior of
    variance ``tau2`` over the effect:

        Λ = √(se²/(se²+τ²)) · exp(δ²τ² / (2·se²·(se²+τ²)))
        p_always_valid = min(1, 1/Λ)

    where δ is the observed mean difference and se² the two-sample
    standard-error square (sample variances / n). ``tau2`` encodes the
    expected effect scale — match it to the metric's units.

    Output: ONE row ``(n_control, n_treatment, mean_control,
    mean_treatment, delta, se, lam, p_always_valid, reject_h0)``.
    Degenerate arms (n < 2 or zero variance) yield NULL statistics,
    never DIVIDE_BY_ZERO.

    Scale shape: ONE scan with conditional aggregation (six sufficient
    statistics; map-side combine) — the arm filter folds into the agg,
    no per-arm re-keying, nothing after the single result row.
    """
    if tau2 <= 0:
        raise ValueError(f"tau2 must be > 0, got {tau2}")
    a, b = F.lit(control), F.lit(treatment)
    base = df.select(
        F.col(arm_col).alias("_g"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(
        F.col("_v").isNotNull()
        & ((F.col("_g") == a) | (F.col("_g") == b))
    )

    def _s(cond, expr):
        return F.sum(F.when(cond, expr).otherwise(F.lit(0.0)))

    is_a, is_b = F.col("_g") == a, F.col("_g") == b
    s = base.agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("double").alias("na"),
        F.sum(F.when(is_b, 1).otherwise(0)).cast("double").alias("nb"),
        _s(is_a, F.col("_v")).alias("sa"),
        _s(is_b, F.col("_v")).alias("sb"),
        _s(is_a, F.col("_v") * F.col("_v")).alias("qa"),
        _s(is_b, F.col("_v") * F.col("_v")).alias("qb"),
    )
    na, nb = F.col("na"), F.col("nb")
    ma, mb = F.col("sa") / na, F.col("sb") / nb
    # n = 1 would make (n-1) a 0.0 double divisor: IEEE NaN, which
    # Spark comparisons then treat as LARGEST (NaN > 0 is true) while
    # DuckDB doesn't — guard to NULL before any comparison sees it
    va = F.when(
        na > 1,
        F.greatest(
            (F.col("qa") - F.col("sa") * F.col("sa") / na) / (na - 1),
            F.lit(0.0),
        ),
    )
    vb = F.when(
        nb > 1,
        F.greatest(
            (F.col("qb") - F.col("sb") * F.col("sb") / nb) / (nb - 1),
            F.lit(0.0),
        ),
    )
    se2 = va / na + vb / nb
    delta = mb - ma
    t2 = F.lit(float(tau2))
    lam = F.sqrt(se2 / (se2 + t2)) * F.exp(
        delta * delta * t2 / (2.0 * se2 * (se2 + t2))
    )
    ok = (na > 1) & (nb > 1)
    lam_ok = F.when(ok & (se2 > 0), lam).otherwise(
        F.lit(None).cast("double")
    )
    # least() skips NULL args in both Spark and DuckDB, so a bare
    # least(1.0, 1.0/NULL) would read 1.0 — guard so degenerate arms
    # propagate NULL into p_always_valid and reject_h0
    p = F.when(
        lam_ok.isNotNull(), F.least(F.lit(1.0), 1.0 / lam_ok)
    )
    return s.select(
        na.cast("long").alias("n_control"),
        nb.cast("long").alias("n_treatment"),
        F.round(F.when(na > 0, ma), round_dp).alias("mean_control"),
        F.round(F.when(nb > 0, mb), round_dp).alias("mean_treatment"),
        F.round(F.when(ok, delta), round_dp).alias("delta"),
        F.round(
            F.when(ok & (se2 > 0), F.sqrt(se2)), round_dp
        ).alias("se"),
        F.round(lam_ok, round_dp).alias("lam"),
        F.round(p, round_dp).alias("p_always_valid"),
        (p < F.lit(float(alpha))).alias("reject_h0"),
    )


def funnel_ab_test(
    events: DataFrame,
    stages: list[str],
    arm_col: str,
    user_col: str = "user_id",
    type_col: str = "event_type",
    round_dp: int = 6,
) -> DataFrame:
    """Per-stage A/B funnel comparison: for each adjacent stage
    transition, the two arms' conversion rates (stage-i reach over
    stage-(i-1) reach, unordered any-time reach) and the pooled
    two-proportion z statistic — the "did the variant break checkout"
    readout. Reported as z against the usual 1.96 line
    (``significant_05``); the normal CDF stays out of scope, the
    repo-wide rank_sum_test convention (neither engine ships erf).

    Output: one row per transition ``(stage_idx, stage, users_a,
    users_b, conv_a, conv_b, z, significant_05)`` where arm "a" is the
    lexicographically smaller arm value; stage_idx 0 rows carry the
    top-of-funnel reach with NULL conversions (nothing to convert
    from). Zero denominators / zero-variance pooled rates yield NULL
    z, never errors.

    The (arm × stage) reach table is DENSIFIED before the lag: absent
    cells count as zero reach, so each stage's conversion denominator
    is always the immediately preceding stage (never a skipped-over
    earlier one) and stages with zero reach in both arms still emit a
    row.

    Scale shape: one distinct (user, arm, stage) aggregate (the only
    fact-sized shuffle), then per-(arm, stage) counts and a
    lag-window + pivot on the |stages|×2 model table.
    """
    if len(stages) < 2:
        raise ValueError("need at least two stages")
    from pyspark.sql import Window

    stage_map = {s: i for i, s in enumerate(stages)}
    mapping = F.create_map(
        *[F.lit(x) for kv in stage_map.items() for x in kv]
    )
    base = (
        events.select(
            F.col(user_col).alias("u"),
            F.col(arm_col).alias("arm"),
            F.col(type_col).alias("et"),
        )
        .filter(F.col("et").isin(list(stages)) & F.col("arm").isNotNull())
        .select("u", "arm", mapping[F.col("et")].alias("idx"))
        .distinct()
    )
    reach_raw = base.groupBy("arm", "idx").agg(
        F.count(F.lit(1)).cast("double").alias("r")
    )
    # densify: every (arm, stage) cell exists with r=0, so lag(prev)
    # always refers to the IMMEDIATELY preceding stage (a sparse table
    # would silently compare conversions against different
    # denominators when an arm skips a stage) and stages with zero
    # reach in both arms still emit a row
    full_idx = F.explode(
        F.array(*[F.lit(i) for i in range(len(stages))])
    ).alias("idx")
    grid = reach_raw.select("arm").distinct().select("arm", full_idx)
    reach = grid.join(reach_raw, ["arm", "idx"], "left").withColumn(
        "r", F.coalesce(F.col("r"), F.lit(0.0))
    )
    w = Window.partitionBy("arm").orderBy("idx")
    conv = reach.withColumn("prev", F.lag("r").over(w))
    # two-arm pivot via conditional agg keyed by stage (arm "a" is the
    # MIN arm value — deterministic without caller-supplied order)
    amin = reach.agg(F.min("arm").alias("_a"))
    sides = (
        conv.crossJoin(F.broadcast(amin))
        .withColumn("is_a", F.col("arm") == F.col("_a"))
        .groupBy("idx")
        .agg(
            F.max(F.when(F.col("is_a"), F.col("r"))).alias("ra"),
            F.max(F.when(~F.col("is_a"), F.col("r"))).alias("rb"),
            F.max(F.when(F.col("is_a"), F.col("prev"))).alias("pa"),
            F.max(F.when(~F.col("is_a"), F.col("prev"))).alias("pb"),
        )
    )
    ca = F.when(F.col("pa") > 0, F.col("ra") / F.col("pa"))
    cb = F.when(F.col("pb") > 0, F.col("rb") / F.col("pb"))
    pooled = F.when(
        (F.col("pa") > 0) & (F.col("pb") > 0),
        (F.col("ra") + F.col("rb")) / (F.col("pa") + F.col("pb")),
    )
    zden = F.sqrt(
        pooled
        * (1.0 - pooled)
        * (1.0 / F.col("pa") + 1.0 / F.col("pb"))
    )
    z = F.when(zden > 0, (ca - cb) / zden)
    rev = F.create_map(
        *[F.lit(x) for i, s in enumerate(stages) for x in (i, s)]
    )
    return sides.select(
        F.col("idx").cast("int").alias("stage_idx"),
        rev[F.col("idx")].alias("stage"),
        F.coalesce(F.col("ra"), F.lit(0.0)).cast("long").alias("users_a"),
        F.coalesce(F.col("rb"), F.lit(0.0)).cast("long").alias("users_b"),
        F.round(ca, round_dp).alias("conv_a"),
        F.round(cb, round_dp).alias("conv_b"),
        F.round(z, round_dp).alias("z"),
        F.when(z.isNotNull(), F.abs(z) > 1.9599639845400545).alias(
            "significant_05"
        ),
    ).orderBy("stage_idx")


def cmh_test(
    df: DataFrame,
    stratum_col: str,
    exposed_col: str,
    outcome_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Cochran–Mantel–Haenszel test over stratified 2×2 tables: "does
    exposure associate with outcome, CONTROLLING for the stratum?" —
    the guard against Simpson reversals that a pooled chi-square
    (:func:`~.profile.chi2_lang_source` shape) can't give, and the
    stratified readout experiment pipelines run when assignment is
    blocked by site/day/segment.

    Per stratum *k* with exposed margin ``n1``, outcome margin ``m1``,
    total ``n`` and exposed-AND-outcome cell ``a``:

        E_k = n1·m1/n      V_k = n1·(n−n1)·m1·(n−m1) / (n²·(n−1))
        χ²_CMH = (Σa − ΣE)² / ΣV          (no continuity correction)
        OR_MH  = Σ(a·d/n) / Σ(b·c/n)      (Mantel–Haenszel pooled OR)

    Strata with n < 2 are excluded (V undefined); χ² is NULL when
    ΣV = 0 and OR_MH is NULL when its denominator is 0 — degenerate
    inputs yield NULL, never DIVIDE_BY_ZERO (ANSI mode). As with
    :func:`~.profile.welch_ttest`, the CDF is out of scope: report
    χ²_CMH against the 1-df lines (3.84 / 6.63).

    Output: ONE row ``(n_strata, n_rows, sum_a, sum_e, var_sum,
    chi2_cmh, or_mh)``.

    Scale shape: one hash aggregation per stratum (map-side partial
    cell counts), then one global agg over the |strata|-row summary —
    the fact is scanned once and never re-keyed.
    """
    e = F.col(exposed_col).cast("boolean")
    o = F.col(outcome_col).cast("boolean")
    base = df.filter(e.isNotNull() & o.isNotNull()).select(
        F.col(stratum_col).alias("_s"), e.alias("_e"), o.alias("_o")
    )
    cells = base.groupBy("_s").agg(
        F.sum(F.when(F.col("_e") & F.col("_o"), 1).otherwise(0))
        .cast("double")
        .alias("a"),
        F.sum(F.when(F.col("_e"), 1).otherwise(0))
        .cast("double")
        .alias("n1"),
        F.sum(F.when(F.col("_o"), 1).otherwise(0))
        .cast("double")
        .alias("m1"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    n, n1, m1, a = F.col("n"), F.col("n1"), F.col("m1"), F.col("a")
    b, c = n1 - a, m1 - a
    d = n - n1 - m1 + a
    per = cells.filter(n > 1).select(
        a,
        n,
        (n1 * m1 / n).alias("e_k"),
        (n1 * (n - n1) * m1 * (n - m1) / (n * n * (n - 1))).alias("v_k"),
        (a * d / n).alias("or_num"),
        (b * c / n).alias("or_den"),
    )
    agg = per.agg(
        F.count(F.lit(1)).alias("n_strata"),
        F.sum("n").cast("long").alias("n_rows"),
        F.sum("a").alias("sum_a"),
        F.sum("e_k").alias("sum_e"),
        F.sum("v_k").alias("var_sum"),
        F.sum("or_num").alias("orn"),
        F.sum("or_den").alias("ord"),
    )
    dev = F.col("sum_a") - F.col("sum_e")
    return agg.select(
        F.col("n_strata").cast("int").alias("n_strata"),
        "n_rows",
        F.col("sum_a").cast("long").alias("sum_a"),
        F.round("sum_e", round_dp).alias("sum_e"),
        F.round("var_sum", round_dp).alias("var_sum"),
        F.round(
            F.when(F.col("var_sum") > 0, dev * dev / F.col("var_sum")),
            round_dp,
        ).alias("chi2_cmh"),
        F.round(
            F.when(F.col("ord") > 0, F.col("orn") / F.col("ord")),
            round_dp,
        ).alias("or_mh"),
    )


def mcnemar_test(
    df: DataFrame,
    pred_a_col: str,
    pred_b_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """McNemar's paired test for two binary classifiers scored on the
    SAME rows: only the discordant cells carry signal —

        χ² = (b − c)² / (b + c)     (no continuity correction)

    where ``b`` = rows A flags and B doesn't, ``c`` = the reverse.
    The quality-filter A/B readout (:func:`~.corpus.gopher_quality`
    vs a candidate heuristic) that a pooled accuracy delta gets wrong
    because it ignores pairing. χ² is NULL when b + c = 0 (identical
    classifiers — no evidence either way); report against the 1-df
    lines (3.84 / 6.63), CDF out of scope as in
    :func:`~.profile.welch_ttest`.

    Output: ONE row ``(n_pairs, n_both, n_neither, n_a_only,
    n_b_only, chi2_mcnemar)``.

    Scale shape: ONE scan, one conditional aggregation (map-side
    combine), one result row — nothing shuffles but four partial sums.
    """
    pa = F.col(pred_a_col).cast("boolean")
    pb = F.col(pred_b_col).cast("boolean")
    base = df.filter(pa.isNotNull() & pb.isNotNull()).select(
        pa.alias("_a"), pb.alias("_b")
    )
    agg = base.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("_a") & F.col("_b"), 1).otherwise(0)).alias(
            "n_both"
        ),
        F.sum(
            F.when(~F.col("_a") & ~F.col("_b"), 1).otherwise(0)
        ).alias("n_neither"),
        F.sum(F.when(F.col("_a") & ~F.col("_b"), 1).otherwise(0)).alias(
            "n_a_only"
        ),
        F.sum(F.when(~F.col("_a") & F.col("_b"), 1).otherwise(0)).alias(
            "n_b_only"
        ),
    )
    b = F.col("n_a_only").cast("double")
    c = F.col("n_b_only").cast("double")
    return agg.select(
        "n_pairs",
        "n_both",
        "n_neither",
        "n_a_only",
        "n_b_only",
        F.round(
            F.when((b + c) > 0, (b - c) * (b - c) / (b + c)), round_dp
        ).alias("chi2_mcnemar"),
    )


def granger_causality(
    df: DataFrame,
    ts_col: str,
    x_col: str,
    y_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Lag-1 Granger causality on the DAILY-SUM series: does
    yesterday's x improve today's y forecast beyond yesterday's y?
    Restricted model ``y_t ~ 1 + y_{t-1}`` vs full model
    ``y_t ~ 1 + y_{t-1} + x_{t-1}``; the F statistic for the one
    restriction is

        F = (RSS_r − RSS_f) · (n − 3) / RSS_f

    with both regressions solved in closed form from centered
    sufficient statistics (the 2-predictor normal equations reduce to
    a 2×2 determinant — the same spelled-out-OLS idiom as
    :func:`simpsons_slopes`). Fixed lag 1 by design: each extra lag
    adds a normal-equation dimension; the closed form stays honest
    only while the solve is hand-expandable. NULL statistics when
    n ≤ 3, the lagged-y variance is 0, the system is singular
    (D ≤ 0), or RSS_f ≤ 0 — report F against the (1, n−3) lines.

    Output: ONE row ``(n_obs, beta_y_lag, beta_x_lag, rss_restricted,
    rss_full, f_stat)``.

    Scale shape: the fact collapses to one row per day in a single
    hash aggregation; the lag window and the final sufficient-stats
    agg run on the |days|-row series — bounded state, the same
    contract as :func:`~.profile.acf_lags`.
    """
    from pyspark.sql import Window

    daily = df.filter(F.col(ts_col).isNotNull()).groupBy(
        F.to_date(F.col(ts_col)).alias("d")
    ).agg(
        F.sum(F.col(x_col).cast("double")).alias("x"),
        F.sum(F.col(y_col).cast("double")).alias("y"),
    )
    w = Window.orderBy("d")
    lagged = (
        daily.select(
            F.col("y"),
            F.lag("y").over(w).alias("y1"),
            F.lag("x").over(w).alias("x1"),
        )
        .filter(F.col("y1").isNotNull() & F.col("x1").isNotNull())
    )
    s = lagged.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("y").alias("sy"),
        F.sum("y1").alias("s1"),
        F.sum("x1").alias("s2"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("y1") * F.col("y1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x1")).alias("s22"),
        F.sum(F.col("y1") * F.col("x1")).alias("s12"),
        F.sum(F.col("y1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x1") * F.col("y")).alias("s2y"),
    )
    n = F.col("n")
    c11 = F.col("s11") - F.col("s1") * F.col("s1") / n
    c22 = F.col("s22") - F.col("s2") * F.col("s2") / n
    c12 = F.col("s12") - F.col("s1") * F.col("s2") / n
    c1y = F.col("s1y") - F.col("s1") * F.col("sy") / n
    c2y = F.col("s2y") - F.col("s2") * F.col("sy") / n
    cyy = F.col("syy") - F.col("sy") * F.col("sy") / n
    det = c11 * c22 - c12 * c12
    b1 = F.when((n > 3) & (det > 0), (c1y * c22 - c2y * c12) / det)
    b2 = F.when((n > 3) & (det > 0), (c2y * c11 - c1y * c12) / det)
    rss_f = cyy - b1 * c1y - b2 * c2y
    rss_r = F.when((n > 3) & (c11 > 0), cyy - c1y * c1y / c11)
    f_stat = F.when(
        rss_f > 0, (rss_r - rss_f) * (n - 3) / rss_f
    )
    return s.select(
        n.cast("long").alias("n_obs"),
        F.round(b1, round_dp).alias("beta_y_lag"),
        F.round(b2, round_dp).alias("beta_x_lag"),
        F.round(rss_r, round_dp).alias("rss_restricted"),
        F.round(rss_f, round_dp).alias("rss_full"),
        F.round(f_stat, round_dp).alias("f_stat"),
    )


def tost_equivalence(
    df: DataFrame,
    arm_col: str,
    value_col: str,
    control,
    treatment,
    margin: float,
    round_dp: int = 6,
) -> DataFrame:
    """Two-one-sided-tests (TOST) equivalence readout: the "did the
    change do NO HARM within ±margin" question a superiority test
    (:func:`~.profile.welch_ttest`) cannot answer — failing to reject
    H₀ is not evidence of equivalence (Schuirmann 1987). Both
    one-sided Welch z statistics are emitted:

        z_lower = (δ + margin) / se      (H₀: δ ≤ −margin)
        z_upper = (margin − δ) / se      (H₀: δ ≥ +margin)

    with ``equivalent_05`` true when BOTH exceed the one-sided 5%
    line (1.6449) — the TOST decision at α = 0.05. Degenerate arms
    (n < 2 or zero variance) yield NULL statistics, never
    DIVIDE_BY_ZERO; the CDF is out of scope (house rule).

    Scale shape: ONE scan with conditional aggregation (the
    :func:`msprt_test` six-statistic skeleton) — nothing after the
    single result row.
    """
    if margin <= 0:
        raise ValueError(f"margin must be > 0, got {margin}")
    a, b = F.lit(control), F.lit(treatment)
    base = df.select(
        F.col(arm_col).alias("_g"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(
        F.col("_v").isNotNull()
        & ((F.col("_g") == a) | (F.col("_g") == b))
    )
    is_a, is_b = F.col("_g") == a, F.col("_g") == b

    def _s(cond, expr):
        return F.sum(F.when(cond, expr).otherwise(F.lit(0.0)))

    s = base.agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("double").alias("na"),
        F.sum(F.when(is_b, 1).otherwise(0)).cast("double").alias("nb"),
        _s(is_a, F.col("_v")).alias("sa"),
        _s(is_b, F.col("_v")).alias("sb"),
        _s(is_a, F.col("_v") * F.col("_v")).alias("qa"),
        _s(is_b, F.col("_v") * F.col("_v")).alias("qb"),
    )
    na, nb = F.col("na"), F.col("nb")
    ma, mb = F.col("sa") / na, F.col("sb") / nb
    va = F.when(
        na > 1,
        F.greatest(
            (F.col("qa") - F.col("sa") * F.col("sa") / na) / (na - 1),
            F.lit(0.0),
        ),
    )
    vb = F.when(
        nb > 1,
        F.greatest(
            (F.col("qb") - F.col("sb") * F.col("sb") / nb) / (nb - 1),
            F.lit(0.0),
        ),
    )
    se2 = va / na + vb / nb
    se = F.when(se2 > 0, F.sqrt(se2))
    delta = mb - ma
    zl = (delta + F.lit(float(margin))) / se
    zu = (F.lit(float(margin)) - delta) / se
    z05 = 1.6448536269514722
    return s.select(
        na.cast("long").alias("n_control"),
        nb.cast("long").alias("n_treatment"),
        F.round(F.when(na > 0, ma), round_dp).alias("mean_control"),
        F.round(F.when(nb > 0, mb), round_dp).alias("mean_treatment"),
        F.round(F.when((na > 1) & (nb > 1), delta), round_dp).alias(
            "delta"
        ),
        F.round(se, round_dp).alias("se"),
        F.lit(float(margin)).alias("margin"),
        F.round(zl, round_dp).alias("z_lower"),
        F.round(zu, round_dp).alias("z_upper"),
        F.when(
            se.isNotNull(), (zl > z05) & (zu > z05)
        ).alias("equivalent_05"),
    )


def durbin_watson(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Durbin–Watson autocorrelation statistic of the DETRENDED daily
    series: residuals from the closed-form OLS of the daily sum on
    the day index, then

        DW = Σ (e_t − e_{t−1})² / Σ e_t²   ∈ [0, 4]

    — ≈2 means no lag-1 autocorrelation, →0 positive, →4 negative;
    the "is this metric's noise actually iid" check behind every
    daily-KPI confidence interval (:func:`~.profile.acf_lags` gives
    the correlogram, this gives the single canonical statistic on
    trend-removed residuals). NULL when n < 3 or the residuals are
    identically zero (a perfect linear trend).

    Scale shape: the fact collapses to one row per day in a single
    hash aggregation; the trend fit is a sufficient-statistics agg of
    that series, residuals + the lag difference run under one bounded
    |days| window — the :func:`~.profile.acf_lags` contract.
    """
    from pyspark.sql import Window

    daily = df.filter(F.col(ts_col).isNotNull()).groupBy(
        F.to_date(F.col(ts_col)).alias("d")
    ).agg(
        F.sum(F.col(value_col).cast("double")).alias("y")
    )
    ranked = daily.select(
        F.row_number().over(Window.orderBy("d")).cast("double").alias("t"),
        "y",
    )
    fit = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("t").alias("st"),
        F.sum("y").alias("sy"),
        F.sum(F.col("t") * F.col("y")).alias("sty"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
    )
    n = F.col("n")
    den = F.col("stt") - F.col("st") * F.col("st") / n
    slope = F.when(
        (n > 2) & (den > 0),
        (F.col("sty") - F.col("st") * F.col("sy") / n) / den,
    ).otherwise(F.lit(0.0))
    fit = fit.select(
        n.alias("n"),
        slope.alias("b"),
        (F.col("sy") / n - slope * F.col("st") / n).alias("a"),
    )
    resid = ranked.crossJoin(F.broadcast(fit)).select(
        "n",
        (F.col("y") - F.col("a") - F.col("b") * F.col("t")).alias("e"),
        F.col("t"),
    )
    w = Window.orderBy("t")
    lagged = resid.select(
        "n", "e", F.lag("e").over(w).alias("e1")
    )
    agg = lagged.agg(
        F.max("n").alias("n"),
        F.sum(F.col("e") * F.col("e")).alias("see"),
        F.sum(
            F.when(
                F.col("e1").isNotNull(),
                (F.col("e") - F.col("e1")) * (F.col("e") - F.col("e1")),
            )
        ).alias("sdd"),
    )
    dw = F.when(
        (F.col("n") > 2) & (F.col("see") > 0),
        F.col("sdd") / F.col("see"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n_days"),
        F.round("see", round_dp).alias("rss"),
        F.round(dw, round_dp).alias("dw_stat"),
    )


def runs_test(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Wald–Wolfowitz runs test for randomness of the daily series
    around its MEDIAN: count the maximal same-side runs R among the
    n₁ above / n₂ below days (ties-at-median excluded, the standard
    convention), compare with the exact null moments

        μ_R = 2n₁n₂/n + 1
        σ²_R = 2n₁n₂(2n₁n₂ − n) / (n²(n−1))

    z = (R − μ_R)/σ_R — trending/seasonal series produce too FEW runs
    (z ≪ 0), oscillating ones too many. The nonparametric cousin of
    :func:`durbin_watson` (no linearity assumption at all). NULL when
    either side is empty or σ = 0.

    Scale shape: one fact hash-agg to the daily series; the median,
    the side sequence, the run-boundary lag and the counts all run on
    the bounded |days| table (single window — the
    :func:`~.profile.acf_lags` contract).
    """
    from pyspark.sql import Window

    daily = df.filter(F.col(ts_col).isNotNull()).groupBy(
        F.to_date(F.col(ts_col)).alias("d")
    ).agg(
        F.sum(F.col(value_col).cast("double")).alias("y")
    )
    med = daily.agg(
        F.expr("percentile(y, 0.5)").alias("_med")
    )
    sides = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("y") != F.col("_med"))
        .select("d", (F.col("y") > F.col("_med")).alias("up"))
    )
    w = Window.orderBy("d")
    runs = sides.select(
        "up",
        F.when(
            F.lag("up").over(w).isNull()
            | (F.lag("up").over(w) != F.col("up")),
            1,
        )
        .otherwise(0)
        .alias("_new_run"),
    )
    agg = runs.agg(
        F.sum(F.when(F.col("up"), 1).otherwise(0))
        .cast("double")
        .alias("n1"),
        F.sum(F.when(~F.col("up"), 1).otherwise(0))
        .cast("double")
        .alias("n2"),
        F.sum("_new_run").cast("double").alias("r"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    n = n1 + n2
    mu = 2 * n1 * n2 / n + 1
    var = (
        2 * n1 * n2 * (2 * n1 * n2 - n) / (n * n * (n - 1))
    )
    ok = (n1 > 0) & (n2 > 0) & (n > 1)
    z = F.when(ok & (var > 0), (r - mu) / F.sqrt(var))
    return agg.select(
        n1.cast("long").alias("n_above"),
        n2.cast("long").alias("n_below"),
        r.cast("long").alias("n_runs"),
        F.round(F.when(ok, mu), round_dp).alias("expected_runs"),
        F.round(z, round_dp).alias("z_stat"),
    )


def cochran_q(
    df: DataFrame,
    pred_cols: list[str],
    round_dp: int = 6,
) -> DataFrame:
    """Cochran's Q — the k-classifier generalization of
    :func:`mcnemar_test`: do k binary treatments scored on the SAME
    rows have equal success rates?

        Q = (k−1) · [k·ΣC_j² − (ΣC_j)²] / [k·ΣR_i − ΣR_i²]

    with C_j the per-column totals and R_i the per-row sums — rows
    where all k agree (R_i = 0 or k) contribute nothing to the
    denominator, exactly the McNemar discordant-cell logic lifted to
    k columns. Report Q against χ²(k−1) (house rule). Rows with any
    NULL prediction are excluded; NULL Q when the denominator is 0
    (all rows unanimous). Requires k ≥ 2 columns.

    Scale shape: ONE scan, one conditional aggregation emitting 2k+2
    partial sums (map-side combine) — R_i and R_i² are row-local
    expressions, so nothing shuffles but the scalar row.
    """
    if len(pred_cols) < 2:
        raise ValueError(
            f"cochran_q needs >= 2 prediction columns, got {pred_cols}"
        )
    k = len(pred_cols)
    bs = [F.col(c).cast("boolean") for c in pred_cols]
    cond = bs[0].isNotNull()
    for b in bs[1:]:
        cond = cond & b.isNotNull()
    ints = [F.when(b, 1).otherwise(0) for b in bs]
    r_i = ints[0]
    for x in ints[1:]:
        r_i = r_i + x
    aggs = [
        F.sum(x).cast("double").alias(f"c{j}") for j, x in enumerate(ints)
    ]
    s = df.filter(cond).agg(
        F.count(F.lit(1)).alias("n_rows"),
        *aggs,
        F.sum(r_i).cast("double").alias("sr"),
        F.sum(r_i * r_i).cast("double").alias("sr2"),
    )
    csum = F.col("c0")
    csq = F.col("c0") * F.col("c0")
    for j in range(1, k):
        csum = csum + F.col(f"c{j}")
        csq = csq + F.col(f"c{j}") * F.col(f"c{j}")
    den = k * F.col("sr") - F.col("sr2")
    q = F.when(den > 0, (k - 1) * (k * csq - csum * csum) / den)
    return s.select(
        F.col("n_rows").cast("long").alias("n_rows"),
        F.lit(k).alias("k_treatments"),
        *[
            F.col(f"c{j}").cast("long").alias(f"successes_{j}")
            for j in range(k)
        ],
        F.round(q, round_dp).alias("q_stat"),
    )


def bowker_test(
    df: DataFrame,
    col_a: str,
    col_b: str,
    round_dp: int = 6,
) -> DataFrame:
    """Bowker's symmetry test — :func:`mcnemar_test` generalized to a
    k×k confusion matrix: are the two labelers' disagreements
    symmetric?

        χ² = Σ_{i<j} (n_ij − n_ji)² / (n_ij + n_ji)

    over all unordered level pairs with n_ij + n_ji > 0 (each such
    pair is one degree of freedom, reported as ``df_cells``) — the
    label-drift direction check when a heuristic labeler is replaced
    (asymmetric disagreement = systematic relabeling, not noise).
    NULL when no discordant pair exists.

    Scale shape: ONE (a, b) hash-agg over the fact; the mirror join
    runs on the ≤ k² cell table (broadcast), one reduce after.
    """
    cells = (
        df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .groupBy(F.col(col_a).alias("_i"), F.col(col_b).alias("_j"))
        .agg(F.count(F.lit(1)).cast("double").alias("_o"))
    )
    off = cells.filter(F.col("_i") != F.col("_j"))
    lo = F.least(F.col("_i"), F.col("_j"))
    hi = F.greatest(F.col("_i"), F.col("_j"))
    keyed = off.select(
        lo.alias("_l"),
        hi.alias("_h"),
        F.when(F.col("_i") < F.col("_j"), F.col("_o"))
        .otherwise(F.lit(0.0))
        .alias("_up"),
        F.when(F.col("_i") > F.col("_j"), F.col("_o"))
        .otherwise(F.lit(0.0))
        .alias("_dn"),
    ).groupBy("_l", "_h").agg(
        F.sum("_up").alias("nij"),
        F.sum("_dn").alias("nji"),
    )
    tot = cells.agg(
        F.sum("_o").alias("_n"),
        F.countDistinct("_i").alias("_ka"),
    )
    g = keyed.agg(
        F.count(F.lit(1)).alias("df_cells"),
        F.sum(
            (F.col("nij") - F.col("nji"))
            * (F.col("nij") - F.col("nji"))
            / (F.col("nij") + F.col("nji"))
        ).alias("_stat"),
        F.sum(F.col("nij") + F.col("nji")).alias("_disc"),
    ).crossJoin(F.broadcast(tot))
    return g.select(
        F.col("_n").cast("long").alias("n"),
        F.col("_disc").cast("long").alias("n_discordant"),
        F.col("df_cells").cast("int").alias("df_cells"),
        F.round("_stat", round_dp).alias("bowker_stat"),
    )


def hac_mean_ci(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    max_lag: int = 7,
    round_dp: int = 6,
) -> DataFrame:
    """Newey–West (HAC) standard error for the DAILY-series mean —
    the CI to quote when :func:`durbin_watson` says the noise is NOT
    iid (the naive s/√n interval is too narrow under positive
    autocorrelation, which is exactly how seasonal KPIs generate
    false alarms). Bartlett-kernel long-run variance with ``max_lag``
    lags:

        σ²_HAC = γ₀ + 2·Σ_{l=1..L} (1 − l/(L+1)) · γ_l
        se = sqrt(σ²_HAC / n),    γ_l = Σ_t (x_t−x̄)(x_{t−l}−x̄) / n

    Output: ONE row ``(n_days, mean, se_naive, se_hac, ratio,
    ci95_lo, ci95_hi)`` — ``ratio`` = se_hac/se_naive is the "how
    wrong was iid" factor. σ²_HAC is floored at 0 (the kernel
    guarantees ≥ 0 analytically; fp noise can dip); NULL when
    n ≤ max_lag + 1.

    Scale shape: the fact collapses to one row per day in a single
    hash aggregation; the mean joins back by broadcast and the L lag
    autocovariances come from ONE bounded |days| window pass (the
    :func:`~.profile.acf_lags` contract).
    """
    from pyspark.sql import Window

    if max_lag < 1:
        raise ValueError(f"max_lag must be >= 1, got {max_lag}")
    daily = df.filter(F.col(ts_col).isNotNull()).groupBy(
        F.to_date(F.col(ts_col)).alias("d")
    ).agg(
        F.sum(F.col(value_col).cast("double")).alias("y")
    )
    m = daily.agg(
        F.avg("y").alias("_mu"),
        F.count(F.lit(1)).cast("double").alias("_n"),
    )
    w = Window.orderBy("d")
    dev = daily.crossJoin(F.broadcast(m)).select(
        "_mu",
        "_n",
        (F.col("y") - F.col("_mu")).alias("e"),
        *[
            (F.lag("y", lag).over(w) - F.col("_mu")).alias(f"e{lag}")
            for lag in range(1, max_lag + 1)
        ],
    )
    agg = dev.agg(
        F.max("_mu").alias("mu"),
        F.max("_n").alias("n"),
        F.sum(F.col("e") * F.col("e")).alias("g0"),
        *[
            F.sum(F.col("e") * F.col(f"e{lag}")).alias(f"g{lag}")
            for lag in range(1, max_lag + 1)
        ],
    )
    n = F.col("n")
    g0 = F.col("g0") / n
    var_hac = g0
    for lag in range(1, max_lag + 1):
        var_hac = var_hac + 2.0 * (
            1.0 - lag / (max_lag + 1.0)
        ) * F.coalesce(F.col(f"g{lag}"), F.lit(0.0)) / n
    var_hac = F.greatest(var_hac, F.lit(0.0))
    ok = n > (max_lag + 1)
    se_naive = F.when(ok & (n > 1), F.sqrt(g0 * n / (n - 1) / n))
    se_hac = F.when(ok, F.sqrt(var_hac / n))
    z = 1.9599639845400545
    return agg.select(
        n.cast("long").alias("n_days"),
        F.round("mu", round_dp).alias("mean"),
        F.round(se_naive, round_dp).alias("se_naive"),
        F.round(se_hac, round_dp).alias("se_hac"),
        F.round(
            F.when(se_naive > 0, se_hac / se_naive), round_dp
        ).alias("ratio"),
        F.round(F.col("mu") - z * se_hac, round_dp).alias("ci95_lo"),
        F.round(F.col("mu") + z * se_hac, round_dp).alias("ci95_hi"),
    )

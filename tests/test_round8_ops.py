"""Round-8 operators: conformal_intervals, dp_counts,
join_cardinality, ipf_raking — each verified against an exact
pure-Python replay (the same discipline as the bootstrap draw
replay), plus the contract edges (determinism, clamps, guards)."""

from __future__ import annotations

import hashlib
import math

import pytest

from gbif_filter_python_spark.operators.analytics import (
    conformal_intervals,
    ipf_raking,
)
from gbif_filter_python_spark.operators.profile import (
    discrete_laplace_hex_thresholds,
    dp_counts,
)
from gbif_filter_python_spark.operators.skew import join_cardinality


# ---------------------------------------------------------------------------
# conformal_intervals
# ---------------------------------------------------------------------------


def _py_conformal(rows, alpha=0.1):
    """Exact replay: even-id calibration, 2dp-rounded group mean,
    k = ceil((n+1)(1-alpha)) capped at n, kth smallest |v - pred|."""
    from collections import defaultdict
    from fractions import Fraction

    frac = 1 - Fraction(str(alpha))
    cal, test = defaultdict(list), defaultdict(list)
    for g, v, i in rows:
        (cal if i % 2 == 0 else test)[g].append(v)
    out = {}
    for g, vs in cal.items():
        if g not in test:
            continue
        pred = round(sum(vs) / len(vs), 2)
        scores = sorted(abs(v - pred) for v in vs)
        k = min(
            -((-(len(vs) + 1) * frac.numerator) // frac.denominator),
            len(vs),
        )
        qhat = scores[k - 1]
        cov = sum(abs(v - pred) <= qhat for v in test[g]) / len(test[g])
        out[g] = (pred, round(qhat, 2), len(vs), len(test[g]), round(cov, 4))
    return out


def test_conformal_matches_python_replay(spark):
    rows = [
        ("g%d" % (i % 3), float((i * 37) % 100) + 0.25, i)
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, ["g", "v", "id"])
    got = {
        r["grp"]: (
            r["pred"], r["qhat"], r["n_cal"], r["n_test"], r["coverage"]
        )
        for r in conformal_intervals(df, "g", "v", "id", alpha=0.1).collect()
    }
    assert got == _py_conformal(rows, alpha=0.1)


def test_conformal_coverage_tracks_alpha(spark):
    # larger sample: empirical coverage should be near 1 - alpha
    rows = [("a", float((i * 9973) % 1000), i) for i in range(4000)]
    df = spark.createDataFrame(rows, ["g", "v", "id"])
    r = conformal_intervals(df, "g", "v", "id", alpha=0.2).collect()[0]
    assert 0.7 <= r["coverage"] <= 0.9
    assert r["n_cal"] == 2000 and r["n_test"] == 2000


def test_conformal_k_caps_at_n_cal(spark):
    # alpha < 1/(n_cal+1): k would exceed n_cal, must cap (widest band)
    rows = [("a", float(v), i) for i, v in enumerate([1, 9, 2, 8, 3, 7])]
    df = spark.createDataFrame(rows, ["g", "v", "id"])
    r = conformal_intervals(df, "g", "v", "id", alpha=0.001).collect()[0]
    py = _py_conformal(rows, alpha=0.001)["a"]
    assert (r["pred"], r["qhat"], r["n_cal"], r["n_test"], r["coverage"]) == py


def test_conformal_null_group_is_a_group(spark):
    # a NULL group keeps its rows through every join on the group key
    rows = [
        (g, float((i * 37) % 100) + 0.25, i)
        for g in ("a", None) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "g string, v double, id long")
    got = {
        r["grp"]: (
            r["pred"], r["qhat"], r["n_cal"], r["n_test"], r["coverage"]
        )
        for r in conformal_intervals(df, "g", "v", "id", alpha=0.1).collect()
    }
    assert set(got) == {"a", None}
    assert got == _py_conformal(rows, alpha=0.1)


def test_conformal_rejects_bad_alpha(spark):
    df = spark.createDataFrame([("a", 1.0, 1)], ["g", "v", "id"])
    with pytest.raises(ValueError, match="alpha"):
        conformal_intervals(df, "g", "v", "id", alpha=1.5)


# ---------------------------------------------------------------------------
# dp_counts
# ---------------------------------------------------------------------------


def _py_dp_noise(key_parts, seed, eps=0.5, k_max=31):
    ths = discrete_laplace_hex_thresholds(eps, k_max)
    u = hashlib.md5(
        "|".join([*key_parts, seed]).encode()
    ).hexdigest()[:8]
    for i, t in enumerate(ths):
        if u < t:
            return i - k_max
    return k_max


def test_dp_thresholds_are_monotonic_and_symmetricish():
    ths = discrete_laplace_hex_thresholds(0.5, 31)
    assert len(ths) == 62
    assert ths == sorted(ths)
    # median threshold (k <= -1 vs k >= 0 boundary) sits below 0.5,
    # and the k <= 0 mass sits above 0.5 (distribution symmetric
    # around 0): CDF(-1) < 0.5 < CDF(0)
    assert int(ths[30], 16) / 2**32 < 0.5 < int(ths[31], 16) / 2**32
    with pytest.raises(ValueError, match="eps"):
        discrete_laplace_hex_thresholds(0.0)


def test_dp_counts_matches_python_replay_and_is_deterministic(spark):
    rows = [("s%d" % (i % 3), "p%d" % (i % 2)) for i in range(400)]
    df = spark.createDataFrame(rows, ["s", "p"])
    out1 = {
        (r["s"], r["p"]): r["noisy_count"]
        for r in dp_counts(df, ["s", "p"], eps=0.5, seed="t").collect()
    }
    out2 = {
        (r["s"], r["p"]): r["noisy_count"]
        for r in dp_counts(df, ["s", "p"], eps=0.5, seed="t").collect()
    }
    assert out1 == out2  # deterministic re-release
    from collections import Counter

    exact = Counter(rows)
    for (s, p), noisy in out1.items():
        expect = max(0, exact[(s, p)] + _py_dp_noise([s, p], "t"))
        assert noisy == expect
        assert abs(noisy - exact[(s, p)]) <= 31  # bounded mechanism


def test_dp_counts_seed_changes_noise(spark):
    rows = [("a", "b")] * 100
    df = spark.createDataFrame(rows, ["s", "p"])
    outs = set()
    for seed in ("s1", "s2", "s3", "s4", "s5", "s6"):
        outs.add(dp_counts(df, ["s", "p"], seed=seed).collect()[0][2])
    assert len(outs) > 1  # noise actually varies with the seed
    with pytest.raises(ValueError, match="group_cols"):
        dp_counts(df, [], seed="x")


# ---------------------------------------------------------------------------
# join_cardinality
# ---------------------------------------------------------------------------


def test_join_cardinality_exact_counts_and_shares(spark):
    left = spark.createDataFrame(
        [("k1",)] * 3 + [("k2",)] * 2 + [("k3",)], ["k"]
    )
    right = spark.createDataFrame(
        [("k1",)] * 4 + [("k2",)] * 5 + [("k9",)], ["k"]
    )
    rows = join_cardinality(left, right, "k", "k", top_n=10).collect()
    got = [(r["key"], r["n_left"], r["n_right"], r["pairs"], r["share"])
           for r in rows]
    # total = 3*4 + 2*5 = 22; k1 first (12 > 10); k3/k9 excluded
    assert got == [
        ("k1", 3, 4, 12, round(12 / 22, 6)),
        ("k2", 2, 5, 10, round(10 / 22, 6)),
    ]
    # the probe's total equals the real join's cardinality
    assert left.join(right, "k").count() == 22


def test_join_cardinality_disjoint_keys_empty(spark):
    left = spark.createDataFrame([("a",)], ["k"])
    right = spark.createDataFrame([("b",)], ["k"])
    assert join_cardinality(left, right, "k", "k").count() == 0


# ---------------------------------------------------------------------------
# ipf_raking
# ---------------------------------------------------------------------------


def _py_rake(sample_cells, pop_rows, pop_cols, n_pop, iters=3):
    n_sample = sum(sample_cells.values())
    w = {cell: 1.0 for cell in sample_cells}
    rt = {r: v * n_sample / n_pop for r, v in pop_rows.items()}
    ct = {c: v * n_sample / n_pop for c, v in pop_cols.items()}
    for _ in range(iters):
        for dim, targets, idx in (("r", rt, 0), ("c", ct, 1)):
            margins = {}
            for cell, n in sample_cells.items():
                margins[cell[idx]] = margins.get(cell[idx], 0.0) + n * w[cell]
            for cell in w:
                m = margins[cell[idx]]
                if m > 0:
                    w[cell] *= targets[cell[idx]] / m
    return {cell: round(v, 6) for cell, v in w.items()}


def test_ipf_raking_matches_python_replay_and_margins(spark):
    pop = [("r%d" % (i % 3), "c%d" % (i % 4)) for i in range(600)]
    # biased sample: drop most of r0
    samp = [rc for i, rc in enumerate(pop) if i % 5 != 0 or rc[0] != "r0"]
    samp = samp[::2]
    pop_df = spark.createDataFrame(pop, ["r", "c"])
    samp_df = spark.createDataFrame(samp, ["r", "c"])
    out = {
        (x["row_val"], x["col_val"]): (x["n"], x["weight"])
        for x in ipf_raking(samp_df, pop_df, "r", "c").collect()
    }
    from collections import Counter

    cells = Counter(samp)
    pr, pc = Counter(r for r, _ in pop), Counter(c for _, c in pop)
    expect = _py_rake(
        {k: float(v) for k, v in cells.items()}, pr, pc, len(pop)
    )
    assert set(out) == set(expect)
    for cell, (n, wgt) in out.items():
        assert n == cells[cell]
        assert wgt == pytest.approx(expect[cell], abs=2e-6)
    # raked row margins match the scaled population row margins
    n_samp = len(samp)
    for r in pr:
        raked = sum(
            cells[cell] * out[cell][1] for cell in cells if cell[0] == r
        )
        assert raked == pytest.approx(pr[r] * n_samp / len(pop), rel=1e-3)


def test_ipf_raking_rejects_bad_iterations(spark):
    df = spark.createDataFrame([("a", "b")], ["r", "c"])
    with pytest.raises(ValueError, match="iterations"):
        ipf_raking(df, df, "r", "c", iterations=0)


# ---------------------------------------------------------------------------
# mrl_recall
# ---------------------------------------------------------------------------


def test_mrl_recall_exact_on_constructed_vectors(spark):
    from gbif_filter_python_spark.operators.similarity import mrl_recall

    # 1 query (id 0) + 4 corpus vectors. Full-dim (4) ranking:
    #   id1 = identical direction -> cos 1.0
    #   id2 = close (cos ~0.995), id3 = orthogonal-ish, id4 = opposite
    # Truncated to first 2 dims, id3's prefix equals the query's
    # prefix direction, flipping the top-2 set.
    rows = [
        (0, [1.0, 0.0, 1.0, 0.0]),
        (1, [2.0, 0.0, 2.0, 0.0]),
        (2, [1.0, 0.1, 1.0, 0.1]),
        (3, [1.0, 0.0, -1.0, 0.0]),  # 2-dim prefix == query prefix
        (4, [-1.0, 0.0, -1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {
        r["dim"]: r
        for r in mrl_recall(df, dims=(2,), k=2, n_queries=1).collect()
    }
    r2 = out[2]
    # full top-2 = {1, 2}; truncated-2 top-2 = {1, 3} (id3 prefix
    # [1,0] cos 1.0 ties id1, beats id2's 0.995...) -> hits = 1
    assert r2["hits"] == 1 and r2["recall"] == 0.5
    assert r2["n_queries"] == 1 and r2["k"] == 2


def test_mrl_recall_full_dim_is_perfect(spark):
    from gbif_filter_python_spark.operators.similarity import mrl_recall

    import random

    rnd = random.Random(7)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(30)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    # dims=(8,) IS the full dimension: recall must be exactly 1.0
    r = mrl_recall(df, dims=(8,), k=5, n_queries=3).collect()[0]
    assert r["recall"] == 1.0 and r["hits"] == 15
    with pytest.raises(ValueError, match="dims"):
        mrl_recall(df, dims=())


# ---------------------------------------------------------------------------
# blocking_quality
# ---------------------------------------------------------------------------


def test_blocking_quality_hand_counts(spark):
    from gbif_filter_python_spark.operators.fuzzy import blocking_quality

    cand = spark.createDataFrame(
        # one reversed duplicate + one self-pair: canonicalization
        # must collapse them to 3 distinct pairs
        [(1, 2), (2, 1), (3, 4), (5, 6), (7, 7)], ["id_a", "id_b"]
    )
    truth = spark.createDataFrame([(1, 2), (3, 4), (8, 9)], ["id_a", "id_b"])
    r = blocking_quality(cand, truth, n_records=10).collect()[0]
    assert r["n_candidates"] == 3 and r["n_truth"] == 3
    assert r["true_in_candidates"] == 2
    assert r["pairs_completeness"] == round(2 / 3, 6)
    assert r["reduction_ratio"] == round(1 - 3 / 45, 6)
    with pytest.raises(ValueError, match="n_records"):
        blocking_quality(cand, truth, n_records=1)


# ---------------------------------------------------------------------------
# grouped_quantiles
# ---------------------------------------------------------------------------


def test_grouped_quantiles_matches_sorted_replay(spark):
    from fractions import Fraction

    from gbif_filter_python_spark.operators.profile import (
        grouped_quantiles,
    )

    rows = [("g%d" % (i % 3), float((i * 31) % 97)) for i in range(200)]
    df = spark.createDataFrame(rows, ["g", "v"])
    qs = (0.25, 0.5, 0.75, 0.9)
    got = {
        (r["grp"], r["q"]): r["value"]
        for r in grouped_quantiles(df, "g", "v", qs=qs).collect()
    }
    from collections import defaultdict

    groups = defaultdict(list)
    for g, v in rows:
        groups[g].append(v)
    for g, vs in groups.items():
        vs.sort()
        for q in qs:
            p, d = Fraction(str(q)).as_integer_ratio()
            k = max((len(vs) * p + d - 1) // d, 1)
            assert got[(g, q)] == vs[k - 1], (g, q)
    assert len(got) == 3 * len(qs)


def test_grouped_quantiles_edges(spark):
    from gbif_filter_python_spark.operators.profile import (
        grouped_quantiles,
    )

    # single-value group: every quantile is that value; q=1.0 = max
    df = spark.createDataFrame([("a", 7.0), ("b", 1.0), ("b", 9.0)],
                               ["g", "v"])
    got = {
        (r["grp"], r["q"]): r["value"]
        for r in grouped_quantiles(df, "g", "v", qs=(0.5, 1.0)).collect()
    }
    assert got == {("a", 0.5): 7.0, ("a", 1.0): 7.0,
                   ("b", 0.5): 1.0, ("b", 1.0): 9.0}
    with pytest.raises(ValueError, match="quantiles"):
        grouped_quantiles(df, "g", "v", qs=(0.0,))
    # a NULL group is a group (groupBy semantics), not dropped rows
    nulls = spark.createDataFrame(
        [(g, float(v)) for g in ("a", None) for v in range(1, 11)],
        "g string, v double",
    )
    got = {
        tuple(r) for r in grouped_quantiles(nulls, "g", "v", qs=(0.5,))
        .collect()
    }
    assert got == {(None, 0.5, 5.0), ("a", 0.5, 5.0)}


# ---------------------------------------------------------------------------
# bcubed_eval
# ---------------------------------------------------------------------------


def test_bcubed_hand_example(spark):
    from gbif_filter_python_spark.operators.fuzzy import bcubed_eval

    # truth: {1,2,3} and {4,5}; pred: {1,2} {3,4} {5}
    rows = [
        (1, "p1", "t1"), (2, "p1", "t1"), (3, "p2", "t1"),
        (4, "p2", "t2"), (5, "p3", "t2"),
    ]
    df = spark.createDataFrame(rows, ["item", "pred_cluster", "true_cluster"])
    r = bcubed_eval(df).collect()[0]
    # precision per item: 1:2/2 2:2/2 3:1/2 4:1/2 5:1/1 -> avg 0.8
    # recall per item:    1:2/3 2:2/3 3:1/3 4:1/2 5:1/2 -> avg 0.5333..
    import pytest as _pt

    assert r["n_items"] == 5
    assert r["bcubed_precision"] == 0.8
    assert r["bcubed_recall"] == round((2/3 + 2/3 + 1/3 + 0.5 + 0.5) / 5, 6)
    p, rr = 0.8, (2/3 + 2/3 + 1/3 + 0.5 + 0.5) / 5
    assert r["bcubed_f1"] == _pt.approx(2 * p * rr / (p + rr), abs=1e-6)


def test_bcubed_perfect_clustering_is_one(spark):
    from gbif_filter_python_spark.operators.fuzzy import bcubed_eval

    rows = [(i, "c%d" % (i % 4), "c%d" % (i % 4)) for i in range(40)]
    df = spark.createDataFrame(rows, ["item", "pred_cluster", "true_cluster"])
    r = bcubed_eval(df).collect()[0]
    assert (r["bcubed_precision"], r["bcubed_recall"], r["bcubed_f1"]) == (
        1.0, 1.0, 1.0,
    )


# ---------------------------------------------------------------------------
# pr_curve
# ---------------------------------------------------------------------------


def test_pr_curve_hand_counts(spark):
    from gbif_filter_python_spark.operators.ranking import pr_curve

    rows = [
        (0.9, True), (0.8, False), (0.7, True), (0.6, True),
        (0.4, False), (0.2, True),
    ]
    df = spark.createDataFrame(rows, ["s", "y"])
    out = {
        r["threshold"]: r
        for r in pr_curve(df, "s", "y", thresholds=(0.5, 0.85)).collect()
    }
    r5 = out[0.5]
    # s >= 0.5: 0.9(T) 0.8(F) 0.7(T) 0.6(T) -> tp 3, fp 1; missed: 0.2(T)
    assert (r5["tp"], r5["fp"], r5["fn"]) == (3, 1, 1)
    assert r5["precision"] == 0.75 and r5["recall"] == 0.75
    r85 = out[0.85]
    assert (r85["tp"], r85["fp"], r85["fn"]) == (1, 0, 3)
    assert r85["precision"] == 1.0 and r85["recall"] == 0.25
    with pytest.raises(ValueError, match="thresholds"):
        pr_curve(df, "s", "y", thresholds=())


def test_pr_curve_empty_predictions_null_precision(spark):
    from gbif_filter_python_spark.operators.ranking import pr_curve

    df = spark.createDataFrame([(0.1, True)], ["s", "y"])
    r = pr_curve(df, "s", "y", thresholds=(0.5,)).collect()[0]
    assert r["tp"] == 0 and r["precision"] is None and r["recall"] == 0.0

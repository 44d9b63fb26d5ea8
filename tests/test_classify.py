"""Model-based data-selection operators (operators/classify.py).

Planted-signal tests: the sf* documents tables share vocabulary
across langs (argmax there would be noise), so these fixtures plant
genuinely class-separated vocabularies and assert the models recover
them — prediction accuracy for NB, selection bias for DSIR, and
perplexity ordering for the bigram LM. Plus determinism and
model-shape invariants that back the oracle queries'
cross-engine-stability contract (rounded sums, total-order
tie-breaks).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gbif_filter_python_spark.functions.text import md5_bucket
from gbif_filter_python_spark.operators.classify import (
    dsir_resample,
    dsir_weights,
    lm_perplexity,
    lm_train_bigram,
    nb_predict,
    nb_score,
    nb_train,
)

B = 64  # hash buckets used throughout


def _planted_docs(spark, n_per_label: int = 30):
    """Two classes with disjoint planted vocabularies plus shared
    filler — NB separates them perfectly."""
    rows = []
    for i in range(n_per_label):
        rows.append(
            (i, "alpha wolf den pack howl common word filler", "A")
        )
        rows.append(
            (
                1000 + i,
                "beta reef coral tide wave common word filler",
                "B",
            )
        )
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


class TestNaiveBayes:
    def test_model_is_dense_and_normalized(self, spark):
        docs = _planted_docs(spark)
        model = nb_train(docs, num_buckets=B)
        rows = model.collect()
        assert len(rows) == B * 2  # dense: every (bucket, label)
        # per-label conditional probabilities sum to 1 (Laplace est.)
        import math

        for lab in ("A", "B"):
            s = sum(math.exp(r.log_cond) for r in rows if r.lang == lab)
            assert s == pytest.approx(1.0, abs=1e-9)
        # priors: equal classes -> ln(0.5)
        assert rows[0].log_prior == pytest.approx(math.log(0.5), abs=1e-12)

    def test_planted_signal_perfect_accuracy(self, spark):
        docs = _planted_docs(spark)
        train = docs.filter(F.col("doc_id") % 3 != 0)
        test = docs.filter(F.col("doc_id") % 3 == 0)
        model = nb_train(train, num_buckets=B)
        pred = nb_predict(test, model, num_buckets=B)
        joined = pred.join(docs, "doc_id")
        n = joined.count()
        n_right = joined.filter(
            F.col("pred_label") == F.col("lang")
        ).count()
        assert n > 0 and n_right == n

    def test_score_shape_and_rounding(self, spark):
        docs = _planted_docs(spark)
        model = nb_train(docs, num_buckets=B)
        s = nb_score(docs.limit(4), model, num_buckets=B)
        out = s.collect()
        # every doc gets a score for every label
        assert len(out) == 4 * 2
        for r in out:
            assert r.score == round(r.score, 4)

    def test_predict_tie_break_is_label_order(self, spark):
        # one doc, a model where both labels give IDENTICAL scores:
        # train on the same text under both labels
        rows = [(1, "same text here", "A"), (2, "same text here", "B")]
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, lang string"
        )
        model = nb_train(docs, num_buckets=B)
        probe = spark.createDataFrame(
            [(9, "same text here")], "doc_id long, text string"
        )
        pred = nb_predict(probe, model, num_buckets=B).collect()
        assert pred[0].pred_label == "A"  # rounded tie -> label asc


class TestDSIR:
    def test_weights_prefer_target_like_docs(self, spark):
        rows = []
        for i in range(40):
            rows.append((i, "quantum flux entangle qubit gate"))
        for i in range(40, 200):
            rows.append((i, "market stock bond yield trade"))
        raw = spark.createDataFrame(rows, "doc_id long, text string")
        target = raw.filter(F.col("doc_id") < 20)  # quantum-y slice
        w = dsir_weights(raw, target, num_buckets=B)
        avg = (
            w.withColumn("is_q", F.col("doc_id") < 40)
            .groupBy("is_q")
            .agg(F.avg("weight").alias("aw"))
            .collect()
        )
        by = {r.is_q: r.aw for r in avg}
        assert by[True] > 0 > by[False]

    def test_resample_is_deterministic_and_biased(self, spark):
        rows = [(i, "quantum flux entangle qubit gate") for i in range(40)]
        rows += [
            (i, "market stock bond yield trade") for i in range(40, 200)
        ]
        raw = spark.createDataFrame(rows, "doc_id long, text string")
        target = raw.filter(F.col("doc_id") < 20)
        s1 = sorted(
            r.doc_id for r in dsir_resample(raw, target, 30, num_buckets=B).collect()
        )
        s2 = sorted(
            r.doc_id for r in dsir_resample(raw, target, 30, num_buckets=B).collect()
        )
        assert s1 == s2  # md5-seeded Gumbel, no rand() anywhere
        n_q = sum(1 for d in s1 if d < 40)
        # 40/200 = 20% of pool is target-like; selection should
        # overwhelmingly prefer it
        assert n_q >= 25

    def test_plain_topk_matches_weight_order(self, spark):
        rows = [(i, "quantum flux entangle qubit gate") for i in range(10)]
        rows += [(i, "market stock bond yield") for i in range(10, 30)]
        raw = spark.createDataFrame(rows, "doc_id long, text string")
        target = raw.filter(F.col("doc_id") < 5)
        sel = dsir_resample(
            raw, target, 10, num_buckets=B, gumbel=False
        ).collect()
        assert sorted(r.doc_id for r in sel) == list(range(10))


class TestBigramLM:
    def _corpus(self, spark):
        # reference style: strongly ordered bigrams
        ref = [
            (i, "the quick brown fox jumps over the lazy dog")
            for i in range(30)
        ]
        return spark.createDataFrame(ref, "doc_id long, text string")

    def test_reference_text_scores_lower_than_scrambled(self, spark):
        train = self._corpus(spark)
        uni, big = lm_train_bigram(train, num_buckets=B)
        test = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "dog the over fox quick lazy jumps brown the"),
            ],
            "doc_id long, text string",
        )
        out = {
            r.doc_id: r.logppl
            for r in lm_perplexity(
                test, uni, big, num_buckets=B
            ).collect()
        }
        assert out[1] < out[2]

    def test_short_docs_kept_with_null_ppl(self, spark):
        train = self._corpus(spark)
        uni, big = lm_train_bigram(train, num_buckets=B)
        test = spark.createDataFrame(
            [(1, "fox"), (2, ""), (3, "the quick brown fox")],
            "doc_id long, text string",
        )
        rows = {
            r.doc_id: r
            for r in lm_perplexity(
                test, uni, big, num_buckets=B
            ).collect()
        }
        assert rows[1].n_scored == 0 and rows[1].logppl is None
        assert rows[2].n_scored == 0 and rows[2].logppl is None
        assert rows[3].n_scored == 3 and rows[3].logppl is not None

    def test_bigram_model_is_sparse_and_context_consistent(self, spark):
        train = self._corpus(spark)
        uni, big = lm_train_bigram(train, num_buckets=B)
        assert uni.count() == B  # dense unigram
        brows = big.collect()
        assert 0 < len(brows) <= B * B  # sparse bigram
        # c1 = total bigram contexts per b1 = sum of c12 over b2:
        # exp(lp_big)*(c1+64) - 1 recovers c12; verify sum == c1
        import math
        from collections import defaultdict

        per_b1 = defaultdict(float)
        c1_of = {}
        for r in brows:
            c12 = math.exp(r.lp_big) * (r.c1 + B) - 1.0
            per_b1[r.b1] += c12
            c1_of[r.b1] = r.c1
        for b1, tot in per_b1.items():
            assert tot == pytest.approx(c1_of[b1], abs=1e-6)

    def test_training_plans_lazily(self, spark):
        # r14 optimization contract: lm_train_bigram only BUILDS plans —
        # the former eager ``toks.count()`` (a full tokenize+bucket pass
        # at construction time) is gone; the token total now rides the
        # unigram aggregate itself.
        from gbif_filter_python_spark.plans.inspect import jobs_run

        train = self._corpus(spark)
        built = []
        assert jobs_run(spark, lambda: built.extend(
            lm_train_bigram(train, num_buckets=B))) == 0
        # sanity: the probe does see real actions
        assert jobs_run(spark, built[0].count) > 0

    def test_unigram_branch_builds_the_bucket_array_once(
        self, spark, sf001_dir
    ):
        """No filter inferred from the token explode reaches below the
        bucket-array projection, where it would build the array again
        per conjunct: the plan's one Filter is the null filter over
        the generator's output."""
        from gbif_filter_python_spark.plans.inspect import (
            explain_str,
            node_count,
        )

        docs = spark.read.parquet(f"{sf001_dir}/documents.parquet")
        uni, _ = lm_train_bigram(docs, num_buckets=B)
        plan = explain_str(uni, "simple")
        assert node_count(plan, "Filter") == 1, plan
        assert node_count(plan, "Filter isnotnull(bucket") == 1, plan


class TestMd5Bucket:
    def test_matches_duckdb(self, spark):
        import duckdb

        words = ["alpha", "beta", "gamma", "Zebra", "123"]
        df = spark.createDataFrame([(w,) for w in words], "w string")
        got = {
            r.w: r.b
            for r in df.select(
                "w", md5_bucket(F.col("w"), 64).alias("b")
            ).collect()
        }
        con = duckdb.connect()
        for w in words:
            exp = con.execute(
                "SELECT CAST(('0x' || substring(md5(?), 1, 8))::BIGINT "
                "% 64 AS INT)",
                [w],
            ).fetchone()[0]
            assert got[w] == exp


class TestIsotonicCalibrate:
    def test_worked_pav_example(self, spark):
        from gbif_filter_python_spark.operators.classify import (
            isotonic_calibrate,
        )

        # scores .1/.2/.3 with rates 1.0, 0.0, 0.5 (violation at .2):
        # PAV pools (.1,.2) -> 0.5, then (0.5, 0.5) is monotone.
        rows = (
            [(0.1, 1), (0.1, 1)]
            + [(0.2, 0), (0.2, 0)]
            + [(0.3, 1), (0.3, 0)]
        )
        df = spark.createDataFrame(rows, "score double, label int")
        out = {r["score"]: r for r in isotonic_calibrate(
            df, "score", "label"
        ).collect()}
        assert out[0.1]["rate"] == 1.0 and out[0.2]["rate"] == 0.0
        assert out[0.1]["calibrated"] == 0.5
        assert out[0.2]["calibrated"] == 0.5
        assert out[0.3]["calibrated"] == 0.5

    def test_monotone_and_weighted(self, spark):
        import random

        from gbif_filter_python_spark.operators.classify import (
            isotonic_calibrate,
        )

        rng = random.Random(5)
        rows = []
        for b in range(10):
            p = b / 10 + rng.uniform(-0.3, 0.3)
            for _ in range(rng.randint(5, 40)):
                rows.append((b / 10.0, 1 if rng.random() < p else 0))
        df = spark.createDataFrame(rows, "score double, label int")
        out = sorted(
            isotonic_calibrate(df, "score", "label").collect(),
            key=lambda r: r["score"],
        )
        fit = [r["calibrated"] for r in out]
        assert fit == sorted(fit)  # non-decreasing
        # weighted mean preserved (PAV conserves total mass)
        tot_pred = sum(r["calibrated"] * r["n"] for r in out)
        tot_true = sum(r["rate"] * r["n"] for r in out)
        assert abs(tot_pred - tot_true) < 1e-3

    def test_already_monotone_untouched(self, spark):
        from gbif_filter_python_spark.operators.classify import (
            isotonic_calibrate,
        )

        rows = [(0.1, 0), (0.2, 0), (0.2, 1), (0.9, 1)]
        df = spark.createDataFrame(rows, "score double, label int")
        out = {r["score"]: r for r in isotonic_calibrate(
            df, "score", "label"
        ).collect()}
        for s in (0.1, 0.2, 0.9):
            assert out[s]["calibrated"] == out[s]["rate"]


class TestTargetEncode:
    """Leakage-safe K-fold mean encoding (Micci-Barreca 2001)."""

    @staticmethod
    def _ref(rows, n_folds, smoothing):
        """Independent dict-based reference with the same md5 folds."""
        import hashlib
        from collections import defaultdict

        def fold(k):
            return int(hashlib.md5(str(k).encode()).hexdigest()[:8], 16) \
                % n_folds

        cs = defaultdict(float)
        cc = defaultdict(int)
        gs_f = defaultdict(float)
        gc_f = defaultdict(int)
        grid_s = defaultdict(float)
        grid_c = defaultdict(int)
        gs = gc = 0
        for k, cat, y in rows:
            f = fold(k)
            cs[cat] += y
            cc[cat] += 1
            gs_f[f] += y
            gc_f[f] += 1
            grid_s[(cat, f)] += y
            grid_c[(cat, f)] += 1
            gs += y
            gc += 1
        out = {}
        for k, cat, y in rows:
            f = fold(k)
            oof_s = cs[cat] - grid_s[(cat, f)]
            oof_c = cc[cat] - grid_c[(cat, f)]
            prior = (gs - gs_f[f]) / (gc - gc_f[f]) if gc > gc_f[f] \
                else gs / gc
            out[k] = round(
                (oof_s + prior * smoothing) / (oof_c + smoothing), 6
            )
        return out

    def _rows(self):
        import random

        rng = random.Random(3)
        cats = ["a", "b", "c", "rare"]
        return [
            (i, rng.choice(cats if i % 17 else ["rare"]),
             float(rng.randint(0, 100)))
            for i in range(300)
        ]

    def test_matches_reference(self, spark):
        from gbif_filter_python_spark.operators.classify import (
            target_encode,
        )

        rows = self._rows()
        df = spark.createDataFrame(
            rows, "key long, cat string, y double"
        ).repartition(5)
        got = {
            r.key: r.target_enc
            for r in target_encode(
                df, "cat", "y", "key", n_folds=5, smoothing=20.0
            ).collect()
        }
        assert got == self._ref(rows, 5, 20.0)

    def test_own_label_never_leaks(self, spark):
        """Perturbing ONE row's label must not change that row's own
        encoding (it only reaches other folds' rows)."""
        from gbif_filter_python_spark.operators.classify import (
            target_encode,
        )

        rows = self._rows()
        df1 = spark.createDataFrame(rows, "key long, cat string, y double")
        bumped = [
            (k, c, y + 1000.0) if k == 7 else (k, c, y)
            for k, c, y in rows
        ]
        df2 = spark.createDataFrame(bumped, "key long, cat string, y double")
        e1 = {r.key: r.target_enc
              for r in target_encode(df1, "cat", "y", "key").collect()}
        e2 = {r.key: r.target_enc
              for r in target_encode(df2, "cat", "y", "key").collect()}
        assert e1[7] == e2[7]
        assert e1 != e2  # other rows in the category do move

    def test_category_only_in_own_fold_gets_prior(self, spark):
        from gbif_filter_python_spark.operators.classify import (
            target_encode,
        )

        rows = [(1, "solo", 99.0), (2, "x", 1.0), (3, "x", 3.0),
                (4, "x", 5.0), (5, "x", 7.0)]
        df = spark.createDataFrame(rows, "key long, cat string, y double")
        got = {r.key: r.target_enc
               for r in target_encode(df, "cat", "y", "key",
                                      n_folds=2, smoothing=10.0).collect()}
        assert got == self._ref(rows, 2, 10.0)

    def test_validation(self, spark):
        import pytest as _p

        from gbif_filter_python_spark.operators.classify import (
            target_encode,
        )

        df = spark.createDataFrame([(1, "a", 1.0)],
                                   "key long, cat string, y double")
        with _p.raises(ValueError, match="n_folds"):
            target_encode(df, "cat", "y", "key", n_folds=1)
        with _p.raises(ValueError, match="smoothing"):
            target_encode(df, "cat", "y", "key", smoothing=0.0)

    def test_null_category_and_null_label(self, spark):
        """NULL categories are their own category (null-safe join-back,
        no dropped rows); NULL labels contribute to NEITHER counts nor
        sums, so deleting a NULL-label row leaves every other encoding
        bit-identical."""
        from gbif_filter_python_spark.operators.classify import (
            target_encode,
        )

        schema = "key long, cat string, y double"
        base = [(1, "a", 1.0), (2, "a", 3.0), (3, "a", 5.0),
                (4, "a", 7.0), (5, None, 10.0), (6, None, 20.0),
                (8, None, None)]
        with_null_label = base + [(7, "a", None)]
        got = target_encode(
            spark.createDataFrame(with_null_label, schema),
            "cat", "y", "key", n_folds=2, smoothing=5.0,
        ).collect()
        # no row vanished: NULL categories and NULL labels both survive
        assert sorted(r.key for r in got) == [1, 2, 3, 4, 5, 6, 7, 8]
        # every row got a real encoding, including the NULL-category ones
        assert all(r.target_enc is not None for r in got)
        # NULL-label rows are statistically inert: removing them moves
        # no other row's encoding
        without = target_encode(
            spark.createDataFrame(base[:-1], schema),
            "cat", "y", "key", n_folds=2, smoothing=5.0,
        ).collect()
        enc_with = {r.key: r.target_enc for r in got}
        enc_without = {r.key: r.target_enc for r in without}
        assert all(enc_with[k] == enc_without[k] for k in enc_without)


class TestCalibrationBins:
    def test_bins_and_ece_terms(self, spark):
        from gbif_filter_python_spark.operators.classify import (
            calibration_bins,
        )

        rows = [
            # bin 0: scores 0.0, 0.05; labels 0, 1 -> conf .025 rate .5
            (0.0, 0), (0.05, 1),
            # bin 9 via the s=1.0 convention: 1.0 and 0.95, both 1
            (1.0, 1), (0.95, 1),
            # bin 5
            (0.5, 0), (0.55, 1), (0.59, 0),
        ]
        df = spark.createDataFrame(rows, "score double, label int")
        got = {r["bin"]: r for r in
               calibration_bins(df, "score", "label", 10).collect()}
        assert set(got) == {0, 5, 9}
        b0 = got[0]
        assert b0["n"] == 2 and b0["conf"] == 0.025 and b0["rate"] == 0.5
        assert b0["gap"] == 0.475
        assert b0["weighted_gap"] == round(2 / 7 * 0.475, 6)
        b9 = got[9]
        assert b9["n"] == 2 and b9["rate"] == 1.0 and b9["conf"] == 0.975
        # ECE = sum of weighted gaps; independently recomputed
        ece = sum(r["weighted_gap"] for r in got.values())
        want = sum(
            (n / 7) * abs(rate - conf)
            for n, conf, rate in [
                (2, 0.025, 0.5), (2, 0.975, 1.0),
                (3, (0.5 + 0.55 + 0.59) / 3, 1 / 3),
            ]
        )
        assert abs(ece - want) < 2e-6

    def test_null_exclusion_and_validation(self, spark):
        import pytest as _p

        from gbif_filter_python_spark.operators.classify import (
            calibration_bins,
        )

        df = spark.createDataFrame(
            [(0.5, 1), (None, 1), (0.5, None)],
            "score double, label int",
        )
        got = calibration_bins(df, "score", "label", 10).collect()
        assert len(got) == 1 and got[0]["n"] == 1
        with _p.raises(ValueError, match="n_bins"):
            calibration_bins(df, "score", "label", 0)

    def test_out_of_domain_scores_clamp_to_edge_bins(self, spark):
        """ADVICE r6: a score below 0 must land in bin 0 (mirroring
        the score==1.0 → last-bin convention), never in a silent
        negative bin that skews ECE."""
        from gbif_filter_python_spark.operators.classify import (
            calibration_bins,
        )

        df = spark.createDataFrame(
            [(-0.2, 0), (0.05, 1), (1.3, 1)],
            "score double, label int",
        )
        got = {r["bin"]: r for r in
               calibration_bins(df, "score", "label", 10).collect()}
        assert set(got) == {0, 9}
        assert got[0]["n"] == 2 and got[9]["n"] == 1
        assert min(got) >= 0


class TestWoeIv:
    def test_hand_computed_two_bins(self, spark):
        import math

        from gbif_filter_python_spark.operators.classify import woe_iv

        # bin 0 = x in [0, 5): 3 pos 1 neg; bin 1 = [5, 10]: 1 pos 3 neg
        rows = [
            (0.0, 1), (1.0, 1), (2.0, 1), (3.0, 0),
            (6.0, 0), (7.0, 0), (8.0, 0), (10.0, 1),
        ]
        df = spark.createDataFrame(rows, "x double, y int")
        out = {r["bin"]: r for r in woe_iv(df, "x", "y", n_bins=2).collect()}
        assert out[0]["n_pos"] == 3 and out[0]["n_neg"] == 1
        assert out[1]["n_pos"] == 1 and out[1]["n_neg"] == 3
        s, nb, pt, nt = 0.5, 2, 4.0, 4.0
        w0 = math.log(((3 + s) / (pt + s * nb)) / ((1 + s) / (nt + s * nb)))
        w1 = math.log(((1 + s) / (pt + s * nb)) / ((3 + s) / (nt + s * nb)))
        assert abs(out[0]["woe"] - w0) < 1e-6
        assert abs(out[1]["woe"] - w1) < 1e-6
        iv = (3 / pt - 1 / nt) * w0 + (1 / pt - 3 / nt) * w1
        for r in out.values():
            assert abs(r["iv"] - iv) < 1e-6
        assert abs(out[0]["iv_contrib"] + out[1]["iv_contrib"] - iv) < 1e-6

    def test_empty_side_bin_stays_finite(self, spark):
        from gbif_filter_python_spark.operators.classify import woe_iv

        rows = [(0.0, 1), (1.0, 1), (9.0, 0), (10.0, 0)]
        df = spark.createDataFrame(rows, "x double, y int")
        out = woe_iv(df, "x", "y", n_bins=2).collect()
        assert all(r["woe"] is not None for r in out)
        assert all(abs(r["woe"]) < 10 for r in out)

    def test_constant_feature_single_bin(self, spark):
        from gbif_filter_python_spark.operators.classify import woe_iv

        df = spark.createDataFrame(
            [(5.0, 1), (5.0, 0)], "x double, y int"
        )
        out = woe_iv(df, "x", "y", n_bins=4).collect()
        assert len(out) == 1 and out[0]["bin"] == 0
        # balanced single bin → woe 0, iv 0
        assert out[0]["woe"] == 0.0
        assert out[0]["iv"] == 0.0

    def test_rejects_bad_args(self, spark):
        import pytest as _pytest

        from gbif_filter_python_spark.operators.classify import woe_iv

        df = spark.createDataFrame([(1.0, 1)], "x double, y int")
        with _pytest.raises(ValueError):
            woe_iv(df, "x", "y", n_bins=0)
        with _pytest.raises(ValueError):
            woe_iv(df, "x", "y", smoothing=-1.0)


class TestLiftTable:
    def test_perfect_score_front_loads_capture(self, spark):
        from gbif_filter_python_spark.operators.classify import lift_table

        # 20 rows, top-10 scores are exactly the positives
        rows = [(float(100 - i), 1 if i < 10 else 0, i) for i in range(20)]
        df = spark.createDataFrame(rows, "s double, y int, id long")
        out = {
            r["bucket"]: r
            for r in lift_table(df, "s", "y", "id", n_buckets=4).collect()
        }
        assert [out[b]["n"] for b in range(4)] == [5, 5, 5, 5]
        assert out[0]["response_rate"] == 1.0
        assert out[0]["lift"] == 2.0  # overall rate .5
        assert out[1]["cum_capture"] == 1.0  # all positives in top half
        assert out[3]["cum_capture"] == 1.0
        assert out[3]["cum_lift"] == 1.0  # full table = overall

    def test_tie_break_is_deterministic(self, spark):
        from gbif_filter_python_spark.operators.classify import lift_table

        # all scores equal → ranking falls back to id order
        rows = [(1.0, 1, 1), (1.0, 0, 2), (1.0, 1, 3), (1.0, 0, 4)]
        df = spark.createDataFrame(rows, "s double, y int, id long")
        out = {
            r["bucket"]: r
            for r in lift_table(df, "s", "y", "id", n_buckets=2).collect()
        }
        # ids 1,2 → bucket 0 (1 pos); ids 3,4 → bucket 1 (1 pos)
        assert out[0]["n_pos"] == 1 and out[1]["n_pos"] == 1
        assert out[0]["lift"] == 1.0


class TestBestSplitStump:
    def test_perfect_split_found(self, spark):
        import math

        from gbif_filter_python_spark.operators.classify import (
            best_split_stump,
        )

        # y = 1 iff x >= 5 — a clean threshold; with 10 equal-width
        # bins over [0, 9.99] the boundary lands at split_bin 5
        rows = [(float(i), 1 if i >= 5 else 0) for i in range(10)]
        df = spark.createDataFrame(rows, "x double, y int")
        out = best_split_stump(df, "x", "y", n_bins=10).collect()
        best = [r for r in out if r["is_best"]]
        assert len(best) == 1
        b = best[0]
        # parent entropy ln2, children pure -> ig = ln 2
        assert abs(b["ig"] - math.log(2)) < 1e-6
        assert b["n_left"] == 5 and b["pos_left"] == 0
        assert b["n_right"] == 5 and b["pos_right"] == 5

    def test_one_sided_boundaries_skipped_and_pure_parent(self, spark):
        from gbif_filter_python_spark.operators.classify import (
            best_split_stump,
        )

        rows = [(float(i), 1) for i in range(8)]  # all positive
        df = spark.createDataFrame(rows, "x double, y int")
        out = best_split_stump(df, "x", "y", n_bins=4).collect()
        # pure parent: every ig = 0; boundaries exist (3 of them)
        assert len(out) == 3
        assert all(r["ig"] == 0.0 for r in out)
        # deterministic argmax: lowest boundary flagged
        assert [r["is_best"] for r in sorted(out, key=lambda r: r["split_bin"])] == [
            True,
            False,
            False,
        ]


class TestDegenerateLabels:
    def test_woe_iv_single_class_yields_null_not_crash(self, spark):
        from gbif_filter_python_spark.operators.classify import woe_iv

        df = spark.createDataFrame(
            [(float(i), 1) for i in range(20)], "x double, y int"
        )
        out = woe_iv(df, "x", "y", n_bins=4).collect()
        assert out and all(r["woe"] is None and r["iv"] is None for r in out)

    def test_lift_table_zero_positives_yields_null_not_crash(self, spark):
        from gbif_filter_python_spark.operators.classify import lift_table

        df = spark.createDataFrame(
            [(float(i), 0, i) for i in range(20)], "s double, y int, id long"
        )
        out = lift_table(df, "s", "y", "id", n_buckets=4).collect()
        assert len(out) == 4
        assert all(r["lift"] is None and r["cum_capture"] is None for r in out)
        assert all(r["response_rate"] == 0.0 for r in out)

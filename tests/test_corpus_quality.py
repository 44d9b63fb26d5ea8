"""Boilerplate-line removal, Gopher heuristic filters, keep-best
dedup, deterministic corpus shuffle, and k-means clustering.

Round-2 additions to the beyond-reference training-data block
(SURVEY.md §2 final row): the CCNet/RefinedWeb line-frequency pass,
the Gopher (Rae et al. 2021) / C4 (Raffel et al. 2020) heuristic
document filters, quality-ranked canonical selection, reproducible
training-order shuffling, and the IVF coarse-quantizer trainer.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gbif_filter_python_spark.functions.text import gopher_signals
from gbif_filter_python_spark.operators.corpus import (
    remove_boilerplate_lines,
    shuffle_corpus,
)
from gbif_filter_python_spark.operators.dedup import dedup_keep_best
from gbif_filter_python_spark.operators.similarity import (
    ivf_assign,
    kmeans_assign,
    kmeans_fit,
)

HEADER = "SITE NAVIGATION home about contact"
FOOTER = "copyright 2024 all rights reserved"


class TestRemoveBoilerplateLines:
    def _docs(self, spark):
        rows = [
            (1, f"{HEADER}\nunique first body line\n{FOOTER}"),
            (2, f"{HEADER}\nanother distinct body\nmore body text\n{FOOTER}"),
            (3, f"{HEADER}\nthird doc body here\n{FOOTER}"),
            (4, f"{HEADER}\n{FOOTER}"),  # all boilerplate
            (5, "standalone document with no boilerplate at all"),
        ]
        return spark.createDataFrame(rows, ["doc_id", "text"])

    def test_frequent_lines_removed_everywhere(self, spark):
        out = remove_boilerplate_lines(self._docs(spark), min_docs=3)
        texts = {r["doc_id"]: r["text"] for r in out.collect()}
        assert HEADER not in texts[1] and FOOTER not in texts[1]
        assert texts[1] == "unique first body line"
        # line ORDER of survivors is preserved
        assert texts[2] == "another distinct body\nmore body text"

    def test_all_boilerplate_doc_survives_empty(self, spark):
        out = remove_boilerplate_lines(self._docs(spark), min_docs=3)
        texts = {r["doc_id"]: r["text"] for r in out.collect()}
        assert texts[4] == ""
        assert out.count() == 5  # no doc dropped

    def test_rare_lines_kept(self, spark):
        out = remove_boilerplate_lines(self._docs(spark), min_docs=3)
        texts = {r["doc_id"]: r["text"] for r in out.collect()}
        assert texts[5] == "standalone document with no boilerplate at all"

    def test_threshold_counts_distinct_docs_not_occurrences(self, spark):
        # one doc repeating a line 5 times must NOT make it boilerplate
        docs = spark.createDataFrame(
            [(1, "\n".join(["echo echo"] * 5)), (2, "other text")],
            ["doc_id", "text"],
        )
        out = remove_boilerplate_lines(docs, min_docs=3)
        texts = {r["doc_id"]: r["text"] for r in out.collect()}
        assert texts[1] == "\n".join(["echo echo"] * 5)

    def test_other_columns_pass_through(self, spark):
        docs = spark.createDataFrame(
            [(1, "a\nb", "en"), (2, "a\nc", "de"), (3, "a\nd", "fr")],
            ["doc_id", "text", "lang"],
        )
        out = remove_boilerplate_lines(docs, min_docs=3)
        assert out.columns == ["doc_id", "text", "lang"]
        rows = {r["doc_id"]: (r["text"], r["lang"]) for r in out.collect()}
        assert rows[1] == ("b", "en") and rows[2] == ("c", "de")


class TestGopherSignals:
    def _one(self, spark, text, **kw):
        df = spark.createDataFrame([(text,)], ["text"])
        sig = gopher_signals(F.col("text"), **kw)
        return df.select(*[v.alias(k) for k, v in sig.items()]).first()

    def test_good_document_passes(self, spark):
        text = " ".join(
            ["the quick brown fox jumps over a lazy dog in the sunny field"]
            * 5
        )
        r = self._one(spark, text, min_words=25)
        assert r["passes"] is True
        assert r["n_words"] == 65
        assert r["stopword_hits"] >= 2

    def test_too_short_fails(self, spark):
        r = self._one(spark, "the cat sat on a mat", min_words=25)
        assert r["passes"] is False

    def test_symbol_soup_fails(self, spark):
        words = "the word and stuff of things " * 10
        r = self._one(spark, words + "# # # # # # # #", min_words=25)
        assert r["symbol_ratio"] > 0.1
        assert r["passes"] is False

    def test_numeric_soup_fails_alpha_ratio(self, spark):
        text = "the total and sum " + " ".join(str(i) for i in range(40))
        r = self._one(spark, text, min_words=25)
        assert r["alpha_word_ratio"] < 0.8
        assert r["passes"] is False

    def test_no_stopwords_fails(self, spark):
        text = " ".join(["lorem ipsum dolor sit amet consectetur"] * 8)
        r = self._one(spark, text, min_words=25)
        assert r["stopword_hits"] < 2
        assert r["passes"] is False

    def test_empty_text_is_safe(self, spark):
        r = self._one(spark, "", min_words=25)
        assert r["n_words"] == 0 and r["passes"] is False


class TestDedupKeepBest:
    def test_keeps_highest_score_per_group(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "Same Text!", 0.2),
                (2, "same   text", 0.9),  # normalized-equal, best score
                (3, "same text", 0.5),
                (4, "different text", 0.1),
            ],
            ["doc_id", "text", "q"],
        )
        kept = dedup_keep_best(docs, score=F.col("q"))
        ids = sorted(r["doc_id"] for r in kept.collect())
        assert ids == [2, 4]

    def test_tie_breaks_to_min_id(self, spark):
        docs = spark.createDataFrame(
            [(7, "x y z", 1.0), (3, "X Y Z", 1.0)], ["doc_id", "text", "q"]
        )
        kept = dedup_keep_best(docs, score=F.col("q"))
        assert [r["doc_id"] for r in kept.collect()] == [3]

    def test_schema_unchanged(self, spark):
        docs = spark.createDataFrame(
            [(1, "a b c", "en")], ["doc_id", "text", "lang"]
        )
        kept = dedup_keep_best(docs, score=F.length("text"))
        assert kept.columns == ["doc_id", "text", "lang"]


class TestShuffleCorpus:
    def test_deterministic_and_partitioning_invariant(self, spark):
        docs = spark.range(0, 200).withColumnRenamed("id", "doc_id")
        a = shuffle_corpus(docs, salt="e1", num_shards=4).collect()
        b = shuffle_corpus(
            docs.repartition(7), salt="e1", num_shards=4
        ).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_positions_contiguous_per_shard(self, spark):
        docs = spark.range(0, 100).withColumnRenamed("id", "doc_id")
        out = shuffle_corpus(docs, num_shards=4)
        per = (
            out.groupBy("shard")
            .agg(F.count("*").alias("n"), F.max("pos_in_shard").alias("mx"))
            .collect()
        )
        assert all(r["n"] == r["mx"] for r in per)
        assert sum(r["n"] for r in per) == 100

    def test_new_salt_reorders(self, spark):
        docs = spark.range(0, 200).withColumnRenamed("id", "doc_id")
        a = {
            (r["doc_id"]): (r["shard"], r["pos_in_shard"])
            for r in shuffle_corpus(docs, salt="e1").collect()
        }
        b = {
            (r["doc_id"]): (r["shard"], r["pos_in_shard"])
            for r in shuffle_corpus(docs, salt="e2").collect()
        }
        assert a != b  # astronomically unlikely to coincide


@pytest.fixture(scope="module")
def vectors(spark):
    # three tight clusters around orthogonal axes + slight noise
    import math

    rows = []
    vid = 0
    for axis in range(3):
        for j in range(10):
            v = [0.0] * 8
            v[axis] = 1.0
            v[(axis + 3) % 8] = 0.05 * ((j % 5) - 2)
            n = math.sqrt(sum(x * x for x in v))
            rows.append((vid, [x / n for x in v]))
            vid += 1
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


class TestKmeans:
    def test_inertia_monotone_nonincreasing(self, vectors):
        _, hist = kmeans_fit(vectors, k=3, max_iter=6)
        assert all(b <= a + 1e-9 for a, b in zip(hist, hist[1:]))

    def test_recovers_planted_clusters(self, vectors):
        cents, _ = kmeans_fit(vectors, k=3, max_iter=10)
        assigned = kmeans_assign(vectors, cents)
        # every planted group of 10 lands in one cluster
        sizes = sorted(
            r["count"]
            for r in assigned.groupBy("cluster").count().collect()
        )
        assert sizes == [10, 10, 10]

    def test_assignment_matches_ivf_argmax(self, spark, vectors):
        cents, _ = kmeans_fit(vectors, k=3, max_iter=4)
        fast = {
            r["vec_id"]: r["cluster"]
            for r in kmeans_assign(vectors, cents).collect()
        }
        cdf = spark.createDataFrame(
            [(i, c) for i, c in enumerate(cents)],
            ["centroid_id", "centroid_vec"],
        )
        slow = {
            r["vec_id"]: r["centroid_id"]
            for r in ivf_assign(vectors, cdf).collect()
        }
        assert fast == slow

    def test_deterministic_across_runs(self, vectors):
        c1, h1 = kmeans_fit(vectors, k=3, max_iter=5)
        c2, h2 = kmeans_fit(vectors.repartition(5), k=3, max_iter=5)
        assert h1 == h2
        assert c1 == c2

    def test_one_action_per_lloyd_iteration(self, vectors, monkeypatch):
        """The fit must scan the corpus ONCE per iteration: 1 seed
        collect + max_iter stats collects, and NO separate inertia
        action (at 100 TB a second pass doubles the cost of every
        iteration)."""
        # the concrete class (classic, not the abstract base) owns the
        # collect/first implementations in PySpark 4
        from pyspark.sql.classic.dataframe import DataFrame

        calls = {"collect": 0, "first": 0}
        orig_collect = DataFrame.collect
        orig_first = DataFrame.first

        def counting_collect(self):
            calls["collect"] += 1
            return orig_collect(self)

        def counting_first(self):
            calls["first"] += 1
            return orig_first(self)

        monkeypatch.setattr(DataFrame, "collect", counting_collect)
        monkeypatch.setattr(DataFrame, "first", counting_first)
        _, hist = kmeans_fit(vectors, k=3, max_iter=4, tol=0.0)
        assert calls["first"] == 0
        # 1 seed collect + exactly one stats collect per iteration run
        assert calls["collect"] == 1 + len(hist)


class TestUnicodeNormalization:
    def test_nfc_composes_and_strip_removes(self, spark):
        from gbif_filter_python_spark.functions.text import (
            normalize_unicode,
            strip_accents,
        )
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [(1, "cafe\u0301"), (2, "caf\u00e9"), (3, "plain")],
            "id long, t string",
        )
        out = {
            r["id"]: (r["n"], r["s"])
            for r in df.select(
                "id",
                normalize_unicode(F.col("t"), "NFC").alias("n"),
                strip_accents(F.col("t")).alias("s"),
            ).collect()
        }
        # decomposed and composed inputs converge under NFC
        assert out[1][0] == out[2][0] == "café"
        assert out[1][1] == out[2][1] == "cafe"
        assert out[3] == ("plain", "plain")

    def test_bad_form_rejected(self, spark):
        import pytest as _pytest

        from gbif_filter_python_spark.functions.text import normalize_unicode
        from pyspark.sql import functions as F

        with _pytest.raises(ValueError):
            normalize_unicode(F.col("x"), "NFX")


class TestBpePairStats:
    def test_weighted_pair_counts(self, spark):
        from gbif_filter_python_spark.operators.corpus import bpe_pair_stats

        docs = spark.createDataFrame(
            [(1, "abab abab"), (2, "abab"), (3, "x")],
            "doc_id long, text string",
        )
        out = {r["pair"]: r["n"] for r in bpe_pair_stats(docs, k=5).collect()}
        # 'abab' occurs 3 times; pairs per occurrence: a b (x2), b a (x1)
        assert out["a b"] == 6
        assert out["b a"] == 3
        # single-char word 'x' contributes nothing
        assert len(out) == 2


class TestPrefixFilterJaccard:
    """Lossless set-similarity join (PPJoin-style prefix filter)."""

    TEXTS = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, "the quick brown fox leaps over the lazy dog today"),
        (3, "entirely different words about spark engines"),
        (4, "spark about engines words different entirely"),  # perm of 3
        (5, ""),
        (6, "the quick brown fox jumps over the lazy dog"),  # dup of 0
    ]

    @staticmethod
    def _brute(rows, t):
        def toks(s):
            import re

            s = re.sub(r"[^a-z0-9]+", " ", s.lower())
            return {w for w in s.split() if w}

        out = {}
        for i, (ia, ta) in enumerate(rows):
            for ib, tb in rows[i + 1:]:
                a, b = toks(ta), toks(tb)
                if not a or not b:
                    continue
                j = len(a & b) / len(a | b)
                if j >= t:
                    out[(ia, ib)] = round(j, 6)
        return out

    def test_matches_brute_force_all_thresholds(self, spark):
        from gbif_filter_python_spark.operators.dedup import (
            prefix_filter_jaccard_pairs,
        )

        df = spark.createDataFrame(self.TEXTS, "doc_id long, text string")
        for t in (0.5, 0.7, 0.9):
            got = {
                (r.id_a, r.id_b): r.jaccard
                for r in prefix_filter_jaccard_pairs(df, t).collect()
            }
            assert got == self._brute(self.TEXTS, t), t
        # permutation pair (3,4): identical token SETS -> jaccard 1.0
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in prefix_filter_jaccard_pairs(df, 0.99).collect()
        }
        assert got[(3, 4)] == 1.0 and got[(0, 6)] == 1.0

    def test_random_corpus_lossless_vs_brute_force(self, spark):
        import random

        from gbif_filter_python_spark.operators.dedup import (
            prefix_filter_jaccard_pairs,
        )

        rng = random.Random(5)
        vocab = [f"w{i}" for i in range(40)]
        rows = [
            (i, " ".join(rng.sample(vocab, rng.randint(3, 12))))
            for i in range(120)
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, text string"
        ).repartition(7)
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in prefix_filter_jaccard_pairs(df, 0.6).collect()
        }
        want = self._brute(rows, 0.6)
        assert got == want and len(want) > 0

    def test_threshold_validation(self, spark):
        import pytest as _p

        from gbif_filter_python_spark.operators.dedup import (
            prefix_filter_jaccard_pairs,
        )

        df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        for bad in (0.0, 1.0, -0.2, 1.5):
            with _p.raises(ValueError, match="threshold"):
                prefix_filter_jaccard_pairs(df, bad)


class TestWinnowing:
    """MOSS winnowing fingerprints (Schleimer SIGMOD'03)."""

    @staticmethod
    def _ref(text, k=8, w=4):
        import hashlib
        import re

        t = re.sub(r"[^a-z0-9]+", " ", text.lower())
        t = re.sub(r"\s+", " ", t).strip()
        if len(t) < k:
            return set()
        hs = [
            int(hashlib.md5(t[i:i + k].encode()).hexdigest()[:8], 16)
            for i in range(len(t) - k + 1)
        ]
        return {
            min(hs[j:j + w]) for j in range(max(len(hs) - w + 1, 1))
        }

    def test_matches_pure_python_reference(self, spark):
        import random

        from gbif_filter_python_spark.operators.dedup import (
            winnow_fingerprints,
        )

        rng = random.Random(9)
        rows = [
            (i, " ".join(
                rng.choice(["alpha", "beta", "gamma", "delta", "x"])
                for _ in range(rng.randint(0, 30))
            ))
            for i in range(60)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got: dict[int, set] = {}
        for r in winnow_fingerprints(df, k=8, window=4).collect():
            got.setdefault(r.doc_id, set()).add(r.fp)
        for i, t in rows:
            assert got.get(i, set()) == self._ref(t), (i, t)

    def test_shared_substring_guarantee(self, spark):
        """Any shared substring of length >= k + window - 1 must yield
        >= 1 shared fingerprint — the winnowing theorem, checked on a
        planted common passage inside otherwise-different docs."""
        from gbif_filter_python_spark.operators.dedup import (
            winnow_overlap_pairs,
        )

        passage = "this exact licence paragraph is shared verbatim"
        rows = [
            (0, "unrelated preamble aaa " + passage + " trailing xxx"),
            (1, "different opening bbb " + passage + " other ending"),
            (2, "no shared passage at all zebra quokka"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        ov = {
            (r.id_a, r.id_b): r.n_shared
            for r in winnow_overlap_pairs(df, min_shared=1).collect()
        }
        assert (0, 1) in ov and ov[(0, 1)] >= 1
        assert not any(2 in p for p in ov)

    def test_single_evaluation_staging(self, spark):
        """The staging discipline: normalization regexes and the gram
        md5 must each appear exactly once in the physical plan (the
        let-binding via single-element transform) — a CollapseProject
        regression would multiply them."""
        from gbif_filter_python_spark.operators.dedup import (
            winnow_fingerprints,
        )

        df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
        plan = (
            winnow_fingerprints(df)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # ONE regexp_replace per scan since the r14 single-pass
        # normalized_text (the former \s+ second pass was a no-op);
        # still exactly one evaluation of the normalization — the
        # staged-projection contract this test pins.
        assert plan.count("regexp_replace") == 1, plan
        assert plan.count("md5") == 1, plan

    def test_validation(self, spark):
        import pytest as _p

        from gbif_filter_python_spark.operators.dedup import (
            winnow_fingerprints,
        )

        df = spark.createDataFrame([(0, "abc")], "doc_id long, text string")
        with _p.raises(ValueError, match="k and window"):
            winnow_fingerprints(df, k=0)
        with _p.raises(ValueError, match="k and window"):
            winnow_fingerprints(df, window=0)


class TestWinnowOverlapCap:
    def test_boilerplate_fingerprints_pruned_by_df_cap(self, spark):
        """A passage shared by MANY docs (boilerplate) must stop
        producing pairs under max_fp_df, while a passage shared by
        exactly two docs survives."""
        from gbif_filter_python_spark.operators.dedup import (
            winnow_overlap_pairs,
        )

        import hashlib

        boiler = "standard footer text repeated in every document body"

        def opening(i):
            # fully distinct per-doc opening; the final word uses a
            # per-doc UNIQUE letter so even grams bridging the
            # opening→boilerplate boundary are doc-unique (df=1) —
            # every cross-doc shared gram is then pure boilerplate
            h = hashlib.md5(str(i).encode()).hexdigest()
            tail = chr(97 + i) * 4
            return f"{h[:10]} {h[10:20]} {tail}"

        rows = [(i, opening(i) + " " + boiler) for i in range(20)]
        rows += [
            (100, "a very specific shared secret passage right here xyz"),
            (101, "b very specific shared secret passage right here abc"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        # min_shared=2 tolerates singleton 32-bit fp collisions
        # (distinct grams can hash-collide; one accidental shared fp
        # must not count as overlap)
        uncapped = winnow_overlap_pairs(df, min_shared=2)
        capped = winnow_overlap_pairs(df, min_shared=2, max_fp_df=3)
        got = {(r.id_a, r.id_b) for r in capped.collect()}
        assert (100, 101) in got
        assert not any(a < 100 and b < 100 for a, b in got)
        assert uncapped.count() > capped.count()

    def test_cap_validation(self, spark):
        import pytest as _p

        from gbif_filter_python_spark.operators.dedup import (
            winnow_overlap_pairs,
        )

        df = spark.createDataFrame([(0, "abc def")], "doc_id long, text string")
        with _p.raises(ValueError, match="max_fp_df"):
            winnow_overlap_pairs(df, max_fp_df=1)


class TestLuhnCardPii:
    def test_luhn_fold_known_numbers(self, spark):
        from gbif_filter_python_spark.functions.text import luhn_valid

        cases = [
            ("4539148803436467", True),   # Visa test PAN
            ("4539148803436468", False),  # one digit off
            ("79927398713", False),       # Luhn-valid but < 13 digits
            ("5555555555554444", True),   # Mastercard test PAN
            ("1234567890123456", False),
        ]
        df = spark.createDataFrame([(d,) for d, _ in cases], "d string")
        got = {r["d"]: r["ok"] for r in
               df.select("d", luhn_valid(F.col("d")).alias("ok")).collect()}
        assert got == {d: ok for d, ok in cases}

    def test_report_counts_candidates_and_valid(self, spark):
        from gbif_filter_python_spark.functions.text import card_pii_report

        rows = [
            (1, "pay 4539 1488 0343 6467 or 5555-5555-5555-4444 now"),
            (2, "serial 4539 1488 0343 6468 is not a card"),
            (3, "short 4111 1111 and nothing"),
            (4, "clean text"),
        ]
        df = spark.createDataFrame(rows, "id long, text string")
        got = {r["id"]: (r["r"]["n_candidates"], r["r"]["n_luhn_valid"])
               for r in df.select(
                   "id", card_pii_report(F.col("text")).alias("r")
               ).collect()}
        assert got[1] == (2, 2)   # both real test PANs
        assert got[2] == (1, 0)   # candidate shape, checksum fails
        assert got[3] == (0, 0)   # too short to be a candidate
        assert got[4] == (0, 0)


class TestBenford:
    def test_known_distribution_and_chi2(self, spark):
        """A hand-built sample with known first-digit counts must
        reproduce the manual χ² computation; absent digits still
        contribute their N·e term."""
        import math

        from gbif_filter_python_spark.operators.profile import (
            BENFORD_P,
            benford_first_digit,
        )

        # 30 ones, 10 twos, 10 nines — digits 3..8 absent
        vals = [1.5] * 30 + [234.0] * 10 + [0.09] * 10
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        rows = {r["digit"]: r for r in
                benford_first_digit(df, "v").collect()}
        assert len(rows) == 9
        assert rows[1]["n"] == 30 and rows[2]["n"] == 10
        assert rows[9]["n"] == 10 and rows[5]["n"] == 0
        n = 50.0
        raw = [
            ((cnt - n * p) ** 2) / (n * p)
            for cnt, p in zip(
                [30, 10, 0, 0, 0, 0, 0, 0, 10], BENFORD_P
            )
        ]
        assert rows[1]["observed_p"] == 0.6
        assert rows[1]["expected_p"] == round(BENFORD_P[0], 6)
        assert rows[3]["chi2_term"] == round(raw[2], 6)
        assert rows[1]["chi2_total"] == round(sum(raw), 6)

    def test_zero_null_and_sci_notation_scope(self, spark):
        from gbif_filter_python_spark.operators.profile import (
            benford_first_digit,
        )

        df = spark.createDataFrame(
            [(0.0,), (None,), (2e-7,), (9e15,), (-345.0,)], "v double"
        )
        rows = {r["digit"]: r["n"] for r in
                benford_first_digit(df, "v").collect()}
        # zero and NULL excluded; sci-notation strings and negatives
        # still yield their first significant digit
        assert rows[2] == 1 and rows[9] == 1 and rows[3] == 1
        assert sum(rows.values()) == 3


class TestNormalizedTextSinglePass:
    """r14 optimization guard: the single-regex normalized_text must be
    byte-identical to the historical two-pass form (lower → strip
    non-alnum runs → collapse \\s+ → trim) on every input shape —
    [^a-z0-9]+ already swallows whitespace, so the \\s+ pass was a
    no-op."""

    CASES = [
        "",
        "   ",
        "\t\n\r  \t",
        "Hello, World!",
        "a  b\t\tc\nd",
        "--punct--only--",
        "MiXeD CaSe 123",
        "unicode é ü ß 漢字 test",
        " leading and trailing ",
        "a" * 500,
        "word nbsp ls",
        "1,2;3.4:5",
    ]

    def test_matches_two_pass_form(self, spark):
        from gbif_filter_python_spark.functions.text import (
            normalized_text,
        )

        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(self.CASES)], "i long, t string"
        )
        legacy = F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("t")), r"[^a-z0-9]+", " "),
                r"\s+",
                " ",
            )
        )
        rows = df.select(
            normalized_text(F.col("t")).alias("new"), legacy.alias("old")
        ).collect()
        for r in rows:
            assert r["new"] == r["old"]

    def test_words_match_python_reference(self, spark):
        # q_bpe_learn's differential trains the pure-Python reference
        # on ref_words and the engine on words(): the two tokenizers
        # must agree, and NULL text has no word array.
        from gbif_filter_python_spark.functions.text import words
        from gbif_filter_python_spark.operators.bpe import ref_words

        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(self.CASES + [None])],
            "i long, t string",
        )
        got = dict(df.select("i", words(F.col("t")).alias("w")).collect())
        for i, s in enumerate(self.CASES):
            assert got[i] == ref_words(s), s
        assert got[len(self.CASES)] is None

"""BPE trainer/encoder tests: exact differential parity against the
independent pure-Python reference implementation (the standard
Sennrich-style trainer over a word-count dict, now shared with the
bpe_learn/bpe_token_counts oracle queries as operators.bpe.ref_learn_bpe),
plus scale-shape and determinism checks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gbif_filter_python_spark.operators import bpe
from gbif_filter_python_spark.operators.bpe import (
    _encode_word_py,
    bpe_token_counts,
    learn_bpe_merges,
    ref_learn_bpe as _ref_learn,
    ref_merge_pair,
    ref_words as _ref_words,
)
from gbif_filter_python_spark.plans.inspect import jobs_run
from tests.conftest import session_conf


TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "the lazy dog sleeps while the quick fox runs",
    "pack my box with five dozen liquor jugs, quick!",
    "lowered lower lowest low slower slowest slow",
    "new newer newest news renew renewal",
    "the the the thesis theory there then them",
]


class _BothPaths:
    """Differential cases every merge loop passes: collected by
    :class:`TestLearnBpeMerges` on the driver path (the tables here
    are a few dozen words) and by
    :class:`TestLearnBpeMergesDistributed` on the distributed one."""

    @pytest.fixture(scope="class")
    def docs(self, spark):
        return spark.createDataFrame(
            [(i, t) for i, t in enumerate(TEXTS)], "doc_id long, text string"
        )

    def test_matches_pure_python_reference(self, spark, docs):
        got = learn_bpe_merges(docs, n_merges=12)
        want = _ref_learn(TEXTS, n_merges=12)
        assert got == want
        assert len(got) == 12  # corpus is rich enough for all 12

    def test_min_count_stops_early(self, spark):
        docs = spark.createDataFrame([(1, "ab ab xz")], "doc_id long, text string")
        got = learn_bpe_merges(docs, n_merges=10, min_count=2)
        # only 'ab' appears twice; 'xz' pairs once
        assert got == [("a", "b", 2)]

    def test_chained_merge_left_to_right(self, spark):
        # 'aaa': merge (a,a) applies left-to-right non-overlapping →
        # ['aa','a'], so the next best pair is ('aa','a')
        docs = spark.createDataFrame(
            [(1, "aaa aaa aaa")], "doc_id long, text string"
        )
        got = learn_bpe_merges(docs, n_merges=2, min_count=2)
        assert got[0][:2] == ("a", "a")
        assert got[1][:2] == ("aa", "a")

    def test_ties_break_by_left_then_right(self, spark):
        """Equal weighted counts go to the smaller left symbol, then
        the smaller right one; digits sort before letters, and merged
        multi-character symbols tie with single characters."""
        text = "b1 b1 a2 a2 a1 a1 12 12 12b 12b zz zz zz"
        docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
        got = learn_bpe_merges(docs, n_merges=8)
        assert got == [
            ("1", "2", 4), ("z", "z", 3), ("12", "b", 2), ("a", "1", 2),
            ("a", "2", 2), ("b", "1", 2),
        ]
        assert got == _ref_learn([text], n_merges=8)

    def test_nothing_to_merge_gives_no_merges(self, spark):
        """An empty corpus and a corpus of one-character words have no
        pair to count."""
        schema = "doc_id long, text string"
        for rows in ([], [(1, "a b c a b !!")], [(1, "")]):
            docs = spark.createDataFrame(rows, schema)
            assert learn_bpe_merges(docs, n_merges=4) == [], rows

    def test_deterministic_across_partitionings(self, spark, docs):
        a = learn_bpe_merges(docs, n_merges=8)
        b = learn_bpe_merges(docs.repartition(7), n_merges=8)
        assert a == b

    def test_sample_target_at_or_above_corpus_is_identity(self, spark, docs):
        """The scale path must be a no-op when the corpus is already at
        or under the target — gate-scale results cannot change."""
        full = learn_bpe_merges(docs, n_merges=8)
        assert learn_bpe_merges(docs, n_merges=8,
                                sample_target_docs=len(TEXTS)) == full
        assert learn_bpe_merges(docs, n_merges=8,
                                sample_target_docs=10_000) == full

    def test_sampled_training_equals_training_on_the_hash_sample(
        self, spark, docs
    ):
        """Differential: sample_target_docs=k must train on EXACTLY the
        deterministic md5 hash-sample (sample_by_hash, salt
        'bpe-train') — same merges as handing the trainer that sample
        directly, and deterministic across partitionings."""
        from gbif_filter_python_spark.operators.corpus import sample_by_hash

        target = 3
        explicit = sample_by_hash(
            docs, "doc_id", target / len(TEXTS), seed_salt="bpe-train"
        )
        n_kept = explicit.count()
        assert 0 < n_kept < len(TEXTS), n_kept  # sample is proper
        got = learn_bpe_merges(docs, n_merges=8, sample_target_docs=target)
        want = learn_bpe_merges(explicit, n_merges=8)
        assert got == want
        assert got == learn_bpe_merges(
            docs.repartition(5), n_merges=8, sample_target_docs=target
        )
        # and the sampled merges match the pure-Python reference run
        # on the sampled texts (parity holds through the scale path)
        kept_texts = [
            TEXTS[r["doc_id"]] for r in explicit.select("doc_id").collect()
        ]
        assert got == _ref_learn(kept_texts, n_merges=8)


def _jobs_and_merges(spark, docs, **kw):
    got: list = []
    jobs = jobs_run(spark, lambda: got.extend(learn_bpe_merges(docs, **kw)))
    return got, jobs


class TestLearnBpeMerges(_BothPaths):
    """The driver path, and the job pins of both paths."""

    def test_no_checkpoint_after_the_last_merge(
        self, spark, docs, monkeypatch
    ):
        """Distributed path: with 4 merges and a checkpoint every 4, a
        checkpoint after the 4th merge would be read by nothing: the
        run launches as many jobs as one whose cadence never comes
        round, and learns the same merges."""
        monkeypatch.setattr(bpe, "_DRIVER_ROWS", -1)
        merges, jobs = _jobs_and_merges(
            spark, docs, n_merges=4, checkpoint_every=4)
        assert len(merges) == 4
        assert (merges, jobs) == _jobs_and_merges(
            spark, docs, n_merges=4, checkpoint_every=5)

    def test_driver_path_jobs_do_not_grow_with_merges(self, spark, docs):
        """A distinct-word table within the bound is collected once and
        trained on the driver: the distinct-word shuffle, its
        checkpoint and the collect, for any number of merges."""
        with session_conf(spark, 4, True):
            for k, every in ((1, 4), (6, 4), (9, 2)):
                got, jobs = _jobs_and_merges(
                    spark, docs, n_merges=k, checkpoint_every=every)
                assert got == _ref_learn(TEXTS, n_merges=k)
                assert jobs == 3, (k, every, jobs)

    def test_multi_partition_path_learns_the_same_merges(
        self, spark, docs, monkeypatch
    ):
        """Above the bound the table is checkpointed again at the
        session's parallelism and each merge pays the pair-count
        exchange: two jobs per merge, the same merges."""
        monkeypatch.setattr(bpe, "_DRIVER_ROWS", -1)
        no_coalesce = {"spark.sql.adaptive.coalescePartitions.enabled": "false"}
        with session_conf(spark, 4, True, no_coalesce):
            got, jobs = _jobs_and_merges(spark, docs, n_merges=6)
        assert got == _ref_learn(TEXTS, n_merges=6)
        assert jobs == 4 + 2 * 6 + (6 - 1) // 4

    @pytest.mark.parametrize("a, b", [
        ("a'", "\\"), ("\\", "\\"), ("\\", "'"), ("'", "'"), ("b", "a'"),
    ])
    def test_merge_step_binds_quotes_and_backslashes(self, spark, a, b):
        """The SQL merge step quotes its pair: symbols with ``'`` and
        ``\\`` merge exactly as the reference fold does."""
        syms = ["a'", "\\", "b", "a'", "\\", "\\", "\\", "'", "'", "'"]
        row = spark.createDataFrame(
            [(1, syms)], "_n long, _syms array<string>"
        ).selectExpr("_n", bpe._merge_sql(a, b)).collect()[0]
        assert row["_syms"] == ref_merge_pair(syms, a, b)
        assert row["_syms"] != syms


class TestLearnBpeMergesDistributed(_BothPaths):
    """The differential cases on the distributed merge loop: a bound
    of -1 sends every table there, the empty one included."""

    @pytest.fixture(autouse=True)
    def _distributed(self, monkeypatch):
        monkeypatch.setattr(bpe, "_DRIVER_ROWS", -1)


def test_q_bpe_learn_result_dtypes(spark, sf001_dir):
    """The registry row keeps its schema and its pandas dtypes when
    built through Arrow: 16 (step int32, match bool) rows, all
    matching the reference trainer."""
    import __spark_entry__ as entrymod

    got = entrymod.q_bpe_learn(spark, sf001_dir).toPandas()
    assert got.dtypes.astype(str).to_dict() == {"step": "int32", "match": "bool"}
    assert got["step"].tolist() == list(range(16))
    assert got["match"].all()


class TestBpeTokenCounts:
    def test_counts_match_reference_encoding(self, spark):
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(TEXTS)], "doc_id long, text string"
        )
        merges = learn_bpe_merges(docs, n_merges=10)
        ranks = {(m[0], m[1]): i for i, m in enumerate(merges)}
        got = {
            r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
            for r in bpe_token_counts(docs, merges).collect()
        }
        for i, t in enumerate(TEXTS):
            words = _ref_words(t)
            want_tokens = sum(len(_encode_word_py(w, ranks)) for w in words)
            assert got[i] == (len(words), want_tokens), (i, got[i])

    def test_no_merges_means_char_count(self, spark):
        docs = spark.createDataFrame([(1, "abc de")], "doc_id long, text string")
        row = bpe_token_counts(docs, []).collect()[0]
        assert row["n_words"] == 2 and row["n_bpe_tokens"] == 5

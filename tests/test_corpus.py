"""Training-corpus preparation operators (operators/corpus.py,
functions/text.py PII scrub, functions/vectors.py quantization).

Beyond-reference block — SURVEY.md §2 final row, §7.1 step 7.
"""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from gbif_filter_python_spark.functions.text import pii_count, scrub_pii
from gbif_filter_python_spark.functions.vectors import quantize_int8
from gbif_filter_python_spark.operators.corpus import (
    contamination_report,
    deterministic_split,
    pack_sequences,
    tfidf_top_terms,
    word_ngrams,
)
from gbif_filter_python_spark.plans.inspect import node_count
from tests.conftest import session_conf


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "pack my box with five dozen liquor jugs"),
        (2, "the quick brown fox naps all day"),
        (3, ""),
        (4, "one two"),
        (5, "sphinx of black quartz judge my vow"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestDeterministicSplit:
    def test_stable_and_total(self, spark):
        df = spark.range(1000).withColumnRenamed("id", "doc_id")
        a = deterministic_split(df, "doc_id")
        b = deterministic_split(df, "doc_id")
        # Same assignment on every call — the split is a pure function
        # of the key, never of partitioning or run order.
        assert a.exceptAll(b).count() == 0
        counts = dict(
            a.groupBy("split").count().rdd.map(tuple).collect()
        )
        assert sum(counts.values()) == 1000
        # md5 buckets are uniform: 10% +- a generous tolerance.
        assert 50 <= counts["test"] <= 150
        assert 50 <= counts["val"] <= 150

    def test_no_shuffle(self, spark):
        df = spark.range(100).withColumnRenamed("id", "doc_id")
        plan = deterministic_split(df, "doc_id")._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestWordNgrams:
    def test_trigrams(self, docs):
        out = (
            docs.filter(F.col("doc_id") == 4)
            .select(word_ngrams(F.col("text"), 3).alias("g"))
            .first()["g"]
        )
        assert out == []  # 2 words < n=3 → empty, not sequence(1,0)

        out = (
            docs.filter(F.col("doc_id") == 1)
            .select(word_ngrams(F.col("text"), 3).alias("g"))
            .first()["g"]
        )
        assert out[0] == "pack my box"
        assert out[-1] == "dozen liquor jugs"
        assert len(out) == 6  # 8 words → 6 trigrams

    def test_empty_text(self, docs):
        out = (
            docs.filter(F.col("doc_id") == 3)
            .select(word_ngrams(F.col("text"), 2).alias("g"))
            .first()["g"]
        )
        assert out == []


class TestTfIdf:
    def test_rare_term_outranks_common(self, docs):
        top = tfidf_top_terms(docs, k=3).collect()
        by_doc = {}
        for r in top:
            by_doc.setdefault(r["doc_id"], []).append(r)
        # Doc 1: every term has tf=1; 'my' also appears in doc 5 so its
        # idf (ln 3) loses to the unique terms' (ln 6) — top-3 is the
        # alphabetically-first unique terms, 'my' excluded.
        doc1 = sorted(by_doc[1], key=lambda r: r["rank"])
        assert [r["term"] for r in doc1] == ["box", "dozen", "five"]
        # Every listed doc has <= 3 terms, ranks 1..k contiguous.
        for rows in by_doc.values():
            ranks = sorted(r["rank"] for r in rows)
            assert ranks == list(range(1, len(rows) + 1))

    def test_empty_doc_absent(self, docs):
        top = tfidf_top_terms(docs, k=3)
        assert top.filter(F.col("doc_id") == 3).count() == 0


class TestContamination:
    def test_planted_leak(self, spark):
        # md5 buckets: doc 2 → 5 (test); docs 17, 30 → 30, 99 (train).
        # One trigram ('alpha beta gamma') is planted in both splits.
        rows = [
            (2, "alpha beta gamma delta"),
            (17, "zzz alpha beta gamma yyy"),
            (30, "unrelated words only here"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        rep = contamination_report(docs, n=3, test_pct=10).collect()
        assert len(rep) == 1
        assert rep[0]["doc_id"] == 2
        assert rep[0]["n_shared"] == 1

    def test_planted_leak_count(self, spark):
        # Test doc 2 trigrams {abg, bgd} are both inside train doc 17.
        rows = [
            (2, "alpha beta gamma delta"),
            (17, "alpha beta gamma delta extra"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        rep = contamination_report(docs, n=3, test_pct=10).collect()
        assert rep[0]["doc_id"] == 2
        assert rep[0]["n_shared"] == 2


class TestDecontaminate:
    def test_leaking_train_doc_dropped_clean_kept(self, spark):
        from gbif_filter_python_spark.operators.corpus import decontaminate

        test = spark.createDataFrame(
            [(100, "alpha beta gamma delta epsilon")],
            "doc_id long, text string",
        )
        train = spark.createDataFrame(
            [
                # 3 shared trigrams (wholesale inclusion) → dropped
                (1, "alpha beta gamma delta epsilon zeta"),
                # 1 shared trigram (incidental) → kept at min_shared=2
                (2, "prefix alpha beta gamma something else"),
                (3, "totally unrelated content right here"),
            ],
            "doc_id long, text string",
        )
        kept2 = sorted(
            r["doc_id"]
            for r in decontaminate(train, test, n=3, min_shared=2).collect()
        )
        assert kept2 == [2, 3]
        kept1 = sorted(
            r["doc_id"]
            for r in decontaminate(train, test, n=3, min_shared=1).collect()
        )
        assert kept1 == [3]


class TestPackSequences:
    def test_offsets_and_packs_global_opt_out(self, spark):
        """shards=None: the exact single-stream semantics (bounded
        inputs / byte-contiguity) — running offsets over one global
        doc_id order."""
        rows = [(i, " ".join(["w"] * 1000)) for i in range(5)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["doc_id"]: r
            for r in pack_sequences(docs, budget=2048, shards=None).collect()
        }
        assert out[0]["start_offset"] == 0 and out[0]["pack_id"] == 0
        assert out[2]["start_offset"] == 2000 and out[2]["pack_id"] == 0
        assert out[3]["start_offset"] == 3000 and out[3]["pack_id"] == 1
        assert out[4]["pack_id"] == 1

    def test_sharded_default_packs_within_shard(self, spark):
        """The DEFAULT is shard-local packing (the measured sf10
        knee: a global cumsum is one task at any cluster size):
        offsets restart per doc_id % shards and pack_id encodes
        (shard, local pack) collision-free."""
        from gbif_filter_python_spark.operators.corpus import (
            PACK_SHARD_STRIDE,
        )
        import inspect

        sig = inspect.signature(pack_sequences)
        assert sig.parameters["shards"].default == 256

        rows = [(i, " ".join(["w"] * 1000)) for i in range(5)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["doc_id"]: r
            for r in pack_sequences(docs, budget=1500, shards=2).collect()
        }
        # shard 0 = docs 0,2,4 (offsets 0,1000,2000); shard 1 = 1,3
        assert out[0]["start_offset"] == 0
        assert out[2]["start_offset"] == 1000
        assert out[4]["start_offset"] == 2000
        assert out[1]["start_offset"] == 0
        assert out[3]["start_offset"] == 1000
        assert out[0]["pack_id"] == 0
        assert out[4]["pack_id"] == 1  # 2000 // 1500
        assert out[1]["pack_id"] == PACK_SHARD_STRIDE
        assert out[3]["pack_id"] == PACK_SHARD_STRIDE

    def test_empty_doc_zero_tokens(self, spark):
        docs = spark.createDataFrame(
            [(0, ""), (1, "a b c")], "doc_id long, text string"
        )
        out = {r["doc_id"]: r for r in pack_sequences(docs, 10).collect()}
        assert out[0]["n_tokens"] == 0
        assert out[1]["start_offset"] == 0


class TestSampling:
    def test_sample_by_hash_deterministic_and_sized(self, spark):
        from gbif_filter_python_spark.operators.corpus import sample_by_hash

        df = spark.range(2000).withColumnRenamed("id", "doc_id")
        a = sample_by_hash(df, "doc_id", 0.3)
        b = sample_by_hash(df, "doc_id", 0.3)
        assert a.exceptAll(b).count() == 0
        n = a.count()
        assert 500 <= n <= 700  # ~600 expected
        # salt decorrelates: overlap of two independent 30% samples
        # is ~9%, far from the 30% self-overlap.
        c = sample_by_hash(df, "doc_id", 0.3, seed_salt="x")
        overlap = a.join(c, "doc_id", "left_semi").count()
        assert overlap < n * 0.6

    def test_sample_nested_subset(self, spark):
        # A 10% hash sample is a subset of the 30% sample (thresholds
        # nest) — the property that makes ablation corpora comparable.
        from gbif_filter_python_spark.operators.corpus import sample_by_hash

        df = spark.range(2000).withColumnRenamed("id", "doc_id")
        small = sample_by_hash(df, "doc_id", 0.1)
        big = sample_by_hash(df, "doc_id", 0.3)
        assert small.join(big, "doc_id", "left_anti").count() == 0

    def test_stratified_rates(self, spark):
        from gbif_filter_python_spark.operators.corpus import stratified_sample

        df = spark.range(3000).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") % 3 == 0, "en")
            .when(F.col("id") % 3 == 1, "de")
            .otherwise("fr")
            .alias("lang"),
        )
        kept = dict(
            stratified_sample(df, "lang", "doc_id", {"en": 0.5, "de": 0.1})
            .groupBy("lang")
            .count()
            .rdd.map(tuple)
            .collect()
        )
        assert 400 <= kept["en"] <= 600  # ~500 of 1000
        assert 50 <= kept["de"] <= 160  # ~100 of 1000
        assert kept["fr"] == 1000  # unlisted stratum keeps all

    def test_mixture_sample_hits_target_mix(self, spark):
        """Binding domain keeps everything; others downsample so the
        kept token mix approaches the target weights; excluded domains
        drop entirely; runs are bit-identical."""
        from gbif_filter_python_spark.operators.corpus import mixture_sample

        # en: 3000 docs × 1 token, de: 1000, zh: 500 (excluded)
        df = spark.range(4500).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") < 3000, "en")
            .when(F.col("id") < 4000, "de")
            .otherwise("zh")
            .alias("lang"),
            F.lit("tok").alias("text"),
        )
        # target en:de = 1:1 → de (T/w = 1000) binds, en keeps 1/3
        kept = mixture_sample(df, {"en": 1, "de": 1}, "lang", "doc_id")
        counts = dict(
            (r["lang"], r["count"]) for r in kept.groupBy("lang").count().collect()
        )
        assert "zh" not in counts
        assert counts["de"] == 1000  # binding domain: rate exactly 1
        assert 900 <= counts["en"] <= 1100  # ~1000 of 3000
        again = mixture_sample(df, {"en": 1, "de": 1}, "lang", "doc_id")
        assert kept.exceptAll(again).count() == 0

    def test_mixture_sample_rejects_bad_weights(self, spark):
        from gbif_filter_python_spark.operators.corpus import mixture_sample

        df = spark.createDataFrame(
            [(1, "en", "x")], "doc_id long, lang string, text string"
        )
        with pytest.raises(ValueError, match="integer"):
            mixture_sample(df, {"en": 0.5}, "lang", "doc_id")
        with pytest.raises(ValueError, match="overlap"):
            mixture_sample(df, {"xx": 2}, "lang", "doc_id")

    def test_flatten_domains_equalizes(self, spark):
        from gbif_filter_python_spark.operators.corpus import flatten_domains

        # 100 'small' docs vs 1900 'big' docs → big downsampled to ~100.
        df = spark.range(2000).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") < 100, "small").otherwise("big").alias("src"),
        )
        kept = dict(
            flatten_domains(df, "src", "doc_id")
            .groupBy("src")
            .count()
            .rdd.map(tuple)
            .collect()
        )
        assert kept["small"] == 100  # threshold = 10000 → keep all
        assert 60 <= kept["big"] <= 140  # ~100 expected
        # schema untouched apart from the filter
        assert flatten_domains(df, "src", "doc_id").columns == ["doc_id", "src"]


class TestPiiScrub:
    def test_redacts_and_counts(self, spark):
        rows = [
            (0, "mail me at jane.doe+x@sub.example.org thanks"),
            (1, "call +1 (555) 123-4567 now or 020 7946 0958"),
            (2, "clean text with no pii at all"),
            (3, "both a@b.io and +12 345 678 901 here"),
        ]
        df = spark.createDataFrame(rows, "id long, text string")
        out = {
            r["id"]: r
            for r in df.select(
                "id",
                scrub_pii(F.col("text")).alias("s"),
                pii_count(F.col("text")).alias("n"),
            ).collect()
        }
        assert "<EMAIL>" in out[0]["s"] and "jane" not in out[0]["s"]
        assert out[0]["n"] == 1
        assert out[1]["s"].count("<PHONE>") == 2 and out[1]["n"] == 2
        assert out[2]["s"] == "clean text with no pii at all"
        assert out[2]["n"] == 0
        assert "<EMAIL>" in out[3]["s"] and "<PHONE>" in out[3]["s"]
        assert out[3]["n"] == 2

    def test_email_digits_not_half_eaten(self, spark):
        # An email whose local part is digit-heavy must be redacted as
        # an email, not partially as a phone number.
        df = spark.createDataFrame(
            [(0, "id 123456789012@example.com end")], "id long, text string"
        )
        s = df.select(scrub_pii(F.col("text")).alias("s")).first()["s"]
        assert s == "id <EMAIL> end"


class TestQuantizeInt8:
    def test_range_and_extremes(self, spark):
        df = spark.createDataFrame(
            [(0, [1.0, -2.0, 0.5, 0.0]), (1, [0.0, 0.0])],
            "vec_id long, v array<double>",
        )
        out = {
            r["vec_id"]: r["q"]
            for r in df.select(
                "vec_id", quantize_int8(F.col("v")).alias("q")
            ).collect()
        }
        # maxabs=2 → 1.0→floor(63.5+0.5)=64, -2→-127? floor(-127+0.5)=-127
        assert out[0] == [64, -127, 32, 0]
        assert out[1] == [0, 0]

    def test_sf_embeddings_bounds(self, spark):
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = emb.select(
            F.explode(quantize_int8(F.col("embedding"))).alias("q")
        ).agg(F.min("q"), F.max("q")).first()
        assert q[0] >= -127 and q[1] <= 127


class TestTrimByPercentile:
    def test_band_and_no_driver_action(self, spark):
        from gbif_filter_python_spark.operators.corpus import trim_by_percentile

        df = spark.range(1, 101).select(F.col("id").alias("n"))
        kept = trim_by_percentile(df, "n", 0.10, 0.90)
        vals = sorted(r["n"] for r in kept.collect())
        # p10 of 1..100 = 10.9, p90 = 90.1 → keep 11..90
        assert vals[0] == 11 and vals[-1] == 90
        assert len(vals) == 80

    def test_uniform_column_keeps_all(self, spark):
        from gbif_filter_python_spark.operators.corpus import trim_by_percentile

        df = spark.range(50).select(F.lit(7).alias("n"))
        assert trim_by_percentile(df, "n").count() == 50


class TestTrainingShards:
    def test_disjoint_ordered_shards(self, spark, tmp_path):
        import glob

        from gbif_filter_python_spark.sources.io import write_training_shards

        df = spark.range(1000).select(F.col("id").alias("doc_id"))
        path = str(tmp_path / "shards")
        write_training_shards(df.repartition(7), path, n_shards=8)
        files = sorted(glob.glob(f"{path}/part-*.parquet"))
        assert len(files) == 8
        # Each shard internally sorted; shard key ranges disjoint.
        ranges = []
        for f in files:
            ids = [r["doc_id"] for r in spark.read.parquet(f).collect()]
            assert ids == sorted(ids)
            ranges.append((ids[0], ids[-1]))
        ranges.sort()
        for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
            assert hi < lo
        # Nothing lost or duplicated.
        total = sorted(
            r["doc_id"] for r in spark.read.parquet(path).collect()
        )
        assert total == list(range(1000))


class TestPrepareTrainingCorpus:
    def test_end_to_end_invariants(self, spark):
        from gbif_filter_python_spark.operators.corpus import (
            prepare_training_corpus,
        )

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out = prepare_training_corpus(docs).cache()
        rows = out.collect()
        assert rows, "pipeline must keep documents"
        # No PII survives the scrub stage.
        assert out.filter(F.col("text").rlike("@")).count() == 0
        # Quality floor holds.
        assert all(r["quality"] >= 0.3 for r in rows)
        # No duplicate normalized content.
        from gbif_filter_python_spark.functions.text import normalized_text

        n_norm = out.select(
            F.md5(normalized_text(F.col("text"))).alias("h")
        ).distinct().count()
        assert n_norm == len(rows)
        # Every row has a split; pack ids decode as (shard, local)
        # with local packs contiguous from 0 within each
        # (split, shard) — the shard-local packing contract.
        from gbif_filter_python_spark.operators.corpus import (
            PACK_SHARD_STRIDE,
        )

        by_cell = {}
        for r in rows:
            shard, local = divmod(r["pack_id"], PACK_SHARD_STRIDE)
            assert 0 <= shard < 256
            by_cell.setdefault((r["split"], shard), []).append(local)
        for locals_ in by_cell.values():
            assert min(locals_) == 0
        # Determinism: a second build is identical.
        again = prepare_training_corpus(docs)
        assert out.exceptAll(again).count() == 0
        out.unpersist()


class TestRepetitionSignals:
    def test_fractions(self, spark):
        from gbif_filter_python_spark.operators.corpus import (
            repetition_signals,
        )

        docs = spark.createDataFrame(
            [
                (1, "a b a b a b"),          # heavy bigram repetition
                (2, "one two three four"),   # all distinct
                (3, "x"),                    # < 2 words: excluded
            ],
            "doc_id long, text string",
        )
        rows = {r.doc_id: r for r in repetition_signals(docs).collect()}
        assert set(rows) == {1, 2}
        # doc 1: 6 words, 2 distinct → dup frac 4/6; bigrams
        # [a b, b a, a b, b a, a b] → top 'a b' ×3 of 5.
        assert rows[1].n_words == 6
        assert abs(rows[1].dup_word_frac - 4 / 6) < 1e-6
        assert abs(rows[1].top_bigram_frac - 3 / 5) < 1e-6
        # doc 2: no repetition at all.
        assert rows[2].dup_word_frac == 0.0
        assert abs(rows[2].top_bigram_frac - 1 / 3) < 1e-6


class TestChunkDocuments:
    def test_chunk_boundaries_and_overlap(self, spark):
        from gbif_filter_python_spark.operators.corpus import chunk_documents

        words = " ".join(f"w{i}" for i in range(100))
        docs = spark.createDataFrame(
            [(1, words), (2, "small doc")], "doc_id long, text string"
        )
        out = chunk_documents(docs, chunk_size=40, overlap=10).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r.doc_id, []).append(r)
        # stride 30 over 100 words → starts 0, 30, 60, 90.
        c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
        assert [r.chunk_id for r in c1] == [0, 1, 2, 3]
        assert [r.n_tokens for r in c1] == [40, 40, 40, 10]
        # Short doc: exactly one chunk with every token.
        assert len(by_doc[2]) == 1 and by_doc[2][0].n_tokens == 2
        # Overlap determinism: identical chunks hash identically.
        again = chunk_documents(docs, chunk_size=40, overlap=10).collect()
        assert sorted(r.chunk_md5 for r in out) == sorted(
            r.chunk_md5 for r in again
        )

    def test_invalid_overlap_rejected(self, spark):
        import pytest
        from gbif_filter_python_spark.operators.corpus import chunk_documents

        docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        with pytest.raises(ValueError, match="overlap"):
            chunk_documents(docs, chunk_size=8, overlap=8)


class TestHashSampleKPerGroup:
    def test_deterministic_and_sized(self, spark):
        from gbif_filter_python_spark.operators.corpus import (
            hash_sample_k_per_group,
        )

        df = spark.createDataFrame(
            [(g, g * 100 + i) for g in range(3) for i in range(20)],
            "grp int, key long",
        )
        s1 = hash_sample_k_per_group(df, "grp", "key", k=4).collect()
        assert len(s1) == 12
        # Same seed → identical sample even under different partitioning.
        s2 = hash_sample_k_per_group(
            df.repartition(7), "grp", "key", k=4
        ).collect()
        assert sorted((r.grp, r.key) for r in s1) == sorted(
            (r.grp, r.key) for r in s2
        )
        # Different seed → (almost surely) different sample.
        s3 = hash_sample_k_per_group(df, "grp", "key", k=4, seed="s2").collect()
        assert sorted((r.grp, r.key) for r in s1) != sorted(
            (r.grp, r.key) for r in s3
        )


class TestProfileTable:
    def test_one_pass_stats(self, spark):
        from gbif_filter_python_spark.operators.profile import profile_table

        df = spark.createDataFrame(
            [(1, "a", 1.5), (2, "b", None), (3, "a", 2.5), (None, "c", 0.5)],
            "k long, s string, v double",
        )
        out = {r.column: r for r in profile_table(
            df, exact_distinct=True
        ).collect()}
        assert set(out) == {"k", "s", "v"}
        assert all(r.n_rows == 4 for r in out.values())
        assert out["k"].n_nonnull == 3 and out["k"].n_distinct == 3
        assert out["s"].n_distinct == 3
        assert out["v"].n_nonnull == 3
        assert out["v"].min_value == "0.5" and out["v"].max_value == "2.5"
        assert out["s"].min_value == "a" and out["s"].max_value == "c"

    def test_single_aggregation_pass(self, spark):
        """The profile must be ONE aggregate over the table — approx
        mode plans no Expand and a single pair of HashAggregates."""
        from gbif_filter_python_spark.operators.profile import profile_table

        df = spark.range(100).selectExpr("id", "id % 7 AS m")
        plan = profile_table(df)._jdf.queryExecution().executedPlan().toString()
        assert "Expand" not in plan
        # exact mode documents its cost: the Expand appears.
        plan_exact = profile_table(
            df, exact_distinct=True
        )._jdf.queryExecution().executedPlan().toString()
        assert "Expand" in plan_exact


class TestAssignGlobalIndex:
    def test_index_is_rank_in_total_order(self, spark):
        from gbif_filter_python_spark.operators.corpus import (
            assign_global_index,
        )

        df = spark.range(0, 500).select(
            (F.col("id") * 7919 % 500).alias("k"),  # permuted unique keys
            (F.col("id") % 5).alias("grp"),
        )
        with session_conf(spark, 7, False):
            out = assign_global_index(df, ["k"])
            rows = {r["k"]: r["global_idx"] for r in out.collect()}
        # rank of k in ascending order == k itself here (keys are 0..499)
        assert rows == {k: k for k in range(500)}

    def test_deterministic_across_partitionings(self, spark):
        from gbif_filter_python_spark.operators.corpus import (
            assign_global_index,
        )

        df = spark.range(0, 300).select((F.col("id") * 31 % 300).alias("k"))
        with session_conf(spark, 3, False):
            a = {
                r["k"]: r["global_idx"]
                for r in assign_global_index(
                    df.repartition(13), ["k"]
                ).collect()
            }
        with session_conf(spark, 11, False):
            b = {
                r["k"]: r["global_idx"]
                for r in assign_global_index(df.coalesce(1), ["k"]).collect()
            }
        assert a == b
        assert sorted(a.values()) == list(range(300))

    def test_data_never_funnels_through_one_partition(self, spark):
        """The scale contract: the DATA takes one range shuffle; the
        only single-partition exchange in the plan is the tiny
        per-partition-counts frame feeding the prefix-sum window (its
        input is an aggregate, never the raw data), and the join back
        is a broadcast."""
        from gbif_filter_python_spark.operators.corpus import (
            assign_global_index,
        )

        df = spark.range(0, 100).select(F.col("id").alias("k"))
        with session_conf(spark, 4, False):
            plan = (
                assign_global_index(df, ["k"])
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        assert "Exchange rangepartitioning" in plan
        # at most the tiny counts frame funnels (with 1 shuffle
        # partition in the test session it may be elided entirely)
        assert node_count(plan, "Exchange SinglePartition") <= 1
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


class TestRepeatedSpans:
    def test_planted_shared_span_counts(self, spark):
        from gbif_filter_python_spark.operators.corpus import repeated_spans

        shared = "alpha beta gamma delta epsilon"
        docs = spark.createDataFrame(
            [
                (1, f"{shared} zeta eta theta"),      # spans incl shared
                (2, f"intro words here {shared}"),    # shares the span
                (3, "totally different content with many unique words"),
                (4, "tiny doc"),                      # < 5 words: no rows
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: (r["n_spans"], r["n_repeated"])
            for r in repeated_spans(docs, n=5, min_docs=2).collect()
        }
        # doc 1: 8 words -> 4 spans; only the leading shared 5-gram
        # also occurs in doc 2 (as its trailing 5-gram of 8 words)
        assert out[1] == (4, 1)
        assert out[2] == (4, 1)
        assert out[3] == (3, 0)  # 7 words -> 3 spans, none shared
        assert 4 not in out


class TestRobustOutliers:
    def _ro(self, spark, rows, z=3.5):
        from gbif_filter_python_spark.operators.profile import (
            robust_outliers,
        )

        df = spark.createDataFrame(rows, "id long, k string, v double")
        return {
            r.id: (r.rz, r.is_outlier)
            for r in robust_outliers(df, "k", "v", "id", z_thresh=z).collect()
        }

    def test_wild_value_flagged_median_unmoved(self, spark):
        rows = [(i, "a", float(v)) for i, v in enumerate([10, 11, 9, 10, 12, 10, 11, 1000])]
        got = self._ro(spark, rows)
        assert got[7][1] is True
        assert all(not got[i][1] for i in range(7))
        # the wild value does not drag its own score down: rz is huge
        assert abs(got[7][0]) > 100

    def test_stddev_masking_case(self, spark):
        """The classic failure of plain z-scores: one extreme value
        inflates stddev enough that its z stays < 3.5 — MAD still
        flags it."""
        import statistics

        vals = [10.0, 11.0, 9.0, 10.0, 12.0, 10.0, 11.0, 9.0, 60.0]
        mu = statistics.mean(vals)
        sd = statistics.pstdev(vals)
        assert abs((60.0 - mu) / sd) < 3.5  # plain z misses it
        rows = [(i, "a", v) for i, v in enumerate(vals)]
        assert self._ro(spark, rows)[8][1] is True  # MAD catches it

    def test_constant_group_has_no_outliers(self, spark):
        rows = [(i, "c", 5.0) for i in range(6)] + [(99, "c", 5.0)]
        got = self._ro(spark, rows)
        assert all(rz is None and not flag for rz, flag in got.values())


class TestWeightedSample:
    def test_proportional_inclusion_and_determinism(self, spark):
        from gbif_filter_python_spark.operators.corpus import (
            weighted_sample,
        )

        rows = [(i, 1.0 if i else 50.0) for i in range(40)]
        df = spark.createDataFrame(rows, "doc_id long, w double")
        # doc 0 carries 50/89 of the mass: across salts it should be
        # selected (k=5 of 40) far more often than a unit-weight doc.
        hits0 = hits1 = 0
        for salt in map(str, range(12)):
            ids = {
                r.doc_id
                for r in weighted_sample(
                    df, "w", 5, id_col="doc_id", salt=salt
                ).collect()
            }
            assert len(ids) == 5
            hits0 += 0 in ids
            hits1 += 1 in ids
        assert hits0 >= 10
        assert hits1 <= hits0 - 5
        # same salt → identical set (no rand() anywhere)
        a = {r.doc_id for r in weighted_sample(df, "w", 5, salt="x").collect()}
        b = {r.doc_id for r in weighted_sample(df, "w", 5, salt="x").collect()}
        assert a == b

    def test_nonpositive_weights_excluded(self, spark):
        from gbif_filter_python_spark.operators.corpus import (
            weighted_sample,
        )

        df = spark.createDataFrame(
            [(1, 0.0), (2, -3.0), (3, 2.0)], "doc_id long, w double"
        )
        assert [
            r.doc_id for r in weighted_sample(df, "w", 10).collect()
        ] == [3]


class TestSegmentDocumentsUdtf:
    def test_offsets_slice_the_original_text(self, spark):
        from gbif_filter_python_spark.operators.corpus import (
            segment_documents,
        )

        rows = [
            (1, "alpha. beta gamma. delta"),
            (2, "no separator here"),
            (3, ""),
            (4, ". leading"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        texts = dict(rows)
        segs = segment_documents(df).collect()
        by_doc: dict = {}
        for r in segs:
            assert texts[r.doc_id][r.s_off : r.e_off] == r.segment
            by_doc.setdefault(r.doc_id, []).append(r)
        # segments joined with the separator reconstruct each text
        for d, rs in by_doc.items():
            rs.sort(key=lambda r: r.sent_idx)
            assert ". ".join(r.segment for r in rs) == texts[d]
        assert len(by_doc[1]) == 3  # two ". " separators → 3 segments
        assert len(by_doc[3]) == 1 and by_doc[3][0].segment == ""
        assert by_doc[4][0].segment == "" and by_doc[4][1].segment == "leading"


class TestChi2Independence:
    def test_independent_and_dependent_cases(self, spark):
        from gbif_filter_python_spark.operators.profile import (
            chi2_independence,
        )

        # perfectly proportional table → chi2 = 0
        rows = []
        for a in ("x", "y"):
            for b, k in (("p", 10), ("q", 30)):
                rows += [(a, b)] * k
        df = spark.createDataFrame(rows, "a string, b string")
        r = chi2_independence(df, "a", "b").collect()[0]
        assert (r.chi2, r.dof, r.n, r.cramers_v) == (0.0, 1, 80, 0.0)

        # perfect association (x↔p, y↔q): chi2 = n, V = 1
        rows = [("x", "p")] * 25 + [("y", "q")] * 15
        df = spark.createDataFrame(rows, "a string, b string")
        r = chi2_independence(df, "a", "b").collect()[0]
        assert r.chi2 == 40.0 and r.cramers_v == 1.0

    def test_matches_scipy_style_hand_computation(self, spark):
        from gbif_filter_python_spark.operators.profile import (
            chi2_independence,
        )

        # classic 2x2: O = [[10, 20], [30, 5]]
        rows = (
            [("a", "p")] * 10
            + [("a", "q")] * 20
            + [("b", "p")] * 30
            + [("b", "q")] * 5
        )
        df = spark.createDataFrame(rows, "a string, b string")
        got = chi2_independence(df, "a", "b").collect()[0]
        o = [[10, 20], [30, 5]]
        n = 65
        rt = [30, 35]
        ct = [40, 25]
        chi2 = sum(
            (o[i][j] - rt[i] * ct[j] / n) ** 2 / (rt[i] * ct[j] / n)
            for i in range(2)
            for j in range(2)
        )
        assert got.chi2 == round(chi2, 4)
        assert got.dof == 1


class TestPopulationStability:
    def test_identical_distributions_near_zero_and_shifted_large(self, spark):
        import random

        from gbif_filter_python_spark.operators.profile import (
            population_stability,
        )

        rng = random.Random(5)
        base = [rng.gauss(50, 10) for _ in range(2000)]
        ref = spark.createDataFrame([(v,) for v in base], "value double")
        same = spark.createDataFrame(
            [(v,) for v in base[::-1]], "value double"
        )
        psi_same = sum(
            r.psi_contrib
            for r in population_stability(ref, same, "value").collect()
        )
        assert psi_same < 0.01  # identical sample → PSI ~ 0

        shifted = spark.createDataFrame(
            [(v + 15,) for v in base], "value double"
        )
        rows = population_stability(ref, shifted, "value").collect()
        psi_shift = sum(r.psi_contrib for r in rows)
        assert psi_shift > 0.25  # 1.5σ shift is a major drift
        # reference lands ~uniformly in its own quantile bins
        for r in rows:
            assert 0.15 < r.ref_pct < 0.25

    def test_empty_current_bin_contributes_finitely(self, spark):
        from gbif_filter_python_spark.operators.profile import (
            population_stability,
        )

        ref = spark.createDataFrame(
            [(float(i),) for i in range(100)], "value double"
        )
        cur = spark.createDataFrame(
            [(95.0,)] * 50, "value double"
        )  # all mass in the top bin
        rows = population_stability(ref, cur, "value").collect()
        assert all(abs(r.psi_contrib) < 100 for r in rows)
        top = [r for r in rows if r.cur_pct > 0.9]
        assert len(top) == 1

    def test_empty_reference_is_null_not_a_division_error(self, spark):
        from gbif_filter_python_spark.operators.profile import (
            population_stability,
        )

        ref = spark.createDataFrame([], "value double")
        cur = spark.createDataFrame([(1.0,), (2.0,)], "value double")
        rows = population_stability(ref, cur, "value", n_bins=4).collect()
        # no thresholds: no current row falls in a bin either
        assert sorted(tuple(r) for r in rows) == [
            (b, 0, 0, None, 0.0, None) for b in range(4)
        ]

    def test_empty_current_is_null_not_a_division_error(self, spark):
        from gbif_filter_python_spark.operators.profile import (
            population_stability,
        )

        ref = spark.createDataFrame(
            [(float(i),) for i in range(8)], "value double"
        )
        cur = spark.createDataFrame([], "value double")
        rows = population_stability(ref, cur, "value", n_bins=4).collect()
        assert sorted(tuple(r) for r in rows) == [
            (b, 2, 0, 0.25, None, None) for b in range(4)
        ]


class TestSchemaDiff:
    def test_all_four_statuses(self, spark):
        from gbif_filter_python_spark.operators.profile import schema_diff

        old = spark.createDataFrame(
            [], "id long, name string, price double, legacy int"
        )
        new = spark.createDataFrame(
            [], "id long, name string, price decimal(12,2), extra date"
        )
        got = {
            r.column: (r.status, r.old_type, r.new_type)
            for r in schema_diff(old, new).collect()
        }
        assert got["id"] == ("unchanged", "bigint", "bigint")
        assert got["legacy"] == ("removed", "int", None)
        assert got["extra"] == ("added", None, "date")
        assert got["price"][0] == "type_changed"


class TestImputeByGroup:
    def test_median_mean_flags_and_all_null_group(self, spark):
        from gbif_filter_python_spark.operators.profile import (
            impute_by_group,
        )

        rows = [
            (1, "a", 10.0),
            (2, "a", 20.0),
            (3, "a", 40.0),
            (4, "a", None),
            (5, "b", None),  # group b entirely null
        ]
        df = spark.createDataFrame(rows, "id long, g string, value double")
        got = {
            r.id: (r.value, r.value_imputed)
            for r in impute_by_group(df, ["g"], ["value"]).collect()
        }
        assert got[4] == (20.0, True)  # median of {10,20,40}
        assert got[1] == (10.0, False)
        assert got[5] == (None, True)  # nothing defensible to fill

        got_mean = {
            r.id: r.value
            for r in impute_by_group(
                df, ["g"], ["value"], strategy="mean"
            ).collect()
        }
        assert got_mean[4] == pytest.approx(70.0 / 3, abs=1e-6)

        import pytest as _p

        with _p.raises(ValueError):
            impute_by_group(df, ["g"], ["value"], strategy="mode")


class TestLinearTrend:
    def test_exact_line_and_noise(self, spark):
        from gbif_filter_python_spark.operators.profile import linear_trend

        rows = [("a", float(x), 2.0 * x + 5.0) for x in range(10)]
        rows += [("b", 0.0, 1.0), ("b", 1.0, 3.0), ("b", 2.0, 2.0)]
        df = spark.createDataFrame(rows, "g string, x double, y double")
        out = {
            r["g"]: r
            for r in linear_trend(df, ["g"], "x", "y").collect()
        }
        assert out["a"]["slope"] == 2.0
        assert out["a"]["intercept"] == 5.0
        assert out["a"]["r2"] == 1.0
        assert out["a"]["n"] == 10
        # b: x=[0,1,2], y=[1,3,2] -> slope 0.5, r2 = 0.25/0.5/2... compute
        # slope = cov/var = ((0-1)(1-2)+(0)(1)+(1)(0))/2 = 0.5
        assert out["b"]["slope"] == 0.5
        assert 0.0 < out["b"]["r2"] < 1.0

    def test_degenerate_variance_null_not_blowup(self, spark):
        from gbif_filter_python_spark.operators.profile import linear_trend

        df = spark.createDataFrame(
            [
                ("constx", 1.0, 1.0),
                ("constx", 1.0, 5.0),
                ("consty", 0.0, 7.0),
                ("consty", 4.0, 7.0),
            ],
            "g string, x double, y double",
        )
        out = {r["g"]: r for r in linear_trend(df, ["g"], "x", "y").collect()}
        assert out["constx"]["slope"] is None
        assert out["constx"]["intercept"] is None
        assert out["constx"]["r2"] is None
        assert out["consty"]["slope"] == 0.0
        assert out["consty"]["intercept"] == 7.0
        assert out["consty"]["r2"] is None  # no variance to explain

    def test_null_pairs_excluded(self, spark):
        from gbif_filter_python_spark.operators.profile import linear_trend

        df = spark.createDataFrame(
            [("g", 0.0, 0.0), ("g", 1.0, 2.0), ("g", None, 9.0), ("g", 3.0, None)],
            "g string, x double, y double",
        )
        row = linear_trend(df, ["g"], "x", "y").collect()[0]
        assert row["n"] == 2
        assert row["slope"] == 2.0


class TestFdCandidates:
    def _df(self, spark):
        rows = [
            # k -> v holds; k -> w violated by k=2 (two w values);
            # k=3 mixes NULL and non-NULL w (violation: NULL counts
            # as a value); k=4 is all-NULL w (nd=0, holds).
            (1, "a", "x"),
            (1, "a", "x"),
            (2, "b", "y"),
            (2, "b", "z"),
            (3, "c", "y"),
            (3, "c", None),
            (4, "d", None),
            (None, "e", "q"),  # NULL lhs rows are excluded
        ]
        return spark.createDataFrame(rows, "k int, v string, w string")

    def test_holds_violations_support(self, spark):
        from gbif_filter_python_spark.operators.profile import fd_candidates

        out = {
            (r["lhs"], r["rhs"]): r
            for r in fd_candidates(self._df(spark), {"k": ["v", "w"]}).collect()
        }
        kv = out[("k", "v")]
        assert kv["holds"] and kv["n_violating"] == 0
        assert kv["n_groups"] == 4 and kv["support"] == 1.0
        kw = out[("k", "w")]
        assert not kw["holds"] and kw["n_violating"] == 2
        # non-violating groups: k=1 (2 rows) + k=4 (1 row) of 7 rows
        assert abs(kw["support"] - 3 / 7) < 1e-6

    def test_multiple_lhs_single_pass_each(self, spark):
        from gbif_filter_python_spark.operators.profile import fd_candidates

        out = fd_candidates(
            self._df(spark), {"k": ["v"], "v": ["k"]}
        ).collect()
        assert len(out) == 2
        by = {(r["lhs"], r["rhs"]): r for r in out}
        assert by[("k", "v")]["holds"]
        # v -> k also holds on this data (v values are unique per k)
        assert by[("v", "k")]["holds"]

    def test_empty_candidates_raise_named_error(self, spark):
        """ADVICE r4: an empty candidates dict must raise a named
        ValueError, not a bare IndexError from outs[0]; an empty rhs
        list likewise names its key instead of emitting stack(0,)."""
        import pytest as _p

        from gbif_filter_python_spark.operators.profile import fd_candidates

        with _p.raises(ValueError, match="non-empty"):
            fd_candidates(self._df(spark), {})
        with _p.raises(ValueError, match="'k'"):
            fd_candidates(self._df(spark), {"k": []})


class TestScaleDataSuffix:
    def test_replica_suffix_survives_normalization(self, spark):
        """Generator invariant (tools/scale_data.py): the replica word
        suffix must remain PART of each token after normalized_text,
        not become a standalone interleaved token — otherwise k-gram
        shingles dilute to ceil(k/2) content words and within-replica
        df explodes (the 22.7x containment_pairs scaling regression
        this test pins against)."""
        from pyspark.sql import functions as F

        from gbif_filter_python_spark.functions.text import (
            normalized_text,
            token_count,
        )

        df = spark.createDataFrame(
            [("The cat, the CAT — sat; on 42 mats.",)], "text string"
        )
        suffixed = df.select(
            F.regexp_replace(
                F.col("text"), r"([A-Za-z0-9]+)", r"$1q3x"
            ).alias("text")
        )
        base_n, suf_n = (
            df.select(token_count(normalized_text(F.col("text")))).first()[0],
            suffixed.select(
                token_count(normalized_text(F.col("text")))
            ).first()[0],
        )
        # token count unchanged: the suffix rides inside each word
        assert base_n == suf_n
        norm = suffixed.select(normalized_text(F.col("text"))).first()[0]
        assert "theq3x catq3x" in norm
        # every token is replica-tagged -> zero cross-replica shingle
        # collisions with any other replica index
        assert all(t.endswith("q3x") for t in norm.split())


class TestWeightedMedian:
    def test_known_masses_and_tie_handling(self, spark):
        from gbif_filter_python_spark.operators.profile import (
            weighted_median,
        )

        rows = [
            # group a: masses 1@1, 1@2, 3@3 -> total 5, half 2.5;
            # cum at v=2 is 2 (<2.5), at v=3 is 5 -> median 3
            ("a", 1.0, 1.0), ("a", 2.0, 1.0), ("a", 3.0, 3.0),
            # group b: tied values split across rows — 2@5 as (1+1),
            # 2@7: cum at 5 must be 2 (RANGE frame), half=2 -> median 5
            ("b", 5.0, 1.0), ("b", 5.0, 1.0), ("b", 7.0, 2.0),
            # group c: zero/negative/NULL weights are excluded
            ("c", 1.0, 0.0), ("c", 2.0, -3.0), ("c", 4.0, None),
            ("c", 9.0, 2.0),
        ]
        df = spark.createDataFrame(rows, "g string, v double, w double")
        out = {
            r["g"]: r
            for r in weighted_median(df, ["g"], "v", "w").collect()
        }
        assert out["a"]["weighted_median"] == 3.0
        assert out["a"]["total_weight"] == 5.0
        assert out["b"]["weighted_median"] == 5.0
        assert out["c"]["weighted_median"] == 9.0
        assert out["c"]["total_weight"] == 2.0

    def test_matches_unweighted_median_on_unit_weights(self, spark):
        import statistics

        from gbif_filter_python_spark.operators.profile import (
            weighted_median,
        )

        vals = [3.0, 1.0, 7.0, 9.0, 5.0]
        df = spark.createDataFrame(
            [("g", v, 1.0) for v in vals], "g string, v double, w double"
        )
        out = weighted_median(df, ["g"], "v", "w").first()
        assert out["weighted_median"] == statistics.median(vals)


class TestKAnonymity:
    def test_summary_and_classes(self, spark):
        from gbif_filter_python_spark.operators.profile import k_anonymity

        rows = (
            [("US", "a")] * 5
            + [("US", "b")] * 2
            + [("DE", None)] * 3
            + [(None, None)] * 1
        )
        df = spark.createDataFrame(rows, "country string, seg string")
        s = k_anonymity(df, ["country", "seg"], k=3).first()
        assert s["n_rows"] == 11 and s["n_classes"] == 4
        assert s["n_violating_classes"] == 2  # (US,b)=2 and (None,None)=1
        assert s["n_rows_at_risk"] == 3
        assert s["min_class_size"] == 1
        assert not s["is_k_anonymous"]
        cls = k_anonymity(df, ["country", "seg"], k=3, mode="classes")
        got = {
            (r["country"], r["seg"]): r["class_size"] for r in cls.collect()
        }
        # NULL quasi-values group together (still a re-identifiable class)
        assert got == {("US", "b"): 2, (None, None): 1}

    def test_anonymous_table_passes(self, spark):
        from gbif_filter_python_spark.operators.profile import k_anonymity

        df = spark.createDataFrame(
            [("x",)] * 4 + [("y",)] * 4, "qi string"
        )
        s = k_anonymity(df, ["qi"], k=4).first()
        assert s["is_k_anonymous"] and s["n_rows_at_risk"] == 0

    def test_rejects_bad_mode(self, spark):
        import pytest as _p

        from gbif_filter_python_spark.operators.profile import k_anonymity

        df = spark.createDataFrame([("x",)], "qi string")
        with _p.raises(ValueError):
            k_anonymity(df, ["qi"], mode="report")


class TestQuantileNormalize:
    def test_distributions_become_identical(self, spark):
        from gbif_filter_python_spark.operators.profile import (
            quantile_normalize,
        )

        rows = [
            ("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 30.0),
            ("b", 4, 100.0), ("b", 5, 200.0), ("b", 6, 300.0),
        ]
        df = spark.createDataFrame(rows, "g string, id int, v double")
        out = quantile_normalize(df, "g", "v", "id").collect()
        by_g = {}
        for r in out:
            by_g.setdefault(r["g"], []).append(r["normalized"])
        assert sorted(by_g["a"]) == sorted(by_g["b"]) == [55.0, 110.0, 165.0]
        # rank alignment: smallest of a (10) and smallest of b (100)
        # both map to mean(10, 100) = 55
        m = {(r["g"], r["v"]): r["normalized"] for r in out}
        assert m[("a", 10.0)] == m[("b", 100.0)] == 55.0

    def test_tie_break_is_total_and_deterministic(self, spark):
        from gbif_filter_python_spark.operators.profile import (
            quantile_normalize,
        )

        rows = [("a", 1, 5.0), ("a", 2, 5.0), ("b", 3, 1.0), ("b", 4, 9.0)]
        df = spark.createDataFrame(rows, "g string, id int, v double")
        out = {r["id"]: r["normalized"] for r in quantile_normalize(
            df, "g", "v", "id"
        ).collect()}
        # id 1 ranks before id 2 on the tie: rank1 mean(5,1)=3, rank2 mean(5,9)=7
        assert out == {1: 3.0, 2: 7.0, 3: 3.0, 4: 7.0}

    def test_unequal_groups_rejected_by_name(self, spark):
        import pytest as _p

        from gbif_filter_python_spark.operators.profile import (
            quantile_normalize,
        )

        df = spark.createDataFrame(
            [("a", 1, 1.0), ("a", 2, 2.0), ("b", 3, 3.0)],
            "g string, id int, v double",
        )
        with _p.raises(ValueError, match="equal-sized"):
            quantile_normalize(df, "g", "v", "id")


class TestWinsorizedStats:
    def test_whale_rows_tamed(self, spark):
        from gbif_filter_python_spark.operators.profile import (
            winsorized_stats,
        )

        # 18 unit values + two whales; p=0.1 clamps the whales to the
        # 90th percentile and the zero to the 10th
        vals = [1.0] * 18 + [1000.0, 0.0]
        df = spark.createDataFrame(
            [("g", v) for v in vals], "g string, v double"
        )
        out = winsorized_stats(df, ["g"], "v", p=0.1).first()
        assert out["n"] == 20
        assert out["mean_raw"] == 50.9  # (18*1 + 1000 + 0) / 20
        # winsorized: whales clamped to hi=1.0, zero clamped to lo ~> mean ~1
        assert out["hi"] == 1.0
        assert abs(out["mean_winsorized"] - (18 * 1.0 + 1.0 + out["lo"]) / 20) < 1e-6
        # trimmed drops the whale and keeps in-range rows only
        assert out["mean_trimmed"] <= 1.0

    def test_rejects_bad_p(self, spark):
        import pytest as _p

        from gbif_filter_python_spark.operators.profile import (
            winsorized_stats,
        )

        df = spark.createDataFrame([("g", 1.0)], "g string, v double")
        with _p.raises(ValueError):
            winsorized_stats(df, ["g"], "v", p=0.5)


class TestPmiCollocations:
    def test_collocation_beats_common_pair(self, spark):
        from gbif_filter_python_spark.operators.corpus import (
            pmi_collocations,
        )

        # "kuala lumpur" always adjacent and rare; "the cat" frequent
        # words whose adjacency is unremarkable
        docs = [
            "kuala lumpur is far the cat sat",
            "the cat saw kuala lumpur today",
            "the dog and the cat and kuala lumpur",
            "kuala lumpur kuala lumpur the cat",
            "the cat the dog kuala lumpur",
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(docs)], "doc_id int, text string"
        )
        out = pmi_collocations(df, min_count=3, top=5).collect()
        by = {r["bigram"]: r for r in out}
        assert "kuala lumpur" in by
        top1 = min(out, key=lambda r: r["rank"])
        assert top1["bigram"] == "kuala lumpur"
        if "the cat" in by:
            assert by["kuala lumpur"]["pmi"] > by["the cat"]["pmi"]

    def test_min_count_kills_hapax(self, spark):
        from gbif_filter_python_spark.operators.corpus import (
            pmi_collocations,
        )

        df = spark.createDataFrame(
            [(0, "unique hapax appears once only the the the the")],
            "doc_id int, text string",
        )
        out = pmi_collocations(df, min_count=2, top=10).collect()
        assert all(r["bigram"] != "unique hapax" for r in out)
        assert all(r["n_ab"] >= 2 for r in out)


class TestRankSumTest:
    def test_matches_scipy_formula_hand_computed(self, spark):
        from gbif_filter_python_spark.operators.profile import rank_sum_test

        # a = {1, 2, 3}, b = {4, 5, 6}: complete separation.
        # ranks a = 1+2+3 = 6, U_a = 0, z = -sqrt(...)
        rows = [("a", v) for v in (1.0, 2.0, 3.0)] + [
            ("b", v) for v in (4.0, 5.0, 6.0)
        ]
        df = spark.createDataFrame(rows, "g string, v double")
        out = rank_sum_test(df, "g", "v", "a", "b").first()
        assert out["n_a"] == 3 and out["n_b"] == 3
        assert out["rank_sum_a"] == 6.0 and out["u_a"] == 0.0
        # sigma = sqrt(9*7/12) = sqrt(5.25); z = (0 - 4.5)/sigma
        import math

        assert abs(out["z"] - (-4.5 / math.sqrt(5.25))) < 1e-6

    def test_ties_average_ranks(self, spark):
        from gbif_filter_python_spark.operators.profile import rank_sum_test

        # all six values equal: rank sums 3*(3.5), U_a = n_a n_b / 2,
        # sigma2 = 0 (full tie) -> z NULL
        rows = [("a", 1.0)] * 3 + [("b", 1.0)] * 3
        df = spark.createDataFrame(rows, "g string, v double")
        out = rank_sum_test(df, "g", "v", "a", "b").first()
        assert out["rank_sum_a"] == 10.5
        assert out["z"] is None

    def test_symmetric_data_z_near_zero(self, spark):
        from gbif_filter_python_spark.operators.profile import rank_sum_test

        rows = [("a", float(i)) for i in range(50)] + [
            ("b", float(i) + 0.5) for i in range(50)
        ]
        df = spark.createDataFrame(rows, "g string, v double")
        out = rank_sum_test(df, "g", "v", "a", "b").first()
        assert abs(out["z"]) < 0.2


class TestFdrBh:
    def test_matches_statsmodels_reference_vector(self, spark):
        from gbif_filter_python_spark.operators.profile import fdr_bh

        # classic worked example: p = (.01, .02, .03, .04, .05) m=5
        # adjusted = (.05, .05, .05, .05, .05)
        rows = [(f"h{i}", p) for i, p in enumerate(
            (0.01, 0.02, 0.03, 0.04, 0.05)
        )]
        df = spark.createDataFrame(rows, "h string, p double")
        out = {r["h"]: r for r in fdr_bh(df, "p", ["h"]).collect()}
        for i in range(5):
            assert out[f"h{i}"]["p_adjusted"] == 0.05
            assert out[f"h{i}"]["discovery"]

    def test_step_up_monotone_and_clipped(self, spark):
        from gbif_filter_python_spark.operators.profile import fdr_bh

        rows = [("a", 0.001), ("b", 0.1), ("c", 0.9), ("d", 0.95)]
        df = spark.createDataFrame(rows, "h string, p double")
        out = {r["h"]: r for r in fdr_bh(df, "p", ["h"]).collect()}
        # adj_a = min(4*.001/1, 4*.1/2, 4*.9/3, .95) = .004
        assert out["a"]["p_adjusted"] == 0.004
        assert out["b"]["p_adjusted"] == 0.2
        assert out["c"]["p_adjusted"] == 0.95  # min(1.2->clip, .95)
        assert out["d"]["p_adjusted"] == 0.95
        assert out["a"]["discovery"] and not out["b"]["discovery"]
        # adjusted values are monotone in rank
        ranks = sorted(out.values(), key=lambda r: r["rank"])
        adj = [r["p_adjusted"] for r in ranks]
        assert adj == sorted(adj)

    def test_null_p_excluded(self, spark):
        from gbif_filter_python_spark.operators.profile import fdr_bh

        df = spark.createDataFrame(
            [("a", 0.04), ("b", None)], "h string, p double"
        )
        out = fdr_bh(df, "p", ["h"]).collect()
        assert len(out) == 1 and out[0]["p_adjusted"] == 0.04


class TestSpearmanCorr:
    def test_monotone_curved_scores_one(self, spark):
        from gbif_filter_python_spark.operators.profile import spearman_corr

        # y = x^3 is monotone but nonlinear: Spearman 1.0 exactly
        rows = [(float(x), float(x) ** 3) for x in range(-10, 11)]
        df = spark.createDataFrame(rows, "x double, y double")
        out = spearman_corr(df, "x", "y").first()
        assert out["rho"] == 1.0
        anti = spark.createDataFrame(
            [(x, -y) for x, y in rows], "x double, y double"
        )
        assert spearman_corr(anti, "x", "y").first()["rho"] == -1.0

    def test_matches_scipy_style_tie_handling(self, spark):
        from gbif_filter_python_spark.operators.profile import spearman_corr

        # hand-checkable tie case: x = (1,2,2,3), y = (10,20,20,40)
        # average ranks x = (1, 2.5, 2.5, 4), y = (1, 2.5, 2.5, 4)
        # identical rank vectors -> rho = 1
        df = spark.createDataFrame(
            [(1.0, 10.0), (2.0, 20.0), (2.0, 20.0), (3.0, 40.0)],
            "x double, y double",
        )
        assert spearman_corr(df, "x", "y").first()["rho"] == 1.0
        # constant y: zero rank variance -> NULL, not a blowup
        const = spark.createDataFrame(
            [(1.0, 5.0), (2.0, 5.0)], "x double, y double"
        )
        assert spearman_corr(const, "x", "y").first()["rho"] is None


class TestUpsampleMixture:
    """Epoch-replicated recipe mixing (upsampling + fractional hash)."""

    def _docs(self, spark):
        rows = []
        for i in range(40):
            rows.append((i, "en", "one two three four five"))  # 5 tok
        for i in range(40, 50):
            rows.append((i, "de", "eins zwei drei"))  # 3 tok
        return spark.createDataFrame(rows, "doc_id long, lang string, text string")

    def test_targets_epochs_and_fraction(self, spark):
        from gbif_filter_python_spark.operators.corpus import (
            upsample_mixture,
        )

        docs = self._docs(spark)
        # totals: en=200, de=30. weights en:1 de:1, total 500 ->
        # target 250 each: en -> 1 full epoch + 50/200 fraction;
        # de -> 8 full epochs + 10/30 fraction.
        out = upsample_mixture(
            docs, {"en": 1, "de": 1}, 500, "lang", "doc_id"
        ).collect()
        by = {}
        for r in out:
            by.setdefault((r.lang, r.epoch), set()).add(r.doc_id)
        assert by[("en", 0)] == set(range(40))
        assert set(e for (l, e) in by if l == "de") == set(range(9))
        for e in range(8):
            assert by[("de", e)] == set(range(40, 50))
        # fractional epochs are proper nonempty subsets
        assert 0 < len(by[("en", 1)]) < 40
        assert 0 < len(by[("de", 8)]) < 10
        # fractional token mass lands near the integer target
        en_extra = len(by[("en", 1)]) * 5
        assert abs(en_extra - 50) <= 25  # 10k-bucket granularity

    def test_deterministic_across_partitionings(self, spark):
        from gbif_filter_python_spark.operators.corpus import (
            upsample_mixture,
        )

        docs = self._docs(spark)
        a = sorted(
            (r.doc_id, r.epoch)
            for r in upsample_mixture(
                docs, {"en": 2, "de": 3}, 700, "lang", "doc_id"
            ).collect()
        )
        b = sorted(
            (r.doc_id, r.epoch)
            for r in upsample_mixture(
                docs.repartition(7), {"en": 2, "de": 3}, 700, "lang",
                "doc_id",
            ).collect()
        )
        assert a == b and len(a) > 0

    def test_pure_downsampling_case(self, spark):
        from gbif_filter_python_spark.operators.corpus import (
            upsample_mixture,
        )

        docs = self._docs(spark)
        out = upsample_mixture(
            docs, {"en": 1}, 100, "lang", "doc_id"
        ).collect()
        assert all(r.epoch == 0 and r.lang == "en" for r in out)
        assert 0 < len(out) < 40

    def test_validation(self, spark):
        import pytest as _p

        from gbif_filter_python_spark.operators.corpus import (
            upsample_mixture,
        )

        docs = self._docs(spark)
        with _p.raises(ValueError, match="non-negative integers"):
            upsample_mixture(docs, {"en": 1.5}, 100, "lang", "doc_id")
        with _p.raises(ValueError, match="total_tokens"):
            upsample_mixture(docs, {"en": 1}, 0, "lang", "doc_id")
        with _p.raises(ValueError, match="no overlap"):
            upsample_mixture(docs, {"zz": 1}, 100, "lang", "doc_id")


class TestMlmMask:
    """Deterministic BERT-style MLM masking."""

    @staticmethod
    def _ref(doc_id, text, p=0.15, salt="mlm"):
        import hashlib
        import re

        t = re.sub(r"[^a-z0-9]+", " ", text.lower())
        t = re.sub(r"\s+", " ", t).strip()
        words = [w for w in t.split(" ") if w]
        th = int(p * 10000)

        def b(i):
            key = f"{doc_id}:{i}:{salt}"
            return int(hashlib.md5(key.encode()).hexdigest()[:8], 16) % 10000

        masked = ["[MASK]" if b(i) < th else w
                  for i, w in enumerate(words)]
        targets = [(i, w) for i, w in enumerate(words) if b(i) < th]
        return " ".join(masked), targets

    def test_matches_reference_and_is_deterministic(self, spark):
        from gbif_filter_python_spark.operators.corpus import mlm_mask

        rows = [
            (i, f"some document number {i} with enough words to mask "
                f"alpha beta gamma delta epsilon zeta eta theta")
            for i in range(30)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r for r in mlm_mask(df, 0.15).collect()}
        n_masked_total = 0
        for i, text in rows:
            want_text, want_t = self._ref(i, text)
            r = out[i]
            assert r.masked_text == want_text, i
            assert [(t["pos"], t["word"]) for t in r.targets] == want_t
            assert r.n_masked == len(want_t)
            n_masked_total += r.n_masked
        assert n_masked_total > 0
        # partitioning-invariant
        again = {r.doc_id: r.masked_text
                 for r in mlm_mask(df.repartition(7), 0.15).collect()}
        assert again == {i: out[i].masked_text for i, _ in rows}

    def test_rate_approaches_prob(self, spark):
        from gbif_filter_python_spark.operators.corpus import mlm_mask

        df = spark.createDataFrame(
            [(1, " ".join(f"w{j}" for j in range(4000)))],
            "doc_id long, text string",
        )
        r = mlm_mask(df, 0.15).collect()[0]
        assert 0.12 <= r.n_masked / 4000 <= 0.18

    def test_empty_and_validation(self, spark):
        import pytest as _p

        from gbif_filter_python_spark.operators.corpus import mlm_mask

        df = spark.createDataFrame([(1, "")], "doc_id long, text string")
        r = mlm_mask(df, 0.15).collect()[0]
        assert r.n_masked == 0 and r.masked_text == ""
        with _p.raises(ValueError, match="mask_prob"):
            mlm_mask(df, 0.0)


class TestLDiversity:
    def test_summary_and_classes(self, spark):
        from gbif_filter_python_spark.operators.profile import l_diversity

        rows = (
            # diverse class: 3 distinct diagnoses
            [("US", "flu"), ("US", "cold"), ("US", "ok")]
            # homogeneous class: k-anonymous (3 rows) but 1 value —
            # the homogeneity attack l-diversity exists to catch
            + [("DE", "flu")] * 3
            # all-null sensitive: diversity 0 (NULL is not a value)
            + [("FR", None)] * 2
        )
        df = spark.createDataFrame(rows, "country string, dx string")
        s = l_diversity(df, ["country"], "dx", l=2).first()
        assert s["n_rows"] == 8 and s["n_classes"] == 3
        assert s["n_violating_classes"] == 2  # DE (1 value), FR (0)
        assert s["n_rows_at_risk"] == 5
        assert s["min_diversity"] == 0
        assert not s["is_l_diverse"]
        cls = l_diversity(df, ["country"], "dx", l=2, mode="classes")
        got = {r["country"]: (r["class_size"], r["n_sensitive"])
               for r in cls.collect()}
        assert got == {"DE": (3, 1), "FR": (2, 0)}

    def test_diverse_table_passes_and_validation(self, spark):
        import pytest as _p

        from gbif_filter_python_spark.operators.profile import l_diversity

        df = spark.createDataFrame(
            [("x", "a"), ("x", "b"), ("y", "a"), ("y", "c")],
            "qi string, sens string",
        )
        s = l_diversity(df, ["qi"], "sens", l=2).first()
        assert s["is_l_diverse"] and s["min_diversity"] == 2
        with _p.raises(ValueError, match="mode"):
            l_diversity(df, ["qi"], "sens", mode="wat")
        with _p.raises(ValueError, match="l must"):
            l_diversity(df, ["qi"], "sens", l=0)


class TestZipfFit:
    def test_matches_manual_ols(self, spark):
        """Slope/intercept/r2 equal the textbook OLS over
        (ln rank, ln freq) computed independently in the test."""
        import math

        from gbif_filter_python_spark.operators.corpus import zipf_fit

        # freq: a=4, b=3, c=2, d=1 (ranks 1..4 by freq desc, term asc)
        docs = spark.createDataFrame(
            [(1, "a a b c"), (2, "a b d"), (3, "a b c")],
            "doc_id long, text string",
        )
        got = zipf_fit(docs, top_k=10).first()
        pts = [(math.log(r), math.log(f))
               for r, f in [(1, 4.0), (2, 3.0), (3, 2.0), (4, 1.0)]]
        n = len(pts)
        sx = sum(x for x, _ in pts); sy = sum(y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        sxx = sum(x * x for x, _ in pts); syy = sum(y * y for _, y in pts)
        slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        intercept = (sy - slope * sx) / n
        r2 = ((n * sxy - sx * sy) ** 2
              / ((n * sxx - sx * sx) * (n * syy - sy * sy)))
        assert got["n"] == 4
        assert got["slope"] == round(slope, 6)
        assert got["intercept"] == round(intercept, 6)
        assert got["r2"] == round(r2, 6)
        assert got["slope"] < 0  # frequency falls with rank

    def test_top_k_truncation_and_validation(self, spark):
        import pytest as _p

        from gbif_filter_python_spark.operators.corpus import zipf_fit

        docs = spark.createDataFrame(
            [(1, "a a a b b c d e f")], "doc_id long, text string"
        )
        got = zipf_fit(docs, top_k=3).first()
        assert got["n"] == 3  # head only: a, b, then tie broken by term
        with _p.raises(ValueError, match="top_k"):
            zipf_fit(docs, top_k=2)


class TestHeapsFit:
    def test_matches_manual_ols(self, spark):
        """Ladder counts = |terms first seen below each cutoff|;
        slope/intercept/r2 equal an independent manual OLS."""
        import math

        from gbif_filter_python_spark.operators.corpus import heaps_fit

        docs = spark.createDataFrame(
            [(0, "a b"), (1, "a c"), (2, "d"), (3, "a e f"),
             (5, "g"), (7, "a b c")],
            "doc_id long, text string",
        )
        cutoffs = [1, 2, 4, 8]
        # V(1)={a,b}=2  V(2)={a,b,c}=3  V(4)={a..f}=6  V(8)={a..g}=7
        vs = [2, 3, 6, 7]
        got = heaps_fit(docs, cutoffs).first()
        pts = [(math.log(float(c)), math.log(float(v)))
               for c, v in zip(cutoffs, vs)]
        n = len(pts)
        sx = sum(x for x, _ in pts); sy = sum(y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        sxx = sum(x * x for x, _ in pts); syy = sum(y * y for _, y in pts)
        slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        intercept = (sy - slope * sx) / n
        r2 = ((n * sxy - sx * sy) ** 2
              / ((n * sxx - sx * sx) * (n * syy - sy * sy)))
        assert got["n"] == 4
        assert got["slope"] == round(slope, 6)
        assert got["intercept"] == round(intercept, 6)
        assert got["r2"] == round(r2, 6)
        assert 0 < got["slope"] < 1  # vocabulary grows sublinearly

    def test_zero_vocab_cutoff_excluded_and_validation(self, spark):
        import pytest as _p

        from gbif_filter_python_spark.operators.corpus import heaps_fit

        docs = spark.createDataFrame(
            [(10, "a b"), (11, "c"), (12, "d e")],
            "doc_id long, text string",
        )
        # cutoff 5 is below every doc id -> V=0 -> ln NULL -> excluded
        got = heaps_fit(docs, [5, 11, 12, 13]).first()
        assert got["n"] == 3
        with _p.raises(ValueError, match="cutoffs"):
            heaps_fit(docs, [1, 2])
        with _p.raises(ValueError, match="distinct"):
            heaps_fit(docs, [1, 2, 2, 3])


class TestAucByGroup:
    def test_matches_sklearn_free_reference(self, spark):
        """AUC equals the pairwise P(score_pos > score_neg) + ½ ties,
        computed by brute force in the test."""
        from gbif_filter_python_spark.operators.profile import auc_by_group

        data = [("g", 0.9, 1), ("g", 0.8, 1), ("g", 0.8, 0),
                ("g", 0.3, 0), ("g", 0.2, 1), ("g", 0.1, 0)]
        df = spark.createDataFrame(data, "grp string, s double, y int")
        got = auc_by_group(df, "grp", "s", "y").first()
        pos = [s for _, s, y in data if y]
        neg = [s for _, s, y in data if not y]
        brute = sum(
            1.0 if p > n else (0.5 if p == n else 0.0)
            for p in pos for n in neg
        ) / (len(pos) * len(neg))
        assert got["n_pos"] == 3 and got["n_neg"] == 3
        assert got["auc"] == round(brute, 6)

    def test_perfect_degenerate_and_nulls(self, spark):
        from gbif_filter_python_spark.operators.profile import auc_by_group

        data = [("a", 1.0, 1), ("a", 2.0, 1), ("a", 0.5, 0),
                ("b", 3.0, 1), ("b", 4.0, 1),      # no negatives
                ("c", None, 1), ("c", 1.0, None), ("c", 2.0, 1),
                ("c", 1.0, 0)]
        df = spark.createDataFrame(data, "grp string, s double, y int")
        got = {r["grp"]: r for r in
               auc_by_group(df, "grp", "s", "y").collect()}
        assert got["a"]["auc"] == 1.0
        assert got["b"]["auc"] is None  # degenerate: no negatives
        # NULL score/label rows excluded pairwise
        assert got["c"]["n_pos"] == 1 and got["c"]["n_neg"] == 1
        assert got["c"]["auc"] == 1.0


class TestCohenKappa:
    def test_worked_example(self, spark):
        """Classic 2-rater worked example: po=0.7, pe=0.5, κ=0.4
        (20 items: raters agree on 14; marginals 10/10 and 12/8)."""
        from gbif_filter_python_spark.operators.profile import cohen_kappa

        # rater A: 10 yes, 10 no; rater B: agrees on 7 yes + 7 no,
        # flips 3 yes->no and 3 no->yes => po = 14/20 = 0.7,
        # marginals A: 10/10, B: 10/10 => pe = 0.5, kappa = 0.4
        rows = ([("y", "y")] * 7 + [("y", "n")] * 3
                + [("n", "n")] * 7 + [("n", "y")] * 3)
        df = spark.createDataFrame(rows, "a string, b string")
        got = cohen_kappa(df, "a", "b").first()
        assert got["n"] == 20
        assert got["po"] == 0.7
        assert got["pe"] == 0.5
        assert got["kappa"] == round((0.7 - 0.5) / 0.5, 6)

    def test_degenerate_and_nulls_and_numeric(self, spark):
        from gbif_filter_python_spark.operators.profile import cohen_kappa

        # both raters constant+identical: pe = 1 -> kappa NULL
        df = spark.createDataFrame([("x", "x")] * 5, "a string, b string")
        got = cohen_kappa(df, "a", "b").first()
        assert got["po"] == 1.0 and got["pe"] == 1.0
        assert got["kappa"] is None
        # NULL ratings excluded; numeric labels compare via string form
        df2 = spark.createDataFrame(
            [(1, 1), (2, 2), (1, 2), (None, 1), (2, None)],
            "a int, b int",
        )
        got2 = cohen_kappa(df2, "a", "b").first()
        assert got2["n"] == 3
        assert got2["po"] == round(2 / 3, 6)


class TestKsTest:
    def test_complete_separation_d_is_one(self, spark):
        from gbif_filter_python_spark.operators.profile import ks_test

        rows = [("a", v) for v in (1.0, 2.0, 3.0)] + [
            ("b", v) for v in (4.0, 5.0, 6.0)
        ]
        df = spark.createDataFrame(rows, "g string, v double")
        out = ks_test(df, "g", "v", "a", "b").first()
        assert out["n_a"] == 3 and out["n_b"] == 3
        assert out["d_stat"] == 1.0
        import math

        assert abs(out["ks_stat"] - math.sqrt(1.5)) < 1e-6

    def test_identical_samples_d_zero(self, spark):
        from gbif_filter_python_spark.operators.profile import ks_test

        rows = [(g, float(v)) for g in ("a", "b") for v in range(10)]
        df = spark.createDataFrame(rows, "g string, v double")
        out = ks_test(df, "g", "v", "a", "b").first()
        assert out["d_stat"] == 0.0 and out["ks_stat"] == 0.0

    def test_hand_computed_partial_overlap_with_ties(self, spark):
        from gbif_filter_python_spark.operators.profile import ks_test

        # a = {1,2,3,4}, b = {3,4,5,6}: pooled CDF gaps peak at 0.5
        # (values 2-4); ties at 3 and 4 step BOTH CDFs at once
        rows = [("a", v) for v in (1.0, 2.0, 3.0, 4.0)] + [
            ("b", v) for v in (3.0, 4.0, 5.0, 6.0)
        ]
        df = spark.createDataFrame(rows, "g string, v double")
        out = ks_test(df, "g", "v", "a", "b").first()
        assert out["d_stat"] == 0.5
        import math

        assert abs(out["ks_stat"] - math.sqrt(2.0) / 2) < 1e-6

    def test_nulls_and_other_groups_excluded(self, spark):
        from gbif_filter_python_spark.operators.profile import ks_test

        rows = [("a", 1.0), ("a", None), ("b", 2.0), ("c", 99.0)]
        df = spark.createDataFrame(rows, "g string, v double")
        out = ks_test(df, "g", "v", "a", "b").first()
        assert out["n_a"] == 1 and out["n_b"] == 1
        assert out["d_stat"] == 1.0

    def test_absent_group_yields_empty_frame(self, spark):
        from gbif_filter_python_spark.operators.profile import ks_test

        df = spark.createDataFrame(
            [("a", 1.0), ("a", 2.0)], "g string, v double"
        )
        # one sample entirely missing: no defined statistic — the
        # contract is an EMPTY frame, not a NULL-laden row
        assert ks_test(df, "g", "v", "a", "b").count() == 0


class TestConcentrationMetrics:
    def test_equal_shares_gini_zero(self, spark):
        from gbif_filter_python_spark.operators.profile import (
            concentration_metrics,
        )

        df = spark.createDataFrame(
            [("g", 2.0)] * 5, "grp string, x double"
        )
        out = concentration_metrics(df, "grp", "x").first()
        assert out["n"] == 5 and out["total"] == 10.0
        assert out["gini"] == 0.0
        assert out["hhi"] == 0.2  # 1/n
        assert out["top1_share"] == 0.2 and out["cr4"] == 0.8

    def test_total_concentration(self, spark):
        from gbif_filter_python_spark.operators.profile import (
            concentration_metrics,
        )

        df = spark.createDataFrame(
            [("g", 0.0), ("g", 0.0), ("g", 0.0), ("g", 10.0)],
            "grp string, x double",
        )
        out = concentration_metrics(df, "grp", "x").first()
        # one member owns everything: gini = (n-1)/n
        assert out["gini"] == 0.75
        assert out["hhi"] == 1.0
        assert out["top1_share"] == 1.0 and out["cr4"] == 1.0

    def test_tie_invariance_hand_value(self, spark):
        from gbif_filter_python_spark.operators.profile import (
            concentration_metrics,
        )

        # [1, 1, 2]: sum i*x = 1+2+6 = 9 regardless of intra-tie
        # order; gini = 2*9/(3*4) - 4/3 = 1/6
        for order in ([1.0, 1.0, 2.0], [2.0, 1.0, 1.0]):
            df = spark.createDataFrame(
                [("g", v) for v in order], "grp string, x double"
            )
            out = concentration_metrics(df, "grp", "x").first()
            assert out["gini"] == 0.166667, order

    def test_zero_total_group_null_ratios_and_grouping(self, spark):
        from gbif_filter_python_spark.operators.profile import (
            concentration_metrics,
        )

        df = spark.createDataFrame(
            [("z", 0.0), ("z", 0.0), ("g", 1.0), ("g", 3.0)],
            "grp string, x double",
        )
        rows = {r["group"]: r for r in
                concentration_metrics(df, "grp", "x").collect()}
        assert rows["z"]["gini"] is None and rows["z"]["hhi"] is None
        assert rows["g"]["top1_share"] == 0.75


class TestNgramNovelty:
    def _docs(self, spark, texts):
        return spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )

    def test_first_seen_counts_as_novel(self, spark):
        from gbif_filter_python_spark.operators.corpus import ngram_novelty

        docs = self._docs(spark, [
            "a b c d",      # grams abc, bcd -> both first here
            "b c d e",      # bcd seen in doc0, cde new -> 0.5
            "a b c d",      # exact dup of doc0 -> 0.0
            "x y",          # < 3 words -> no grams
        ])
        rows = {r["doc_id"]: r for r in
                ngram_novelty(docs, n=3).collect()}
        assert rows[0]["n_grams"] == 2 and rows[0]["novel_frac"] == 1.0
        assert rows[1]["n_grams"] == 2 and rows[1]["novel_frac"] == 0.5
        assert rows[2]["n_grams"] == 2 and rows[2]["novel_frac"] == 0.0
        assert rows[3]["n_grams"] == 0 and rows[3]["novel_frac"] is None

    def test_grams_distinct_within_doc(self, spark):
        from gbif_filter_python_spark.operators.corpus import ngram_novelty

        # words [a b c a b c] -> grams abc, bca, cab, abc: 3 distinct
        docs = self._docs(spark, ["a b c a b c"])
        out = ngram_novelty(docs, n=3).first()
        assert out["n_grams"] == 3 and out["novel_frac"] == 1.0

    def test_normalization_applies(self, spark):
        from gbif_filter_python_spark.operators.corpus import ngram_novelty

        # case/punct-folded text produces the same grams
        docs = self._docs(spark, ["A, b! C", "a b c"])
        rows = {r["doc_id"]: r for r in
                ngram_novelty(docs, n=3).collect()}
        assert rows[0]["novel_frac"] == 1.0
        assert rows[1]["novel_frac"] == 0.0


class TestNewOpsDifferential:
    """Randomized differentials: the Spark plans for the r7 stats
    operators against straight-line pure-Python references on seeded
    random inputs — the cross-shape witness the hand cases can't
    give (tie pileups, skewed sizes, float pileups)."""

    def test_ks_test_matches_python_reference(self, spark):
        import random

        from gbif_filter_python_spark.operators.profile import ks_test

        rng = random.Random(7)
        # coarse grid FORCES heavy ties — the case that breaks naive
        # pooled-CDF implementations
        rows = [("a", float(rng.randint(0, 20))) for _ in range(137)] + [
            ("b", float(rng.randint(3, 25))) for _ in range(89)
        ]
        df = spark.createDataFrame(rows, "g string, v double")
        out = ks_test(df, "g", "v", "a", "b").first()

        a = sorted(v for g, v in rows if g == "a")
        b = sorted(v for g, v in rows if g == "b")
        pooled = sorted(set(a) | set(b))
        import bisect
        import math

        d = max(
            abs(
                bisect.bisect_right(a, x) / len(a)
                - bisect.bisect_right(b, x) / len(b)
            )
            for x in pooled
        )
        assert out["n_a"] == len(a) and out["n_b"] == len(b)
        assert abs(out["d_stat"] - d) < 1e-6
        want_ks = math.sqrt(len(a) * len(b) / (len(a) + len(b))) * d
        assert abs(out["ks_stat"] - want_ks) < 1e-5

    def test_concentration_matches_python_reference(self, spark):
        import random

        from gbif_filter_python_spark.operators.profile import (
            concentration_metrics,
        )

        rng = random.Random(11)
        rows = []
        for g, n in (("g1", 1), ("g2", 7), ("g3", 40)):
            rows += [
                (g, round(rng.expovariate(1e-3), 2)) for _ in range(n)
            ]
        df = spark.createDataFrame(rows, "grp string, x double")
        got = {r["group"]: r for r in
               concentration_metrics(df, "grp", "x").collect()}
        for g in ("g1", "g2", "g3"):
            xs = sorted(v for grp, v in rows if grp == g)
            n, tot = len(xs), sum(xs)
            gini = (
                2 * sum((i + 1) * x for i, x in enumerate(xs)) / (n * tot)
                - (n + 1) / n
            )
            hhi = sum(x * x for x in xs) / (tot * tot)
            top = sorted(xs, reverse=True)
            assert got[g]["n"] == n
            assert abs(got[g]["gini"] - gini) < 1e-5, g
            assert abs(got[g]["hhi"] - hhi) < 1e-5, g
            assert abs(got[g]["top1_share"] - top[0] / tot) < 1e-5, g
            assert abs(got[g]["cr4"] - sum(top[:4]) / tot) < 1e-5, g
        # single-member group: gini exactly 0, everything else 1
        assert got["g1"]["gini"] == 0.0 and got["g1"]["hhi"] == 1.0

    def test_ngram_novelty_matches_python_reference(self, spark):
        import random
        import re

        from gbif_filter_python_spark.operators.corpus import ngram_novelty

        rng = random.Random(13)
        vocab = ["alpha", "beta", "gamma", "delta", "eps"]
        texts = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 9)))
            for _ in range(60)
        ]
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        got = {r["doc_id"]: r for r in ngram_novelty(docs, n=3).collect()}

        first_seen: dict[tuple, int] = {}
        grams_by_doc = {}
        for i, t in enumerate(texts):
            words = [w for w in re.sub(r"[^a-z0-9]+", " ", t.lower())
                     .split() if w]
            grams = {
                tuple(words[j:j + 3]) for j in range(len(words) - 2)
            }
            grams_by_doc[i] = grams
            for gm in grams:
                first_seen.setdefault(gm, i)
        for i in range(60):
            grams = grams_by_doc[i]
            assert got[i]["n_grams"] == len(grams), i
            if not grams:
                assert got[i]["novel_frac"] is None
            else:
                nf = sum(
                    1 for gm in grams if first_seen[gm] == i
                ) / len(grams)
                assert abs(got[i]["novel_frac"] - nf) < 1e-6, i


class TestTCloseness:
    def _df(self, spark):
        rows = (
            # class X: 4 rows all 'a' — skewed vs global
            [("X", "a")] * 4
            # class Y: 2 a, 2 b — closer to global
            + [("Y", "a"), ("Y", "a"), ("Y", "b"), ("Y", "b")]
        )
        return spark.createDataFrame(rows, "q string, s string")

    def test_classes_tvd_hand_computed(self, spark):
        from gbif_filter_python_spark.operators.profile import t_closeness

        got = {
            r["q"]: r
            for r in t_closeness(
                self._df(spark), ["q"], "s", mode="classes"
            ).collect()
        }
        # global: a=6/8, b=2/8. X: a=1,b=0 → tvd=.5*(|1-.75|+|0-.25|)=.25
        assert got["X"]["class_size"] == 4
        assert abs(got["X"]["tvd"] - 0.25) < 1e-9
        # Y: a=.5,b=.5 → tvd=.5*(.25+.25)=.25 ... equal here by
        # symmetry of the 2-class complement
        assert abs(got["Y"]["tvd"] - 0.25) < 1e-9

    def test_summary_gate_and_null_sensitive_excluded(self, spark):
        from gbif_filter_python_spark.operators.profile import t_closeness

        df = self._df(spark).unionByName(
            self._df(spark).sparkSession.createDataFrame(
                [("X", None)], "q string, s string"
            )
        )
        s = t_closeness(df, ["q"], "s", t=0.2).first()
        # NULL sensitive row dropped: n_rows stays 8
        assert s["n_rows"] == 8
        assert s["n_classes"] == 2
        assert s["n_violating_classes"] == 2  # both tvd .25 > .2
        assert s["n_rows_at_risk"] == 8
        assert abs(s["max_tvd"] - 0.25) < 1e-9
        assert not s["is_t_close"]
        loose = t_closeness(df, ["q"], "s", t=0.3).first()
        assert loose["is_t_close"]

    def test_missing_sensitive_value_still_pays(self, spark):
        from gbif_filter_python_spark.operators.profile import t_closeness

        # class Z never sees value 'b' → grid-complete |0 - q_b|
        rows = [("Z", "a")] * 2 + [("W", "b")] * 2
        df = spark.createDataFrame(rows, "q string, s string")
        got = {
            r["q"]: r["tvd"]
            for r in t_closeness(df, ["q"], "s", mode="classes").collect()
        }
        # global a=.5,b=.5; each class fully one-sided → tvd = .5
        assert got == {"Z": 0.5, "W": 0.5}

    def test_rejects_bad_args(self, spark):
        import pytest as _pytest

        from gbif_filter_python_spark.operators.profile import t_closeness

        with _pytest.raises(ValueError):
            t_closeness(self._df(spark), ["q"], "s", mode="nope")
        with _pytest.raises(ValueError):
            t_closeness(self._df(spark), ["q"], "s", t=1.5)


class TestReferentialIntegrity:
    def test_orphans_nulls_and_intact(self, spark):
        from gbif_filter_python_spark.operators.profile import (
            referential_integrity,
        )

        fact = spark.createDataFrame(
            [(1,), (1,), (2,), (99,), (99,), (None,)],
            "fk long",
        )
        dim = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
        out = {
            r["constraint_name"]: r
            for r in referential_integrity(
                [
                    ("c1", fact, "fk", dim, "pk"),
                    ("c2", dim, "pk", dim, "pk"),
                ]
            ).collect()
        }
        c1 = out["c1"]
        assert c1["n_rows"] == 6
        assert c1["n_null_fk"] == 1  # NULL is not an orphan
        assert c1["n_orphan_rows"] == 2  # the two 99s
        assert c1["n_orphan_keys"] == 1
        assert abs(c1["orphan_rate"] - 2 / 6) < 1e-6
        c2 = out["c2"]
        assert c2["n_orphan_rows"] == 0
        assert c2["orphan_rate"] == 0.0

    def test_empty_checks_rejected(self, spark):
        import pytest as _pytest

        from gbif_filter_python_spark.operators.profile import (
            referential_integrity,
        )

        with _pytest.raises(ValueError):
            referential_integrity([])


class TestVocabOverlap:
    def test_hand_jaccard_and_normalization(self, spark):
        from gbif_filter_python_spark.operators.corpus import vocab_overlap

        df = spark.createDataFrame(
            [
                ("A", "the cat sat"),
                ("A", "THE mat!"),  # case/punct fold into same vocab
                ("B", "the dog sat"),
                ("C", "zebra"),
            ],
            "source string, text string",
        )
        out = {
            (r["src_a"], r["src_b"]): r
            for r in vocab_overlap(df, "source").collect()
        }
        # A vocab {the,cat,sat,mat}=4, B {the,dog,sat}=3, shared {the,sat}=2
        ab = out[("A", "B")]
        assert (ab["vocab_a"], ab["vocab_b"], ab["shared"]) == (4, 3, 2)
        assert abs(ab["jaccard"] - 2 / 5) < 1e-9
        # C shares nothing → pair absent entirely (no zero rows)
        assert ("A", "C") not in out and ("B", "C") not in out


class TestEventLatency:
    def test_forward_latency_and_window(self, spark):
        from pyspark.sql import functions as SF

        from gbif_filter_python_spark.operators.temporal import (
            event_latency,
        )

        def ts(s):
            return f"2024-01-01 00:0{s}:00"

        clicks = spark.createDataFrame(
            [(1, ts(0)), (1, ts(5)), (2, ts(1))],
            "user_id long, ts string",
        ).select("user_id", SF.to_timestamp("ts").alias("ts"))
        buys = spark.createDataFrame(
            [(1, ts(2)), (1, ts(7))], "user_id long, ts string"
        ).select("user_id", SF.to_timestamp("ts").alias("ts"))
        (r,) = event_latency(clicks, buys).collect()
        # u1 click@0 → buy@2 (120 s); u1 click@5 → buy@7 (120 s);
        # u2 never converts
        assert r["n_from"] == 3 and r["n_converted"] == 2
        assert abs(r["conversion_rate"] - 2 / 3) < 1e-6
        assert r["p50_latency_s"] == 120.0
        assert r["max_latency_s"] == 120.0
        # 60 s window: no conversions survive
        (w,) = event_latency(
            clicks, buys, max_wait_seconds=60
        ).collect()
        assert w["n_converted"] == 0
        assert w["p50_latency_s"] is None

    def test_equal_ts_counts_as_converted(self, spark):
        from pyspark.sql import functions as SF

        from gbif_filter_python_spark.operators.temporal import (
            event_latency,
        )

        t = "2024-01-01 00:00:00"
        clicks = spark.createDataFrame(
            [(1, t)], "user_id long, ts string"
        ).select("user_id", SF.to_timestamp("ts").alias("ts"))
        buys = clicks
        (r,) = event_latency(clicks, buys).collect()
        assert r["n_converted"] == 1 and r["p50_latency_s"] == 0.0


class TestTemperatureMixture:
    def test_alpha_flattens_toward_uniform(self, spark):
        from gbif_filter_python_spark.operators.corpus import (
            temperature_mixture,
        )

        rows = [("en",)] * 80 + [("sw",)] * 20
        df = spark.createDataFrame(rows, "lang string")
        out = {
            r["grp"]: r
            for r in temperature_mixture(df, "lang", alpha=0.5).collect()
        }
        import math

        za = math.sqrt(0.8) + math.sqrt(0.2)
        assert abs(out["en"]["w"] - math.sqrt(0.8) / za) < 1e-6
        assert abs(out["sw"]["w"] - math.sqrt(0.2) / za) < 1e-6
        # tail upweighted, head downweighted
        assert out["sw"]["sampling_ratio"] > 1.0 > out["en"]["sampling_ratio"]

    def test_alpha_one_is_proportional_and_zero_uniform(self, spark):
        from gbif_filter_python_spark.operators.corpus import (
            temperature_mixture,
        )

        rows = [("a",)] * 30 + [("b",)] * 10
        df = spark.createDataFrame(rows, "lang string")
        prop = {
            r["grp"]: r for r in temperature_mixture(df, "lang", 1.0).collect()
        }
        assert prop["a"]["sampling_ratio"] == 1.0 == prop["b"]["sampling_ratio"]
        unif = {
            r["grp"]: r for r in temperature_mixture(df, "lang", 0.0).collect()
        }
        assert unif["a"]["w"] == 0.5 == unif["b"]["w"]

    def test_rejects_negative_alpha(self, spark):
        import pytest as _pytest

        from gbif_filter_python_spark.operators.corpus import (
            temperature_mixture,
        )

        df = spark.createDataFrame([("a",)], "lang string")
        with _pytest.raises(ValueError):
            temperature_mixture(df, "lang", alpha=-0.1)


# ---------------------------------------------------------------------------
# cross-operator consistency (catalog coherence on real test data)
# ---------------------------------------------------------------------------


SF_DIR = "/root/testdata/sf0.001"

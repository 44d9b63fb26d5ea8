"""Round-10 operators: seqlen_histogram, packing_efficiency,
filter_funnel, shard_balance (corpus.py) and embedding_isotropy
(similarity.py) — each replayed against an independent Python oracle
on handcrafted inputs."""

from __future__ import annotations

import hashlib
import math

from gbif_filter_python_spark.operators.corpus import (
    filter_funnel,
    packing_efficiency,
    seqlen_histogram,
    shard_balance,
)
from gbif_filter_python_spark.operators.similarity import embedding_isotropy


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )


# ---------------------------------------------------------------------------
# seqlen_histogram
# ---------------------------------------------------------------------------


def test_seqlen_histogram_buckets_powers_of_two_exactly(spark):
    # 8 tokens MUST land in bucket 3 (2^3..15) — floor(log2(8)) in
    # floats gives 2.999..., the exact hazard the bit-length bucket
    # avoids; empty text lands in bucket -1
    texts = ["", "w", "a b c", "t " * 8, "x " * 15, "y " * 16]
    rows = {
        r["bucket"]: r for r in seqlen_histogram(_docs(spark, texts)).collect()
    }
    assert set(rows) == {-1, 0, 1, 3, 4}
    assert (rows[-1]["lo_tokens"], rows[-1]["hi_tokens"]) == (0, 0)
    assert rows[3]["n_docs"] == 2  # 8 and 15 tokens share bucket 3
    assert (rows[3]["lo_tokens"], rows[3]["hi_tokens"]) == (8, 15)
    assert rows[4]["n_docs"] == 1  # 16 tokens promotes to bucket 4
    assert rows[4]["sum_tokens"] == 16
    assert rows[0]["pct_docs"] == round(1 / 6, 6)
    # cumulative share ends at 1
    assert max(r["cum_pct_docs"] for r in rows.values()) == 1.0


# ---------------------------------------------------------------------------
# packing_efficiency
# ---------------------------------------------------------------------------


def test_packing_efficiency_handcrafted_stream(spark):
    # token counts 5,3,4,10 -> stream offsets 0,5,8,12, total 22
    texts = ["w " * 5, "w " * 3, "w " * 4, "w " * 10]
    row = {
        r["capacity"]: r
        for r in packing_efficiency(
            _docs(spark, texts), capacities=(8,)
        ).collect()
    }[8]
    assert row["n_bins"] == 3  # ceil(22/8)
    assert row["fill_ratio"] == round(22 / 24, 6)
    # only doc 3 ([12,22)) straddles a boundary (token 16)
    assert row["boundary_crossings"] == 1
    assert row["crossing_docs"] == 1
    assert row["oversize_docs"] == 1  # 10 > 8


def test_packing_efficiency_matches_python_cumsum(spark):
    # enough rows for several range partitions — the distributed
    # prefix sum must equal the single-stream Python replay
    toks = [(i, 1 + (i * 7) % 13) for i in range(200)]
    texts = [(i, "w " * n) for i, n in toks]
    df = spark.createDataFrame(texts, ["doc_id", "text"]).repartition(8)
    got = {
        r["capacity"]: r
        for r in packing_efficiency(df, capacities=(16, 64)).collect()
    }
    for cap in (16, 64):
        start, crossings, xdocs, oversize = 0, 0, 0, 0
        for _, n in toks:
            last = (start + n - 1) // cap
            first = start // cap
            crossings += last - first
            xdocs += 1 if last > first else 0
            oversize += 1 if n > cap else 0
            start += n
        total = start
        assert got[cap]["n_bins"] == math.ceil(total / cap)
        assert got[cap]["boundary_crossings"] == crossings
        assert got[cap]["crossing_docs"] == xdocs
        assert got[cap]["oversize_docs"] == oversize
        assert got[cap]["fill_ratio"] == round(
            total / (math.ceil(total / cap) * cap), 6
        )


# ---------------------------------------------------------------------------
# filter_funnel
# ---------------------------------------------------------------------------


def test_filter_funnel_each_stage_drops_its_doc(spark):
    passing = (
        "the quick brown fox jumps over lazy dogs and then runs "
        "through green fields of corn looking for more interesting "
        "things to chase before evening falls over quiet valley"
    )  # 30 words, mean len ~4.5, no symbols, alpha, stopwords
    texts = [
        "",  # fails nonempty
        "only five words right here",  # fails word_count (< 25)
        "a b c d e " * 6,  # 30 words, mean len 1 -> fails mean_word_len
        passing.replace("fox", "# # fox # #"),  # symbol ratio > 0.1
        # digit words (long enough to keep mean_word_len in range)
        # for most words -> alpha ratio < 0.8 (stopwords kept)
        "the and of " + "12345 67890 54321 98765 " * 7,
        # alpha words but NO stopword markers -> fails last stage
        "zebra quokka wombat numbat dingo koala bilby " * 5,
        passing,
    ]
    rows = filter_funnel(_docs(spark, texts), min_words=25).collect()
    assert [r["stage"] for r in rows] == [
        "nonempty",
        "word_count",
        "mean_word_len",
        "symbol_ratio",
        "alpha_word_ratio",
        "stopword_hits",
    ]
    assert [r["n_pass"] for r in rows] == [6, 5, 4, 3, 2, 1]
    assert rows[0]["pct_of_input"] == round(6 / 7, 6)
    assert rows[5]["pct_of_prev"] == 0.5
    assert rows[5]["pct_of_input"] == round(1 / 7, 6)


# ---------------------------------------------------------------------------
# shard_balance
# ---------------------------------------------------------------------------


def test_shard_balance_matches_md5_replay(spark):
    toks = [(i, 1 + i % 9) for i in range(60)]
    df = spark.createDataFrame(
        [(i, "w " * n) for i, n in toks], ["doc_id", "text"]
    )
    row = {
        r["n_shards"]: r for r in shard_balance(df, shard_counts=(4,)).collect()
    }[4]
    loads: dict[int, int] = {}
    for i, n in toks:
        s = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 4
        loads[s] = loads.get(s, 0) + n
    total = sum(loads.values())
    mean = total / 4
    var = sum(v * v for v in loads.values()) / 4 - mean * mean
    assert row["n_shards_used"] == len(loads)
    assert row["total_tokens"] == total
    assert row["max_shard_tokens"] == max(loads.values())
    assert row["balance_ratio"] == round(max(loads.values()) / mean, 6)
    assert row["cv_tokens"] == round(math.sqrt(var) / mean, 6)


# ---------------------------------------------------------------------------
# embedding_isotropy
# ---------------------------------------------------------------------------


def _emb(spark, vecs):
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], ["vec_id", "embedding"]
    )


def test_isotropy_identity_equals_pairwise_average(spark):
    vecs = [
        [math.sin(0.7 * i + j) + 0.05 * j for j in range(5)]
        for i in range(25)
    ]
    row = embedding_isotropy(_emb(spark, vecs)).collect()[0]
    unit = []
    for v in vecs:
        nrm = math.sqrt(sum(x * x for x in v))
        unit.append([x / nrm for x in v])
    n = len(unit)
    s = sum(
        sum(a * b for a, b in zip(unit[i], unit[j]))
        for i in range(n)
        for j in range(n)
        if i != j
    )
    assert row["n"] == n
    assert row["dim"] == 5
    assert abs(row["mean_pairwise_cosine"] - s / (n * (n - 1))) < 2e-6
    norms = [math.sqrt(sum(x * x for x in v)) for v in vecs]
    mn = sum(norms) / n
    sd = math.sqrt(sum((x - mn) ** 2 for x in norms) / n)
    assert row["mean_norm"] == round(mn, 6)
    assert row["cv_norm"] == round(sd / mn, 6)


def test_isotropy_extremes(spark):
    # orthonormal basis: every pairwise cosine is 0
    basis = [[1.0 if j == i else 0.0 for j in range(4)] for i in range(4)]
    row = embedding_isotropy(_emb(spark, basis)).collect()[0]
    assert row["mean_pairwise_cosine"] == 0.0
    assert row["cv_norm"] == 0.0
    # identical vectors: mean pairwise cosine 1; zero vector excluded
    same = [[2.0, 1.0, 0.0]] * 3 + [[0.0, 0.0, 0.0]]
    row2 = embedding_isotropy(_emb(spark, same)).collect()[0]
    assert row2["n"] == 3  # zero-norm vector has no unit direction
    assert row2["mean_pairwise_cosine"] == 1.0


# ---------------------------------------------------------------------------
# tokenizer_fertility / ngram_coverage
# ---------------------------------------------------------------------------


def test_tokenizer_fertility_handcrafted(spark):
    from gbif_filter_python_spark.operators.corpus import tokenizer_fertility

    df = spark.createDataFrame(
        [
            (0, "en", "hello, world!"),  # ws 2; sw: hello , world ! = 4
            (1, "en", "a b"),  # ws 2; sw 2
            (2, "de", ""),  # ws 0; sw 0
        ],
        ["doc_id", "lang", "text"],
    )
    rows = {
        r["group"]: r
        for r in tokenizer_fertility(df, group_col="lang").collect()
    }
    en = rows["en"]
    assert (en["ws_tokens"], en["subword_tokens"]) == (4, 6)
    assert en["fertility"] == 1.5
    # nonspace chars: "hello,world!" (12) + "ab" (2) = 14 over 6 units
    assert en["chars_per_subword"] == round(14 / 6, 6)
    de = rows["de"]
    assert (de["ws_tokens"], de["subword_tokens"]) == (0, 0)
    assert de["fertility"] is None and de["chars_per_subword"] is None


def test_ngram_coverage_matches_python_replay(spark):
    import hashlib
    import re

    from gbif_filter_python_spark.operators.corpus import ngram_coverage

    texts = {
        i: f"alpha beta gamma doc{i} shares alpha beta with others"
        for i in range(40)
    }
    texts[40] = "zz yy xx"  # words likely unique to wherever it lands
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], ["doc_id", "text"]
    )
    got = {r["n"]: r for r in ngram_coverage(df, ns=(1, 2)).collect()}

    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 100

    def words(t):
        return [w for w in re.sub(r"[^a-z0-9]+", " ", t.lower()).split() if w]

    grams = {1: {"tr": set(), "te": set()}, 2: {"tr": set(), "te": set()}}
    for i, t in texts.items():
        side = "te" if bucket(i) < 10 else "tr"
        ws = words(t)
        grams[1][side].update(ws)
        grams[2][side].update(
            f"{a} {b}" for a, b in zip(ws, ws[1:])
        )
    for n in (1, 2):
        tr, te = grams[n]["tr"], grams[n]["te"]
        assert got[n]["train_ngrams"] == len(tr)
        assert got[n]["test_ngrams"] == len(te)
        assert got[n]["covered"] == len(tr & te)
        assert got[n]["coverage"] == round(len(tr & te) / len(te), 6)


def test_ngram_coverage_trigrams_and_short_docs(spark):
    from gbif_filter_python_spark.operators.corpus import ngram_coverage

    # 2-word docs contribute no trigrams; empty docs contribute nothing
    df = spark.createDataFrame(
        [(i, "one two") for i in range(30)] + [(30, ""), (31, "x y z")],
        ["doc_id", "text"],
    )
    got = {r["n"]: r for r in ngram_coverage(df, ns=(3,)).collect()}
    # only doc 31 has a trigram ("x y z"); whichever side it fell on
    assert got[3]["train_ngrams"] + got[3]["test_ngrams"] == 1
    assert got[3]["covered"] == 0


# ---------------------------------------------------------------------------
# plan-shape assertions backing the scale docstrings
# ---------------------------------------------------------------------------


def test_r10_single_scan_ops_have_join_free_plans(spark):
    """filter_funnel / seqlen_histogram / ngram_coverage claim
    'one scan, hash aggregates, no join' — assert the physical plan
    agrees (the _bigram_pairs lesson: the claim must be checked, a
    post-explode self-join silently becomes a corpus-sized
    broadcast)."""
    from gbif_filter_python_spark.operators.corpus import (
        filter_funnel,
        ngram_coverage,
        seqlen_histogram,
    )
    from gbif_filter_python_spark.plans.inspect import explain_str

    df = _docs(spark, ["the quick brown fox jumps over it " * 5] * 20)
    for op in (
        lambda d: filter_funnel(d, min_words=5),
        seqlen_histogram,
        lambda d: ngram_coverage(d, ns=(1, 2, 3)),
    ):
        plan = explain_str(op(df), "simple")
        assert "Join" not in plan, plan


def test_packing_efficiency_only_join_is_offset_broadcast(spark):
    """packing_efficiency's single join must be the tiny
    per-partition offset broadcast (assign_global_index shape) — a
    SortMergeJoin here would mean the data-sized side is being
    shuffled for the offsets."""
    from gbif_filter_python_spark.operators.corpus import packing_efficiency
    from gbif_filter_python_spark.plans.inspect import explain_str

    df = _docs(spark, ["w " * 9] * 50)
    plan = explain_str(packing_efficiency(df, capacities=(8,)), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_md5_sample_refuses_unbounded_requests(spark):
    import pytest

    from gbif_filter_python_spark.operators.similarity import (
        MAX_SAMPLE_N,
        hubness,
        twonn_dim,
    )

    df = _emb(spark, [[1.0, 0.0], [0.0, 1.0]])
    with pytest.raises(ValueError, match="bounded"):
        hubness(df, sample_n=MAX_SAMPLE_N + 1)
    with pytest.raises(ValueError, match="bounded"):
        twonn_dim(df, sample_n=0)


# ---------------------------------------------------------------------------
# cross-operator consistency (catalog coherence on real test data)
# ---------------------------------------------------------------------------


SF_DIR = "/root/testdata/sf0.001"


def test_seqlen_histogram_consistent_with_token_stats(spark):
    """The histogram's totals must equal the per-doc token_stats view
    of the same table — two independently-written operators, one
    truth."""
    from gbif_filter_python_spark.operators.corpus import seqlen_histogram
    from gbif_filter_python_spark.sources.io import read_table

    docs = read_table(spark, SF_DIR, "documents")
    hist = seqlen_histogram(docs).collect()
    n_docs = docs.count()
    from pyspark.sql import functions as F

    from gbif_filter_python_spark.functions.text import token_count

    tot_tokens = docs.agg(
        F.sum(token_count(F.col("text")).cast("long"))
    ).collect()[0][0]
    assert sum(r["n_docs"] for r in hist) == n_docs
    assert sum(r["sum_tokens"] for r in hist) == tot_tokens
    # every doc is in exactly one bucket and bounds hold
    for r in hist:
        if r["bucket"] >= 0:
            assert r["lo_tokens"] == 2 ** r["bucket"]
            assert r["hi_tokens"] == 2 ** (r["bucket"] + 1) - 1


def test_filter_funnel_final_stage_equals_gopher_passes(spark):
    """funnel's last-stage survivors == gopher_signals combined
    passes count at the same thresholds (the funnel is the staged
    decomposition of that flag)."""
    from pyspark.sql import functions as F

    from gbif_filter_python_spark.functions.text import gopher_signals
    from gbif_filter_python_spark.operators.corpus import filter_funnel
    from gbif_filter_python_spark.sources.io import read_table

    docs = read_table(spark, SF_DIR, "documents")
    rows = filter_funnel(docs, min_words=25).collect()
    last = [r for r in rows if r["stage"] == "stopword_hits"][0]
    sig = gopher_signals(F.col("text"), min_words=25)
    n_pass = docs.select(sig["passes"].alias("p")).filter("p").count()
    assert last["n_pass"] == n_pass
    # survivors are monotone non-increasing through the stages
    seq = [r["n_pass"] for r in sorted(rows, key=lambda r: r["stage_idx"])]
    assert all(a >= b for a, b in zip(seq, seq[1:]))


def test_packing_efficiency_consistent_with_pack_sequences(spark):
    """packing_efficiency's bin count equals the number of distinct
    packs pack_sequences(shards=None) assigns at the same budget —
    both walk the identical doc_id-ordered token stream."""
    from pyspark.sql import functions as F

    from gbif_filter_python_spark.operators.corpus import (
        pack_sequences,
        packing_efficiency,
    )
    from gbif_filter_python_spark.sources.io import read_table

    docs = read_table(spark, SF_DIR, "documents")
    cap = 256
    eff = {
        r["capacity"]: r
        for r in packing_efficiency(docs, capacities=(cap,)).collect()
    }[cap]
    packs = (
        pack_sequences(docs, budget=cap, shards=None)
        .agg(F.countDistinct("pack_id").alias("n"))
        .collect()[0]["n"]
    )
    # pack_id is assigned from each doc's START offset, so every bin
    # that any doc starts in is a pack; bins entirely covered by the
    # interior of one long doc have no starter. n_bins >= packs and
    # the deficit is bounded by the boundary crossings.
    assert packs <= eff["n_bins"] <= packs + eff["boundary_crossings"]


# ---------------------------------------------------------------------------
# r10 review-pass fixes
# ---------------------------------------------------------------------------


def test_round_half_away_matches_engine_convention():
    import numpy as np

    from gbif_filter_python_spark.operators.similarity import (
        _round_half_away,
    )

    # dyadic tie: np.round would give 0.007812 (banker's); Spark
    # F.round and DuckDB round give 0.007813
    a = np.array([0.0078125, -0.0078125, 0.1234564, -np.inf])
    out = _round_half_away(a, 6)
    assert out[0] == 0.007813
    assert out[1] == -0.007813
    assert out[2] == 0.123456
    assert out[3] == -np.inf


def test_sample_ops_refuse_non_integral_ids(spark):
    import pytest

    from gbif_filter_python_spark.operators.similarity import hubness

    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])], ["vec_id", "embedding"]
    )
    with pytest.raises(TypeError, match="integral"):
        hubness(df, sample_n=2)


def test_seqlen_histogram_null_text_lands_in_bucket_minus_one(spark):
    from gbif_filter_python_spark.operators.corpus import seqlen_histogram

    df = spark.createDataFrame(
        [(0, None), (1, "a b c"), (2, "")], ["doc_id", "text"]
    )
    rows = {r["bucket"]: r for r in seqlen_histogram(df).collect()}
    # NULL text must fold into bucket -1 (a NULL bucket would sort
    # NULLS FIRST in Spark's cum window but NULLS LAST in DuckDB's)
    assert rows[-1]["n_docs"] == 2
    assert rows[-1]["sum_tokens"] == 0
    assert rows[1]["cum_pct_docs"] == 1.0


def test_heavy_picks_are_least_recently_witnessed(monkeypatch):
    import __spark_entry__ as entry_mod

    pool = entry_mod.HEAVY_QUERIES
    reg = [n for n in entry_mod._registry() if n not in entry_mod.CANARY]
    # craft a witness map: everything seen recently EXCEPT two heavy
    # names starved long ago — they must be picked first, regardless
    # of any rotation offset
    starved = [pool[7], pool[23]]
    latest = {n: 9 for n in reg}
    for n in starved:
        latest[n] = 2
    monkeypatch.setattr(entry_mod, "_witness_rounds", lambda r: dict(latest))
    monkeypatch.setattr(entry_mod, "_WINDOW_CACHE", {})
    window = entry_mod.planned_window(entry_mod._HEAVY_ANCHOR + 3)
    k = len(entry_mod.CANARY)
    picks = window[k : k + entry_mod.HEAVY_QUOTA]
    assert set(starved) <= set(picks)
    assert set(picks) <= set(pool)


def test_split_ring_dedupes_by_occurrence_key_not_projection(
    pushdown_occ, tmp_path
):
    """Two DISTINCT records sharing every projected field except
    occurrence_key must BOTH survive the split-ring dedupe; the same
    record (same key) returned by both rings appears once."""
    import json as _json

    from pyspark.sql import functions as F

    ring_w = "POLYGON((-180 10,0 10,0 90,-180 90,-180 10))"
    ring_e = "POLYGON((0 10,180 10,180 90,0 90,0 10))"
    base = {
        "taxon_key": 100,
        "scientific_name": "Aus aus",
        "country": "FR",
        "decimal_latitude": 48.0,
        "decimal_longitude": 0.0,
    }
    data = {
        f"100|FR|{ring_w}": [
            dict(base, occurrence_key=1),
            dict(base, occurrence_key=2),  # distinct record, same proj
        ],
        f"100|FR|{ring_e}": [dict(base, occurrence_key=1)],  # dup of 1
    }
    log = str(tmp_path / "key_dedupe.jsonl")
    df = (
        pushdown_occ.read.format("gbif_occurrences")
        .option(
            "fetch_factory",
            "gbif_filter_python_spark.sources."
            "occurrence_source:scripted_occurrence_fetch",
        )
        .option("fetch_args", _json.dumps({"data": data, "call_log": log}))
        .load()
        .filter(F.col("taxon_key") == 100)
        .filter(F.col("country") == "FR")
        .filter(F.col("decimal_latitude") >= 10.0)
    )
    assert sorted(x["occurrence_key"] for x in df.collect()) == [1, 2]


import pytest as _pytest

from tests.conftest import session_conf


@_pytest.fixture()
def pushdown_occ(spark):
    from gbif_filter_python_spark.sources.occurrence_source import (
        GbifOccurrencesDataSource,
    )

    spark.dataSource.register(GbifOccurrencesDataSource)
    with session_conf(spark, extra={
            "spark.sql.python.filterPushdown.enabled": "true"}):
        yield spark

"""Keyword + hybrid retrieval ranking operators.

Beyond-reference block: the retrieval stack a training-data pipeline
uses to mine, dedupe against, or decontaminate with *query-shaped*
workloads — completing the keyword half that the ANN operators in
``operators/similarity.py`` leave open:

* **BM25 scoring** (``bm25_scores`` / ``bm25_top_docs``) — Okapi
  BM25 (Robertson & Spärck Jones; the Lucene ``k1``/``b``
  formulation with the +1 idf floor so scores are never negative).
  The inverted-index statistics are TWO hash aggregations over the
  exploded word stream — term frequency per (doc, term) and document
  frequency per term — exactly the ``tfidf_top_terms`` plan shape,
  plus a 1-row (N, avgdl) aggregate crossJoined in (no driver
  ``.count()`` during plan construction).
* **Reciprocal-rank fusion** (``rrf_fuse``) — Cormack, Clarke &
  Buettcher (SIGIR 2009): fuse any number of per-query rankings by
  ``sum(1 / (k + rank))``. The standard hybrid-search combiner for
  keyword + vector retrieval (it needs no score calibration, only
  ranks, which is why it survives heterogeneous scorers).

Scale design (100 TB corpus, 1000 executors):

* the corpus-side shuffles carry ``(doc_id, term, count)`` rows —
  never the text; document length rides the same first aggregation;
* the query set is assumed bounded (retrieval batches are thousands
  of queries, not billions) and is **broadcast** to the term
  statistics — the corpus-side tf table never reshuffles on terms;
* rank fusion unions the candidate lists and runs ONE
  (query, doc)-keyed aggregation; each input list is already top-k
  truncated, so fusion state is O(queries x k x lists).

Determinism contract (cross-engine hash-matching, see
``__spark_entry__`` float policy): per-term BM25 contributions are
rounded to 6 dp BEFORE the per-(query, doc) sum so both engines sum
identical values; the final score re-rounds to 6 dp, nine orders
above accumulated fp noise. RRF contributions are exact reciprocals
of small integers summed per (query, doc) — commutative for the
two-to-four-list case — rounded to 9 dp. Rankings order by the
ROUNDED score desc then doc id asc, never the raw double.

Reference parity: the reference (SURVEY.md §2 rows 1-40) has no
retrieval scorer; this module belongs to the beyond-reference
LLM-pipeline block the build brief mandates (similarity search /
hybrid retrieval).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gbif_filter_python_spark.functions.text import words


def bm25_scores(
    docs: DataFrame,
    queries: DataFrame,
    *,
    k1: float = 1.2,
    b: float = 0.75,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 score of every document against every query.

    ``score(q, d) = sum over t in distinct_terms(q) of
    idf(t) * tf(t,d) * (k1+1) / (tf(t,d) + k1*(1 - b + b*|d|/avgdl))``
    with the Lucene idf ``ln(1 + (N - df + 0.5) / (df + 0.5))`` (the
    +1 inside the log keeps idf positive for ultra-common terms).

    Returns ``(query_id, doc_id, bm25)`` for every (query, doc) pair
    sharing at least one term; ``bm25`` is rounded to 6 dp (per-term
    contributions are themselves rounded to 6 dp before the sum — the
    cross-engine determinism contract, see module docstring).

    Plan shape: words explode → tf hash agg (doc length rides along
    via a window-free second agg on doc_id) → df hash agg → distinct
    query terms **broadcast** onto tf → one (query, doc) sum agg.
    The corpus text never shuffles; at 100 TB the only wide exchanges
    carry (doc, term, count) integers.
    """
    terms = docs.select(
        F.col(doc_id_col).alias("doc_id"),
        F.explode(words(F.col(text_col))).alias("term"),
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # Document length from the tf table (sum of term counts) — reuses
    # the first shuffle's output instead of re-scanning the corpus.
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    dfc = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    stats = dl.agg(
        F.count("*").cast("double").alias("_n"),
        F.avg("dl").alias("_avgdl"),
    )
    qterms = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(words(F.col(query_text_col))).alias("term"),
        )
        .distinct()
    )
    contrib = (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfc), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_part = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("_avgdl"))
    )
    per_term = contrib.select(
        "query_id",
        "doc_id",
        F.round(idf * tf_part, 6).alias("_c"),
    )
    return per_term.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("_c"), 6).alias("bm25")
    )


def bm25_top_docs(
    docs: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "text",
) -> DataFrame:
    """Top-``k`` documents per query by BM25.

    Ordering is (rounded bm25 desc, doc_id asc) — a total order, so
    the cut is deterministic across partitionings and engines. The
    per-query limit runs as a WindowGroupLimit (map-side top-k before
    the final rank shuffle).
    """
    scored = bm25_scores(
        docs,
        queries,
        k1=k1,
        b=b,
        doc_id_col=doc_id_col,
        text_col=text_col,
        query_id_col=query_id_col,
        query_text_col=query_text_col,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("bm25"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "bm25", "rank")
    )


def rrf_fuse(
    rankings: Sequence[DataFrame],
    *,
    k: int = 60,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    top: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion of per-query rankings (Cormack 2009).

    Each input frame carries ``(query_col, id_col, rank_col)`` with
    rank starting at 1. A candidate's fused score is
    ``sum over lists containing it of 1 / (k + rank)`` — absent lists
    contribute nothing (the union-all + one-aggregation formulation;
    no N-way full outer join). Returns
    ``(query_id, doc_id, rrf, n_lists, rank)`` rounded to 9 dp and
    re-ranked by (rrf desc, doc_id asc); ``top`` truncates per query.

    Scale: inputs are top-k truncated lists, so the single
    (query, doc) aggregation holds O(queries x k x lists) rows
    regardless of corpus size.
    """
    if not rankings:
        raise ValueError("rrf_fuse: need at least one ranking")
    contribs = [
        r.select(
            F.col(query_col).alias("query_id"),
            F.col(id_col).alias("doc_id"),
            (F.lit(1.0) / (F.lit(float(k)) + F.col(rank_col).cast("double"))).alias(
                "_c"
            ),
        )
        for r in rankings
    ]
    unioned = contribs[0]
    for c in contribs[1:]:
        unioned = unioned.unionByName(c)
    fused = unioned.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("_c"), 9).alias("rrf"),
        F.count("*").cast("int").alias("n_lists"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("doc_id"))
    out = fused.withColumn("rank", F.row_number().over(w))
    if top is not None:
        out = out.filter(F.col("rank") <= top)
    return out.select("query_id", "doc_id", "rrf", "n_lists", "rank")


def retrieval_metrics(
    results: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    round_dp: int = 6,
) -> DataFrame:
    """Retrieval evaluation at cutoff k — the score card for every
    retriever in this module (bm25_top_docs, rrf_fuse, the ANN
    searchers): per query ``(query, n_rel, n_hits, precision_at_k,
    recall_at_k, rr_at_k)`` against a binary relevance table
    ``qrels(query, doc)``. ``rr_at_k`` is the reciprocal rank of the
    FIRST relevant hit within the cutoff (0.0 if none — the MRR@k
    convention); recall divides by the query's total relevant count,
    precision by k. Queries absent from ``qrels`` are out of scope
    (metrics undefined with zero relevant), queries with relevant
    docs but zero hits report 0.0 across the board.

    Scale shape: one equi-join of the top-k slice against qrels on
    (query, doc) — both sides are k-bounded per query, so this is
    |queries|×k rows, never the corpus — plus two query-key
    aggregations. Reciprocals of small integers round identically
    cross-engine at 6dp.
    """
    topk = results.filter(F.col(rank_col) <= k)
    hits = topk.join(qrels, [query_col, doc_col]).groupBy(query_col).agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.min(rank_col).alias("_first"),
    )
    nrel = qrels.groupBy(query_col).agg(
        F.count(F.lit(1)).alias("n_rel")
    )
    out = nrel.join(hits, query_col, "left")
    nh = F.coalesce(F.col("n_hits"), F.lit(0))
    return out.select(
        query_col,
        "n_rel",
        nh.alias("n_hits"),
        F.round(nh / F.lit(float(k)), round_dp).alias("precision_at_k"),
        F.round(nh / F.col("n_rel"), round_dp).alias("recall_at_k"),
        F.round(
            F.when(
                F.col("_first").isNotNull(), 1.0 / F.col("_first")
            ).otherwise(0.0),
            round_dp,
        ).alias("rr_at_k"),
    )


def rbo_weights(p: float, depth: int) -> list[float]:
    """The per-first-agreement-depth weight table RBO reduces to (see
    :func:`rbo_overlap`): a doc whose worse rank across the two lists
    is ``m`` contributes ``sum_{d=m}^{depth} p^(d-1)/d`` to the
    pre-(1-p) sum. Driver-computed once (``depth`` doubles) and
    embedded as literals in BOTH engines, so cross-engine replay is
    exact at the bit level."""
    return [
        sum(p ** (d - 1) / d for d in range(m, depth + 1))
        for m in range(1, depth + 1)
    ]


def rbo_overlap(
    a: DataFrame,
    b: DataFrame,
    p: float = 0.9,
    depth: int = 10,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    round_dp: int = 6,
) -> DataFrame:
    """Rank-biased overlap between two per-query rankings (Webber,
    Moffat & Zobel, TOIS 2010) truncated at ``depth`` — the standard
    top-weighted similarity for comparing retrievers (how much did
    the ranking change when we swapped BM25 for the hybrid fuser?),
    indefinite on ties and robust to non-conjoint lists.

    Definition: ``RBO@D = (1-p) * sum_{d=1..D} p^(d-1) * |A_d ∩ B_d| / d``
    with ``A_d`` the depth-d prefix. Set-at-a-time reformulation
    (no per-depth pass): a doc appearing in BOTH prefixes first does
    so at depth ``m = max(rank_a, rank_b)``, after which it is in
    every deeper intersection — so it contributes the closed-form
    tail weight ``W[m] = sum_{d=m..D} p^(d-1)/d`` and
    ``RBO@D = (1-p) * sum over joined docs of W[max(ra, rb)]``.
    One equi-join of two depth-truncated lists on (query, doc), one
    ``element_at`` lookup into the literal weight array, one per-query
    sum — |queries|×depth rows end to end, never the corpus.

    Returns ``(query_id, n_common, rbo)``; queries present in either
    input always appear (RBO 0.0 with no common docs — the
    full-disagreement score, not a dropped row).
    """
    if not 0.0 < p < 1.0:
        raise ValueError(f"p must be in (0, 1), got {p}")
    if depth < 1:
        raise ValueError(f"depth must be >= 1, got {depth}")
    weights = F.array(*[F.lit(w) for w in rbo_weights(p, depth)])

    def side(df: DataFrame, tag: str) -> DataFrame:
        return df.filter(F.col(rank_col) <= depth).select(
            F.col(query_col).alias("query_id"),
            F.col(id_col).alias("doc_id"),
            F.col(rank_col).cast("int").alias(f"_r{tag}"),
        )

    joined = side(a, "a").join(side(b, "b"), ["query_id", "doc_id"], "full")
    contrib = F.when(
        F.col("_ra").isNotNull() & F.col("_rb").isNotNull(),
        F.element_at(weights, F.greatest("_ra", "_rb")),
    ).otherwise(F.lit(0.0))
    both = F.col("_ra").isNotNull() & F.col("_rb").isNotNull()
    return joined.groupBy("query_id").agg(
        F.sum(both.cast("int")).cast("int").alias("n_common"),
        F.round((1.0 - p) * F.sum(contrib), round_dp).alias("rbo"),
    )


def inverted_postings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 2,
    max_df_frac: float = 0.9,
) -> DataFrame:
    """Inverted-index posting lists: one row ``(term, df,
    postings)`` per vocabulary term, where ``postings`` is the
    comma-joined ascending list of doc ids containing the term (the
    index-build primitive under :func:`bm25_scores`' df statistics —
    what a retrieval system ships to its serving tier).

    ``min_df``/``max_df_frac`` bound the posting arrays the sklearn
    way: singleton terms are noise and terms in more than
    ``max_df_frac`` of the corpus are stop-words whose posting rows
    grow proportional to the corpus (the same hot-key cap argument as
    winnowing's fingerprint df cap — a fraction, not an absolute,
    so the gate scales with the corpus). Terms count once per
    document (``array_distinct`` BEFORE the explode — the per-doc
    dedup happens in the projection, not in the aggregate).

    Scale shape: explode of per-doc distinct terms, then ONE hash
    aggregation keyed by term; ``sort_array(collect_list(...))``
    keeps the list deterministic. Posting size is capped by
    ``max_df``, so the collected arrays are bounded model state, not
    data-proportional.
    """
    terms = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(words(F.col(text_col)))).alias("term"),
    )
    tot = df.agg(F.count(F.lit(1)).alias("_n_docs"))
    return (
        terms.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.col(id_col))),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
        .crossJoin(F.broadcast(tot))
        .filter(
            (F.col("df") >= min_df)
            & (F.col("df") <= max_df_frac * F.col("_n_docs"))
        )
        .drop("_n_docs")
    )


def ndcg_at_k(
    results: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
    round_dp: int = 6,
) -> DataFrame:
    """Graded-relevance nDCG@k (Järvelin & Kekäläinen 2002, the
    exponential-gain form every IR shared task reports) — the metric
    :func:`retrieval_metrics` can't give with binary qrels: per query
    ``(query, n_rel, dcg_at_k, idcg_at_k, ndcg_at_k)`` with

        DCG@k  = Σ_{hits at rank r ≤ k} (2^rel − 1) / log2(r + 1)
        IDCG@k = the same sum over the query's own rels sorted
                 descending (ties broken by doc id — deterministic)

    so a retriever that surfaces the RIGHT docs in the WRONG order is
    scored below one that orders them correctly, which
    precision/recall can't distinguish. Queries in ``qrels`` with no
    ranked hits score 0.0; ``rel`` ≤ 0 rows contribute zero gain.

    Scale shape: the retrieval_metrics contract — the top-k slice
    equi-joins qrels on (query, doc), both sides k-bounded per query;
    the ideal ranking is a per-query window over qrels (the only
    per-query sort, on the qrels table, never the corpus) truncated
    at k; two query-key aggregations close it out.
    """
    # clamp: 2^rel − 1 is NEGATIVE for rel < 0, which would let a
    # badly-graded qrel SUBTRACT from DCG — rel <= 0 must mean zero
    # gain, as documented
    gain = F.greatest(
        F.lit(0.0),
        F.pow(F.lit(2.0), F.col(rel_col).cast("double")) - 1.0,
    )
    topk = results.filter(F.col(rank_col) <= k)
    dcg = (
        topk.join(qrels, [query_col, doc_col])
        .groupBy(query_col)
        .agg(
            F.sum(
                gain / F.log2(F.col(rank_col).cast("double") + 1.0)
            ).alias("_dcg")
        )
    )
    iw = Window.partitionBy(query_col).orderBy(
        F.col(rel_col).desc(), F.col(doc_col).asc()
    )
    ideal = (
        qrels.withColumn("_ir", F.row_number().over(iw))
        .filter(F.col("_ir") <= k)
        .groupBy(query_col)
        .agg(
            F.sum(
                gain / F.log2(F.col("_ir").cast("double") + 1.0)
            ).alias("_idcg")
        )
    )
    nrel = qrels.groupBy(query_col).agg(F.count(F.lit(1)).alias("n_rel"))
    out = nrel.join(ideal, query_col).join(dcg, query_col, "left")
    d = F.coalesce(F.col("_dcg"), F.lit(0.0))
    return out.select(
        query_col,
        "n_rel",
        F.round(d, round_dp).alias("dcg_at_k"),
        F.round("_idcg", round_dp).alias("idcg_at_k"),
        F.round(
            F.when(F.col("_idcg") > 0, d / F.col("_idcg")).otherwise(
                0.0
            ),
            round_dp,
        ).alias("ndcg_at_k"),
    )


def pr_curve(
    scored: DataFrame,
    score_col: str,
    label_col: str,
    thresholds: Sequence[float],
    round_dp: int = 6,
) -> DataFrame:
    """Precision/recall sweep over a FIXED threshold grid: one row
    ``(threshold, tp, fp, fn, precision, recall)`` per threshold
    (``score >= threshold`` predicts positive) — the
    operating-point table a binary scorer (ER matcher tiers, quality
    gates, toxicity filters) ships with before anyone picks a cutoff.
    Complements :func:`~.fuzzy.pair_eval` (one point) and
    ``isotonic_calibrate`` (probability fit) with the whole curve.

    Scale shape: the entire sweep is ONE aggregation over the scored
    table — K conditional sums (tp_k, fp_k) plus the positive total,
    unpivoted with ``stack`` into K rows. The fact is scanned once
    regardless of grid size; no per-threshold pass, no sort (a fixed
    grid, unlike the every-distinct-score ROC construction, keeps
    the output bounded and the plan join-free).
    """
    if not thresholds:
        raise ValueError("thresholds must be non-empty")
    ts = [float(t) for t in thresholds]
    lbl = F.col(label_col).cast("boolean")
    sc = F.col(score_col)
    aggs = [
        F.sum(F.when(lbl, 1).otherwise(0)).alias("_pos"),
    ]
    for i, t in enumerate(ts):
        aggs.append(
            F.sum(F.when((sc >= t) & lbl, 1).otherwise(0)).alias(f"_tp{i}")
        )
        aggs.append(
            F.sum(F.when((sc >= t) & ~lbl, 1).otherwise(0)).alias(f"_fp{i}")
        )
    row = scored.agg(*aggs)
    stack_args = ", ".join(
        f"CAST({t!r} AS DOUBLE), _tp{i}, _fp{i}" for i, t in enumerate(ts)
    )
    stacked = row.select(
        "_pos",
        F.expr(
            f"stack({len(ts)}, {stack_args}) AS (threshold, _tp, _fp)"
        ),
    )
    return stacked.select(
        "threshold",
        F.col("_tp").cast("long").alias("tp"),
        F.col("_fp").cast("long").alias("fp"),
        (F.col("_pos") - F.col("_tp")).cast("long").alias("fn"),
        F.round(
            F.when(
                F.col("_tp") + F.col("_fp") > 0,
                F.col("_tp") / (F.col("_tp") + F.col("_fp")),
            ),
            round_dp,
        ).alias("precision"),
        F.round(
            F.when(F.col("_pos") > 0, F.col("_tp") / F.col("_pos")),
            round_dp,
        ).alias("recall"),
    )

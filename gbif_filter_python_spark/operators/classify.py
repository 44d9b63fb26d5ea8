"""Model-based data-selection operators for training-data pipelines.

Beyond-reference block (SURVEY.md §2 final row): the three classic
*model-in-the-loop* curation steps every large-scale LLM corpus
pipeline runs after the heuristic filters in functions/text.py:

* **Naive Bayes classifier** (``nb_train`` / ``nb_score`` /
  ``nb_predict``) — the fastText-style linear quality/domain
  classifier (hashed bag-of-words multinomial NB). Training is ONE
  groupBy over (bucket, label) token counts; the model is dense
  ``num_buckets x n_labels`` rows — bounded by construction, always
  broadcastable, so scoring never shuffles the corpus on anything
  but (doc, label) partial-aggregated sums.
* **DSIR importance resampling** (``dsir_weights`` /
  ``dsir_resample``) — Data Selection with Importance Resampling
  (Xie et al., NeurIPS 2023): hashed-unigram bag-of-words language
  models over a target corpus vs the raw pool, per-document
  log-importance weight, Gumbel top-k resample. The standard
  "select web data that looks like Wikipedia" step.
* **Bigram LM perplexity filter** (``lm_train_bigram`` /
  ``lm_perplexity``) — the CCNet-style perplexity quality filter:
  interpolated bigram/unigram LM trained on a reference slice,
  per-document perplexity, filter by band.

All three are pure Column/DataFrame pipelines — no Python UDF
anywhere. Words and hash buckets come from ``functions.text.words``
and ``functions.text.md5_bucket``, as in
``functions.vectors.hashed_embedding``, so every step is reproducible
in the DuckDB oracles (`__spark_entry__.oracle_sql`).

Determinism contract (cross-engine hash-matching): every score in an
oracle-checked output is a sum of ~O(tokens) doubles rounded to 4 dp.
libm ulp differences accumulate to ~1e-13 at these magnitudes, nine
orders below the rounding quantum, so Spark and DuckDB agree.
Argmax/top-k boundaries always tie-break on the ROUNDED score then a
total-order key (label / doc id), never the raw double.

Scale design (100 TB corpus, bounded model state):

* token explode is map-side; the only wide exchanges are
  (bucket, label)-keyed count aggregations whose output cardinality
  is <= num_buckets x n_labels regardless of corpus size;
* models join back via broadcast (Catalyst auto-broadcasts the
  <=65k-row model frames; scoring adds x n_labels rows map-side
  which partial aggregation collapses before the shuffle);
* nothing ever ``collect()``s more than the model itself.

Reference parity: the reference repo has no classifier (it is a
REST-filter script, SURVEY.md §2 rows 1-40); this module is part of
the beyond-reference LLM-pipeline block the build brief mandates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gbif_filter_python_spark.functions.text import md5_bucket, words


def _tokens(
    df: DataFrame, text_col: str, id_cols: list[str], num_buckets: int
) -> DataFrame:
    """(id_cols..., bucket) one row per token occurrence (map-side)."""
    return df.select(
        *id_cols,
        F.explode(words(F.col(text_col))).alias("_w"),
    ).select(*id_cols, md5_bucket(F.col("_w"), num_buckets).alias("bucket"))


# --------------------------------------------------------------------------
# Hashed multinomial Naive Bayes
# --------------------------------------------------------------------------


def nb_train(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    num_buckets: int = 256,
    smoothing: float = 1.0,
) -> DataFrame:
    """Train a hashed multinomial Naive Bayes model.

    Returns the DENSE model: one row per (label, bucket) —
    ``(label, bucket, log_cond, log_prior)`` with add-``smoothing``
    Laplace estimates:

        log_cond  = ln((count(bucket,label) + a) / (tokens(label) + a*B))
        log_prior = ln(docs(label) / docs_total)

    Dense (every bucket present for every label, zero-count buckets
    carry the smoothing floor) so scoring is a plain inner join — no
    per-label missing-token fallback logic. Model cardinality is
    ``num_buckets x n_labels`` rows, independent of corpus size: the
    one groupBy shuffle in training emits at most that many rows
    after map-side partial aggregation, and the result always fits a
    broadcast.
    """
    a = float(smoothing)
    b = int(num_buckets)

    toks = _tokens(df, text_col, [label_col], b)
    counts = toks.groupBy(label_col, "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    label_tot = toks.groupBy(label_col).agg(
        F.count(F.lit(1)).alias("tok_tot")
    )
    doc_counts = df.groupBy(label_col).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    # the corpus row total rides the per-label doc counts (sum n_docs
    # == df.count() exactly — a null label still forms a group)
    # instead of a separate eager ``df.count()`` action: one fewer
    # corpus pass per training call, and construction stays lazy
    # (optimization r14, guide §2.3). cast-double keeps the prior's
    # divisor the same IEEE double the Python literal was.
    n_total_df = doc_counts.agg(
        F.coalesce(F.sum("n_docs"), F.lit(0)).alias("_n_total")
    )

    spark = df.sparkSession
    all_buckets = spark.range(b).select(F.col("id").cast("int").alias("bucket"))
    dense = (
        doc_counts.join(label_tot, label_col)
        .crossJoin(F.broadcast(all_buckets))
        .join(counts, [label_col, "bucket"], "left")
        .crossJoin(F.broadcast(n_total_df))
        .select(
            label_col,
            "bucket",
            F.log(
                (F.coalesce(F.col("cnt"), F.lit(0)) + a)
                / (F.col("tok_tot") + a * b)
            ).alias("log_cond"),
            F.log(
                F.col("n_docs") / F.col("_n_total").cast("double")
            ).alias("log_prior"),
        )
    )
    return dense


def nb_score(
    df: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "lang",
    num_buckets: int = 256,
    round_dp: int = 4,
) -> DataFrame:
    """Per-(doc, label) log-posterior: ``(id_col, label, score)``.

    The corpus explodes to token rows map-side, broadcast-joins the
    dense model (x n_labels rows, collapsed by partial aggregation
    before the shuffle), then adds the prior. ``score`` rounds to
    ``round_dp`` so downstream hashing is fp-stable cross-engine (see
    module docstring determinism contract).
    """
    b = int(num_buckets)
    toks = _tokens(df, text_col, [id_col], b)
    scored = (
        toks.join(F.broadcast(model), "bucket")
        .groupBy(id_col, label_col)
        .agg(
            (F.sum("log_cond") + F.first("log_prior")).alias("_raw")
        )
        .select(
            id_col,
            F.col(label_col).alias("label"),
            F.round(F.col("_raw"), round_dp).alias("score"),
        )
    )
    return scored


def nb_predict(
    df: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "lang",
    num_buckets: int = 256,
) -> DataFrame:
    """Argmax label per document: ``(id_col, pred_label)``.

    Ranks on the ROUNDED score with the label as total-order
    tie-break, so near-ties (< 1e-4 apart — common when the classes
    share vocabulary) resolve identically on any engine.
    """
    scores = nb_score(df, model, text_col, id_col, label_col, num_buckets)
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score"), F.asc("label")
    )
    return (
        scores.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(id_col, F.col("label").alias("pred_label"))
    )


# --------------------------------------------------------------------------
# DSIR — Data Selection with Importance Resampling (Xie et al. 2023)
# --------------------------------------------------------------------------


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 256,
    smoothing: float = 1.0,
    round_dp: int = 4,
) -> DataFrame:
    """Per-document log importance weight of ``raw`` docs under a
    hashed-unigram LM of ``target`` vs ``raw``:

        w(doc) = sum_tokens [ ln p_target(bucket) - ln p_raw(bucket) ]

    with Laplace-``smoothing`` estimates over ``num_buckets`` hashed
    features — the DSIR recipe (hashed n-gram features; unigrams
    here, the generalization to n-grams is ``corpus.word_ngrams`` on
    the way in). Returns ``(id_col, weight)``, weight rounded.

    Both LMs are one (bucket)-keyed count aggregation with output
    cardinality ``num_buckets`` — broadcast, corpus never reshuffles.
    """
    b = int(num_buckets)
    a = float(smoothing)

    def _lm(df: DataFrame, out: str) -> DataFrame:
        t = _tokens(df, text_col, [], b)
        cnt = t.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
        # the token total rides the bucket aggregate (sum cnt ==
        # count of token rows exactly; coalesce keeps the empty-corpus
        # value at 0 like count() did) instead of an eager
        # ``t.count()`` — one fewer full tokenize pass PER LM, i.e.
        # two fewer corpus passes per dsir_weights call (optimization
        # r14, guide §2.3). cast-double + literal performs the same
        # IEEE add the Python-side literal did, so every bit matches.
        tot_df = cnt.agg(
            F.coalesce(F.sum("cnt"), F.lit(0)).alias("_tot")
        )
        spark = df.sparkSession
        dense = (
            spark.range(b)
            .select(F.col("id").cast("int").alias("bucket"))
            .join(F.broadcast(cnt), "bucket", "left")
            .crossJoin(F.broadcast(tot_df))
            .select(
                "bucket",
                F.log(
                    (F.coalesce(F.col("cnt"), F.lit(0)) + a)
                    / (F.col("_tot").cast("double") + F.lit(a * b))
                ).alias(out),
            )
        )
        return dense

    lm_t = _lm(target, "lp_t")
    lm_r = _lm(raw, "lp_r")
    model = lm_t.join(lm_r, "bucket")

    toks = _tokens(raw, text_col, [id_col], b)
    return (
        toks.join(F.broadcast(model), "bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("lp_t") - F.col("lp_r")).alias("_raw"))
        .select(id_col, F.round("_raw", round_dp).alias("weight"))
    )


def dsir_resample(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 256,
    smoothing: float = 1.0,
    gumbel: bool = True,
    seed_buckets: int = 1_000_003,
) -> DataFrame:
    """Select ``k`` docs from ``raw`` by importance weight:
    ``(id_col, weight)`` for the selected set.

    ``gumbel=True`` (default) is the paper's sampling-without-
    replacement trick: add a Gumbel(0,1) perturbation to each log
    weight and take the top-k. The uniform driving each Gumbel is
    DETERMINISTIC — ``(md5_bucket(id) + 0.5) / seed_buckets`` — so
    the draw is reproducible across engines and retries (a cluster
    re-run selects the same documents; no ``rand()`` in the path).
    ``gumbel=False`` is plain top-k by weight.

    Ranking orders on the rounded perturbed score with ``id_col`` as
    final tie-break; top-k is a TopK sort (no global sort of the
    corpus — Spark plans ``limit`` over rank as partial top-k per
    partition, then a single reduced exchange).
    """
    w = dsir_weights(
        raw, target, text_col, id_col, num_buckets, smoothing
    )
    if gumbel:
        u = (
            md5_bucket(F.col(id_col).cast("string"), seed_buckets).cast(
                "double"
            )
            + 0.5
        ) / float(seed_buckets)
        score = F.round(
            F.col("weight") - F.log(-F.log(u)), 4
        ).alias("_s")
    else:
        score = F.col("weight").alias("_s")
    return (
        w.select(id_col, "weight", score)
        .orderBy(F.desc("_s"), F.asc(id_col))
        .limit(int(k))
        .select(id_col, "weight")
    )


# --------------------------------------------------------------------------
# CCNet-style bigram-LM perplexity filter
# --------------------------------------------------------------------------


def _bucket_array(text_col: Column, num_buckets: int) -> Column:
    """Per-document array of hash buckets: md5_bucket mapped over the
    normalized word array — ONE md5 per token, map-side. Materialize
    this in its own projection before consuming it more than once
    (the Catalyst no-CSE-in-HOF-lambdas rule)."""
    return F.transform(words(text_col), lambda w: md5_bucket(w, num_buckets))


def _bigram_pairs(bs: Column) -> Column:
    """Adjacent (b1, b2) struct pairs from a bucket array, map-side:
    ``zip_with(bs[:-1], bs[1:], struct)``. This replaces the former
    (doc, pos) self-join of the exploded token table — which Catalyst
    auto-planned as a BroadcastHashJoin on a post-explode size
    UNDERESTIMATE and killed the driver at sf10 building a
    corpus-sized broadcast ("not enough memory to build and broadcast
    the table"). Pairing adjacent positions of one row's array needs
    no join at all: zero shuffle, zero broadcast, same pairs.
    """
    n = F.greatest(F.size(bs) - 1, F.lit(0))
    return F.zip_with(
        F.slice(bs, 1, n),
        F.slice(bs, 2, n),
        lambda x, y: F.struct(x.alias("b1"), y.alias("b2")),
    )


def lm_train_bigram(
    df: DataFrame,
    text_col: str = "text",
    num_buckets: int = 256,
    smoothing: float = 1.0,
) -> tuple[DataFrame, DataFrame]:
    """Train an interpolation-ready hashed bigram LM on a reference
    corpus. Returns ``(unigram, bigram)`` frames:

    * unigram: ``(bucket, lp_uni)`` — dense, ``num_buckets`` rows;
    * bigram:  ``(b1, b2, lp_big)`` — SPARSE (observed pairs only;
      the smoothing floor for unseen pairs is reconstructed at score
      time from the unigram context count, so the model stays
      ``O(observed bigrams) <= num_buckets^2`` rows, broadcastable
      for the default 256 buckets).

    The bigram estimate is add-``smoothing`` over the bucket
    alphabet: ``p(b2|b1) = (c(b1,b2)+a) / (c1(b1)+a*B)`` where
    ``c1`` counts b1 as a bigram CONTEXT (tokens - 1 per doc).

    Scale shape (r8): tokens and adjacent pairs both come straight
    off the per-document bucket array (:func:`_bucket_array` /
    :func:`_bigram_pairs`) — map-only until the two count
    aggregations, whose shuffles carry at most ``B`` and ``B²`` rows.
    No doc key, no positional self-join (see _bigram_pairs for the
    sf10 post-explode auto-broadcast failure that shape caused).
    """
    b = int(num_buckets)
    a = float(smoothing)
    spark = df.sparkSession

    bks = df.select(_bucket_array(F.col(text_col), b).alias("_bs"))
    # explode_outer plus a null filter, not explode: for explode the
    # optimizer infers ``size(_bs) > 0 AND isnotnull(_bs)`` and pushes
    # it below the projection, where each conjunct builds the bucket
    # array again (three per document; lm_perplexity 3.66 -> 3.10 s
    # isolated at sf0.1, BENCH_ISOLATED_lm_unigram.json)
    toks = bks.select(F.explode_outer("_bs").alias("bucket")).filter(
        F.col("bucket").isNotNull()
    )

    from pyspark.sql import Window

    uni_cnt = toks.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    # the token total rides the bucket aggregate (Σ cnt == count of
    # exploded tokens, exactly) instead of a separate eager
    # ``toks.count()`` action (optimization r14, guide §2.3), and it
    # is computed as an UNBOUNDED WINDOW over the dense ≤ B-row bucket
    # table rather than a second aggregate branch over ``uni_cnt``
    # (r15, VERDICT r14 item 8): the two-branch form relied on runtime
    # exchange reuse to keep the corpus at one scan, and the reuse
    # does NOT fire across the two broadcast-stage boundaries — the
    # corpus was tokenized twice (caught by
    # tests/test_round15_plans.py). The window runs on ≤ num_buckets
    # rows, so the single-partition frame is bounded model state, and
    # Σ coalesce(cnt, 0) over the dense table is the identical exact
    # long total. ``cast("double") + a*b`` performs the same IEEE add
    # the former Python-side ``float(tot) + a*b`` literal did, so
    # every lp_uni bit matches.
    unigram = (
        spark.range(b)
        .select(F.col("id").cast("int").alias("bucket"))
        .join(F.broadcast(uni_cnt), "bucket", "left")
        .withColumn(
            "_tot",
            F.sum(F.coalesce(F.col("cnt"), F.lit(0))).over(
                Window.partitionBy()
            ),
        )
        .select(
            "bucket",
            F.log(
                (F.coalesce(F.col("cnt"), F.lit(0)) + a)
                / (F.col("_tot").cast("double") + F.lit(a * b))
            ).alias("lp_uni"),
        )
    )

    pairs = bks.select(
        F.explode(_bigram_pairs(F.col("_bs"))).alias("_p")
    ).select(F.col("_p.b1").alias("b1"), F.col("_p.b2").alias("b2"))
    # context counts ride the (b1, b2) pair counts — c1(b1) =
    # Σ_b2 c12(b1, b2) exactly — instead of a second corpus-sized
    # explode+aggregate keyed differently (optimization r14, guide
    # §2.3), and as a PER-b1 WINDOW over the ≤ B²-row count table
    # rather than a re-agg + join-back (r15, VERDICT r14 item 8: the
    # join-back form depended on runtime exchange reuse that does not
    # fire across the broadcast boundary — the corpus paid a second
    # tokenize+pair pass). One corpus scan per branch by plan
    # construction, pinned in tests/test_round15_plans.py.
    c12_cnt = pairs.groupBy("b1", "b2").agg(
        F.count(F.lit(1)).alias("c12")
    )
    bigram = (
        c12_cnt.withColumn(
            "c1", F.sum("c12").over(Window.partitionBy("b1"))
        )
        .select(
            "b1",
            "b2",
            F.log((F.col("c12") + a) / (F.col("c1") + a * b)).alias(
                "lp_big"
            ),
            "c1",
        )
    )
    return unigram, bigram


def lm_perplexity(
    df: DataFrame,
    unigram: DataFrame,
    bigram: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 256,
    smoothing: float = 1.0,
    lam: float = 0.7,
    round_dp: int = 4,
) -> DataFrame:
    """Per-document interpolated-bigram log-perplexity:
    ``(id_col, n_scored, logppl)`` where

        p(w_i|w_{i-1}) = lam * p_bigram + (1-lam) * p_unigram
        logppl = -avg_i ln p(w_i|w_{i-1})

    over positions i >= 1 (docs with < 2 tokens score NULL and are
    kept with ``n_scored = 0``). Unseen bigrams fall back to the
    smoothing floor ``a / (c1 + a*B)`` (or ``a / (a*B)`` for an
    unseen CONTEXT) — reconstructed from the broadcast context-count
    table, so the sparse bigram model stays small.

    This is the CCNet quality gate: low perplexity ≈ looks like the
    reference corpus. Filter with e.g.
    ``result.filter("logppl < threshold")`` or band into
    head/middle/tail by percentile (`corpus.trim_by_percentile`).
    """
    b = int(num_buckets)
    a = float(smoothing)

    # map-side adjacent pairs off the bucket array — no positional
    # self-join (see _bigram_pairs: the join shape auto-broadcast a
    # corpus-sized side at sf10 and OOM'd the driver)
    bks = df.select(
        F.col(id_col), _bucket_array(F.col(text_col), b).alias("_bs")
    )
    steps = bks.select(
        id_col, F.explode(_bigram_pairs(F.col("_bs"))).alias("_p")
    ).select(
        id_col,
        F.col("_p.b1").alias("b1"),
        F.col("_p.b2").alias("b2"),
    )

    ctx = bigram.select("b1", "c1").distinct()
    scored = (
        steps.join(F.broadcast(bigram.select("b1", "b2", "lp_big")),
                   ["b1", "b2"], "left")
        .join(F.broadcast(ctx), "b1", "left")
        .join(
            F.broadcast(unigram.withColumnRenamed("bucket", "b2")),
            "b2",
        )
        .withColumn(
            "_lp_big_eff",
            F.coalesce(
                F.col("lp_big"),
                F.log(
                    F.lit(a)
                    / (F.coalesce(F.col("c1"), F.lit(0)) + a * b)
                ),
            ),
        )
        .withColumn(
            "_lp",
            F.log(
                lam * F.exp(F.col("_lp_big_eff"))
                + (1.0 - lam) * F.exp(F.col("lp_uni"))
            ),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.round(-F.avg("_lp"), round_dp).alias("logppl"),
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_scored", F.lit(0)).cast("long").alias("n_scored"),
            "logppl",
        )
    )


def isotonic_calibrate(
    df: DataFrame,
    score_col: str,
    label_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Isotonic-regression calibration (pool-adjacent-violators) of a
    score against a binary label: ``(score, n, rate, calibrated)``
    per DISTINCT score, where ``calibrated`` is the monotone
    non-decreasing fit minimizing weighted squared error — the
    standard step after training any quality/relevance classifier
    (nb_score, lm_perplexity bands): raw scores rank documents but
    lie about probabilities; the isotonic fit is the
    distribution-free recalibration (Zadrozny & Elkan, KDD 2002).

    Scale shape: the CORPUS-sized work is one hash aggregation to
    the distinct-score table (n, positives per score) — calibration
    tables are score-resolution-sized (bin scores upstream if they
    are raw floats). The sequential PAV pass then runs in ONE
    ``applyInPandas`` group over that bounded table (the k-means /
    BPE model-state contract: model fitting is allowed to be
    sequential once the data is aggregate-sized). The fit satisfies
    the exact minimax characterization
    ``fit_i = max_{j<=i} min_{k>=i} wmean(rate, j..k)`` — which is
    what the DuckDB oracle evaluates directly.
    """
    import pandas as pd

    agg = (
        df.filter(F.col(score_col).isNotNull())
        .groupBy(F.col(score_col).alias("score"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(label_col).cast("double")).alias("_pos"),
        )
        .withColumn("_one", F.lit(1))
    )

    def _pav(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("score").reset_index(drop=True)
        # blocks of (weight, weighted-sum) pooled until monotone
        blocks: list[list[float]] = []  # [w, s, count_rows]
        for w, s in zip(pdf["n"], pdf["_pos"]):
            blocks.append([float(w), float(s), 1])
            while len(blocks) > 1 and (
                blocks[-2][1] / blocks[-2][0]
                > blocks[-1][1] / blocks[-1][0]
            ):
                b = blocks.pop()
                blocks[-1][0] += b[0]
                blocks[-1][1] += b[1]
                blocks[-1][2] += b[2]
        fit = []
        for w, s, c in blocks:
            fit.extend([s / w] * c)
        out = pdf[["score", "n"]].copy()
        out["rate"] = (pdf["_pos"] / pdf["n"]).round(round_dp)
        out["calibrated"] = pd.Series(fit).round(round_dp)
        return out

    return agg.groupBy("_one").applyInPandas(
        _pav, schema="score double, n long, rate double, calibrated double"
    )


def target_encode(
    df: DataFrame,
    category_col: str,
    label_col: str,
    key_col: str,
    n_folds: int = 5,
    smoothing: float = 20.0,
    out_col: str = "target_enc",
    round_dp: int = 6,
) -> DataFrame:
    """Leakage-safe K-fold target (mean) encoding — the standard
    categorical feature for tabular models (Micci-Barreca, SIGKDD
    Explorations 2001): each row's category is replaced by the mean
    label of OTHER folds' rows in that category, shrunk toward the
    out-of-fold global mean by ``smoothing`` pseudo-observations::

        enc = (oof_cat_sum + prior * smoothing)
              / (oof_cat_count + smoothing)

    where ``prior`` is the global mean excluding the row's own fold —
    so a row's own label NEVER reaches its feature, not even through
    the prior (the leak that silently inflates offline metrics).

    Folds are ``md5(key) % n_folds`` (engine-portable, deterministic
    under any partitioning — the same discipline as
    ``corpus.sample_by_hash``). Scale shape: ONE aggregation to the
    |categories × folds| grid, a tiny per-category/per-fold/global
    roll-up joined back BROADCAST, then one map-side join on
    (category, fold) — the fact shuffles once for the grid agg and
    never again. A category seen only inside a row's own fold gets
    pure prior (smoothing > 0 keeps the denominator alive).

    For cross-engine exactness pass an INTEGER-valued label (sums
    stay exact; the final division is one double op both engines
    evaluate identically).

    NULL handling (explicit, not accidental): a NULL category is its
    own category — the join-back is null-safe, so NULL-category rows
    get the NULL-group's out-of-fold encoding instead of silently
    vanishing. NULL labels are EXCLUDED from both the counts and the
    sums (``F.count(label)`` skips nulls exactly like ``F.sum``), so
    they contribute nothing to any encoding but the rows themselves
    still come out the other side with their category's statistic.
    """
    if n_folds < 2:
        raise ValueError("n_folds must be >= 2")
    if smoothing <= 0:
        raise ValueError("smoothing must be > 0 (guards empty folds)")
    fold = md5_bucket(F.col(key_col).cast("string"), n_folds)
    rows = df.withColumn("_fold", fold)
    grid = rows.groupBy(
        F.col(category_col).alias("_cat"), F.col("_fold")
    ).agg(
        # coalesce: a cell whose labels are ALL NULL sums to NULL,
        # which would poison every ``_cs - _s`` downstream — it
        # contributes 0, not NULL
        F.coalesce(F.sum(F.col(label_col)), F.lit(0)).alias("_s"),
        # count NON-NULL labels only, the same rows F.sum covers — a
        # count(*) here would bias encodings toward 0 under nullable
        # labels (counted in the denominator, absent from the sum)
        F.count(F.col(label_col)).alias("_c"),
    )
    cat_tot = grid.groupBy("_cat").agg(
        F.sum("_s").alias("_cs"), F.sum("_c").alias("_cc")
    )
    fold_tot = grid.groupBy("_fold").agg(
        F.sum("_s").alias("_fs"), F.sum("_c").alias("_fc")
    )
    glob = grid.agg(
        F.sum("_s").alias("_gs"), F.sum("_c").alias("_gc")
    )
    # null-safe: the NULL category's grid rows must reach their own
    # per-category totals, not fall out of an equality join
    cat_tot = cat_tot.withColumnRenamed("_cat", "_tcat")
    enc_grid = (
        grid.join(
            F.broadcast(cat_tot),
            F.col("_cat").eqNullSafe(F.col("_tcat")),
        )
        .drop("_tcat")
        .join(F.broadcast(fold_tot), "_fold")
        .crossJoin(F.broadcast(glob))
        .select(
            "_cat",
            "_fold",
            F.round(
                (
                    (F.col("_cs") - F.col("_s"))
                    + F.when(
                        F.col("_gc") > F.col("_fc"),
                        (F.col("_gs") - F.col("_fs"))
                        / (F.col("_gc") - F.col("_fc")),
                    )
                    # degenerate single-populated-fold input: fall
                    # back to the full global mean rather than 0/0
                    .otherwise(F.col("_gs") / F.col("_gc"))
                    * smoothing
                )
                / ((F.col("_cc") - F.col("_c")) + smoothing),
                round_dp,
            ).alias(out_col),
        )
    )
    enc = enc_grid.withColumnRenamed("_fold", "_efold").withColumnRenamed(
        "_cat", "_ecat"
    )
    return rows.join(
        F.broadcast(enc),
        (rows["_fold"] == enc["_efold"])
        # null-safe: NULL categories match their own grid row instead
        # of dropping out of the inner join
        & rows[category_col].eqNullSafe(enc["_ecat"]),
    ).select(*df.columns, rows["_fold"], out_col)


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    round_dp: int = 6,
) -> DataFrame:
    """Reliability diagram + expected-calibration-error terms (Guo et
    al., ICML 2017 formulation of ECE over equal-width confidence
    bins) — the calibration check for any quality/relevance
    classifier this package trains or imports (:func:`isotonic_
    calibrate` is the FIX for miscalibration; this is the MEASURE).

    Scores in [0, 1] bin by ``least(floor(s·B), B−1)`` (so s = 1.0
    lands in the last bin, the standard convention); per bin:
    ``(bin, n, conf, rate, gap, weighted_gap)`` where conf is the
    mean score, rate the empirical positive rate, gap ``|rate −
    conf|`` and weighted_gap ``n/N · gap`` — ECE is the sum of the
    weighted_gap column (left to the caller/SQL so the per-bin frame
    stays the oracle surface). NULL scores or labels are excluded
    pairwise; empty bins are absent (they contribute 0 to ECE).

    Scale shape: ONE hash aggregation to ≤ B rows (map-side
    combined), then the total for the weights comes from a window
    over those ≤ B aggregate rows — the fact is scanned ONCE (an
    agg-then-join formulation would scan it twice), and nothing but
    bin partials shuffles.
    """
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    binned = (
        df.filter(s.isNotNull() & y.isNotNull())
        .select(
            # clamp BOTH ends: score==1.0 lands in the last bin (the
            # standard convention) and an out-of-domain score < 0 lands
            # in bin 0 instead of a silent negative bin that skews ECE
            # (ADVICE r6); documented domain is [0, 1]
            F.greatest(
                F.lit(0),
                F.least(
                    F.floor(s * n_bins).cast("int"), F.lit(n_bins - 1)
                ),
            ).alias("bin"),
            s.alias("_s"),
            y.alias("_y"),
        )
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_s").alias("_ss"),
        F.sum("_y").alias("_sy"),
    )
    # total over the ≤B aggregate rows — an unpartitioned window is a
    # single task over B rows, bounded by construction; the
    # alternative (per_bin.agg + crossJoin) re-scans the FACT for the
    # second aggregation tree
    total_w = Window.partitionBy()
    conf = F.col("_ss") / F.col("n")
    rate = F.col("_sy") / F.col("n")
    gap = F.abs(rate - conf)
    return per_bin.select(
        "bin",
        "n",
        F.round(conf, round_dp).alias("conf"),
        F.round(rate, round_dp).alias("rate"),
        F.round(gap, round_dp).alias("gap"),
        F.round(
            (F.col("n") / F.sum("n").over(total_w)) * gap, round_dp
        ).alias("weighted_gap"),
    )


def _equal_width_bins(df, feature_col, label_col, n_bins):
    """Shared binning stage of woe_iv / best_split_stump: NULL-filter,
    broadcast min/max bounds, equal-width bin id with both ends
    clamped and the constant-feature single-bin degenerate case."""
    x = F.col(feature_col).cast("double")
    y = F.col(label_col).cast("int")
    base = df.filter(x.isNotNull() & y.isNotNull())
    bounds = base.agg(F.min(x).alias("_mn"), F.max(x).alias("_mx"))
    width = (F.col("_mx") - F.col("_mn")) / float(n_bins)
    return base.crossJoin(F.broadcast(bounds)).select(
        F.when(F.col("_mx") == F.col("_mn"), F.lit(0))
        .otherwise(
            F.greatest(
                F.lit(0),
                F.least(
                    F.floor((x - F.col("_mn")) / width).cast("int"),
                    F.lit(n_bins - 1),
                ),
            )
        )
        .alias("bin"),
        y.alias("_y"),
    )


def woe_iv(
    df: DataFrame,
    feature_col: str,
    label_col: str,
    n_bins: int = 10,
    smoothing: float = 0.5,
    round_dp: int = 6,
) -> DataFrame:
    """Weight-of-evidence binning + information value (the
    credit-scoring / feature-screening standard, Siddiqi 2006): bin a
    numeric feature into ``n_bins`` equal-width bins and score how
    well it separates a binary label — per bin ``(bin, n, n_pos,
    n_neg, woe, iv_contrib, iv)`` with

        woe_b = ln( (pos_b + s)/(pos + s·B)  /  (neg_b + s)/(neg + s·B) )
        IV    = Σ_b (p_pos_b − p_neg_b) · woe_b      (un-smoothed p's)

    where ``s`` is the Laplace ``smoothing`` that keeps an empty-side
    bin finite (the standard dodge; set 0 to reproduce the textbook
    form on well-populated bins). The conventional read: IV < 0.02
    useless, 0.1–0.3 medium, > 0.5 suspicious (leakage). ``iv`` is
    the table-level total repeated on every row so the frame is
    self-contained. NULL features/labels excluded; equal-width bin
    edges come from the observed min/max (the js_divergence
    convention — a 1-row broadcast, not a sampled sketch), max value
    clamped into the last bin.

    Scale shape: bounds reduce the fact to ONE broadcast row; binning
    + conditional counts are a single map-side-combined hash agg to
    ``n_bins`` rows; everything after (totals window, woe, IV) runs
    on that tiny table.
    """
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    if smoothing < 0:
        raise ValueError(f"smoothing must be >= 0, got {smoothing}")
    binned = _equal_width_bins(df, feature_col, label_col, n_bins)
    g = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_y").alias("n_pos"),
        F.sum(1 - F.col("_y")).alias("n_neg"),
    )
    w = Window.partitionBy()
    pos_t = F.sum("n_pos").over(w).cast("double")
    neg_t = F.sum("n_neg").over(w).cast("double")
    nb = F.count(F.lit(1)).over(w).cast("double")
    s = float(smoothing)
    # single-class label (pos_t or neg_t == 0): WOE/IV are undefined
    # for the TABLE (smoothing only rescues empty BINS) — emit NULL
    # instead of the ANSI DIVIDE_BY_ZERO crash the raw ratios cause
    defined = (pos_t > 0) & (neg_t > 0)
    woe = F.when(
        defined,
        F.log(
            ((F.col("n_pos") + s) / (pos_t + s * nb))
            / ((F.col("n_neg") + s) / (neg_t + s * nb))
        ),
    )
    contrib = F.when(
        defined,
        (F.col("n_pos") / pos_t - F.col("n_neg") / neg_t) * woe,
    )
    scored = g.select(
        "bin",
        "n",
        "n_pos",
        "n_neg",
        F.round(woe, round_dp).alias("woe"),
        F.round(contrib, round_dp).alias("iv_contrib"),
        F.round(F.sum(contrib).over(w), round_dp).alias("iv"),
    )
    return scored


def lift_table(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
    n_buckets: int = 10,
    round_dp: int = 6,
) -> DataFrame:
    """Decile lift / gains table (the campaign-targeting and
    model-triage standard): rank rows by score descending (ties
    broken by ``id_col`` — a total order, the ewma contract), cut
    into ``n_buckets`` equal-count buckets, and per bucket report
    ``(bucket, n, n_pos, response_rate, lift, cum_capture,
    cum_lift)`` where

        lift        = bucket response rate / overall rate
        cum_capture = fraction of ALL positives found so far
                      (the gains curve; random targeting = bucket
                      quantile, a perfect model front-loads it)

    — the business-facing readout next to :func:`group_auc`'s
    threshold-free statistic and :func:`calibration_bins`' ECE: "mail
    the top 2 deciles, capture 55 % of responders". Bucket cut uses
    ``floor((rank−1)·k/n)`` (exact integer arithmetic — never ntile,
    whose tie placement is engine-defined). NULL scores/labels
    excluded.

    Scale shape: the exact global rank runs on the DISTRIBUTED
    zipWithIndex path (corpus.assign_global_index, a distributed
    running count) —
    ranking by the NEGATED score keeps ascending range partitioning
    while scoring descending. No single-partition stage anywhere:
    the sf10 ladder measured the naive global-window form at 37× the
    sf0.1 time (one core sorting everything); this form re-scales
    like any range shuffle. The cumulative columns still window over
    the k-row bucket table only.
    """
    from gbif_filter_python_spark.operators.corpus import (
        assign_global_index,
    )

    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("int")
    base = df.filter(s.isNotNull() & y.isNotNull())
    ranked = assign_global_index(
        base.select(y.alias("_y"), (-s).alias("_negs"), F.col(id_col).alias("_id")),
        ["_negs", "_id"],
        index_col="_gi",
    ).select("_y", (F.col("_gi") + 1).alias("_rn"))
    tot = ranked.agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_y").alias("_p")
    )
    b = ranked.crossJoin(F.broadcast(tot)).select(
        F.floor(
            (F.col("_rn") - 1) * n_buckets / F.col("_n")
        ).cast("int").alias("bucket"),
        "_y",
        "_n",
        "_p",
    )
    g = b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_y").alias("n_pos"),
        F.first("_n").alias("_n"),
        F.first("_p").alias("_p"),
    )
    cw = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    rate = F.col("n_pos") / F.col("n").cast("double")
    overall = F.col("_p") / F.col("_n").cast("double")
    cum_pos = F.sum("n_pos").over(cw)
    cum_n = F.sum("n").over(cw)
    # zero positives anywhere: lift/capture are undefined (0/0) —
    # NULL, not an ANSI DIVIDE_BY_ZERO crash; exactly the no-responder
    # cohort a lift table gets consulted on
    has_pos = F.col("_p") > 0
    return g.select(
        "bucket",
        "n",
        "n_pos",
        F.round(rate, round_dp).alias("response_rate"),
        F.round(F.when(has_pos, rate / overall), round_dp).alias(
            "lift"
        ),
        F.round(F.when(has_pos, cum_pos / F.col("_p")), round_dp).alias(
            "cum_capture"
        ),
        F.round(
            F.when(has_pos, (cum_pos / cum_n.cast("double")) / overall),
            round_dp,
        ).alias("cum_lift"),
    )


def best_split_stump(
    df: DataFrame,
    feature_col: str,
    label_col: str,
    n_bins: int = 32,
    round_dp: int = 6,
) -> DataFrame:
    """One-level decision-stump split scan (the CART/C4.5 inner loop,
    run standalone as a feature-screening gate beside :func:`woe_iv`
    — IV measures monotone separation, information gain finds the
    single best THRESHOLD): bin the feature equal-width, then score
    every bin boundary ``b`` ("left" = bins < b) by entropy
    information gain

        IG(b) = H(parent) − (n_L/n)·H(left) − (n_R/n)·H(right)

    (natural-log entropy; one-sided boundaries — empty left or right
    — are skipped, not scored 0). One row per valid boundary
    ``(split_bin, n_left, n_right, pos_left, pos_right, ig,
    is_best)`` with ``is_best`` marking the argmax (ties → lowest
    boundary, deterministic). The binned scan is the standard
    histogram approximation (what LightGBM does); exact-threshold
    scans sort the fact, this never does.

    Scale shape: one broadcast bounds row + ONE map-side-combined
    hash aggregation to ≤ n_bins rows; cumulative left/right counts,
    entropies and the argmax all run on that tiny table as windows.
    NULL features/labels excluded.
    """
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    binned = _equal_width_bins(df, feature_col, label_col, n_bins)
    g = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_y").alias("_p")
    )
    cw = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tw = Window.partitionBy()
    cum = g.select(
        "bin",
        F.sum("_n").over(cw).alias("_nl"),
        F.sum("_p").over(cw).alias("_pl"),
        F.sum("_n").over(tw).alias("_nt"),
        F.sum("_p").over(tw).alias("_pt"),
    )

    def ent(p: F.Column, n: F.Column) -> F.Column:
        q = p / n.cast("double")
        term = (
            F.when((q > 0) & (q < 1), -q * F.log(q)).otherwise(0.0)
            + F.when(
                (q > 0) & (q < 1), -(1 - q) * F.log(1 - q)
            ).otherwise(0.0)
        )
        return term

    nl, pl = F.col("_nl"), F.col("_pl")
    nr = F.col("_nt") - nl
    pr = F.col("_pt") - pl
    parent = ent(F.col("_pt"), F.col("_nt"))
    ig = (
        parent
        - (nl / F.col("_nt").cast("double")) * ent(pl, nl)
        - (nr / F.col("_nt").cast("double")) * ent(pr, nr)
    )
    # boundary after `bin`: left = bins <= bin — valid only when both
    # sides are non-empty (the last bin's boundary has empty right)
    scored = cum.filter(nr > 0).select(
        (F.col("bin") + 1).alias("split_bin"),
        nl.alias("n_left"),
        nr.alias("n_right"),
        pl.alias("pos_left"),
        pr.alias("pos_right"),
        F.round(ig, round_dp).alias("ig"),
    )
    bw = Window.partitionBy()
    return scored.withColumn(
        "is_best",
        (
            F.col("ig") == F.max("ig").over(bw)
        )
        & (
            F.col("split_bin")
            == F.min(
                F.when(
                    F.col("ig") == F.max("ig").over(bw),
                    F.col("split_bin"),
                )
            ).over(bw)
        ),
    )

"""Training-corpus preparation operators.

Beyond-reference block (SURVEY.md §2 final row, §7.1 step 7): the
operations a large-scale LLM training-data pipeline runs between "raw
documents" and "tokenized shards" — deterministic splits, PII
scrubbing, TF-IDF term scoring, train/test contamination checks, and
sequence packing. Everything here is pure DataFrame/Column expression
code (JVM-side, whole-stage codegen, no Python UDFs), so each operator
holds up on a 100 TB documents table:

* splits hash a key column — no shuffle at all, a map-only stage;
* TF-IDF and contamination explode to (doc, term) rows and aggregate —
  map-side partial aggregation, shuffle carries counts, not text;
* packing is one window over a chosen ordering — a single range
  shuffle, O(1) state per row.

All public ops emit scalar columns only (no arrays in outputs), so the
driver's order-insensitive hash check can canonicalize them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gbif_filter_python_spark.functions.text import (
    md5_bucket,
    normalized_text,
    token_count,
    words,
)
from gbif_filter_python_spark.operators.prefix import prefix_sums

__all__ = [
    "deterministic_split",
    "tfidf_top_terms",
    "word_ngrams",
    "contamination_report",
    "pack_sequences",
    "sample_by_hash",
    "stratified_sample",
    "flatten_domains",
    "trim_by_percentile",
    "prepare_training_corpus",
    "remove_boilerplate_lines",
    "shuffle_corpus",
    "char_entropy",
    "assign_global_index",
]


def prepare_training_corpus(
    docs: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    quality_floor: float = 0.3,
    trim_lo: float = 0.02,
    trim_hi: float = 0.98,
    test_pct: int = 5,
    val_pct: int = 5,
    pack_budget: int = 2048,
    pack_shards: int = 256,
) -> DataFrame:
    """The end-to-end corpus-prep chain, one declarative plan:

    scrub PII → exact dedup (first doc per normalized-content hash
    wins, deterministically) → quality floor → length-band trim →
    split → pack. Returns the input columns plus ``quality``,
    ``n_tokens``, ``split``, ``pack_id`` — ready for
    :func:`~gbif_filter_python_spark.sources.io.write_training_shards`.

    Plan economics (measured warm at sf0.1: 10.0 s → 3.6 s): ALL the
    regex-heavy derivations (scrub, quality, token count, content
    hash) live in ONE projection feeding the dedup exchange, so
    per-operator codegen subexpression elimination computes the scrub
    chain once per row, and the exchange is the single materialization
    point both downstream passes (percentile bounds + main) REUSE —
    the earlier formulation scanned the corpus and re-ran every regex
    twice (bounds pass + main pass) and re-inlined the quality
    expression into a pushed-down filter. Dedup-before-gate also
    means each duplicate group pays quality scoring once at 100 TB.
    No stage collects to the driver.
    """
    from gbif_filter_python_spark.functions.text import (
        quality_score,
        scrub_pii,
    )

    # One projection: scrubbed text + every derived column. (Catalyst
    # collapses the two selects into one Project whose repeated scrub
    # subtrees codegen's per-operator subexpression elimination
    # computes once per row.) md5 (not xxhash64) keeps the pipeline
    # oracle-checkable cross-engine; swap for 8-byte keys at scale.
    passthrough = [c for c in docs.columns if c != text_col]
    base = docs.select(
        *passthrough,
        scrub_pii(F.col(text_col)).alias(text_col),
    ).select(
        *passthrough,
        text_col,
        quality_score(F.col(text_col)).alias("quality"),
        token_count(F.col(text_col)).alias("n_tokens"),
        F.md5(normalized_text(F.col(text_col))).alias("_h"),
    )

    w = Window.partitionBy("_h").orderBy(F.col(doc_id_col))
    deduped = (
        base.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_h")
    )

    gated = deduped.filter(F.col("quality") >= quality_floor)
    trimmed = trim_by_percentile(gated, "n_tokens", trim_lo, trim_hi)

    split = deterministic_split(
        trimmed, doc_id_col, test_pct=test_pct, val_pct=val_pct
    )
    # Pack WITHIN each (split, shard): a test doc must never share a
    # pack with a train doc, and the running-offset cumsum must never
    # serialize into |splits| tasks, which a split-only window does at
    # any cluster size. Same shard-local rule and pack-id encoding as
    # pack_sequences(shards=...). The sf10 ladder's corpus_prep ratio
    # (42.0× and 36.2× at 100× data with these 256-shard windows) is
    # not this window's: the regex projection above takes 99% of the
    # sf10 executor time (scrub_pii's EMAIL_RE and quality_score over
    # the longer words that tools/scale_data.py writes).
    pw = (
        Window.partitionBy("split", "_shard")
        .orderBy(doc_id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        split.withColumn("_shard", F.col(doc_id_col) % pack_shards)
        .withColumn(
            "pack_id",
            F.col("_shard") * PACK_SHARD_STRIDE
            + (
                (F.sum("n_tokens").over(pw) - F.col("n_tokens"))
                / pack_budget
            ).cast("long"),
        )
        .drop("_shard")
    )


def deterministic_split(
    df: DataFrame,
    key_col: str,
    test_pct: int = 10,
    val_pct: int = 10,
    split_col: str = "split",
) -> DataFrame:
    """Assign each row to train/val/test by hashing ``key_col``.

    Map-only (no shuffle): the hash is computed per row, so this
    costs one codegen'd projection even at 100 TB. Percentages are
    integer percent points of the 100-bucket hash space.
    """
    b = md5_bucket(F.col(key_col), 100)
    return df.withColumn(
        split_col,
        F.when(b < test_pct, F.lit("test"))
        .when(b < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train")),
    )


#: Hash-space width for sampling thresholds. Thresholds are INTEGER
#: bucket counts (never float fractions), so keep/drop decisions are
#: exact and reproducible across engines — no fp-compare drift.
SAMPLE_BUCKETS = 10_000


def sample_by_hash(
    df: DataFrame, key_col: str, fraction: float, seed_salt: str = ""
) -> DataFrame:
    """Deterministic ~``fraction`` sample by md5 of ``key_col``.

    Unlike ``df.sample()`` this is a pure function of the key: the
    same doc is kept in every run, on any cluster, under any
    partitioning — which is what makes ablation corpora and resumable
    pipelines reproducible. Map-only, no shuffle. ``seed_salt``
    decorrelates independent samples over the same keys.
    """
    threshold = int(fraction * SAMPLE_BUCKETS)
    key = F.concat(F.col(key_col).cast("string"), F.lit(seed_salt))
    return df.filter(md5_bucket(key, SAMPLE_BUCKETS) < threshold)


def stratified_sample(
    df: DataFrame, strata_col: str, key_col: str, rates: dict[str, float]
) -> DataFrame:
    """Per-stratum deterministic sampling (``sampleBy``, but stable).

    ``rates`` maps stratum value → fraction; missing strata keep
    everything. The per-row decision is hash(key) < rate-threshold
    with integer thresholds, so results are exactly reproducible and
    oracle-checkable. Map-only — the strata table never shuffles.
    """
    b = md5_bucket(F.col(key_col), SAMPLE_BUCKETS)
    threshold: Column = F.lit(SAMPLE_BUCKETS)
    for value, rate in rates.items():
        threshold = F.when(
            F.col(strata_col) == value, F.lit(int(rate * SAMPLE_BUCKETS))
        ).otherwise(threshold)
    return df.filter(b < threshold)


def flatten_domains(
    df: DataFrame, domain_col: str, key_col: str
) -> DataFrame:
    """Rebalance a skewed domain mix to ~equal per-domain share.

    The standard pretraining-mix move: downsample every domain to the
    smallest domain's size. Two tiny aggregations (per-domain counts;
    global min) joined back — AQE broadcasts both — then the same
    integer-threshold hash filter as :func:`sample_by_hash`. The
    per-domain rate is ``min_count / count`` computed with INTEGER
    division (``min * BUCKETS div count``), bit-identical across
    engines. The fact table itself never shuffles.
    """
    counts = df.groupBy(F.col(domain_col).alias("_dom")).agg(
        F.count("*").alias("_n")
    )
    min_n = counts.agg(F.min("_n").alias("_mn"))
    rates = counts.crossJoin(min_n).select(
        "_dom",
        F.expr(f"_mn * {SAMPLE_BUCKETS} DIV _n").alias("_thresh"),
    )
    joined = df.join(rates, df[domain_col] == rates["_dom"], "left")
    return joined.filter(
        md5_bucket(F.col(key_col), SAMPLE_BUCKETS) < F.col("_thresh")
    ).drop("_dom", "_thresh")


def mixture_sample(
    df: DataFrame,
    weights: dict[str, int],
    domain_col: str,
    key_col: str,
    token_col: Column | None = None,
    salt: str = "mixture",
) -> DataFrame:
    """Token-budget corpus mixing: downsample domains so the SAMPLED
    corpus's token mix approaches the target ``weights`` (integer
    parts, e.g. ``{"en": 5, "de": 2, "fr": 2, "es": 1}``) — the
    data-curation step that turns a raw crawl into a recipe mix.

    No upsampling: the achievable total is capped by the binding
    domain m = argmin(T_d / w_d); every domain keeps
    ``rate_d = w_d·T_m / (w_m·T_d)`` of its tokens (rate_m = 1).
    Domains absent from ``weights`` (or weighted 0) are dropped.

    Determinism contract: thresholds are computed with PURE INTEGER
    arithmetic — ``(BUCKETS·w_d·T_m) div (w_m·T_d)`` — and the argmin
    uses exact cross-multiplied comparison (``Fraction``), so the kept
    set is bit-identical across engines/runs (no float rounding
    anywhere; the SQL twin replays the same integer ops). Overflow
    bound: BUCKETS·w·T < 2^63 holds through ~10^12-token domains at
    weight ≤ 100.

    Scale shape: one aggregation for per-domain token totals (k rows
    to the driver — model-state scale, like k-means centroids), then
    the same map-only integer-threshold hash filter as
    :func:`sample_by_hash`; the corpus never shuffles. ``token_col``
    defaults to :func:`~gbif_filter_python_spark.functions.text.
    token_count` of ``text``.
    """
    from fractions import Fraction

    if any(int(w) != w or w < 0 for w in weights.values()):
        raise ValueError("weights must be non-negative integers")
    tok = token_col if token_col is not None else token_count(F.col("text"))
    totals = {
        r["_dom"]: int(r["_t"])
        for r in df.groupBy(F.col(domain_col).alias("_dom"))
        .agg(F.sum(tok).alias("_t"))
        .collect()
    }
    doms = sorted(
        d for d, w in weights.items() if w > 0 and totals.get(d, 0) > 0
    )
    if not doms:
        raise ValueError("no overlap between weights and present domains")
    m = min(doms, key=lambda d: (Fraction(totals[d], weights[d]), d))
    thresholds = {
        d: min(
            SAMPLE_BUCKETS,
            (SAMPLE_BUCKETS * weights[d] * totals[m])
            // (weights[m] * totals[d]),
        )
        for d in doms
    }
    th: Column = F.lit(None).cast("long")
    for d in doms:
        th = F.when(F.col(domain_col) == d, F.lit(thresholds[d])).otherwise(th)
    key = F.concat(F.col(key_col).cast("string"), F.lit(salt))
    return df.filter(md5_bucket(key, SAMPLE_BUCKETS) < th)


def trim_by_percentile(
    df: DataFrame, col: str, lo: float = 0.05, hi: float = 0.95
) -> DataFrame:
    """Keep rows whose ``col`` lies within the [lo, hi] percentile band.

    The standard outlier trim before corpus stats (drop the truncated
    stubs and the concatenation monsters). Both exact interpolated
    percentiles come from ONE :func:`~.profile._cdf_percentiles` pass
    (r15 optimization round — the old ``percentile()`` aggregate held
    EVERY value in a single buffer: a single-task sort at 100 TB),
    broadcast back as a 1-row bound table — no driver action, no
    second scan parameterized by a collected value. Bounds are rounded
    to 6dp so the band edge is reproducible across engines (the
    interpolation's last bits are not).
    """
    from gbif_filter_python_spark.operators.profile import (
        _cdf_percentiles,
    )

    bounds = _cdf_percentiles(
        df, col, [lo, hi], ["_lo", "_hi"], round_dp=6
    ).select("_lo", "_hi")
    return (
        df.join(F.broadcast(bounds), F.lit(True), "left")
        .filter(F.col(col).between(F.col("_lo"), F.col("_hi")))
        .drop("_lo", "_hi")
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document.

    Plan shape (scale path): explode words → two hash aggregations
    (term frequency per (doc, term); document frequency per term) →
    broadcast-size df table joined back → per-doc window top-k.
    The shuffles carry (doc_id, term, count) rows — never the text.
    ``score = tf * ln(N / df)`` rounded to 6dp for fp-stable hashing.
    """
    terms = docs.select(
        F.col(doc_id_col).alias("doc_id"),
        F.explode(words(F.col(text_col))).alias("term"),
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_counts = tf.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    # N as a 1-row aggregate crossJoined in — no driver-side .count()
    # during plan construction (no extra Spark job per pipeline build).
    n_docs = docs.select(F.col(doc_id_col)).distinct().agg(
        F.count("*").cast("double").alias("_n")
    )
    scored = tf.join(df_counts, "term").crossJoin(n_docs).select(
        "doc_id",
        "term",
        F.round(
            F.col("tf") * F.log(F.col("_n") / F.col("df")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tfidf", "rank")
    )


def ngrams_from_words(w: Column, n: int = 3) -> Column:
    """Array of word ``n``-grams from a word-array column.

    ``w`` should be a MATERIALIZED attribute (its own projection) when
    this feeds an explode: the expression references ``w`` n+2 times,
    and Catalyst does no common-subexpression elimination — an inlined
    words expression (two regexes + split) would re-evaluate once per
    reference per row (measured 17× slower on the contamination
    query at sf0.1: 46 s → 2.7 s staged).
    """
    # sequence(1, 0) would DESCEND ([1, 0]); guard short docs to empty.
    idx = F.when(
        F.size(w) >= n, F.sequence(F.lit(1), F.size(w) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(w, i + j) for j in range(n)]
        ),
    )


def word_ngrams(text_col: Column, n: int = 3) -> Column:
    """Single-expression convenience form of :func:`ngrams_from_words`.

    Fine for one-shot projections; hot paths must stage the word array
    first (see ``ngrams_from_words``).
    """
    return ngrams_from_words(words(text_col), n)


def ngram_novelty(
    docs: DataFrame,
    n: int = 3,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    round_dp: int = 6,
) -> DataFrame:
    """Per-document novelty against everything BEFORE it:
    ``(doc_id, n_grams, novel_frac)`` where ``n_grams`` is the
    document's distinct word-``n``-gram count and ``novel_frac`` the
    fraction of those grams whose corpus-wide FIRST occurrence
    (min doc_id) is this document. The streaming-ingest dedup signal:
    a crawl re-serving yesterday's pages scores ≈0, genuinely new
    text ≈1 — sits between exact dedup (whole-doc) and MinHash
    (pairwise) at a fraction of either's cost, and doubles as the
    ordered-corpus contamination probe. Docs with < n words report
    ``n_grams = 0`` and NULL novel_frac.

    Scale shape: the text is tokenized ONCE — staged word array
    (single evaluation, ``ngrams_from_words``' contract) → explode to
    DISTINCT (doc, md5-gram) pairs (one map-side-combined
    aggregation) → ``min(doc_id)`` as an unordered window over each
    gram partition (no per-gram table, no self-join re-scanning the
    corpus) → per-doc aggregation. Shuffles carry fixed-width
    (md5-gram, doc_id) rows only; no driver state.
    """
    from pyspark.sql import Window

    staged = docs.select(
        F.col(doc_id_col).alias("doc_id"),
        words(F.col(text_col)).alias("_w"),
    )
    pairs = (
        staged.select(
            "doc_id",
            F.explode(ngrams_from_words(F.col("_w"), n)).alias("_g"),
        )
        # md5 keeps the shuffle key fixed-width (grams are unbounded
        # strings) and is identical cross-engine for the oracle
        .select("doc_id", F.md5(F.col("_g")).alias("_g"))
        .distinct()
    )
    first = F.min("doc_id").over(Window.partitionBy("_g"))
    per_doc = (
        pairs.withColumn("_first", first)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.avg(
                (F.col("_first") == F.col("doc_id")).cast("double")
            ).alias("_nf"),
        )
    )
    spine = docs.select(F.col(doc_id_col).alias("doc_id"))
    return spine.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
        F.round(F.col("_nf"), round_dp).alias("novel_frac"),
    )


def _staged_ngrams(
    docs: DataFrame,
    doc_id_col: str,
    text_col: str,
    n: int,
    extra_cols: list[Column] | None = None,
) -> DataFrame:
    """(doc_id, [extra...], ngram) exploded rows via the two-projection
    shape: words materialized once, then explode(ngrams) referencing
    the word-array ATTRIBUTE (free) instead of the words expression
    (re-evaluated per reference)."""
    with_words = docs.select(
        F.col(doc_id_col).alias("doc_id"),
        *(extra_cols or []),
        words(F.col(text_col)).alias("_w"),
    )
    keep = [c for c in with_words.columns if c != "_w"]
    return with_words.select(
        *keep, F.explode(ngrams_from_words(F.col("_w"), n)).alias("ngram")
    )


def contamination_report(
    docs: DataFrame,
    n: int = 3,
    test_pct: int = 10,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train→test leakage: test docs sharing word ``n``-grams with train.

    Splits the corpus with :func:`deterministic_split`, explodes each
    side to distinct (doc, ngram) rows, and joins test ngrams against
    the distinct train ngram set. Returns one row per contaminated
    test doc: ``(doc_id, n_shared)`` — the number of its distinct
    n-grams that also appear anywhere in train.

    Scale: n-grams are folded to xxhash64 longs in the explode
    projection, so every shuffle (distinct, semi-join, agg) carries
    8-byte keys — never text. The train side is reduced to distinct
    hashes first (a big corpus has far fewer distinct n-grams than
    (doc, ngram) pairs), and AQE broadcasts it when small. Collision
    risk is ~|train grams| × |test grams| / 2^64 — immaterial.
    """
    split = deterministic_split(
        docs, doc_id_col, test_pct=test_pct, val_pct=0
    )
    grams = (
        _staged_ngrams(
            split, doc_id_col, text_col, n, extra_cols=[F.col("split")]
        )
        .select("doc_id", "split", F.xxhash64("ngram").alias("ngram_h"))
        .distinct()
    )
    train_grams = (
        grams.filter(F.col("split") == "train").select("ngram_h").distinct()
    )
    test_grams = grams.filter(F.col("split") == "test").select(
        "doc_id", "ngram_h"
    )
    return (
        test_grams.join(train_grams, "ngram_h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )


#: pack_id stride between shards in sharded packing: local pack
#: ordinals stay far below this at any shard size, so
#: ``shard * STRIDE + local`` is collision-free and order-decodable.
PACK_SHARD_STRIDE = 1_000_000_000


def pack_sequences(
    docs: DataFrame,
    budget: int = 2048,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    shards: int | None = 256,
) -> DataFrame:
    """Assign docs to fixed-token-budget packs (sequence packing).

    Orders documents by ``doc_id`` (the deterministic shard order a
    tokenizer run would use), takes a running token total, and assigns
    ``pack_id`` from the offset the document *starts* at. A doc longer
    than ``budget`` still gets exactly one pack — downstream
    tokenizers split it; the assignment stays a pure function of the
    ordering.

    **Sharded by default.** A single global running-offset window is
    ONE task regardless of cluster size, and split-level windows are
    one task per split. (q_corpus_prep's 42.0× and 36.2× at 100× data
    on the r15 sf10 ladder, taken with 256-shard windows, come from
    its regex projection, not from its pack window.) With
    ``shards=k`` the cumsum partitions by ``doc_id % k`` and
    ``pack_id = shard * PACK_SHARD_STRIDE + local_pack`` — packs
    never cross shards (standard shard-local packing; each shard
    wastes at most one partial pack) and the window runs k-wide.
    ``shards=None`` opts into the exact single-stream semantics for
    bounded inputs and byte-stream-contiguity requirements — the
    proximity_pairs ``max_cell_points=None`` convention: the scale
    hazard must be chosen out loud, never defaulted into.
    """
    toks = docs.select(
        F.col(doc_id_col).alias("doc_id"),
        token_count(F.col(text_col)).alias("n_tokens"),
    )
    if shards is None:
        w = Window.orderBy("doc_id").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        with_off = toks.withColumn(
            "start_offset",
            (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("long"),
        )
        return with_off.withColumn(
            "pack_id", (F.col("start_offset") / budget).cast("long")
        )
    if shards < 1:
        raise ValueError(f"shards must be >= 1 or None, got {shards}")
    w = (
        Window.partitionBy("_shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_off = toks.withColumn(
        "_shard", F.col("doc_id") % shards
    ).withColumn(
        "start_offset",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("long"),
    )
    return with_off.withColumn(
        "pack_id",
        F.col("_shard") * PACK_SHARD_STRIDE
        + (F.col("start_offset") / budget).cast("long"),
    ).drop("_shard")


def repetition_signals(
    docs: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document repetition quality signals (Gopher-style rules):
    duplicate-word fraction and most-frequent-bigram fraction.

    One staged words projection feeds both, and the operator is
    MAP-ONLY: the duplicate-word fraction is per-row set arithmetic,
    and the top-bigram count is the longest equal-run of the sorted
    per-row bigram array (a per-row sort + linear fold) — one scan,
    zero shuffles. Docs with < 2 words have no bigram and are
    excluded (the signal is undefined for them); the SQL twin applies
    the same guard.

    Returns (doc_id, n_words, dup_word_frac, top_bigram_frac), the
    fractions rounded to 6dp for fp-stable comparison.
    """
    with_words = docs.select(
        F.col(doc_id_col).alias("doc_id"), words(F.col(text_col)).alias("_w")
    )
    # The most-frequent-bigram count is the longest run of equal
    # values in the SORTED per-row bigram array — a per-row sort +
    # linear fold, so the whole operator is MAP-ONLY: the former
    # explode → (doc, bigram) hash-agg → per-doc max re-agg shuffled
    # every distinct (doc, bigram) pair twice; now nothing shuffles at
    # all (optimization r14, guide §2.4 — remove shuffles outright).
    # Docs with < 2 words have no bigram and stay excluded. The
    # null-seeded ``prev`` makes the first comparison start a run of 1
    # (NULL equality is never true under F.when).
    acc0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def _step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    per_doc = with_words.filter(F.size("_w") >= 2).select(
        "doc_id",
        F.size("_w").alias("n_words"),
        F.size(F.array_distinct("_w")).alias("_nd"),
        F.aggregate(
            F.array_sort(ngrams_from_words(F.col("_w"), 2)),
            acc0,
            _step,
            lambda acc: acc["best"],
        ).alias("_top"),
    )
    return per_doc.select(
        "doc_id",
        "n_words",
        F.round(
            F.lit(1.0) - F.col("_nd") / F.col("n_words").cast("double"), 6
        ).alias("dup_word_frac"),
        F.round(
            F.col("_top") / (F.col("n_words") - 1).cast("double"), 6
        ).alias("top_bigram_frac"),
    )


def chunk_documents(
    docs: DataFrame,
    chunk_size: int = 64,
    overlap: int = 16,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into overlapping fixed-width token chunks — the
    standard pre-embedding / pre-training windowing step.

    Chunk starts are ``0, stride, 2*stride, ...`` (stride =
    chunk_size - overlap) while start < n_words; each chunk is
    ``words[start : start + chunk_size]``. All per-row: one staged
    words projection, one posexplode over a sequence() of starts —
    rows scale with tokens/stride, no shuffle at all (the operator is
    map-only; downstream writers decide partitioning).

    Returns (doc_id, chunk_id, n_tokens, chunk_md5): the md5 is over
    the space-joined chunk words, so two engines agree byte-for-byte
    without moving chunk text through a comparison harness.
    """
    if overlap >= chunk_size:
        raise ValueError("overlap must be < chunk_size")
    stride = chunk_size - overlap
    with_words = docs.select(
        F.col(doc_id_col).alias("doc_id"), words(F.col(text_col)).alias("_w")
    )
    starts = F.when(
        F.size("_w") >= 1,
        F.sequence(F.lit(0), F.size("_w") - 1, F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    exploded = with_words.select(
        "doc_id",
        F.size("_w").alias("_n"),
        F.col("_w"),
        F.explode(starts).alias("_start"),
    )
    chunk_words = F.slice(F.col("_w"), F.col("_start") + 1, chunk_size)
    return exploded.select(
        "doc_id",
        (F.col("_start") / stride).cast("long").alias("chunk_id"),
        F.least(F.lit(chunk_size), F.col("_n") - F.col("_start")).alias(
            "n_tokens"
        ),
        F.md5(F.concat_ws(" ", chunk_words)).alias("chunk_md5"),
    )


def hash_sample_k_per_group(
    df: DataFrame,
    group_col: str,
    key_col: str,
    k: int = 5,
    seed: str = "s1",
) -> DataFrame:
    """Deterministic k-per-group sample: order each group by
    ``md5(seed | key)`` and keep the first ``k``.

    The hash ordering is a pure function of (seed, key), so the sample
    is reproducible across runs, engines, and cluster sizes — unlike
    ``rand()``-based sampling, whose draw depends on partitioning.
    One window per group (single hash shuffle); at scale, groups are
    window partitions, so skewed groups parallelize per-partition
    only — for k << group size a cheaper two-phase
    (per-partition top-k then merge) variant applies, which
    ``WindowGroupLimit`` performs automatically for rank filters in
    Spark 3.5+.
    """
    h = F.md5(
        F.concat_ws("|", F.lit(seed), F.col(key_col).cast("string"))
    )
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
    )


def remove_boilerplate_lines(
    df: DataFrame,
    min_docs: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Strip boilerplate lines: any line occurring in >= ``min_docs``
    distinct documents is removed from EVERY document (the CCNet /
    RefinedWeb line-frequency pass — headers, footers, cookie banners).

    Scale shape: posexplode lines -> distinct (doc, line-hash) ->
    per-hash doc-frequency -> the frequent-line set (tiny: boilerplate
    is by definition a small set of distinct lines) anti-joined back
    (AQE broadcasts it) -> per-doc ordered reconstruction. Shuffles
    carry 8-byte line hashes and positions, never document text; the
    only text-bearing exchange is the final per-doc collect_list,
    keyed by doc id (no skew: one group per document).

    Blank lines are dropped from the reconstruction; documents whose
    every line was boilerplate survive with empty text (callers chain
    a quality filter to drop them).
    """
    lines = df.select(
        F.col(id_col).alias("_bid"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_line"),
    ).filter(F.trim("_line") != "")
    hashed = lines.withColumn("_lh", F.xxhash64(F.trim(F.col("_line"))))
    frequent = (
        hashed.select("_bid", "_lh")
        .distinct()
        .groupBy("_lh")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") >= min_docs)
        .select("_lh")
    )
    rebuilt = (
        hashed.join(frequent, "_lh", "left_anti")
        .groupBy("_bid")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                    lambda s: s["_line"],
                ),
            ).alias("_new_text")
        )
        .withColumnRenamed("_bid", id_col)
    )
    cols = df.columns
    return (
        df.drop(text_col)
        .join(rebuilt, id_col, "left")
        .withColumn(text_col, F.coalesce(F.col("_new_text"), F.lit("")))
        .select(*cols)
    )


def shuffle_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    salt: str = "0",
    num_shards: int = 8,
) -> DataFrame:
    """Deterministic global training-order shuffle: assign each row a
    shard and a position within the shard, both pure functions of
    (id, salt).

    Training runs need the corpus in a reproducible pseudo-random
    order (and re-shuffled per epoch via a new salt). ``rand()`` is
    partitioning-dependent; a single global ``row_number`` would put
    the whole corpus through one window partition. Instead:
    shard = first 8 hex chars of md5(id:salt) mod num_shards (map-only,
    no shuffle), position = row_number within the shard ordered by the
    same hash — num_shards parallel window partitions, each ~n/shards
    rows, so the exchange is balanced by construction (md5 is uniform).
    Readers consume shards round-robin for a fully shuffled epoch.
    """
    h = F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(salt)))
    shard = F.pmod(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint"), F.lit(num_shards)
    ).cast("int")
    w = Window.partitionBy("shard").orderBy(F.col("_h").asc(), F.col(id_col).asc())
    return (
        df.withColumn("_h", h)
        .withColumn("shard", shard)
        .withColumn("pos_in_shard", F.row_number().over(w))
        .drop("_h")
    )


def char_entropy(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document Shannon entropy of the character distribution
    (bits/char) — the quality signal that separates natural prose
    (~4 bits) from degenerate repetition (near 0) and random noise /
    base64 blobs (~6 bits). CCNet-family filters threshold on it.

    Shape: explode to (doc, char) → one hash aggregation to per-doc
    char counts → second aggregation folding counts into
    H = log2(N) - Σ c·log2(c) / N (that identity needs only the
    per-char counts and the total — no per-char probability column,
    so the second agg is a plain sum). Two shuffles keyed by doc id;
    rows scale with doc length, never pairwise. Rounded to 6dp for
    cross-partitioning stability (the Σ has ≤ |alphabet| terms per
    doc, so fp error is far below the rounding grid).
    """
    chars = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), "")).alias("_c"),
    ).filter(F.col("_c") != "")
    counts = chars.groupBy(id_col, "_c").agg(F.count("*").alias("_n"))
    return counts.groupBy(id_col).agg(
        F.round(
            F.log2(F.sum("_n"))
            - F.sum(F.col("_n") * F.log2("_n")) / F.sum("_n"),
            6,
        ).alias("entropy_bits"),
        F.sum("_n").cast("long").alias("n_chars_counted"),
    )


def assign_global_index(
    df: DataFrame,
    order_cols: list[str],
    index_col: str = "global_idx",
) -> DataFrame:
    """Contiguous 0-based global row index in the total order of
    ``order_cols`` — the scalable DataFrame replacement for
    ``zipWithIndex`` (training pipelines need it for example ids,
    resumable iteration order, and joining shuffled corpora back to
    their source row).

    The index is the running row count minus one
    (:func:`~.prefix.prefix_sums`), never a single global
    ``row_number()`` window funnelling the table through one
    partition. It is deterministic as long as ``order_cols`` is a
    total order (include a unique tiebreaker), whatever the number of
    range partitions.
    """
    ranked = prefix_sums(df.withColumn("_one", F.lit(1)), order_cols, ["_one"])
    return ranked.select(
        *df.columns, (F.col("_cum_one") - 1).cast("long").alias(index_col)
    )


def repeated_spans(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document repeated word-span detection — the signal behind
    exact substring dedup ("Deduplicating Training Data Makes Language
    Models Better", Lee et al. 2021, approximated at word-``n``-gram
    granularity): for every document, how many of its ``n``-word spans
    also occur in at least ``min_docs - 1`` OTHER documents, plus the
    document's total span count. Downstream policy can drop documents
    whose repeated fraction is high (boilerplate mirrors, licence
    blocks, syndicated articles).

    Returns ``(doc_id, n_spans, n_repeated)``.

    Scale shape: spans fold to md5 in the explode projection (the
    shuffle carries 16-byte hashes, never text); doc-frequency is one
    hash aggregation over DISTINCT (doc, span) pairs; the per-doc
    count joins span rows to the frequent-span set on the hash.
    Everything is linear in total span count — no pairwise stage. md5
    (not xxhash64) keeps it oracle-checkable cross-engine; swap for
    8-byte xxhash64 at scale.
    """
    spans = _staged_ngrams(docs, doc_id_col, text_col, n).select(
        "doc_id", F.md5(F.col("ngram")).alias("_h")
    )
    # ONE (hash, doc)-keyed aggregation feeds all three branches
    # (optimization r14, guide §2.4): doc-frequency, per-doc repeated
    # count and per-doc total are all re-aggs/joins of the same
    # ``per`` table, so its identical exchange subtree is planned
    # once and REUSED (ReusedExchange) — the corpus-sized tokenize +
    # ngram explode runs exactly once instead of three times (the
    # previous shape re-scanned ``spans`` per branch: distinct for
    # df, a semi-join for repeated, a groupBy for totals).
    per = spans.groupBy("_h", "doc_id").agg(F.count(F.lit(1)).alias("_c"))
    freq = (
        per.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") >= min_docs)
        .select("_h")
    )
    repeated = (
        per.join(freq, "_h", "left_semi")
        .groupBy("doc_id")
        .agg(F.sum("_c").alias("n_repeated"))
    )
    totals = per.groupBy("doc_id").agg(F.sum("_c").alias("n_spans"))
    return (
        totals.join(repeated, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            F.coalesce("n_repeated", F.lit(0)).alias("n_repeated"),
        )
    )


def bpe_pair_stats(
    docs: DataFrame,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide adjacent-character-pair frequencies — the statistic
    one BPE merge step maximizes (Sennrich et al. 2016), computed the
    way BPE trainers actually scale: aggregate to DISTINCT words with
    counts FIRST (Zipf — the distinct-word table is orders of magnitude
    smaller than the token stream), then explode each distinct word's
    adjacent pairs weighted by its count.

    Returns the top-``k`` ``(pair, n, rank)`` rows (count desc, pair
    asc tie-break). Shuffles carry words then 3-char pair keys with
    counts — never document text. The pair explode references the
    char array as a materialized ATTRIBUTE (own projection) since
    slice/size would otherwise re-split per reference.
    """
    vocab = (
        docs.select(F.explode(words(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("_n"))
    )
    chars = vocab.select(
        "_n", F.array_remove(F.split(F.col("word"), ""), "").alias("_cs")
    )
    pairs = chars.select(
        "_n",
        F.explode(
            F.zip_with(
                F.slice(F.col("_cs"), 1, F.size("_cs") - 1),
                F.slice(F.col("_cs"), 2, F.size("_cs") - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("pair"),
    )
    counted = pairs.groupBy("pair").agg(F.sum("_n").alias("n"))
    w = Window.orderBy(F.desc("n"), F.asc("pair"))
    return (
        counted.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("pair", "n", "rank")
    )


def decontaminate(
    train: DataFrame,
    test: DataFrame,
    n: int = 3,
    min_shared: int = 1,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Drop train documents that leak benchmark content: any train doc
    sharing ≥ ``min_shared`` distinct word ``n``-grams with the test
    set is removed — the enforcement twin of
    :func:`contamination_report` (which only measures).

    Same scale shape: both sides fold n-grams to xxhash64 longs in the
    explode projection (shuffles carry 8-byte keys, never text); the
    TEST n-gram set reduces to distinct hashes (tiny — benchmarks are
    small — so AQE broadcasts it); offending train doc ids come from
    one semi-join + count, and the final pass is an anti-join of the
    train corpus against that id set. Raising ``min_shared`` above 1
    tolerates incidental collisions of common phrases while still
    removing wholesale inclusions.
    """
    test_grams = (
        _staged_ngrams(test, doc_id_col, text_col, n)
        .select(F.xxhash64("ngram").alias("ngram_h"))
        .distinct()
    )
    train_grams = (
        _staged_ngrams(train, doc_id_col, text_col, n)
        .select("doc_id", F.xxhash64("ngram").alias("ngram_h"))
        .distinct()
    )
    offenders = (
        train_grams.join(test_grams, "ngram_h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_n_shared"))
        .filter(F.col("_n_shared") >= min_shared)
        .select(F.col("doc_id").alias(doc_id_col))
    )
    return train.join(offenders, doc_id_col, "left_anti")


def negative_samples(
    positives: DataFrame,
    user_col: str = "user_id",
    item_col: str = "item",
    n_items: int = 100,
    k: int = 3,
    slack: int = 8,
) -> DataFrame:
    """Deterministic negative sampling for contrastive training:
    ``(user, item, neg_item, neg_rank)`` — k negatives per positive
    anchor, drawn from the item space, guaranteed NOT to be a
    positive of that user.

    The draw is md5 arithmetic (``md5(user|item|j) % n_items`` for
    j = 0..k+slack-1), so like every sampler in this module it is
    reproducible across runs, engines, and partitionings — a retried
    task regenerates identical negatives, and the DuckDB oracle
    replays it exactly (no floats anywhere). Candidates that collide
    with the user's positive set are anti-joined away; duplicate
    buckets keep their first j; the first k survivors by j win. With
    ``slack`` extra draws the chance a dense user exhausts candidates
    is negligible (a user holding p of n items misses all k+slack
    draws with probability ~p^(k+slack)); short rows surface in the
    output with fewer than k rows rather than silently resampling.

    Shape: candidate explode is map-only (k+slack rows per anchor);
    the anti-join is keyed (user, neg_item) against the distinct
    positive set — co-partitioned with the anchors at scale; two
    WindowGroupLimit passes bound the output map-side.
    """
    j = F.explode(
        F.sequence(F.lit(0), F.lit(int(k + slack - 1)))
    ).alias("_j")
    cand = positives.select(
        F.col(user_col), F.col(item_col), j
    ).withColumn(
        "neg_item",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.col(user_col).cast("string"),
                            F.col(item_col).cast("string"),
                            F.col("_j").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % int(n_items)
        ).cast("int"),
    )
    user_pos = positives.select(
        F.col(user_col).alias("_pu"), F.col(item_col).alias("_pi")
    ).distinct()
    neg = cand.join(
        user_pos,
        (F.col(user_col) == F.col("_pu"))
        & (F.col("neg_item") == F.col("_pi")),
        "left_anti",
    )
    dedup_w = Window.partitionBy(user_col, item_col, "neg_item").orderBy(
        "_j"
    )
    rank_w = Window.partitionBy(user_col, item_col).orderBy("_j")
    return (
        neg.withColumn("_dup", F.row_number().over(dedup_w))
        .filter(F.col("_dup") == 1)
        .withColumn("neg_rank", F.row_number().over(rank_w))
        .filter(F.col("neg_rank") <= int(k))
        .select(user_col, item_col, "neg_item", "neg_rank")
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "",
    seed_buckets: int = 1_000_003,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement of ``k``
    rows — Efraimidis & Spirakis (2006) A-ES via the exponential-
    clocks form: each row draws ``key = ln(u) / w`` with a
    reproducible uniform ``u`` and wins if its key ranks in the
    top-k. Inclusion probability is proportional to weight at every
    prefix, which is what quality-weighted corpus subsampling
    ("sample 10M docs ∝ quality score") actually needs — a plain
    ``ORDER BY weight LIMIT k`` takes only the head and a Bernoulli
    ``rand() < p`` can't hit an exact k.

    The uniform is ``(md5_bucket(id || salt) + 0.5) / seed_buckets``
    — the same no-``rand()`` idiom as :func:`classify.dsir_resample`:
    cluster re-runs and the DuckDB oracle reproduce the identical
    selected set. Rows with weight <= 0 are excluded (they'd get
    ``-inf`` clocks anyway); ordering uses the 6dp-rounded key with
    ``id_col`` as total-order tie-break.

    Scale shape: one map-only projection + a TopK sort (per-partition
    partial top-k, single reduced exchange) — the corpus never
    globally sorts.
    """
    u = (
        md5_bucket(
            F.concat(F.col(id_col).cast("string"), F.lit(salt)),
            seed_buckets,
        ).cast("double")
        + 0.5
    ) / float(seed_buckets)
    key = F.round(F.log(u) / F.col(weight_col), 6)
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("_aes_key", key)
        .orderBy(F.desc("_aes_key"), F.asc(id_col))
        .limit(k)
        .drop("_aes_key")
    )


def segment_documents(
    docs: DataFrame,
    sep: str = ". ",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Segment documents into offset-tracked spans with a Python
    UDTF (Spark 4 user-defined TABLE function, lateral-joined):
    ``(id, sent_idx, s_off, e_off, segment)`` where
    ``text[s_off:e_off] == segment`` — the mechanism for row→rows
    expansions whose per-output state (the running character offset)
    rides a sequential scan of the input value.

    Why a UDTF and not ``posexplode(split(...))``: the offsets. A
    pure-Column split yields the segments but re-deriving each
    segment's ORIGINAL character position needs a prefix sum over
    sibling lengths + separator widths — doable (the oracle does it
    in SQL), but the UDTF states it in four lines and demonstrates
    the third Python-integration shape next to pandas UDFs
    (vectorized scalar) and applyInPandas (grouped): LATERAL-joined
    per-row generators. Arrow-batched like the others; segmentation
    is a knife-through-butter map-side op, so the Python tax rides
    only the expansion itself.

    The split is on the LITERAL ``sep`` (no regex), so any engine
    reproduces the segmentation byte-for-byte.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx int, s_off int, e_off int, segment string")
    class _Segment:
        def eval(self, text):  # noqa: ANN001 - UDTF protocol
            if text is None:
                return
            off = 0
            for i, part in enumerate(text.split(sep)):
                yield i, off, off + len(part), part
                off += len(part) + len(sep)

    spark = docs.sparkSession
    spark.udtf.register("_segment_documents_udtf", _Segment)
    view = "_segment_documents_in"
    docs.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_t")
    ).createOrReplaceTempView(view)
    out = spark.sql(
        f"SELECT _id AS {id_col}, s.sent_idx, s.s_off, s.e_off, "
        f"s.segment FROM {view}, "
        "LATERAL _segment_documents_udtf(_t) AS s"
    )
    return out


def pmi_collocations(
    docs: DataFrame,
    min_count: int = 5,
    top: int = 20,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    round_dp: int = 6,
) -> DataFrame:
    """Top collocations by pointwise mutual information (Church &
    Hanks 1990): bigrams whose adjacency is most surprising given the
    unigram frequencies — PMI = ln(p(ab) / (p(a) p(b))) with p(ab)
    over the bigram total and p over the unigram total. The
    collocation detector a tokenizer/phrase pipeline runs ahead of
    vocabulary decisions (``bpe_pairs`` counts raw adjacency;
    PMI normalizes away "both words are just common").
    ``min_count`` kills the classic PMI pathology (hapax pairs
    scoring highest); output is the deterministic top-``top`` by
    (rounded pmi desc, bigram asc).

    One corpus scan per gram order (the staged two-projection ngram
    shape), counts aggregate map-side, the two scalar totals ride a
    1-row broadcast crossJoin, and the unigram joins touch only the
    ``min_count``-surviving bigram table. PMI's argument is a ratio
    of INTEGER counts (c_ab·NU²)/(NB·c_a·c_b), so both engines feed
    ln() the identical double; 6dp rounding before the rank makes
    the ordering the bm25 cross-engine contract.
    """
    bi = _staged_ngrams(docs, doc_id_col, text_col, 2)
    uni = _staged_ngrams(docs, doc_id_col, text_col, 1)
    c2 = (
        bi.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_count)
        .select(
            F.col("ngram").alias("bigram"),
            F.split(F.col("ngram"), " ").getItem(0).alias("_ta"),
            F.split(F.col("ngram"), " ").getItem(1).alias("_tb"),
            "n_ab",
        )
    )
    c1 = uni.groupBy("ngram").agg(F.count(F.lit(1)).alias("n_t"))
    totals = c1.agg(
        F.sum("n_t").alias("_nu")
    ).crossJoin(bi.agg(F.count(F.lit(1)).alias("_nb")))
    joined = (
        c2.join(
            c1.select(F.col("ngram").alias("_ta"), F.col("n_t").alias("n_a")),
            "_ta",
        )
        .join(
            c1.select(F.col("ngram").alias("_tb"), F.col("n_t").alias("n_b")),
            "_tb",
        )
        .crossJoin(F.broadcast(totals))
    )
    # doubles, not longs: NU² overflows int64 past ~3e9 tokens (ANSI
    # mode would throw); products of counts stay exact in double to
    # 2^53 and round identically cross-engine beyond (same
    # left-associated op order as the oracle text).
    pmi = F.round(
        F.log(
            (F.col("n_ab").cast("double") * F.col("_nu") * F.col("_nu"))
            / (F.col("_nb").cast("double") * F.col("n_a") * F.col("n_b"))
        ),
        round_dp,
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("pmi"), F.asc("bigram"))
    return (
        joined.select("bigram", "n_ab", "n_a", "n_b", pmi.alias("pmi"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top)
    )


def upsample_mixture(
    df: DataFrame,
    weights: dict[str, int],
    total_tokens: int,
    domain_col: str,
    key_col: str,
    token_col: Column | None = None,
    salt: str = "epochs",
    epoch_col: str = "epoch",
) -> DataFrame:
    """Epoch-replicated corpus recipe — :func:`mixture_sample` with
    UPSAMPLING: hit a ``total_tokens`` budget split by integer
    ``weights``, repeating small domains whole epochs and hash-
    sampling the fractional remainder (the Llama-style "Wikipedia ×4
    epochs" move; temperature mixing is this with
    ``w_d ∝ T_d^alpha``). Each output row carries ``epoch_col``
    (0-based): epoch 0..e_d-1 are full passes over domain d, epoch
    e_d is the deterministic fractional remainder.

    Determinism contract (same as mixture_sample): per-domain targets
    ``target_d = total_tokens·w_d div Σw``, full epochs
    ``e_d = target_d div T_d``, and the remainder threshold
    ``BUCKETS·(target_d mod T_d) div T_d`` are all pure integer
    arithmetic; the remainder keeps keys with
    ``md5(key||salt) bucket < threshold`` — bit-identical across
    engines, runs, partitionings. Domains absent from ``weights`` (or
    weighted 0, or empty) are dropped.

    Scale shape: one aggregation for per-domain token totals (k rows
    of model state), then ONE map-side ``explode(sequence(0, e_d))``
    + threshold filter — no shuffle, no join; output size is the
    recipe's, not the input's. Downstream training order should
    decorrelate epochs via :func:`shuffle_corpus` (salt by epoch).
    """
    if any(int(w) != w or w < 0 for w in weights.values()):
        raise ValueError("weights must be non-negative integers")
    if total_tokens <= 0:
        raise ValueError("total_tokens must be positive")
    tok = token_col if token_col is not None else token_count(F.col("text"))
    totals = {
        r["_dom"]: int(r["_t"])
        for r in df.groupBy(F.col(domain_col).alias("_dom"))
        .agg(F.sum(tok).alias("_t"))
        .collect()
    }
    doms = sorted(
        d for d, w in weights.items() if w > 0 and totals.get(d, 0) > 0
    )
    if not doms:
        raise ValueError("no overlap between weights and present domains")
    w_sum = sum(weights[d] for d in doms)
    epochs: dict[str, int] = {}
    thresholds: dict[str, int] = {}
    for d in doms:
        target = (total_tokens * weights[d]) // w_sum
        epochs[d] = target // totals[d]
        thresholds[d] = (
            SAMPLE_BUCKETS * (target % totals[d])
        ) // totals[d]

    e_col: Column = F.lit(None).cast("int")
    t_col: Column = F.lit(None).cast("long")
    for d in doms:
        e_col = F.when(F.col(domain_col) == d, F.lit(epochs[d])).otherwise(
            e_col
        )
        t_col = F.when(
            F.col(domain_col) == d, F.lit(thresholds[d])
        ).otherwise(t_col)
    bucket = md5_bucket(
        F.concat(F.col(key_col).cast("string"), F.lit(salt)),
        SAMPLE_BUCKETS,
    )
    out = (
        df.withColumn("_e", e_col)
        .filter(F.col("_e").isNotNull())
        .withColumn("_th", t_col)
        .select(
            *df.columns,
            F.explode(F.sequence(F.lit(0), F.col("_e"))).alias(epoch_col),
            F.col("_e"),
            F.col("_th"),
        )
        .filter(
            (F.col(epoch_col) < F.col("_e")) | (bucket < F.col("_th"))
        )
    )
    return out.drop("_e", "_th")


def mlm_mask(
    df: DataFrame,
    mask_prob: float = 0.15,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "mlm",
    mask_token: str = "[MASK]",
) -> DataFrame:
    """Deterministic masked-language-model example generator (the
    BERT-style 15% token masking, Devlin et al. 2019) — the map-only
    step that turns a curated corpus into MLM training rows: returns
    ``(id, masked_text, n_masked, targets array<struct<pos, word>>)``
    where position i of the normalized word sequence is masked iff
    ``md5(id:pos:salt)`` falls under ``mask_prob`` of the bucket
    space.

    Hash-derived masking instead of RNG for the same reason as
    :func:`sample_by_hash`: the same doc masks the same positions in
    every run, on any partitioning, in any engine — replayable
    ablations and a cross-engine SQL twin. (The 80/10/10
    mask/random/keep split of the original recipe is a trivial second
    bucket on the same key; this operator emits the mask decision and
    the targets — the part that must be exactly reproducible.)

    Scale shape: pure Column expressions (split → ONE transform
    computing each position's hash decision → two cheap consumers),
    zero shuffle, zero UDF; output rides the input partitioning
    straight into a writer. The decision array is materialized in its
    own projection and referenced multiple times downstream — exactly
    the multi-reference shape Catalyst's CollapseProject refuses to
    inline — so every position's md5 evaluates ONCE, not once per
    consumer (the dedup.py ``_staged_shingle_hashes`` discipline;
    Catalyst does no CSE inside higher-order-function lambdas).
    """
    if not 0.0 < mask_prob < 1.0:
        raise ValueError(f"mask_prob must be in (0, 1), got {mask_prob}")
    threshold = int(mask_prob * SAMPLE_BUCKETS)
    ws = words(F.col(text_col))

    def bucket(pos0):
        # pos0 is the 0-based word position (Spark transform's index
        # lambda is 0-based already)
        return md5_bucket(
            F.concat(
                F.col(id_col).cast("string"),
                F.lit(":"),
                pos0.cast("string"),
                F.lit(":"),
                F.lit(salt),
            ),
            SAMPLE_BUCKETS,
        )

    decided = df.select(
        F.col(id_col),
        F.transform(
            ws,
            lambda w, i: F.struct(
                i.cast("int").alias("pos"),
                w.alias("word"),
                (bucket(i) < threshold).alias("masked"),
            ),
        ).alias("_dec"),
    )
    targets = F.transform(
        F.filter(F.col("_dec"), lambda s: s["masked"]),
        lambda s: F.struct(s["pos"].alias("pos"), s["word"].alias("word")),
    )
    return decided.select(
        F.col(id_col),
        F.array_join(
            F.transform(
                F.col("_dec"),
                lambda s: F.when(s["masked"], F.lit(mask_token)).otherwise(
                    s["word"]
                ),
            ),
            " ",
        ).alias("masked_text"),
        F.size(targets).cast("int").alias("n_masked"),
        targets.alias("targets"),
    )


def zipf_fit(
    docs: DataFrame,
    text_col: str = "text",
    top_k: int = 1000,
    round_dp: int = 6,
) -> DataFrame:
    """Zipf rank-frequency fit over the corpus vocabulary head — the
    one-row corpus health check (a natural-language corpus shows
    slope ≈ −1 on the log-log rank/frequency line, Zipf 1949;
    machine-generated or template-heavy corpora bend it, which makes
    the slope a cheap generated-text / corpus-shift detector next to
    the per-doc quality heuristics).

    Fit is over the TOP ``top_k`` ranks only — the head is where
    Zipf's law holds (the hapax tail always deviates), and it is what
    keeps the operator scale-honest: the global (freq desc, term asc)
    top-k runs as per-partition partial top-k merged on the driver
    plan side (Spark's TakeOrderedAndProject — no global sort, no
    single-task vocabulary shuffle), and the only unpartitioned
    window (the rank row_number) runs over the k-row head, bounded
    model state by construction.

    Returns ONE row ``(n, slope, intercept, r2)`` via
    :func:`~gbif_filter_python_spark.operators.profile.linear_trend`
    on (ln rank, ln freq) — same spelled-out OLS sufficient-statistic
    closed form, same 6dp cross-engine contract.

    Scale shape: one staged words projection + explode, one hash
    aggregation to the vocabulary, top-k merge, then arithmetic over
    k rows.
    """
    from gbif_filter_python_spark.operators.profile import linear_trend

    if top_k < 3:
        raise ValueError(f"top_k must be >= 3 to fit a line, got {top_k}")
    terms = docs.select(F.explode(words(F.col(text_col))).alias("term"))
    vocab = terms.groupBy("term").agg(F.count(F.lit(1)).alias("freq"))
    head = vocab.orderBy(F.desc("freq"), F.asc("term")).limit(top_k)
    rank_w = Window.orderBy(F.desc("freq"), F.asc("term"))
    pts = (
        head.withColumn("rank", F.row_number().over(rank_w))
        .select(
            F.lit(1).alias("_g"),
            F.log(F.col("rank").cast("double")).alias("_lx"),
            F.log(F.col("freq").cast("double")).alias("_ly"),
        )
    )
    return linear_trend(pts, ["_g"], "_lx", "_ly", round_dp).drop("_g")


def heaps_fit(
    docs: DataFrame,
    cutoffs: list[int],
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    round_dp: int = 6,
) -> DataFrame:
    """Heaps'-law vocabulary-growth fit (Heaps 1978) — the companion
    corpus health check to :func:`zipf_fit`: distinct vocabulary V(N)
    grows ~ K·N^β (β ≈ 0.4–0.6 for natural text) as the corpus
    prefix N grows; a template-generated corpus saturates early and
    bends the log-log line.

    V(N) = |{terms first appearing in a doc with id < N}| — so the
    WHOLE ladder of cutoffs costs TWO aggregations total, not one
    count-distinct per cutoff: (1) explode words → per-term
    ``min(doc_id)`` (the term's first appearance — one hash agg,
    map-side combined); (2) one pass over the vocabulary table
    computing every ladder count as ``sum(first_doc < cutoff)``.
    The fit is :func:`~gbif_filter_python_spark.operators.profile.
    linear_trend` over (ln N, ln V(N)) — β is the slope. Returns ONE
    row ``(n, slope, intercept, r2)``.

    Scale shape: the fact is scanned once; only (term, first_doc)
    rows shuffle; the ladder aggregate is a single |vocab|-row pass
    to a 1-row frame; the OLS runs over len(cutoffs) points driver-
    free. Cutoffs are doc-id prefixes — with contiguous ids this is
    "the first N documents" exactly.
    """
    from gbif_filter_python_spark.operators.profile import linear_trend

    if len(cutoffs) < 3:
        raise ValueError(
            f"need >= 3 cutoffs to fit a line, got {len(cutoffs)}"
        )
    if sorted(set(cutoffs)) != sorted(cutoffs):
        raise ValueError("cutoffs must be distinct")
    first = (
        docs.select(
            F.col(doc_id_col).alias("_d"),
            F.explode(words(F.col(text_col))).alias("term"),
        )
        .groupBy("term")
        .agg(F.min("_d").alias("_first"))
    )
    ladder = first.agg(
        *[
            F.sum((F.col("_first") < c).cast("long")).alias(f"_v{i}")
            for i, c in enumerate(cutoffs)
        ]
    )
    pts_cols = []
    for i, c in enumerate(cutoffs):
        pts_cols.append(
            F.struct(
                F.log(F.lit(float(c))).alias("_lx"),
                F.log(F.col(f"_v{i}").cast("double")).alias("_ly"),
            )
        )
    pts = ladder.select(
        F.explode(F.array(*pts_cols)).alias("_p")
    ).select(
        F.lit(1).alias("_g"),
        F.col("_p._lx").alias("_lx"),
        F.col("_p._ly").alias("_ly"),
    )
    return linear_trend(pts, ["_g"], "_lx", "_ly", round_dp).drop("_g")


def oov_rate(
    docs: DataFrame,
    vocab_size: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document out-of-vocabulary token rate vs the corpus top-V
    vocabulary — the coverage metric that sizes a tokenizer's vocab
    (high OOV mass = the vocab is too small or the doc is off-domain).

    Scale shape: the vocabulary is a two-level hash aggregate + global
    top-V (TakeOrdered, deterministic ``(freq desc, term)`` tie-break)
    -> bounded driver model state, broadcast back; the per-doc pass is
    one broadcast left-join over exploded tokens and one partial-
    aggregated groupBy(doc). Docs with zero tokens are absent (no
    token rows), matching the SQL twin.
    """
    w = docs.select(id_col, F.explode(words(F.col(text_col))).alias("term"))
    vocab = (
        w.groupBy("term")
        .agg(F.count("*").alias("tf"))
        .orderBy(F.col("tf").desc(), "term")
        .limit(vocab_size)
        .select("term", F.lit(1).alias("_in"))
    )
    flagged = w.join(F.broadcast(vocab), "term", "left")
    n_oov = F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0))
    return flagged.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        n_oov.cast("long").alias("n_oov"),
        F.round(n_oov / F.count("*"), 6).alias("oov_rate"),
    )


def corpus_datasheet(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """One-pass per-source corpus datasheet: docs, tokens, language
    mix, exact-duplicate rate — the summary table a dataset card
    publishes per shard/source.

    Scale shape: TWO chained hash aggregates, no EXPAND — distinct-
    text counting runs through groupBy(source, fingerprint) first
    (partial-combined), then one groupBy(source) over the fingerprint
    rollup; a count_distinct in the same agg as the sums would plan an
    EXPAND that doubles the shuffle instead.
    """
    fp = F.md5(normalized_text(F.col(text_col)))
    per_fp = (
        docs.select(
            F.col(group_col).alias("src"),
            fp.alias("fp"),
            token_count(F.col(text_col)).alias("toks"),
            F.when(F.col(lang_col) == "en", 1).otherwise(0).alias("is_en"),
        )
        .groupBy("src", "fp")
        .agg(
            F.count("*").alias("n"),
            F.sum("toks").alias("tok_sum"),
            F.sum("is_en").alias("en_sum"),
        )
    )
    n_docs = F.sum("n")
    n_distinct = F.count("*")
    return per_fp.groupBy("src").agg(
        n_docs.alias("n_docs"),
        n_distinct.alias("n_distinct_texts"),
        F.sum("tok_sum").cast("long").alias("total_tokens"),
        F.round(F.sum("tok_sum") / n_docs, 2).alias("avg_tokens"),
        F.round(F.sum("en_sum") / n_docs, 4).alias("pct_en"),
        F.round(F.lit(1.0) - n_distinct / n_docs, 6).alias("dup_rate"),
    )


def type_token_ratio(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document lexical diversity: ``(doc_id, n_tokens, n_types,
    ttr)`` where ``ttr`` = distinct tokens / tokens over the
    :func:`~.functions.text.normalized_text` form — the
    vocabulary-richness quality signal next to the repetition ratios
    in :func:`repetition_signals` (boilerplate and generated spam sit
    at the low-TTR end). Empty-after-normalization docs drop out
    (TTR undefined at 0 tokens).

    Scale shape: ZERO shuffles — ``split`` + ``array_distinct`` +
    ``size`` run entirely inside the projection, so the operator is a
    pure map over the corpus scan (contrast with :func:`oov_rate`,
    whose corpus-level vocabulary forces an explode + aggregate).
    """
    norm = normalized_text(F.col(text_col))
    toks = F.split(norm, " ")
    return (
        df.select(F.col("doc_id"), norm.alias("_n"), toks.alias("_t"))
        .filter(F.col("_n") != "")
        .select(
            "doc_id",
            F.size("_t").cast("long").alias("n_tokens"),
            F.size(F.array_distinct("_t")).cast("long").alias("n_types"),
            F.round(
                F.size(F.array_distinct("_t"))
                / F.size("_t").cast("double"),
                6,
            ).alias("ttr"),
        )
    )


def vocab_overlap(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    round_dp: int = 6,
) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — the corpus-mix
    diagnostic behind "are these two crawls the same distribution":
    one row per unordered source pair ``(src_a < src_b, vocab_a,
    vocab_b, shared, jaccard)`` where each vocabulary is the set of
    distinct normalized tokens the source emits and

        jaccard = |A ∩ B| / (|A| + |B| − |A ∩ B|)

    High overlap between sources marked distinct flags mirror sites /
    duplicated crawls one level above :func:`doc-level dedup
    <.dedup>`; low overlap against a reference source quantifies
    domain shift (the set-level complement of :func:`oov_rate`).

    Scale shape: ONE (source, term) distinct-aggregate off the
    exploded tokens (map-side partial dedup); per-source sizes reduce
    that table, and the intersection is a TERM-KEYED self-join of the
    (source, term) table — each term fans out only to its own
    source-pair combinations (≤ k² per term, k = |sources|), so there
    is no all-pairs vocabulary comparison anywhere. The k²-row pair
    table joins the broadcast size dimension twice.
    """
    st = (
        docs.select(
            F.col(group_col).alias("src"),
            F.explode(words(F.col(text_col))).alias("term"),
        )
        .distinct()
    )
    sizes = st.groupBy("src").agg(F.count(F.lit(1)).alias("vocab"))
    a, b = st.alias("a"), st.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.src") < F.col("b.src")),
        )
        .groupBy(
            F.col("a.src").alias("src_a"), F.col("b.src").alias("src_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = F.broadcast(
        sizes.select(F.col("src").alias("src_a"), F.col("vocab").alias("vocab_a"))
    )
    sb = F.broadcast(
        sizes.select(F.col("src").alias("src_b"), F.col("vocab").alias("vocab_b"))
    )
    return (
        shared.join(sa, "src_a")
        .join(sb, "src_b")
        .select(
            "src_a",
            "src_b",
            "vocab_a",
            "vocab_b",
            "shared",
            F.round(
                F.col("shared")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("shared")),
                round_dp,
            ).alias("jaccard"),
        )
    )


def temperature_mixture(
    docs: DataFrame,
    group_col: str,
    alpha: float = 0.7,
    round_dp: int = 6,
) -> DataFrame:
    """Temperature-based mixture reweighting (the multilingual
    pretraining standard — XLM-R's α=0.7, mT5's α=0.3): per group
    ``(grp, n_docs, p, w, sampling_ratio)`` where

        p_i = n_i / N,   w_i = p_i^α / Σ_j p_j^α,
        sampling_ratio = w_i / p_i

    — α < 1 flattens the mix (upweights tail languages/sources
    without the head collapsing), α = 1 is proportional, α = 0 is
    uniform. ``sampling_ratio`` is the per-group epoch multiplier to
    hand to :func:`upsample_mixture`, which does the actual
    replication against a token budget; this operator is the policy,
    that one the mechanism. NULL groups excluded.

    Scale shape: ONE hash aggregation to k group rows; the Σ p^α
    normalizer is a window over that k-row table. ``pow`` with a
    fractional exponent is ≤1 ulp in both engines — at 6dp the
    boundary-flip risk is negligible and accepted (the one place the
    repo's no-libm-pow rule has no integer-arithmetic alternative).
    """
    from pyspark.sql import Window

    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    g = (
        docs.filter(F.col(group_col).isNotNull())
        .groupBy(F.col(group_col).alias("grp"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = Window.partitionBy()
    p = F.col("n_docs") / F.sum("n_docs").over(w).cast("double")
    pa = F.pow(p, float(alpha))
    wgt = pa / F.sum(pa).over(w)
    return g.select(
        "grp",
        "n_docs",
        F.round(p, round_dp).alias("p"),
        F.round(wgt, round_dp).alias("w"),
        F.round(wgt / p, round_dp).alias("sampling_ratio"),
    )


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    budget: int,
    round_dp: int = 4,
) -> DataFrame:
    """Optimal sample-size allocation across strata (Neyman 1934): for
    a fixed labeling/audit budget, stratum h gets ``n_h ∝ N_h·S_h``
    (size × within-stratum std-dev) — the allocation that minimizes
    the variance of the stratified mean estimator. The planning step
    BEFORE :func:`stratified_sample`: a quality-audit of a 100 TB
    corpus shouldn't spend equal label budget on a homogeneous
    boilerplate stratum and a high-variance long-tail one.

    Integer allocations use largest-remainder apportionment (exact:
    allocations sum to ``budget`` whenever the budget is feasible):
    floor the real allocation, then hand the leftover units to the
    largest fractional remainders (ties by stratum value for
    determinism). Zero-variance and single-row strata contribute
    S_h = 0 and receive 0 (document the convention: certain strata
    need no sample). If every stratum has zero weight the budget is
    returned unallocated (all zeros) rather than throwing.

    Output: one row per stratum ``(stratum, n_rows, stddev, weight,
    alloc)``. Scale shape: one hash aggregate over the fact (count +
    moment sums per stratum), then window arithmetic over the tiny
    stratum table only.
    """
    per = (
        df.select(
            F.col(stratum_col).alias("stratum"),
            F.col(value_col).cast("double").alias("_v"),
        )
        .filter(F.col("_v").isNotNull())
        .groupBy("stratum")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.coalesce(F.stddev_samp("_v"), F.lit(0.0)).alias("stddev"),
        )
    )
    w = F.col("n_rows") * F.col("stddev")
    tot = per.agg(F.sum(w).alias("_tw"))
    real = (
        per.crossJoin(F.broadcast(tot))
        .select(
            "stratum",
            "n_rows",
            "stddev",
            F.when(F.col("_tw") > 0, w / F.col("_tw"))
            .otherwise(F.lit(0.0))
            .alias("weight"),
        )
        .withColumn("_real", F.col("weight") * F.lit(int(budget)))
        .withColumn("_floor", F.floor("_real").cast("long"))
        .withColumn("_rem", F.col("_real") - F.col("_floor"))
    )
    leftover = F.lit(int(budget)) - F.sum("_floor").over(
        Window.partitionBy()
    )
    rk = F.row_number().over(
        Window.partitionBy().orderBy(F.desc("_rem"), F.asc("stratum"))
    )
    return (
        real.withColumn("_lo", leftover)
        .withColumn("_rk", rk)
        .select(
            "stratum",
            F.col("n_rows").cast("long"),
            F.round("stddev", round_dp).alias("stddev"),
            F.round("weight", round_dp).alias("weight"),
            # floors sum to <= budget; remainders are < 1 each, so the
            # leftover is < n_strata and the top-_lo remainders absorb
            # one unit apiece. A stratum never exceeds its ceil.
            (
                F.col("_floor")
                + F.when(
                    (F.col("weight") > 0) & (F.col("_rk") <= F.col("_lo")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("alloc"),
        )
    )


def seqlen_histogram(
    docs: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    round_dp: int = 6,
) -> DataFrame:
    """Power-of-two token-length histogram of the corpus — the
    sequence-length distribution every packing / truncation / context-
    window decision reads first (VERDICT r9 item 7: the datasheet pair
    of :func:`packing_efficiency`).

    Bucket ``b`` holds docs with ``2^b <= n_tokens < 2^(b+1)``
    (whitespace ``token_count``); empty/blank docs land in bucket -1.
    The bucket index is computed as ``length(bin(n)) - 1`` — integer
    bit-length, NOT ``floor(log2(n))``, whose float rounding misfiles
    exact powers of two (log(8)/log(2) = 2.999...96 floors to 2) —
    the same integer-exactness discipline as the hex-threshold draws.
    Returns one row per occupied bucket: ``(bucket, lo_tokens,
    hi_tokens, n_docs, sum_tokens, pct_docs, cum_pct_docs)``.

    Scale shape: one corpus scan into a hash aggregate keyed by the
    ~log2(max_len) bucket values; the cumulative window runs over
    that tiny bucket table only.
    """
    # NULL text folds to n = 0 / bucket -1 explicitly: a NULL bucket
    # would sort NULLS FIRST in Spark's window but NULLS LAST in the
    # DuckDB twin's, silently skewing every cum_pct_docs value
    n = F.coalesce(token_count(F.col(text_col)), F.lit(0))
    bucket = F.when(n <= 0, F.lit(-1)).otherwise(
        (F.length(F.bin(n.cast("long"))) - 1).cast("int")
    )
    agg = (
        docs.select(bucket.alias("bucket"), n.alias("_n"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_n").cast("long").alias("sum_tokens"),
        )
    )
    # totals via windows over the TINY bucket frame — a broadcast-agg
    # crossJoin here re-evaluates the whole corpus aggregate a second
    # time (two scans); both windows share one SinglePartition
    # exchange of <= ~64 rows
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        agg.withColumn("_tot", F.sum("n_docs").over(Window.partitionBy()))
        .withColumn("_cum", F.sum("n_docs").over(w))
        .select(
            "bucket",
            F.when(F.col("bucket") < 0, F.lit(0))
            .otherwise(F.pow(F.lit(2.0), F.col("bucket")))
            .cast("long")
            .alias("lo_tokens"),
            F.when(F.col("bucket") < 0, F.lit(0))
            .otherwise(F.pow(F.lit(2.0), F.col("bucket") + 1) - 1)
            .cast("long")
            .alias("hi_tokens"),
            F.col("n_docs").cast("long"),
            "sum_tokens",
            F.round(F.col("n_docs") / F.col("_tot"), round_dp).alias(
                "pct_docs"
            ),
            F.round(F.col("_cum") / F.col("_tot"), round_dp).alias(
                "cum_pct_docs"
            ),
        )
        .orderBy("bucket")
    )


def packing_efficiency(
    docs: DataFrame,
    capacities: tuple = (256, 512, 1024, 2048),
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    round_dp: int = 6,
) -> DataFrame:
    """Concat-then-chunk packing efficiency swept over candidate
    context capacities — the one-scan answer to "what sequence length
    should this corpus train at?" (VERDICT r9 item 7). For each
    capacity ``c`` the corpus token stream (docs concatenated in
    ``doc_id`` order, the :func:`pack_sequences` ``shards=None``
    stream) is cut into ``ceil(total/c)`` bins; reported per
    capacity: ``n_bins``, ``fill_ratio`` (only the final bin pads),
    ``boundary_crossings`` (total bin boundaries falling strictly
    inside documents — each is a training example split mid-doc),
    ``crossing_docs`` (docs cut at least once) and ``oversize_docs``
    (docs longer than the capacity — cut necessarily).

    Scale shape: token counts are one projection; the global stream
    offsets are their running sums (:func:`~.prefix.prefix_sums`);
    every capacity's stats are extra AGGREGATE
    EXPRESSIONS over that single frame — one scan, one tiny result
    row exploded to len(capacities) rows, never a per-capacity
    re-scan. Boundary arithmetic is pure integer floor division.
    """
    caps = [int(c) for c in capacities]
    if not caps or any(c < 1 for c in caps):
        raise ValueError(f"capacities must be positive: {capacities}")
    toks = docs.select(
        F.col(doc_id_col).alias("_id"),
        token_count(F.col(text_col)).cast("long").alias("_n"),
    )
    offs = prefix_sums(toks, ["_id"], ["_n"]).withColumn(
        "start", F.col("_cum_n") - F.col("_n")
    )
    # SQL `div` (true integer division on longs), NOT floor(x / c):
    # the double division loses ulps once cumulative offsets pass
    # 2^53 — the same float hazard seqlen_histogram's bit-length
    # bucket exists to avoid; a 100 TB token stream exceeds 2^53
    first_bin = {c: F.expr(f"start div {c}") for c in caps}
    last_bin = {c: F.expr(f"(start + _n - 1) div {c}") for c in caps}
    has = F.col("_n") >= 1
    agg = offs.agg(
        F.count(F.lit(1)).alias("_docs"),
        F.coalesce(F.sum("_n"), F.lit(0)).alias("_tot"),
        *[
            F.coalesce(
                F.sum(F.when(has, last_bin[c] - first_bin[c])), F.lit(0)
            ).alias(f"_x{c}")
            for c in caps
        ],
        *[
            F.sum(
                (has & (last_bin[c] > first_bin[c])).cast("long")
            ).alias(f"_xd{c}")
            for c in caps
        ],
        *[
            F.sum((F.col("_n") > c).cast("long")).alias(f"_ov{c}")
            for c in caps
        ],
    )
    per_cap = [
        F.struct(
            F.lit(c).alias("capacity"),
            # integer ceil-div: (tot + c - 1) div c, exact past 2^53
            F.expr(f"(_tot + {c - 1}) div {c}")
            .cast("long")
            .alias("n_bins"),
            F.round(
                F.when(
                    F.col("_tot") > 0,
                    F.col("_tot")
                    / (F.expr(f"(_tot + {c - 1}) div {c}") * F.lit(c)),
                ),
                round_dp,
            ).alias("fill_ratio"),
            F.col(f"_x{c}").cast("long").alias("boundary_crossings"),
            F.col(f"_xd{c}").cast("long").alias("crossing_docs"),
            F.col(f"_ov{c}").cast("long").alias("oversize_docs"),
        )
        for c in caps
    ]
    return (
        agg.select(F.explode(F.array(*per_cap)).alias("_r"))
        .select("_r.*")
        .orderBy("capacity")
    )


def filter_funnel(
    docs: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    round_dp: int = 6,
) -> DataFrame:
    """Sequential quality-filter attrition funnel: how many documents
    survive each Gopher/C4 stage applied IN ORDER — the corpus-prep
    ops table that says which rule is eating the data (a combined
    pass flag, :func:`~..functions.text.gopher_signals` ``passes``,
    can't). Stages: nonempty → word_count → mean_word_len →
    symbol_ratio → alpha_word_ratio → stopword_hits, each condition
    identical to gopher_signals' (same thresholds, same 6dp-rounded
    ratios).

    Returns one row per stage: ``(stage_idx, stage, n_pass,
    pct_of_input, pct_of_prev)``.

    Scale shape: ONE corpus scan — every stage is a cumulative-AND
    boolean aggregated in the same hash aggregate; the funnel rows
    come from exploding the single result row. No per-stage re-scan,
    no shuffle beyond the scalar agg.
    """
    from gbif_filter_python_spark.functions.text import gopher_signals

    sig = gopher_signals(F.col(text_col), min_words=min_words)
    stages = [
        ("nonempty", sig["n_words"] > 0),
        ("word_count", sig["n_words"].between(min_words, 100_000)),
        ("mean_word_len", sig["mean_word_len"].between(3.0, 10.0)),
        ("symbol_ratio", sig["symbol_ratio"] <= 0.1),
        ("alpha_word_ratio", sig["alpha_word_ratio"] >= 0.8),
        ("stopword_hits", sig["stopword_hits"] >= 2),
    ]
    cum = []
    acc = F.lit(True)
    for name, cond in stages:
        acc = acc & F.coalesce(cond, F.lit(False))
        cum.append((name, acc))
    agg = docs.agg(
        F.count(F.lit(1)).alias("_tot"),
        *[
            F.sum(c.cast("long")).alias(f"_s{i}")
            for i, (_, c) in enumerate(cum)
        ],
    )
    rows = [
        F.struct(
            F.lit(i).alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.col(f"_s{i}").cast("long").alias("n_pass"),
            F.round(
                F.when(F.col("_tot") > 0, F.col(f"_s{i}") / F.col("_tot")),
                round_dp,
            ).alias("pct_of_input"),
            F.round(
                F.when(
                    (F.col(f"_s{i - 1}") if i else F.col("_tot")) > 0,
                    F.col(f"_s{i}")
                    / (F.col(f"_s{i - 1}") if i else F.col("_tot")),
                ),
                round_dp,
            ).alias("pct_of_prev"),
        )
        for i, (name, _) in enumerate(cum)
    ]
    return (
        agg.select(F.explode(F.array(*rows)).alias("_r"))
        .select("_r.*")
        .orderBy("stage_idx")
    )


def shard_balance(
    docs: DataFrame,
    shard_counts: tuple = (32, 256),
    key_col: str = "doc_id",
    text_col: str = "text",
    round_dp: int = 6,
) -> DataFrame:
    """Token-load balance of hash-sharded corpus writes: for each
    candidate shard count ``k``, the skew of per-shard token loads
    under the deterministic md5 assignment (:func:`~.functions.text.md5_bucket`
    with ``buckets=k`` — the same cross-engine hash every split/sample op
    uses). The write path of a 100 TB corpus is as slow as its
    heaviest shard; ``balance_ratio`` (max shard load over the ideal
    total/k) is the straggler forecast, ``cv_tokens`` the overall
    dispersion. Empty shards are counted (``n_shards_used``) and the
    ideal-mean denominator uses k, not occupied shards, so sparse
    corpora don't flatter the ratio.

    Returns one row per k: ``(n_shards, n_shards_used, total_tokens,
    max_shard_tokens, balance_ratio, cv_tokens)``.

    Scale shape: the (key, token-count) projection is computed once
    and exploded to len(shard_counts) assignment rows — shuffle
    carries 2 longs + 1 int per doc per k into a (k, shard) hash
    aggregate, then one re-aggregate over the tiny shard table.
    """
    ks = [int(k) for k in shard_counts]
    if not ks or any(k < 1 for k in ks):
        raise ValueError(f"shard_counts must be positive: {shard_counts}")
    base = docs.select(
        F.col(key_col).alias("_key"),
        token_count(F.col(text_col)).cast("long").alias("_n"),
    ).select(
        "_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("_k"),
                        md5_bucket(F.col("_key"), buckets=k).alias(
                            "_shard"
                        ),
                    )
                    for k in ks
                ]
            )
        ).alias("_a"),
    )
    per_shard = base.groupBy(
        F.col("_a._k").alias("_k"), F.col("_a._shard").alias("_shard")
    ).agg(F.sum("_n").alias("_t"))
    # moments over ALL k shards (empty ones contribute zero to the
    # sums and k - used to nothing else) — no dense shard frame needed
    out = per_shard.groupBy("_k").agg(
        F.count(F.lit(1)).alias("_used"),
        F.sum("_t").alias("_tot"),
        F.max("_t").alias("_mx"),
        F.sum(F.col("_t") * F.col("_t")).alias("_sq"),
    )
    k_ = F.col("_k").cast("double")
    mean = F.col("_tot") / k_
    var = F.col("_sq") / k_ - mean * mean
    return out.select(
        F.col("_k").cast("int").alias("n_shards"),
        F.col("_used").cast("long").alias("n_shards_used"),
        F.col("_tot").cast("long").alias("total_tokens"),
        F.col("_mx").cast("long").alias("max_shard_tokens"),
        F.round(
            F.when(F.col("_tot") > 0, F.col("_mx") / mean), round_dp
        ).alias("balance_ratio"),
        F.round(
            F.when(
                (F.col("_tot") > 0) & (var > 0), F.sqrt(var) / mean
            ).otherwise(
                F.when(F.col("_tot") > 0, F.lit(0.0))
            ),
            round_dp,
        ).alias("cv_tokens"),
    ).orderBy("n_shards")


def tokenizer_fertility(
    docs: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    round_dp: int = 6,
) -> DataFrame:
    """Per-group tokenizer fertility: BPE-ish subword tokens per
    whitespace word and characters per subword token — the
    multilingual training-cost disparity table (XLM-R §5 measures
    exactly this: high-fertility languages pay more compute per word,
    so mixture weights and context budgets must read it first).
    Token conventions are the repo's two standard counters
    (:func:`~..functions.text.token_count` whitespace words,
    :func:`~..functions.text.word_token_count` subword-ish units), so
    the numbers are comparable with token_stats / oov_rate.

    Returns one row per group: ``(group, n_docs, ws_tokens,
    subword_tokens, fertility, chars_per_subword)``; ratios NULL for
    empty denominators.

    Scale shape: ONE corpus scan into a group-keyed hash aggregate —
    the regex extraction is the map-side cost, the shuffle carries
    one partial-sum row per (partition, group).
    """
    from gbif_filter_python_spark.functions.text import word_token_count

    agg = docs.groupBy(F.col(group_col).alias("group")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col(text_col)).cast("long")).alias("_ws"),
        F.sum(word_token_count(F.col(text_col)).cast("long")).alias("_sw"),
        F.sum(
            F.length(F.regexp_replace(F.col(text_col), r"\s", "")).cast(
                "long"
            )
        ).alias("_ch"),
    )
    return agg.select(
        "group",
        F.col("n_docs").cast("long"),
        F.col("_ws").alias("ws_tokens"),
        F.col("_sw").alias("subword_tokens"),
        F.round(
            F.when(F.col("_ws") > 0, F.col("_sw") / F.col("_ws")), round_dp
        ).alias("fertility"),
        F.round(
            F.when(F.col("_sw") > 0, F.col("_ch") / F.col("_sw")), round_dp
        ).alias("chars_per_subword"),
    ).orderBy("group")


def ngram_coverage(
    docs: DataFrame,
    ns: tuple = (1, 2, 3),
    test_buckets: int = 10,
    key_col: str = "doc_id",
    text_col: str = "text",
    round_dp: int = 6,
) -> DataFrame:
    """Held-out n-gram coverage: for each n, the fraction of the TEST
    split's distinct n-grams that also occur in the TRAIN split — the
    split-representativeness curve (a low unigram coverage means the
    test set probes vocabulary the model never saw; trigram coverage
    bounds verbatim memorization credit). Splits are the repo's
    deterministic md5 buckets (``md5_bucket(key, 100) < test_buckets`` →
    test, rest train — :func:`deterministic_split`'s convention), so
    the measurement is reproducible across engines and runs.

    Returns one row per n: ``(n, train_ngrams, test_ngrams, covered,
    coverage)`` over DISTINCT n-grams of the normalized word stream.

    Scale shape: n-grams are built MAP-SIDE per row (``zip_with`` of
    shifted array slices — never a positional self-join of the
    exploded token table, the classify.py ``_bigram_pairs`` lesson:
    Catalyst auto-broadcasts on a post-explode size underestimate and
    dies at sf10), tagged with their n, and exploded ONCE. Grams are
    fingerprinted to 60-bit md5 integers BEFORE the shuffle (15 hex
    chars — the md5_bucket trick widened; collisions ~2⁻⁶⁰ per pair
    shift coverage immaterially and identically in both engines), so
    the single (n, fingerprint) hash aggregate shuffles longs, never
    strings. Side membership folds in the same agg (max of per-side
    flags) — no train↔test join anywhere.
    """
    ns_ = sorted({int(n) for n in ns})
    if not ns_ or ns_[0] < 1:
        raise ValueError(f"ns must be positive ints: {ns}")
    base = docs.select(
        (md5_bucket(F.col(key_col), 100) < int(test_buckets)).alias("_is_test"),
        words(F.col(text_col)).alias("_w"),
    )

    def grams(n: int) -> Column:
        if n == 1:
            g = F.col("_w")
        else:
            m = F.greatest(F.size("_w") - (n - 1), F.lit(0))
            parts = [F.slice("_w", i + 1, m) for i in range(n)]
            g = parts[0]
            for p in parts[1:]:
                g = F.zip_with(
                    g, p, lambda a, b: F.concat_ws(" ", a, b)
                )
        return F.transform(
            g,
            lambda s: F.struct(
                F.lit(n).alias("n"),
                F.conv(F.substring(F.md5(s), 1, 15), 16, 10)
                .cast("long")
                .alias("fp"),
            ),
        )

    exploded = base.select(
        "_is_test",
        F.explode(
            F.concat(*[grams(n) for n in ns_])
        ).alias("_g"),
    )
    per_gram = exploded.groupBy(
        F.col("_g.n").alias("n"), F.col("_g.fp").alias("_fp")
    ).agg(
        F.max((~F.col("_is_test")).cast("int")).alias("_tr"),
        F.max(F.col("_is_test").cast("int")).alias("_te"),
    )
    return (
        per_gram.groupBy("n")
        .agg(
            F.sum("_tr").cast("long").alias("train_ngrams"),
            F.sum("_te").cast("long").alias("test_ngrams"),
            F.sum(F.col("_tr") * F.col("_te")).cast("long").alias("covered"),
        )
        .select(
            "n",
            "train_ngrams",
            "test_ngrams",
            "covered",
            F.round(
                F.when(
                    F.col("test_ngrams") > 0,
                    F.col("covered") / F.col("test_ngrams"),
                ),
                round_dp,
            ).alias("coverage"),
        )
        .orderBy("n")
    )


def budget_waterfill(
    docs: DataFrame,
    domain_col: str = "source",
    tokens_col: str = "n_chars",
    budget_epochs: float = 3.5,
    max_epochs: float = 4.0,
    temperature: float = 2.0,
    round_dp: int = 4,
) -> DataFrame:
    """Token-budget allocator across domains with per-domain epoch
    caps — the mixture SOLVER that sits in front of
    :func:`upsample_mixture`: given each domain's available tokens
    ``T_d``, target weights ``w_d ∝ T_d^temperature``, a total budget
    of ``budget_epochs × ΣT`` tokens, and a repetition ceiling of
    ``max_epochs`` passes over any one domain (the "don't repeat data
    more than k times" rule), find the unique water-filling allocation
    ``a_d = min(cap_d, λ·w_d)`` with ``Σa_d = min(budget, Σcap)``.

    Closed form, no iteration: sort domains by ``r_d = cap_d/w_d``
    ascending (the λ at which each domain saturates); with prefix cap
    sums ``C`` and remaining-weight sums, the first row where the
    candidate ``λ_i = (B − C_{i-1})/(W − W_{i-1})`` does not exceed
    its own saturation point ``r_i`` pins λ; every earlier domain is
    capped, every later one gets ``λ·w_d``. No valid row means the
    budget covers every cap (all capped).

    Output: one row per domain ``(domain, tokens, weight, cap_tokens,
    alloc_tokens, epochs)`` — ``weight`` is the normalized target
    share, ``epochs = alloc/T_d ≤ max_epochs`` always.

    Scale shape: ONE fact scan to per-domain token sums (hash agg);
    the solve itself is two windows + one min_by over the DOMAIN
    table — bounded model state (corpora have tens-to-thousands of
    domains), so the unpartitioned sort is deliberate and safe.
    """
    if max_epochs <= 0 or budget_epochs <= 0:
        raise ValueError("budget_epochs and max_epochs must be > 0")
    per = (
        docs.select(
            F.col(domain_col).alias("domain"),
            F.col(tokens_col).cast("double").alias("_t"),
        )
        .filter(F.col("domain").isNotNull() & (F.col("_t") > 0))
        .groupBy("domain")
        .agg(F.sum("_t").alias("t"))
    )
    tot = per.agg(
        F.sum("t").alias("_tt"),
        F.sum(F.pow(F.col("t"), F.lit(temperature))).alias("_wt"),
    )
    enriched = per.crossJoin(F.broadcast(tot)).select(
        "domain",
        "t",
        F.pow(F.col("t"), F.lit(temperature)).alias("w"),
        (F.col("t") * max_epochs).alias("cap"),
        (F.col("_tt") * budget_epochs).alias("b"),
        F.col("_wt").alias("wtot"),
    )
    order = Window.orderBy("r", "domain")
    cum_prev = order.rowsBetween(Window.unboundedPreceding, -1)
    cand = (
        enriched.withColumn("r", F.col("cap") / F.col("w"))
        .withColumn(
            "cum_c", F.coalesce(F.sum("cap").over(cum_prev), F.lit(0.0))
        )
        .withColumn(
            "cum_w", F.coalesce(F.sum("w").over(cum_prev), F.lit(0.0))
        )
        .withColumn("rn", F.row_number().over(order))
        .withColumn(
            "lam_i",
            F.when(
                F.col("wtot") - F.col("cum_w") > 0,
                (F.col("b") - F.col("cum_c"))
                / (F.col("wtot") - F.col("cum_w")),
            ),
        )
    )
    lam = cand.filter(
        F.col("lam_i").isNotNull() & (F.col("lam_i") <= F.col("r"))
    ).agg(F.min_by("lam_i", "rn").alias("_lam"))
    alloc = F.when(
        F.col("_lam").isNotNull(),
        F.least(F.col("cap"), F.col("_lam") * F.col("w")),
    ).otherwise(F.col("cap"))
    return (
        cand.crossJoin(F.broadcast(lam))
        .select(
            "domain",
            F.col("t").cast("long").alias("tokens"),
            F.round(F.col("w") / F.col("wtot"), 6).alias("weight"),
            F.round("cap", round_dp).alias("cap_tokens"),
            F.round(alloc, round_dp).alias("alloc_tokens"),
            F.round(alloc / F.col("t"), round_dp).alias("epochs"),
        )
    )


def kn_bigram_lm(
    docs: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
    top_n: int = 30,
    round_dp: int = 6,
) -> DataFrame:
    """Interpolated Kneser–Ney bigram language model (Kneser & Ney
    1995; Chen & Goodman 1999 eq. 4.26) — THE classic n-gram smoother:
    absolute-discount the bigram MLE and back off to the CONTINUATION
    unigram (how many distinct contexts a word follows, not how often
    it occurs), which is what makes "San Francisco"-style fillers rank
    sanely. n-gram LMs still do the heavy lifting in data pipelines —
    perplexity filters, DSIR importance weights, decontamination — and
    this is their standard estimator.

    ``p_kn(w2|w1) = max(c(w1w2)−d, 0)/c(w1·) +
    d·N1+(w1·)/c(w1·) · N1+(·w2)/N1+(··)``

    Output: the ``top_n`` bigrams by count (ties: w1, w2 asc) with
    ``(w1, w2, pair_count, p_mle, p_kn, backoff_mass)`` — backoff_mass
    is the discount probability the context reserves for unseen
    continuations (diagnostic: high = diverse context).

    Scale shape: one explode to bigram rows feeding ONE fact-sized
    hash agg keyed (w1, w2); the three model tables — context totals
    c(w1·) + follower types N1+(w1·), continuation types N1+(·w2),
    and the global type count — are RE-aggregates of that pair table
    (vocabulary-sized, never fact-sized). Joins back are plain
    shuffle joins on word keys (AQE broadcasts when the vocab allows);
    probabilities are integer-derived arithmetic, identical across
    engines. The pair-count table is localCheckpoint-ed (the graph.py
    lineage-cut pattern) because Catalyst does NOT reuse its exchange
    across the four consumers — without the cut the corpus is scanned
    and exploded 4x; with it, once. The final top-k compiles to
    TakeOrderedAndProject (per-partition top-n, then merge of n-row
    heads), never a global sort.
    """
    if not 0 < discount < 1:
        raise ValueError(f"discount must be in (0,1), got {discount}")
    pairs = _staged_ngrams(docs, doc_id_col, text_col, 2).select(
        F.split_part(F.col("ngram"), F.lit(" "), F.lit(1)).alias("w1"),
        F.split_part(F.col("ngram"), F.lit(" "), F.lit(2)).alias("w2"),
    )
    # the pair table feeds FOUR consumers (c itself, left, right,
    # tot); without a lineage cut Catalyst re-plans the fact-sized
    # explode+agg once per consumer (4 parquet scans of the corpus,
    # measured 4.9x at sf10 in r10's ladder) — checkpoint the
    # bigram-type-sized table so text is scanned and shuffled ONCE
    c = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    left = c.groupBy("w1").agg(
        F.sum("c").alias("c1"),
        F.count(F.lit(1)).alias("follow_types"),
    )
    right = c.groupBy("w2").agg(F.count(F.lit(1)).alias("prec_types"))
    tot = c.agg(F.count(F.lit(1)).cast("double").alias("n_types"))
    d = F.lit(float(discount))
    joined = (
        c.join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(tot))
    )
    backoff = d * F.col("follow_types") / F.col("c1")
    p_cont = F.col("prec_types") / F.col("n_types")
    p_kn = (
        F.greatest(F.col("c") - d, F.lit(0.0)) / F.col("c1")
        + backoff * p_cont
    )
    w = Window.orderBy(F.desc("c"), F.asc("w1"), F.asc("w2"))
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select(
            "rank",
            "w1",
            "w2",
            F.col("c").cast("long").alias("pair_count"),
            F.round(F.col("c") / F.col("c1"), round_dp).alias("p_mle"),
            F.round(p_kn, round_dp).alias("p_kn"),
            F.round(backoff, round_dp).alias("backoff_mass"),
        )
    )


def burstiness(
    docs: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 25,
    min_docs: int = 5,
    round_dp: int = 6,
) -> DataFrame:
    """Term burstiness via the variance-to-mean ratio of per-document
    counts (Church & Gale 1995): content words clump — they either
    don't appear in a document or appear several times — while
    function words spread evenly (VMR ≈ 1, the Poisson line). The
    datasheet signal for topical/boilerplate vocabulary that raw
    frequency can't give: a term repeated 50× in one template page
    and a term used once in 50 pages have identical counts but
    opposite VMR.

    Moments are over ALL N corpus documents (zero counts included —
    that's the point), computed from the nonzero rows only:
    ``mean = Σc/N``, ``E[x²] = Σc²/N``, ``vmr = (E[x²] − mean²)/mean``.
    Terms in fewer than ``min_docs`` documents are dropped (singleton
    VMR is noise). Output: ``top_n`` rows ``(rank, term, df_docs,
    total_count, vmr)``, ranked VMR desc (term asc ties).

    Scale shape: explode words → ONE (term, doc) hash agg → ONE
    term-keyed re-agg (three integer moments); N comes from a scalar
    count broadcast. All arithmetic is integer-derived — identical
    across engines — and only the min_docs-filtered term table meets
    the rank window.
    """
    grams = _staged_ngrams(docs, doc_id_col, text_col, 1)
    td = grams.groupBy("ngram", "doc_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    per = td.groupBy("ngram").agg(
        F.count(F.lit(1)).alias("df_docs"),
        F.sum("c").alias("tot"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    ndocs = docs.agg(
        F.count(F.lit(1)).cast("double").alias("_nd")
    )
    mean = F.col("tot") / F.col("_nd")
    ex2 = F.col("ss") / F.col("_nd")
    vmr = F.when(mean > 0, (ex2 - mean * mean) / mean)
    scored = (
        per.filter(F.col("df_docs") >= min_docs)
        .crossJoin(F.broadcast(ndocs))
        .select(
            F.col("ngram").alias("term"),
            F.col("df_docs").cast("long").alias("df_docs"),
            F.col("tot").cast("long").alias("total_count"),
            vmr.alias("_vmr"),
        )
    )
    w = Window.orderBy(F.desc("_vmr"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select(
            "rank",
            "term",
            "df_docs",
            "total_count",
            F.round("_vmr", round_dp).alias("vmr"),
        )
    )


def domain_kl(
    docs: DataFrame,
    domain_col: str = "source",
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
    round_dp: int = 6,
) -> DataFrame:
    """Per-domain unigram KL divergence from the corpus language model
    — the mixture-design datasheet number: which domains are
    linguistically far from the blend (high KL = distinctive/outlier
    vocabulary; near 0 = redundant with the mix). Both sides are
    add-``alpha`` smoothed over the CORPUS vocabulary V, so every
    domain is scored against the same support and the divergence is
    always finite.

    The full-vocabulary sum never materializes |domains|×V rows: for
    each domain, KL splits into the OBSERVED-term sum (rides the
    (domain, term) table) plus a closed-form unseen remainder — the
    unseen probability is the constant ``α/(T_d+αV)``, so its
    contribution is ``p_u·((V−V_d)·ln p_u − (S_all − S_d))`` where
    ``S_all = Σ_vocab ln q(w)`` is ONE corpus-level aggregate and
    ``S_d = Σ_seen ln q(w)`` rides the same observed-term pass.

    Output: one row per domain ``(domain, terms_seen, tokens,
    coverage, kl_nats)`` — coverage is the share of the corpus
    vocabulary the domain uses.

    Scale shape: explode words → ONE (domain, term) hash agg; the
    corpus LM (term totals), V, T, S_all, and per-domain totals are
    all RE-aggregates of that table; one term-keyed join puts q(w)
    next to each observed count (AQE broadcasts when the vocab
    allows). Everything is vocabulary-sized after the first agg.
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    al = F.lit(float(alpha))
    grams = _staged_ngrams(
        docs.filter(F.col(domain_col).isNotNull()),
        doc_id_col,
        text_col,
        1,
        extra_cols=[F.col(domain_col).alias("domain")],
    )
    dt = grams.groupBy("domain", "ngram").agg(
        F.count(F.lit(1)).alias("c")
    )
    corpus = dt.groupBy("ngram").agg(F.sum("c").alias("cw"))
    consts = corpus.agg(
        F.count(F.lit(1)).cast("double").alias("v"),
        F.sum("cw").cast("double").alias("t"),
    )
    q = corpus.crossJoin(F.broadcast(consts)).select(
        "ngram",
        ((F.col("cw") + al) / (F.col("t") + al * F.col("v"))).alias(
            "q"
        ),
        "v",
    )
    s_all = q.agg(F.sum(F.log("q")).alias("s_all"))
    per_dom = dt.groupBy("domain").agg(
        F.count(F.lit(1)).cast("double").alias("vd"),
        F.sum("c").cast("double").alias("td"),
    )
    joined = (
        dt.join(q, "ngram")
        .join(F.broadcast(per_dom), "domain")
        .select(
            "domain",
            "vd",
            "td",
            "v",
            (
                (F.col("c") + al)
                / (F.col("td") + al * F.col("v"))
            ).alias("p"),
            "q",
        )
    )
    seen = joined.groupBy("domain").agg(
        F.first("vd").alias("vd"),
        F.first("td").alias("td"),
        F.first("v").alias("v"),
        F.sum(
            F.col("p") * (F.log("p") - F.log("q"))
        ).alias("kl_seen"),
        F.sum(F.log("q")).alias("s_d"),
    )
    p_u = al / (F.col("td") + al * F.col("v"))
    kl_unseen = p_u * (
        (F.col("v") - F.col("vd")) * F.log(p_u)
        - (F.col("s_all") - F.col("s_d"))
    )
    return (
        seen.crossJoin(F.broadcast(s_all))
        .select(
            "domain",
            F.col("vd").cast("long").alias("terms_seen"),
            F.col("td").cast("long").alias("tokens"),
            F.round(F.col("vd") / F.col("v"), round_dp).alias(
                "coverage"
            ),
            F.round(F.col("kl_seen") + kl_unseen, round_dp).alias(
                "kl_nats"
            ),
        )
    )


def domain_overlap_matrix(
    docs: DataFrame,
    domain_col: str = "source",
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    round_dp: int = 6,
) -> DataFrame:
    """Pairwise cross-domain n-gram contamination matrix — the
    datasheet companion to :func:`contamination_report`: instead of
    train→test leakage it measures SOURCE→SOURCE content overlap
    (mirror sites, syndicated text, license boilerplate shared across
    crawls), the signal that decides which domains can be mixed
    without double-counting. One row per unordered domain pair
    ``(dom_a < dom_b)`` with each side's distinct-gram count, the
    shared-gram count, Jaccard, and containment
    (``shared / min(grams_a, grams_b)`` — the asymmetric "is one
    domain inside the other" reading). The pair grid is DENSIFIED:
    pairs sharing nothing still emit a row with zeros.

    Scale shape (r11 rewrite — the r10 version OOM'd the sf10 rung):
    ONE corpus scan explodes to (domain, gram-hash) rows (8-byte
    keys — text never shuffles past the map side), then ONE
    gram-keyed ``collect_set(domain)`` aggregation whose per-key
    state is bounded by |domains|, NOT the corpus (collect_set also
    absorbs the dedup — no separate ``distinct``). Each gram's
    domain set then emits its singles and its ordered pairs in one
    higher-order-function explode, and a single tiny (≤ |domains|²
    rows) count-agg yields BOTH the per-domain sizes (pair with NULL
    right side) and the shared-gram counts. The r10 shape — a
    corpus-vocabulary-sized localCheckpoint feeding a gram-keyed
    self-join — pinned ~100M deserialized rows in the heap at the
    sf10 rung and died; nothing here is ever materialized bigger
    than the final matrix (the one localCheckpoint left is on that
    ≤ |domains|²-row table, which three consumers reuse). The
    densify grid is a |domains|² broadcast crossJoin of the size
    table with itself.
    """
    dom_type = dict(docs.dtypes)[domain_col]
    grams = (
        _staged_ngrams(
            docs,
            doc_id_col,
            text_col,
            n,
            extra_cols=[F.col(domain_col).alias("_dom")],
        )
        .filter(F.col("_dom").isNotNull())
        .select("_dom", F.xxhash64("ngram").alias("_g"))
    )
    ds = F.array_sort(F.col("_ds"))
    singles = F.transform(
        ds,
        lambda x: F.struct(
            x.alias("a"), F.lit(None).cast(dom_type).alias("b")
        ),
    )
    pairs = F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.slice(ds, i + F.lit(2), F.size(ds)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    counts = (
        grams.groupBy("_g")
        .agg(F.collect_set("_dom").alias("_ds"))
        .select(F.explode(F.concat(singles, pairs)).alias("_p"))
        .groupBy(F.col("_p.a").alias("dom_a"), F.col("_p.b").alias("dom_b"))
        .agg(F.count(F.lit(1)).alias("_c"))
        .localCheckpoint(eager=True)
    )
    sizes = counts.filter(F.col("dom_b").isNull()).select(
        F.col("dom_a").alias("_dom"), F.col("_c").alias("_n")
    )
    shared = counts.filter(F.col("dom_b").isNotNull()).select(
        "dom_a", "dom_b", F.col("_c").alias("_sh")
    )
    grid = (
        sizes.select(
            F.col("_dom").alias("dom_a"), F.col("_n").alias("_na")
        )
        .crossJoin(
            F.broadcast(
                sizes.select(
                    F.col("_dom").alias("dom_b"),
                    F.col("_n").alias("_nb"),
                )
            )
        )
        .filter(F.col("dom_a") < F.col("dom_b"))
    )
    out = grid.join(shared, ["dom_a", "dom_b"], "left").withColumn(
        "_sh", F.coalesce(F.col("_sh"), F.lit(0))
    )
    sh = F.col("_sh").cast("double")
    jac = sh / (F.col("_na") + F.col("_nb") - sh)
    cont = sh / F.least(F.col("_na"), F.col("_nb"))
    return out.select(
        "dom_a",
        "dom_b",
        F.col("_na").cast("long").alias("grams_a"),
        F.col("_nb").cast("long").alias("grams_b"),
        F.col("_sh").cast("long").alias("shared_grams"),
        F.round(jac, round_dp).alias("jaccard"),
        F.round(cont, round_dp).alias("containment"),
    )


def entropy_rate(
    docs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level character entropy RATE: the conditional entropy
    H(c₂ | c₁) of the next character given the current one, over all
    within-document adjacent pairs. :func:`char_entropy` scores the
    unigram distribution per document; this is the corpus datasheet's
    order-1 sequential counterpart — repetitive/templated corpora
    score far below their unigram entropy (the next char is nearly
    determined), random blobs score at it. Computed by the chain
    rule on ONE pair-count table:

        H(c₂|c₁) = H(c₁c₂) − H(c₁)
                 = (Σ p·log₂p − Σ c·log₂c) / N   (+ the log₂N terms
                   cancelling), with c the bigram counts and p the
                   first-char marginals (a re-agg of c).

    Output: ONE row ``(n_pairs, n_distinct_bigrams, h_bigram_bits,
    h_prefix_bits, entropy_rate_bits)`` — NULL when the corpus has no
    adjacent pair.

    Scale shape: one scan explodes each doc's character array to
    adjacent pairs (``zip_with`` on the array and its shift — array
    built ONCE per row); ONE hash aggregation keyed by the 2-char
    bigram (alphabet²-bounded, map-side combine absorbs the
    corpus-sized stream); the prefix marginals and both entropies are
    re-aggs of that tiny table. Nothing downstream of the first agg
    scales with the corpus.
    """
    a = F.split(F.col(text_col), "")
    pairs = docs.select(
        F.explode(
            F.zip_with(
                a,
                F.slice(a, 2, F.greatest(F.size(a) - 1, F.lit(0))),
                lambda x, y: F.concat(x, y),
            )
        ).alias("_bg")
    ).filter(F.length("_bg") == 2)
    # the bigram table feeds TWO consumers (its own reduce + the
    # prefix re-agg); localCheckpoint the alphabet²-bounded result so
    # the corpus-sized explode runs exactly once (plan-asserted)
    counts = (
        pairs.groupBy("_bg")
        .agg(F.count(F.lit(1)).alias("_c"))
        .localCheckpoint(eager=True)
    )
    pref = counts.groupBy(F.substring("_bg", 1, 1).alias("_p")).agg(
        F.sum("_c").alias("_pc")
    )
    big = counts.agg(
        F.sum("_c").alias("n"),
        F.count(F.lit(1)).alias("nd"),
        F.sum(F.col("_c") * F.log2("_c")).alias("clc"),
    )
    pre = pref.agg(F.sum(F.col("_pc") * F.log2("_pc")).alias("plp"))
    j = big.crossJoin(pre)
    n = F.col("n").cast("double")
    h_big = F.when(n > 0, F.log2(n) - F.col("clc") / n)
    h_pre = F.when(n > 0, F.log2(n) - F.col("plp") / n)
    return j.select(
        F.col("n").cast("long").alias("n_pairs"),
        F.col("nd").cast("long").alias("n_distinct_bigrams"),
        F.round(h_big, 6).alias("h_bigram_bits"),
        F.round(h_pre, 6).alias("h_prefix_bits"),
        F.round(h_big - h_pre, 6).alias("entropy_rate_bits"),
    )


def kfold_balance(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    k: int = 5,
    round_dp: int = 6,
) -> DataFrame:
    """Deterministic k-fold assignment + stratification audit: folds
    come from :func:`~.functions.text.md5_bucket` (md5 — the same cross-engine,
    cross-run-stable hash as :func:`deterministic_split`, so fold
    membership never changes under repartitioning or re-runs), and
    the output is the DENSIFIED (fold × stratum) balance table each
    CV harness should check before trusting its variance estimates:
    observed count, the homogeneity-expected count
    ``n_fold · n_stratum / N``, the obs/exp ratio, and the cell's
    Pearson χ² contribution ``(o−e)²/e`` (sum them for the overall
    homogeneity statistic; CDF out of scope, house rule).

    Output: k · |strata| rows ``(fold, stratum, n_obs, n_expected,
    ratio, chi2_cell)`` — absent cells emit 0 observed.

    Scale shape: ONE map-only hash projection + ONE (fold, stratum)
    hash aggregation over the fact; fold and stratum margins are
    re-aggs of that ≤ k·|strata|-row table and the densify grid is a
    broadcast crossJoin of the two margins — nothing after the first
    agg scales with the data.
    """
    if not 2 <= int(k) <= 1000:
        raise ValueError(f"k={k} outside [2, 1000]")
    base = df.filter(F.col(strata_col).isNotNull()).select(
        md5_bucket(F.col(key_col), buckets=int(k)).alias("fold"),
        F.col(strata_col).alias("stratum"),
    )
    # the cell table feeds FOUR consumers (fold margins, stratum
    # margins, total, and the densify left side); localCheckpoint the
    # ≤ k·|strata|-row result so the fact scan runs exactly once
    # (plan-asserted)
    cells = (
        base.groupBy("fold", "stratum")
        .agg(F.count(F.lit(1)).alias("_o"))
        .localCheckpoint(eager=True)
    )
    folds = cells.groupBy("fold").agg(F.sum("_o").alias("_nf"))
    strata = cells.groupBy("stratum").agg(F.sum("_o").alias("_ns"))
    total = cells.agg(F.sum("_o").alias("_n"))
    grid = (
        folds.crossJoin(F.broadcast(strata))
        .crossJoin(F.broadcast(total))
        .join(cells, ["fold", "stratum"], "left")
        .withColumn("_o", F.coalesce(F.col("_o"), F.lit(0)))
    )
    o = F.col("_o").cast("double")
    e = F.col("_nf").cast("double") * F.col("_ns") / F.col("_n")
    return grid.select(
        "fold",
        "stratum",
        F.col("_o").cast("long").alias("n_obs"),
        F.round(e, round_dp).alias("n_expected"),
        F.round(F.when(e > 0, o / e), round_dp).alias("ratio"),
        F.round(F.when(e > 0, (o - e) * (o - e) / e), round_dp).alias(
            "chi2_cell"
        ),
    )

"""Deduplication operators for training-data pipelines.

Beyond-reference block (SURVEY.md §2 final row): exact dedup,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
Design for 100 TB:

* exact dedup hashes the normalized text FIRST (map-side, fixed-width
  64/128-bit keys) so the shuffle moves hashes, not documents;
* MinHash LSH shuffles only (band_hash → doc_id) pairs — never text —
  and pairs within a bucket are generated by a self-join on the band
  key, which AQE splits if a bucket is skewed (degenerate buckets are
  additionally capped);
* SimHash reduces each doc to one 64-bit signature; candidate pairing
  joins on rotated prefix bands;
* all signature computation is pure Column expressions (xxhash64 over
  shingles via higher-order functions) — no Python UDF in the path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gbif_filter_python_spark.functions.text import fingerprint64, normalized_text


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one representative (min id) per exact normalized text.

    groupBy on a 64-bit hash (map-side combined) instead of
    ``dropDuplicates([text_col])`` so the shuffle key is 8 bytes, not
    the document body. Hash collisions at 64 bits are ~0 for any
    realistic corpus; use md5 (128-bit) if that budget is too tight.
    """
    h = fingerprint64(F.col(text_col))
    keep = (
        _ensure_parallelism(df).select(F.col(id_col), h.alias("_h"))
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


def exact_dup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(dup_hash, n_dups, doc_ids) for groups with >1 member."""
    h = F.md5(normalized_text(F.col(text_col)))
    return (
        df.select(F.col(id_col), h.alias("dup_hash"))
        .groupBy("dup_hash")
        .agg(
            F.count("*").alias("n_dups"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


# --------------------------------------------------------------------------
# Shingling + MinHash + LSH
# --------------------------------------------------------------------------


def words_array(col):
    """Normalized word array — project this FIRST (its own select) when
    feeding shingle expressions: Catalyst does no common-subexpression
    elimination inside lambda bodies, so an inlined words expression
    (two regexes + split) re-evaluates once PER SHINGLE (~50× per doc).
    """
    return F.split(normalized_text(col), " ")


def shingles_from_words(words, k: int = 5):
    """Word k-shingles from a (materialized) word-array column."""
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(
        n >= k,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, k))),
    ).otherwise(F.array(F.concat_ws(" ", words)))


def shingles(col, k: int = 5):
    """Word k-shingles of the normalized text as array<string>.

    Convenience single-expression form; for hot paths prefer the
    two-stage ``words_array`` → ``shingles_from_words`` projection
    (see ``words_array`` docstring for why).
    """
    return shingles_from_words(words_array(col), k)


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition up to the session's default parallelism when the
    input arrives in fewer partitions (e.g. one small parquet file).

    Signature computation is CPU-bound; one input file must not pin it
    to one core. No-op when the source is already well-partitioned, so
    at cluster scale this never introduces a gratuitous shuffle.

    DataFrame-only probe: ``inputFiles()`` (no job, no RDD conversion —
    the previous ``df.rdd.getNumPartitions()`` forced a plan→RDD
    conversion per pipeline build). File count under-approximates
    partition count when files split, which only errs toward keeping
    the repartition for genuinely small inputs; non-file sources (e.g.
    in-memory test frames) are left untouched.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files and len(files) < target:
        return df.repartition(target)
    return df


# Universal-hash family h_i(x) = (a_i * x + b_i) mod P over a 32-bit
# domain. The domain bound matters under ANSI mode (Spark 4 default):
# x < 2^32 and a, b < 2^31 keep a*x + b < 2^63, so the JVM long never
# overflows (no try_multiply, no silent wraparound).
_P32 = 4294967291  # largest prime below 2^32


def _perm_params(num_hashes: int) -> list[tuple[int, int]]:
    # Deterministic LCG-derived (a, b) pairs; a odd and nonzero.
    params = []
    state = 0x9E3779B97F4A7C15
    half = (1 << 31) - 1
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = (state % half) | 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        b = state % half
        params.append((a, b))
    return params


def _staged_shingle_hashes(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    reduce_domain: bool = True,
    exploded: bool = False,
    distinct: bool = False,
):
    """(id, shingle-hash array) — or (id, one hash per row) with
    ``exploded=True`` — via the staged projections: words → shingle
    hashes, each materialized once.

    ``reduce_domain`` folds hashes into [0, 2^32) for MinHash's
    overflow-safe universal hashing; SimHash needs the full 64-bit
    spread (its bands cover all bit positions) and passes False.

    ``exploded`` matters for performance, not semantics: consumers
    that want one-hash-per-row must NOT add their own
    ``select(explode(_sh))`` on top of the array form — a third
    adjacent projection makes Catalyst's CollapseProject fold the
    words projection into the shingle expression, duplicating the
    normalization (two regexes + split) once per reference (~10× per
    row; measured 15× slower at sf0.1). Keeping the explode inside
    this function's single consumer projection preserves the
    two-projection shape that evaluates words exactly once.
    """
    with_words = _ensure_parallelism(df).select(
        F.col(id_col).alias("_id"), words_array(F.col(text_col)).alias("_w")
    )
    hasher = (
        (lambda s: F.pmod(F.xxhash64(s), F.lit(_P32)))
        if reduce_domain
        else (lambda s: F.xxhash64(s))
    )
    hashed = F.transform(shingles_from_words(F.col("_w"), k), hasher)
    if distinct:
        # fused here for the same CollapseProject reason as `exploded`
        hashed = F.array_distinct(hashed)
    if exploded:
        return with_words.select("_id", F.explode(hashed).alias("_x"))
    return with_words.select("_id", hashed.alias("_sh"))


def minhash_signature_from_hashes(hashes, num_hashes: int = 64):
    """array<bigint> MinHash signature from a shingle-hash array.

    ONE aggregate() pass with a ``num_hashes``-wide array accumulator
    (zip_with against a literal (a,b)-param array). Expression-tree
    size is O(num_hashes), not O(num_hashes × |shingle tree|) — the
    naive "64 separate array_min(transform(...))" formulation
    duplicates the shingle subtree per permutation and per band
    reference, which blows Catalyst optimization time up by minutes.
    """
    params = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in _perm_params(num_hashes)
        ]
    )
    init = F.array_repeat(F.lit(_P32).cast("long"), num_hashes)
    return F.aggregate(
        hashes,
        init,
        lambda acc, x: F.zip_with(
            acc, params, lambda m, p: F.least(m, (x * p["a"] + p["b"]) % F.lit(_P32))
        ),
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    k: int = 5,
) -> DataFrame:
    """(id, array<bigint> MinHash signature) per document, via the
    staged projections + one higher-order aggregate pass."""
    staged = _staged_shingle_hashes(df, text_col, id_col, k)
    return staged.select(
        F.col("_id").alias(id_col),
        minhash_signature_from_hashes(F.col("_sh"), num_hashes).alias("minhash"),
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket: int = 1000,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via banded LSH.

    rows-per-band = num_hashes/bands sets the similarity threshold
    (~(1/bands)^(1/rows)). Only (band_hash, id) pairs shuffle; the
    pair-generation self-join runs per band bucket. Degenerate buckets
    (boilerplate-heavy corpora) are capped at ``max_bucket`` ids to
    bound the quadratic blowup — at 100 TB a 10^6-doc bucket would
    otherwise emit 10^12 pairs.

    Signatures are the classic `num_hashes` universal-hash permutation
    minima, computed as flat groupBy min() aggregates — whole-stage
    codegen, map-side partial aggregation, one `num_hashes`-column row
    per doc on the shuffle.

    Negative result, measured (do not re-attempt without rotation
    densification): one-permutation hashing (Li/Owen/Zhang 2012 —
    one hash per shingle, bucket by ``hash % num_hashes``, per-bucket
    min) with SENTINEL densification blows up on low-distinct-shingle
    corpora. This corpus averages ~51 distinct shingles/doc, so ~half
    of 64 buckets are empty; dissimilar docs then collide on
    all-sentinel bands (sf0.1: 1 375 → 2 283 949 candidate pairs,
    8.3 s → 83 s). Correct OPH needs rotation densification, whose
    per-row map-lookup cost here exceeds the 64 multiply-add-mins it
    saves (warm classic signature pass: 2.9 s at sf0.1).
    """
    rows_per_band = num_hashes // bands
    # Staged projections (words → shingle hashes), then EXPLODE the
    # shingle hashes and compute all `num_hashes` permutation minima as
    # flat groupBy aggregates. Unlike the higher-order aggregate()
    # formulation, min() over flat columns runs inside whole-stage
    # codegen with map-side partial aggregation: the shuffle carries
    # one 64-column row per doc regardless of shingle count, and no
    # per-element array allocation happens at all.
    exploded = _staged_shingle_hashes(df, text_col, id_col, exploded=True)
    params = _perm_params(num_hashes)
    with_sig = exploded.groupBy("_id").agg(
        *[
            F.min((F.col("_x") * F.lit(a) + F.lit(b)) % F.lit(_P32)).alias(
                f"_h{i}"
            )
            for i, (a, b) in enumerate(params)
        ]
    )
    banded = with_sig.select(
        "_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"_h{b * rows_per_band + r}").cast("string")
                                for r in range(rows_per_band)
                            ],
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("_band", "_bh"),
    )
    buckets = (
        banded.groupBy("_band", "_bh")
        .agg(F.slice(F.sort_array(F.collect_list("_id")), 1, max_bucket).alias("_ids"))
        .filter(F.size("_ids") > 1)
    )
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("_ids"),
                    lambda a, i: F.transform(
                        F.slice(F.col("_ids"), i + 2, F.size(F.col("_ids"))),
                        lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b")
    return pairs.distinct()


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    method: str = "components",
) -> DataFrame:
    """Drop near-duplicates: candidates → exact Jaccard verify →
    keep one representative per duplicate cluster.

    ``method="components"`` (default, VERDICT r3 item 3) collapses
    each connected component of the verified-pair graph to its
    minimum-id member — chain-correct: a~b and b~c keep exactly {a}
    even with no verified a~c edge. The component rounds
    (:func:`~gbif_filter_python_spark.operators.graph.
    connected_components`) shuffle only the pair EDGES (tiny vs the
    corpus); the corpus itself sees one anti-join.

    ``method="greedy"`` is the explicit cheap option — drop ``id_b``
    of every verified pair, single pass, no iteration. It over-drops
    on chains (a~b, b~c drops both b and c although c may not be a
    near-copy of a) — acceptable when recall of survivors matters
    less than one fewer round-trip over the edges.
    """
    if method not in ("components", "greedy"):
        raise ValueError(f"method must be components|greedy, got {method!r}")
    pairs = minhash_lsh_candidates(df, text_col, id_col, num_hashes, bands)
    verified = ngram_jaccard_pairs(df, pairs, text_col, id_col).filter(
        F.col("jaccard") >= threshold
    )
    if method == "components":
        from gbif_filter_python_spark.operators.graph import (
            dedup_by_components,
        )

        return dedup_by_components(df, verified, id_col=id_col)
    losers = verified.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


# --------------------------------------------------------------------------
# n-gram Jaccard (exact verify for candidate pairs)
# --------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Exact shingle-set Jaccard for (id_a, id_b) pairs.

    Joins shingle arrays to both sides (hashed shingles, not text) and
    computes |∩|/|∪| with array_intersect/array_union — JVM-side.

    Only CANDIDATE documents are ever tokenized (optimization r14,
    guide §8 "decide with small rows"): ``pairs`` is materialized once
    (tiny — the banded-LSH candidate set), its member ids semi-join
    the corpus, and the shingle projection runs on the survivors. The
    previous shape tokenized the FULL corpus on both join sides —
    2 corpus-sized tokenize passes to verify a candidate set that is
    a small fraction of the corpus (at 100 TB, candidates ≈ the
    near-dup subset). AQE broadcasts the id set while it is small;
    results are bit-identical (per-row shingle arrays do not depend
    on which other rows are tokenized).
    """
    pairs = pairs.localCheckpoint(eager=True)
    cand_ids = pairs.select(
        F.explode(F.array("id_a", "id_b")).alias("_cid")
    ).distinct()
    cand = df.join(
        cand_ids, F.col(id_col) == F.col("_cid"), "left_semi"
    )
    sh = _staged_shingle_hashes(
        cand, text_col, id_col, k, distinct=True
    ).withColumnRenamed("_sh", "_shd")
    a = sh.select(F.col("_id").alias("id_a"), F.col("_shd").alias("_sha"))
    b = sh.select(F.col("_id").alias("id_b"), F.col("_shd").alias("_shb"))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("_sha", "_shb")).cast("double")
    union = F.size(F.array_union("_sha", "_shb")).cast("double")
    return joined.select(
        "id_a",
        "id_b",
        F.when(union > 0, inter / union).otherwise(F.lit(0.0)).alias("jaccard"),
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ALL document pairs with distinct-word-set Jaccard >= threshold
    — ``(id_a, id_b, jaccard)``, id_a < id_b — via the prefix-filtered
    set-similarity join (the PPJoin family, Xiao et al. WWW'08).
    LOSSLESS, unlike MinHash banding: the exact complement to
    :func:`minhash_lsh_candidates` when recall must be 1.0 by
    construction (near-dup GOLD sets, contamination audits).

    Scale shape — the prefix filter is what keeps this off the O(n²)
    cliff: tokens are globally ordered by ascending document
    frequency (rare first), each size-n token set keeps only its
    first ``n - ceil(t*n) + 1`` tokens as join keys (any pair with
    J >= t provably shares a PREFIX token under one global order),
    and the equi-join on those rare prefix tokens meets a candidate
    superset that the exact rank-array intersection then verifies.
    Candidate fan-out is bounded by prefix-token df — rare tokens by
    construction — plus the t·|A| <= |B| <= |A|/t length filter
    applied inside the join. The token-dim ordering is
    :func:`corpus.assign_global_index` over ``(df, token)`` — a
    range shuffle of the vocabulary dimension, NOT a
    single-partition ``row_number`` window (web-scale corpora have
    hundreds of millions of distinct tokens; one task must never
    sort them all). Any injective order-preserving relabeling yields
    identical prefixes and identical rank-array intersections, so
    the output is unchanged. The verify step joins sorted rank
    ARRAYS (ints, not text) to both sides of the candidates only.

    FP discipline: the prefix length uses ``ceil(t*n - 1e-9)`` so a
    representation error in ``t*n`` can only LENGTHEN the prefix
    (keeping the filter lossless), and the final exact Jaccard —
    an integer ratio both engines evaluate identically in doubles —
    is the only accept test.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    toks = (
        df.select(
            F.col(id_col).alias("_id"),
            F.explode(words_array(F.col(text_col))).alias("_tok"),
        )
        .filter(F.col("_tok") != "")  # blank docs contribute no tokens
        .distinct()
    )
    from gbif_filter_python_spark.operators.corpus import (
        assign_global_index,
    )

    tok_dim = toks.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
    tok_rank = assign_global_index(
        tok_dim, ["_df", "_tok"], index_col="_rk"
    ).select("_tok", (F.col("_rk") + 1).cast("int").alias("_rk"))
    ranked = (
        toks.join(tok_rank, "_tok")
        .groupBy("_id")
        .agg(F.sort_array(F.collect_list("_rk")).alias("_rks"))
    )
    n = F.size("_rks")
    prefix_len = (
        n - F.ceil(F.lit(threshold) * n - F.lit(1e-9)).cast("int") + 1
    )
    pref = ranked.select(
        "_id", n.alias("_n"), F.explode(F.slice("_rks", 1, prefix_len)).alias("_rk")
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a._rk") == F.col("b._rk"))
            & (F.col("a._id") < F.col("b._id"))
            & (F.col("a._n") * threshold <= F.col("b._n"))
            & (F.col("b._n") * threshold <= F.col("a._n")),
        )
        .select(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")
        )
        .distinct()
    )
    ra = ranked.select(F.col("_id").alias("id_a"), F.col("_rks").alias("_ra"))
    rb = ranked.select(F.col("_id").alias("id_b"), F.col("_rks").alias("_rb"))
    inter = F.size(F.array_intersect("_ra", "_rb")).cast("double")
    union = (F.size("_ra") + F.size("_rb")).cast("double") - inter
    return (
        cand.join(ra, "id_a")
        .join(rb, "id_b")
        .select(
            "id_a",
            "id_b",
            (inter / union).alias("_jac"),
        )
        .filter(F.col("_jac") >= threshold)
        .select(
            "id_a", "id_b", F.round(F.col("_jac"), 6).alias("jaccard")
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 8,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MOSS winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): ``(id, fp)`` — the distinct selected k-gram hashes of
    the normalized text, one minimum per sliding window of ``window``
    consecutive gram positions. The winnowing guarantee: any shared
    substring of length >= k + window - 1 between two documents yields
    at least one SHARED fingerprint, so substring-level overlap
    (plagiarism, licence-text contamination, boilerplate) reduces to
    an equi-join on 8-byte hashes at ~1/window the gram density.

    Built under the dedup.py staging discipline (Catalyst does no CSE
    inside higher-order-function lambdas and CollapseProject re-inlines
    multi-referenced projections): EXACTLY two projections —
    normalization, then everything else — with the intermediate gram
    array LET-BOUND via a single-element ``transform`` (the lambda
    variable is the one place Catalyst guarantees single evaluation),
    so the text normalizes once and the grams hash once per doc, never
    per window. Grams hash through md5's first 8 hex chars (the
    engine↔DuckDB-replayable hash every cross-engine oracle uses);
    swap a true rolling hash (Rabin-Karp) in via the same column slot
    when CPU, not verifiability, is the bound — selection semantics
    are hash-agnostic.
    """
    if k < 1 or window < 1:
        raise ValueError("k and window must be >= 1")
    s1 = _ensure_parallelism(df).select(
        F.col(id_col).alias("_id"),
        normalized_text(F.col(text_col)).alias("_t"),
    )
    t = F.col("_t")
    empty = F.array().cast("array<long>")

    def gram(i):
        return F.conv(
            F.substring(F.md5(t.substr(i, F.lit(k))), 1, 8), 16, 10
        ).cast("long")

    n_grams = F.length(t) - k + 1
    grams = F.when(
        n_grams >= 1, F.transform(F.sequence(F.lit(1), n_grams), gram)
    ).otherwise(empty)

    def selection(gh):
        # gh is a HOF lambda VARIABLE: evaluated once, referenced free.
        m = F.size(gh)
        sel = F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(m - window + 1, F.lit(1))
                ),
                lambda j: F.array_min(F.slice(gh, j, window)),
            )
        )
        return F.when(m >= 1, sel).otherwise(empty)

    fps = F.element_at(F.transform(F.array(grams), selection), 1)
    return s1.select(
        F.col("_id").alias(id_col), F.explode(fps).alias("fp")
    )


def winnow_overlap_pairs(
    df: DataFrame,
    min_shared: int = 2,
    k: int = 8,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_fp_df: int | None = None,
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowing fingerprints
    — ``(id_a, id_b, n_shared)``, id_a < id_b. The substring-overlap
    detector built on :func:`winnow_fingerprints`: one equi-join on
    the 8-byte fingerprint (never text), one pair aggregation.

    ``max_fp_df`` is the hot-key cap this join NEEDS at scale (the
    LSH-bucket / proximity-cell playbook): a fingerprint present in
    d documents emits d²/2 pairs, so template boilerplate shared by
    the whole corpus makes the pair count quadratic in corpus size —
    measured 357 k pairs at sf0.1 → 317 M at sf3 uncapped. With
    ``max_fp_df=d`` fingerprints in more than d documents are
    dropped from the join entirely (one count over the fingerprint
    dimension + a semi-join): discriminating doc-specific overlap
    survives, boilerplate doesn't — which is also the SIGNAL you
    want, since a fingerprint everyone shares identifies nobody.
    Pairs whose only shared fingerprints are boilerplate disappear;
    document the cap with the result.
    """
    fps = winnow_fingerprints(
        df, k=k, window=window, text_col=text_col, id_col=id_col
    )
    if max_fp_df is not None:
        if max_fp_df < 2:
            raise ValueError("max_fp_df must be >= 2 (pairs need 2 docs)")
        rare = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_fp_df)
            .select("fp")
        )
        fps = fps.join(rare, "fp")
    a = fps.select(F.col(id_col).alias("id_a"), "fp")
    b = fps.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, ["fp"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


def simhash64_from_hashes(hashes):
    """64-bit SimHash from a (materialized) shingle-hash array column.

    ONE aggregate() pass with a 64-wide vote-array accumulator: for
    each bit position, sum ±1 votes of every shingle hash, then fold
    the vote signs into a long. Compact expression tree (the naive
    64-separate-aggregates version explodes Catalyst time) and one
    O(|shingles| × 64) evaluation, all JVM-side.
    """
    idx = F.array(*[F.lit(i) for i in range(64)])
    # Bit 63 is the sign bit of a JVM long: 1<<63 doesn't fit, use its
    # two's-complement value.
    pow2 = F.array(
        *[
            F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long")
            for i in range(64)
        ]
    )
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            idx,
            lambda a, i: a
            + F.when(
                F.call_function("shiftrightunsigned", h, i).bitwiseAND(F.lit(1))
                == F.lit(1),
                1,
            ).otherwise(-1),
        ),
    )
    bits = F.zip_with(
        votes, pow2, lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long"))
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, b: acc.bitwiseOR(b))


def simhash64(col, k: int = 3):
    """64-bit SimHash over word k-shingles (single-expression form;
    hot paths use the staged projections in simhash_candidates)."""
    return simhash64_from_hashes(
        F.transform(shingles(col, k), lambda s: F.xxhash64(s))
    )


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    band_bits: int = 16,
    k: int = 3,
) -> DataFrame:
    """Candidate pairs whose SimHash matches on ≥1 of 4 16-bit bands
    (catches pairs within Hamming distance 3 of each other)."""
    # Same explode+groupBy shape as MinHash: 64 per-bit vote sums as
    # flat codegen-able aggregates (map-side combined), then fold the
    # sign bits into one long.
    exploded = _staged_shingle_hashes(
        df, text_col, id_col, k, reduce_domain=False, exploded=True
    )
    votes = exploded.groupBy("_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftrightunsigned(F.col("_x"), bit).bitwiseAND(F.lit(1))
                    == 1,
                    1,
                ).otherwise(-1)
            ).alias(f"_v{bit}")
            for bit in range(64)
        ]
    )
    sig_expr = None
    for bit in range(64):
        bit_value = (1 << bit) if bit < 63 else -(1 << 63)
        piece = F.when(
            F.col(f"_v{bit}") > 0, F.lit(bit_value).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        sig_expr = piece if sig_expr is None else sig_expr.bitwiseOR(piece)
    sigs = votes.select("_id", sig_expr.alias("_sig"))
    bands = 64 // band_bits
    banded = sigs.select(
        "_id",
        "_sig",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("_sig"), i * band_bits)
                    .bitwiseAND(F.lit((1 << band_bits) - 1))
                    for i in range(bands)
                ]
            )
        ).alias("_band", "_bh"),
    )
    # Self-join via SHUFFLE, never broadcast (optimization r14, guide
    # §3.1): with auto-broadcast, the planner ships one side of the
    # self-join as a broadcast build — and because both sides are the
    # SAME subtree, the whole tokenize + 64-vote aggregation pipeline
    # executes twice (once for the build, once streamed). A shuffled
    # join gives both sides the identical (_band, _bh) exchange, which
    # AQE's stage reuse materializes ONCE. It is also the only shape
    # that survives 100 TB — a per-document signature table can never
    # broadcast.
    left = banded.hint("shuffle_hash").alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l._band") == F.col("r._band"))
            & (F.col("l._bh") == F.col("r._bh"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            _hamming64(F.col("l._sig"), F.col("r._sig")).alias("hamming"),
        )
        .distinct()
    )


def _hamming64(a, b):
    return F.bit_count(a.bitwiseXOR(b))


# --------------------------------------------------------------------------
# Embedding-cosine near-dup
# --------------------------------------------------------------------------


def embedding_near_dups(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int | None = None,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs by cosine ≥ threshold.

    Random-hyperplane LSH buckets first (sign bits of n_planes fixed
    pseudo-random projections), exact cosine within buckets — the
    all-pairs cross join never materializes. See similarity.py for the
    bucketing; this reuses it with self-join semantics. ``dim`` is
    optional: the bucket UDF derives the plane matrix deterministically
    from the vector width it observes, so no driver-side probe (and no
    extra Spark job) happens during plan construction.

    The within-bucket self-join is quadratic in bucket size, and with
    only 2^n_planes buckets a degenerate corpus (boilerplate/zero
    vectors) can put millions of rows in one — the exact hazard
    minhash_lsh_candidates caps. Same cure: each bucket keeps its
    ``max_bucket`` smallest ids (row_number ≤ k prunes map-side via
    WindowGroupLimit), bounding output at max_bucket²/2 pairs per
    bucket. Deterministic, recall-lossy only inside degenerate buckets
    — scale ``n_planes`` with corpus size so healthy buckets stay far
    below the cap.
    """
    from gbif_filter_python_spark.operators.similarity import hyperplane_bucket
    from gbif_filter_python_spark.functions.vectors import dot_product, l2_norm

    w_cap = Window.partitionBy("_bucket").orderBy(F.asc("_id"))
    bucketed = (
        df.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            # norm hoisted out of the pair join: computed once per
            # VECTOR here, not once per candidate pair — the division
            # below runs the same IEEE ops in the same order as the
            # fused cosine_similarity, so results are bit-identical
            l2_norm(F.col(vec_col)).alias("_n"),
            hyperplane_bucket(F.col(vec_col), dim, n_planes).alias("_bucket"),
        )
        .withColumn("_rn", F.row_number().over(w_cap))
        .filter(F.col("_rn") <= max_bucket)
        .drop("_rn")
    )
    # Sort-merge self-join, never broadcast (optimization r14, guide
    # §3.1): auto-broadcast would build one side of this self-join as
    # a broadcast relation, executing the hyperplane UDF + cap window
    # pipeline TWICE (build + stream). The cap window already
    # exchanges by _bucket and sorts by (_bucket, _id), so a
    # sort-merge join on _bucket adds ZERO new exchange or sort on
    # either side, and both sides' identical subtrees materialize
    # once via AQE stage reuse. Broadcast is also impossible at
    # 100 TB (the bucketed table is per-vector).
    left = bucketed.hint("merge").alias("l")
    right = bucketed.alias("r")
    denom = F.col("l._n") * F.col("r._n")
    pairs = left.join(
        right,
        (F.col("l._bucket") == F.col("r._bucket")) & (F.col("l._id") < F.col("r._id")),
    ).select(
        F.col("l._id").alias("id_a"),
        F.col("r._id").alias("id_b"),
        F.when(
            denom > 0, dot_product(F.col("l._v"), F.col("r._v")) / denom
        ).otherwise(F.lit(0.0)).alias("cosine"),
    )
    return pairs.filter(F.col("cosine") >= threshold)


def dedup_keep_best(
    df: DataFrame,
    score: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup keeping the BEST-scoring row of each duplicate
    group (score desc, then id asc as the deterministic tie-break),
    not the min-id one.

    The canonical-selection variant real corpus pipelines want: among
    copies of the same text, keep the one from the highest-quality
    source / with the best metadata (``score`` is any Column — e.g.
    ``quality_score(F.col('text'))`` or a source-priority map).

    One window pass partitioned by the 64-bit content hash: the
    shuffle is keyed by hash (8 bytes), each partition group is a
    duplicate cluster (tiny), and rank<=1 prunes map-side via
    WindowGroupLimit in Spark 3.5+ — the full rows ride the exchange
    once, no join back needed.
    """
    key = fingerprint64(F.col(text_col))
    w = Window.partitionBy("_dk").orderBy(F.desc("_ds"), F.asc(id_col))
    return (
        df.withColumn("_dk", key)
        .withColumn("_ds", score)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_dk", "_ds", "_rn")
    )


def semantic_dedup(
    df: DataFrame,
    centroids: list[list[float]] | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.97,
    k: int = 8,
    max_iter: int = 6,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): drop documents whose embedding is within cosine
    ``threshold`` of a LOWER-id document in the same k-means cluster —
    duplicates are sought only inside each semantic cluster, which is
    what makes the pairwise step tractable.

    Pass the trained coarse quantizer as ``centroids`` (reusing the
    IVF build from :func:`~gbif_filter_python_spark.operators.
    similarity.kmeans_fit`), or leave it None to fit spherical k-means
    (``k``, ``max_iter``) in place.

    Scale shape:

    * assignment is map-only (one NumPy matmul per Arrow batch,
      centroid matrix in the closure);
    * the self-join is equi-keyed on ``cluster`` — the quadratic cost
      is per-cluster, bounded by the largest cluster, never corpus²
      (the paper's regime is k ∝ n/⟨cluster size⟩, e.g. 50k clusters
      for 5B embeddings; AQE skew-split handles residual imbalance) —
      and at scale the corpus is written partitioned by cluster so the
      join is co-located;
    * each row's norm is computed ONCE as a scalar column; the
      pair-side predicate is dot ≥ θ·‖a‖·‖b‖ — a single array
      aggregate per candidate pair instead of dot + two norms. (Not a
      normalized-vector transform: a lambda dividing by the norm would
      re-evaluate the norm aggregate per ELEMENT — Catalyst does no
      CSE inside higher-order lambdas.)
    * the greedy keep-lowest-id rule needs only each row's pair
      EXISTENCE, not the pair list — the survivor set, not O(pairs)
      rows, leaves the stage.

    Returns the input rows minus semantic duplicates, with the
    ``cluster`` id attached. Chains (a~b, b~c, a≁c) resolve greedily:
    b and c both drop because each has a lower-id neighbor — standard
    SemDeDup behavior, deliberately NOT transitive-closure dedup
    (graph.dedup_by_components is the exact-component variant).
    """
    from gbif_filter_python_spark.functions.vectors import (
        dot_product,
        l2_norm,
    )
    from gbif_filter_python_spark.operators.similarity import (
        kmeans_assign,
        kmeans_fit,
    )

    if centroids is None:
        centroids, _ = kmeans_fit(
            df, k=k, max_iter=max_iter, vec_col=vec_col, id_col=id_col
        )
    assigned = kmeans_assign(
        df, centroids, vec_col=vec_col, id_col=id_col, out_col="cluster"
    )
    compact = assigned.select(
        "cluster",
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        l2_norm(F.col(vec_col)).alias("_n"),
    )
    # Shuffled self-join, never broadcast (optimization r14, guide
    # §3.1): with auto-broadcast the planner builds one side of this
    # self-join as a broadcast relation, so the kmeans-assign pandas
    # UDF (a matmul over every corpus vector) executes twice — once
    # for the build and once streamed. Forcing the shuffle join gives
    # both sides the identical cluster-keyed exchange, which AQE
    # stage reuse materializes once; a per-vector table could never
    # broadcast at 100 TB anyway.
    dup_ids = (
        compact.hint("shuffle_hash").alias("l")
        .join(compact.alias("r"), "cluster")
        .filter(F.col("l._id") < F.col("r._id"))
        .filter(
            (F.col("l._n") * F.col("r._n") > 0)
            & (
                dot_product(F.col("l._v"), F.col("r._v"))
                >= F.lit(threshold) * F.col("l._n") * F.col("r._n")
            )
        )
        .select(F.col("r._id").alias(id_col))
        .distinct()
    )
    return assigned.join(dup_ids, id_col, "left_anti")


def sorted_neighborhood_pairs(
    df: DataFrame,
    sort_cols: list[str],
    window: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """Sorted-neighborhood candidate pairs (Hernández & Stolfo 1995)
    — the third blocking family next to LSH (minhash/simhash) and
    clustering (SemDeDup): sort the corpus by a discriminating key,
    then pair every record with its ``window - 1`` successors in the
    sort order. Catches near-dups that share a sort-key PREFIX (typo
    variants, re-encodes with trailing edits) with zero hashing and a
    candidate count of exactly ``(window - 1) × n`` — linear by
    construction, no hot-bucket cap needed.

    Returns ``(id_a, id_b, dist)`` with ``id_a`` the lower-ranked
    record and ``dist`` the rank distance (1 ≤ dist < window).
    Ordering appends ``id_col`` to ``sort_cols`` so ties are total
    and the pair set is deterministic.

    Scale shape: the global rank is :func:`corpus.assign_global_index`
    (range shuffle — NOT a single-partition ``row_number``); the
    neighbor join explodes each row into ``window - 1`` (rank + d)
    probes and equi-joins on the rank — integers on the shuffle,
    never the sort key. Compose with an exact verifier
    (:func:`ngram_jaccard_pairs`) exactly like the LSH candidates.
    """
    if window < 2:
        raise ValueError("sorted_neighborhood_pairs: window must be >= 2")
    from gbif_filter_python_spark.operators.corpus import (
        assign_global_index,
    )

    order = [*sort_cols, id_col]
    idx = assign_global_index(
        df.select(id_col, *sort_cols), order, index_col="_sn_rank"
    ).select(id_col, "_sn_rank")
    probes = (
        idx.select(
            F.col(id_col).alias("id_a"),
            F.col("_sn_rank").alias("_rank_a"),
            F.explode(
                F.array(*[F.lit(d) for d in range(1, window)])
            ).alias("_d"),
        )
        .select(
            "id_a",
            "_rank_a",
            (F.col("_rank_a") + F.col("_d")).alias("_sn_rank"),
        )
    )
    right = idx.select(
        F.col(id_col).alias("id_b"), F.col("_sn_rank")
    )
    return (
        probes.join(right, "_sn_rank")
        .select(
            "id_a",
            "id_b",
            (F.col("_sn_rank") - F.col("_rank_a")).cast("int").alias("dist"),
        )
    )


def containment_pairs(
    df: DataFrame,
    theta: float = 0.8,
    k: int = 5,
    max_df: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ASYMMETRIC containment detection: ``(id_a, id_b, containment)``
    where ``containment = |shingles(A) ∩ shingles(B)| / |shingles(A)|
    ≥ theta`` — doc A is (near-)contained in doc B. This is the
    subset-duplicate measure (Broder's containment): a short document
    quoted wholesale inside a long one scores ~1.0 here while its
    symmetric Jaccard (``ngram_jaccard_pairs``) stays far below any
    dedup threshold — the exact case Jaccard-based dedup misses.

    Exact, not LSH: the inverted-index self-join on shingle hashes IS
    the full computation (pairs sharing zero shingles never
    materialize). Cost is Σ df(shingle)²; ``max_df`` prunes shingles
    appearing in more than that many docs BEFORE both the join and
    the denominators (boilerplate shingles carry no containment
    signal but dominate the quadratic term — the same stop-gram
    rationale as remove_boilerplate_lines). Shuffles carry
    (hash, id) integers, never text; the staged-projection contract
    (see ``_staged_shingle_hashes``) keeps normalization evaluated
    once per doc.
    """
    # full 64-bit hashes: containment has no universal-hashing domain
    # constraint (that is MinHash's), and the wider domain keeps
    # cross-gram collisions (which would fabricate shared counts)
    # at 2^-64 instead of 2^-32.
    ex = _staged_shingle_hashes(
        df, text_col, id_col, k, reduce_domain=False,
        distinct=True, exploded=True,
    )
    if max_df is not None:
        hot = (
            ex.groupBy("_x")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("_x")
        )
        ex = ex.join(F.broadcast(hot), "_x", "left_anti")
    sizes = ex.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))
    a = ex.select(F.col("_id").alias("id_a"), "_x")
    b = ex.select(F.col("_id").alias("id_b"), "_x")
    shared = (
        a.join(b, "_x")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_shared"))
    )
    na = sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na"))
    cont = F.round(F.col("_shared") / F.col("_na"), 6)
    return (
        shared.join(na, "id_a")
        .select("id_a", "id_b", cont.alias("containment"))
        .filter(F.col("containment") >= theta)
    )


def dup_rate_by_source(
    docs: DataFrame,
    domain_col: str = "source",
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    round_dp: int = 6,
) -> DataFrame:
    """Exact-duplication rollup per source — the datasheet view that
    composes :func:`exact_dup_groups` with the corpus's domain keys:
    for each source, how much of it is duplicated text, how much of
    that duplication crosses source boundaries (syndication / mirror
    crawls rather than within-crawl repeats), and the distinct-text
    yield a dedup pass would keep. One row per source:

    ``(source, n_docs, n_distinct, n_dup_docs, n_cross_source_dups,
    dup_rate, excess_rate)`` where ``dup_rate = n_dup_docs / n_docs``
    (docs whose normalized text occurs >1 time corpus-wide),
    ``n_cross_source_dups`` counts dup docs whose group spans >1
    source, and ``excess_rate = 1 - n_distinct / n_docs`` (share a
    within-rollup exact dedup would remove).

    Scale shape: one fact-sized hash agg keyed md5(normalized text)
    builds the group-size table (distinct-text-sized), joined back on
    the 16-byte hash (AQE picks broadcast when the distinct side
    allows), then one per-source agg. Text never shuffles — only
    hashes and the domain key.
    """
    base = docs.select(
        F.col(domain_col).alias("_dom"),
        F.md5(normalized_text(F.col(text_col))).alias("_h"),
    ).filter(F.col("_dom").isNotNull())
    sizes = base.groupBy("_h").agg(
        F.count(F.lit(1)).alias("_gsz"),
        F.count_distinct(F.col("_dom")).alias("_nsrc"),
    )
    joined = base.join(sizes, "_h")
    per = joined.groupBy("_dom").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.col("_h")).alias("n_distinct"),
        F.sum(
            F.when(F.col("_gsz") > 1, 1).otherwise(0)
        ).alias("n_dup_docs"),
        F.sum(
            F.when(
                (F.col("_gsz") > 1) & (F.col("_nsrc") > 1), 1
            ).otherwise(0)
        ).alias("n_cross_source_dups"),
    )
    nd = F.col("n_docs").cast("double")
    return per.select(
        F.col("_dom").alias(domain_col),
        F.col("n_docs"),
        F.col("n_distinct"),
        F.col("n_dup_docs"),
        F.col("n_cross_source_dups"),
        F.round(F.col("n_dup_docs") / nd, round_dp).alias("dup_rate"),
        F.round(
            1.0 - F.col("n_distinct") / nd, round_dp
        ).alias("excess_rate"),
    )

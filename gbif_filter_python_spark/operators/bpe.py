"""BPE tokenizer training and application at corpus scale.

Beyond-reference block (SURVEY.md §2 "absent in reference"; the
training-data-pipeline mandate): `operators/corpus.py::bpe_pair_stats`
computes ONE merge step's statistic; this module runs the full
iterative trainer (Sennrich et al. 2016) and the encoder, structured
the way BPE actually scales on a cluster:

* **Everything aggregates to DISTINCT words with counts first** (the
  Zipf shrink): the distinct-word table is orders of magnitude smaller
  than the token stream, and it is the ONLY thing the iterations touch.
  At 100 TB of text the distinct-word table is ~10⁷-10⁸ rows — an
  executor-trivial frame.
* **A table that fits the driver is trained on the driver.** The
  table's row count rides the distinct-word checkpoint's job
  (``observed_checkpoint``). At or under ``_DRIVER_ROWS`` (10⁵) rows
  the checkpoint is read once through Arrow and every merge runs in
  :func:`_driver_merges`, an incremental pair index that re-counts
  only the words holding the merged pair: three Spark jobs for any
  number of merges. At sf0.1 the 5 000-document sample has a few
  dozen distinct words, and the 16 merges used to cost 16 single-task
  jobs and 3 re-checkpoints; at 10⁵ synthetic words a driver merge
  took about 0.4 s against 2.9-3.5 s for the Spark loop (measurements
  in :func:`learn_bpe_merges`).
* **Above the bound, the per-merge work is one small aggregation**
  over the table, checkpointed at ``defaultParallelism`` partitions
  (pair counts, weighted by word count, and the argmax ``collect``:
  two jobs, the pair-count shuffle and the argmax) plus a map-only
  re-segmentation fold, which runs no job of its own. Both the pair
  explode and the fold are SQL expressions (``selectExpr``): building
  the fold from Column-API lambdas cost more driver time than running
  it. Lineage is truncated with ``localCheckpoint`` (the graph.py
  pattern) once every ``checkpoint_every`` merges, one job each, and
  only when another merge will read it — so the plan does not grow
  with merges. Before either loop: the distinct-word checkpoint (its
  shuffle and its own job), plus the corpus count when
  ``sample_target_docs`` is set.
* **The merge list is driver-side model state** (like k-means
  centroids): n_merges × a few bytes, and on the distributed path the
  only materialization.
* **Encoding memoizes by distinct word** — encode each distinct word
  once with a vectorized pandas UDF (the per-word merge loop is
  genuinely iterative — the one justified Python step), then join the
  token counts back to the stream. Same structural-memoization shape
  as resolution's distinct-then-join (reference `gbif_helper.py:11-32`
  re-expressed set-at-a-time).

Proof: pytest differential tests of both merge loops against an
independent naive pure-Python BPE reference (exact merge-sequence and
encoding parity); driver queries are rows-only (the iterative trainer
has no SQL twin).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from gbif_filter_python_spark.functions.text import words
from gbif_filter_python_spark.operators.iterate import observed_checkpoint


def _distinct_words(docs: DataFrame, text_col: str) -> DataFrame:
    """(word, _n) — the Zipf-shrunk trainer input."""
    return (
        docs.select(F.explode(words(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("_n"))
    )


#: Distinct words the driver trains on (:func:`_driver_merges`); a
#: larger table runs the distributed merge loop. See
#: :func:`learn_bpe_merges` for the measurements.
_DRIVER_ROWS = 100_000


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal: backslash and quote
    escaped, as the default parser (``escapedStringLiterals`` off)
    reads them."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


#: Each word's adjacent symbol pairs, one ``_p`` struct (a, b) per row.
_PAIRS_SQL = (
    "explode(zip_with(slice(_syms, 1, size(_syms) - 1), "
    "slice(_syms, 2, size(_syms) - 1), (x, y) -> struct(x AS a, y AS b)))"
    " AS _p"
)

_FLUSH_SQL = (
    "CASE WHEN acc.prev IS NULL THEN acc.out "
    "ELSE concat(acc.out, array(acc.prev)) END"
)


def _merge_sql(a: str, b: str) -> str:
    """One merge step as a SQL expression over ``_syms``: every
    left-to-right non-overlapping adjacent (a, b) becomes the merged
    symbol, so 'aaa' under merge (a,a) gives ['aa','a'], as
    :func:`ref_merge_pair` does."""
    null = "CAST(NULL AS string)"
    return (
        "aggregate(_syms, named_struct('out', CAST(array() AS array<string>),"
        f" 'prev', {null}), (acc, x) -> CASE WHEN acc.prev = {_sql_str(a)}"
        f" AND x = {_sql_str(b)} THEN named_struct('out', concat(acc.out,"
        f" array({_sql_str(a + b)})), 'prev', {null}) ELSE named_struct("
        f"'out', {_FLUSH_SQL}, 'prev', x) END, acc -> {_FLUSH_SQL}) AS _syms"
    )


def bpe_training_sample(
    docs: DataFrame,
    sample_target_docs: int | None,
    sample_key_col: str = "doc_id",
) -> DataFrame:
    """The trainer's deterministic corpus sample, exposed so callers
    (the differential oracle queries, tests) can reproduce EXACTLY the
    documents :func:`learn_bpe_merges` trains on: md5-of-key hash
    sample with salt ``'bpe-train'`` at fraction target/corpus-count;
    identity when the corpus is already at or under the target."""
    if sample_target_docs is None:
        return docs
    from gbif_filter_python_spark.operators.corpus import sample_by_hash

    n_docs = docs.count()
    if n_docs <= sample_target_docs:
        return docs
    return sample_by_hash(
        docs,
        sample_key_col,
        sample_target_docs / n_docs,
        seed_salt="bpe-train",
    )


def ref_words(text: str) -> list[str]:
    """Pure-Python twin of ``functions.text.words`` normalization (lowercase,
    non-alnum → space, collapse) — the tokenizer the reference trainer
    shares with the engine so merge parity is over identical words."""
    import re

    t = re.sub(r"[^a-z0-9]+", " ", text.lower())
    t = re.sub(r"\s+", " ", t).strip()
    return [w for w in t.split(" ") if w]


def ref_learn_bpe(
    texts: list[str], n_merges: int, min_count: int = 2
) -> list[tuple[str, str, int]]:
    """Independent pure-Python BPE trainer (Sennrich-style dict-of-
    word-counts loop, same (count desc, left asc, right asc)
    tie-break) — the DIFFERENTIAL REFERENCE the distributed trainer is
    gated against, both in tests/test_bpe.py and in the bpe_learn /
    bpe_token_counts oracle queries (__spark_entry__). Driver-side
    only; never call on an unsampled large corpus."""
    import collections

    counts: collections.Counter = collections.Counter(
        w for t in texts for w in ref_words(t)
    )
    segs = {w: list(w) for w in counts}
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pair_counts: collections.Counter = collections.Counter()
        for w, syms in segs.items():
            for i in range(len(syms) - 1):
                pair_counts[(syms[i], syms[i + 1])] += counts[w]
        if not pair_counts:
            break
        best = min(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        (a, b), n = best
        if n < min_count:
            break
        merges.append((a, b, n))
        segs = {w: ref_merge_pair(syms, a, b) for w, syms in segs.items()}
    return merges


def ref_merge_pair(syms: list[str], a: str, b: str) -> list[str]:
    """``syms`` with every left-to-right non-overlapping adjacent
    (a, b) merged: the reference trainer's re-segmentation step."""
    out: list[str] = []
    prev = None
    for x in syms:
        if prev == a and x == b:
            out.append(a + b)
            prev = None
        else:
            if prev is not None:
                out.append(prev)
            prev = x
    if prev is not None:
        out.append(prev)
    return out


def _driver_merges(
    counts: list[int], segs: list[list[str]], n_merges: int, min_count: int
) -> list[tuple[str, str, int]]:
    """The merge loop over an in-memory distinct-word table: word ``w``
    occurs ``counts[w]`` times and is segmented as ``segs[w]`` (updated
    in place). It keeps an incremental pair index, ``pair_n`` (each
    adjacent pair's count weighted by word count) and ``holders`` (the
    words holding it), and a merge re-counts only the words that hold
    the merged pair. Same (count desc, left asc, right asc) tie-break
    and ``min_count`` stop as the distributed loop."""
    pair_n: dict[tuple[str, str], int] = {}
    holders: dict[tuple[str, str], set[int]] = {}

    def count(w: int, sign: int) -> None:
        syms = segs[w]
        for p in zip(syms, syms[1:]):
            n = pair_n.get(p, 0) + sign * counts[w]
            if sign > 0:
                holders.setdefault(p, set()).add(w)
            else:
                holders[p].discard(w)
            if n:
                pair_n[p] = n
            else:
                del pair_n[p], holders[p]

    for w in range(len(segs)):
        count(w, 1)
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        if not pair_n:
            break
        (a, b), n = min(pair_n.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < min_count:
            break
        merges.append((a, b, n))
        for w in list(holders[(a, b)]):
            count(w, -1)
            segs[w] = ref_merge_pair(segs[w], a, b)
            count(w, 1)
    return merges


def learn_bpe_merges(
    docs: DataFrame,
    n_merges: int = 32,
    text_col: str = "text",
    min_count: int = 2,
    checkpoint_every: int = 4,
    sample_target_docs: int | None = None,
    sample_key_col: str = "doc_id",
) -> list[tuple[str, str, int]]:
    """Train ``n_merges`` BPE merges over the corpus; returns the
    ordered merge list [(left, right, pair_count), ...] — driver-side
    model state.

    Per iteration: the adjacent-pair counts of every word's current
    segmentation, weighted by word count; a deterministic argmax with
    (count desc, left asc, right asc) tie-break; and a re-segmentation
    of the words holding the pair. Stops early when the best pair's
    count falls below ``min_count``.

    **Two merge loops, chosen by the table's size.** The distinct-word
    checkpoint observes its row count on its own job, before anything
    is collected. At or under ``_DRIVER_ROWS`` rows the checkpoint is
    read once through Arrow and :func:`_driver_merges` trains on the
    driver: ``k`` merges launch 3 jobs for any ``k`` (the
    distinct-word shuffle, the checkpoint, the collect). At sf0.1 the
    table has a few dozen rows, and bpe_learn went from 26 jobs to 8.
    Above the bound the table is checkpointed again at the session's
    ``defaultParallelism`` partitions, and each merge is one
    aggregation (the pair-count shuffle and the argmax ``collect``,
    two jobs) plus a map-only SQL fold. The bound, at local[4] on
    synthetic md5 words (32 hex characters): at 10⁵ words the driver
    took 1.0 s to collect the table and about 0.4 s per merge, against
    2.9-3.5 s per merge (with a checkpoint each) for the Spark loop on
    four partitions. Above it, re-partitioning pays where the
    checkpoint has fewer partitions than cores: at 2·10⁵ 8-character
    words, 1.47 s per merge against 2.44 s on the checkpoint's own two
    partitions. Where the checkpoint already has four (2·10⁵ 32-character
    words, 4·10⁵ words) the times are within noise of each other.

    **Scale path — ``sample_target_docs`` (VERDICT r3 item 2).** The
    trainer is a serial loop by construction: one merge after another,
    vocab-size-many merges. What must NOT also grow is the per-merge
    cost. Real tokenizers are universally trained on a
    corpus sample (GPT-2's BPE, SentencePiece's
    ``input_sentence_size`` both subsample), so the scale contract
    here is the same: pass ``sample_target_docs`` and the trainer
    hash-samples the corpus down to ~that many documents
    (deterministic md5-of-``sample_key_col`` sample — same docs kept
    in every run on any partitioning, :func:`~gbif_filter_python_spark.
    operators.corpus.sample_by_hash`) before building the
    distinct-word table. Per-merge cost then depends on the SAMPLE's
    distinct-word count — constant in corpus size — while
    :func:`bpe_token_counts` still encodes the FULL corpus under the
    learned merges. When the corpus is already at or under the
    target the sample is the whole corpus (fraction 1), so small-SF
    results — and the correctness gate — are unchanged.
    ``min_count`` then applies to sample counts: at 10%% sampling an
    effective full-corpus floor of 20 means ``min_count=2``.

    ``checkpoint_every`` applies to the distributed loop only. It
    trades checkpoint-job overhead against plan depth: between
    checkpoints, re-segmentation folds stack as nested HOF
    projections (fine for a few; Catalyst optimization time grows
    with depth). 2 halves the materialization jobs for ~the same
    per-iteration aggregation cost; measured on the sf0.1 table (16
    merges) when it still ran that loop: 5.1 s / 4.0 s / 3.7 s at
    every=1/2/4 — 4 is the default, past which returns diminish
    while expression nesting deepens.
    """
    docs = bpe_training_sample(docs, sample_target_docs, sample_key_col)
    words = _distinct_words(docs, text_col).select(
        "_n", F.array_remove(F.split(F.col("word"), ""), "").alias("_syms")
    )
    segs, probe = observed_checkpoint(words, F.count(F.lit(1)).alias("rows"))
    if probe["rows"] <= _DRIVER_ROWS:
        pdf = segs.toPandas()
        return _driver_merges(
            pdf["_n"].tolist(), [list(s) for s in pdf["_syms"]],
            n_merges, min_count,
        )
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    segs = segs.repartition(parallelism).localCheckpoint(eager=True)
    merges: list[tuple[str, str, int]] = []
    since_ckpt = 0
    for _ in range(n_merges):
        # checkpoint only when a merge is about to read the folds: a
        # checkpoint after the last merge would be read by nothing
        if since_ckpt >= checkpoint_every:
            segs = segs.localCheckpoint(eager=True)
            since_ckpt = 0
        top = (
            segs.selectExpr("_n", _PAIRS_SQL)
            .groupBy("_p")
            .agg(F.sum("_n").alias("n"))
            .orderBy(F.desc("n"), F.asc("_p.a"), F.asc("_p.b"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < min_count:
            break
        a, b, n = top[0]["_p"]["a"], top[0]["_p"]["b"], int(top[0]["n"])
        merges.append((a, b, n))
        segs = segs.selectExpr("_n", _merge_sql(a, b))
        since_ckpt += 1
    return merges


def _encode_word_py(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Classic greedy BPE apply: repeatedly merge the lowest-rank
    adjacent pair. Used inside the vectorized UDF (per distinct word,
    once) and by the tests as the shared definition."""
    syms = list(word)
    while len(syms) > 1:
        best_rank, best_i = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_token_counts(
    docs: DataFrame,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_words, n_bpe_tokens) per document under the trained
    merges.

    Scale shape: explode to (doc, word) → DISTINCT words → encode each
    once (vectorized pandas UDF; the merge loop is per-word iterative,
    the one justified Python step) → broadcast-join token lengths back
    → per-doc sum. The token stream never carries encoded arrays, only
    a word→length int."""
    ranks = {(m[0], m[1]): i for i, m in enumerate(merges)}

    @F.pandas_udf(IntegerType())
    def _n_tokens(words: pd.Series) -> pd.Series:
        return words.map(lambda w: len(_encode_word_py(w, ranks))).astype(
            "int32"
        )

    doc_words = docs.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("word")
    )
    lengths = (
        doc_words.select("word")
        .distinct()
        .select("word", _n_tokens(F.col("word")).alias("_len"))
    )
    return (
        doc_words.join(F.broadcast(lengths), "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("_len").cast("long").alias("n_bpe_tokens"),
        )
    )

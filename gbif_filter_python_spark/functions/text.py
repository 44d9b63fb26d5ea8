"""Text-analysis column functions for training-data pipelines.

Beyond-reference operators (SURVEY.md §2 final row, §7.1 step 7):
language-ID, quality scoring, token counting, document fingerprinting.
All hot-path functions are pure Column expressions — JVM-side, inside
whole-stage codegen, no Python in the loop — so they hold up on a
100 TB documents table.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram heuristic.
# Chosen to be mutually exclusive and high-frequency.
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": (" the ", " and ", " of ", " to "),
    "fr": (" le ", " la ", " et ", " les "),
    "de": (" der ", " die ", " und ", " das "),
    "es": (" el ", " los ", " que ", " y "),
}


def normalized_text(col: Column) -> Column:
    """Lowercase, strip non-alphanumerics to single spaces, trim.

    The canonical form feeding fingerprints and shingle-based dedup —
    whitespace/punctuation variation must not defeat near-dup joins.

    ONE regex pass (optimization r14, guide §1.2 "per-task work"):
    ``[^a-z0-9]+`` already matches every whitespace character, so any
    maximal run of non-alphanumerics — spaces included — collapses to
    a single space in the first replace and a follow-up ``\\s+`` pass
    can never find a multi-space run: it was a per-row no-op, removed
    (byte-identical output, property-tested in
    tests/test_corpus_quality.py).
    """
    return F.trim(F.regexp_replace(F.lower(col), r"[^a-z0-9]+", " "))


def words(col: Column) -> Column:
    """Word array of a text column: the :func:`normalized_text` form
    split on its single spaces. A blank text gives ``[]``; NULL stays
    NULL. Every word-level operator tokenizes through this one
    function (``operators.bpe.ref_words`` is its pure-Python twin).

    ``array_remove(split(...), '')`` instead of a ``CASE WHEN t = ''``
    guard: the guard form evaluates the normalization TWICE per row
    (once for the emptiness test, once for the split), and Catalyst
    does not common-subexpression-eliminate them. The normalized text
    is trimmed and single-spaced, so the only empty token a split can
    yield is the ``['']`` of an empty string, which array_remove
    drops: the same result at half the regex cost.
    """
    return F.array_remove(F.split(normalized_text(col), " "), "")


def md5_bucket(key: Column, buckets: int) -> Column:
    """Stable ``[0, buckets)`` bucket: the first 8 hex chars of the md5
    of the key (cast to string) as an integer, mod ``buckets``.

    md5 (not xxhash64) so the assignment is reproducible across
    engines and releases: the DuckDB oracles replay it as
    ``('0x' || substring(md5(k), 1, 8))::BIGINT % buckets``, and the
    split of a given doc_id never changes between pipeline runs.
    Uniform for any key distribution.
    """
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10)
        .cast("long")
        % buckets
    ).cast("int")


def token_count(col: Column) -> Column:
    """Whitespace token count; 0 for empty/null-ish text."""
    t = F.trim(col)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def word_token_count(col: Column) -> Column:
    """BPE-ish token estimate: word pieces + standalone digits/punct.

    Counts regex word-ish units rather than whitespace chunks — closer
    to what a subword tokenizer sees, still pure-JVM.
    """
    arr = F.regexp_extract_all(col, F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"), 0)
    return F.size(arr)


def _occurrences(col: Column, marker: str) -> Column:
    """Occurrence count of a literal inside a string, JVM-side:
    (len(s) - len(replace(s, m, ''))) / len(m)."""
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(marker), F.lit(""))))
        / F.lit(len(marker))
    ).cast("int")


def language_guess(col: Column) -> Column:
    """Marker-n-gram language heuristic over {en, fr, de, es}.

    Scores each language by total marker-phrase occurrences in the
    lowercased, space-padded text; returns the argmax, or 'und'
    (undetermined) when nothing matches. Pure Column expression:
    greatest() + chained when() — no UDF.
    """
    padded = F.concat(F.lit(" "), F.lower(col), F.lit(" "))
    scores = {
        lang: sum_cols([_occurrences(padded, m) for m in markers])
        for lang, markers in _LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    result = F.lit("und")
    # Deterministic tie-break: first language in dict order wins.
    for lang in reversed(list(scores)):
        result = F.when((best > 0) & (scores[lang] == best), F.lit(lang)).otherwise(
            result
        )
    return result


def sum_cols(cols: list[Column]) -> Column:
    out = cols[0]
    for c in cols[1:]:
        out = out + c
    return out


def quality_score(col: Column) -> Column:
    """Heuristic document quality in [0, 1].

    Blends (a) alphabetic ratio, (b) 1 - punctuation ratio, (c) a
    length factor saturating at 1000 chars, (d) mean-word-length
    sanity. Mirrors the usual pretraining-corpus filters; fully
    SQL-expressible for oracle checking.
    """
    n = F.length(col).cast("double")
    alpha = F.length(F.regexp_replace(col, r"[^A-Za-z]", "")).cast("double")
    # "punctuation" = anything not alphanumeric/whitespace — simpler and
    # portable across regex engines (Java here, RE2 in the DuckDB oracle).
    punct = F.length(F.regexp_replace(col, r"[A-Za-z0-9\s]", "")).cast("double")
    toks = token_count(col).cast("double")
    safe_n = F.when(n > 0, n).otherwise(F.lit(1.0))
    alpha_ratio = alpha / safe_n
    punct_ratio = punct / safe_n
    len_factor = F.least(n / F.lit(1000.0), F.lit(1.0))
    mean_word = F.when(toks > 0, alpha / toks).otherwise(F.lit(0.0))
    word_factor = F.when((mean_word >= 3) & (mean_word <= 10), F.lit(1.0)).otherwise(
        F.lit(0.5)
    )
    score = (
        alpha_ratio * 0.4
        + (F.lit(1.0) - F.least(punct_ratio * 4, F.lit(1.0))) * 0.2
        + len_factor * 0.2
        + word_factor * 0.2
    )
    return F.when(n > 0, F.round(score, 6)).otherwise(F.lit(0.0))


#: PII patterns kept to syntax both Java regex (Spark) and RE2
#: (DuckDB oracle) support: no backreferences, no lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9 ()-]{7,}[0-9]"


def scrub_pii(col: Column) -> Column:
    """Redact email addresses and phone-like digit runs.

    Training corpora must not memorize contact details; this is the
    standard regex-scrub pass. Pure ``regexp_replace`` — JVM-side,
    codegen, safe in the 100 TB hot path. Emails are replaced first
    so their digit-bearing local parts can't be half-eaten by the
    phone pattern.
    """
    no_email = F.regexp_replace(col, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(no_email, PHONE_RE, "<PHONE>")


def pii_count(col: Column) -> Column:
    """Number of PII matches that :func:`scrub_pii` would redact."""
    no_email = F.regexp_replace(col, EMAIL_RE, "<EMAIL>")
    return (
        F.size(F.regexp_extract_all(col, F.lit(EMAIL_RE), 0))
        + F.size(F.regexp_extract_all(no_email, F.lit(PHONE_RE), 0))
    )


def fingerprint64(col: Column) -> Column:
    """64-bit document fingerprint over the normalized text.

    xxhash64 is Spark-native (JVM, codegen). For DuckDB-oracle-checked
    queries use ``F.md5`` instead (common algorithm across engines);
    this one is the engine-internal fast path.
    """
    return F.xxhash64(normalized_text(col))


#: Marker stopwords for the Gopher-style presence check. Padded-space
#: containment (not word-split) keeps the check one JVM `contains` per
#: marker — and identical semantics in the DuckDB oracle's position().
_STOPWORD_MARKERS = (" the ", " and ", " of ", " to ", " a ", " in ")


def gopher_signals(
    col: Column,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_ratio: float = 0.8,
    min_stopword_hits: int = 2,
) -> dict[str, Column]:
    """Gopher/C4-style heuristic document-quality signals.

    Returns named Column expressions (word count, mean word length,
    alphabetic-word ratio, symbol ratio, stopword-marker hits, and the
    combined ``passes`` rule) mirroring the repetition/length filters
    of Rae et al. 2021 (Gopher §A1.1) and Raffel et al. 2020 (C4).
    Pure Column expressions — whole-stage codegen, no Python in the
    100 TB hot path — and every ratio is 6dp-rounded so the DuckDB
    oracle hashes identically.

    Thresholds are parameters (defaults = the published Gopher bounds)
    because real pipelines tune them per-source.
    """
    ws = F.array_remove(F.split(F.trim(col), r"\s+"), "")
    n_words = F.size(ws)
    safe_n = F.when(n_words > 0, n_words.cast("double")).otherwise(F.lit(1.0))
    nonspace = F.length(F.regexp_replace(col, r"\s", "")).cast("double")
    mean_word_len = F.round(nonspace / safe_n, 6)
    alpha_words = F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]")))
    alpha_word_ratio = F.round(alpha_words.cast("double") / safe_n, 6)
    padded = F.concat(F.lit(" "), F.lower(col), F.lit(" "))
    symbol_hits = _occurrences(col, "#") + _occurrences(col, "...")
    symbol_ratio = F.round(symbol_hits.cast("double") / safe_n, 6)
    stopword_hits = sum_cols(
        [
            F.when(F.contains(padded, F.lit(m)), 1).otherwise(0)
            for m in _STOPWORD_MARKERS
        ]
    )
    passes = (
        n_words.between(min_words, max_words)
        & mean_word_len.between(min_mean_word_len, max_mean_word_len)
        & (symbol_ratio <= max_symbol_ratio)
        & (alpha_word_ratio >= min_alpha_word_ratio)
        & (stopword_hits >= min_stopword_hits)
    )
    return {
        "n_words": n_words,
        "mean_word_len": mean_word_len,
        "alpha_word_ratio": alpha_word_ratio,
        "symbol_ratio": symbol_ratio,
        "stopword_hits": stopword_hits,
        "passes": passes,
    }


def normalize_unicode(col: Column, form: str = "NFC") -> Column:
    """Unicode normalization (NFC/NFKC/NFD/NFKD) as an Arrow-batched
    pandas UDF — the one text op in this module that genuinely needs
    Python (the JVM expression library exposes no normalizer).
    Vectorized ``Series.str.normalize`` per batch, no per-row Python.

    Corpus-prep rationale: mixed-source scrapes carry the same grapheme
    in composed and decomposed forms; hash-based dedup and shingling
    treat them as different bytes unless normalized first.
    """
    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        return s.str.normalize(form)

    return _norm(col)


def strip_accents(col: Column) -> Column:
    """Accent/diacritic removal: NFD-decompose, drop combining marks
    (U+0300–U+036F), recompose. Arrow-batched pandas UDF, vectorized
    string ops per batch."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _strip(s: pd.Series) -> pd.Series:
        return (
            s.str.normalize("NFD")
            .str.replace("[\u0300-\u036f]", "", regex=True)
            .str.normalize("NFC")
        )

    return _strip(col)


#: Candidate payment-card pattern: 13-19 digits allowing single
#: space/dash separators, bounded by non-digits. Deliberately loose —
#: the Luhn checksum below is the precision filter.
CARD_RE = r"(?<![0-9])(?:[0-9][ -]?){12,18}[0-9](?![0-9])"


def luhn_valid(digits: Column) -> Column:
    """Luhn checksum (ISO/IEC 7812) over a digit-string Column — pure
    Column arithmetic: reverse the digits, double every second one,
    subtract 9 when the double exceeds 9, sum mod 10 == 0. The
    validation step that turns a loose digit-run regex into a
    credit-card DETECTOR: random phone/serial digit runs pass Luhn
    only ~10% of the time, so checksum-gating cuts regex false
    positives ~10× while keeping every real card number (all issued
    PANs are Luhn-valid).

    Implementation stays inside whole-stage codegen: split → reverse
    → transform-with-index → aggregate; the same fold is expressible
    verbatim in the DuckDB oracle (list_transform/list_sum).
    """
    ds = F.reverse(F.split(digits, ""))
    terms = F.transform(
        ds,
        lambda d, i: F.when(
            i % 2 == 1,
            F.when(
                d.cast("int") * 2 > 9, d.cast("int") * 2 - 9
            ).otherwise(d.cast("int") * 2),
        ).otherwise(d.cast("int")),
    )
    total = F.aggregate(terms, F.lit(0), lambda acc, x: acc + x)
    return (F.length(digits) >= 13) & (total % 10 == 0)


def card_pii_report(col: Column):
    """Per-row payment-card PII signals as a struct Column:
    ``(n_candidates, n_luhn_valid)`` — candidate digit runs matching
    :data:`CARD_RE`, and how many survive the Luhn gate. A corpus
    release pipeline blocks on ``n_luhn_valid > 0`` (near-certain
    card numbers) and merely logs candidates (phones already covered
    by scrub_pii).
    """
    cands = F.regexp_extract_all(col, F.lit(CARD_RE), 0)
    cleaned = F.transform(
        cands, lambda c: F.regexp_replace(c, "[ -]", "")
    )
    valid = F.filter(cleaned, luhn_valid)
    return F.struct(
        F.size(cands).cast("int").alias("n_candidates"),
        F.size(valid).cast("int").alias("n_luhn_valid"),
    )


# --------------------------------------------------------------------------
# Readability (Flesch reading ease, regex-count heuristic)
# --------------------------------------------------------------------------

def syllable_count(col: Column) -> Column:
    """Heuristic syllable count: vowel-group runs in the lowered text.

    The standard cheap proxy (one syllable per maximal ``[aeiouy]+``
    run) — deterministic, pure-JVM `regexp_count`, mirrored by
    ``len(regexp_extract_all(...))`` in the DuckDB oracle twin.
    """
    return F.regexp_count(F.lower(col), F.lit("[aeiouy]+"))


def sentence_count(col: Column) -> Column:
    """Terminator-run count, floored at 1 so fragment-only documents
    (the synthetic corpus has no punctuation) count as one sentence."""
    return F.greatest(F.lit(1), F.regexp_count(col, F.lit("[.!?]+")))


def flesch_reading_ease(col: Column) -> Column:
    """Flesch reading ease: 206.835 - 1.015*(W/S) - 84.6*(Syl/W).

    Null for empty documents (division guard), 4dp rounding. A corpus
    quality gate bands on this next to gopher_filters/quality_scores;
    everything stays inside whole-stage codegen so the pass is a
    map-only scan at 100 TB.
    """
    words = token_count(col)
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (words / sentence_count(col))
        - F.lit(84.6) * (syllable_count(col) / words)
    )
    return F.when(words > 0, F.round(score, 4))

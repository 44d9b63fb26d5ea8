"""Vector column functions over ``array<float>`` embeddings.

Built on ``F.zip_with`` / ``F.aggregate`` higher-order functions —
JVM-side, no Python per row — for the similarity-search operators
(SURVEY.md beyond-reference block). DuckDB twins:
``list_dot_product`` / ``list_cosine_similarity``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from gbif_filter_python_spark.functions.text import md5_bucket, words


def dot_product(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot_product(a, b) / denom).otherwise(F.lit(0.0))


def max_abs(a: Column) -> Column:
    """Largest |v| of the vector (exact — no summation order issues)."""
    return F.aggregate(
        a,
        F.lit(0.0),
        lambda acc, v: F.greatest(acc, F.abs(v.cast("double"))),
    )


def quantize_int8(a: Column) -> Column:
    """Symmetric int8 quantization: ``round(v * 127 / max|v|)``.

    The standard embedding-compression step before writing an ANN
    index (4x smaller than float32). Uses ``floor(x + 0.5)`` instead
    of ``round`` so ties resolve identically across engines, and
    every arithmetic op is a single IEEE double operation (max, mul,
    div) — bit-deterministic, so the DuckDB oracle hash-matches.
    Zero vectors quantize to all zeros.
    """
    m = max_abs(a)
    return F.transform(
        a,
        lambda v: F.when(m > 0, F.floor(v.cast("double") * 127.0 / m + 0.5))
        .otherwise(F.lit(0))
        .cast("int"),
    )


def hashed_embedding(text: Column, dim: int = 64) -> Column:
    """Feature-hashing text embedding: normalized words hash into
    ``dim`` buckets (md5-based — reproducible across engines and
    releases, :func:`~.text.md5_bucket`), counts L2-normalize into a
    unit ``array<double>`` — a model-free featurizer that makes every
    ANN/dedup operator in similarity.py/dedup.py applicable to raw
    text columns.

    Pure Column ops end to end (no UDF): one O(dim) fold per word.
    Values round to 6dp so downstream hashes are fp-stable
    cross-engine; empty/whitespace text yields the zero vector.
    """
    buckets = F.transform(words(text), lambda w: md5_bucket(w, dim))
    counts = F.aggregate(
        buckets,
        F.array_repeat(F.lit(0.0), dim),
        lambda acc, b: F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda v, i: v + F.when(b == i, 1.0).otherwise(0.0),
        ),
    )
    # Catalyst does no CSE inside lambdas: referencing ``counts`` from
    # both the norm and the per-element division would re-evaluate the
    # whole O(words × dim) fold for every output element (measured
    # 18×). Bind counts, then the norm, each exactly once as a lambda
    # variable via the array-of-one idiom.
    return F.element_at(
        F.transform(
            F.array(counts),
            lambda c: F.element_at(
                F.transform(
                    F.array(
                        F.sqrt(
                            F.aggregate(
                                c, F.lit(0.0), lambda a, v: a + v * v
                            )
                        )
                    ),
                    lambda n: F.transform(
                        c,
                        lambda v: F.when(n > 0, F.round(v / n, 6)).otherwise(
                            0.0
                        ),
                    ),
                ),
                1,
            ),
        ),
        1,
    )


def projection_signs(
    in_dim: int, out_dim: int, seed: int = 0
) -> list[list[float]]:
    """Deterministic ±1 sign matrix for :func:`random_projection`.

    ``sign[i][j] = +1`` iff the first 8 hex chars of
    ``md5("rp:{seed}:{i}:{j}")`` are even — the same md5-arithmetic
    idiom as :func:`~.text.md5_bucket`, so ANY engine (the DuckDB
    oracle included) reproduces the matrix bit-for-bit. Computed once
    driver-side with hashlib (identical to SQL md5) — this is MODEL
    STATE, like a k-means centroid table: out_dim × in_dim floats
    (~a few KB), embedded as literals so executors never hash.
    """
    import hashlib

    return [
        [
            1.0
            if int(
                hashlib.md5(f"rp:{seed}:{i}:{j}".encode()).hexdigest()[:8],
                16,
            )
            % 2
            == 0
            else -1.0
            for j in range(in_dim)
        ]
        for i in range(out_dim)
    ]


def random_projection(
    vec: Column, in_dim: int, out_dim: int, seed: int = 0
) -> Column:
    """Johnson–Lindenstrauss random projection to ``out_dim`` dims.

    Achlioptas (2001) database-friendly ±1 projection:
    ``out[i] = round(sum_j sign(i,j) * v[j] / sqrt(out_dim), 6)`` —
    pairwise distances are preserved within (1 ± ε) for
    ``out_dim = O(ln n / ε²)``, which is what makes 64→16 (or
    1536→128 in production) a safe pre-step for the ANN / semantic
    dedup operators: 4× less shuffle bytes per vector.

    Scale design: the sign matrix is driver-computed literals
    (:func:`projection_signs`) compiled into whole-stage codegen —
    the projection is MAP-ONLY, no shuffle, no UDF, no per-row
    hashing. The fold is a strict left-to-right ``F.aggregate``, so
    the sum order (hence the rounded double) is engine-reproducible.

    Pick ``out_dim`` a power of four and the scale ``1/sqrt(out_dim)``
    is an exact binary double, keeping cross-engine parity trivially.
    """
    signs = projection_signs(in_dim, out_dim, seed)
    scale = 1.0 / (out_dim**0.5)
    comps = [
        F.round(
            F.aggregate(
                F.zip_with(
                    vec,
                    F.array(*[F.lit(s) for s in signs[i]]),
                    lambda x, y: x.cast("double") * y,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            * F.lit(scale),
            6,
        )
        for i in range(out_dim)
    ]
    return F.array(*comps)

"""Scale the driver's synthetic testdata to larger scale factors for
scale-validation benchmarks (VERDICT r3 item 1).

The driver generates sf0.001/sf0.01/sf0.1 only; the 100 TB design
claims need a measured scaling exponent, which needs a 10x dataset.
This tool replicates an existing sf directory K times with
key-consistent shifts so every join relationship and per-key
distribution survives:

* TPC-H keys (custkey/orderkey/partkey/suppkey) shift by
  ``replica * 10_000_000`` uniformly on both fact and dimension sides
  — referential integrity preserved, per-key fanouts identical.
  ``nation``/``region`` stay fixed-size (as in TPC-H at every SF),
  nationkeys unshifted.
* ``events``: event_id shifts; user_id shifts by ``replica * 10_000``
  so the user population scales 10x with the data (per-user history
  length — the sessionize/window working set — stays constant, which
  is how real event data grows).
* ``documents``: doc_id shifts; for replica > 0 every WORD gets a
  replica suffix (one vectorized regexp), so cross-replica shingle
  Jaccard ~ 0 and near-dup structure stays LINEAR in corpus size
  (naive replication would give every doc 9 exact twins and blow the
  pair count up 174x — a benchmark artifact, not scaling).
  ``n_chars`` is recomputed to match the rewritten text. The suffix
  lengthens every text in a replica above 0, so text bytes grow
  faster than rows: from sf0.1, 10 copies hold 14.9× the text bytes
  and 100 copies 170.5× (mean document 297.1 → 443.3 → 506.6 chars)
  for the same whitespace-token count per document, and every word
  of such a replica carries the replica's digits.
* ``embeddings``: vec_id shifts; for replica > 0 the vector is
  cyclically rotated by ``replica`` positions — magnitudes and
  per-vector distributions identical, cross-replica cosine decorrelated,
  so ANN/near-dup pair structure also stays linear.

Usage: python tools/scale_data.py [--src /root/testdata/sf0.1]
           [--out /root/repo/.localdata/sf1] [--copies 10]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from gbif_filter_python_spark.session import get_spark
from gbif_filter_python_spark.sources.io import read_table

KEY_STRIDE = 10_000_000
USER_STRIDE = 10_000

#: key columns shifted by replica * KEY_STRIDE, per table
SHIFT_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
}


def _replicate(df: DataFrame, copies: int, shift_exprs) -> DataFrame:
    """Union ``copies`` key-shifted replicas. ``shift_exprs(df, i)``
    returns the select list for replica ``i``."""
    parts = [df.select(*shift_exprs(df, i)) for i in range(copies)]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def scale_dir(spark, src: str, out: str, copies: int) -> dict:
    os.makedirs(out, exist_ok=True)
    timings = {}

    def write(name: str, df: DataFrame):
        t0 = time.perf_counter()
        df.write.mode("overwrite").parquet(f"{out}/{name}.parquet")
        timings[name] = round(time.perf_counter() - t0, 2)

    # fixed-size dims: straight copy
    for name in ("nation", "region"):
        write(name, spark.read.parquet(f"{src}/{name}.parquet"))

    # TPC-H tables: uniform key shifts
    for name, keys in SHIFT_COLS.items():
        df = spark.read.parquet(f"{src}/{name}.parquet")

        def exprs(d, i, _keys=keys):
            return [
                (F.col(c) + i * KEY_STRIDE).alias(c)
                if c in _keys
                else F.col(c)
                for c in d.columns
            ]

        write(name, _replicate(df, copies, exprs))

    # events: shift event ids; scale the user population. read_table
    # normalizes the TIMESTAMP(NANOS) physical flavor to ltz micros —
    # the rewritten table reads back identically through read_table.
    ev = read_table(spark, src, "events")

    def ev_exprs(d, i):
        out_cols = []
        for c in d.columns:
            if c == "event_id":
                out_cols.append((F.col(c) + i * KEY_STRIDE).alias(c))
            elif c == "user_id":
                out_cols.append((F.col(c) + i * USER_STRIDE).alias(c))
            else:
                out_cols.append(F.col(c))
        return out_cols

    write("events", _replicate(ev, copies, ev_exprs))

    # documents: per-replica word suffix decorrelates shingles
    docs = spark.read.parquet(f"{src}/documents.parquet")

    def doc_exprs(d, i):
        text = (
            F.col("text")
            if i == 0
            # The suffix must SURVIVE normalized_text (lowercase,
            # [^a-z0-9]+ -> space) as part of the word it decorates:
            # a separator-attached suffix ("word~r3") normalizes to a
            # standalone token interleaved between every word, which
            # both doubles the token count and dilutes a k-shingle to
            # ceil(k/2) content words — within-replica shingle df
            # explodes ~100x and the "linear pair structure" claim
            # below silently breaks. Append to each alphanumeric run
            # with no separator instead ("wordq3x").
            else F.regexp_replace(F.col("text"), r"([A-Za-z0-9]+)", rf"$1q{i}x")
        )
        out_cols = []
        for c in d.columns:
            if c == "doc_id":
                out_cols.append((F.col(c) + i * KEY_STRIDE).alias(c))
            elif c == "text":
                out_cols.append(text.alias(c))
            elif c == "n_chars":
                out_cols.append(F.length(text).cast("long").alias(c))
            else:
                out_cols.append(F.col(c))
        return out_cols

    write("documents", _replicate(docs, copies, doc_exprs))

    # embeddings: cyclic rotation decorrelates cross-replica cosine
    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    emb_dim = len(emb.select("embedding").first()["embedding"])
    # The rotation+sign-flip scheme has period 2*dim: replica 2*dim
    # would be bit-identical to replica 0, silently reintroducing
    # superlinear near-dup structure (ADVICE r6) — fail loudly instead.
    if copies > 2 * emb_dim:
        raise ValueError(
            f"copies={copies} exceeds the rotation+sign-flip period "
            f"2*emb_dim={2 * emb_dim}: replica {2 * emb_dim} would be "
            "an exact twin of replica 0 (quadratic near-dup blowup); "
            "use a wider source or add a per-wrap element offset"
        )

    def emb_exprs(d, i):
        v = F.col("embedding")
        # Rotation wraps at the vector dim (a replica count above dim
        # would ask slice() for a negative length); each full wrap
        # flips sign so replica `dim` is the NEGATION of replica 0
        # (cosine -1), never an exact twin — near-dup structure stays
        # linear in corpus size at any copy count.
        dim = emb_dim
        r = i % dim
        rot = (
            v
            if r == 0
            else F.concat(
                F.slice(v, r + 1, F.size(v) - r), F.slice(v, 1, r)
            )
        )
        if (i // dim) % 2 == 1:
            rot = F.transform(rot, lambda x: -x)
        out_cols = []
        for c in d.columns:
            if c == "vec_id":
                out_cols.append((F.col(c) + i * KEY_STRIDE).alias(c))
            elif c == "embedding":
                out_cols.append(rot.alias(c))
            else:
                out_cols.append(F.col(c))
        return out_cols

    write("embeddings", _replicate(emb, copies, emb_exprs))
    return timings


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/root/repo/.localdata/sf1")
    ap.add_argument("--copies", type=int, default=10)
    args = ap.parse_args()
    spark = get_spark(app_name="scale-data")
    spark.sparkContext.setLogLevel("ERROR")
    t = scale_dir(spark, args.src, args.out, args.copies)
    print({"out": args.out, "copies": args.copies, "write_sec": t})
    spark.stop()


if __name__ == "__main__":
    main()

"""Streaming deduplication — exact dedup over unbounded streams with
watermark-bounded state.

Batch exact dedup (operators/dedup.py) hashes and groups; a stream
can't group unbounded history, so the streaming twin uses
``dropDuplicatesWithinWatermark``: each key is remembered only until
the watermark passes its event time, so state size is bounded by
(arrival rate × watermark horizon) instead of growing forever — the
only formulation that survives an unbounded 100 TB/day ingest. A
duplicate arriving after the watermark horizon is NOT caught (that is
the documented trade-off; widen the watermark to widen the guarantee,
paying proportional state).

The batch path of the same function is plain ``dropDuplicates`` so one
pipeline definition runs identically in backfill and streaming mode
(the repo's batch ≡ stream test discipline, streaming/windows.py).
"""

from __future__ import annotations

import logging

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)

from gbif_filter_python_spark.functions.text import fingerprint64


def streaming_exact_dedup(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """First occurrence per key wins; duplicates within the watermark
    horizon are dropped. Works on both streaming and batch frames."""
    if df.isStreaming:
        return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            key_cols
        )
    return df.dropDuplicates(key_cols)


def streaming_content_dedup(
    df: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Content-hash variant for document streams: dedup on the 64-bit
    hash of the normalized text (8-byte state entries — the document
    body never enters the state store), mirroring the batch
    ``exact_dedup``."""
    with_hash = df.withColumn("_h", fingerprint64(F.col(text_col)))
    return streaming_exact_dedup(
        with_hash, ["_h"], ts_col=ts_col, watermark=watermark
    ).drop("_h")


def incremental_corpus_writer(
    stream: DataFrame,
    store_path: str,
    checkpoint_path: str,
    text_col: str = "text",
):
    """foreachBatch sink: accumulate a deduplicated document corpus.

    The watermark variants above bound state by TIME; an ingest
    pipeline building a training corpus needs the opposite guarantee —
    a document seen at ANY point in history is never re-admitted. That
    history can't live in streaming state (unbounded), so it lives in
    the store itself: each micro-batch is content-hashed, deduplicated
    within the batch, anti-joined against the hashes already on disk,
    and appended. Parquet column pruning means the history scan reads
    only the 8-byte ``_h`` column, not the documents.

    Exactly-once: each batch writes to its own ``batch_id=N``
    partition directory with ``mode("overwrite")``, so a replayed
    batch overwrites its own previous (possibly partial) output
    instead of double-appending; the history anti-join EXCLUDES the
    current batch_id partition, so a replay after a complete-but-
    uncommitted write does not see its own rows and empty itself.

    Returns a configured ``DataStreamWriter`` — call ``.start()``.
    """

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fresh = batch_df.withColumn(
            "_h", fingerprint64(F.col(text_col))
        ).dropDuplicates(["_h"])
        try:
            seen = (
                spark.read.parquet(store_path)
                .filter(F.col("batch_id") != batch_id)
                .select("_h")
            )
            fresh = fresh.join(seen, "_h", "left_anti")
        except AnalysisException as exc:
            # First batch: the store path does not exist yet. ONLY the
            # missing-path analysis error is absorbed — a corrupt store
            # or permission failure must surface, not silently re-admit
            # duplicates.
            logger.info(
                "dedup store %s unreadable (%s); batch %d starts fresh",
                store_path, exc, batch_id,
            )
        fresh.write.mode("overwrite").parquet(
            f"{store_path}/batch_id={batch_id}"
        )

    return (
        stream.writeStream.foreachBatch(_merge)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_path)
    )

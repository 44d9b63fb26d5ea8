"""Structured Streaming tests: the same windowed transformation runs
in batch and incremental mode and agrees (SURVEY.md §7.1 step 8)."""

from __future__ import annotations

import pytest

from gbif_filter_python_spark.streaming.windows import (
    stream_events,
    windowed_event_counts,
)
from tests.conftest import session_conf


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Write the sf0.001 events as a small multi-file parquet dir so
    the file-source stream has files to micro-batch over."""
    from gbif_filter_python_spark.sources.io import read_table

    out = str(tmp_path_factory.mktemp("events_stream"))
    # repartitionByRange on ts: each file covers a time range → replay
    # approximates event order, as time-partitioned ingest would.
    read_table(spark, "/root/testdata/sf0.001", "events").repartitionByRange(
        4, "ts"
    ).write.mode("overwrite").parquet(out)
    # FileStreamSource orders files by MODIFICATION TIME; a single write
    # gives all parts the same mtime, making replay order (and any
    # order-sensitive stateful test) flaky. Stagger mtimes to match
    # path order.
    import glob as _glob
    import os as _os
    import time as _time

    base = _time.time() - 1000
    for i, f in enumerate(sorted(_glob.glob(f"{out}/part-*.parquet"))):
        _os.utime(f, (base + i * 10, base + i * 10))
    return out


def test_batch_windowed_counts(spark, events_dir):
    events = spark.read.parquet(events_dir)
    out = windowed_event_counts(events, "1 hour")
    rows = out.collect()
    assert len(rows) > 0
    assert out.columns == [
        "window_start", "window_end", "event_type", "n_events", "sum_value",
    ]
    assert sum(r["n_events"] for r in rows) == events.count()


def test_stream_matches_batch(spark, events_dir, tmp_path):
    events = spark.read.parquet(events_dir)
    expected = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["sum_value"], 6))
        for r in windowed_event_counts(events, "1 hour", watermark=None).collect()
    }

    stream = stream_events(spark, events_dir)
    assert stream.isStreaming
    agg = windowed_event_counts(stream, "1 hour", watermark="4 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["window_start"], r["event_type"]): (
                r["n_events"],
                round(r["sum_value"], 6),
            )
            for r in spark.sql("SELECT * FROM win_counts").collect()
        }
    finally:
        q.stop()
    assert got == expected


def test_stateful_sessionize_stream(spark, events_dir, tmp_path):
    """applyInPandasWithState sessionization over a file stream: every
    CLOSED session must match the batch lag+cumsum sessionization."""
    from pyspark.sql import functions as F

    from gbif_filter_python_spark.streaming.stateful import sessionize_stateful

    events = spark.read.parquet(events_dir)

    # batch oracle: lag+cumsum sessions (same 30-min gap)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    sessions = (
        events.withColumn(
            "is_new", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
        )
        .withColumn(
            "sid",
            F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "sid")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
        )
    )
    expected = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in sessions.collect()
    }

    stream = spark.readStream.schema(events.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(events_dir)
    out = sessionize_stateful(stream, gap_seconds=1800, watermark=None)
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["user_id"], r["session_start"], r["n_events"])
            for r in spark.sql("SELECT * FROM sessions_out").collect()
        }
    finally:
        q.stop()
    # The stream only emits CLOSED sessions (last session per user may
    # still be open in state) → got ⊆ expected, and substantial.
    assert got <= expected
    assert len(got) >= len(expected) * 0.5


def test_event_time_timeout_flushes_idle_session(spark, tmp_path):
    """timeout='event' (VERDICT r1 #7): an idle user's open session
    must flush when the WATERMARK (advanced by other users' events)
    passes session_end + gap — no further events for that user, no
    wall-clock dependence."""
    import datetime
    import glob
    import os

    from gbif_filter_python_spark.streaming.stateful import sessionize_stateful

    d = str(tmp_path / "ev_et")
    os.makedirs(d, exist_ok=True)
    t0 = datetime.datetime(2021, 1, 1, 0, 0, 0)

    def _append(rows, mtime):
        # one file per micro-batch, mtimes staggered so FileStreamSource
        # replays in this order (it sorts by modification time)
        before = set(glob.glob(f"{d}/part-*.parquet"))
        spark.createDataFrame(
            rows, "user_id long, event_id long, ts timestamp, value double"
        ).coalesce(1).write.mode("append").parquet(d)
        for f in set(glob.glob(f"{d}/part-*.parquet")) - before:
            os.utime(f, (mtime, mtime))

    base = 1_600_000_000
    # batch 0: user 1's only session (2 events, 60 s apart)
    _append(
        [(1, 1, t0, 1.0), (1, 2, t0 + datetime.timedelta(seconds=60), 2.0)],
        base,
    )
    # batch 1: user 2 at t0+4h → next batch's watermark = 3h (1h delay),
    # which is far past user 1's session_end + 30-min gap
    _append([(2, 3, t0 + datetime.timedelta(hours=4), 1.0)], base + 10)
    # batch 2: user 2 again → the batch in which user 1's timer fires
    _append([(2, 4, t0 + datetime.timedelta(hours=5), 1.0)], base + 20)

    schema = "user_id long, event_id long, ts timestamp, value double"
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(d)
    out = sessionize_stateful(
        stream, gap_seconds=1800, watermark="1 hour", timeout="event"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_et")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_et"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
            for r in spark.sql("SELECT * FROM sessions_et").collect()
        }
    finally:
        q.stop()
    # user 1 never got another event; only the event-time timer can
    # have closed this session
    assert (1, t0, t0 + datetime.timedelta(seconds=60), 2) in got, got


def test_stream_stream_interval_join_matches_batch(spark, events_dir, tmp_path):
    """Stream-stream inner interval join (clicks ⋈ purchases within the
    preceding hour, per user) must emit exactly the batch join's pairs;
    watermarks on both sides bound the join state."""
    from pyspark.sql import functions as F

    from gbif_filter_python_spark.streaming.joins import interval_join
    from gbif_filter_python_spark.streaming.windows import stream_events

    def _sides(events):
        clicks = events.filter(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts"
        )
        purchases = events.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("p_event_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        return clicks, purchases

    batch = spark.read.parquet(events_dir)
    cb, pb = _sides(batch)
    expected = {
        (r["event_id"], r["p_event_id"])
        for r in interval_join(
            cb, pb, on="user_id", left_ts="ts", right_ts="p_ts",
            lookback="1 hour",
        ).collect()
    }
    assert expected, "fixture must produce click/purchase pairs"

    stream = stream_events(spark, events_dir)
    cs, ps = _sides(stream)
    joined = interval_join(
        cs, ps, on="user_id", left_ts="ts", right_ts="p_ts",
        lookback="1 hour", watermark="48 hours",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["event_id"], r["p_event_id"])
            for r in spark.sql("SELECT * FROM ssj_out").collect()
        }
    finally:
        q.stop()
    assert got == expected


def test_streaming_dedup_drops_cross_batch_duplicates(spark, tmp_path):
    """dropDuplicatesWithinWatermark twin of batch exact dedup: a key
    re-arriving in a LATER micro-batch (within the watermark horizon)
    must be dropped; each unique key is emitted exactly once."""
    import datetime
    import glob
    import os

    from gbif_filter_python_spark.streaming.dedup import streaming_exact_dedup

    d = str(tmp_path / "ev_dd")
    os.makedirs(d, exist_ok=True)
    t0 = datetime.datetime(2021, 1, 1, 0, 0, 0)
    schema = "event_id long, ts timestamp, value double"

    def _append(rows, mtime):
        before = set(glob.glob(f"{d}/part-*.parquet"))
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(d)
        for f in set(glob.glob(f"{d}/part-*.parquet")) - before:
            os.utime(f, (mtime, mtime))

    m = datetime.timedelta(minutes=1)
    base = 1_600_000_000
    _append([(1, t0, 1.0), (2, t0 + 10 * m, 2.0)], base)
    # exact duplicates of 1 and 2, plus new key 3
    _append([(1, t0, 1.0), (2, t0 + 10 * m, 2.0), (3, t0 + 20 * m, 3.0)],
            base + 10)
    # duplicate of 3, plus new key 4
    _append([(3, t0 + 20 * m, 3.0), (4, t0 + 30 * m, 4.0)], base + 20)

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(d)
    out = streaming_exact_dedup(
        stream, ["event_id"], ts_col="ts", watermark="2 hours"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dd"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT event_id FROM dedup_out").collect()
    finally:
        q.stop()
    ids = sorted(r["event_id"] for r in rows)
    assert ids == [1, 2, 3, 4], ids

    # batch path of the same function: plain dropDuplicates
    batch = spark.read.parquet(d)
    assert streaming_exact_dedup(batch, ["event_id"]).count() == 4


def test_incremental_corpus_writer_cross_batch_unique(spark, tmp_path):
    """foreachBatch corpus sink: duplicates within a batch, across
    batches, and formatting-variant near-identical texts (same
    normalized hash) are all admitted exactly once; the store is
    partitioned by batch_id."""
    import glob
    import os

    from gbif_filter_python_spark.streaming.dedup import (
        incremental_corpus_writer,
    )

    src = str(tmp_path / "docs_src")
    store = str(tmp_path / "corpus_store")
    os.makedirs(src, exist_ok=True)
    schema = "doc_id long, text string"

    def _append(rows, mtime):
        before = set(glob.glob(f"{src}/part-*.parquet"))
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        for f in set(glob.glob(f"{src}/part-*.parquet")) - before:
            os.utime(f, (mtime, mtime))

    base = 1_600_000_000
    _append([(1, "alpha beta"), (2, "alpha beta"), (3, "gamma delta")], base)
    # cross-batch duplicate of doc 1 (different doc_id, same content)
    # and a FORMATTING variant (normalizes to the same text)
    _append([(4, "alpha beta"), (5, "  Gamma   DELTA "), (6, "epsilon")],
            base + 10)

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = incremental_corpus_writer(
        stream, store, str(tmp_path / "ckpt_corpus")
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.read.parquet(store)
    texts = sorted(r["text"] for r in out.collect())
    assert texts == ["alpha beta", "epsilon", "gamma delta"], texts
    # batch_id partition column discovered from the directory layout
    assert "batch_id" in out.columns
    assert out.select("batch_id").distinct().count() == 2


def test_stream_static_enrich_matches_batch(spark, events_dir, tmp_path):
    """Stream-static left join (no state, dim broadcast per batch)
    produces exactly the batch join's rows, and survives an
    AvailableNow backfill run — the catch-up trigger that drains all
    pending files in bounded micro-batches then stops (how a nightly
    restart processes a day's backlog with streaming semantics)."""
    from pyspark.sql import functions as F

    from gbif_filter_python_spark.streaming.joins import static_enrich
    from gbif_filter_python_spark.streaming.windows import stream_events

    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 0.1), ("purchase", 5.0)],
        "event_type string, weight double",
    )
    batch = spark.read.parquet(events_dir)
    expected = dict(
        static_enrich(batch, dim, "event_type")
        .groupBy("event_type")
        .agg(F.round(F.sum(F.col("value") * F.col("weight")), 4).alias("s"))
        .collect()
    )

    stream = static_enrich(stream_events(spark, events_dir), dim, "event_type")
    q = (
        stream.groupBy("event_type")
        .agg(F.round(F.sum(F.col("value") * F.col("weight")), 4).alias("s"))
        .writeStream.format("memory")
        .queryName("enriched")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_enrich"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = dict(spark.sql("SELECT event_type, s FROM enriched").collect())
    assert got == expected


def test_static_enrich_rejects_right_join(spark, events_dir):
    from gbif_filter_python_spark.streaming.joins import static_enrich
    from gbif_filter_python_spark.streaming.windows import stream_events

    dim = spark.createDataFrame([("click", 1.0)], "event_type string, w double")
    with pytest.raises(ValueError):
        static_enrich(stream_events(spark, events_dir), dim, "event_type", how="full")


def test_static_enrich_broadcast_is_opt_in(spark):
    """By default the dim carries NO forced broadcast hint (a large
    static side must be allowed to fall back to a shuffled join under
    autoBroadcastJoinThreshold); broadcast=True injects the hint."""
    from gbif_filter_python_spark.streaming.joins import static_enrich

    fact = spark.createDataFrame([("click", 1)], "event_type string, v long")
    dim = spark.createDataFrame([("click", 1.0)], "event_type string, w double")

    default_plan = static_enrich(fact, dim, "event_type")._jdf.queryExecution().optimizedPlan().toString()
    hinted_plan = static_enrich(fact, dim, "event_type", broadcast=True)._jdf.queryExecution().analyzed().toString()
    assert "broadcast" not in default_plan.lower()
    assert "broadcast" in hinted_plan.lower()


def test_cdc_snapshot_writer_matches_batch_merge(spark, tmp_path):
    """Streaming CDC merge: two change micro-batches fold into a
    versioned snapshot whose latest version equals the one-shot batch
    cdc_apply of all changes; earlier versions remain readable (time
    travel)."""
    import glob
    import os

    from gbif_filter_python_spark.operators.scd import cdc_apply
    from gbif_filter_python_spark.streaming.cdc import (
        cdc_snapshot_writer,
        read_cdc_snapshot,
    )

    src = str(tmp_path / "cdc_src")
    snap = str(tmp_path / "cdc_snap")
    os.makedirs(src, exist_ok=True)
    schema = "k long, v string, op string, change_ts timestamp"

    def _append(rows, mtime):
        before = set(glob.glob(f"{src}/part-*.parquet"))
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        for f in set(glob.glob(f"{src}/part-*.parquet")) - before:
            os.utime(f, (mtime, mtime))

    import datetime

    t = lambda i: datetime.datetime(2024, 1, 1, i)  # noqa: E731
    base = 1_600_000_000
    b1 = [(1, "a", "I", t(1)), (2, "b", "I", t(1)), (3, "c", "I", t(1))]
    b2 = [(2, "b2", "U", t(2)), (3, None, "D", t(2)), (4, "d", "I", t(2))]
    _append(b1, base)
    _append(b2, base + 10)

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = cdc_snapshot_writer(
        stream, snap, str(tmp_path / "ckpt_cdc"), ["k"]
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    latest = {
        r["k"]: r["v"] for r in read_cdc_snapshot(spark, snap).collect()
    }
    all_changes = spark.createDataFrame(b1 + b2, schema)
    empty = all_changes.select("k", "v").limit(0)
    want = {
        r["k"]: r["v"] for r in cdc_apply(empty, all_changes, ["k"]).collect()
    }
    assert latest == want == {1: "a", 2: "b2", 4: "d"}
    # time travel: version 0 holds only batch-1 state
    v0 = {
        r["k"]: r["v"]
        for r in read_cdc_snapshot(spark, snap, version=0).collect()
    }
    assert v0 == {1: "a", 2: "b", 3: "c"}

    # ADVICE r3: a version directory without _SUCCESS is a write in
    # flight (or a crash) — "latest" must skip it, and asking for it
    # explicitly must fail, or a reader racing the stream sees a
    # partially-written snapshot.
    import pytest

    os.makedirs(f"{snap}/version=99", exist_ok=True)
    with open(f"{snap}/version=99/part-phantom.parquet", "wb") as fh:
        fh.write(b"not a committed file")
    latest_after = {
        r["k"]: r["v"] for r in read_cdc_snapshot(spark, snap).collect()
    }
    assert latest_after == want
    with pytest.raises(FileNotFoundError):
        read_cdc_snapshot(spark, snap, version=99)


def test_stream_stream_interval_join_left_outer_emits_nulls(spark, tmp_path):
    """LEFT OUTER stream-stream interval join: an unmatched left row
    must emit a null-padded result once the watermark passes its join
    window (never before — correctness depends on the time bound), and
    matched rows emit normally."""
    import datetime
    import glob
    import os

    from pyspark.sql import functions as F

    from gbif_filter_python_spark.streaming.joins import interval_join

    d = str(tmp_path / "ssj_outer_src")
    os.makedirs(d, exist_ok=True)
    t0 = datetime.datetime(2021, 1, 1, 0, 0, 0)
    schema = (
        "event_id long, user_id long, event_type string, ts timestamp"
    )

    def _append(rows, mtime):
        before = set(glob.glob(f"{d}/part-*.parquet"))
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(d)
        for f in set(glob.glob(f"{d}/part-*.parquet")) - before:
            os.utime(f, (mtime, mtime))

    base = 1_600_000_000
    m = datetime.timedelta(minutes=1)
    # batch 0: user 1 clicks, never purchases; user 2 purchases, then
    # clicks 10 min later (the purchase is inside the click's 1h
    # LOOKBACK — the interval condition wants the right row BEFORE
    # the left one)
    _append(
        [
            (1, 1, "click", t0 + 10 * m),
            (3, 2, "purchase", t0),
            (2, 2, "click", t0 + 10 * m),
        ],
        base,
    )
    # batches 1-2: far-future events ON BOTH SIDES. The global
    # watermark is the MIN across inputs, so the purchases side must
    # also see late events or its watermark pins the join state
    # forever and no outer row ever emits.
    _append(
        [
            (4, 9, "click", t0 + datetime.timedelta(hours=12)),
            (6, 9, "purchase", t0 + datetime.timedelta(hours=12)),
        ],
        base + 10,
    )
    _append(
        [
            (5, 9, "click", t0 + datetime.timedelta(hours=13)),
            (7, 9, "purchase", t0 + datetime.timedelta(hours=13)),
        ],
        base + 20,
    )

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(d)
    clicks = stream.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = stream.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    joined = interval_join(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="p_ts",
        lookback="1 hour", watermark="1 hour", how="left",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_outer")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj_outer"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["event_id"], r["p_event_id"])
            for r in spark.sql("SELECT * FROM ssj_outer").collect()
        }
    finally:
        q.stop()
    assert (2, 3) in got          # matched pair emits
    assert (1, None) in got       # unmatched left emits null-padded
    assert (2, None) not in got   # matched left never also emits null


def test_transform_with_state_running_totals(spark, events_dir, tmp_path):
    """Spark 4 transformWithStateInPandas (state-v2, RocksDB): the
    LAST emitted running total per user over a file stream must equal
    the batch groupBy totals. maxFilesPerTrigger=1 forces multiple
    micro-batches, so state genuinely carries across batches."""
    import pyspark.sql.functions as F

    # The state-v2 Python protocol serializes over protobuf; without
    # it the TWS driver worker crashes on startup (verified in this
    # container). Real-cluster images ship protobuf with pyspark.
    pytest.importorskip("google.protobuf")

    from gbif_filter_python_spark.streaming.stateful import (
        running_totals_tws,
    )

    events = spark.read.parquet(events_dir)
    expected = {
        r["user_id"]: (r["n"], round(r["s"], 6))
        for r in events.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }

    with session_conf(spark, extra={
            "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"}):
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(events_dir)
        )
        out = running_totals_tws(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("tws_totals")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "tws_ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            rows = spark.sql(
                "SELECT * FROM tws_totals"
            ).collect()
        finally:
            q.stop()

    # Update mode appends one row per (user, micro-batch); the final
    # cumulative row per user is the one with the max n_events.
    got: dict = {}
    for r in rows:
        cur = got.get(r["user_id"])
        if cur is None or r["n_events"] > cur[0]:
            got[r["user_id"]] = (r["n_events"], round(r["sum_value"], 6))
    assert got == expected


def test_cms_sketch_writer_stream_equals_batch(spark, events_dir, tmp_path):
    """The streamed count-min sketch (per-batch build + merge of the
    prior version) must equal cms_build over the full batch data —
    cell for cell — and estimates must agree."""
    import pyspark.sql.functions as F

    from gbif_filter_python_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )
    from gbif_filter_python_spark.streaming.sketches import (
        cms_sketch_writer,
        read_cms_sketch,
    )

    events = spark.read.parquet(events_dir)
    terms_batch = events.select(F.col("event_type").alias("term"))

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
        .select(F.col("event_type").alias("term"))
    )
    q = cms_sketch_writer(
        stream,
        str(tmp_path / "cms_sketch"),
        str(tmp_path / "cms_ckpt"),
        depth=4,
        width=64,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = read_cms_sketch(spark, str(tmp_path / "cms_sketch"))
    direct = cms_build(terms_batch, "term", depth=4, width=64)
    s = {(r["depth"], r["bucket"]): r["cnt"] for r in streamed.collect()}
    d = {(r["depth"], r["bucket"]): r["cnt"] for r in direct.collect()}
    assert s == d

    probes = terms_batch.distinct()
    est_s = {
        r["term"]: r["est_count"]
        for r in cms_estimate(streamed, probes, "term", width=64).collect()
    }
    est_d = {
        r["term"]: r["est_count"]
        for r in cms_estimate(direct, probes, "term", width=64).collect()
    }
    assert est_s == est_d
    # time travel: version 0 is the first file's sketch only (a strict
    # cell-wise prefix of the final sketch)
    v0 = read_cms_sketch(spark, str(tmp_path / "cms_sketch"), version=0)
    v0_cells = {(r["depth"], r["bucket"]): r["cnt"] for r in v0.collect()}
    assert sum(v0_cells.values()) < sum(s.values())
    assert all(s[k] >= v for k, v in v0_cells.items())


def test_windowed_histogram_stream_matches_batch_and_psi(
    spark, events_dir, tmp_path
):
    """Drift monitor: the SAME windowed_value_histogram runs batch and
    incremental and agrees bin-for-bin; psi_from_histogram over the
    streamed sink table equals the batch-direct PSI, and both equal a
    pure-Python replay (eps-floored terms, completed bin grid)."""
    import math

    from pyspark.sql import functions as F

    from gbif_filter_python_spark.streaming.windows import (
        psi_from_histogram,
        windowed_value_histogram,
    )

    events = spark.read.parquet(events_dir)
    batch_hist = windowed_value_histogram(
        events, "6 hours", watermark=None, n_bins=5, lo=0.0, hi=50.0
    )
    expected = {
        (r["window_start"], r["bin"]): r["n"] for r in batch_hist.collect()
    }
    assert expected and sum(expected.values()) == events.filter(
        F.col("value").isNotNull()
    ).count()

    stream = stream_events(spark, events_dir)
    agg = windowed_value_histogram(
        stream, "6 hours", watermark="4 hours", n_bins=5, lo=0.0, hi=50.0
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("drift_hist")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_hist"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["window_start"], r["bin"]): r["n"]
            for r in spark.sql("SELECT * FROM drift_hist").collect()
        }
    finally:
        q.stop()
    assert got == expected

    # finisher: PSI vs the global distribution, replayed in python
    ref_counts: dict[int, int] = {}
    for (_ws, b), n in expected.items():
        ref_counts[b] = ref_counts.get(b, 0) + n
    tot = sum(ref_counts.values())
    ref = spark.createDataFrame(
        [(b, n / tot) for b, n in ref_counts.items()],
        "bin int, ref_share double",
    )
    out = {
        (r["window_start"]): (r["n_total"], r["psi"])
        for r in psi_from_histogram(batch_hist, ref).collect()
    }
    eps = 1e-4
    windows = {ws for ws, _b in expected}
    for ws in windows:
        wn = {b: expected.get((ws, b), 0) for b in ref_counts}
        nt = sum(wn.values())
        psi = sum(
            (max(wn[b] / nt, eps) - max(ref_counts[b] / tot, eps))
            * math.log(
                max(wn[b] / nt, eps) / max(ref_counts[b] / tot, eps)
            )
            for b in ref_counts
        )
        assert out[ws][0] == nt
        assert abs(out[ws][1] - psi) < 1e-5, ws

    # validation
    import pytest as _p

    with _p.raises(ValueError, match="n_bins"):
        windowed_value_histogram(events, n_bins=0)
    with _p.raises(ValueError, match="hi > lo"):
        windowed_value_histogram(events, lo=5.0, hi=5.0)

"""Event-time streaming semantics: watermark finalization, late-data
drop, and watermark-bounded dedup.

The reference has no event-time windowing (its watermark is a
replication-confirmation watermark); these tests pin the EXTENSION
semantics our engine adds: (a) in append mode a window is emitted
exactly once, after the watermark passes its end; (b) an event arriving
later than the watermark allows is dropped, never retro-mutating a
finalized window; (c) duplicate keys within the watermark horizon are
delivered once.
"""

from __future__ import annotations

from datetime import datetime

import pytest


SCHEMA = "ts timestamp, event_type string, value double, event_id string"


def _write_batch(spark, path, rows, n=1):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def _run_pass(spark, src, ckpt, transform, out):
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = (
        transform(stream)
        .writeStream.foreachBatch(lambda b, _id: out.extend(b.collect()))
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)


def _t(minute, second=0):
    return datetime(2024, 3, 1, 10, minute, second)


def test_window_finalized_once_and_late_drop(spark, tmp_path):
    from sierradb_spark.streaming import windowed_event_counts

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out: list = []

    def agg(stream):
        return windowed_event_counts(
            stream, window="10 minutes", watermark="10 minutes"
        )

    # Pass 1: events 10:00-10:21. Watermark after the pass = 10:21-10m =
    # 10:11 -> window [10:00,10:10) finalizes and is emitted.
    _write_batch(
        spark,
        src,
        [
            (_t(0), "click", 1.0, "e1"),
            (_t(5), "click", 2.0, "e2"),
            (_t(12), "click", 4.0, "e3"),
            (_t(21), "click", 8.0, "e4"),
        ],
    )
    _run_pass(spark, src, ckpt, agg, out)
    got1 = {(r["window_start"], r["n_events"], r["total_value"]) for r in out}
    assert got1 == {(_t(0), 2, 3.0)}

    # Pass 2: an on-time event (10:35) plus a LATE event at 10:01 —
    # below the 10:11 watermark, so it must be dropped, not appended to
    # the already-finalized [10:00,10:10) window. New watermark 10:25
    # passes 10:20, finalizing [10:10,10:20) with exactly the pass-1
    # event at 10:12 — and NOT the late one.
    out2: list = []
    _write_batch(
        spark,
        src,
        [
            (_t(35), "click", 16.0, "e5"),
            (_t(1), "click", 32.0, "late"),
        ],
    )
    _run_pass(spark, src, ckpt, agg, out2)
    got2 = {(r["window_start"], r["n_events"], r["total_value"]) for r in out2}
    assert got2 == {(_t(10), 1, 4.0)}  # late 10:01 event NOT re-opened/counted


def test_dedup_within_watermark(spark, tmp_path):
    from sierradb_spark.streaming import dedup_stream

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out: list = []

    # duplicates of e1 within one batch and across batches
    _write_batch(
        spark,
        src,
        [
            (_t(0), "click", 1.0, "e1"),
            (_t(0, 30), "click", 1.0, "e1"),
            (_t(1), "click", 2.0, "e2"),
        ],
    )
    _run_pass(
        spark, src, ckpt, lambda s: dedup_stream(s, keys=("event_id",)), out
    )
    _write_batch(spark, src, [(_t(2), "click", 1.0, "e1"), (_t(3), "view", 3.0, "e3")])
    _run_pass(
        spark, src, ckpt, lambda s: dedup_stream(s, keys=("event_id",)), out
    )
    ids = sorted(r["event_id"] for r in out)
    assert ids == ["e1", "e2", "e3"]


def test_session_window_gap_and_finalization(spark, tmp_path):
    """Session windows: events within the gap merge into one session;
    a silence longer than the gap starts a new one; a session is
    emitted once the watermark passes its end+gap."""
    from sierradb_spark.streaming.windowed import session_window_counts

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out: list = []

    def agg(stream):
        return session_window_counts(stream, gap="5 minutes", watermark="5 minutes")

    # Session A: 10:00, 10:03, 10:06 (gaps < 5m -> one session ending
    # 10:11). Session B: 10:20 (new session after 14m silence). An
    # event at 10:30 pushes the watermark to 10:25, past session A's
    # end AND session B's would-be end (10:25): both finalize.
    _write_batch(
        spark,
        src,
        [
            (_t(0), "click", 1.0, "e1"),
            (_t(3), "click", 2.0, "e2"),
            (_t(6), "click", 4.0, "e3"),
            (_t(20), "click", 8.0, "e4"),
            (_t(30), "view", 16.0, "e5"),
        ],
    )
    _run_pass(spark, src, ckpt, agg, out)
    got = {
        (r["session_start"], r["session_end"], r["event_type"], r["n_events"])
        for r in out
    }
    assert (_t(0), _t(11), "click", 3) in got  # merged 3-event session
    assert (_t(20), _t(25), "click", 1) in got  # separate session after gap


def test_windowed_counts_over_event_schema_stream(spark, tmp_path):
    """The store's own EVENT_SCHEMA has no 'value' column; the windowed
    aggregations must work over it (counts only) — the module's stated
    subject."""
    from sierradb_spark.config import EngineConfig
    from sierradb_spark.eventstore import AppendRequest, EventStore
    from sierradb_spark.eventstore.schema import EVENT_SCHEMA
    from sierradb_spark.streaming import windowed_event_counts

    store = EventStore(
        spark, str(tmp_path / "st"), EngineConfig()
    )
    store.append([AppendRequest(f"w-{i % 3}", "E") for i in range(12)])
    src = (
        spark.readStream.schema(EVENT_SCHEMA)
        .parquet(store.events_path + "/partition_id=*")
    )
    out: list = []
    q = (
        windowed_event_counts(
            src, time_col="timestamp", key_col="stream_id"
        )
        .writeStream.foreachBatch(lambda b, _id: out.extend(b.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode emits only watermark-closed windows; the plan must
    # ANALYZE cleanly without a value column, which is the regression
    # this test pins (it raised AnalysisException before value_col)
    assert all("total_value" not in r.asDict() for r in out)


def test_interval_join_attribution_and_late_drop(spark, tmp_path):
    """Stream-stream interval join (impression->click attribution):
    clicks within 5 minutes of the same-key impression match; clicks
    outside the interval never match; a click arriving below the
    watermark finds the impression's state evicted and is dropped."""
    from sierradb_spark.streaming import interval_join_streams

    left_src = str(tmp_path / "left")
    right_src = str(tmp_path / "right")
    ckpt = str(tmp_path / "ckpt")
    out: list = []

    def run_join(left_stream):
        right_stream = spark.readStream.schema(SCHEMA).parquet(right_src)
        return interval_join_streams(
            left_stream, right_stream, key_col="event_id"
        )

    # Impressions i1@10:00, i2@10:02; clicks: i1@10:03 (in window),
    # i2@10:09 (10:02+5m=10:07 -> outside), i9@10:04 (unknown key).
    _write_batch(
        spark,
        left_src,
        [(_t(0), "imp", 1.0, "i1"), (_t(2), "imp", 1.0, "i2")],
    )
    _write_batch(
        spark,
        right_src,
        [
            (_t(3), "click", 1.0, "i1"),
            (_t(9), "click", 1.0, "i2"),
            (_t(4), "click", 1.0, "i9"),
        ],
    )
    _run_pass(spark, left_src, ckpt, run_join, out)
    got = {(r["event_id"], r["delay_seconds"]) for r in out}
    assert got == {("i1", 180)}

    # Pass 2 ONLY advances both watermarks far past 10:00 (the
    # watermark moves between micro-batches, so the late row must
    # arrive in a LATER pass than the rows that advance it).
    _write_batch(spark, left_src, [(_t(40), "imp", 1.0, "i8")])
    _write_batch(spark, right_src, [(_t(40), "click", 1.0, "zz")])
    out2: list = []
    _run_pass(spark, left_src, ckpt, run_join, out2)
    assert out2 == []

    # Pass 3: a click for i1 at 10:01 — inside the ORIGINAL interval
    # but below the watermark: the impression's state is evicted, the
    # late click is dropped at input, and no new match appears.
    _write_batch(spark, right_src, [(_t(1), "click", 1.0, "i1")])
    out3: list = []
    _run_pass(spark, left_src, ckpt, run_join, out3)
    assert out3 == []

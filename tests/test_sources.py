"""Connector tests: batch/stream sources feeding the append path, sinks
round-tripping the events table."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from sierradb_spark.config import EngineConfig
from sierradb_spark.eventstore import AppendRequest, EventStore
from sierradb_spark.sources import (
    events_from_csv,
    events_from_json,
    export_events,
    request_stream_from_files,
)
from sierradb_spark.streaming import StreamIngest


@pytest.fixture()
def store(spark, tmp_path):
    return EventStore(spark, str(tmp_path / "store"), EngineConfig())


def test_json_source_append_df(store, spark, tmp_path):
    src = tmp_path / "in.jsonl"
    reqs = [
        {"stream_id": f"j-{i % 4}", "event_name": "FromJson", "payload": f"p{i}"}
        for i in range(40)
    ]
    src.write_text("\n".join(json.dumps(r) for r in reqs))
    df = events_from_json(spark, str(src))
    res = store.append_df(df)
    assert res.where(~F.col("accepted")).count() == 0
    assert store.events().count() == 40
    assert store.stream_version("j-0") == 9


def test_csv_source(store, spark, tmp_path):
    src = tmp_path / "in.csv"
    lines = ["stream_id,event_name,payload,metadata,expected_version,timestamp_ms"]
    lines += [f"c-{i % 3},FromCsv,x,,any,{1700000000000 + i}" for i in range(30)]
    src.write_text("\n".join(lines))
    res = store.append_df(events_from_csv(spark, str(src)))
    assert res.where(~F.col("accepted")).count() == 0
    ev = store.events()
    assert ev.count() == 30
    # timestamp_ms carried through the ms→ns scaling
    assert ev.agg(F.min("timestamp_ns")).collect()[0][0] == 1700000000000 * 1_000_000


def test_streaming_json_source(store, spark, tmp_path):
    land = tmp_path / "landing"
    land.mkdir()
    (land / "a.jsonl").write_text(
        "\n".join(
            json.dumps({"stream_id": "s-1", "event_name": f"E{i}"}) for i in range(10)
        )
    )
    stream = request_stream_from_files(spark, str(land), fmt="json")
    q = StreamIngest(store).start(
        stream, checkpoint=str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(300)
    assert store.stream_version("s-1") == 9


def test_export_roundtrip(store, spark, tmp_path):
    store.append([AppendRequest(f"e-{i}", "E", payload=b"\x00\xffbin") for i in range(10)])
    out = str(tmp_path / "export")
    export_events(store.events(), out, fmt="json")
    back = spark.read.json(out)
    assert back.count() == 10
    row = back.where(F.col("stream_id") == "e-0").collect()[0]
    assert bytes.fromhex(row["payload"]) == b"\x00\xffbin"


def test_socket_queue_source_gapless(store, spark, tmp_path):
    """Queue-shaped ingress (VERDICT r2 #9): a non-file, non-replayable
    streaming source — JSON lines over TCP, the Kafka shape — through
    StreamIngest, with gapless version assignment at the other end."""
    import socket
    import threading
    import time as _time

    from sierradb_spark.sources import request_stream_from_socket

    n, n_streams = 24, 3
    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    server.listen(1)
    port = server.getsockname()[1]
    stop = threading.Event()

    def serve():
        conn, _ = server.accept()
        with conn:
            payload = "".join(
                json.dumps(
                    {"stream_id": f"sock-{i % n_streams}", "event_name": f"E{i}"}
                )
                + "\n"
                for i in range(n)
            )
            conn.sendall(payload.encode())
            stop.wait(120)  # keep the pipe open while Spark drains it

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    stream = request_stream_from_socket(spark, "127.0.0.1", port)
    q = StreamIngest(store).start(stream, checkpoint=str(tmp_path / "ckpt"))
    try:
        deadline = _time.time() + 120
        while _time.time() < deadline:
            if store.events().count() == n:
                break
            _time.sleep(1)
        else:
            raise AssertionError(f"timed out: {store.events().count()}/{n} events")
    finally:
        q.stop()
        stop.set()
        server.close()
    # Gapless per stream, complete across streams — the ingest contract
    # is source-independent.
    for s in range(n_streams):
        versions = [
            r["stream_version"] for r in store.scan(f"sock-{s}").collect()
        ]
        assert versions == list(range(n // n_streams))


def test_kafka_source_capability_gate(spark):
    """request_stream_from_kafka builds the real Kafka reader when the
    connector jar ships, and otherwise raises a clear capability error
    naming the jar to add — either way the contract (same projection,
    same StreamIngest path) is pinned here."""
    from sierradb_spark.sources import kafka_available, request_stream_from_kafka
    from sierradb_spark.sources.connectors import REQUEST_CORE_SCHEMA

    if kafka_available(spark):
        df = request_stream_from_kafka(spark, "localhost:9092", "events")
        assert set(REQUEST_CORE_SCHEMA.fieldNames()) <= set(df.columns)
        assert df.isStreaming
    else:
        with pytest.raises(RuntimeError, match="spark-sql-kafka"):
            request_stream_from_kafka(spark, "localhost:9092", "events")


def test_kafka_decode_contract_matches_socket_projection(store, spark):
    """Brokerless Kafka contract (r04 brief item 1): constructed rows
    with the Kafka source's exact output schema (binary key/value,
    topic/partition/offset/timestamp) decode through
    ``decode_kafka_records`` into append requests value-identical to
    the JSON/socket projection, and feed ``append_df`` end to end."""
    import datetime

    from sierradb_spark.sources import (
        KAFKA_RECORD_SCHEMA,
        decode_kafka_records,
    )

    reqs = [
        {
            "stream_id": f"k-{i % 3}",
            "event_name": "FromKafka",
            "payload": f"p{i}",
            "metadata": f"m{i}",
            "expected_version": "any" if i % 2 else None,
            "timestamp_ms": 1_700_000_000_000 + i,
        }
        for i in range(12)
    ]
    ts = datetime.datetime(2026, 1, 1, 0, 0, 0)
    kafka_rows = [
        (
            f"k-{i % 3}".encode(),          # key: producer partition key
            json.dumps(r).encode(),          # value: the append request
            "events",                        # topic
            i % 3,                           # partition
            i,                               # offset
            ts,                              # timestamp
            0,                               # timestampType (CreateTime)
        )
        for i, r in enumerate(reqs)
    ]
    records = spark.createDataFrame(kafka_rows, KAFKA_RECORD_SCHEMA)
    decoded = decode_kafka_records(records)

    # Schema contract: exactly the normalized request columns, with
    # payload/metadata coerced to binary — identical to events_from_json.
    assert [(f.name, f.dataType.simpleString()) for f in decoded.schema] == [
        ("stream_id", "string"),
        ("event_name", "string"),
        ("payload", "binary"),
        ("metadata", "binary"),
        ("expected_version", "string"),
        ("timestamp_ms", "bigint"),
    ]

    got = sorted(
        (
            r["stream_id"],
            r["event_name"],
            bytes(r["payload"]),
            bytes(r["metadata"]),
            r["expected_version"],
            r["timestamp_ms"],
        )
        for r in decoded.collect()
    )
    want = sorted(
        (
            r["stream_id"],
            "FromKafka",
            r["payload"].encode(),
            r["metadata"].encode(),
            "any",  # null expected_version normalizes to "any"
            r["timestamp_ms"],
        )
        for r in reqs
    )
    assert got == want

    # A poison record (non-JSON value) decodes to nulls instead of
    # failing the batch — offsets keep advancing; gate on stream_id.
    poison = spark.createDataFrame(
        [(None, b"not json {", "events", 0, 99, ts, 0)], KAFKA_RECORD_SCHEMA
    )
    prow = decode_kafka_records(poison).collect()[0]
    assert prow["stream_id"] is None and prow["event_name"] is None
    assert prow["expected_version"] == "any"  # normalization still applies

    # End to end: the decoded frame feeds the same append path as every
    # other source (the downstream contract the sources share).
    res = store.append_df(decoded)
    assert res.where(~F.col("accepted")).count() == 0
    assert store.stream_version("k-0") == 3
    ev = store.scan("k-1").orderBy("stream_version").collect()
    assert [bytes(e["payload"]) for e in ev] == [b"p1", b"p4", b"p7", b"p10"]

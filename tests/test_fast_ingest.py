"""Bulk ingest through ``append_df``: the writer invariants hold.

A DataFrame batch without an expected_version column (no
optimistic-concurrency preconditions) is collected once, then enriched,
request-validated, assigned and committed on the driver by the same
code EAPPEND runs (tests/test_append_driver.py pins the two entry
points against each other). These tests pin the invariants the
reference enforces in its writer thread (writer_thread_pool.rs:560-645):
gapless per-partition sequences, gapless per-stream versions,
cross-batch continuity, and request-validation rejections (NULL stream
ids included) that consume nothing and stay in the results.
"""

import pytest
from pyspark.sql import functions as F

from sierradb_spark.config import EngineConfig
from sierradb_spark.eventstore import EventStore


@pytest.fixture()
def store(spark, tmp_path):
    return EventStore(spark, str(tmp_path / "store"), EngineConfig())


def _mk_reqs(spark, n, streams, tag=""):
    return spark.range(n).select(
        F.concat(F.lit(f"fast{tag}-"), (F.col("id") % streams).cast("string")).alias(
            "stream_id"
        ),
        F.lit("E").alias("event_name"),
        F.encode(F.col("id").cast("string"), "utf-8").alias("payload"),
    )


def _assert_gapless(store):
    ev = store.events()
    per_stream = (
        ev.groupBy("stream_id")
        .agg(
            F.count("*").alias("n"),
            F.min("stream_version").alias("lo"),
            F.max("stream_version").alias("hi"),
            F.count_distinct("stream_version").alias("d"),
        )
        .collect()
    )
    for r in per_stream:
        assert r["lo"] == 0 and r["hi"] == r["n"] - 1 and r["d"] == r["n"], r
    per_part = (
        ev.groupBy("partition_id")
        .agg(
            F.count("*").alias("n"),
            F.min("partition_sequence").alias("lo"),
            F.max("partition_sequence").alias("hi"),
            F.count_distinct("partition_sequence").alias("d"),
        )
        .collect()
    )
    for r in per_part:
        assert r["lo"] == 0 and r["hi"] == r["n"] - 1 and r["d"] == r["n"], r
        assert store.partition_sequence(r["partition_id"]) == r["hi"]


def test_fast_path_gapless_and_continuous(store, spark):
    res1 = store.append_df(_mk_reqs(spark, 500, 20))
    assert res1.where("NOT accepted").count() == 0
    _assert_gapless(store)
    # Second batch must continue versions/sequences exactly.
    res2 = store.append_df(_mk_reqs(spark, 300, 20))
    assert res2.where("NOT accepted").count() == 0
    _assert_gapless(store)
    # Heads agree with the events table (ESVER parity).
    for r in (
        store.events()
        .groupBy("stream_id")
        .agg(F.max("stream_version").alias("v"))
        .collect()
    ):
        assert store.stream_version(r["stream_id"]) == r["v"]


def test_fast_path_rejects_bad_event_id_without_consuming(store, spark):
    good = _mk_reqs(spark, 50, 5)
    # event_id with a partition hash that cannot match (all-zero uuid).
    bad = spark.range(3).select(
        F.lit("fast-0").alias("stream_id"),
        F.lit("E").alias("event_name"),
        F.lit(b"x").alias("payload"),
    ).withColumn("event_id", F.lit("00000000-0000-7000-8000-000000000000"))
    res = store.append_df(good.withColumn("event_id", F.lit(None).cast("string")).unionByName(bad))
    rej = res.where("NOT accepted").collect()
    assert len(rej) == 3
    assert all("partition hash" in r["error"] for r in rej)
    assert res.where("accepted").count() == 50
    _assert_gapless(store)


def test_fast_path_matches_row_api_semantics(store, spark):
    """Interleave fast-path DF appends with row-API appends: shared
    version/sequence spaces stay consistent."""
    from sierradb_spark.eventstore import AppendRequest

    store.append_df(_mk_reqs(spark, 100, 4))
    # fast-1 holds ids 1,5,...,97 → 25 events, head version 24.
    res = store.append([AppendRequest("fast-1", "E", expected_version="24")])
    assert res[0].accepted and res[0].stream_version == 25
    res = store.append([AppendRequest("fast-1", "E", expected_version="7")])
    assert not res[0].accepted
    _assert_gapless(store)


def test_fast_path_validation_rejections(store, spark):
    long_stream = "s" * 100
    df = spark.createDataFrame(
        [
            ("ok-stream", "E"),
            (long_stream, "E"),
            ("ok-stream", "N" * 300),
        ],
        "stream_id string, event_name string",
    )
    res = store.append_df(df)
    errs = {r["stream_id"]: r["error"] for r in res.where("NOT accepted").collect()}
    assert errs[long_stream] == "stream_id must be 1-64 chars"
    assert errs["ok-stream"] == "event_name too long"
    assert res.where("accepted").count() == 1


def test_null_and_nul_byte_validation_rejections(store, spark):
    """NULL stream_id/event_name and NUL-byte stream ids must reject,
    not slip through the when() chain as NULL conditions (the poison
    shape a Kafka topic delivers; a silently-accepted NULL stream_id
    yields a NULL partition_id and corrupts assignment). NUL-byte
    rejection mirrors StreamIdError::ContainsNullByte (lib.rs:45-47)."""
    df = spark.createDataFrame(
        [
            (None, "E"),
            ("ok-stream", None),
            ("bad\x00stream", "E"),
            ("ok-stream", "E"),
        ],
        "stream_id string, event_name string",
    )
    res = store.append_df(df)
    errs = {
        r["stream_id"]: r["error"] for r in res.where("NOT accepted").collect()
    }
    assert errs[None] == "stream_id must be 1-64 chars"
    assert errs["ok-stream"] == "event_name missing"
    assert errs["bad\x00stream"] == "stream_id cannot contain null bytes"
    assert res.where("accepted").count() == 1


def test_append_df_caller_grouped_transactions(spark, tmp_path):
    """txn_id-grouped requests through append_df: a transaction is
    all-or-nothing (one invalid request rejects its whole txn), and a
    txn spanning partitions is rejected whole (database.rs:867-897) —
    while independent valid transactions in the same batch commit."""
    from sierradb_spark.config import EngineConfig
    from sierradb_spark.eventstore import EventStore

    store = EventStore(
        spark, str(tmp_path / "store"), EngineConfig()
    )
    rows = [
        # txn A: two valid events on one stream (one partition) -> accepted
        ("tA", "s-a", "E1", "any"),
        ("tA", "s-a", "E2", "any"),
        # txn B: second request invalid (bad expected_version) -> both rejected
        ("tB", "s-b", "E1", "any"),
        ("tB", "s-b", "E2", "not-a-version"),
        # txn C: spans two streams on different partitions -> both rejected
        ("tC", "s-c", "E1", "any"),
        ("tC", "s-d", "E1", "any"),
    ]
    reqs = spark.createDataFrame(
        rows, "txn_id string, stream_id string, event_name string, expected_version string"
    )
    res = {
        (r["txn_id"], r["event_name"]): (r["accepted"], r["error"])
        for r in store.append_df(reqs).collect()
    }
    assert res[("tA", "E1")][0] and res[("tA", "E2")][0]
    assert not res[("tB", "E1")][0] and not res[("tB", "E2")][0]
    assert "invalid expected_version" in res[("tB", "E1")][1]
    assert not res[("tC", "E1")][0]
    assert "spans multiple partitions" in res[("tC", "E1")][1]
    # only txn A landed; its events share one transaction_id
    ev = store.events().collect()
    assert sorted(r["event_name"] for r in ev) == ["E1", "E2"]
    assert len({r["transaction_id"] for r in ev}) == 1
    assert [r["stream_version"] for r in sorted(ev, key=lambda r: r["stream_version"])] == [0, 1]


def test_enrich_requests_respects_config_and_event_id():
    """enrich_requests reads its limits from the config it is given,
    and validates a caller event_id only where the column is present."""
    import pyarrow as pa

    from sierradb_spark.streaming.ingest import enrich_requests

    cases = [
        (EngineConfig(max_event_name_len=64), None, None),
        (EngineConfig(max_event_name_len=10), None, "event_name too long"),
        # a well-formed id with a foreign hash, and one that is no UUID
        (EngineConfig(), "0" * 32, "event_id does not embed partition hash"),
        (EngineConfig(), "abc", "event_id 'abc' is not a UUID"),
    ]
    for config, event_id, reason in cases:
        cols = {"stream_id": ["s"], "event_name": ["E" * 40], "payload": [b""]}
        if event_id is not None:
            cols.update(event_name=["E"], event_id=[event_id])
        out = enrich_requests(pa.table(cols), config)
        assert out["reject_reason"].to_pylist() == [reason], (config, event_id)

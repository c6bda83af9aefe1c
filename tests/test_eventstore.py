"""EventStore integration tests — the SierraDB invariants.

Checks the invariants the reference's model-based fuzzer enforces
(fuzz/fuzz_targets/commands.rs:41-160, examples/validate_partition_sequences.rs):
gapless monotone sequences per partition, gapless monotone versions per
stream, hash-consistent event ids, optimistic-concurrency conflicts,
transactional atomicity, watermark-gated reads.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from sierradb_spark import ids
from sierradb_spark.config import EngineConfig
from sierradb_spark.eventstore import AppendRequest, EventStore


@pytest.fixture()
def store(spark, tmp_path):
    return EventStore(spark, str(tmp_path / "store"), EngineConfig())


def test_append_and_scan_roundtrip(store):
    res = store.append(
        [
            AppendRequest("user-123", "UserCreated", b'{"name":"john"}', expected_version="empty"),
            AppendRequest("user-123", "UserRenamed", b'{"name":"jane"}', expected_version="0"),
            AppendRequest("user-456", "UserCreated", b"{}", expected_version="any"),
        ]
    )
    assert [r.accepted for r in res] == [True, True, True]
    assert [r.stream_version for r in res[:2]] == [0, 1]

    rows = store.scan("user-123").collect()
    assert [r["stream_version"] for r in rows] == [0, 1]
    assert [r["event_name"] for r in rows] == ["UserCreated", "UserRenamed"]
    assert rows[0]["payload"] == b'{"name":"john"}'
    # partition arithmetic matches the reference's derivation
    pkey = str(ids.partition_key_for_stream("user-123"))
    assert rows[0]["partition_key"] == pkey
    expected_pid = ids.uuid_to_partition_hash(pkey) % 32
    assert rows[0]["partition_id"] == expected_pid


def test_version_conflicts(store):
    store.append([AppendRequest("s1", "E", expected_version="empty")])
    res = store.append(
        [
            AppendRequest("s1", "E", expected_version="empty"),  # conflict: exists
            AppendRequest("s1", "E", expected_version="5"),  # conflict: behind
            AppendRequest("s2", "E", expected_version="exists"),  # conflict: empty stream
            AppendRequest("s1", "E", expected_version="0"),  # ok
        ]
    )
    assert [r.accepted for r in res] == [False, False, False, True]
    assert res[3].stream_version == 1
    assert "ahead" in res[0].error
    assert "behind" in res[1].error
    assert "incompatible" in res[2].error


def test_conflict_does_not_consume_version_or_sequence(store):
    store.append([AppendRequest("sA", "E", expected_version="empty")])
    res = store.append(
        [
            AppendRequest("sA", "E", expected_version="7"),  # rejected
            AppendRequest("sA", "E", expected_version="0"),  # must get version 1
        ]
    )
    assert res[0].accepted is False
    assert res[1].stream_version == 1
    # sequences stay gapless
    seqs = [
        r["partition_sequence"]
        for r in store.pscan(res[1].partition_id).collect()
    ]
    assert seqs == list(range(len(seqs)))


def test_transaction_atomicity(store):
    store.append([AppendRequest("t1", "E", expected_version="empty")])
    # one txn: second event conflicts → whole txn rejected
    res = store.append_transaction(
        [
            AppendRequest("t1", "E", expected_version="0", partition_key=str(ids.partition_key_for_stream("t1"))),
            AppendRequest("t1", "E", expected_version="5", partition_key=str(ids.partition_key_for_stream("t1"))),
        ]
    )
    assert [r.accepted for r in res] == [False, False]
    assert store.stream_version("t1") == 0
    # valid txn: two events, in-txn version increments
    res = store.append_transaction(
        [
            AppendRequest("t1", "E", expected_version="0", partition_key=str(ids.partition_key_for_stream("t1"))),
            AppendRequest("t1", "E", expected_version="1", partition_key=str(ids.partition_key_for_stream("t1"))),
        ]
    )
    assert [r.accepted for r in res] == [True, True]
    assert [r.stream_version for r in res] == [1, 2]


def test_gapless_invariants_many_streams(store):
    import random

    rng = random.Random(42)
    reqs = [
        AppendRequest(f"stream-{rng.randrange(20)}", "E", payload=b"x")
        for _ in range(300)
    ]
    res = store.append(reqs)
    assert all(r.accepted for r in res)
    ev = store.events()
    # gapless per partition
    bad_part = (
        ev.groupBy("partition_id")
        .agg(
            F.count("*").alias("n"),
            F.min("partition_sequence").alias("lo"),
            F.max("partition_sequence").alias("hi"),
            F.count_distinct("partition_sequence").alias("d"),
        )
        .where((F.col("lo") != 0) | (F.col("hi") != F.col("n") - 1) | (F.col("d") != F.col("n")))
        .count()
    )
    assert bad_part == 0
    # gapless per stream
    bad_stream = (
        ev.groupBy("stream_id")
        .agg(
            F.count("*").alias("n"),
            F.min("stream_version").alias("lo"),
            F.max("stream_version").alias("hi"),
            F.count_distinct("stream_version").alias("d"),
        )
        .where((F.col("lo") != 0) | (F.col("hi") != F.col("n") - 1) | (F.col("d") != F.col("n")))
        .count()
    )
    assert bad_stream == 0
    # a stream lives entirely in one partition
    assert (
        ev.groupBy("stream_id")
        .agg(F.count_distinct("partition_id").alias("p"))
        .where(F.col("p") > 1)
        .count()
        == 0
    )
    # every event id embeds its partition key's hash
    for row in ev.select("event_id", "partition_key").collect():
        assert ids.uuid_to_partition_hash(row["event_id"]) == ids.uuid_to_partition_hash(
            row["partition_key"]
        )


def test_eget_returns_whole_transaction(store):
    pkey = str(ids.partition_key_for_stream("g1"))
    res = store.append_transaction(
        [
            AppendRequest("g1", "A", partition_key=pkey),
            AppendRequest("g1", "B", partition_key=pkey),
        ]
    )
    got = store.get(res[0].event_id).collect()
    assert sorted(r["event_name"] for r in got) == ["A", "B"]


def test_eget_miss_and_unknown_stream(store):
    store.append([AppendRequest("known", "E")])
    missing = str(
        ids.uuid_v7_with_partition_hash(
            ids.uuid_to_partition_hash(ids.partition_key_for_stream("known")),
            timestamp_ms=1, rand12=0, rand46=0,
        )
    )
    assert store.get(missing).count() == 0
    assert store.stream_version("nope") is None
    assert store.scan("nope").count() == 0


def test_eget_foreign_hash_id_is_clean_miss(store, spark):
    """r04 brief item 7: EGET semantics for an id whose embedded hash
    is foreign/corrupt. The append path rejects any event_id that does
    not embed its partition_key's hash (database.rs:879-884 parity;
    test_durability covers the raise), so a stored event_id ALWAYS
    embeds its partition's hash — pruning by the embedded hash can
    never hide a real event, and a foreign id is a clean empty miss
    (reference not-found), never an error."""
    # populate several partitions so the foreign id can point at a
    # partition that actually holds (other streams') data
    store.append(
        [AppendRequest(f"fh-{i}", "E") for i in range(12) for _ in range(2)]
    )
    real = store.scan("fh-0").collect()[0]["event_id"]
    real_pid = ids.partition_id_for_hash(
        ids.uuid_to_partition_hash(real), store.config.num_partitions
    )
    populated = {
        r["partition_id"] for r in store.watermarks().collect()
    }
    other_pid = next(p for p in sorted(populated) if p != real_pid)
    # forge an id embedding a hash that maps to other_pid: no event
    # with this id exists anywhere, and its embedded hash points away
    # from every partition holding fh-0's data
    foreign = str(
        ids.uuid_v7_with_partition_hash(
            other_pid, timestamp_ms=1, rand12=0, rand46=0
        )
    )
    df = store.get(foreign)
    assert df.count() == 0  # empty, no exception
    # and the miss is still a PRUNED single-partition scan: the plan
    # filters on the foreign id's partition, not a full-table pass
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(rf"partition_id#\d+ = {other_pid}\b", plan), plan
    # an id pointing at a NEVER-POPULATED partition short-circuits on
    # the watermark table: no scan at all (empty relation)
    unpop = next(
        h for h in range(store.config.num_partitions, 1 << 16)
        if ids.partition_id_for_hash(h, store.config.num_partitions)
        not in populated
    )
    cold = str(
        ids.uuid_v7_with_partition_hash(unpop, timestamp_ms=1, rand12=0, rand46=0)
    )
    assert store.get(cold).count() == 0
    # the command adapter rejects an unparseable id as a CommandError
    from sierradb_spark.commands import CommandError, execute_command

    with pytest.raises(CommandError, match="not a UUID"):
        execute_command(store, "EGET", "not-a-uuid")
    # while a well-formed foreign id goes through the same clean miss
    assert execute_command(store, "EGET", foreign) == []


def test_scan_ranges_and_limits(store):
    reqs = [AppendRequest("r1", f"E{i}") for i in range(10)]
    store.append(reqs)
    assert [r["stream_version"] for r in store.scan("r1", 3, 6).collect()] == [3, 4, 5, 6]
    assert [r["stream_version"] for r in store.scan("r1", "-", "+", count=3).collect()] == [0, 1, 2]
    assert [
        r["stream_version"] for r in store.scan("r1", direction="reverse", count=4).collect()
    ] == [9, 8, 7, 6]
    pid = store.scan("r1").collect()[0]["partition_id"]
    seqs = [r["partition_sequence"] for r in store.pscan(pid, 2, 5).collect()]
    assert seqs == [2, 3, 4, 5]
    assert store.partition_sequence(pid) == 9
    assert store.stream_version("r1") == 9


def test_time_travel_snapshots(store):
    """events(as_of=N) resolves the exact snapshot at commit N: event
    set, heads, and watermarks move together (manifest atomicity), and
    the history list is stable until compaction."""
    store.append([AppendRequest("tt", f"E{i}") for i in range(3)])
    store.append([AppendRequest("tt", f"E{i}") for i in range(3, 5)])
    store.append([AppendRequest("tt2", "X")])
    c1, c2, c3 = store.commits()
    assert store.events(as_of=c1).count() == 3
    assert store.events(as_of=c2).count() == 5
    assert store.events(as_of=c3).count() == 6
    assert store.events().count() == 6
    # snapshot watermark == max sequence in that snapshot, per partition
    for c in (c1, c2, c3):
        ev = store.events(as_of=c)
        heads = {
            r["partition_id"]: r["hi"]
            for r in ev.groupBy("partition_id")
            .agg(F.max("partition_sequence").alias("hi"))
            .collect()
        }
        wm = {
            r["partition_id"]: r["confirmed_sequence"]
            for r in store.watermarks(as_of=c).collect()
        }
        assert wm == heads
    # as_of=0 (before any commit) is an empty store
    assert store.events(as_of=0).count() == 0
    # compaction collapses history to a single base snapshot
    store.compact()
    assert len(store.commits()) == 1
    assert store.events().count() == 6


def test_append_stores_canonical_event_id_both_paths(store, spark):
    """r05 review: a caller-supplied event_id in ANY valid UUID encoding
    is stored in canonical lowercase-hyphenated form on BOTH append
    surfaces (row path and DataFrame path), so get() — which
    canonicalizes its lookup — always finds it. Garbage ids still
    raise/reject."""
    pkey = str(ids.partition_key_for_stream("canon-row"))
    phash = ids.uuid_to_partition_hash(pkey)
    eid = str(
        ids.uuid_v7_with_partition_hash(
            phash, timestamp_ms=5, rand12=1, rand46=1
        )
    )
    # row path: uppercase encoding in, canonical out, EGET finds it
    [res] = store.append(
        [AppendRequest("canon-row", "E0", event_id=eid.upper())]
    )
    assert res.accepted and res.event_id == eid
    assert [r["event_id"] for r in store.get(eid.upper()).collect()] == [eid]
    with pytest.raises(ValueError, match="not a UUID"):
        store.append([AppendRequest("canon-row", "E1", event_id="garbage")])

    # DataFrame path: no-dash encoding in, canonical out
    pkey2 = str(ids.partition_key_for_stream("canon-df"))
    eid2 = str(
        ids.uuid_v7_with_partition_hash(
            ids.uuid_to_partition_hash(pkey2),
            timestamp_ms=6, rand12=2, rand46=2,
        )
    )
    wrong_hash = (ids.uuid_to_partition_hash(pkey2) + 1) % (1 << 16)
    foreign_eid = str(
        ids.uuid_v7_with_partition_hash(
            wrong_hash, timestamp_ms=6, rand12=2, rand46=2
        )
    )
    df = spark.createDataFrame(
        [
            ("canon-df", "D0", eid2.replace("-", "").upper()),
            ("canon-df", "D1", "urn:uuid:" + foreign_eid),
        ],
        "stream_id string, event_name string, event_id string",
    )
    res2 = store.append_df(df)
    ok = {r["event_name"]: r for r in res2.collect()}
    assert ok["D0"]["accepted"] and ok["D0"]["event_id"] == eid2
    # D1's mutated id embeds the wrong hash -> rejected, not stored
    assert not ok["D1"]["accepted"]
    assert [r["event_id"] for r in store.get(eid2).collect()] == [eid2]


def test_timestamp_is_exact_micros_of_timestamp_ns_both_paths(
    store, spark, monkeypatch
):
    """``timestamp`` is ``timestamp_ns div 1000`` and the v7 event id's
    millisecond is ``timestamp_ns div 1e6``, exactly, on both append
    paths: a double division rounds this clock value up a microsecond."""
    ns = 1_792_389_802_932_255_919
    monkeypatch.setattr(time, "time_ns", lambda: ns)
    store.append([AppendRequest("ts-row", "E")])
    store.append_df(
        spark.createDataFrame([("ts-df", "E")], "stream_id string, event_name string")
    ).collect()
    monkeypatch.undo()
    rows = store.events().selectExpr(
        "stream_id",
        "timestamp_ns",
        "event_id",
        "timestamp = timestamp_micros(timestamp_ns div 1000) AS exact",
    ).collect()
    assert sorted(r["stream_id"] for r in rows) == ["ts-df", "ts-row"]
    for r in rows:
        assert r["timestamp_ns"] == ns and r["exact"], r
        assert int(r["event_id"].replace("-", "")[:12], 16) == ns // 1_000_000, r

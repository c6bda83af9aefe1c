"""The ids ``enrich_requests`` derives must be bit-exact with the
scalar Python scheme in ``sierradb_spark.ids``."""

from __future__ import annotations

import uuid

import pyarrow as pa

from sierradb_spark import ids
from sierradb_spark.config import EngineConfig
from sierradb_spark.eventstore import AppendRequest, EventStore
from sierradb_spark.streaming.ingest import enrich_requests

CFG = EngineConfig()


def _pid(key) -> int:
    return ids.partition_id_for_hash(ids.uuid_to_partition_hash(key), CFG.num_partitions)


def test_default_partition_key_is_uuid5():
    streams = [f"user-{i}" for i in range(100)] + ["a", "αβγ-unicode", "x" * 64]
    out = enrich_requests(
        pa.table({"stream_id": streams, "event_name": ["E"] * len(streams)}), CFG
    ).to_pylist()
    for r, s in zip(out, streams):
        key = ids.partition_key_for_stream(s)
        assert r["partition_key"] == str(key)
        assert r["partition_id"] == _pid(key)
        assert r["reject_reason"] is None
    # Caller keys in any encoding route by their own embedded hash.
    keys = [uuid.uuid4() for _ in range(50)]
    given = [str(k).upper() if i % 2 else k.hex for i, k in enumerate(keys)]
    out = enrich_requests(
        pa.table(
            {"stream_id": ["s"] * 50, "event_name": ["E"] * 50, "partition_key": given}
        ),
        CFG,
    ).to_pylist()
    assert [r["partition_key"] for r in out] == given
    assert [r["partition_id"] for r in out] == [_pid(k) for k in keys]


def test_generated_event_and_txn_ids_valid(spark, tmp_path):
    n = 100
    out = enrich_requests(
        pa.table(
            {
                "stream_id": [f"s-{i}" for i in range(n)],
                "event_name": ["E"] * n,
                "timestamp_ms": [1_700_000_000_000] * n,
            }
        ),
        CFG,
    ).to_pylist()
    for r in out:
        u = uuid.UUID(r["event_id"])
        # embedded hash, version 7, variant 10, 48-bit ms timestamp
        assert ids.uuid_to_partition_hash(u) == ids.uuid_to_partition_hash(r["partition_key"])
        assert (u.int >> 64) & 0xF == 0x7
        assert (u.int >> 62) & 0x3 == 0b10
        assert u.int >> 80 == 1_700_000_000_000
        assert r["timestamp_ns"] == 1_700_000_000_000 * 1_000_000
        # a generated txn id is one event's: v4, implicit-commit flag set
        t = uuid.UUID(r["txn_id"])
        assert ids.get_uuid_flag(t) and t.hex[12] == "4"
    # ids must actually differ across rows (randomness plumbed through)
    assert len({r["event_id"] for r in out}) == n
    assert len({r["txn_id"] for r in out}) == n

    # The store's own txn ids: flagged for a single-event transaction
    # (EAPPEND), clear for a multi-event EMAPPEND.
    store = EventStore(spark, str(tmp_path / "store"), CFG)
    pk = str(ids.partition_key_for_stream("t-1"))
    [single] = store.append([AppendRequest("t-1", "E")])
    multi = store.append_transaction(
        [AppendRequest("t-1", "E"), AppendRequest("t-2", "E", partition_key=pk)]
    )
    assert single.accepted and all(r.accepted for r in multi)
    txn = {r["event_id"]: uuid.UUID(r["transaction_id"]) for r in store.events().collect()}
    assert ids.get_uuid_flag(txn[single.event_id])
    assert txn[multi[0].event_id] == txn[multi[1].event_id]
    assert not ids.get_uuid_flag(txn[multi[0].event_id])
    assert all(t.hex[12] == "4" for t in txn.values())

"""EMAPPEND across multiple streams of one partition (emappend.rs):
all-or-nothing visibility and interleaved version/sequence assignment."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sierradb_spark import ids
from sierradb_spark.config import EngineConfig
from sierradb_spark.eventstore import AppendRequest, EventStore


@pytest.fixture()
def store(spark, tmp_path):
    return EventStore(spark, str(tmp_path / "store"), EngineConfig())


def test_multi_stream_atomic_txn(store):
    pkey = str(ids.partition_key_for_stream("order-1"))
    # cross-stream business transaction: order + ledger entry, one commit
    res = store.append_transaction(
        [
            AppendRequest("order-1", "OrderPlaced", b"{}", partition_key=pkey,
                          expected_version="empty"),
            AppendRequest("ledger-A", "Debited", b"{}", partition_key=pkey,
                          expected_version="empty"),
            AppendRequest("order-1", "OrderConfirmed", b"{}", partition_key=pkey,
                          expected_version="0"),
        ]
    )
    assert [r.accepted for r in res] == [True, True, True]
    assert [r.stream_version for r in res] == [0, 0, 1]
    # contiguous sequences within the transaction, shared transaction_id
    seqs = [r.partition_sequence for r in res]
    assert seqs == [seqs[0], seqs[0] + 1, seqs[0] + 2]
    ev = store.events().where(F.col("partition_key") == pkey)
    txns = ev.select("transaction_id").distinct().collect()
    assert len(txns) == 1
    assert not ids.get_uuid_flag(__import__("uuid").UUID(txns[0][0]))  # explicit commit

    # a failing multi-stream txn leaves NO trace on any of its streams
    res2 = store.append_transaction(
        [
            AppendRequest("ledger-A", "Debited", b"{}", partition_key=pkey,
                          expected_version="0"),
            AppendRequest("order-1", "OrderShipped", b"{}", partition_key=pkey,
                          expected_version="7"),  # conflict
        ]
    )
    assert [r.accepted for r in res2] == [False, False]
    assert store.stream_version("ledger-A", partition_key=pkey) == 0
    assert store.stream_version("order-1") == 1  # pkey IS order-1's default
    # EGET on any member returns the whole original transaction
    got = store.get(res[1].event_id).collect()
    assert sorted(r["event_name"] for r in got) == [
        "Debited", "OrderConfirmed", "OrderPlaced",
    ]


def test_emappend_rejects_mixed_partitions(store):
    with pytest.raises(ValueError, match="single partition_key"):
        store.append_transaction(
            [AppendRequest("a-1", "E"), AppendRequest("b-2", "E")]
        )

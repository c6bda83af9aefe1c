"""Guided tour of the event-store surface — a migrating user's crib sheet.

Every stop is one reference capability and its call here: appends with
optimistic concurrency, atomic multi-event transactions, the five read
patterns, the command adapter (the reference client's exact call
shape), subscriptions, time travel, the change feed, and compaction.
Asserts at each stop document the guarantee being exercised.

Run:  PYTHONPATH=/root/repo python examples/eventstore_tour.py [store_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sierradb_spark.commands import CommandError, execute_command as ex  # noqa: E402
from sierradb_spark.config import EngineConfig  # noqa: E402
from sierradb_spark.eventstore import AppendRequest, EventStore  # noqa: E402
from sierradb_spark.session import get_spark  # noqa: E402


def tour(store_dir: str) -> None:
    spark = get_spark(shuffle_partitions=8)
    store = EventStore(spark, store_dir, EngineConfig())

    # --- 1. EAPPEND: optimistic concurrency ------------------------------
    r0 = store.append([AppendRequest("acct-1", "Opened", b"{}",
                                     expected_version="empty")])[0]
    assert r0.accepted and r0.stream_version == 0
    r1 = store.append([AppendRequest("acct-1", "Deposited", b'{"usd": 5}',
                                     expected_version="0")])[0]
    assert r1.accepted and r1.stream_version == 1
    stale = store.append([AppendRequest("acct-1", "Deposited", b"{}",
                                        expected_version="0")])[0]
    assert not stale.accepted and "conflict" in stale.error
    print("1. EAPPEND: gapless versions, stale precondition rejected")

    # --- 2. EMAPPEND: atomic multi-event transaction ---------------------
    # Partition keys are UUIDs (the reference routes by uuid5(stream));
    # co-locating two streams means appending both under ONE key.
    from sierradb_spark import ids

    shared = str(ids.partition_key_for_stream("acct-1"))
    txn = store.append_transaction([
        AppendRequest("acct-1", "Withdrew", partition_key=shared),
        AppendRequest("acct-2", "Received", partition_key=shared),
    ])
    assert all(r.accepted for r in txn)
    whole_txn = store.get(txn[0].event_id).collect()
    assert len(whole_txn) == 2  # EGET returns the WHOLE transaction
    print("2. EMAPPEND: atomic cross-stream txn; EGET returns both events")

    # --- 3. The five read patterns ---------------------------------------
    scan = store.scan("acct-1", 0, "+").collect()
    assert [e["stream_version"] for e in scan] == [0, 1, 2]
    assert store.stream_version("acct-1") == 2  # ESVER, heads log
    pid = scan[0]["partition_id"]
    pseq = store.partition_sequence(pid)  # EPSEQ, watermark map
    assert store.pscan(pid, 0, pseq).count() == pseq + 1
    last = store.scan("acct-1", direction="reverse", count=1).collect()[0]
    assert last["stream_version"] == 2
    print("3. ESCAN/ESVER/EPSCAN/EPSEQ/reverse: all served, all pruned")

    # --- 4. The command adapter (reference client call shape) ------------
    assert ex(store, "PING") == "PONG"
    resp = ex(store, "EAPPEND", "acct-3", "Opened",
              "EXPECTED_VERSION", "empty", "PAYLOAD", b"{}")
    assert resp["stream_version"] == 0
    rows = ex(store, "ESCAN", "acct-1", "-", "+", "COUNT", 2)
    assert len(rows) == 2
    try:
        ex(store, "EAPPEND", "acct-3", "Opened", "EXPECTED_VERSION", "empty")
        raise AssertionError("stale precondition must raise")
    except CommandError:
        pass
    print("4. execute_command: EAPPEND/ESCAN in the client's exact shape")

    # --- 5. Time travel + change feed ------------------------------------
    head = store._read_state().commit
    assert store.scan("acct-3", as_of=head - 1).count() == 0  # not yet
    delta = store.changes(head - 1).collect()
    assert [e["stream_id"] for e in delta] == ["acct-3"]
    print("5. as_of reads a past snapshot; changes() yields one commit's delta")

    # --- 6. Subscription: catch-up delivery ------------------------------
    from sierradb_spark.streaming.subscribe import StreamMatcher, Subscription

    got: list = []
    ckpt = tempfile.mkdtemp(prefix="tour_ckpt_")
    try:
        Subscription(store, StreamMatcher(("acct-1",))).catchup(
            got.extend, ckpt
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    assert [e["stream_version"] for e in got] == [0, 1, 2]
    print("6. ESUB catch-up: ordered per-stream delivery from version 0")

    # --- 7. Compaction + retention ---------------------------------------
    files_before = store.stats()["events_files"]
    store.compact()
    assert store.stats()["events_files"] <= files_before
    assert store.scan("acct-1").count() == 3  # contents identical
    print("7. compact(): fewer files, same contents, fresh base snapshot")
    print("tour complete:", store.stats())


if __name__ == "__main__":
    d = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(prefix="tour_store_")
    try:
        tour(d)
    finally:
        if len(sys.argv) <= 1:
            shutil.rmtree(d, ignore_errors=True)

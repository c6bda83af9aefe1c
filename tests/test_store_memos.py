"""The driver memos of ``EventStore``: the HEAD state (keyed by the
``_commits`` listing), the heads fold (keyed by the heads files), the
parsed footers of events files of ``_TIER_BYTES`` or more (keyed by
file) and the live rows of the smaller ones (keyed by partition).

A long-lived store answers reads from its memos; a fresh ``EventStore``
on the same path resolves everything from disk. The differential tests
pin the two equal after every kind of commit, including one the
long-lived store did not make and a manifest swept under it, and the
point reads equal to a pandas oracle over ``events()``. The count tests
pin that an unchanged store re-reads no manifest, no heads file and no
events file, that a commit costs the next EAPPEND one heads-file read,
and that each small events file is read once and never scanned.
"""

from __future__ import annotations

import os
import random

import pandas as pd
import pytest

from sierradb_spark import ids
from sierradb_spark.commands import execute_command as ex
from sierradb_spark.config import EngineConfig
from sierradb_spark.eventstore import AppendRequest, EventStore
from sierradb_spark.eventstore import store as store_mod
from sierradb_spark.eventstore.store import SnapshotExpiredError
from test_append_driver import _FailOnce

CFG = EngineConfig(heads_fold_threshold=4)
STREAMS = [f"m-{i}" for i in range(6)]
KEY = ("partition_id", "stream_id")


def _pid(stream_id: str) -> int:
    phash = ids.uuid_to_partition_hash(ids.partition_key_for_stream(stream_id))
    return ids.partition_id_for_hash(phash, CFG.num_partitions)


def _answers(store: EventStore, eids: list[str], as_of: int | None = None) -> dict:
    """What ESVER, ESCAN, EPSCAN, EGET, EPSEQ, the heads fold and (at
    HEAD) stats() report for the test's streams, events and partitions."""
    parts = range(CFG.num_partitions)
    out = {
        "esver": [store.stream_version(s, as_of=as_of) for s in STREAMS],
        "escan": [store.scan_rows(s, as_of=as_of).to_pylist() for s in STREAMS],
        "escan_top": [
            store.scan_rows(s, 1, "+", 2, "reverse", as_of=as_of).to_pylist()
            for s in STREAMS
        ],
        "epscan": [store.pscan_rows(p, as_of=as_of).to_pylist() for p in parts],
        "eget": [store.get_rows(e, as_of=as_of).to_pylist() for e in eids],
        "epseq": [store.partition_sequence(p, as_of=as_of) for p in parts],
        "fold": sorted(
            store._fold_heads(store._read_state(as_of)).to_pylist(),
            key=lambda r: tuple(r[k] for k in KEY),
        ),
    }
    if as_of is None:
        out["stats"] = store.stats()
    return out


def test_memos_match_a_fresh_store(spark, tmp_path):
    path = str(tmp_path / "memo")
    store = EventStore(spark, path, CFG)
    eids: list[str] = []

    def check(as_of=None):
        want = _answers(EventStore(spark, path, CFG), eids, as_of)
        assert _answers(store, eids, as_of) == want, as_of

    def append(*reqs):
        res = store.append(list(reqs))
        eids.extend(r.event_id for r in res if r.accepted)
        return [r.accepted for r in res]

    check()
    assert append(*(AppendRequest(s, "E", b"p") for s in STREAMS + STREAMS[:2])) == [
        True
    ] * 8
    check()
    # EXPECTED_VERSION EAPPENDs: a current one and a stale one.
    cur = store.stream_version("m-0")
    assert append(AppendRequest("m-0", "C", expected_version=str(cur))) == [True]
    assert append(AppendRequest("m-1", "C", expected_version="empty")) == [False]
    check()
    res = store.append_df(
        spark.createDataFrame(
            [(s, "D") for s in STREAMS[:3]], "stream_id string, event_name string"
        )
    ).collect()
    eids.extend(r["event_id"] for r in res if r["accepted"])
    check()
    # A commit the long-lived store does not know about.
    [other] = EventStore(spark, path, CFG).append([AppendRequest("m-2", "O")])
    eids.append(other.event_id)
    check()
    # Heads-log rollover: the fold restarts from one heads file.
    for s in STREAMS[:4]:
        append(AppendRequest(s, "R"))
    assert not store._read_state().heads_files[0].startswith("heads-000000000001-")
    check()
    # A publish that fails once leaves the memos where they were.
    store.commit_backend = _FailOnce()
    with pytest.raises(OSError, match="injected"):
        store.append([AppendRequest("m-3", "Lost")])
    check()
    assert append(AppendRequest("m-3", "Next", expected_version="1")) == [True]
    check()
    store.compact(retain_seconds=3600)
    check()
    append(AppendRequest("m-4", "P"))
    store.delete_streams(["m-5"], retain_seconds=3600)
    check()
    append(AppendRequest("m-5", "Again", expected_version="empty"))
    # Time travel before, across and after both base manifests, with a
    # HEAD read after each so the memos move back and forth.
    for c in store.commits():
        check(as_of=c)
        check()
    # A retention sweep with skewed mtimes unlinks a manifest inside
    # the HEAD chain: the head commit is unchanged, the listing is not,
    # and the HEAD state is no longer reconstructable.
    append(AppendRequest("m-0", "S"))
    head = store._read_state().commit
    os.unlink(os.path.join(store.commits_path, f"{head - 1:020d}.json"))
    for s in (store, EventStore(spark, path, CFG)):
        with pytest.raises(SnapshotExpiredError):
            s.stream_version("m-0")


def test_unchanged_store_rereads_nothing(spark, tmp_path, monkeypatch):
    store = EventStore(spark, str(tmp_path / "count"), CFG)
    eid = store.append([AppendRequest("k-1", "E"), AppendRequest("k-2", "E")])[0].event_id
    loads: list[str] = []
    heads_read: list[str] = []
    load, read_heads = store._load_manifest, store._read_heads
    monkeypatch.setattr(store, "_load_manifest", lambda n: loads.append(n) or load(n))
    monkeypatch.setattr(
        store, "_read_heads", lambda rels: heads_read.extend(rels) or read_heads(rels)
    )
    ops = [
        ("ESVER", "k-1"),
        ("ESCAN", "k-1", "-", "+"),
        ("EGET", eid),
        ("EPSCAN", _pid("k-1"), "-", "+"),
        ("EPSEQ", _pid("k-1")),
    ]
    first = [ex(store, *op) for op in ops]
    loads.clear()
    heads_read.clear()
    for op, answer in zip(ops, first):
        assert ex(store, *op) == answer, op
        assert (loads, heads_read) == ([], []), op

    assert ex(store, "EAPPEND", "k-1", "E")["stream_version"] == 1
    loads.clear()
    heads_read.clear()
    res = ex(store, "EAPPEND", "k-1", "E", "EXPECTED_VERSION", "1")
    assert res["stream_version"] == 2, res
    assert len(heads_read) == 1, heads_read


def _split(store: EventStore, pid: int, as_of: int | None = None) -> tuple[list, list]:
    """Partition ``pid``'s events files cut at ``_TIER_BYTES``."""
    small, large = [], []
    for rel in store._read_state(as_of).files_by_partition.get(pid, ()):
        size = os.path.getsize(os.path.join(store.events_path, rel))
        (small if size < store_mod._TIER_BYTES else large).append(rel)
    return small, large


def _oracle_reads(ev: pd.DataFrame, eids: list[str]) -> dict:
    """The event ids EGET, ESCAN and EPSCAN return, from ``events()``."""

    def ids_of(rows: pd.DataFrame) -> list[str]:
        return rows["event_id"].tolist()

    by_stream = {
        s: ev[ev.stream_id == s].sort_values("stream_version") for s in STREAMS
    }
    by_pid = {
        p: ev[ev.partition_id == p].sort_values("partition_sequence")
        for p in range(CFG.num_partitions)
    }
    txn = dict(zip(ev.event_id, ev.transaction_id))
    return {
        "eget": [
            ids_of(ev[ev.transaction_id == txn[e]].sort_values("partition_sequence"))
            if e in txn
            else []
            for e in eids
        ],
        "escan": [ids_of(by_stream[s]) for s in STREAMS],
        "escan_fwd": [
            ids_of(by_stream[s][by_stream[s].stream_version >= 1].head(3))
            for s in STREAMS
        ],
        "escan_rev": [ids_of(by_stream[s].iloc[::-1].head(2)) for s in STREAMS],
        "epscan": [ids_of(by_pid[p]) for p in by_pid],
        "epscan_rev": [
            ids_of(by_pid[p][by_pid[p].partition_sequence <= 5].iloc[::-1].head(4))
            for p in by_pid
        ],
    }


def _point_reads(store: EventStore, eids: list[str], as_of: int | None = None) -> dict:
    """EGET, ESCAN and EPSCAN rows, as :func:`_oracle_reads` asks them."""
    parts = range(CFG.num_partitions)
    return {
        "eget": [store.get_rows(e, as_of=as_of).to_pylist() for e in eids],
        "escan": [store.scan_rows(s, as_of=as_of).to_pylist() for s in STREAMS],
        "escan_fwd": [
            store.scan_rows(s, 1, "+", 3, as_of=as_of).to_pylist() for s in STREAMS
        ],
        "escan_rev": [
            store.scan_rows(s, "-", "+", 2, "reverse", as_of=as_of).to_pylist()
            for s in STREAMS
        ],
        "epscan": [store.pscan_rows(p, as_of=as_of).to_pylist() for p in parts],
        "epscan_rev": [
            store.pscan_rows(p, "-", 5, 4, "reverse", as_of=as_of).to_pylist()
            for p in parts
        ],
    }


def test_live_rows_match_a_fresh_store_and_the_oracle(spark, tmp_path, monkeypatch):
    """Point reads over partitions that hold both memoized small files
    and scanned large ones equal a fresh store's and the pandas oracle's,
    at HEAD after every kind of commit and at every earlier commit."""
    monkeypatch.setattr(store_mod, "_TIER_BYTES", 8 * 1024)
    path = str(tmp_path / "live")
    store = EventStore(spark, path, CFG)
    eids: list[str] = []
    big = random.Random(7).randbytes  # incompressible: a large file
    rows_read: list[str] = []
    read_rows = store._read_rows
    monkeypatch.setattr(
        store, "_read_rows", lambda rels: rows_read.extend(rels) or read_rows(rels)
    )

    def check(as_of=None):
        got = _point_reads(store, eids, as_of)
        assert got == _point_reads(EventStore(spark, path, CFG), eids, as_of), as_of
        ev = EventStore(spark, path, CFG).events(as_of).toPandas()
        want = _oracle_reads(ev, eids)
        seen = {k: [[r["event_id"] for r in rows] for rows in v] for k, v in got.items()}
        assert seen == want, as_of
        # The memo holds exactly the small files of the partitions read.
        if as_of is None:
            for pid, live in store._live.items():
                assert list(live.files) == _split(store, pid)[0], pid
                assert not live.known & store._fragments.keys(), pid

    def append(*reqs):
        res = store.append(list(reqs))
        eids.extend(r.event_id for r in res if r.accepted)

    def append_df(rows, token=None):
        df = spark.createDataFrame(
            rows, "stream_id string, event_name string, payload binary"
        )
        res = store._apply_batch(df, batch_token=token).collect()
        eids.extend(r["event_id"] for r in res if r["accepted"])

    append(*(AppendRequest(s, "E", b"p") for s in STREAMS))
    append_df([(s, "Big", big(12 * 1024)) for s in STREAMS])
    for i in range(3):
        append(*(AppendRequest(s, f"E{i}", b"q") for s in STREAMS[i::2]))
        check()
    append_df([(s, "T", b"t") for s in STREAMS[:3]], token="q-1")
    append(AppendRequest("m-1", "E"))
    check()
    mixed = [p for p in {_pid(s) for s in STREAMS} if all(_split(store, p))]
    assert mixed, "no partition holds both small and large files"
    assert all(store._live[p].files for p in mixed)
    # Every earlier commit's small files are a prefix of the HEAD memo's.
    for c in store.commits()[:-1]:
        rows_read.clear()
        check(as_of=c)
        assert rows_read == [], c
        check()
    before = store.commits()
    store.compact(retain_seconds=3600)
    # Earlier commits' small files are neither a prefix nor an
    # extension of the HEAD memo's, whether it is shorter or longer.
    for rounds in (0, 3):
        for i in range(rounds):
            append(*(AppendRequest(s, f"C{i}", b"c") for s in STREAMS))
        check()
        for c in before:
            check(as_of=c)
    store.delete_streams(["m-3"], retain_seconds=3600)
    check()
    append(AppendRequest("m-3", "Again", expected_version="empty"))
    for c in store.commits()[-4:]:
        check(as_of=c)
        check()


def test_small_files_are_read_once_and_never_scanned(spark, tmp_path, monkeypatch):
    """Each events file below ``_TIER_BYTES`` is read once, by the
    live-rows memo; only the larger ones reach the scanner and the
    footer memo; an ``as_of`` read is served from the HEAD memo."""
    path = str(tmp_path / "once")
    store = EventStore(spark, path, CFG)
    s = "k-1"
    pid = _pid(s)
    eid = store.append([AppendRequest(s, "E")])[0].event_id
    rows_read: list[str] = []
    scanned: list[str] = []
    read_rows, fragment = store._read_rows, store._fragment
    monkeypatch.setattr(
        store, "_read_rows", lambda rels: rows_read.extend(rels) or read_rows(rels)
    )
    monkeypatch.setattr(
        store, "_fragment", lambda rel: scanned.append(rel) or fragment(rel)
    )
    ops = [
        ("ESCAN", s, "-", "+"),
        ("ESCAN", s, "-", "+", "COUNT", 2),
        ("EGET", eid),
        ("EPSCAN", pid, "-", "+"),
    ]

    def reads_after(k: int) -> None:
        """k EAPPENDs to the partition, then its reads: the first opens
        exactly the k new files, the rest open none."""
        for _ in range(k):
            store.append([AppendRequest(s, "E")])
        new = store._read_state().files_by_partition[pid][-k:]
        rows_read.clear()
        first = [ex(store, *op) for op in ops]
        assert rows_read == list(new)
        rows_read.clear()
        assert [ex(store, *op) for op in ops] == first
        assert rows_read == []

    [ex(store, *op) for op in ops]
    assert rows_read == list(store._read_state().files_by_partition[pid])
    reads_after(1)
    reads_after(3)
    assert scanned == [] and store._fragments == {}
    # A file of _TIER_BYTES or more goes to the scanner, and only it.
    big = random.Random(3).randbytes(store_mod._TIER_BYTES + 1024)
    store.append([AppendRequest(s, "Big", big)])
    reads_after(2)
    [large] = _split(store, pid)[1]
    assert set(scanned) == {large} and list(store._fragments) == [large]
    assert list(store._live[pid].files) == _split(store, pid)[0]
    # as_of reads are slices of the HEAD memo: no file read, memo kept.
    head = store._live[pid]
    fresh = EventStore(spark, path, CFG)
    for c in store.commits():
        want = fresh.scan_rows(s, as_of=c).to_pylist()
        assert store.scan_rows(s, as_of=c).to_pylist() == want, c
    assert rows_read == [] and store._live[pid] is head

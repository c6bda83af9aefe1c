"""The driver memos of ``EventStore``: the HEAD state (keyed by the
``_commits`` listing), the heads fold (keyed by the heads files) and the
parsed events-file footers (keyed by file).

A long-lived store answers reads from its memos; a fresh ``EventStore``
on the same path resolves everything from disk. The differential test
pins the two equal after every kind of commit, including one the
long-lived store did not make and a manifest swept under it. The count
test pins that an unchanged store re-reads no manifest and no heads
file, and that a commit costs the next EAPPEND one heads-file read.
"""

from __future__ import annotations

import os

import pytest

from sierradb_spark import ids
from sierradb_spark.commands import execute_command as ex
from sierradb_spark.config import EngineConfig
from sierradb_spark.eventstore import AppendRequest, EventStore
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

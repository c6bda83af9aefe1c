"""The driver append path (``EventStore.append_transactions``) against
the DataFrame one (``append_df``), and the commit step they share.

Both paths run one enrichment (``enrich_requests``) and one writer
loop (``_assign_and_commit``: one assigner, one pyarrow events writer,
one publish). What differs is how the raw request table is built:
EAPPEND / EMAPPEND turn their ``AppendRequest`` objects into it, a
DataFrame batch is collected into it with ``toArrow()``. The
differential test pins the two entry points to the same results and
the same stored table, with and without preconditions. The overlay
test pins the assigner's per-transaction rollback, the stats test the
writer's parquet statistics, the partition-key test that a key which is
no UUID is refused on every path. The crash tests pin the publish step:
a failed manifest publish leaves no visible trace, and every file a
writer places is fsynced, with its directory, before the manifest names
it.
"""

from __future__ import annotations

import os
import random
import uuid

import pandas as pd
import pyarrow.parquet as pq
import pytest

from sierradb_spark import ids
from sierradb_spark.config import EngineConfig
from sierradb_spark.eventstore import AppendRequest, EventStore
from sierradb_spark.eventstore.commit_backend import LinkCAS
from sierradb_spark.eventstore.schema import EVENT_SCHEMA

CFG = EngineConfig()
EVENT_COLS = [f.name for f in EVENT_SCHEMA.fields]
DF_SCHEMA = (
    "stream_id string, event_name string, payload binary, metadata binary, "
    "event_id string, timestamp_ms long, txn_id string"
)


def _pid(stream_id: str) -> int:
    phash = ids.uuid_to_partition_hash(ids.partition_key_for_stream(stream_id))
    return ids.partition_id_for_hash(phash, CFG.num_partitions)


def _batch(seed: int):
    """~200 requests over 30 streams as transactions: mostly single
    events, some multi-event single-partition transactions, and one
    transaction spanning two partitions. Ids and times are fixed."""
    rng = random.Random(seed)
    streams = [f"d-{i}" for i in range(30)]
    by_pid: dict[int, list[str]] = {}
    for s in streams:
        by_pid.setdefault(_pid(s), []).append(s)
    shared = [g for g in by_pid.values() if len(g) > 1]
    shapes: list[list[str]] = []
    while sum(map(len, shapes)) < 200:
        r = rng.random()
        if r < 0.15 and shared:
            group = rng.choice(shared)
            shapes.append([rng.choice(group) for _ in range(rng.randint(2, 3))])
        elif r < 0.25:
            shapes.append([rng.choice(streams)] * rng.randint(2, 3))
        else:
            shapes.append([rng.choice(streams)])
    a, b = next((x, y) for x in streams for y in streams if _pid(x) != _pid(y))
    shapes.insert(len(shapes) // 2, [a, b])

    txns, txn_uuids, n = [], [], 0
    t_ms = 1_792_000_000_000
    for shape in shapes:
        txn_uuids.append(uuid.UUID(int=rng.getrandbits(128), version=4))
        txn = []
        for s in shape:
            t_ms += rng.randint(0, 3)
            phash = ids.uuid_to_partition_hash(ids.partition_key_for_stream(s))
            eid = ids.uuid_v7_with_partition_hash(
                phash,
                timestamp_ms=t_ms,
                rand12=rng.getrandbits(12),
                rand46=rng.getrandbits(46),
            )
            txn.append(
                AppendRequest(
                    s,
                    f"E{n}",
                    payload=rng.randbytes(rng.randint(0, 40)),
                    metadata=b"m" * rng.randint(0, 2),
                    event_id=str(eid),
                    timestamp_ms=t_ms,
                )
            )
            n += 1
        txns.append(txn)
    return txns, txn_uuids


def _with_expected(txns, rng):
    """The same transactions with preconditions, tracking the versions
    they commit: mostly the current version (satisfiable), some 'any' /
    'exists', and about one transaction in ten stale (ahead by 2).
    Returns them with the accepted flag each request must get."""
    cur: dict[str, int] = {}
    out, accepted = [], []
    for txn in txns:
        spans = len({_pid(r.stream_id) for r in txn}) > 1
        stale = not spans and rng.random() < 0.1
        heads = dict(cur)
        group = []
        for r in txn:
            v = heads.get(r.stream_id)
            x = rng.random()
            if spans or x < 0.1:
                exp = "any"
            elif x < 0.2:
                exp = "empty" if v is None else "exists"
            else:
                exp = "empty" if v is None else str(v)
            if stale and r is txn[-1]:
                exp = str(2 if v is None else v + 2)
            heads[r.stream_id] = 0 if v is None else v + 1
            group.append(AppendRequest(**{**r.__dict__, "expected_version": exp}))
        if not (spans or stale):
            cur = heads
        out.append(group)
        accepted += [not (spans or stale)] * len(txn)
    return out, accepted


def _halves(txns, txn_uuids):
    """The batch as two commits, so the second validates against the
    heads and watermarks the first published."""
    h = len(txns) // 2
    return [(txns[:h], txn_uuids[:h]), (txns[h:], txn_uuids[h:])]


def _driver(store, batches, monkeypatch):
    """append_transactions per batch, with the transaction uuids fixed."""
    out = []
    for txns, txn_uuids in batches:
        it = iter(txn_uuids)
        with monkeypatch.context() as m:
            m.setattr(uuid, "uuid4", lambda: next(it))
            res = store.append_transactions(txns)
        out += [(r.accepted, r.error, r.stream_version, r.partition_sequence) for r in res]
    return out


def _via_df(spark, store, batches, expected: bool):
    """append_df per batch, with the same transaction ids."""
    schema = DF_SCHEMA + (", expected_version string" if expected else "")
    out = []
    for txns, txn_uuids in batches:
        rows = []
        for txn, u in zip(txns, txn_uuids):
            tid = str(ids.set_uuid_flag(u, len(txn) == 1))
            for r in txn:
                row = (r.stream_id, r.event_name, r.payload, r.metadata, r.event_id,
                       r.timestamp_ms, tid)
                rows.append(row + ((r.expected_version,) if expected else ()))
        res = store.append_df(spark.createDataFrame(rows, schema))
        out += [
            (x["accepted"], x["error"], x["stream_version"], x["partition_sequence"])
            for x in res.orderBy("arrival").collect()
        ]
    return out


def _table(store):
    ev = store.events().toPandas()[EVENT_COLS]
    ev = ev.sort_values(["partition_id", "partition_sequence"], ignore_index=True)
    heads = (
        store._fold_heads(store._read_state())
        .to_pandas()
        .sort_values(["partition_id", "stream_id"], ignore_index=True)
    )
    return ev, heads, store._read_state().watermarks


def _assert_same_table(a, b):
    (ev_a, heads_a, wm_a), (ev_b, heads_b, wm_b) = _table(a), _table(b)
    pd.testing.assert_frame_equal(ev_a, ev_b, check_dtype=False)
    pd.testing.assert_frame_equal(heads_a, heads_b)
    assert wm_a == wm_b


def test_driver_append_matches_append_df(spark, tmp_path, monkeypatch):
    """The two entry points of the one enrichment — ``AppendRequest``
    objects → Arrow table (``append_transactions``) and DataFrame →
    ``toArrow()`` → Arrow table (``append_df``) — give equal results and
    equal stored events, heads and watermarks."""
    txns, txn_uuids = _batch(seed=11)
    n = sum(map(len, txns))
    assert 190 <= n <= 210 and any(len(t) > 1 for t in txns)

    def fresh(name):
        return EventStore(spark, str(tmp_path / name), CFG)

    # Precondition-free.
    drv, df_st = fresh("drv"), fresh("df")
    batches = _halves(txns, txn_uuids)
    got = _driver(drv, batches, monkeypatch)
    assert got == _via_df(spark, df_st, batches, expected=False)
    rejected = [g for g in got if not g[0]]
    assert [g[1] for g in rejected] == ["transaction spans multiple partitions"] * 2
    _assert_same_table(drv, df_st)

    # Satisfiable, `any`/`exists` and stale preconditions.
    pre, accepted = _with_expected(txns, random.Random(12))
    assert accepted.count(False) > 4
    drv_pre, df_pre = fresh("drv_pre"), fresh("df_pre")
    batches = _halves(pre, txn_uuids)
    got = _driver(drv_pre, batches, monkeypatch)
    assert got == _via_df(spark, df_pre, batches, expected=True)
    assert [g[0] for g in got] == accepted
    assert any("version conflict" in (g[1] or "") for g in got)
    _assert_same_table(drv_pre, df_pre)


def test_failed_transaction_leaves_heads_unchanged(spark, tmp_path):
    """A multi-event transaction that fails on a later event rolls back
    the versions of its earlier events: the next transactions of the
    same batch validate against the unchanged heads, on both paths."""
    pk = str(ids.partition_key_for_stream("o-1"))
    seed = [AppendRequest("o-1", "Seed"), AppendRequest("o-2", "Seed", partition_key=pk)]
    txns = [
        [
            AppendRequest("o-2", "T1a", expected_version="0", partition_key=pk),
            AppendRequest("o-1", "T1b", expected_version="0"),
            AppendRequest("o-1", "T1c", expected_version="0"),  # stale: 1 in txn
        ],
        [AppendRequest("o-2", "T2", expected_version="0", partition_key=pk)],
        [AppendRequest("o-1", "T3", expected_version="0")],
    ]
    want = [(False, None, None)] * 3 + [(True, 1, 2), (True, 1, 3)]
    conflict = "version conflict on o-1: ahead by 1"

    drv = EventStore(spark, str(tmp_path / "drv"), CFG)
    drv.append(seed)
    res = drv.append_transactions(txns)
    assert [(r.accepted, r.stream_version, r.partition_sequence) for r in res] == want
    assert [r.error for r in res[:3]] == [conflict] * 3

    via_df = EventStore(spark, str(tmp_path / "df"), CFG)
    via_df.append(seed)
    rows = [
        (f"t{n}", r.stream_id, r.event_name, r.expected_version, r.partition_key)
        for n, txn in enumerate(txns)
        for r in txn
    ]
    res = via_df.append_df(
        spark.createDataFrame(
            rows,
            "txn_id string, stream_id string, event_name string, "
            "expected_version string, partition_key string",
        )
    )
    got = [
        (x["accepted"], x["stream_version"], x["partition_sequence"], x["error"])
        for x in res.orderBy("arrival").collect()
    ]
    assert got == [w + (conflict if not w[0] else None,) for w in want]
    got = via_df.scan("o-2", partition_key=pk).collect()
    assert [r["event_name"] for r in got] == ["Seed", "T2"]


def test_writer_keeps_stats_only_for_filtered_columns(spark, tmp_path):
    """The append writer stores parquet min/max statistics for the
    columns reads filter on, and none for payloads and the rest."""
    store = EventStore(spark, str(tmp_path / "stats"), CFG)
    store.append([AppendRequest("st-1", "E", payload=b"x" * 300)])
    store.append_df(
        spark.createDataFrame(
            [("st-2", "E", b"y" * 300)],
            "stream_id string, event_name string, payload binary",
        )
    )
    files = store._read_state().events_files
    assert len(files) == 2
    for rel in files:
        md = pq.ParquetFile(os.path.join(store.events_path, rel)).metadata
        chunks = [md.row_group(0).column(i) for i in range(md.num_columns)]
        assert {c.path_in_schema for c in chunks if c.is_stats_set} == {
            "event_id",
            "stream_id",
            "stream_version",
            "partition_sequence",
            "transaction_id",
        }, rel


class _FailOnce(LinkCAS):
    """A manifest publish that fails once with an I/O error (a crash
    at the commit point)."""

    def __init__(self):
        self.failed = False

    def publish(self, path, payload):
        if not self.failed:
            self.failed = True
            raise OSError("injected publish failure")
        return super().publish(path, payload)


def _visible(store):
    return (
        sorted(map(tuple, store.events().toPandas()[EVENT_COLS].astype(str).values)),
        store.stats(),
        store.stream_version("c-1"),
        store.commits(),
    )


def test_failed_publish_leaves_no_trace(spark, tmp_path):
    store = EventStore(spark, str(tmp_path / "crash"), CFG)
    store.append([AppendRequest("c-1", "A"), AppendRequest("c-2", "A")])
    before = _visible(store)
    backend = _FailOnce()
    store.commit_backend = backend
    with pytest.raises(OSError, match="injected"):
        store.append([AppendRequest("c-1", "Lost")])
    assert backend.failed
    assert _visible(store) == before

    [res] = store.append([AppendRequest("c-1", "Next", expected_version="0")])
    assert res.accepted and res.stream_version == 1, res
    assert res.partition_sequence == before[1]["confirmed_sequences"][_pid("c-1")] + 1
    assert [r["event_name"] for r in store.scan("c-1").collect()] == ["A", "Next"]

    store.compact()
    state = store._read_state()
    on_disk = {
        os.path.relpath(os.path.join(root, f), store.events_path)
        for root, _dirs, files in os.walk(store.events_path)
        for f in files
    }
    assert on_disk == set(state.events_files)
    assert set(os.listdir(store.heads_path)) == set(state.heads_files)


def _spy_durability(store, monkeypatch):
    """Record, in order, every path fsynced (through os.open +
    os.fsync), every rename and every manifest publish."""
    log: list[tuple] = []
    fd_path: dict[int, str] = {}
    real_open, real_fsync, real_rename = os.open, os.fsync, os.rename
    real_publish = store.commit_backend.publish

    def spy_open(path, flags, *a, **k):
        fd = real_open(path, flags, *a, **k)
        fd_path[fd] = os.path.abspath(path)
        return fd

    def spy_fsync(fd):
        log.append(("fsync", fd_path.get(fd)))
        return real_fsync(fd)

    def spy_rename(src, dst):
        log.append(("rename", os.path.abspath(src), os.path.abspath(dst)))
        return real_rename(src, dst)

    def spy_publish(path, payload):
        log.append(("publish", path))
        return real_publish(path, payload)

    monkeypatch.setattr(os, "open", spy_open)
    monkeypatch.setattr(os, "fsync", spy_fsync)
    monkeypatch.setattr(os, "rename", spy_rename)
    monkeypatch.setattr(store.commit_backend, "publish", spy_publish)
    return log


def _check_synced_before_publish(store, log, prefix):
    """Each events file the new manifest adds under ``prefix`` was
    fsynced (under its staging name, before its rename) and so was its
    directory (after the rename), all before the manifest publish."""
    [publish_at] = [i for i, e in enumerate(log) if e[0] == "publish"]
    added = [f for f in store._read_state().events_files if prefix in f]
    assert added, store._read_state().events_files
    for rel in added:
        full = os.path.abspath(os.path.join(store.events_path, rel))
        [(moved_at, src)] = [
            (i, e[1]) for i, e in enumerate(log) if e[0] == "rename" and e[2] == full
        ]
        synced = [i for i, e in enumerate(log) if e == ("fsync", src)]
        assert synced and synced[0] < moved_at, (rel, "file not fsynced")
        dir_synced = [
            i for i, e in enumerate(log) if e == ("fsync", os.path.dirname(full))
        ]
        assert any(moved_at < i < publish_at for i in dir_synced), (
            rel,
            "directory not fsynced",
        )


def test_compact_and_delete_fsync_placed_files_before_publish(
    spark, tmp_path, monkeypatch
):
    store = EventStore(spark, str(tmp_path / "sync"), CFG)
    store.append([AppendRequest(f"f-{i}", "E") for i in range(6)])
    # A stream sharing f-0's partition: deleting it rewrites that partition.
    pk = str(ids.partition_key_for_stream("f-0"))
    store.append([AppendRequest("f-gone", "E", partition_key=pk)])

    with monkeypatch.context() as m:
        log = _spy_durability(store, m)
        store.compact()
    _check_synced_before_publish(store, log, "compact-")

    with monkeypatch.context() as m:
        log = _spy_durability(store, m)
        store.delete_streams(["f-gone"])
    _check_synced_before_publish(store, log, "delete-")


def test_nul_byte_stream_id_is_refused_on_both_paths(spark, tmp_path):
    """A stream id with a NUL byte is invalid (lib.rs:45-47) on every
    append path: the driver append and EAPPEND raise, ``append_df``
    rejects the request with the same reason, and nothing is stored."""
    from sierradb_spark.commands import execute_command

    store = EventStore(spark, str(tmp_path / "nul"), CFG)
    with pytest.raises(ValueError, match="stream_id cannot contain null bytes"):
        store.append([AppendRequest("a\x00b", "E")])
    with pytest.raises(ValueError, match="stream_id cannot contain null bytes"):
        execute_command(store, "EAPPEND", "a\x00b", "E")
    res = store.append_df(
        spark.createDataFrame([("a\x00b", "E")], "stream_id string, event_name string")
    ).collect()
    assert [(r["accepted"], r["error"]) for r in res] == [
        (False, "stream_id cannot contain null bytes")
    ]
    assert store.stats()["total_events"] == 0


def test_non_uuid_partition_key_is_refused_on_every_path(spark, tmp_path):
    """A partition_key that is not a UUID has no partition: the driver
    append and EAPPEND raise, ``append_df`` and a streaming batch reject
    the request, nothing is stored, and the store still reads and
    appends (an accepted NULL partition would name ``partition_id=None``
    in the manifest and break every later state read)."""
    from sierradb_spark.commands import execute_command
    from sierradb_spark.streaming.ingest import StreamIngest

    store = EventStore(spark, str(tmp_path / "pk"), CFG)
    why = "partition_key is not a UUID"
    with pytest.raises(ValueError, match=why):
        store.append([AppendRequest("s", "E", partition_key="not-a-uuid")])
    with pytest.raises(ValueError, match=why):
        execute_command(store, "EAPPEND", "s", "E", "PARTITION_KEY", "not-a-uuid")
    schema = "stream_id string, event_name string, partition_key string"
    rows = [("s", "E", "not-a-uuid"), ("s", "E", None)]
    res = store.append_df(spark.createDataFrame(rows, schema)).orderBy("arrival")
    assert [(r["accepted"], r["error"]) for r in res.collect()] == [(False, why), (True, None)]

    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema).coalesce(1).write.json(src)
    got = []
    q = StreamIngest(store).start(
        spark.readStream.schema(schema).json(src),
        checkpoint=str(tmp_path / "ckpt"),
        available_now=True,
        on_batch=lambda _id, r: got.extend(r.collect()),
    )
    q.awaitTermination(120)
    assert sorted((r["accepted"], r["error"]) for r in got) == [(False, why), (True, None)]

    assert store.append([AppendRequest("s", "E")])[0].stream_version == 2
    assert all(isinstance(p, int) for p in store._read_state().watermarks)
    assert store.stats()["total_events"] == 3
    assert [r["stream_version"] for r in store.scan("s").collect()] == [0, 1, 2]

"""Sealed segments: compact() merges only each partition's new files.

Appends leave delta files; compaction merges a partition's delta files
into one ``compact-*`` segment on the driver and carries every other
segment untouched, except for the size-tiered merges
(``store._plan_merges``) that keep the segment count bounded.
"""

from __future__ import annotations

import os
import random

from sierradb_spark import ids
from sierradb_spark.config import EngineConfig
from sierradb_spark.eventstore import AppendRequest, EventStore
from sierradb_spark.eventstore import store as store_mod
from sierradb_spark.eventstore.store import _partition_of, _plan_merges


def _segments(store: EventStore) -> dict[int, list[str]]:
    return {
        pid: [r for r in rels if os.path.basename(r).startswith(store_mod._SEGMENT_PREFIXES)]
        for pid, rels in store._read_state().files_by_partition.items()
    }


def test_plan_merges_tiers_and_seal(monkeypatch):
    monkeypatch.setattr(store_mod, "_TIER_BYTES", 100)
    monkeypatch.setattr(store_mod, "_SEAL_BYTES", 10_000)
    # Three tier-0 segments plus the delta fill tier 0: all four merge.
    files = [("p/compact-a-0000.parquet", 50), ("p/delete-b-0000.parquet", 60),
             ("p/compact-c-0000.parquet", 70), ("p/d1-0000.parquet", 30),
             ("p/d2-0000.parquet", 20)]
    carried, merges = _plan_merges(files)
    assert carried == []
    assert merges == [["p/compact-a-0000.parquet", "p/delete-b-0000.parquet",
                       "p/compact-c-0000.parquet", "p/d1-0000.parquet",
                       "p/d2-0000.parquet"]]
    # A tier-0 merge that fills tier 1 cascades; the sealed segment and
    # the older tier-1 segments outside the newest four stay.
    tier1 = [(f"p/compact-t1{i}-0000.parquet", 500) for i in range(3)]
    tier0 = [(f"p/compact-t0{i}-0000.parquet", 100) for i in range(3)]
    sealed = [("p/compact-big-0000.parquet", 10_000)]
    carried, merges = _plan_merges(sealed + tier1 + tier0 + [("p/d-0000.parquet", 100)])
    assert carried == ["p/compact-big-0000.parquet"]
    assert merges == [[rel for rel, _ in tier1 + tier0] + ["p/d-0000.parquet"]]
    # No delta and no full tier: nothing is rewritten.
    assert _plan_merges(tier1 + sealed) == ([r for r, _ in tier1 + sealed], [])


def test_compact_starts_no_spark_job(spark, tmp_path, jobs_started):
    store = EventStore(spark, str(tmp_path / "s"), EngineConfig())
    store.append([AppendRequest(f"j-{i % 7}", "E") for i in range(40)])
    store.delete_streams(["j-1"])  # Spark-written delete-* segments
    store.append([AppendRequest(f"j-{i % 7}", "F") for i in range(40)])
    before = sorted(map(tuple, store.events().collect()))
    _, jobs = jobs_started(store.compact)
    assert jobs == 0
    assert sorted(map(tuple, store.events().collect())) == before


def test_second_compaction_rewrites_only_delta_partitions(spark, tmp_path):
    store = EventStore(spark, str(tmp_path / "s"), EngineConfig())
    store.append([AppendRequest(f"r-{i}", "E") for i in range(96)])
    store.compact()
    first = store._read_state().events_files
    assert all(os.path.basename(r).startswith("compact-") for r in first)
    mtimes = {
        r: os.stat(os.path.join(store.events_path, r)).st_mtime_ns for r in first
    }
    store.append([AppendRequest(s, "F") for s in ("r-3", "r-40", "r-77")])
    touched = {store._stream_partition(s, None) for s in ("r-3", "r-40", "r-77")}
    store.compact()
    second = store._read_state().events_files
    # Every first-round segment is carried: same path, same mtime.
    for rel, mtime in mtimes.items():
        assert rel in second
        assert os.stat(os.path.join(store.events_path, rel)).st_mtime_ns == mtime
    new = set(second) - set(first)
    assert {_partition_of(r) for r in new} == touched
    assert len(new) == len(touched)


def test_segment_count_stays_bounded(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(store_mod, "_TIER_BYTES", 2 * 1024)
    monkeypatch.setattr(store_mod, "_SEAL_BYTES", 48 * 1024)
    store = EventStore(spark, str(tmp_path / "s"), EngineConfig(num_partitions=2))
    fan_in, seal = store_mod._FAN_IN, store_mod._SEAL_BYTES
    tiers = int(store_mod.math.log(seal / store_mod._TIER_BYTES, fan_in)) + 1
    rng = random.Random(3)
    cycles, peak, merged, sealed = 24, 0, 0, 0
    seen: set[str] = set()
    for c in range(cycles):
        store.append(
            [AppendRequest(f"b-{rng.randrange(12)}", "E", payload=rng.randbytes(60))
             for _ in range(40)]
        )
        store.compact()
        for pid, segs in _segments(store).items():
            sizes = [os.path.getsize(os.path.join(store.events_path, r)) for r in segs]
            big = sum(s >= seal for s in sizes)
            assert len(segs) - big <= (fan_in - 1) * tiers + 1, (c, pid, sizes)
            peak = max(peak, len(segs))
            sealed = max(sealed, big)
        live = set(store._read_state().events_files)
        merged += len(seen - live)
        seen = live
    # Tier merges ran and some segment sealed, yet the count stays far
    # below one segment per compaction.
    assert merged > 0 and sealed > 0
    assert peak < cycles // 2


def _requests(rng: random.Random, cycle: int, streams: list[str]) -> list[AppendRequest]:
    """Requests with explicit event ids and timestamps, so a twin store
    fed the same requests stores the same rows."""
    out = []
    for j in range(rng.randint(10, 30)):
        s = rng.choice(streams)
        phash = ids.uuid_to_partition_hash(ids.partition_key_for_stream(s))
        ts = 1_700_000_000_000 + cycle * 1000 + j
        eid = ids.uuid_v7_with_partition_hash(
            phash, timestamp_ms=ts, rand12=rng.getrandbits(12), rand46=rng.getrandbits(46)
        )
        out.append(
            AppendRequest(s, f"E{cycle}", payload=rng.randbytes(rng.randint(0, 80)),
                          event_id=str(eid), timestamp_ms=ts)
        )
    return out


def _rows(table) -> list[tuple]:
    return [tuple(sorted(r.items())) for r in table.drop_columns(["transaction_id"]).to_pylist()]


def _assert_reads_match(a: EventStore, b: EventStore, streams, pids, as_of=(None, None)):
    for s in streams:
        assert _rows(a.scan_rows(s, as_of=as_of[0])) == _rows(b.scan_rows(s, as_of=as_of[1])), s
        assert a.stream_version(s, as_of=as_of[0]) == b.stream_version(s, as_of=as_of[1]), s
    for pid in pids:
        assert _rows(a.pscan_rows(pid, as_of=as_of[0])) == _rows(
            b.pscan_rows(pid, as_of=as_of[1])
        ), pid


def test_segments_match_never_compacted_twin(spark, tmp_path, monkeypatch):
    """Over many cycles of appends, deletes and compactions (with tier
    merges, and Spark-written delete-* segments merged by a later
    compaction), the compacted store reads exactly like a twin that is
    fed the same requests and never compacted."""
    monkeypatch.setattr(store_mod, "_TIER_BYTES", 1024)
    monkeypatch.setattr(store_mod, "_SEAL_BYTES", 32 * 1024)
    config = EngineConfig(num_partitions=4)
    a = EventStore(spark, str(tmp_path / "compacted"), config)
    b = EventStore(spark, str(tmp_path / "twin"), config)
    rng = random.Random(11)
    streams = [f"t-{i}" for i in range(10)]
    pids = range(config.num_partitions)
    cols = [c for c in a.events().columns if c != "transaction_id"]
    window: list[tuple[int, int]] = []  # resolvable (a, b) commit pairs
    delete_files: set[str] = set()
    tier_merges = 0
    for cycle in range(16):
        reqs = _requests(rng, cycle, streams)
        a.append(reqs)
        b.append(reqs)
        if cycle in (5, 11):
            gone = [rng.choice(streams)]
            mode = "hard" if cycle == 5 else "scrub"
            a.delete_streams(gone, mode=mode)
            b.delete_streams(gone, mode=mode)
            window.clear()  # both swept their superseded manifests
            delete_files |= {
                r for r in a._read_state().events_files if "/delete-" in r
            }
        before = set(a._read_state().events_files)
        retain = 0.0 if cycle % 6 == 2 else 3600.0
        a.compact(retain_seconds=retain)
        if retain == 0.0:
            window.clear()
        carried = before & set(a._read_state().events_files)
        tier_merges += any(
            "/compact-" in r or "/delete-" in r for r in before - carried
        )
        window.append((a._read_state().commit, b._read_state().commit))

        assert sorted(a.events().select(cols).collect()) == sorted(
            b.events().select(cols).collect()
        ), cycle
        _assert_reads_match(a, b, streams, pids)
        for snap in window[-3:]:
            _assert_reads_match(a, b, streams[:4], pids, as_of=snap)
    assert tier_merges > 0
    # Every Spark-written delete-* segment was merged by a later compaction.
    assert delete_files and not delete_files & set(a._read_state().events_files)

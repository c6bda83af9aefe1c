"""applyInPandasWithState stream-heads maintenance tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sierradb_spark.config import EngineConfig
from sierradb_spark.eventstore import AppendRequest, EventStore
from sierradb_spark.streaming.stateful import StreamHeadsMaintainer


@pytest.fixture()
def store(spark, tmp_path):
    return EventStore(spark, str(tmp_path / "store"), EngineConfig())


def _expected_heads(store):
    return {
        r["stream_id"]: (r["head"], r["n"])
        for r in store.events()
        .groupBy("stream_id")
        .agg(F.max("stream_version").alias("head"), F.count("*").alias("n"))
        .collect()
    }


def test_stream_heads_maintained_incrementally(store, tmp_path):
    store.append([AppendRequest(f"h-{i % 5}", "E") for i in range(50)])
    m = StreamHeadsMaintainer(store, str(tmp_path / "heads"))
    ckpt = str(tmp_path / "ckpt")
    m.run_once(ckpt)
    got = {
        r["stream_id"]: (r["head_version"], r["n_events"])
        for r in m.heads().collect()
    }
    assert got == _expected_heads(store)

    # incremental: state must carry across the restart (n_events is a
    # running count — wrong unless prior state was restored)
    store.append([AppendRequest(f"h-{i % 3}", "E") for i in range(21)])
    m.run_once(ckpt)
    got = {
        r["stream_id"]: (r["head_version"], r["n_events"])
        for r in m.heads().collect()
    }
    assert got == _expected_heads(store)


def test_snapshot_publication_is_pointer_atomic(store, tmp_path):
    """The snapshot is published as a versioned dir + CURRENT pointer,
    never an overwrite of the live directory: a crash that leaves a
    half-written version (no pointer update) must not affect readers,
    and the next run must publish normally and sweep the junk. (The old
    overwrite-in-place lost every untouched stream's head if a crash
    landed between the delete and the rewrite, because update-mode
    replays only re-emit the streams in the replayed batch.)"""
    import os

    store.append([AppendRequest(f"p-{i % 4}", "E") for i in range(20)])
    out = str(tmp_path / "heads")
    m = StreamHeadsMaintainer(store, out)
    ckpt = str(tmp_path / "ckpt")
    m.run_once(ckpt)
    before = {
        r["stream_id"]: (r["head_version"], r["n_events"])
        for r in m.heads().collect()
    }
    assert before == _expected_heads(store)
    assert os.path.exists(os.path.join(out, "CURRENT"))

    # simulate a crash mid-publication: a half-written version dir with
    # no pointer update — readers must still see the published snapshot
    junk = os.path.join(out, "v-deadbeef")
    os.makedirs(junk)
    open(os.path.join(junk, "part-00000.parquet"), "wb").close()
    assert {
        r["stream_id"]: (r["head_version"], r["n_events"])
        for r in m.heads().collect()
    } == before

    # the next run publishes a fresh version, re-points, sweeps junk
    prev_current = os.path.basename(m._current_version())
    store.append([AppendRequest("p-0", "E2")])
    m.run_once(ckpt)
    assert {
        r["stream_id"]: (r["head_version"], r["n_events"])
        for r in m.heads().collect()
    } == _expected_heads(store)
    assert not os.path.exists(junk)
    versions = sorted(d for d in os.listdir(out) if d.startswith("v-"))
    # current + the JUST-superseded version (retained one publication
    # cycle so a reader that resolved the old pointer moments before
    # the re-point can finish its scan); older generations swept
    assert len(versions) == 2 and prev_current in versions


def test_superseded_snapshot_retained_one_cycle_then_swept(store, tmp_path):
    """A heads() reader that resolved CURRENT just before a publication
    must still find its version dir afterwards (retained one cycle);
    the generation before THAT is deleted. Orphan .ptr-* files from a
    crash between tmp-write and os.replace are swept too."""
    import os

    store.append([AppendRequest(f"r-{i % 3}", "E") for i in range(9)])
    out = str(tmp_path / "heads")
    m = StreamHeadsMaintainer(store, out)
    ckpt = str(tmp_path / "ckpt")
    m.run_once(ckpt)
    gen1 = m._current_version()

    # crash artifact: a tmp pointer that never got renamed
    orphan_ptr = os.path.join(out, ".ptr-00000000")
    with open(orphan_ptr, "w") as f:
        f.write("v-bogus")

    # a reader resolves CURRENT now (= gen1), then publication happens
    store.append([AppendRequest("r-0", "E2")])
    m.run_once(ckpt)
    gen2 = m._current_version()
    assert gen2 != gen1
    assert os.path.isdir(gen1)  # the reader's resolved dir still scans
    assert store.spark.read.parquet(gen1).count() > 0
    assert not os.path.exists(orphan_ptr)  # crash leftovers swept

    # next cycle: gen1 is two generations old and gets deleted
    store.append([AppendRequest("r-1", "E3")])
    m.run_once(ckpt)
    assert os.path.isdir(gen2)
    assert not os.path.exists(gen1)


def test_heads_view_ignores_orphans_and_compaction_rewrites(store, tmp_path):
    """The stateful fold must see only COMMITTED events, each exactly
    once: an orphaned uncommitted parquet file in events/ must not fold
    into heads state, and compaction's rewritten files (re-containing
    all history) must not double n_events."""
    import glob as _glob
    import os as _os
    import shutil as _shutil

    store.append([AppendRequest(f"o-{i % 3}", "E") for i in range(12)])
    # Forge a crashed writer's orphan: an unreferenced copy of a
    # committed file, full of events the manifest never committed.
    [src] = _glob.glob(store.events_path + "/partition_id=*/*.parquet")[:1]
    _shutil.copy(src, _os.path.join(_os.path.dirname(src), "orphan-x.parquet"))

    m = StreamHeadsMaintainer(store, str(tmp_path / "heads"))
    ckpt = str(tmp_path / "ckpt")
    m.run_once(ckpt)
    assert {
        r["stream_id"]: (r["head_version"], r["n_events"])
        for r in m.heads().collect()
    } == _expected_heads(store)

    # Compaction rewrites every event into new files; a raw-directory
    # stream would re-fold all history. The committed feed must not.
    store.compact()
    store.append([AppendRequest("o-0", "post")])
    m.run_once(ckpt)
    assert {
        r["stream_id"]: (r["head_version"], r["n_events"])
        for r in m.heads().collect()
    } == _expected_heads(store)

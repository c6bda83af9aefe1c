"""Durability/concurrency contracts of the manifest commit protocol:

- single-writer enforcement via manifest-chain CAS (the reference's
  one-writer-per-bucket discipline, writer_thread_pool.rs:56-186);
- idempotent streaming replay via batch tokens in the manifest (the
  reference's writer assigns sequences exactly once even on client
  retry, writer_thread_pool.rs:560-645);
- compact() reader safety: superseded manifests removed before data
  files, retention window for concurrent readers.
"""

from __future__ import annotations

import glob
import os

import pytest

from pyspark.sql import functions as F

from sierradb_spark.config import EngineConfig
from sierradb_spark.eventstore import AppendRequest, EventStore
from sierradb_spark.eventstore.commit_backend import ConditionalPut, LinkCAS
from sierradb_spark.eventstore.store import (
    ConcurrentWriteError,
    SnapshotExpiredError,
    _cap_batch_tokens,
)


# Every durability contract in this file runs against BOTH commit-point
# backends: the POSIX hard-link CAS and the object-store conditional-put
# emulation — the single-writer guarantee must survive the documented
# production swap (commit_backend.py).
@pytest.fixture(params=["link_cas", "conditional_put"])
def store(spark, tmp_path, request):
    backend = LinkCAS() if request.param == "link_cas" else ConditionalPut()
    return EventStore(
        spark,
        str(tmp_path / "store"),
        EngineConfig(),
        commit_backend=backend,
    )


def _events_count(store):
    return store.events().count()


# --- single-writer CAS -------------------------------------------------------


def test_manifest_cas_rejects_stale_commit(spark, tmp_path):
    """A writer holding stale state cannot publish over the new head."""
    path = str(tmp_path / "store")
    s1 = EventStore(spark, path, EngineConfig())
    s2 = EventStore(spark, path, EngineConfig())
    s1.append([AppendRequest("cas-a", "E0")])
    stale = s2._read_state()  # head == 1
    s1.append([AppendRequest("cas-a", "E1")])  # head moves to 2
    with pytest.raises(ConcurrentWriteError):
        s2._write_manifest(
            {
                "commit": stale.commit + 1,  # = 2, already taken
                "base": False,
                "events_add": [],
                "heads_add": [],
                "watermarks": {},
            }
        )
    # The loser retries from fresh state and wins cleanly; nothing lost.
    s2.append([AppendRequest("cas-a", "E2")])
    assert [r["stream_version"] for r in s1.scan("cas-a").collect()] == [0, 1, 2]


def test_two_instances_interleaved_appends_no_loss(spark, tmp_path):
    """Sequential interleaving through two instances is safe: each append
    re-reads the manifest head, so the chain stays gapless."""
    path = str(tmp_path / "store")
    s1 = EventStore(spark, path, EngineConfig())
    s2 = EventStore(spark, path, EngineConfig())
    for i, s in enumerate([s1, s2, s1, s2]):
        s.append([AppendRequest("interleave", f"E{i}")])
    assert [r["stream_version"] for r in s1.scan("interleave").collect()] == [0, 1, 2, 3]
    assert s2.commits() == [1, 2, 3, 4]


# --- idempotent replay -------------------------------------------------------


def _request_df(spark, n, stream="replay"):
    return spark.createDataFrame(
        [(stream, f"E{i}") for i in range(n)], "stream_id string, event_name string"
    )


def test_apply_batch_skips_committed_token(spark, store):
    requests = _request_df(spark, 5)
    r1 = store._apply_batch(requests, batch_token="qk-0")
    assert r1.count() == 5
    assert _events_count(store) == 5
    # Replay of the same micro-batch (crash between manifest-rename and
    # checkpoint-commit): token already committed -> skipped whole.
    r2 = store._apply_batch(requests, batch_token="qk-0")
    assert r2.count() == 0
    assert _events_count(store) == 5
    # A different token is a genuinely new batch.
    store._apply_batch(requests, batch_token="qk-1")
    assert _events_count(store) == 10


def test_stream_ingest_checkpoint_loss_replay_no_duplicates(spark, store, tmp_path):
    """End-to-end: re-running a query whose checkpoint was wiped replays
    batch 0 from the same source files; the manifest token dedups it."""
    from sierradb_spark.streaming.ingest import StreamIngest

    src = str(tmp_path / "src")
    os.makedirs(src)
    _request_df(spark, 8, "ckpt-loss").coalesce(1).write.mode("append").json(src)
    ckpt = str(tmp_path / "ckpt")
    schema = "stream_id string, event_name string"

    def run():
        reqs = spark.readStream.schema(schema).json(src)
        q = StreamIngest(store).start(reqs, checkpoint=ckpt, available_now=True)
        q.awaitTermination(120)

    run()
    assert _events_count(store) == 8
    # Simulate losing the sink-side ack: wipe the checkpoint so Spark
    # replays the same files as batch 0 under the same query key.
    import shutil

    shutil.rmtree(ckpt)
    run()
    assert _events_count(store) == 8  # no duplicates
    assert [r["stream_version"] for r in store.scan("ckpt-loss").collect()] == list(
        range(8)
    )


def test_compact_carries_tokens_forward(spark, store):
    requests = _request_df(spark, 3)
    store._apply_batch(requests, batch_token="survives-compact")
    store.compact()
    r = store._apply_batch(requests, batch_token="survives-compact")
    assert r.count() == 0
    assert _events_count(store) == 3


# --- compact() reader safety -------------------------------------------------


def test_compact_retention_preserves_recent_files(store):
    for b in range(3):
        store.append([AppendRequest(f"ret-{i}", f"E{b}") for i in range(3)])
    n_before = len(glob.glob(store.events_path + "/**/*.parquet", recursive=True))
    store.compact(retain_seconds=3600)
    # Old files are inside the retention window -> still on disk...
    n_after = len(glob.glob(store.events_path + "/**/*.parquet", recursive=True))
    assert n_after > n_before  # old + newly compacted
    # ...and the superseded manifests are retained too (a concurrent
    # subscriber tailing _commits/ must be able to read a listed
    # manifest and its files), so pre-compaction snapshots stay
    # time-travel readable within the window.
    assert store.commits() == [1, 2, 3, 4]
    assert store.events(as_of=2).count() == 6
    # Latest reads resolve the base manifest only.
    assert store.events().count() == 9
    # A later compact with no retention sweeps them.
    store.append([AppendRequest("ret-0", "tail")])
    store.compact()
    remaining = glob.glob(store.events_path + "/**/*.parquet", recursive=True)
    state = store._read_state()
    assert len(remaining) == len(state.events_files)
    assert store.events().count() == 10
    # After the sweep, expired snapshots raise a clear error instead of
    # silently returning partial/empty data.
    with pytest.raises(SnapshotExpiredError):
        store.events(as_of=2)


def test_time_travel_scan_get_forms(store):
    """The read surface (scan/pscan/get/stream_version/
    partition_sequence) accepts as_of and resolves the same snapshot
    events(as_of) does — readable back through compaction's retention
    window, SnapshotExpiredError beyond it."""
    store.append([AppendRequest("tt", f"E{i}") for i in range(3)])  # commit 1
    store.append([AppendRequest("tt", f"L{i}") for i in range(2)])  # commit 2
    eid = store.scan("tt").collect()[0]["event_id"]

    # as_of=1: only the first batch exists
    assert [r["event_name"] for r in store.scan("tt", as_of=1).collect()] == [
        "E0", "E1", "E2"
    ]
    assert store.stream_version("tt", as_of=1) == 2
    assert store.stream_version("tt") == 4
    pid = store.scan("tt").collect()[0]["partition_id"]
    assert store.partition_sequence(pid, as_of=1) == 2
    assert store.pscan(pid, as_of=1).count() == 3
    assert store.get(eid, as_of=1).count() == 1

    # snapshots survive compaction within retention...
    store.compact(retain_seconds=3600)
    assert store.scan("tt", as_of=1).count() == 3
    assert store.get(eid, as_of=1).count() == 1
    # ...and raise clearly once the sweep takes the chain below them
    store.append([AppendRequest("tt", "post")])
    store.compact()
    for op in (
        lambda: store.scan("tt", as_of=1),
        lambda: store.pscan(pid, as_of=1),
        lambda: store.get(eid, as_of=1),
        lambda: store.stream_version("tt", as_of=1),
        lambda: store.partition_sequence(pid, as_of=1),
    ):
        with pytest.raises(SnapshotExpiredError):
            op()
    # latest reads are unaffected
    assert store.stream_version("tt") == 5


def test_compact_removes_manifests_before_commits_lists_them(store):
    """After compact, commits() lists exactly the base snapshot — no
    superseded manifest may survive pointing at swept files."""
    for b in range(2):
        store.append([AppendRequest("m-0", f"E{b}")])
    store.compact()
    assert store.commits() == [3]
    # every listed commit is fully readable
    for c in store.commits():
        store.events(as_of=c).count()


# --- config-derived quorum ---------------------------------------------------


def test_confirmation_count_tracks_replication_factor(spark, tmp_path):
    for rf, quorum in ((1, 1), (3, 2), (5, 3)):
        st = EventStore(
            spark,
            str(tmp_path / f"rf{rf}"),
            EngineConfig(replication_factor=rf),
        )
        st.append([AppendRequest("q", "E")])
        [row] = st.events().select("confirmation_count").collect()
        assert row[0] == quorum, (rf, quorum)


# --- NULL expected_version (reject-don't-crash) ------------------------------


def test_null_expected_version_treated_as_any(spark, store):
    reqs = spark.createDataFrame(
        [
            ("nullev", "E0", None),
            ("nullev", "E1", "0"),  # real precondition forces the slow path
        ],
        "stream_id string, event_name string, expected_version string",
    )
    res = store.append_df(reqs).orderBy("arrival").collect()
    # NULL == no precondition == 'any': both rows append, no executor crash.
    assert [r["accepted"] for r in res] == [True, True]
    assert [r["stream_version"] for r in res] == [0, 1]


# --- heads-log rollover ------------------------------------------------------


def test_heads_log_folds_at_threshold(spark, tmp_path):
    """Sustained appends must not grow the per-append heads read: once
    heads_fold_threshold files accumulate, a commit folds them into one
    (heads-log segment rollover), and reads stay correct."""
    st = EventStore(
        spark,
        str(tmp_path / "fold"),
        EngineConfig(heads_fold_threshold=4),
    )
    for b in range(7):
        st.append([AppendRequest(f"hf-{i}", f"E{b}") for i in range(3)])
    state = st._read_state()
    # 7 commits but the log folded at the threshold — never 7 files.
    assert len(state.heads_files) <= 4, state.heads_files
    # Folded heads still serve every read correctly.
    for i in range(3):
        assert st.stream_version(f"hf-{i}") == 6
    assert [r["stream_version"] for r in st.scan("hf-1").collect()] == list(range(7))
    # Watermarks unaffected by folding.
    ev_heads = {
        r["partition_id"]: r["hi"]
        for r in st.events()
        .groupBy("partition_id")
        .agg(F.max("partition_sequence").alias("hi"))
        .collect()
    }
    assert st._wm() == ev_heads


# --- batch-token cap (exactly-once across compaction) ------------------------


def test_cap_batch_tokens_keeps_numerically_newest():
    """Lexical sort would evict 'k-1000' before 'k-999'; the cap must
    keep the numerically newest batch ids or a replay of a recent batch
    double-appends after compaction."""
    toks = [f"aaaa-{i}" for i in range(2000)]
    kept = _cap_batch_tokens(toks, cap=1024)
    assert len(kept) == 1024
    assert "aaaa-1999" in kept and "aaaa-999" in kept
    assert "aaaa-100" not in kept  # oldest evicted, not newest


def test_cap_batch_tokens_fair_across_query_keys():
    """One long-running query must not crowd a younger query's recent
    tokens out of the cap (lexically-smaller keys sorted first before)."""
    toks = [f"zzzz-{i}" for i in range(2000)] + [f"aaaa-{i}" for i in range(8)]
    kept = _cap_batch_tokens(toks, cap=1024)
    assert len(kept) == 1024
    # every token of the small query survives, including its newest
    assert all(f"aaaa-{i}" in kept for i in range(8))
    assert "zzzz-1999" in kept


def test_cap_batch_tokens_tolerates_unparseable():
    kept = _cap_batch_tokens(["manual-token!", "k-3", "k-4"], cap=2)
    assert "k-4" in kept and len(kept) == 2


# --- commit backends + retry-on-race ----------------------------------------


def test_conditional_put_backend_semantics(tmp_path):
    b = ConditionalPut()
    p = str(tmp_path / "obj.json")
    assert b.publish(p, b'{"a":1}') is True
    assert b.publish(p, b'{"a":2}') is False  # precondition failed
    with open(p, "rb") as f:
        assert f.read() == b'{"a":1}'  # loser never overwrites


def test_link_cas_backend_semantics(tmp_path):
    b = LinkCAS()
    p = str(tmp_path / "m.json")
    assert b.publish(p, b"x") is True
    assert b.publish(p, b"y") is False
    with open(p, "rb") as f:
        assert f.read() == b"x"


def test_retry_on_commit_race_both_writers_commit(spark, tmp_path):
    """Two writers race one commit number: the loser must re-read state,
    re-assign versions/sequences, and land its batch on the next commit
    — no ConcurrentWriteError escaping, no manual re-drive (the
    reference's forward/retry loop, write/execute.rs:19-68)."""
    path = str(tmp_path / "store")
    cfg = EngineConfig()
    s1 = EventStore(spark, path, cfg)

    class RacingBackend(LinkCAS):
        """First publish attempt is preempted by the rival committing
        the same commit number — deterministic race."""

        def __init__(self):
            self.raced = False

        def publish(self, p, payload):
            if not self.raced:
                self.raced = True
                s1.append([AppendRequest("race", "Winner")])
            return super().publish(p, payload)

    s2 = EventStore(spark, path, cfg, commit_backend=RacingBackend())
    res = s2.append([AppendRequest("race", "LoserRetries")])
    assert [r.accepted for r in res] == [True]
    got = s1.scan("race").collect()
    assert [r["event_name"] for r in got] == ["Winner", "LoserRetries"]
    assert [r["stream_version"] for r in got] == [0, 1]
    seqs = [r["partition_sequence"] for r in got]
    assert seqs == [0, 1]  # gapless: the retry re-read the new head
    assert s1.commits() == [1, 2]


def test_retry_exhaustion_raises(spark, tmp_path):
    """A writer that loses every attempt (pathological livelock) must
    surface ConcurrentWriteError rather than loop forever."""
    path = str(tmp_path / "store")
    cfg = EngineConfig(commit_retries=2)
    s1 = EventStore(spark, path, cfg)

    class AlwaysLose(LinkCAS):
        def publish(self, p, payload):
            s1.append([AppendRequest("live", "Rival")])
            return super().publish(p, payload)

    s2 = EventStore(spark, path, cfg, commit_backend=AlwaysLose())
    with pytest.raises(ConcurrentWriteError):
        s2.append([AppendRequest("live", "Starved")])
    # The rival's commits are all intact; the loser appended nothing.
    assert {r["event_name"] for r in s1.scan("live").collect()} == {"Rival"}


def test_as_of_beyond_head_raises(store):
    store.append([AppendRequest("h", "E")])
    with pytest.raises(ValueError, match="exceeds the head commit"):
        store.events(as_of=99)


def test_commits_excludes_unresolvable_truncated_prefix(store):
    """A retention sweep that unlinks commit 1 but retains 2..N leaves
    2..N-1 unreconstructable (no base at/below them); commits() must not
    list them as time-travel targets."""
    for b in range(3):
        store.append([AppendRequest("tr", f"E{b}")])
    store.compact(retain_seconds=3600)  # manifests now 1,2,3 + base 4
    assert store.commits() == [1, 2, 3, 4]
    os.unlink(os.path.join(store.commits_path, f"{1:020d}.json"))
    store._manifest_cache.clear()
    assert store.commits() == [4]  # 2,3 unresolvable without commit 1
    assert store.stats()["commits_resolvable"] == 1
    with pytest.raises(SnapshotExpiredError):
        store.events(as_of=2)
    assert store.events(as_of=4).count() == 3


def test_conditional_put_atomic_full_payload(tmp_path):
    """The ConditionalPut emulation must honor whole-object atomicity:
    the final name only ever holds the complete payload, the loser
    leaves no residue, and no temp files leak."""
    from sierradb_spark.eventstore.commit_backend import ConditionalPut

    be = ConditionalPut()
    target = str(tmp_path / "00000001.json")
    assert be.publish(target, b'{"commit": 1}')
    assert open(target, "rb").read() == b'{"commit": 1}'
    assert not be.publish(target, b'{"commit": 999}')
    assert open(target, "rb").read() == b'{"commit": 1}'  # untouched
    leftovers = [n for n in os.listdir(tmp_path) if n != "00000001.json"]
    assert leftovers == []


def test_interior_manifest_gap_raises_not_wrong_data(store):
    """A retention sweep with skewed manifest mtimes can unlink an
    INTERIOR commit while retaining its neighbors; folding across the
    hole would silently drop that commit's files. Reads must raise
    instead, and commits() must stop listing past the gap."""
    for b in range(4):
        store.append([AppendRequest("gap", f"E{b}")])
    os.unlink(os.path.join(store.commits_path, f"{2:020d}.json"))
    store._manifest_cache.clear()
    assert store.commits() == [1]  # 3, 4 unreconstructable past the gap
    with pytest.raises(SnapshotExpiredError):
        store.events()  # latest read folds across the hole -> must raise
    with pytest.raises(SnapshotExpiredError):
        store.events(as_of=3)
    assert store.events(as_of=1).count() == 1  # below the gap still fine


def test_compact_sweeps_stale_publish_temp_files(store):
    """A writer crash between staging and link leaks a hidden temp file
    in _commits/; compact() must sweep it (it is invisible to readers
    but would otherwise accumulate forever)."""
    store.append([AppendRequest("tmpsweep", "E")])
    stale = os.path.join(store.commits_path, ".00000009.json.put-dead")
    with open(stale, "wb") as f:
        f.write(b"partial")
    os.utime(stale, (1, 1))  # ancient: outside any retention window
    store.compact()
    assert not os.path.exists(stale)
    assert store.events().count() == 1


def test_malformed_user_event_id_rejected(spark, store):
    """A user-supplied event_id too short to embed the partition hash
    must be REJECTED (database.rs:880), not silently accepted via
    NULL-propagating comparison (DF path) or a UUID-parse crash
    (Python path)."""
    # Python API: request-level validation error, clear message
    # (unparseable ids fail UUID canonicalization; well-formed ids with
    # a foreign hash fail the embed check — both are InvalidEventId
    # parity, database.rs:879-884)
    with pytest.raises(ValueError, match="not a UUID"):
        store.append([AppendRequest("mal", "E", event_id="abc")])
    assert store.events().count() == 0
    # DataFrame/streaming path: row-wise rejection, batch continues
    reqs = spark.createDataFrame(
        [("mal", "E", "abc"), ("ok", "E", None)],
        "stream_id string, event_name string, event_id string",
    )
    res = store.append_df(reqs).collect()
    by_stream = {r["stream_id"]: r for r in res}
    assert not by_stream["mal"]["accepted"]
    assert "not a UUID" in by_stream["mal"]["error"]
    assert by_stream["ok"]["accepted"]
    assert store.events().count() == 1


def test_commits_restarts_at_base_above_gap(store):
    """[1, 2, gap, base] chains: the run below the gap and the base
    above it are both resolvable; only the gapped middle is not."""
    for b in range(3):
        store.append([AppendRequest("rg", f"E{b}")])
    store.compact(retain_seconds=3600)  # 1,2,3 + base 4
    os.unlink(os.path.join(store.commits_path, f"{3:020d}.json"))
    store._manifest_cache.clear()
    assert store.commits() == [1, 2, 4]
    assert store.events(as_of=2).count() == 2
    assert store.events(as_of=4).count() == 3
    with pytest.raises(SnapshotExpiredError):
        store.events(as_of=3)

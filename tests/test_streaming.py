"""Streaming integration tests — subscriptions + continuous ingest.

Mirrors the reference's integration test (``tests/subscriptions.rs:22-190``:
N events across partitions → subscribe-all → complete in-order delivery,
exercised across ack-window sizes) plus the catch-up/live seam exactness
the reference implements with ``has_seen`` dedup (subscription.rs:101-293);
here the streaming checkpoint makes the seam exact by construction.
"""

from __future__ import annotations

import os
import random

import pytest

from pyspark.sql import functions as F

from sierradb_spark.config import EngineConfig
from sierradb_spark.eventstore import AppendRequest, EventStore
from sierradb_spark.streaming import (
    PartitionMatcher,
    StreamIngest,
    StreamMatcher,
    Subscription,
)


@pytest.fixture()
def store(spark, tmp_path):
    return EventStore(spark, str(tmp_path / "store"), EngineConfig())


def _fill(store: EventStore, n: int = 120, n_streams: int = 12, batches: int = 3):
    rng = random.Random(7)
    per = n // batches
    for b in range(batches):
        store.append(
            [
                AppendRequest(f"stream-{rng.randrange(n_streams)}", f"E{b}", payload=b"x")
                for _ in range(per)
            ]
        )
    return n


def _assert_ordered_complete(store, delivered, expect_n):
    """Complete, per-partition-ordered, gapless delivery (the assertion
    at tests/subscriptions.rs:150-190)."""
    assert len(delivered) == expect_n
    by_part: dict[int, list[int]] = {}
    for r in delivered:
        by_part.setdefault(r["partition_id"], []).append(r["partition_sequence"])
    for pid, seqs in by_part.items():
        assert seqs == sorted(seqs), f"partition {pid} out of order"
        assert seqs == list(range(len(seqs))), f"partition {pid} not gapless"


def test_subscribe_all_ordered_complete(store, tmp_path):
    n = _fill(store)
    delivered: list = []
    sub = Subscription(store, PartitionMatcher())
    sub.catchup(delivered.extend, str(tmp_path / "ckpt"))
    _assert_ordered_complete(store, delivered, n)


def test_subscribe_windowed_backpressure(store, tmp_path):
    """maxFilesPerTrigger=1 = smallest ack window: many micro-batches,
    delivery must still be complete and ordered (window matrix
    tests/subscriptions.rs:98-101)."""
    n = _fill(store)
    delivered: list = []
    batches: list[int] = []

    def deliver(rows):
        delivered.extend(rows)
        batches.append(len(rows))

    sub = Subscription(store, PartitionMatcher(), max_files_per_trigger=1)
    sub.catchup(deliver, str(tmp_path / "ckpt"))
    assert len(batches) > 1  # the window actually bit
    # per-partition order must hold ACROSS batches too
    by_part: dict[int, list[int]] = {}
    for r in delivered:
        by_part.setdefault(r["partition_id"], []).append(r["partition_sequence"])
    for pid, seqs in by_part.items():
        assert seqs == sorted(seqs)
    _assert_ordered_complete(store, delivered, n)


def test_catchup_live_seam_exact(store, tmp_path):
    """Catch-up then live tail over one checkpoint: no duplicates, no
    gaps across the seam (S3/S4)."""
    _fill(store, n=60, batches=2)
    ckpt = str(tmp_path / "ckpt")
    sub = Subscription(store, PartitionMatcher())
    first: list = []
    sub.catchup(first.extend, ckpt)

    # "live" events arrive after the catch-up pass
    store.append([AppendRequest(f"stream-{i % 5}", "Late", payload=b"y") for i in range(30)])
    second: list = []
    sub.catchup(second.extend, ckpt)

    assert len(first) == 60
    assert len(second) == 30  # only the new events — no replay
    seen = [(r["partition_id"], r["partition_sequence"]) for r in first + second]
    assert len(seen) == len(set(seen))  # no duplicates
    _assert_ordered_complete(store, first + second, 90)


def test_stream_matcher_from_versions(store, tmp_path):
    for i in range(6):
        store.append([AppendRequest("sA", f"A{i}"), AppendRequest("sB", f"B{i}")])
    delivered: list = []
    sub = Subscription(
        store, StreamMatcher(streams=("sA", "sB"), from_versions={"sA": 3})
    )
    sub.catchup(delivered.extend, str(tmp_path / "ckpt"))
    got = {(r["stream_id"], r["stream_version"]) for r in delivered}
    assert got == {("sA", v) for v in (3, 4, 5)} | {("sB", v) for v in range(6)}
    # FROM LATEST = head+1: nothing historical delivered
    head = store.stream_version("sA")
    late: list = []
    sub2 = Subscription(store, StreamMatcher(("sA",), {"sA": head + 1}))
    sub2.catchup(late.extend, str(tmp_path / "ckpt2"))
    assert late == []
    store.append([AppendRequest("sA", "New")])
    sub2.catchup(late.extend, str(tmp_path / "ckpt2"))
    assert [(r["stream_id"], r["event_name"]) for r in late] == [("sA", "New")]


def test_stream_ingest_end_to_end(store, spark, tmp_path):
    """File-source request stream → StreamIngest → gapless, versioned table."""
    reqs = [
        (f"u-{i % 10}", "Evt", b"{}", b"", "any")
        for i in range(200)
    ]
    src = str(tmp_path / "requests")
    spark.createDataFrame(
        reqs, "stream_id string, event_name string, payload binary, metadata binary, expected_version string"
    ).repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema(
            "stream_id string, event_name string, payload binary, metadata binary, expected_version string"
        )
        .parquet(src)
    )
    results: list = []
    q = StreamIngest(store).start(
        stream,
        checkpoint=str(tmp_path / "ingest_ckpt"),
        available_now=True,
        on_batch=lambda bid, df: results.append(df.groupBy("accepted").count().collect()),
    )
    q.awaitTermination(300)

    ev = store.events()
    assert ev.count() == 200
    bad = (
        ev.groupBy("stream_id")
        .agg(
            F.count("*").alias("n"),
            F.max("stream_version").alias("hi"),
            F.count_distinct("stream_version").alias("d"),
        )
        .where((F.col("hi") != F.col("n") - 1) | (F.col("d") != F.col("n")))
        .count()
    )
    assert bad == 0
    # watermarks advanced to the table heads
    wm = {r["partition_id"]: r["confirmed_sequence"] for r in store.watermarks().collect()}
    heads = {
        r["partition_id"]: r["hi"]
        for r in ev.groupBy("partition_id").agg(F.max("partition_sequence").alias("hi")).collect()
    }
    assert wm == heads


def test_orphaned_uncommitted_file_never_delivered(store, tmp_path):
    """A parquet file in events/ whose commit manifest never landed (a
    crashed writer's leftover) must not reach any subscriber: the
    subscription streams the manifest log, which never references it."""
    store.append([AppendRequest("orph", "Real0"), AppendRequest("orph", "Real1")])
    # Forge an orphan: copy a committed file to an unreferenced name.
    import glob as _glob
    import shutil as _shutil

    [src] = _glob.glob(store.events_path + "/partition_id=*/*.parquet")[:1]
    _shutil.copy(src, os.path.join(os.path.dirname(src), "orphan-dead.parquet"))
    delivered: list = []
    sub = Subscription(store, PartitionMatcher())
    sub.catchup(delivered.extend, str(tmp_path / "ckpt"))
    assert len(delivered) == 2  # the two committed events, orphan unseen
    assert {r["event_name"] for r in delivered} == {"Real0", "Real1"}


def test_delivery_cursor_survives_restart(store, tmp_path):
    """The delivery cursor is durable: a new Subscription object over the
    same checkpoint resumes where the old one stopped (the old in-memory
    pending design lost held-back rows on restart)."""
    store.append([AppendRequest("dc", f"E{i}") for i in range(10)])
    ckpt = str(tmp_path / "ckpt")
    first: list = []
    Subscription(store, PartitionMatcher()).catchup(first.extend, ckpt)
    assert len(first) == 10
    store.append([AppendRequest("dc", f"L{i}") for i in range(5)])
    second: list = []
    # fresh object, same checkpoint — simulates process restart
    Subscription(store, PartitionMatcher()).catchup(second.extend, ckpt)
    assert [r["event_name"] for r in second] == [f"L{i}" for i in range(5)]


def test_subscription_across_compaction_no_redelivery(store, tmp_path):
    """compact() publishes a base manifest re-listing every (rewritten)
    file; the delivery cursor must filter all of it out."""
    store.append([AppendRequest("cpt", f"E{i}") for i in range(8)])
    ckpt = str(tmp_path / "ckpt")
    got: list = []
    sub = Subscription(store, PartitionMatcher())
    sub.catchup(got.extend, ckpt)
    assert len(got) == 8
    store.compact()
    post: list = []
    sub.catchup(post.extend, ckpt)
    assert post == []  # base manifest fully deduped
    store.append([AppendRequest("cpt", "After")])
    sub.catchup(post.extend, ckpt)
    assert [r["event_name"] for r in post] == ["After"]


@pytest.mark.parametrize("window", [10_000, 2, 1])
def test_subscription_window_matrix(store, tmp_path, window):
    """The reference's integration matrix (tests/subscriptions.rs:98-101)
    runs subscribe-all under window sizes {10000, 100, 10}: delivery must
    be complete and ordered whatever the ack window. Here the window is
    commits-per-trigger (one manifest == one group commit)."""
    n = _fill(store)
    delivered: list = []
    sub = Subscription(store, PartitionMatcher(), max_files_per_trigger=window)
    sub.catchup(delivered.extend, str(tmp_path / f"ckpt-{window}"))
    _assert_ordered_complete(store, delivered, n)


@pytest.mark.parametrize("window", [10_000, 1])
def test_subscription_sink_matrix_matches_callback(store, spark, tmp_path, window):
    """Executor-side sink delivery (start_to_sink) produces IDENTICAL
    ordered content to the driver-callback form, across ack-window
    sizes. The sink is the many-subscriber fan-out shape: matched rows
    are appended to a parquet table by executors; global order is
    reconstructed by (partition_id, partition_sequence)."""
    n = _fill(store)
    # callback form = the expectation
    delivered: list = []
    sub = Subscription(store, PartitionMatcher(), max_files_per_trigger=window)
    sub.catchup(delivered.extend, str(tmp_path / f"cb-{window}"))
    _assert_ordered_complete(store, delivered, n)

    sink = str(tmp_path / f"sink-{window}")
    sub2 = Subscription(store, PartitionMatcher(), max_files_per_trigger=window)
    sub2.catchup_to_sink(sink, str(tmp_path / f"sk-{window}"))
    from sierradb_spark.streaming import read_subscription_sink

    got = read_subscription_sink(spark, sink).collect()
    _assert_ordered_complete(store, got, n)
    key = lambda r: (r["partition_id"], r["partition_sequence"], r["event_name"])
    assert [key(r) for r in got] == sorted(key(r) for r in delivered)
    # delivery_commit is the audit column: every row tagged, none negative
    assert all(r["delivery_commit"] >= 0 for r in got)

    # live tail through the same sink checkpoint: only the new events land
    consumed_through = max(r["delivery_commit"] for r in got)
    store.append([AppendRequest("sink-late", "Late", payload=b"z")])
    sub2.catchup_to_sink(sink, str(tmp_path / f"sk-{window}"))
    after = read_subscription_sink(spark, sink)
    assert after.count() == n + 1
    assert after.where(F.col("event_name") == "Late").count() == 1
    # sink-side resume: a consumer that processed through commit C reads
    # exactly the deliveries after C
    fresh = read_subscription_sink(spark, sink, after_commit=consumed_through)
    assert [r["event_name"] for r in fresh.collect()] == ["Late"]


def test_subscription_sink_matcher_filters(store, spark, tmp_path):
    """The sink variant honors matchers: only matched streams land in
    the sink table."""
    _fill(store, n=60, n_streams=6, batches=2)
    sink = str(tmp_path / "sink")
    sub = Subscription(store, StreamMatcher(("stream-0", "stream-1")))
    sub.catchup_to_sink(sink, str(tmp_path / "ckpt"))
    from sierradb_spark.streaming import read_subscription_sink

    got = read_subscription_sink(spark, sink)
    assert set(
        r["stream_id"] for r in got.select("stream_id").distinct().collect()
    ) <= {"stream-0", "stream-1"}
    expect = store.events().where(
        F.col("stream_id").isin("stream-0", "stream-1")
    ).count()
    assert got.count() == expect


def test_partition_matcher_from_sequences(store, tmp_path):
    """EPSUB FROM semantics through the manifest-stream path: explicit
    per-partition start sequences with DEFAULT for unlisted partitions
    (FromSequenceSpec, request.rs:556-572)."""
    _fill(store, n=60, n_streams=6, batches=2)
    pids = sorted(
        r["partition_id"]
        for r in store.events().select("partition_id").distinct().collect()
    )
    assert len(pids) >= 2
    p0, p1 = pids[0], pids[1]
    # p0 starts at sequence 2; every other partition from DEFAULT=1.
    got: list = []
    sub = Subscription(
        store,
        PartitionMatcher(from_sequences={p0: 2}, default_from=1),
    )
    sub.catchup(got.extend, str(tmp_path / "ckpt"))
    by_part: dict[int, list[int]] = {}
    for r in got:
        by_part.setdefault(r["partition_id"], []).append(r["partition_sequence"])
    assert min(by_part[p0]) == 2
    assert all(min(v) == 1 for p, v in by_part.items() if p != p0)
    # partition-list restriction composes with FROM
    only: list = []
    sub2 = Subscription(store, PartitionMatcher(partitions=(p1,), from_sequences={p1: 3}))
    sub2.catchup(only.extend, str(tmp_path / "ckpt2"))
    assert {r["partition_id"] for r in only} == {p1}
    assert min(r["partition_sequence"] for r in only) == 3


def test_fresh_subscription_after_compaction_full_catchup(store, tmp_path):
    """A subscription created after compact() has only the base manifest
    to read from — it must deliver the full (rewritten) history."""
    store.append([AppendRequest("fc", f"E{i}") for i in range(9)])
    store.compact()
    store.append([AppendRequest("fc", "PostCompact")])
    got: list = []
    sub = Subscription(store, PartitionMatcher())
    sub.catchup(got.extend, str(tmp_path / "fresh-ckpt"))
    assert [r["event_name"] for r in got] == [f"E{i}" for i in range(9)] + [
        "PostCompact"
    ]
    assert [r["stream_version"] for r in got] == list(range(10))


def test_stream_ingest_auto_compaction(store, spark, tmp_path):
    """compact_every: long-running ingest periodically folds files and
    manifests without disturbing correctness or replay idempotence."""
    src = str(tmp_path / "reqs")
    os.makedirs(src)
    import json as _json

    for f in range(5):
        with open(os.path.join(src, f"r{f}.jsonl"), "w") as fh:
            for i in range(6):
                fh.write(
                    _json.dumps(
                        {"stream_id": f"ac-{i % 3}", "event_name": f"B{f}E{i}"}
                    )
                    + "\n"
                )
    reqs = (
        spark.readStream.schema("stream_id string, event_name string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = StreamIngest(store).start(
        reqs,
        checkpoint=str(tmp_path / "ckpt"),
        available_now=True,
        compact_every=2,
        # zero retention so the fold is observable below; the default is
        # non-zero to protect concurrent manifest-log subscribers
        compact_retain_seconds=0.0,
    )
    q.awaitTermination(300)
    assert store.events().count() == 30
    for s in range(3):
        assert [
            r["stream_version"] for r in store.scan(f"ac-{s}").collect()
        ] == list(range(10))
    # Compaction actually ran: the manifest chain was folded at least once.
    assert len(store.commits()) < 5


# --- gap-aware delivery cursor ----------------------------------------------


def test_pop_deliverable_defers_gapped_commits(store):
    """Commit N+1 listed in a batch that excluded N (mtime tie /
    maxFilesPerTrigger split) must NOT advance the cursor past N —
    otherwise N's events are permanently suppressed when it arrives."""
    sub = Subscription(store, PartitionMatcher())
    cur = {"last_commit": None, "watermarks": {}, "pending": {}}
    cur["pending"] = {
        1: {"base": False, "watermarks": {"0": 0}, "events_add": ["a"]},
        3: {"base": False, "watermarks": {"0": 2}, "events_add": ["c"]},
    }
    todo = sub._pop_deliverable(cur)
    assert [e["events_add"] for e in todo] == [["a"]]
    assert cur["last_commit"] == 1
    assert 3 in cur["pending"]  # held, with its file list
    # The gap fills: 2 arrives -> 2 AND the held 3 release, in order.
    cur["pending"][2] = {"base": False, "watermarks": {"0": 1}, "events_add": ["b"]}
    todo = sub._pop_deliverable(cur)
    assert [e["events_add"] for e in todo] == [["b"], ["c"]]
    assert cur["last_commit"] == 3
    assert cur["pending"] == {}


def test_pop_deliverable_base_manifest_bypasses_gap(store):
    """A base manifest supersedes (and re-lists the data of) everything
    below it, so a gap beneath one can never fill and must not block."""
    sub = Subscription(store, PartitionMatcher())
    cur = {"last_commit": 5, "watermarks": {}, "pending": {}}
    cur["pending"] = {
        8: {"base": True, "watermarks": {"0": 7}, "events_add": ["base"]},
        9: {"base": False, "watermarks": {"0": 8}, "events_add": ["d"]},
    }
    todo = sub._pop_deliverable(cur)
    assert [e["events_add"] for e in todo] == [["base"], ["d"]]
    assert cur["last_commit"] == 9
    # Replays of already-processed commits are dropped silently.
    cur["pending"][4] = {"base": False, "watermarks": {}, "events_add": ["x"]}
    assert sub._pop_deliverable(cur) == []
    assert cur["pending"] == {}


def test_cursor_file_roundtrip_and_legacy_format(store, tmp_path):
    sub = Subscription(store, PartitionMatcher())
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(ckpt, exist_ok=True)
    cur = {
        "last_commit": 4,
        "watermarks": {0: 9, 3: 11},
        "pending": {6: {"base": False, "watermarks": {"1": 2}, "events_add": ["f"]}},
    }
    sub._save_cursor(ckpt, cur)
    assert sub._load_cursor(ckpt) == cur
    # Legacy flat {pid: seq} cursor files load as watermarks-only.
    import json as _json

    with open(sub._cursor_path(ckpt), "w") as f:
        _json.dump({"0": 5, "2": 7}, f)
    assert sub._load_cursor(ckpt) == {
        "last_commit": None,
        "watermarks": {0: 5, 2: 7},
        "pending": {},
        "legacy": True,
    }


def test_legacy_cursor_accepts_next_incremental_commit(store, tmp_path):
    """Upgrade path: a pre-anchor (flat) cursor file must NOT stall on
    the next incremental commit. The old code processed every commit the
    source listed (the watermarks prove it); the file source never
    re-lists them, so the first pending commit — whatever its number,
    base or not — is the valid anchor. Without the legacy flag the
    cold-start rule (commit 1 or a base) would block it forever on a
    store that never compacts."""
    import json as _json

    sub = Subscription(store, PartitionMatcher())
    ckpt = str(tmp_path / "legacy_ckpt")
    os.makedirs(ckpt, exist_ok=True)
    with open(sub._cursor_path(ckpt), "w") as f:
        _json.dump({"0": 99}, f)  # old flat format, mid-stream
    cur = sub._load_cursor(ckpt)
    cur["pending"][7] = {
        "base": False,
        "watermarks": {"0": 120},
        "events_add": ["partition_id=0/x.parquet"],
    }
    todo = Subscription._pop_deliverable(cur)
    assert [t["events_add"] for t in todo] == [["partition_id=0/x.parquet"]]
    assert cur["last_commit"] == 7
    # A FRESH cursor (no file at all) must still insist on a chain start.
    fresh = sub._load_cursor(str(tmp_path / "nope"))
    fresh["pending"][7] = {"base": False, "watermarks": {}, "events_add": ["y"]}
    assert Subscription._pop_deliverable(fresh) == []


def test_live_tail_processing_time_trigger(store, tmp_path):
    """True live tailing (S3's 'live' half): a continuously-triggered
    subscription picks up appends that land while it runs — no
    re-invocation of catchup. Complete + ordered across the whole run."""
    import time as _time

    _fill(store, n=30, batches=1)
    delivered: list = []
    sub = Subscription(store, PartitionMatcher())
    q = sub.start(
        delivered.extend,
        str(tmp_path / "ckpt"),
        available_now=False,
        trigger_interval="500 milliseconds",
    )
    try:
        deadline = _time.time() + 60
        while _time.time() < deadline and len(delivered) < 30:
            _time.sleep(0.5)
        assert len(delivered) == 30
        # live appends while the query is running
        store.append([AppendRequest("live-a", f"L{i}") for i in range(5)])
        store.append([AppendRequest("live-b", "Last")])
        deadline = _time.time() + 60
        while _time.time() < deadline and len(delivered) < 36:
            _time.sleep(0.5)
    finally:
        q.stop()
    _assert_ordered_complete(store, delivered, 36)
    assert [r["event_name"] for r in delivered if r["stream_id"] == "live-a"] == [
        f"L{i}" for i in range(5)
    ]


def test_pop_deliverable_base_behind_gap_unblocks():
    """A retention sweep can unlink a gapped manifest while retaining
    non-base commits between the gap and a base. The contiguous walk
    blocks at the gap; the pop must jump to the HIGHEST pending base
    (which supersedes everything below), or delivery stalls forever."""
    cursor = {
        "last_commit": 5,
        "watermarks": {},
        # commit 6's manifest was swept; 7 (non-base) and 8 (base) listed
        "pending": {
            7: {"base": False, "watermarks": {}, "events_add": ["x7"]},
            8: {"base": True, "watermarks": {}, "events_add": ["base8"]},
            9: {"base": False, "watermarks": {}, "events_add": ["x9"]},
        },
    }
    todo = Subscription._pop_deliverable(cursor)
    # the base is taken (superseding 7), then 9 extends it contiguously
    assert [e["events_add"] for e in todo] == [["base8"], ["x9"]]
    assert cursor["last_commit"] == 9
    assert cursor["pending"] == {}


def test_sink_reader_dedupes_replayed_append(store, spark, tmp_path):
    """Sink writes are at-least-once (crash between parquet append and
    cursor save); the reader dedupes on (partition_id,
    partition_sequence) so consumers get exactly-once reads."""
    import shutil as _shutil

    from sierradb_spark.streaming import read_subscription_sink

    _fill(store, n=20, batches=1)
    sink = str(tmp_path / "sink")
    Subscription(store, PartitionMatcher()).catchup_to_sink(
        sink, str(tmp_path / "ckpt")
    )
    # simulate the duplicate window: a fold was published (negative id)
    # but its source commit dir was not yet swept — both hold the rows
    [d] = [x for x in os.listdir(sink) if x.startswith("commit=")][:1]
    _shutil.copytree(os.path.join(sink, d), os.path.join(sink, "commit=-1"))
    from sierradb_spark.streaming.subscribe import _sink_read_schema

    raw = (
        spark.read.schema(_sink_read_schema())
        .option("basePath", sink)
        .parquet(sink)
    )
    assert raw.count() > 20  # duplicates really exist on disk
    got = read_subscription_sink(spark, sink).collect()
    _assert_ordered_complete(store, got, 20)


@pytest.mark.parametrize("seed", [7, 23])
def test_chaos_writers_compaction_subscription(spark, tmp_path, seed):
    """Seeded chaos: two writer instances, periodic compaction (with and
    without retention), and a tailing subscription interleaved at
    random. Whatever the interleaving, the subscriber must end up with
    every event exactly once, ordered per partition — the combined
    guarantee of the manifest log, the delivery cursor, and the
    base-manifest jump."""
    import random as _random

    from sierradb_spark.eventstore.commit_backend import ConditionalPut

    rng = _random.Random(seed)
    path = str(tmp_path / "store")
    s1 = EventStore(spark, path, EngineConfig())
    # s2 publishes through the object-store backend against the same
    # chain — the mid-migration scenario; mutual exclusion must hold
    # across backends because both implement create-iff-absent on the
    # same commit names.
    s2 = EventStore(
        spark,
        path,
        EngineConfig(),
        commit_backend=ConditionalPut(),
    )
    sub = Subscription(s1, PartitionMatcher())
    ckpt = str(tmp_path / "ckpt")
    delivered: list = []
    appended = 0
    for step in range(18):
        roll = rng.random()
        if roll < 0.5:  # append through a random instance
            w = rng.choice([s1, s2])
            n = rng.randrange(1, 6)
            w.append(
                [
                    AppendRequest(f"chaos-{rng.randrange(6)}", f"S{step}E{i}")
                    for i in range(n)
                ]
            )
            appended += n
        elif roll < 0.7:  # compact, sometimes with retention
            rng.choice([s1, s2]).compact(
                retain_seconds=rng.choice([0.0, 3600.0])
            )
        elif roll < 0.8:  # subscriber/store restart: fresh objects, same
            # checkpoint + cursor — delivery must resume exactly
            s1 = EventStore(spark, path, EngineConfig())
            sub = Subscription(s1, PartitionMatcher())
        else:  # tail
            sub.catchup(delivered.extend, ckpt)
    sub.catchup(delivered.extend, ckpt)  # final drain
    keys = [(r["partition_id"], r["partition_sequence"]) for r in delivered]
    assert len(keys) == len(set(keys)), f"duplicates (seed {seed})"
    _assert_ordered_complete(s1, delivered, appended)


def test_chaos_sink_delivery(spark, tmp_path):
    """Same chaos interleaving, sink delivery form: whatever the
    compaction/append interleaving, read_subscription_sink returns every
    event exactly once (at-least-once sink + key dedupe)."""
    import random as _random

    from sierradb_spark.streaming import read_subscription_sink

    rng = _random.Random(23)
    path = str(tmp_path / "store")
    s1 = EventStore(spark, path, EngineConfig())
    s2 = EventStore(spark, path, EngineConfig())
    sub = Subscription(s1, PartitionMatcher())
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    appended = 0
    for step in range(14):
        roll = rng.random()
        if roll < 0.5:
            n = rng.randrange(1, 6)
            rng.choice([s1, s2]).append(
                [
                    AppendRequest(f"sc-{rng.randrange(6)}", f"S{step}E{i}")
                    for i in range(n)
                ]
            )
            appended += n
        elif roll < 0.7:
            rng.choice([s1, s2]).compact(
                retain_seconds=rng.choice([0.0, 3600.0])
            )
        else:
            sub.catchup_to_sink(sink, ckpt)
    sub.catchup_to_sink(sink, ckpt)
    got = read_subscription_sink(spark, sink).collect()
    _assert_ordered_complete(s1, got, appended)


def test_pop_deliverable_cold_start_waits_for_chain_start():
    """A FRESH cursor must begin at commit 1 or a base, never an
    arbitrary first commit: accepting incremental 2 would advance the
    cursor to commit 2's cumulative watermarks and permanently gate out
    commit 1's rows when the base that re-lists them arrives later."""
    cursor = {
        "last_commit": None,
        "watermarks": {},
        "pending": {2: {"base": False, "watermarks": {}, "events_add": ["x2"]}},
    }
    assert Subscription._pop_deliverable(cursor) == []  # wait
    assert cursor["pending"]  # still pending, nothing lost
    # the base arrives: everything unblocks through it
    cursor["pending"][3] = {"base": False, "watermarks": {}, "events_add": ["x3"]}
    cursor["pending"][4] = {"base": True, "watermarks": {}, "events_add": ["base4"]}
    todo = Subscription._pop_deliverable(cursor)
    assert [e["events_add"] for e in todo] == [["base4"]]
    assert cursor["last_commit"] == 4
    # fresh cursor starting at commit 1 proceeds immediately
    c2 = {
        "last_commit": None,
        "watermarks": {},
        "pending": {1: {"base": False, "watermarks": {}, "events_add": ["x1"]}},
    }
    assert [e["events_add"] for e in Subscription._pop_deliverable(c2)] == [["x1"]]


def test_read_subscription_sink_missing_dir_is_empty(spark, tmp_path):
    from sierradb_spark.streaming import read_subscription_sink

    df = read_subscription_sink(spark, str(tmp_path / "never-written"))
    assert df.count() == 0
    assert "delivery_commit" in df.columns


def test_sink_crash_between_append_and_cursor_save_dedupes(store, spark, tmp_path):
    """A crash AFTER the sink write but BEFORE the cursor save replays
    the batch on restart. With the commit=<n> overwrite layout the
    replay rewrites its own directory — the sink holds NO duplicate
    rows at all (stronger than the old at-least-once append), and
    read_subscription_sink returns each event exactly once."""
    from sierradb_spark.streaming import read_subscription_sink

    _fill(store, n=20, batches=1)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    sub = Subscription(store, PartitionMatcher())
    orig = sub._save_cursor
    calls = {"n": 0}

    def crashing_save(checkpoint, cur):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("simulated crash before cursor save")
        orig(checkpoint, cur)

    sub._save_cursor = crashing_save
    with pytest.raises(Exception):
        sub.catchup_to_sink(sink, ckpt)  # dies after the parquet append
    # new incarnation, same checkpoint: batch replays, rows re-append
    sub2 = Subscription(store, PartitionMatcher())
    # the streaming checkpoint recorded the offsets of the failed batch,
    # so wipe it the way a restarted availableNow pass would re-list
    import shutil as _shutil

    _shutil.rmtree(ckpt, ignore_errors=False)
    sub2.catchup_to_sink(sink, ckpt)
    from sierradb_spark.streaming.subscribe import _sink_read_schema

    raw = (
        spark.read.schema(_sink_read_schema())
        .option("basePath", sink)
        .parquet(sink)
    )
    assert raw.count() == 20  # replay overwrote its dir: zero duplicates
    got = read_subscription_sink(spark, sink).collect()
    _assert_ordered_complete(store, got, 20)


@pytest.mark.parametrize("ops_name", ["local", "object_store"])
def test_sink_compaction_preserves_content_and_sweeps(
    store, spark, tmp_path, ops_name
):
    """r04 brief item 5: compact_subscription_sink folds the per-commit
    directories into one base dir that serves IDENTICAL ordered content,
    sweeps the superseded dirs, and keeps folding idempotently — on both
    storage backends (POSIX rename and object-store copy+delete)."""
    from sierradb_spark.eventstore.commit_backend import (
        LocalDirOps,
        ObjectStoreDirOps,
    )
    from sierradb_spark.streaming import (
        compact_subscription_sink,
        read_subscription_sink,
    )

    ops = LocalDirOps() if ops_name == "local" else ObjectStoreDirOps()
    n = _fill(store, n=40, batches=4)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    sub = Subscription(store, PartitionMatcher(), max_files_per_trigger=1)
    sub.catchup_to_sink(sink, ckpt)
    before = read_subscription_sink(spark, sink).collect()
    _assert_ordered_complete(store, before, n)
    assert len([d for d in os.listdir(sink) if d.startswith("commit=")]) > 1

    compact_subscription_sink(spark, sink, dir_ops=ops)
    dirs = [d for d in ops.list_subdirs(sink) if d.startswith("commit=")]
    assert dirs == ["commit=-1"]  # folded to one base dir, old swept
    after = read_subscription_sink(spark, sink).collect()
    key = lambda r: (r["partition_id"], r["partition_sequence"], r["event_name"])
    assert [key(r) for r in after] == [key(r) for r in before]

    # the fold is a normal table: a later live tail appends next to it
    store.append([AppendRequest("post-fold", "Late", payload=b"z")])
    sub.catchup_to_sink(sink, ckpt)
    tailed = read_subscription_sink(spark, sink)
    assert tailed.count() == n + 1
    assert tailed.where(F.col("event_name") == "Late").count() == 1

    # idempotent refold (fresh negative id each time)
    compact_subscription_sink(spark, sink, dir_ops=ops)
    compact_subscription_sink(spark, sink, dir_ops=ops)
    assert read_subscription_sink(spark, sink).count() == n + 1


def test_sink_compaction_retention_drops_consumed_commits(
    store, spark, tmp_path
):
    """retain_after: rows delivered at or before the given commit are
    dropped during the fold — retention for sinks whose consumers have
    all advanced past it."""
    from sierradb_spark.streaming import (
        compact_subscription_sink,
        read_subscription_sink,
    )

    _fill(store, n=30, batches=3)
    sink = str(tmp_path / "sink")
    sub = Subscription(store, PartitionMatcher(), max_files_per_trigger=1)
    sub.catchup_to_sink(sink, str(tmp_path / "ckpt"))
    all_rows = read_subscription_sink(spark, sink).collect()
    commits = sorted({r["delivery_commit"] for r in all_rows})
    assert len(commits) >= 3
    cut = commits[1]
    compact_subscription_sink(spark, sink, retain_after=cut)
    kept = read_subscription_sink(spark, sink).collect()
    want = [r for r in all_rows if r["delivery_commit"] > cut]
    key = lambda r: (r["partition_id"], r["partition_sequence"])
    assert sorted(key(r) for r in kept) == sorted(key(r) for r in want)
    # resume semantics still line up: after_commit=cut reads the same set
    resumed = read_subscription_sink(spark, sink, after_commit=cut).collect()
    assert sorted(key(r) for r in resumed) == sorted(key(r) for r in want)


def test_sink_replay_overwrite_is_idempotent(store, spark, tmp_path):
    """A replayed sink micro-batch (crash between the sink write and
    the streaming checkpoint commit) rewrites its own commit=<n>
    directory instead of appending duplicates: re-running emit for the
    same delivered batch leaves the table byte-count identical."""
    from sierradb_spark.streaming import read_subscription_sink

    n = _fill(store, n=20, batches=1)
    sink = str(tmp_path / "sink")
    sub = Subscription(store, PartitionMatcher())
    sub.catchup_to_sink(sink, str(tmp_path / "ckpt"))
    got = read_subscription_sink(spark, sink)
    assert got.count() == n
    [d] = [x for x in os.listdir(sink) if x.startswith("commit=")]
    commit = int(d.split("=")[1])
    # replay: same matched rows, same commit -> overwrite, not append
    matched = store.events().withColumn(
        "delivery_commit", F.lit(commit)
    )
    (
        matched.sortWithinPartitions("partition_id", "partition_sequence")
        .write.mode("overwrite")
        .parquet(os.path.join(sink, d))
    )
    assert read_subscription_sink(spark, sink).count() == n
    raw = spark.read.parquet(os.path.join(sink, d))
    assert raw.count() == n  # the directory itself holds no duplicates


def test_stream_ingest_dead_letter_queue(store, spark, tmp_path):
    """Poison requests (NULL stream_id, NUL-byte stream id, bad
    expected_version) land in the dead-letter table with their payloads
    and reasons; good rows in the same micro-batches commit normally."""
    reqs = [("ok-0", "Evt", b"p0", b"", "any"), (None, "Evt", b"p1", b"", "any")]
    reqs += [(f"ok-{i}", "Evt", b"px", b"", "any") for i in range(1, 8)]
    reqs += [("bad\x00id", "Evt", b"p2", b"", "any"), ("ok-8", "Evt", b"p3", b"", "bogus")]
    src = str(tmp_path / "dlq_requests")
    schema = (
        "stream_id string, event_name string, payload binary, "
        "metadata binary, expected_version string"
    )
    spark.createDataFrame(reqs, schema).repartition(2).write.parquet(src)

    dlq = str(tmp_path / "dead_letters")
    q = StreamIngest(store).start(
        spark.readStream.schema(schema).parquet(src),
        checkpoint=str(tmp_path / "dlq_ckpt"),
        available_now=True,
        dead_letter_dir=dlq,
    )
    q.awaitTermination(300)

    assert store.events().count() == 8  # ok-0..ok-7 (ok-8 is rejected)
    dead = spark.read.parquet(dlq)
    rows = {
        (r["stream_id"], bytes(r["payload"]), r["error"])
        for r in dead.collect()
    }
    assert rows == {
        (None, b"p1", "stream_id must be 1-64 chars"),
        ("bad\x00id", b"p2", "stream_id cannot contain null bytes"),
        ("ok-8", b"p3", "invalid expected_version: bogus"),
    }
    assert "batch" in dead.columns  # hive-partitioned by micro-batch


def test_clean_batch_clears_stale_dead_letters(store, spark, tmp_path):
    """A retry/replay whose recomputed reject set is EMPTY must clear a
    previous attempt's letters for that batch id, not leave them stale:
    the dead-letter write is unconditional and overwriting. Simulated by
    pre-populating batch=0 with a leftover letter and running a clean
    batch through ingest."""
    dlq = str(tmp_path / "dlq")
    spark.createDataFrame(
        [("stale-s", b"stale", "stale reason")],
        "stream_id string, payload binary, error string",
    ).write.parquet(os.path.join(dlq, "batch=0"))

    schema = (
        "stream_id string, event_name string, payload binary, "
        "metadata binary, expected_version string"
    )
    src = str(tmp_path / "clean_requests")
    spark.createDataFrame(
        [("ok-a", "Evt", b"p", b"", "any"), ("ok-b", "Evt", b"p", b"", "any")],
        schema,
    ).write.parquet(src)
    q = StreamIngest(store).start(
        spark.readStream.schema(schema).parquet(src),
        checkpoint=str(tmp_path / "ckpt"),
        available_now=True,
        dead_letter_dir=dlq,
    )
    q.awaitTermination(300)
    assert store.events().where("stream_id like 'ok-%'").count() == 2
    # overwrite-of-empty truncated the stale letters
    assert (
        spark.read.schema("stream_id string, payload binary, error string")
        .parquet(os.path.join(dlq, "batch=0"))
        .count()
        == 0
    )


def test_dead_letters_are_durable_before_the_manifest_commit(
    store, spark, tmp_path
):
    """The crash-window guarantee: the dead-letter write is a PRE-commit
    hook inside _apply_batch, so by the time the batch token is in the
    manifest chain the rejects are already on disk. (The old post-commit
    write lost them forever if a crash landed between manifest-rename
    and checkpoint-commit — the replay takes the token fast path and
    returns an empty result.) Verified by asserting, from inside the
    hook itself, that the token is not yet committed; then replaying
    the token and confirming the fast path leaves the letters intact."""
    reqs = [("s-ok", "Evt", b"good", b"", "any"),
            (None, "Evt", b"poison", b"", "any")]
    schema = (
        "stream_id string, event_name string, payload binary, "
        "metadata binary, expected_version string"
    )
    requests = spark.createDataFrame(reqs, schema)
    dlq = str(tmp_path / "dlq")
    token = "crashwin-0"
    seen = {}

    def hook(result):
        # ordering proof: at hook time the commit has NOT happened yet
        seen["token_pre_committed"] = token in store._read_state().batch_tokens
        result.where(~F.col("accepted")).write.mode("overwrite").parquet(
            os.path.join(dlq, "batch=0")
        )

    store._apply_batch(requests, batch_token=token, pre_commit=hook)
    assert seen == {"token_pre_committed": False}
    assert token in store._read_state().batch_tokens  # commit landed after

    # replay of the committed token: fast path, empty result, letters kept
    replay = store._apply_batch(requests, batch_token=token, pre_commit=hook)
    assert replay.count() == 0
    dead = spark.read.parquet(dlq)
    assert [bytes(r["payload"]) for r in dead.collect()] == [b"poison"]


def test_all_rejected_batch_commits_its_token(store, spark, tmp_path):
    """A micro-batch whose EVERY request is rejected publishes an EMPTY
    manifest carrying the idempotence token: the replay takes the fast
    skip path, and the token-in-chain invariant (what the dead-letter
    read contract is built on) holds for every processed batch, not
    just batches that appended something."""
    reqs = [(None, "Evt", b"bad1", b"", "any"), ("s", "Evt", b"bad2", b"", "bogus")]
    schema = (
        "stream_id string, event_name string, payload binary, "
        "metadata binary, expected_version string"
    )
    requests = spark.createDataFrame(reqs, schema)
    token = "allrej-0"
    head_before = store._read_state().commit
    res = store._apply_batch(requests, batch_token=token)
    assert res.where("accepted").count() == 0 and res.count() == 2
    state = store._read_state()
    assert token in state.batch_tokens  # empty manifest carried it
    assert state.commit == head_before + 1
    assert store.events().count() == 0  # ...but added no events
    # replay: fast skip, no recompute
    assert store._apply_batch(requests, batch_token=token).count() == 0


def test_dead_letter_orphans_hidden_and_pruned(store, spark, tmp_path):
    """The one artifact the pre-commit ordering can leave: letters for a
    batch whose commit never landed and was never replayed (stream
    decommissioned). read_dead_letters must hide them from consumers;
    prune_dead_letters must delete them — and also the empty batch=*
    dirs the unconditional per-batch overwrite accumulates — while
    leaving committed batches' letters untouched, including letters of
    a committed batch whose token was evicted from a base manifest's
    capped history (proven committed by a NEWER committed id of the
    same query key)."""
    from sierradb_spark.streaming.ingest import (
        prune_dead_letters,
        read_dead_letters,
    )

    schema = (
        "stream_id string, event_name string, payload binary, "
        "metadata binary, expected_version string"
    )
    # Batch 0 has one reject, batch 1 is clean (empty letters dir).
    src = str(tmp_path / "req")
    spark.createDataFrame(
        [(None, "Evt", b"poison", b"", "any"), ("ok-1", "Evt", b"p", b"", "any")],
        schema,
    ).write.parquet(os.path.join(src, "f0"))
    dlq = str(tmp_path / "dlq")
    ckpt = str(tmp_path / "ckpt")
    ingest = StreamIngest(store)
    reader = spark.readStream.schema(schema).parquet(os.path.join(src, "f0"))
    q = ingest.start(reader, checkpoint=ckpt, available_now=True,
                     dead_letter_dir=dlq)
    q.awaitTermination(300)

    committed = store._read_state().batch_tokens
    assert len(committed) == 1
    (real_token,) = committed
    query_key = real_token.rpartition("-")[0]

    # Forge the crash artifact: letters for batch 7 of the SAME query,
    # token never committed (crash between pre-commit write and
    # manifest rename; stream decommissioned before replay).
    orphan_dir = os.path.join(dlq, "batch=7")
    spark.read.parquet(os.path.join(dlq, "batch=0")).withColumn(
        "batch_token", F.lit(f"{query_key}-7")
    ).write.mode("overwrite").parquet(orphan_dir)
    # And an empty dir from a clean batch.
    empty_dir = os.path.join(dlq, "batch=3")
    spark.read.parquet(os.path.join(dlq, "batch=0")).limit(0).write.mode(
        "overwrite"
    ).parquet(empty_dir)

    # Raw read sees both real and orphan letters; the contract reader
    # sees only the committed batch's.
    assert spark.read.parquet(dlq).count() == 2
    got = [
        (r["batch_token"], bytes(r["payload"]))
        for r in read_dead_letters(store, dlq).collect()
    ]
    assert got == [(real_token, b"poison")]

    removed = prune_dead_letters(store, dlq)
    assert removed == {"empty": 1, "orphaned": 1}
    assert not os.path.exists(orphan_dir)
    assert not os.path.exists(empty_dir)
    assert [
        bytes(r["payload"]) for r in spark.read.parquet(dlq).collect()
    ] == [b"poison"]


def test_read_dead_letters_handles_missing_or_empty_root(store, spark, tmp_path):
    """A consumer polling the dead-letter table before the first reject
    (dir never created), or after a prune swept everything, must get an
    EMPTY table — not an AnalysisException (ADVICE r7: mirror
    prune_dead_letters' missing-dir behavior)."""
    from sierradb_spark.streaming.ingest import read_dead_letters

    missing = str(tmp_path / "never_created")
    df = read_dead_letters(store, missing)
    assert df.count() == 0
    for col in ("stream_id", "accepted", "batch_token", "batch"):
        assert col in df.columns
    # root exists but holds no parquet data (everything pruned away)
    bare = str(tmp_path / "bare")
    os.makedirs(bare)
    assert read_dead_letters(store, bare).count() == 0


def test_checkpoint_reset_recipe_prune_retired_dlq_first(
    store, spark, tmp_path
):
    """ADVICE r7 (ingest.py:215): the dead-letter commitment proof is
    scoped to one checkpoint incarnation — batch ids restart at 0 under
    the same path-derived key after a checkpoint reset, BY DESIGN (the
    stable key is what makes checkpoint-loss replay duplicate-free,
    test_durability). A DLQ the restarted stream keeps writing to is
    self-healing; a RETIRED one must be pruned before the restart, per
    the documented recipe in read_dead_letters. This test walks the
    recipe and then demonstrates the hazard window it closes: after the
    new incarnation's ids pass the orphan's id, the orphan would have
    read as committed."""
    from sierradb_spark.streaming.ingest import (
        prune_dead_letters,
        read_dead_letters,
    )

    schema = (
        "stream_id string, event_name string, payload binary, "
        "metadata binary, expected_version string"
    )
    src = str(tmp_path / "req")
    dlq = str(tmp_path / "dlq")
    ckpt = str(tmp_path / "ckpt")
    ingest = StreamIngest(store)

    # Incarnation 1: batch 0 commits with one reject.
    spark.createDataFrame(
        [(None, "Evt", b"poison-inc1", b"", "any"),
         ("ok-1", "Evt", b"p", b"", "any")],
        schema,
    ).write.parquet(os.path.join(src, "f0"))
    reader = spark.readStream.schema(schema).parquet(os.path.join(src, "f0"))
    q = ingest.start(reader, checkpoint=ckpt, available_now=True,
                     dead_letter_dir=dlq)
    q.awaitTermination(300)
    (committed1,) = store._read_state().batch_tokens
    key = committed1.rpartition("-")[0]
    assert committed1 == f"{key}-0"

    # Crash artifact of incarnation 1: letters for its batch 1, whose
    # commit never landed (crash between the pre-commit write and the
    # manifest rename; the operator now retires this DLQ).
    orphan_dir = os.path.join(dlq, "batch=1")
    spark.read.parquet(os.path.join(dlq, "batch=0")).withColumn(
        "batch_token", F.lit(f"{key}-1")
    ).write.mode("overwrite").parquet(orphan_dir)

    # THE RECIPE: prune the retired DLQ before the restart — at this
    # moment the orphan's id (1) is above the key's newest committed id
    # (0), so it is still discriminable and gets swept.
    removed = prune_dead_letters(store, dlq)
    assert removed["orphaned"] == 1
    assert not os.path.exists(orphan_dir)
    # The committed batch's letters survive the prune and stay visible.
    assert [
        bytes(r["payload"]) for r in read_dead_letters(store, dlq).collect()
    ] == [b"poison-inc1"]

    # Reset the checkpoint and restart at the same path over the SAME
    # source: the new incarnation re-reads f0 as batch 0, the recomputed
    # token f"{key}-0" matches the committed one, and the batch is
    # skipped whole — the duplicate-free replay the path-stable key
    # exists for. (Replay dedup is a same-source guarantee: adding files
    # before the reset shifts which file lands in batch 0, so a reset
    # plus a CHANGED source is user error, not covered.)
    import shutil as _sh

    _sh.rmtree(ckpt)
    reader2 = spark.readStream.schema(schema).parquet(
        os.path.join(src, "f0")
    )
    q2 = ingest.start(reader2, checkpoint=ckpt, available_now=True,
                      dead_letter_dir=str(tmp_path / "dlq2"))
    q2.awaitTermination(300)
    assert store._read_state().batch_tokens == {f"{key}-0"}
    # ok-1 was NOT duplicated by the replayed batch 0 (the point of the
    # path-stable key).
    assert store.scan("ok-1").count() == 1

    # Advance the new incarnation past the orphan's id — deterministic
    # stand-in for its next committed micro-batch.
    store._apply_batch(
        spark.createDataFrame([("ok-2", "Evt", b"p", b"", "any")], schema),
        batch_token=f"{key}-1",
    )
    assert f"{key}-1" in store._read_state().batch_tokens

    # Demonstrate the window the recipe closes: had the orphan (id 1)
    # survived until now, its id would be at-or-below the key's newest
    # committed id and read_dead_letters would have surfaced it as a
    # committed batch's reject.
    late_orphan = os.path.join(dlq, "batch=9")
    spark.read.parquet(os.path.join(dlq, "batch=0")).withColumn(
        "batch_token", F.lit(f"{key}-1")
    ).write.mode("overwrite").parquet(late_orphan)
    visible_tokens = {
        r["batch_token"]
        for r in read_dead_letters(store, dlq).collect()
    }
    assert f"{key}-1" in visible_tokens  # indistinguishable now — hence
    _sh.rmtree(late_orphan)  # ...the prune-BEFORE-restart recipe.


def test_evicted_token_letters_survive_by_monotone_rule(
    store, spark, tmp_path
):
    """Base manifests cap the carried token history, so an OLD committed
    batch's token can be absent from the chain. Its letters must still
    read as committed: batch ids are monotone per query key, so an id
    at-or-below the key's newest committed id proves commitment."""
    from sierradb_spark.streaming.ingest import (
        prune_dead_letters,
        read_dead_letters,
    )

    schema = (
        "stream_id string, event_name string, payload binary, "
        "metadata binary, expected_version string"
    )
    requests = spark.createDataFrame([("s-1", "Evt", b"p", b"", "any")], schema)
    # Commit batches 3 and 7 of query key "qk"; simulate eviction by
    # never committing "qk-5" — but 5 < 7, so the monotone rule proves
    # a batch=5 letters dir committed. An id ABOVE the max (qk-9) is an
    # orphan.
    store._apply_batch(requests, batch_token="qk-3")
    store._apply_batch(requests, batch_token="qk-7")
    dlq = str(tmp_path / "dlq")
    letters = spark.createDataFrame(
        [("bad", b"x", "reason")],
        "stream_id string, payload binary, error string",
    )
    letters.withColumn("batch_token", F.lit("qk-5")).write.parquet(
        os.path.join(dlq, "batch=5")
    )
    letters.withColumn("batch_token", F.lit("qk-9")).write.parquet(
        os.path.join(dlq, "batch=9")
    )
    kept = sorted(
        r["batch_token"] for r in read_dead_letters(store, dlq).collect()
    )
    assert kept == ["qk-5"]
    removed = prune_dead_letters(store, dlq)
    assert removed == {"empty": 0, "orphaned": 1}
    assert os.path.isdir(os.path.join(dlq, "batch=5"))
    assert not os.path.exists(os.path.join(dlq, "batch=9"))


def test_compaction_hook_prunes_dead_letter_dirs(store, spark, tmp_path):
    """Long-running ingest with compact_every engaged sweeps the empty
    batch=* dirs its own unconditional writes create, bounding the
    dead-letter root's listing."""
    schema = (
        "stream_id string, event_name string, payload binary, "
        "metadata binary, expected_version string"
    )
    src = str(tmp_path / "req")
    # 5 clean single-row files -> 5 micro-batches (maxFilesPerTrigger=1)
    for i in range(5):
        spark.createDataFrame(
            [(f"ok-{i}", "Evt", b"p", b"", "any")], schema
        ).write.parquet(os.path.join(src, f"f{i}"))
    dlq = str(tmp_path / "dlq")
    q = StreamIngest(store).start(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "f*")),
        checkpoint=str(tmp_path / "ckpt"),
        available_now=True,
        dead_letter_dir=dlq,
        compact_every=2,
    )
    q.awaitTermination(300)
    assert store.events().count() == 5
    # every batch was clean; the compaction-cadence prune removed the
    # empty dirs written before the last prune point
    leftover = [d for d in os.listdir(dlq) if d.startswith("batch=")]
    assert len(leftover) <= 2  # only dirs written after the last prune

"""EventStore read-path pruning: the EGET/ESCAN partition-pruning claim,
asserted on the physical plan and on the files the reader is handed.

The reference prunes by construction (key -> hash -> partition -> bucket
arithmetic, id.rs:51-54); our equivalent is a hive PartitionFilter on
``partition_id`` plus parquet pushdown on the stream/version predicates.
A regression here (e.g. events() losing the basePath option) would make
every point read scan the whole table — correct results, 100 TB disaster.
A plan-level prune is not enough on its own: Spark's file index lists
every path it is given (as a Spark job once there are more than 32), so
point reads must also hand it only the target partition's files.
"""

from __future__ import annotations

import re
import uuid

import pytest

from sierradb_spark import ids
from sierradb_spark.config import EngineConfig
from sierradb_spark.eventstore import AppendRequest, EventStore


@pytest.fixture()
def store(spark, tmp_path):
    s = EventStore(spark, str(tmp_path / "store"), EngineConfig(shuffle_partitions=8))
    s.append([AppendRequest(f"s-{i}", "E", payload=b"x") for i in range(40)])
    return s


def _filters(df) -> tuple[str, str]:
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "8000")
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    part = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    return (part.group(1) if part else "", pushed.group(1) if pushed else "")


def test_scan_prunes_to_one_partition(store):
    part, pushed = _filters(store.scan("s-1"))
    assert re.search(r"partition_id#\d+ = \d+", part), part
    assert "EqualTo(stream_id,s-1)" in pushed, pushed


def test_scan_pushes_version_range(store):
    part, pushed = _filters(store.scan("s-1", 2, 9))
    assert re.search(r"partition_id#\d+ = \d+", part), part
    assert "GreaterThanOrEqual(stream_version,2)" in pushed, pushed
    assert "LessThanOrEqual(stream_version,9)" in pushed, pushed


def test_get_prunes_by_uuid_hash(store):
    eid = store.scan("s-3").collect()[0]["event_id"]
    part, pushed = _filters(store.get(eid))
    assert re.search(r"partition_id#\d+ = \d+", part), part


def test_pscan_prunes_and_pushes_sequence(store):
    pid = store.scan("s-1").collect()[0]["partition_id"]
    part, pushed = _filters(store.pscan(pid, 0, 3))
    assert f"partition_id#" in part and f"= {pid}" in part, part
    assert "LessThanOrEqual(partition_sequence,3)" in pushed, pushed


def _pid(stream_id: str, n: int = 32) -> int:
    return ids.partition_id_for_hash(
        ids.uuid_to_partition_hash(str(ids.partition_key_for_stream(stream_id))), n
    )


@pytest.fixture()
def wide_store(spark, tmp_path):
    """More events files than Spark's parallel-listing threshold (32):
    one batch over all 32 partitions, then single-event appends."""
    s = EventStore(spark, str(tmp_path / "wide"), EngineConfig(shuffle_partitions=8))
    first: dict[int, str] = {}
    i = 0
    while len(first) < 32:
        first.setdefault(_pid(f"w-{i}"), f"w-{i}")
        i += 1
    s.append([AppendRequest(sid, "E", payload=b"x") for sid in first.values()])
    for sid in list(first.values())[:4]:
        s.append([AppendRequest(sid, "E", payload=b"y")])
    assert s.stats()["events_files"] > 32
    return s


def _jobs_started(spark, build) -> tuple[object, int]:
    """Call ``build`` under a fresh job group; return its result and the
    number of Spark jobs it started."""
    sc = spark.sparkContext
    group = f"build-{uuid.uuid4().hex}"
    keys = ("spark.jobGroup.id", "spark.job.description")
    old = [sc.getLocalProperty(k) for k in keys]
    sc.setJobGroup(group, "point-read build")
    try:
        out = build()
    finally:
        for k, v in zip(keys, old):
            sc.setLocalProperty(k, v)
    # The status store is fed by the asynchronous listener bus: drain it.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_point_reads_open_only_the_target_partition(spark, wide_store):
    sid = "w-0"
    pid = _pid(sid)
    eid = wide_store.scan(sid).collect()[0]["event_id"]
    builds = {
        "scan": lambda: wide_store.scan(sid, 0, 5, count=3),
        "pscan": lambda: wide_store.pscan(pid, 0, 9, direction="reverse"),
        "get": lambda: wide_store.get(eid),
    }
    for name, build in builds.items():
        df, jobs = _jobs_started(spark, build)
        assert jobs == 0, f"building {name} started {jobs} Spark job(s)"
        files = df.inputFiles()
        assert files, name
        stray = [f for f in files if f"/partition_id={pid}/" not in f]
        assert not stray, (name, stray)
    assert [r["event_id"] for r in wide_store.get(eid).collect()] == [eid]


def _eids(df) -> list[str]:
    return [r["event_id"] for r in df.collect()]


def _check_reads_match_events(store, streams, pids, as_of=None):
    """get/scan/pscan equal a pandas filter of events() at the same snapshot."""
    ev = store.events(as_of=as_of).toPandas()
    cases = [("-", "+", None), (1, 3, None), (1, "+", 2)]
    for direction in ("forward", "reverse"):
        asc = direction == "forward"
        for start, end, count in cases:
            lo = -1 if start == "-" else start
            hi = 1 << 62 if end == "+" else end
            for sid in streams:
                want = ev[
                    (ev.stream_id == sid)
                    & ev.stream_version.between(lo, hi)
                ].sort_values("stream_version", ascending=asc)
                want = list(want.event_id[: count or len(want)])
                got = _eids(
                    store.scan(sid, start, end, count, direction, as_of=as_of)
                )
                assert got == want, (sid, start, end, count, direction, as_of)
            for pid in pids:
                want = ev[
                    (ev.partition_id == pid)
                    & ev.partition_sequence.between(lo, hi)
                ].sort_values("partition_sequence", ascending=asc)
                want = list(want.event_id[: count or len(want)])
                got = _eids(
                    store.pscan(pid, start, end, count, direction, as_of=as_of)
                )
                assert got == want, (pid, start, end, count, direction, as_of)
    for txn in ev[ev.stream_id.isin(streams)].transaction_id.unique():
        want = list(
            ev[ev.transaction_id == txn].sort_values("partition_sequence").event_id
        )
        assert _eids(store.get(want[-1], as_of=as_of)) == want, (txn, as_of)


def test_point_reads_match_events_oracle(wide_store):
    store = wide_store
    multi = [AppendRequest("w-0", "T", payload=b"t") for _ in range(3)]
    store.append_transaction(multi)
    store.append(
        [AppendRequest(f"w-{i}", "E", payload=b"z") for i in (0, 1, 0, 1)]
    )
    early = store.commits()[1]
    streams = ["w-0", "w-1"]
    pids = sorted({_pid(s) for s in streams})
    _check_reads_match_events(store, streams, pids)
    _check_reads_match_events(store, streams, pids, as_of=early)

    store.compact()
    _check_reads_match_events(store, streams, pids)

    # A hard delete that empties one partition: its watermark stays, its
    # files are gone, and every read of it is empty rather than an error.
    ev = store.events().toPandas()
    lone = ev.groupby("partition_id").stream_id.nunique()
    gone_pid = int(lone.idxmin())
    gone = sorted(ev[ev.partition_id == gone_pid].stream_id.unique())
    gone_eid = ev[ev.partition_id == gone_pid].event_id.iloc[0]
    store.delete_streams(gone, mode="hard")
    assert store.partition_sequence(gone_pid) is not None
    assert store.pscan(gone_pid).collect() == []
    assert store.scan(gone[0]).collect() == []
    assert store.get(gone_eid).collect() == []
    _check_reads_match_events(store, streams + gone, pids + [gone_pid])

"""The write path's one heads fold (``EventStore._fold_heads``).

Every reader of current stream heads on the write path — the append
join, the heads-log rollover, compact and delete_streams — goes through
one latest-wins fold of the heads log. These tests pin it against the
events table it summarizes (the two must agree after every kind of
commit), and pin the append's heads relation to a driver-local plan
with no Spark job, at a stream count past any inline-literal cap.
"""

from __future__ import annotations

import uuid

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame

from sierradb_spark.config import EngineConfig
from sierradb_spark.eventstore import AppendRequest, EventStore

# Stream ids carrying SQL quoting/escaping bytes and non-ASCII text.
ODD = ["q'uote", "back\\slash", "tu),(ple", "ünï-流", "plain"]
KEY = ["partition_id", "stream_id"]


def _check_fold_matches_events(store: EventStore, gone=()) -> None:
    """The fold equals a pandas latest-wins max over events(), and
    stream_version agrees with it for every stream."""
    ev = store.events().toPandas()
    want = (
        ev.groupby(KEY, as_index=False)[["stream_version", "partition_sequence"]]
        .max()
        .sort_values(KEY, ignore_index=True)
    )
    got = (
        store._fold_heads(store._read_state())
        .to_pandas()
        .sort_values(KEY, ignore_index=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    for sid, ver in zip(want.stream_id, want.stream_version):
        assert store.stream_version(sid) == ver, sid
    for sid in gone:
        assert store.stream_version(sid) is None, sid


def test_heads_fold_matches_events_oracle(spark, tmp_path):
    store = EventStore(
        spark,
        str(tmp_path / "store"),
        EngineConfig(shuffle_partitions=8, heads_fold_threshold=3),
    )
    # Plain appends, several events per stream in one batch.
    store.append([AppendRequest(s, "E", payload=b"x") for s in ODD + ODD[:3]])
    _check_fold_matches_events(store)

    # Precondition appends: validation reads current versions from the fold.
    cur = {s: store.stream_version(s) for s in ODD}
    res = store.append(
        [
            AppendRequest(ODD[0], "P", expected_version=str(cur[ODD[0]])),
            AppendRequest(ODD[3], "P", expected_version=str(cur[ODD[3]])),
            AppendRequest(ODD[1], "P", expected_version="0"),  # stale
            AppendRequest(ODD[2], "P", expected_version="empty"),  # stale
        ]
    )
    assert [r.accepted for r in res] == [True, True, False, False], res
    assert res[0].stream_version == cur[ODD[0]] + 1
    _check_fold_matches_events(store)

    # Heads-log rollover: the commit that would exceed the threshold
    # folds the log (plus its own batch) into one file.
    for i in range(3):
        store.append([AppendRequest(ODD[i % len(ODD)], "R"), AppendRequest("r", "R")])
        _check_fold_matches_events(store)
    assert len(store._read_state().heads_files) < 3
    res = store.append([AppendRequest(ODD[4], "P", expected_version="0")])
    assert res[0].accepted, res
    _check_fold_matches_events(store)

    store.compact()
    assert len(store._read_state().heads_files) == 1
    _check_fold_matches_events(store)

    gone = [ODD[0], ODD[2]]
    store.delete_streams(gone, mode="hard")
    _check_fold_matches_events(store, gone=gone)

    # A hard-deleted stream restarts at version 0.
    res = store.append([AppendRequest(ODD[0], "N", expected_version="empty")])
    assert res[0].accepted and res[0].stream_version == 0, res
    _check_fold_matches_events(store, gone=[ODD[2]])


def test_append_heads_relation_is_local_with_no_job(spark, tmp_path, monkeypatch):
    """Past 1024 streams, the relation a plain append joins its batch
    against is a LocalRelation (no parquet scan of heads/), and nothing
    up to that join starts a Spark job."""
    store = EventStore(spark, str(tmp_path / "big"), EngineConfig(shuffle_partitions=8))
    ids = F.concat(F.lit("b-"), F.col("id").cast("string"))
    store.append_df(
        spark.range(1100).select(ids.alias("stream_id"), F.lit("E").alias("event_name"))
    )
    assert store.heads().count() == 1100  # past the old 1024-stream cap

    sc = spark.sparkContext
    group = f"heads-{uuid.uuid4().hex}"
    seen = []
    join = DataFrame.join

    def spy(self, other, on=None, how=None):
        if on == KEY:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            seen.append((other, len(sc.statusTracker().getJobIdsForGroup(group))))
        return join(self, other, on, how)

    monkeypatch.setattr(DataFrame, "join", spy)
    keys = ("spark.jobGroup.id", "spark.job.description")
    old = [sc.getLocalProperty(k) for k in keys]
    sc.setJobGroup(group, "append")
    try:
        res = store.append([AppendRequest("b-7", "E")])
    finally:
        for k, v in zip(keys, old):
            sc.setLocalProperty(k, v)
    assert res[0].accepted and res[0].stream_version == 1, res

    assert len(seen) == 1, seen
    heads, jobs = seen[0]
    plan = heads._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan
    assert "parquet" not in plan.lower() and store.heads_path not in plan, plan
    assert jobs == 0, f"building the heads relation started {jobs} Spark job(s)"

"""The write path's one heads fold (``EventStore._fold_heads``).

Every reader of current stream heads on the write path — every append,
the heads-log rollover, compact and delete_streams — goes through one
latest-wins fold of the heads log. These tests pin it against the
events table it summarizes (the two must agree after every kind of
commit), and pin a one-row ``append_df`` to one Spark job and no Spark
read of heads/, at a stream count past any inline-literal cap.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrameReader
from pyspark.sql import functions as F

from sierradb_spark.config import EngineConfig
from sierradb_spark.eventstore import AppendRequest, EventStore
from sierradb_spark.eventstore.schema import APPEND_RESULT_SCHEMA

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
        EngineConfig(heads_fold_threshold=3),
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


def test_one_row_append_df_starts_one_job(spark, tmp_path, monkeypatch, jobs_started):
    """Past 1024 streams, a one-row ``append_df`` starts exactly one
    Spark job (the collect of its request batch): no Spark read of
    heads/, and on the driver only the heads file the previous commit
    added is read into the memoized fold. The result is a DataFrame
    with ``APPEND_RESULT_SCHEMA``."""
    store = EventStore(spark, str(tmp_path / "big"), EngineConfig())
    ids = F.concat(F.lit("b-"), F.col("id").cast("string"))
    store.append_df(
        spark.range(1100).select(ids.alias("stream_id"), F.lit("E").alias("event_name"))
    )
    assert store.heads().count() == 1100  # past the old 1024-stream cap
    [last_heads] = store._read_state().heads_files

    one = spark.createDataFrame([("b-7", "E")], "stream_id string, event_name string")
    spark_reads, driver_reads = [], []
    parquet, read_heads = DataFrameReader.parquet, EventStore._read_heads

    def spy_parquet(self, *paths, **kw):
        spark_reads.extend(paths)
        return parquet(self, *paths, **kw)

    def spy_read_heads(self, rels):
        driver_reads.append(list(rels))
        return read_heads(self, rels)

    monkeypatch.setattr(DataFrameReader, "parquet", spy_parquet)
    monkeypatch.setattr(EventStore, "_read_heads", spy_read_heads)
    res, jobs = jobs_started(lambda: store.append_df(one))
    assert jobs == 1, f"a one-row append_df started {jobs} Spark job(s)"
    assert not any(store.heads_path in p for p in spark_reads), spark_reads
    assert driver_reads == [[last_heads]], driver_reads
    assert res.schema == APPEND_RESULT_SCHEMA
    res = res.collect()
    assert res[0]["accepted"] and res[0]["stream_version"] == 1, res

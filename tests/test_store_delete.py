"""Stream deletion (right-to-be-forgotten) tests: hard delete, scrub,
partition-scoped rewrite, physical erasure, and forget-then-reappend.

The reference's RESP3 surface is append-only (request.rs:49-63 has no
delete); delete_streams is the platform-side maintenance extension,
published with the same base-manifest + sweep discipline as compact.
"""

from __future__ import annotations

import glob
import os

import pytest

from pyspark.sql import functions as F

from sierradb_spark.config import EngineConfig
from sierradb_spark.eventstore import AppendRequest, EventStore
from sierradb_spark.eventstore.store import SnapshotExpiredError


@pytest.fixture()
def store(spark, tmp_path):
    return EventStore(
        spark, str(tmp_path / "store"), EngineConfig()
    )


def _seed(store, n_streams=6, per=4, marker=b"SECRET-PAYLOAD-MARKER"):
    for v in range(per):
        store.append(
            [
                AppendRequest(
                    f"del-{i}",
                    f"E{v}",
                    marker if i == 0 else f"p-{i}-{v}".encode(),
                )
                for i in range(n_streams)
            ]
        )


def test_hard_delete_removes_stream_everywhere(store):
    _seed(store)
    before = store.events()
    kept_before = {
        tuple(r)
        for r in before.where(F.col("stream_id") != "del-0").collect()
    }
    total_before = before.count()

    stats = store.delete_streams(["del-0"], mode="hard")
    assert stats["events_affected"] == 4
    assert stats["partitions_rewritten"] >= 1

    after = store.events()
    assert after.where(F.col("stream_id") == "del-0").count() == 0
    assert after.count() == total_before - 4
    # every surviving event byte-identical, sequences preserved (gaps ok)
    assert {tuple(r) for r in after.collect()} == kept_before
    # read APIs see a stream that never existed
    assert store.scan("del-0").count() == 0
    assert store.stream_version("del-0") is None
    # other streams' heads intact
    assert store.stream_version("del-1") == 3


def test_hard_delete_then_reappend_restarts_at_zero(store):
    _seed(store, n_streams=2)
    store.delete_streams(["del-0"])
    res = store.append(
        [AppendRequest("del-0", "Fresh", b"x", expected_version="empty")]
    )
    assert res[0].accepted and res[0].stream_version == 0


def test_scrub_blanks_payloads_keeps_positions(store):
    _seed(store)
    before = {
        r["event_id"]: (r["partition_sequence"], r["stream_version"])
        for r in store.events().where(F.col("stream_id") == "del-0").collect()
    }
    total = store.events().count()

    stats = store.delete_streams(["del-0"], mode="scrub")
    assert stats["events_affected"] == 4

    after = store.events()
    assert after.count() == total  # nothing removed
    scrubbed = after.where(F.col("stream_id") == "del-0").collect()
    assert len(scrubbed) == 4
    for r in scrubbed:
        assert bytes(r["payload"]) == b"" and bytes(r["metadata"]) == b""
        assert before[r["event_id"]] == (
            r["partition_sequence"],
            r["stream_version"],
        )
    # heads/versions unchanged under scrub
    assert store.stream_version("del-0") == 3


def test_hard_delete_erases_bytes_on_disk(store):
    marker = b"SECRET-PAYLOAD-MARKER"
    _seed(store, marker=marker)

    def marker_on_disk() -> bool:
        for fn in glob.glob(
            store.events_path + "/**/*.parquet", recursive=True
        ):
            with open(fn, "rb") as f:
                if marker in f.read():
                    return True
        return False

    assert marker_on_disk()
    store.delete_streams(["del-0"], mode="hard", retain_seconds=0.0)
    # retention 0: superseded files swept immediately → bytes gone
    assert not marker_on_disk()
    # and the pre-delete snapshot is no longer resolvable
    with pytest.raises(SnapshotExpiredError):
        store.events(as_of=1).collect()


def test_delete_rewrites_only_affected_partitions(store):
    _seed(store)
    from sierradb_spark.ids import (
        partition_id_for_hash,
        partition_key_for_stream,
        uuid_to_partition_hash,
    )

    pid = partition_id_for_hash(
        uuid_to_partition_hash(partition_key_for_stream("del-0")),
        store.config.num_partitions,
    )
    affected = {f"partition_id={pid}"}
    before = {
        os.path.relpath(fn, store.events_path)
        for fn in glob.glob(store.events_path + "/**/*.parquet", recursive=True)
    }
    stats = store.delete_streams(["del-0"], mode="hard", retain_seconds=0.0)
    assert stats["partitions_rewritten"] == 1
    after = {
        os.path.relpath(fn, store.events_path)
        for fn in glob.glob(store.events_path + "/**/*.parquet", recursive=True)
    }
    # unaffected partitions: exactly the same files carry over, byte-for-name
    unaffected = lambda rels: {  # noqa: E731
        r for r in rels if r.split(os.sep, 1)[0] not in affected
    }
    assert unaffected(before) == unaffected(after)
    # every new file (if any — the partition may now be empty) lives in
    # the affected partition and is a delete-rewrite product
    for rel in after - before:
        part, name = rel.split(os.sep, 1)
        assert part in affected and name.startswith("delete-")


def test_delete_missing_stream_is_a_cheap_noop(store):
    _seed(store, n_streams=2)
    commit_before = store.commits()[-1]
    stats = store.delete_streams(["never-existed"])
    assert stats == {
        "streams": 0,
        "events_affected": 0,
        "partitions_rewritten": 0,
        "commit": commit_before,
    }
    assert store.commits()[-1] == commit_before  # no new manifest


def test_delete_multiple_streams_across_partitions(store):
    _seed(store, n_streams=8)
    stats = store.delete_streams(["del-1", "del-3", "del-5"], mode="hard")
    assert stats["events_affected"] == 12
    after = store.events()
    assert (
        after.where(F.col("stream_id").isin("del-1", "del-3", "del-5")).count()
        == 0
    )
    assert after.count() == 8 * 4 - 12
    # gapless scan of survivors still works via the heads log
    assert store.stream_version("del-2") == 3

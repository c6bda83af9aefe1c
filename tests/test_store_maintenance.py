"""Batched iteration (R7) and compaction (W8 analog) tests."""

from __future__ import annotations

import glob

import pytest

from sierradb_spark.config import EngineConfig
from sierradb_spark.eventstore import AppendRequest, EventStore


@pytest.fixture()
def store(spark, tmp_path):
    return EventStore(spark, str(tmp_path / "store"), EngineConfig())


def test_scan_batches_pagination(store):
    store.append([AppendRequest("b1", f"E{i}") for i in range(23)])
    pages = list(store.scan_batches("b1", batch_size=5))
    assert [len(p) for p in pages] == [5, 5, 5, 5, 3]
    flat = [r["stream_version"] for p in pages for r in p]
    assert flat == list(range(23))
    # reverse + range
    pages = list(store.scan_batches("b1", 4, 14, batch_size=4, direction="reverse"))
    flat = [r["stream_version"] for p in pages for r in p]
    assert flat == list(range(14, 3, -1))


def test_compact_preserves_contents_and_shrinks_files(store):
    # 6 appends → ≥6 files per touched partition
    for b in range(6):
        store.append([AppendRequest(f"c-{i}", f"E{b}") for i in range(4)])
    before = store.events().orderBy("partition_id", "partition_sequence").collect()
    n_files_before = len(glob.glob(store.events_path + "/**/*.parquet", recursive=True))
    store.compact()
    after = store.events().orderBy("partition_id", "partition_sequence").collect()
    n_files_after = len(glob.glob(store.events_path + "/**/*.parquet", recursive=True))
    assert [tuple(r) for r in after] == [tuple(r) for r in before]
    assert n_files_after < n_files_before
    # reads still work post-swap
    assert store.stream_version("c-0") == 5
    assert [r["stream_version"] for r in store.scan("c-1").collect()] == list(range(6))


def test_pscan_batches_pagination(store):
    store.append([AppendRequest("pb1", f"E{i}") for i in range(17)])
    pid = store.scan("pb1").collect()[0]["partition_id"]
    pages = list(store.pscan_batches(pid, batch_size=5))
    assert [len(p) for p in pages] == [5, 5, 5, 2]
    flat = [r["partition_sequence"] for p in pages for r in p]
    assert flat == list(range(17))
    pages = list(store.pscan_batches(pid, 3, 12, batch_size=4, direction="reverse"))
    flat = [r["partition_sequence"] for p in pages for r in p]
    assert flat == list(range(12, 2, -1))


def test_stats_snapshot(spark, tmp_path):
    """stats() is exact (gapless sequences make counts arithmetic) and
    costs zero Spark jobs; compaction shrinks files, never counts."""
    from sierradb_spark.config import EngineConfig
    from sierradb_spark.eventstore import AppendRequest, EventStore

    store = EventStore(
        spark, str(tmp_path / "st"), EngineConfig()
    )
    assert store.stats()["total_events"] == 0
    store.append([AppendRequest(f"s-{i % 5}", "E") for i in range(20)])
    store.append([AppendRequest("s-0", "E2")])
    s = store.stats()
    assert s["total_events"] == 21 == store.events().count()
    assert s["commit"] == 2 and s["commits_resolvable"] == 2
    assert s["events_files"] > 0 and s["events_bytes"] > 0
    assert s["partitions_touched"] == len(s["confirmed_sequences"])
    files_before = s["events_files"]
    store.compact()
    s2 = store.stats()
    assert s2["total_events"] == 21
    assert s2["events_files"] <= files_before
    assert s2["commits_resolvable"] == 1  # base manifest only


def test_zorder_compaction_rowgroup_skipping(spark, tmp_path, monkeypatch):
    """compact(order='zorder') must give SEQUENCE ranges real row-group
    skipping on the rewritten file, where the stream sort cannot (a
    stream-sorted file spreads every sequence range across ~all row
    groups), while keeping scan/pscan results identical."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from sierradb_spark.eventstore import store as store_mod

    # Force many row groups: about the 64 KiB ones (~344 rows) that
    # parquet.block.size made Spark's writer produce for these rows.
    monkeypatch.setattr(store_mod, "_ROW_GROUP_ROWS", 344)
    results = {}
    for order in ("stream", "zorder"):
        st = EventStore(
            spark,
            str(tmp_path / f"z_{order}"),
            EngineConfig(),
        )
        # One explicit partition key -> one hive dir, one deep file.
        pk = "f0e1d2c3-0000-5000-8000-000000000001"
        reqs = spark.range(24_000).select(
            F.concat(F.lit("zs-"), (F.col("id") % 64).cast("string")).alias(
                "stream_id"
            ),
            F.lit("Z").alias("event_name"),
            F.encode(F.col("id").cast("string"), "utf-8").alias("payload"),
            F.lit(pk).alias("partition_key"),
        )
        assert st.append_df(reqs).where("accepted").count() == 24_000
        st.compact(order=order)
        files = [
            f
            for f in glob.glob(f"{st.events_path}/partition_id=*/*.parquet")
            if "compact-" in f
        ]
        assert len(files) == 1
        meta = pq.ParquetFile(files[0]).metadata
        idx = {
            meta.schema.column(i).name: i
            for i in range(meta.schema.column(0) and meta.num_columns)
        }
        n_rg = meta.num_row_groups
        assert n_rg >= 8, f"need many row groups, got {n_rg}"
        seqs = [
            (
                meta.row_group(g).column(idx["partition_sequence"]).statistics.min,
                meta.row_group(g).column(idx["partition_sequence"]).statistics.max,
            )
            for g in range(n_rg)
        ]
        total = max(mx for _, mx in seqs)
        lo, hi = int(total * 0.45), int(total * 0.55)  # a 10% range
        touched = sum(1 for mn, mx in seqs if not (mx < lo or mn > hi))
        results[order] = (touched / n_rg, st)
    z_frac, zst = results["zorder"]
    s_frac, _ = results["stream"]
    # Stream sort: the 10% sequence range hits ~every row group.
    assert s_frac > 0.8, f"stream-sorted seq selectivity {s_frac}"
    # Z-order: bounded fraction, and strictly better than stream sort.
    assert z_frac < 0.6 and z_frac < s_frac, (z_frac, s_frac)
    # Correctness unchanged: pscan over the range matches seq arithmetic.
    pid = zst.pscan(zst.stats()["partitions_touched"] and int(
        next(iter(zst.stats()["confirmed_sequences"]))
    ), lo, hi)
    assert pid.count() == hi - lo + 1


@pytest.mark.parametrize("base, span", [(0, 24_000), (5_000_000, 10**12), (42, 1)])
def test_zorder_key_matches_spark_formula(spark, base, span):
    """The driver's NumPy z-order key equals the Spark Column Morton key
    that compaction sorted by when it ran on Spark, applied to the
    sequences rebased to the merged rows' own minimum."""
    import random

    import pyarrow as pa
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from sierradb_spark.eventstore.store import _zorder_key

    rng = random.Random(base)
    names = [f"zs-{i}" for i in range(50)] + ["ünï-☃", "x" * 64]
    sids = [rng.choice(names) for _ in range(2000)]
    seqs = [base + rng.randrange(span) for _ in range(2000)]
    got = _zorder_key(pa.chunked_array([sids]), pa.chunked_array([seqs]))

    # The reference: the Column formula, verbatim, over rebased sequences.
    df = spark.createDataFrame(
        list(zip(range(len(sids)), sids, [q - min(seqs) for q in seqs])),
        "i long, stream_id string, partition_sequence long",
    ).withColumn("partition_id", F.lit(0))
    s16 = F.conv(F.substring(F.md5(F.col("stream_id")), 1, 4), 16, 10).cast(
        "long"
    )
    mx = F.max("partition_sequence").over(
        Window.partitionBy("partition_id")
    )
    q16 = (
        F.col("partition_sequence") * 65535 / F.greatest(mx, F.lit(1))
    ).cast("long")
    z = F.lit(0).cast("long")
    for i in range(16):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(s16, i).bitwiseAND(1), 2 * i + 1)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(q16, i).bitwiseAND(1), 2 * i)
        )
    want = [r["z"] for r in df.select("i", z.alias("z")).orderBy("i").collect()]
    assert got.tolist() == want


def test_changes_feed_commit_ranges(store):
    from sierradb_spark.eventstore.store import SnapshotExpiredError

    for b in range(3):
        store.append([AppendRequest(f"cf-{i}", f"B{b}") for i in range(4)])
    assert store.changes(0).count() == 12
    batch2 = store.changes(1, 2)
    assert sorted(r["event_name"] for r in batch2.collect()) == ["B1"] * 4
    assert store.changes(2).count() == 4  # commit 3 only
    assert store.changes(3).count() == 0  # caught up
    with pytest.raises(ValueError):
        store.changes(0, 99)  # beyond head
    with pytest.raises(ValueError):
        store.changes(3, 2)  # inverted range

    # Compaction (retention 0) sweeps incremental manifests: a range that
    # needs them errors instead of silently returning the base's re-list…
    store.compact()
    with pytest.raises(SnapshotExpiredError):
        store.changes(1)
    # …the base commit itself adds nothing, and post-compaction appends
    # flow through the feed as usual.
    base = store._read_state().commit
    assert store.changes(base - 1).count() == 0  # base re-lists, adds nothing
    store.append([AppendRequest("cf-new", "B3")])
    post = store.changes(base)
    assert [r["event_name"] for r in post.collect()] == ["B3"]


def test_incremental_view_maintenance_via_changes(store):
    """The change feed supports incremental materialized-view
    maintenance: folding only each commit range's delta into a running
    aggregate must equal a full recompute over the whole table."""
    from pyspark.sql import functions as F

    acc: dict[str, int] = {}
    last = 0
    for b in range(4):
        store.append(
            [AppendRequest(f"ivm-{i % 3}", f"T{i % 2}") for i in range(5)]
        )
        head = store._read_state().commit
        delta = (
            store.changes(last)
            .groupBy("event_name")
            .agg(F.count("*").alias("n"))
            .collect()
        )
        for r in delta:
            acc[r["event_name"]] = acc.get(r["event_name"], 0) + r["n"]
        last = head
    full = {
        r["event_name"]: r["n"]
        for r in store.events()
        .groupBy("event_name")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert acc == full == {"T0": 12, "T1": 8}

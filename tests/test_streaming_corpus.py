"""Streaming near-dup-free corpus ingestion (streaming/corpus.py)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from sierradb_spark.streaming.corpus import DOCS_SCHEMA, StreamingCorpusDedup

# ~40-token docs: near-dups share all but one word -> jaccard >> 0.8,
# caught by the 16x4 LSH with p ~ 0.9998; UNIQ docs share nothing.
_BASE = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform "
    "victor whiskey xray yankee zulu one two three four five six seven "
    "eight nine ten eleven twelve thirteen fourteen"
)
_NEAR = _BASE.replace("oscar", "oskar")
_NEAR2 = _BASE.replace("victor", "viktor")
_UNIQ1 = " ".join(f"u{i}a u{i}b u{i}c" for i in range(14))
_UNIQ2 = " ".join(f"w{i}a w{i}b w{i}c" for i in range(14))


def _write_batch(spark, landing: str, name: str, rows: list[tuple]) -> None:
    # one FILE per batch (a .parquet directory would be invisible to the
    # file-stream source's listing)
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(landing, exist_ok=True)
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
            "text": pa.array([r[1] for r in rows], type=pa.string()),
        }
    )
    pq.write_table(table, os.path.join(landing, name))


@pytest.fixture()
def dedup(spark, tmp_path):
    return StreamingCorpusDedup(spark, str(tmp_path / "corpus"))


def _ingest(spark, dedup, landing, ckpt):
    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    dedup.ingest_available(stream, ckpt)


def test_within_and_cross_batch_dedup(spark, tmp_path, dedup):
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    # batch 1: base doc, a unique doc, and an in-batch near-dup of base
    _write_batch(
        spark, landing, "b1.parquet",
        [(1, _BASE), (2, _UNIQ1), (3, _NEAR)],
    )
    _ingest(spark, dedup, landing, ckpt)
    assert sorted(
        r["doc_id"] for r in dedup.corpus().collect()
    ) == [1, 2]  # 3 lost the in-batch component to 1

    # batch 2: a cross-batch near-dup of 1 (index hit) and a new unique
    _write_batch(
        spark, landing, "b2.parquet",
        [(4, _NEAR2), (5, _UNIQ2)],
    )
    _ingest(spark, dedup, landing, ckpt)
    assert sorted(
        r["doc_id"] for r in dedup.corpus().collect()
    ) == [1, 2, 5]  # 4 collided with the persisted index

    # accepted text is intact
    texts = {r["doc_id"]: r["text"] for r in dedup.corpus().collect()}
    assert texts[1] == _BASE and texts[5] == _UNIQ2


def test_replayed_batch_is_idempotent(spark, tmp_path, dedup):
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, landing, "b1.parquet", [(1, _BASE), (2, _UNIQ1)])
    _ingest(spark, dedup, landing, ckpt)
    first = sorted(
        (r["doc_id"], r["batch"]) for r in dedup.corpus().collect()
    )
    # crash-replay: re-run the SAME micro-batch fold directly
    batch = spark.createDataFrame([(1, _BASE), (2, _UNIQ1)], DOCS_SCHEMA)
    dedup.process_batch(batch, 0)
    assert (
        sorted((r["doc_id"], r["batch"]) for r in dedup.corpus().collect())
        == first
    )


def test_short_docs_bypass_banding(spark, tmp_path, dedup):
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    # two identical 2-token docs: too short to shingle, both accepted
    _write_batch(
        spark, landing, "b1.parquet", [(1, "hi there"), (2, "hi there")]
    )
    _ingest(spark, dedup, landing, ckpt)
    assert dedup.corpus().count() == 2


def test_min_tokens_gate(spark, tmp_path):
    dd = StreamingCorpusDedup(spark, str(tmp_path / "c2"), min_tokens=10)
    landing = str(tmp_path / "landing2")
    _write_batch(
        spark, landing, "b1.parquet", [(1, "too short"), (2, _BASE)]
    )
    stream = spark.readStream.schema(DOCS_SCHEMA).parquet(landing)
    dd.ingest_available(stream, str(tmp_path / "ckpt2"))
    assert [r["doc_id"] for r in dd.corpus().collect()] == [2]


def test_bandless_only_batch_then_normal_batch(spark, tmp_path, dedup):
    """A batch whose docs are all too short to shingle writes an EMPTY
    bands/batch=0 dir; the next batch's index read must survive that
    (schema inference over only-empty dirs would fail without the
    pinned read schema)."""
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, landing, "b1.parquet", [(1, "hi"), (2, "yo")])
    _ingest(spark, dedup, landing, ckpt)
    _write_batch(spark, landing, "b2.parquet", [(3, _BASE)])
    _ingest(spark, dedup, landing, ckpt)
    assert sorted(r["doc_id"] for r in dedup.corpus().collect()) == [1, 2, 3]


def test_transitive_near_dup_drops_with_its_component(spark, tmp_path, dedup):
    """A doc whose ONLY collision is with a same-batch doc that itself
    collides with the corpus must drop too (its component contains an
    index hit). The fixture's collision structure is asserted first so
    a constant change can't silently turn this into a vacuous test."""
    from sierradb_spark.functions.dedup_wide import wide_bands_for

    cut = 8
    C = " ".join(f"c{i}" for i in range(40))
    X = (
        " ".join(f"c{i}" for i in range(40 - cut))
        + " " + " ".join(f"x{i}" for i in range(cut))
    )
    Y = (
        " ".join(f"y{i}" for i in range(cut))
        + " " + " ".join(f"c{i}" for i in range(cut, 40 - cut))
        + " " + " ".join(f"x{i}" for i in range(cut))
    )

    def bands_of(text):
        df = spark.createDataFrame([(0, text)], DOCS_SCHEMA)
        return {
            (r["band_idx"], r["band_digest"])
            for r in wide_bands_for(df).collect()
        }

    bc, bx, by = bands_of(C), bands_of(X), bands_of(Y)
    assert bx & bc, "fixture broke: X no longer collides with C"
    assert by & bx, "fixture broke: Y no longer collides with X"
    assert not (by & bc), "fixture broke: Y collides with C directly"

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, landing, "b1.parquet", [(1, C)])
    _ingest(spark, dedup, landing, ckpt)
    _write_batch(spark, landing, "b2.parquet", [(2, X), (3, Y)])
    _ingest(spark, dedup, landing, ckpt)
    # X hit the index; Y's component contained X, so Y dropped with it.
    assert sorted(r["doc_id"] for r in dedup.corpus().collect()) == [1]


def test_single_batch_matches_batch_semantics(spark, tmp_path):
    """On one batch with an empty index, the streaming fold must agree
    exactly with the batch-mode rule (connected components over the
    band-collision graph, keep each component's min doc_id) computed
    independently here over a 60-doc corpus with several near-dup
    clusters."""
    import random

    from sierradb_spark.functions.dedup_wide import wide_bands_for
    from sierradb_spark.functions.pipeline import min_label_components

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(400)]
    docs = []
    base_texts = []
    for b in range(12):
        words = rng.sample(vocab, 30)
        base_texts.append(" ".join(words))
    for i in range(60):
        b = base_texts[i % 12]
        if i < 12:
            docs.append((i, b))  # originals
        elif i < 36:
            toks = b.split()
            j = rng.randrange(len(toks))
            toks[j] = f"m{i}"  # near-dup: one word changed
            docs.append((i, " ".join(toks)))
        else:
            docs.append((i, " ".join(rng.sample(vocab, 30))))  # fresh draws
    df = spark.createDataFrame(docs, DOCS_SCHEMA)

    # independent batch-mode computation
    bands = wide_bands_for(df)
    a, b_ = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b_,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_digest") == F.col("b.band_digest"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sym = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    comp = min_label_components(sym)
    in_graph_keep = {
        r["id"] for r in comp.where(F.col("id") == F.col("label")).collect()
    }
    graph_ids = {r["id"] for r in comp.collect()}
    all_ids = {d for d, _ in docs}
    expected = sorted(in_graph_keep | (all_ids - graph_ids))

    dd = StreamingCorpusDedup(spark, str(tmp_path / "xval"))
    dd.process_batch(df, 0)
    got = sorted(r["doc_id"] for r in dd.corpus().collect())
    assert got == expected
    # sanity: the fixture actually formed dup clusters
    assert len(expected) < 60


def test_index_compaction_preserves_dedup(spark, tmp_path, dedup):
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, landing, "b1.parquet", [(1, _BASE)])
    _ingest(spark, dedup, landing, ckpt)
    _write_batch(spark, landing, "b2.parquet", [(2, _UNIQ1)])
    _ingest(spark, dedup, landing, ckpt)
    dedup.compact_index()
    dirs = [
        d for d in os.listdir(dedup.bands_path) if d.startswith("batch=")
    ]
    assert len(dirs) == 1 and int(dirs[0].split("=")[1]) < 0  # one base dir
    # the folded index still blocks cross-batch near-dups...
    _write_batch(spark, landing, "b3.parquet", [(3, _NEAR), (4, _UNIQ2)])
    _ingest(spark, dedup, landing, ckpt)
    assert sorted(r["doc_id"] for r in dedup.corpus().collect()) == [1, 2, 4]
    # ...and compaction is idempotent
    dedup.compact_index()
    dedup.compact_index()
    assert sorted(r["doc_id"] for r in dedup.corpus().collect()) == [1, 2, 4]


def _mk_batch_df(spark, rows):
    return spark.createDataFrame(rows, DOCS_SCHEMA)


@pytest.mark.parametrize("ops_name", ["local", "object_store"])
def test_compaction_across_storage_backends(spark, tmp_path, ops_name):
    """r04 brief item 2: the index maintenance protocol runs against
    both storage shapes — POSIX (atomic rename) and the object-store
    emulation (prefix listing, copy-then-delete promote, NO rename) —
    and preserves dedup + idempotence identically on each."""
    from sierradb_spark.eventstore.commit_backend import (
        LocalDirOps,
        ObjectStoreDirOps,
    )

    ops = LocalDirOps() if ops_name == "local" else ObjectStoreDirOps()
    dd = StreamingCorpusDedup(spark, str(tmp_path / "c"), dir_ops=ops)
    # fold batches directly (the replay unit) — no streaming machinery
    dd.process_batch(_mk_batch_df(spark, [(1, _BASE)]), 0)
    dd.process_batch(_mk_batch_df(spark, [(2, _UNIQ1)]), 1)
    dd.compact_index()
    dirs = ops.list_subdirs(dd.bands_path)
    assert [d for d in dirs if d.startswith("batch=")] == ["batch=-1"]
    # the folded index still blocks cross-batch near-dups
    dd.process_batch(_mk_batch_df(spark, [(3, _NEAR), (4, _UNIQ2)]), 2)
    assert sorted(r["doc_id"] for r in dd.corpus().collect()) == [1, 2, 4]
    # idempotent refold under each backend
    dd.compact_index()
    dd.compact_index()
    assert sorted(r["doc_id"] for r in dd.corpus().collect()) == [1, 2, 4]


def test_object_store_promote_crash_window_is_duplicate_safe(spark, tmp_path):
    """A crash mid-promote on an object store leaves the fold partially
    copied NEXT TO the intact old dirs (no rename atomicity). The index
    consumer is a semi-join, so the duplicate/partial state must dedup
    exactly like the clean state — and the next compact_index heals it."""
    import shutil

    from sierradb_spark.eventstore.commit_backend import ObjectStoreDirOps

    class CrashyOps(ObjectStoreDirOps):
        crashed = False

        def promote(self, tmp_dir, final_dir):
            # copy HALF the objects, then "crash" (keep tmp + old dirs)
            keys = self._keys(tmp_dir)
            src_prefix = tmp_dir.rstrip("/") + "/"
            for key in keys[: max(1, len(keys) // 2)]:
                dest = os.path.join(final_dir, key[len(src_prefix):])
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                shutil.copyfile(key, dest)
            CrashyOps.crashed = True
            raise RuntimeError("simulated crash mid-promote")

    dd = StreamingCorpusDedup(spark, str(tmp_path / "c"), dir_ops=CrashyOps())
    dd.process_batch(_mk_batch_df(spark, [(1, _BASE)]), 0)
    dd.process_batch(_mk_batch_df(spark, [(2, _UNIQ1)]), 1)
    with pytest.raises(RuntimeError, match="simulated crash"):
        dd.compact_index()
    assert CrashyOps.crashed
    # recovery object: same layout, healthy ops
    from sierradb_spark.eventstore.commit_backend import ObjectStoreDirOps as Ok

    dd2 = StreamingCorpusDedup(spark, str(tmp_path / "c"), dir_ops=Ok())
    # the duplicate/partial index still blocks near-dups correctly
    dd2.process_batch(_mk_batch_df(spark, [(3, _NEAR), (4, _UNIQ2)]), 2)
    assert sorted(r["doc_id"] for r in dd2.corpus().collect()) == [1, 2, 4]
    # and the next fold heals to a single base dir
    dd2.compact_index()
    dirs = [
        d
        for d in Ok().list_subdirs(dd2.bands_path)
        if d.startswith("batch=")
    ]
    assert len(dirs) == 1 and int(dirs[0].split("=")[1]) < 0
    dd2.process_batch(_mk_batch_df(spark, [(5, _NEAR2), (6, _BASE)]), 3)
    assert sorted(r["doc_id"] for r in dd2.corpus().collect()) == [1, 2, 4]


def test_uri_out_dir_requires_explicit_dir_ops(spark):
    """ADVICE r04: a URI out_dir with the default driver-local ops
    would silently disable cross-batch dedup; it must raise instead."""
    with pytest.raises(ValueError, match="not a local path"):
        StreamingCorpusDedup(spark, "s3a://bucket/corpus")
    with pytest.raises(ValueError, match="not a local path"):
        StreamingCorpusDedup(spark, "hdfs://nn/corpus")


def test_compact_index_refuses_during_active_query(spark, tmp_path, dedup):
    """ADVICE r04: compaction concurrent with an active ingestion query
    is enforced (raises), not just documented — a folded
    not-yet-checkpointed batch would self-collide on replay."""
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, landing, "b1.parquet", [(1, _BASE)])
    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    q = dedup.start(stream, ckpt, available_now=False, trigger_interval="10 seconds")
    try:
        with pytest.raises(RuntimeError, match="must not run while"):
            dedup.compact_index()
    finally:
        q.stop()
    # after the query stops, compaction runs fine
    q.awaitTermination(30)
    dedup.compact_index()


def test_per_batch_job_count_has_no_pair_probe(spark, tmp_path, dedup):
    """r04 brief item 6 + r05 review: the empty-graph case falls out of
    the survivor computation itself — no pairs.limit(1).count()
    pre-probe job anywhere. Pins the per-batch Spark job count in BOTH
    regimes: a collision-bearing batch (one fewer job than with the
    probe) and a collision-free steady-state batch (the empty CC round
    replaces the probe's band self-join shuffle with two empty-input
    jobs). The counts are measured-at-HEAD constants with zero
    headroom: a reintroduced probe moves them by exactly +1, and any
    Spark/AQE upgrade that shifts stage materialization should update
    them consciously, not silently."""

    def jobs_for(name, batch_rows, batch_id):
        sc = spark.sparkContext
        sc.setJobGroup(name, "job-count probe")
        try:
            dedup.process_batch(_mk_batch_df(spark, batch_rows), batch_id)
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(name))

    collision = jobs_for(
        "corpus-collision", [(1, _BASE), (2, _NEAR), (3, _UNIQ1)], 0
    )
    assert collision <= 47, f"collision-batch jobs grew to {collision}"
    # steady state: index present, no collisions in the batch
    free = jobs_for("corpus-free", [(4, _UNIQ2)], 1)
    assert free <= 28, f"collision-free batch jobs grew to {free}"

"""Production-width sketch quality: the LSH candidate sets must contain
every true near-dup the exact baselines find (VERDICT r2 done-criterion)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sierradb_spark.operators import REGISTRY


def test_minhash_wide_lsh_covers_exact_near_dups(spark, sf_dir):
    row = REGISTRY.queries["minhash_wide_recall"].spark(spark, sf_dir).collect()[0]
    assert row["n_true"] > 0  # the audit is vacuous on a dup-free corpus
    assert row["n_true_covered"] == row["n_true"], (
        f"LSH missed {row['n_true'] - row['n_true_covered']} of "
        f"{row['n_true']} true near-dup pairs"
    )


def test_simhash64_bands_cover_hamming_radius(spark, sf_dir):
    """Pigeonhole check, empirically: every pair within Hamming distance 3
    of the full signature set appears in the band-join candidates."""
    sims = REGISTRY.queries["simhash64_signatures"].spark(spark, sf_dir)
    a, b = sims.alias("a"), sims.alias("b")
    chunk = lambda c, t: F.conv(  # noqa: E731
        F.substring(c, 1 + 4 * t, 4), 16, 10
    ).cast("long")
    ham = F.bit_count(chunk("a.simhash64", 0).bitwiseXOR(chunk("b.simhash64", 0)))
    for t in range(1, 4):
        ham = ham + F.bit_count(
            chunk("a.simhash64", t).bitwiseXOR(chunk("b.simhash64", t))
        )
    truth = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .withColumn("hamming", ham.cast("long"))
        .where(F.col("hamming") <= 3)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            "hamming",
        )
    )
    cand = REGISTRY.queries["simhash64_hamming_candidates"].spark(spark, sf_dir)
    t_rows = {(r["doc_a"], r["doc_b"], r["hamming"]) for r in truth.collect()}
    c_rows = {(r["doc_a"], r["doc_b"], r["hamming"]) for r in cand.collect()}
    assert t_rows, "no pairs within radius on this corpus — audit vacuous"
    assert t_rows == c_rows  # bands lose nothing and add nothing


def test_session_memos_are_isolated_per_sf_dir(spark):
    """The r7 session memos (banded signatures, candidate pairs, exact
    scored pairs, LPA labels, shingle sets) are keyed by (applicationId,
    sf_dir): asking the same session for two different scale factors
    must build and return SEPARATE pinned plans, and re-asking for the
    first must hit its own memo entry, not the second's. (The sf0.001
    and sf0.01 documents tables are content-identical 500-doc corpora,
    so result values cannot discriminate — the keying itself is the
    invariant under test.) A cross-contamination here would silently
    pass every single-sf test and fail only in a multi-sf session —
    exactly the shape of the driver's harness plus a user notebook."""
    from sierradb_spark.functions import dedup, dedup_wide, pipeline

    small, big = "/root/testdata/sf0.001", "/root/testdata/sf0.01"
    app = spark.sparkContext.applicationId

    bands_small = dedup_wide._wide_bands(spark, small)
    bands_big = dedup_wide._wide_bands(spark, big)
    assert bands_small is not bands_big  # separate builds per sf_dir
    assert dedup_wide._wide_bands(spark, small) is bands_small  # memo hit
    assert dedup_wide._wide_bands(spark, big) is bands_big
    assert (app, small) in dedup_wide._BANDS_MEMO
    assert (app, big) in dedup_wide._BANDS_MEMO

    # same invariant for the other memo families
    assert dedup_wide._wide_candidates_pinned(
        spark, small
    ) is not dedup_wide._wide_candidates_pinned(spark, big)
    assert pipeline._scored_near_dup_pairs(
        spark, small
    ) is not pipeline._scored_near_dup_pairs(spark, big)
    assert dedup._shingle_sets_pinned(
        spark, small
    ) is not dedup._shingle_sets_pinned(spark, big)

    # and each pinned plan still answers for ITS corpus (16 bands/doc
    # over the shingle-eligible docs of that dir)
    assert bands_small.count() == bands_big.count() == 8000


def test_memo_lifecycle_hooks(spark):
    """r8 (VERDICT r7 item 4 / ADVICE pipeline.py:220): the session
    memos pin localCheckpoint blocks for the application's lifetime, so
    a long-lived session on mutable data needs an escape hatch.
    clear_session_memos() must drop EVERY family; invalidate_sf_dir() must drop exactly one
    corpus's entries; and the next consumer after either must REBUILD
    (a fresh object) rather than serve the cleared plan."""
    from sierradb_spark.functions import dedup_wide
    from sierradb_spark.functions.memo import (
        clear_session_memos,
        invalidate_sf_dir,
        memo_families,
    )

    # Coverage contract: every memo family in the package registers
    # through functions.memo — a family added as a bare module-level
    # dict would silently escape the lifecycle hooks.
    assert set(memo_families()) == {
        "dedup.shingle_sets",
        "dedup.jaccard_pairs",
        "dedup_wide.bands",
        "dedup_wide.candidates",
        "dedup_wide.wide_labels",
        "pipeline.scored_pairs",
        "pipeline.labels",
        "bpe.merges",
        "bpe.encoded_vocab",
        "text.winnow_fps",
        "dedup_wide.simhash64",
        "classifier.lr_train",
    }

    small, big = "/root/testdata/sf0.001", "/root/testdata/sf0.01"
    app = spark.sparkContext.applicationId
    bands_small = dedup_wide._wide_bands(spark, small)
    dedup_wide._wide_bands(spark, big)

    # invalidate one corpus: its entry goes, the other survives warm
    dropped = invalidate_sf_dir(small)
    assert dropped >= 1
    assert (app, small) not in dedup_wide._BANDS_MEMO
    assert (app, big) in dedup_wide._BANDS_MEMO
    rebuilt = dedup_wide._wide_bands(spark, small)
    assert rebuilt is not bands_small  # stale plan NOT served
    assert rebuilt.count() == 8000  # and the rebuild is sound

    # clear everything: all families empty, next access rebuilds
    cleared = clear_session_memos()
    assert sum(cleared.values()) >= 2  # at least the two bands entries
    assert all(n == 0 for n in memo_families().values())
    assert dedup_wide._wide_bands(spark, small) is not rebuilt


def test_lr_train_memo(spark):
    """r12 (VERDICT r11 item 5): the LR trainer memoizes per
    (applicationId, sf_dir) — the second consumer in a session reuses
    the trained model and feature checkpoint instead of re-running the
    tokenize pass and the 8 GD rounds — and the memo obeys the shared
    lifecycle (invalidate_sf_dir drops it; the rebuild trains the SAME
    model, it being a pure function of the immutable corpus)."""
    from sierradb_spark.functions import classifier
    from sierradb_spark.functions.memo import invalidate_sf_dir

    small = "/root/testdata/sf0.001"
    app = spark.sparkContext.applicationId
    mo1, w1, ft1 = classifier._train(spark, small)
    mo2, w2, ft2 = classifier._train(spark, small)
    assert ft2 is ft1  # memo hit: the pinned checkpoint is reused
    assert w2 == w1 and mo2 == mo1
    assert (app, small) in classifier._LR_TRAIN_MEMO

    invalidate_sf_dir(small)
    assert (app, small) not in classifier._LR_TRAIN_MEMO
    mo3, w3, ft3 = classifier._train(spark, small)
    assert ft3 is not ft1  # stale checkpoint NOT served
    assert w3 == w1 and mo3 == mo1  # deterministic retrain


def test_lr_train_memo_hit_is_immutable(spark, sf_dir):
    """A memo hit hands every caller the cached weights: they must be an
    immutable sequence, or one caller's mutation would corrupt the model
    the next consumer scores with."""
    from sierradb_spark.functions import classifier

    _, w1, _ = classifier._train(spark, sf_dir)
    _, w2, _ = classifier._train(spark, sf_dir)  # memo hit
    assert isinstance(w2, tuple) and w2 == w1
    with pytest.raises(TypeError):
        w2[0] = 0.0


def test_memo_invalidation_releases_checkpoint_blocks(spark):
    """r10 (VERDICT r9 item 3): dropping a memo entry must free its
    localCheckpoint blocks from executor storage deterministically, not
    leave them to Python GC + the ContextCleaner (in a long-lived
    session cycling sf_dirs, dead blocks otherwise linger). Plain
    ``df.unpersist()`` is a no-op for checkpoint blocks — they belong
    to the internal RDD behind the LogicalRDD — so this pins the
    analyzed-plan route memo.release_checkpoint takes."""
    from sierradb_spark.functions import dedup_wide
    from sierradb_spark.functions.memo import invalidate_sf_dir

    sc = spark.sparkContext
    fake_sf = "/tmp/memo-unpersist-fake-sf"
    key = (sc.applicationId, fake_sf)
    df = (
        spark.range(0, 50_000)
        .selectExpr("id", "id * 2 as x")
        .localCheckpoint(eager=True)
    )
    rdd_id = df._jdf.queryExecution().analyzed().rdd().id()

    def cached_ids() -> set:
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    assert rdd_id in cached_ids()
    dedup_wide._BANDS_MEMO[key] = df
    assert invalidate_sf_dir(fake_sf) == 1
    assert key not in dedup_wide._BANDS_MEMO
    assert rdd_id not in cached_ids()  # blocks freed NOW, not at GC


def test_release_checkpoint_frees_blocks_and_persistence(spark):
    """release_checkpoint unpersists through SparkContext.unpersistRDD
    (RDD.unpersist logs a lineage WARN per locally checkpointed RDD):
    every released block loses its location and the RDD leaves the
    persistent-RDD map."""
    from sierradb_spark.functions import memo

    jsc = spark.sparkContext._jsc.sc()
    df = spark.range(0, 10_000, 1, 4).localCheckpoint(eager=True)
    [rdd] = memo._checkpoint_rdds(df)
    master, ids, nil = memo._block_ids(df)
    assert not master.getLocations(ids).contains(nil)
    assert jsc.getPersistentRDDs().contains(rdd.id())
    memo.release_checkpoint(df)
    locs = master.getLocations(ids)
    assert all(locs.apply(i).isEmpty() for i in range(locs.size()))
    assert not jsc.getPersistentRDDs().contains(rdd.id())


def test_memo_churn_does_not_leak_blocks(spark):
    """r10: the deterministic-release claim under REPETITION — a
    long-lived session cycling invalidate/rebuild on the same corpus
    must hold executor storage flat, not accumulate one dead
    checkpoint per cycle (pre-r10 behavior: dropped entries waited for
    Python GC + ContextCleaner, so N cycles could pin N generations of
    blocks). Five cycles, then assert the number of cached RDDs never
    grew beyond the steady-state count."""
    from sierradb_spark.functions import dedup_wide
    from sierradb_spark.functions.memo import invalidate_sf_dir

    sc = spark.sparkContext
    sf = "/root/testdata/sf0.001"

    def n_cached() -> int:
        return len(sc._jsc.sc().getRDDStorageInfo())

    dedup_wide._wide_bands(spark, sf).count()
    steady = n_cached()
    for _ in range(5):
        invalidate_sf_dir(sf)
        dedup_wide._wide_bands(spark, sf).count()
        assert n_cached() <= steady, (
            f"cached RDDs grew past steady-state {steady} under churn"
        )


def test_memo_hit_rebuilds_when_checkpoint_blocks_are_lost(spark, caplog):
    """A hit checks that every block of the entry's checkpoint still
    has a location. Blocks released behind the memo's back (what an
    executor loss does to the blocks it held) turn the hit into a
    logged drop and a rebuild with the same rows; a hit with live
    blocks serves the same object."""
    import logging

    from sierradb_spark.functions import dedup_wide

    sf = "/root/testdata/sf0.001"
    key = (spark.sparkContext.applicationId, sf)
    before = dedup_wide._wide_bands(spark, sf)
    assert dedup_wide._wide_bands(spark, sf) is before  # live blocks: hit

    before._jdf.queryExecution().analyzed().rdd().unpersist(False)
    with caplog.at_level(logging.WARNING, logger="sierradb_spark"):
        rebuilt = dedup_wide._wide_bands(spark, sf)
    assert rebuilt is not before
    assert rebuilt.count() == 8000
    assert dedup_wide._BANDS_MEMO.get(key) is rebuilt
    drops = [r for r in caplog.records if "dedup_wide.bands" in r.getMessage()]
    assert len(drops) == 1 and "lost" in drops[0].getMessage()


def test_every_memo_entry_is_rooted_at_live_checkpoint_blocks(spark, sf_dir):
    """The hit check reads an entry's blocks, so every DataFrame entry
    (and the feature checkpoint inside a trained LR model) must be
    rooted at checkpoint RDDs whose blocks all exist as soon as its
    builder returns. A lazy pin fails here: it has no blocks until its
    first action, and the check would drop it on every hit."""
    from sierradb_spark.functions import (
        bpe,
        classifier,
        dedup,
        dedup_wide,
        memo,
        pipeline,
        text,
    )

    builders = {
        "dedup.shingle_sets": dedup._shingle_sets_pinned,
        "dedup.jaccard_pairs": dedup._jaccard_pairs_base,
        "dedup_wide.bands": dedup_wide._wide_bands,
        "dedup_wide.candidates": dedup_wide._wide_candidates_pinned,
        "dedup_wide.wide_labels": dedup_wide.wide_near_dup_components,
        "dedup_wide.simhash64": dedup_wide._simhash64,
        "pipeline.scored_pairs": pipeline._scored_near_dup_pairs,
        "pipeline.labels": pipeline._near_dup_labels_pinned,
        "bpe.merges": bpe._learn_merges,
        "bpe.encoded_vocab": bpe._encoded_vocab,
        "text.winnow_fps": text.winnow_fps_df,
        "classifier.lr_train": classifier._train,
    }
    assert set(builders) == set(memo.memo_families())
    sc = spark.sparkContext
    key = (sc.applicationId, sf_dir)
    memo.clear_session_memos()
    for name, build in builders.items():
        build(spark, sf_dir)
        value = memo._FAMILIES[name][key]
        if name == "bpe.merges":
            assert isinstance(value, list)  # driver-side: no blocks
            continue
        df = value.ft if name == "classifier.lr_train" else value
        seq = df._jdf.queryExecution().analyzed().collectLeaves()
        leaves = [seq.apply(i) for i in range(seq.size())]
        assert leaves, name
        cached = {
            i.id(): i.numCachedPartitions()
            for i in sc._jsc.sc().getRDDStorageInfo()
        }
        for leaf in leaves:
            assert leaf.getClass().getSimpleName() == "LogicalRDD", name
            rdd = leaf.rdd()
            assert rdd.isCheckpointed(), f"{name}: lazy pin"
            assert cached.get(rdd.id()) == rdd.getNumPartitions(), (
                f"{name}: checkpoint blocks missing after the build"
            )

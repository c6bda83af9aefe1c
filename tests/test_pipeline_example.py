"""The end-to-end pipeline example must run and preserve its funnel
invariants (each stage only removes rows; export is complete + sharded)."""

from __future__ import annotations

import os

import pytest


@pytest.mark.slow  # r12 slow tier: full pipeline end-to-end run (~15 s)
def test_pretrain_pipeline_end_to_end(spark, sf_dir, tmp_path):
    from examples.pretrain_pipeline import run_pipeline

    out = str(tmp_path / "corpus")
    funnel = run_pipeline(spark, sf_dir, out)
    # '#'-prefixed keys are informational (e.g. downweighted-hub counts),
    # not funnel stages — only stage counts must shrink monotonically.
    ns = [v for k, v in funnel.items() if not k.startswith("#")]
    assert ns[0] > 0
    assert all(a >= b for a, b in zip(ns, ns[1:])), funnel  # monotone funnel
    assert ns[-1] > 0
    got = spark.read.parquet(out)
    assert got.count() == ns[-1]
    shards = {r["shard"] for r in got.select("shard").distinct().collect()}
    assert shards <= set(range(8)) and len(shards) > 1


def test_validate_invariants_healthy_store(spark, tmp_path):
    """The invariant checker (examples/validate_invariants.py — the
    validate_partition_sequences.rs analogue) reports zero problems on a
    healthy store and detects a forged heads-log divergence."""
    from examples.validate_invariants import validate
    from sierradb_spark.config import EngineConfig
    from sierradb_spark.eventstore import AppendRequest, EventStore

    store = EventStore(
        spark, str(tmp_path / "vs"), EngineConfig()
    )
    for b in range(2):
        store.append([AppendRequest(f"v-{i % 4}", f"E{b}") for i in range(12)])
    store.compact()
    store.append([AppendRequest("v-0", "tail")])
    problems = validate(store)
    assert problems == {k: 0 for k in problems}, problems


def test_union_find_labels_match_distributed_fixpoint(spark, sf_dir):
    """r11 opt: `_near_dup_labels_pinned` computes components with a
    driver-side union-find over the collected exact-baseline pair list
    (the family already holds the full comparison matrix driver-side).
    Its (id, label) set must equal the distributed min-label fixpoint
    the wide/LSH path still uses, run on the same symmetric edges —
    and also cover an adversarial chain where naive label-as-you-go
    (without root resolution) would split a component."""
    from pyspark.sql import functions as F

    from sierradb_spark.functions.pipeline import (
        _near_dup_labels_pinned,
        _scored_near_dup_pairs,
        min_label_components,
    )

    pairs = _scored_near_dup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    want = {(r[0], r[1]) for r in min_label_components(edges).collect()}
    got = {(r[0], r[1]) for r in _near_dup_labels_pinned(spark, sf_dir).collect()}
    assert got == want and len(got) > 0

    # Adversarial chain: unions arriving high-to-low with a late bridge —
    # (7,8) (5,6) (6,7) then (1,5): every node must land on label 1, and
    # a second component (2,3) keeps label 2. Exercises path compression
    # across already-merged trees, which the corpus graph may not.
    import sierradb_spark.functions.pipeline as pl

    class _FakePairs:
        def __init__(self, rows):
            self._rows = rows

        def select(self, *_):
            return self

        def collect(self):
            return self._rows

    orig = pl._scored_near_dup_pairs
    key_rows = [(7, 8), (5, 6), (6, 7), (1, 5), (2, 3)]
    try:
        pl._scored_near_dup_pairs = lambda s, d: _FakePairs(key_rows)
        pl._LABELS_MEMO.pop(
            (spark.sparkContext.applicationId, "/fake/chain"), None
        )
        out = {
            (r[0], r[1])
            for r in pl._near_dup_labels_pinned(spark, "/fake/chain").collect()
        }
    finally:
        pl._scored_near_dup_pairs = orig
        pl._LABELS_MEMO.pop(
            (spark.sparkContext.applicationId, "/fake/chain"), None
        )
    assert out == {(1, 1), (5, 1), (6, 1), (7, 1), (8, 1), (2, 2), (3, 2)}

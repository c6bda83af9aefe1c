"""EventStore — SierraDB capabilities on a partitioned Parquet event table.

Write path (mirrors the reference lifecycle, SURVEY §3.1):
request enrichment and validation (partition key/hash/id derivation,
``streaming.ingest.enrich_requests``) → serialized transaction
validation + gapless sequence assignment (the analogue of the
single-writer-thread-per-bucket discipline,
``crates/sierradb/src/writer_thread_pool.rs:120-150,560-645``) → one
append commit → watermark advance, all on the driver.

Read path: the entry point picks where a read runs. The row reads
the commands serve (EGET / ESCAN / EPSCAN via
:meth:`~EventStore.get_rows` / ``scan_rows`` / ``pscan_rows``, ESVER,
EPSEQ) run on the driver with pyarrow and start no Spark job — the
reference's reader-thread lookup (``reader_thread_pool.rs``, read path
``database.rs:127-207``, ``read.rs:663-697,1044-1068``): they read only
the target partition's manifest files (ESVER: a lookup in the heads
fold) and keep a running top-COUNT. Like the reference, which consults
the open segment's live index before the closed segments' indexes
(``LiveIndexSet``, writer_thread_pool.rs:43-54; database.rs:139-149),
a read filters the partition's live rows in memory: the decoded rows
of its events files below ``_TIER_BYTES`` (each EAPPEND's one-event
delta files), each read once. Only the larger files go through a
scanner that skips row groups by parquet stats. Driver memos make a
read on an unchanged store re-read nothing but the ``_commits`` listing
and the row groups it needs: the resolved HEAD state (keyed by that
listing), the heads fold (keyed by its heads files), the live rows
(keyed by each partition's small files) and the larger events files'
parsed footers. :meth:`get` /
:meth:`scan` / :meth:`pscan` stay lazy DataFrame queries with the same
partition pruning, handed only the target partition's files
(test_store_pruning pins this through ``inputFiles()``). Watermark
gating (``read.rs:460-496``) is implicit on both paths: only
manifest-committed files are read.

Commit protocol (plain-Parquet stand-in for Delta/Iceberg):
every append publishes ONE manifest file in ``_commits/`` via atomic
rename. A manifest names the event/heads data files added by the commit
and carries the full per-partition confirmed-watermark map. Readers
resolve the file set and watermarks from the latest manifest chain, so

- a crash mid-commit leaves only unreferenced (invisible) data files —
  readers can never observe events, heads, or watermarks from a commit
  that did not complete (the reference's confirmation-watermark
  visibility contract, docs/Watermarks.md, read.rs:460-496);
- events, stream heads, and watermarks move ATOMICALLY together, so
  ESVER can never report a version that ESCAN will not return
  (GetStreamVersion parity, sierradb-cluster/src/read.rs:1044-1068);
- there are no swap windows where a concurrent reader sees a missing
  directory or an empty watermark table.
Single WRITER per store (the reference's writer-thread discipline),
ENFORCED by the manifest chain: publishing commit N+1 is a
compare-and-swap on the commit number (os.link fails on collision), so
a racing second writer loses with :class:`ConcurrentWriteError` and its
staged files stay invisible. Readers are unrestricted. On a production
cluster, swap this module's manifest log for Delta/Iceberg commits —
the semantics are identical (docs/DELTA_EQUIVALENCE.md maps every
durability test onto the Delta protocol mechanism that carries it).

Scale notes (100 TB):
- Events are hive-partitioned by ``partition_id`` and sorted within
  files by (stream_id, stream_version): a stream scan reads only its
  partition's manifest files and skips row groups via min/max stats,
  replacing the reference's per-segment stream/partition indexes
  (SURVEY §2.4).
- The write path NEVER scans the events table. Current stream versions
  come from the heads log (O(streams touched since last compaction)),
  folded latest-wins on the driver by ONE pyarrow group_by
  (``_fold_heads``) that the append, ESVER, the heads-log rollover,
  compact and delete_streams share. The fold is memoized on the heads files: a
  commit adds one heads file, and only that file is read and folded
  into the memo (the reference's live index, ``LiveIndexSet``,
  writer_thread_pool.rs:43-54), so an append reads one heads file, not
  the whole log. Partition sequences come from the manifest's watermark
  map (O(partitions), driver-side). Append cost is O(batch) in the events
  table regardless of its size — the reference's headline design goal
  (README.md:96-99).
- Every append is enriched by ONE function (``enrich_requests``, over
  an Arrow table of raw requests) and commits through ONE writer loop
  on the driver (``_assign_and_commit``): ``_validate_and_assign``
  validates and assigns the whole batch in one pass, pyarrow writes
  the accepted events (one file per partition), and one publish step
  (``_publish``) fsyncs and renames the staged files into place, then
  writes the heads file and the manifest. Requests that arrive as
  Python objects (EAPPEND / EMAPPEND, :meth:`append_transactions`)
  start no Spark job. A DataFrame batch (:meth:`append_df`, streaming
  ingest) is collected raw, once, with ``toArrow()`` — its one Spark
  job (perfbench traced ``append_df``).
- So the driver holds one batch plus the heads fold: cap streaming
  micro-batches with the source's ``maxOffsetsPerTrigger`` /
  ``maxFilesPerTrigger`` (docs/SCALE.md has the measured batch-size
  curve). Tiny state (watermarks, manifests) lives driver-side with
  zero Spark jobs to read it.
- Compaction seals, it does not rewrite the store (the reference's
  segment rollover, writer_thread_pool.rs:697-790): per partition it
  merges the delta files appended since the last compaction into one
  sorted segment with the appends' writer, on the driver, and carries
  every other segment untouched; a size-tiered rule (``_FAN_IN``,
  ``_SEAL_BYTES``) merges segments of one tier so their count stays
  bounded. Its cost follows the delta, not the store, and one merge
  holds at most the delta or ``_FAN_IN`` unsealed segments of one
  partition.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import secrets
import shutil
import time
import uuid as _uuid
from dataclasses import dataclass
from functools import cached_property
from typing import Callable, Iterable, Iterator, Literal, Optional, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sierradb_spark import ids
from sierradb_spark import versions as V
from sierradb_spark.config import DEFAULT_CONFIG, EngineConfig
from sierradb_spark.eventstore.commit_backend import fsync_dir, fsync_file
from sierradb_spark.eventstore.schema import (
    APPEND_RESULT_SCHEMA,
    EVENT_SCHEMA,
    HEADS_SCHEMA,
)

RangeValue = int | Literal["-", "+"]

_EVENT_COLS = [f.name for f in EVENT_SCHEMA.fields]
_RESULT_COLS = [f.name for f in APPEND_RESULT_SCHEMA.fields]
# HEADS_SCHEMA as the heads files store it.
_HEADS_ARROW = pa.schema(
    [
        ("partition_id", pa.int32()),
        ("stream_id", pa.string()),
        ("stream_version", pa.int64()),
        ("partition_sequence", pa.int64()),
    ]
)
# EVENT_SCHEMA as the driver append path builds it. ``timestamp`` is µs
# (the session reads ns parquet timestamps back as longs, nanosAsLong);
# ``partition_id`` is dropped at write: the hive directory carries it.
_EVENT_ARROW = pa.schema(
    [
        ("event_id", pa.string()),
        ("partition_key", pa.string()),
        ("partition_id", pa.int32()),
        ("partition_sequence", pa.int64()),
        ("stream_id", pa.string()),
        ("stream_version", pa.int64()),
        ("event_name", pa.string()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("timestamp_ns", pa.int64()),
        ("payload", pa.binary()),
        ("metadata", pa.binary()),
        ("transaction_id", pa.string()),
        ("confirmation_count", pa.int32()),
    ]
)
# The columns the reads filter on (ESCAN, EPSCAN, EGET's event and
# transaction lookups): the only ones the append writer keeps parquet
# min/max statistics for. A payload's min/max would cost about two
# payloads a file and could skip nothing.
_STATS_COLS = [
    "event_id",
    "stream_id",
    "stream_version",
    "partition_sequence",
    "transaction_id",
]
# The event columns the driver reads return. ``timestamp`` and
# ``confirmation_count`` are not read and ``partition_id`` comes from
# the hive directory, so Spark-written, compacted and pyarrow-written
# files all read alike.
_READ_ARROW = pa.schema(
    [
        f
        for f in _EVENT_ARROW
        if f.name not in ("partition_id", "timestamp", "confirmation_count")
    ]
)
# The Arrow types of the append path's result columns.
_ARROW_TYPES = {
    **{f.name: f.type for f in _EVENT_ARROW},
    "arrival": pa.int64(),
    "txn_id": pa.string(),
    "accepted": pa.bool_(),
    "error": pa.string(),
}
_RESULT_ARROW = pa.schema([(c, _ARROW_TYPES[c]) for c in _RESULT_COLS])
# The columns of an events file: the hive directory carries partition_id.
_FILE_ARROW = _EVENT_ARROW.remove(_EVENT_ARROW.get_field_index("partition_id"))
_PARQUET = ds.ParquetFileFormat()
_LOCAL_FS = pafs.LocalFileSystem()
# Rows per parquet row group of every events file: stream scans skip
# row groups by their stats, so a sealed segment holds many of them.
_ROW_GROUP_ROWS = 64 * 1024
# Segment policy of compact() (size-tiered, by file bytes): a segment is
# in tier ``floor(log_FAN_IN(bytes / _TIER_BYTES))`` (tier 0 below
# FAN_IN × _TIER_BYTES). A partition merges the _FAN_IN newest
# segments of a tier once it holds that many, so every event is
# rewritten O(log_FAN_IN(_SEAL_BYTES / _TIER_BYTES)) times; a segment of
# _SEAL_BYTES or more is sealed and never rewritten, which caps one
# merge's input at _FAN_IN × _SEAL_BYTES.
_FAN_IN = 4
_TIER_BYTES = 16 * 1024
_SEAL_BYTES = 64 * 1024 * 1024
# Files compaction and delete_streams write; every other events file is
# an append's delta file.
_SEGMENT_PREFIXES = ("compact-", "delete-")


@dataclass
class AppendRequest:
    """One event to append (EAPPEND; request/eappend.rs:49-58)."""

    stream_id: str
    event_name: str
    payload: bytes = b""
    metadata: bytes = b""
    expected_version: str = "any"
    event_id: str | None = None
    partition_key: str | None = None
    timestamp_ms: int | None = None


@dataclass
class AppendResult:
    accepted: bool
    error: str | None
    event_id: str | None
    partition_id: int
    partition_sequence: int | None
    stream_id: str
    stream_version: int | None


class VersionConflict(Exception):
    pass


class ConcurrentWriteError(Exception):
    """Another writer published the same manifest commit number first.

    The reference enforces one writer per bucket by construction (one
    writer thread owns it, writer_thread_pool.rs:56-186); here the
    manifest chain is the serialization point: commit N+1 only lands if
    N is still the head, so of two racing writers exactly one wins and
    the loser's data files stay unreferenced (invisible, swept later).
    """


class SnapshotExpiredError(Exception):
    """The requested ``as_of`` snapshot's manifest chain is no longer
    complete: compaction swept part of it past the retention window
    (Delta's "version not reconstructable after VACUUM"). Raised
    instead of silently returning a partial file set."""


@dataclass(frozen=True)
class _State:
    """Table state resolved from the manifest chain."""

    commit: int
    events_files: tuple[str, ...]
    heads_files: tuple[str, ...]
    watermarks: dict[int, int]  # partition_id -> confirmed_sequence
    # Ingest batch tokens already committed (streaming idempotence):
    # a replayed foreachBatch whose token is here is skipped whole.
    batch_tokens: frozenset[str] = frozenset()

    @cached_property
    def files_by_partition(self) -> dict[int, tuple[str, ...]]:
        """``events_files`` grouped by partition id, in manifest order:
        built once per state, on first use."""
        by_pid: dict[int, list[str]] = {}
        for rel in self.events_files:
            by_pid.setdefault(_partition_of(rel), []).append(rel)
        return {pid: tuple(rels) for pid, rels in by_pid.items()}


@dataclass(frozen=True)
class _LiveRows:
    """The decoded rows (``_READ_ARROW``) of one partition's events
    files below ``_TIER_BYTES``, in manifest order: an entry of the
    live-rows memo (:meth:`EventStore._live_rows`)."""

    files: tuple[str, ...]
    ends: tuple[int, ...]  # ends[i]: the rows of files[: i + 1]
    # One chunk per run; runs shrink geometrically (see ``extend``).
    rows: pa.Table

    @cached_property
    def known(self) -> frozenset[str]:
        return frozenset(self.files)

    def prefix(self, n: int) -> pa.Table:
        """The rows of ``files[:n]``."""
        return self.rows.slice(0, self.ends[n - 1] if n else 0)

    def extend(self, files: tuple[str, ...], tables: list[pa.Table]) -> "_LiveRows":
        """This entry plus ``files``, whose rows are ``tables``. The
        added rows become one run; while the run before the last is of
        no higher binary order of size than the last, the two are
        combined. So there are O(log rows) runs and each row is copied
        O(log rows) times, not once per extension."""
        ends = list(self.ends)
        for table in tables:
            ends.append((ends[-1] if ends else 0) + table.num_rows)
        runs = self.rows.to_batches()
        runs += pa.concat_tables(tables).combine_chunks().to_batches()
        while len(runs) > 1 and (
            runs[-2].num_rows.bit_length() <= runs[-1].num_rows.bit_length()
        ):
            runs[-2:] = pa.Table.from_batches(runs[-2:]).combine_chunks().to_batches()
        return _LiveRows(
            self.files + files, tuple(ends), pa.Table.from_batches(runs, _READ_ARROW)
        )


_NO_LIVE_ROWS = _LiveRows((), (), _READ_ARROW.empty_table())


def _partition_of(rel: str) -> int:
    """Partition id of a manifest-relative events file path
    (``partition_id=N/<file>``), for ``_State.files_by_partition``."""
    return int(rel.split(os.sep, 1)[0].partition("=")[2])


def _range_expr(col: str, start: RangeValue, end: RangeValue) -> pc.Expression:
    """``start <= col <= end`` as a pyarrow filter ("-"/"+" = open)."""
    cond = pc.scalar(True)
    if start != "-":
        cond = cond & (pc.field(col) >= int(start))
    if end != "+":
        cond = cond & (pc.field(col) <= int(end))
    return cond


def _cap_batch_tokens(tokens, cap: int = 1024) -> list[str]:
    """Bound the idempotence-token history carried by a base manifest,
    keeping the NUMERICALLY newest batch ids per query key.

    Tokens look like ``<query_key>-<batch_id>`` with a non-zero-padded
    decimal batch id; a plain lexical ``sorted(tokens)[-cap:]`` would
    (a) sort 'k-1000' before 'k-999' and (b) let one query key's tokens
    crowd out another's entirely — either way a replay of a *recent*
    batch whose token was evicted would double-append, silently breaking
    exactly-once. Round-robin newest-first across keys keeps the recent
    tail of EVERY query.
    """
    by_key: dict[str, list[tuple[int, str]]] = {}
    for t in tokens:
        key, _, suffix = t.rpartition("-")
        try:
            bid = int(suffix)
        except ValueError:
            key, bid = t, -1
        by_key.setdefault(key, []).append((bid, t))
    for lst in by_key.values():
        lst.sort(reverse=True)  # newest batch first
    kept: list[str] = []
    depth = 0
    # Iterate keys in SORTED order: dict order here follows set/dict
    # insertion built from a frozenset, which varies with string-hash
    # randomization — at the cap boundary that would make WHICH keys
    # keep their newest token nondeterministic across processes (and
    # base manifests non-reproducible).
    keys = sorted(by_key)
    while len(kept) < cap:
        progressed = False
        for key in keys:
            lst = by_key[key]
            if depth < len(lst):
                kept.append(lst[depth][1])
                progressed = True
                if len(kept) >= cap:
                    break
        if not progressed:
            break
        depth += 1
    return sorted(kept)


def _latest_heads(rows: pa.Table) -> pa.Table:
    """Max (stream_version, partition_sequence) per (partition_id,
    stream_id) of ``rows`` (heads or events), as a heads table."""
    return (
        rows.group_by(["partition_id", "stream_id"])
        .aggregate([("stream_version", "max"), ("partition_sequence", "max")])
        .select(
            [
                "partition_id",
                "stream_id",
                "stream_version_max",
                "partition_sequence_max",
            ]
        )
        .rename_columns(_HEADS_ARROW.names)
    )


def _zorder_key(stream_id: pa.ChunkedArray, sequence: pa.ChunkedArray) -> np.ndarray:
    """16+16-bit Morton interleave of (the first 16 bits of the md5 of
    ``stream_id``, ``sequence`` scaled over its own min..max to 16 bits):
    the z-order cluster key of :meth:`EventStore.compact`.

    Sorting a segment by ONE read pattern's key gives that pattern
    row-group skipping and leaves the other scanning every row group
    (a stream sort spreads every sequence range over ~all row groups).
    The z-curve keeps BOTH dimensions locally clustered: a narrow range
    on either key intersects a bounded fraction of row groups (the
    reference keeps per-segment indexes for all three read patterns,
    SURVEY §2.4; parquet stats + this sort order are the columnar
    equivalent). Each distinct stream is hashed once; the scaling is
    float64 division truncated, as Spark's ``seq * 65535 / max`` cast to
    long computes it."""
    streams = pc.dictionary_encode(stream_id.combine_chunks())
    s16 = np.array(
        [
            int.from_bytes(hashlib.md5(s.encode()).digest()[:2], "big")
            for s in streams.dictionary.to_pylist()
        ],
        dtype=np.int64,
    )[streams.indices.to_numpy()]
    seq = sequence.to_numpy()
    seq = seq - seq.min()
    q16 = ((seq * 65535).astype(np.float64) / max(int(seq.max()), 1)).astype(np.int64)
    z = np.zeros(len(seq), np.int64)
    for i in range(16):
        z |= ((s16 >> i) & 1) << (2 * i + 1) | ((q16 >> i) & 1) << (2 * i)
    return z


def _write_events_file(
    rows: pa.Table, path: str, order: Literal["stream", "zorder"] = "stream"
) -> None:
    """Write one partition's events (``_FILE_ARROW`` columns) to
    ``path``: the one events-file writer, of appends and compaction.

    ``order="stream"`` sorts by (stream_id, stream_version), so
    row-group stats make stream scans skip (the reference's per-segment
    stream index, SURVEY §2.4 X2); ``"zorder"`` sorts by
    :func:`_zorder_key`."""
    if order == "zorder":
        z = _zorder_key(rows["stream_id"], rows["partition_sequence"])
        rows = rows.take(np.lexsort((rows["partition_sequence"].to_numpy(), z)))
    else:
        rows = rows.sort_by([("stream_id", "ascending"), ("stream_version", "ascending")])
    pq.write_table(
        rows,
        path,
        row_group_size=_ROW_GROUP_ROWS,
        # Without the Arrow schema blob and dictionary pages a
        # one-event file is no larger than Spark's writer makes it;
        # min/max stats only for the columns reads filter on.
        store_schema=False,
        use_dictionary=False,
        write_statistics=_STATS_COLS,
    )


def _plan_merges(files: Sequence[tuple[str, int]]) -> tuple[list[str], list[list[str]]]:
    """Compaction's plan for one partition's events files ``(rel,
    bytes)``, in manifest order (oldest first): the files carried
    untouched and the groups of files each merged into one new segment.

    The delta files (every file not named ``compact-*`` / ``delete-*``)
    always form one new segment. Then, while some size tier holds
    ``_FAN_IN`` unsealed segments (the new one counted at its inputs'
    bytes), its ``_FAN_IN`` newest merge into one, lowest tier first; a
    merge can fill the tier above, so merges cascade. Sealed segments
    (``_SEAL_BYTES`` or more) are always carried."""
    # (files, bytes, new): segments, then the delta as one new segment.
    live: list[tuple[list[str], int, bool]] = []
    delta: list[str] = []
    delta_bytes = 0
    for rel, size in files:
        if os.path.basename(rel).startswith(_SEGMENT_PREFIXES):
            live.append(([rel], size, False))
        else:
            delta.append(rel)
            delta_bytes += size
    if delta:
        live.append((delta, delta_bytes, True))

    def tier(size: int) -> int:
        return int(math.log(max(size, _TIER_BYTES) / _TIER_BYTES, _FAN_IN))

    while True:
        tiers: dict[int, list[int]] = {}
        for i, (_, size, _) in enumerate(live):
            if size < _SEAL_BYTES:
                tiers.setdefault(tier(size), []).append(i)
        full = [t for t, members in tiers.items() if len(members) >= _FAN_IN]
        if not full:
            break
        merge = tiers[min(full)][-_FAN_IN:]
        merged = (
            [rel for i in merge for rel in live[i][0]],
            sum(live[i][1] for i in merge),
            True,
        )
        live = [e for i, e in enumerate(live) if i not in merge] + [merged]
    return (
        [files[0] for files, _, new in live if not new],
        [files for files, _, new in live if new],
    )


def _validate_and_assign(
    batch: pa.Table, heads: pa.Table, watermarks: dict[int, int]
) -> pa.Table:
    """Serialized validation + gapless assignment of one batch: the one
    assigner of every append path (:meth:`EventStore.append_transactions`
    and :meth:`EventStore.append_df` / streaming ingest alike).

    ``batch`` holds the request rows ``enrich_requests`` returns;
    ``heads`` are the current stream heads (at least those of the
    batch's streams) and ``watermarks`` the last assigned sequence per
    partition, both as of the previous commit. Transactions are
    processed in arrival order of their first request; a transaction is
    all-or-nothing (EMAPPEND, request/emappend.rs; database.rs:867-897
    validates the whole txn): one with an invalid request (the first
    reason in arrival order applies to all its requests) or spanning
    more than one partition is rejected whole without consuming
    sequences. Returns the per-request results (``_RESULT_ARROW``) in
    arrival order.

    One pass over column lists with one version map keyed by
    (partition_id, stream_id); a transaction's own increments live in a
    small overlay that is merged only when the whole transaction
    validates. Partitions are independent, so one pass over the batch
    is the per-partition writer loop of the reference
    (writer_thread_pool.rs:560-645) for every partition at once.
    """
    batch = batch.sort_by("arrival")
    versions = dict(
        zip(
            zip(heads["partition_id"].to_pylist(), heads["stream_id"].to_pylist()),
            heads["stream_version"].to_pylist(),
        )
    )
    seqs = dict(watermarks)
    pids = batch["partition_id"].to_pylist()
    sids = batch["stream_id"].to_pylist()
    expected = batch["expected_version"].to_pylist()
    errors = [r or None for r in batch["reject_reason"].to_pylist()]
    seq_out: list[int | None] = [None] * batch.num_rows
    ver_out: list[int | None] = [None] * batch.num_rows
    txns: dict[str, list[int]] = {}
    for i, txn_id in enumerate(batch["txn_id"].to_pylist()):
        txns.setdefault(txn_id, []).append(i)
    for rows in txns.values():
        error = next((errors[i] for i in rows if errors[i]), None)
        if error is None and len({pids[i] for i in rows}) > 1:
            error = "transaction spans multiple partitions"
        overlay: dict[tuple, int] = {}
        if error is None:
            for i in rows:
                key = (pids[i], sids[i])
                cur = overlay[key] if key in overlay else versions.get(key)
                if expected[i] != V.ANY:
                    gap = V.gap_from(V.parse_expected_version(expected[i]), cur)
                    if not gap.ok:
                        error = f"version conflict on {sids[i]}: {gap.kind} by {gap.by}"
                        break
                overlay[key] = ver_out[i] = V.next_version(cur)
        if error is not None:
            for i in rows:
                errors[i], ver_out[i] = error, None
            continue
        versions.update(overlay)
        for i in rows:
            seq_out[i] = seqs[pids[i]] = seqs.get(pids[i], -1) + 1
    assigned = {
        "accepted": pa.array([e is None for e in errors], pa.bool_()),
        "error": pa.array(errors, pa.string()),
        "partition_sequence": pa.array(seq_out, pa.int64()),
        "stream_version": pa.array(ver_out, pa.int64()),
    }
    return pa.table(
        {c: assigned[c] if c in assigned else batch[c] for c in _RESULT_COLS},
        schema=_RESULT_ARROW,
    )


class EventStore:
    """An append-only event table with SierraDB read/write semantics."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        config: EngineConfig = DEFAULT_CONFIG,
        commit_backend: "CommitBackend | None" = None,
    ) -> None:
        from sierradb_spark.eventstore.commit_backend import LinkCAS

        self.spark = spark
        self.path = path
        self.config = config
        # The CAS primitive the single-writer guarantee rests on; swap
        # for ConditionalPut (object stores) or a Delta/Iceberg-backed
        # implementation in production — see commit_backend.py.
        self.commit_backend = commit_backend or LinkCAS()
        self.events_path = os.path.join(path, "events")
        self.heads_path = os.path.join(path, "heads")
        self.commits_path = os.path.join(path, "_commits")
        self.staging_path = os.path.join(path, "_staging")
        for p in (self.events_path, self.heads_path, self.commits_path):
            os.makedirs(p, exist_ok=True)
        # Manifests are immutable once renamed into place: cache parses.
        self._manifest_cache: dict[str, dict] = {}
        # Driver memos, each keyed by immutable files (manifests, heads
        # files, events files) and replaced by one assignment, so a
        # racing thread can at worst recompute: the HEAD state by its
        # ``_commits`` listing (raw, then sorted), the heads fold by its
        # heads files, the parsed footers of events files of
        # ``_TIER_BYTES`` or more by file, and the decoded rows of the
        # smaller ones by partition (:meth:`_live_rows`).
        self._state_memo: tuple[list[str], list[str], _State] | None = None
        self._heads_memo: tuple[tuple[str, ...], pa.Table] | None = None
        self._fragments: dict[str, ds.ParquetFileFragment] = {}
        self._live: dict[int, _LiveRows] = {}

    # --- manifest log --------------------------------------------------------

    def _read_state(self, as_of: Optional[int] = None) -> _State:
        """Resolve table state from the manifest chain.

        A ``base`` manifest (written by compact()) supersedes everything
        before it; later manifests add files incrementally. This is the
        plain-file analogue of a Delta checkpoint + JSON commits; the
        listing is O(#commits since compaction).

        HEAD reads are memoized on the ``_commits`` listing: manifests
        are immutable once published, so an unchanged listing resolves
        to the memo's state, which is returned without touching a
        manifest. A raw listing equal to the memo's is the same set of
        names, so it returns before any sort; another raw listing with
        the same sorted ``*.json`` names returns the same state. A
        changed listing (a new commit, a base manifest, a swept one)
        resolves the chain again and drops the memoized footers and
        rows of events files that left it.

        ``as_of``: resolve the snapshot at that commit number instead of
        the latest — time travel over the immutable log (files are only
        ever removed by :meth:`compact`, so every post-compaction commit
        remains readable, exactly like Delta time travel bounded by
        VACUUM). Never memoized.
        """
        try:
            raw = os.listdir(self.commits_path)
        except FileNotFoundError:
            raw = []
        memo = self._state_memo
        if as_of is None and memo is not None and memo[0] == raw:
            return memo[2]
        names = sorted(n for n in raw if n.endswith(".json"))
        if as_of is not None:
            listed = names
            head = int(listed[-1].split(".")[0]) if listed else 0
            if as_of > head:
                raise ValueError(
                    f"as_of={as_of} exceeds the head commit {head}; "
                    "time travel only resolves committed snapshots"
                )
            if as_of >= 1 and f"{as_of:020d}.json" not in listed:
                # The commit existed once (it is below the head) but its
                # manifest is gone: snapshot swept. Resolving the floor
                # instead would silently hand back a DIFFERENT commit's
                # state.
                raise SnapshotExpiredError(
                    f"snapshot as_of={as_of} has no surviving manifest; it "
                    "was compacted away (increase compact()'s retain_seconds "
                    "to keep older snapshots readable)"
                )
            names = [n for n in names if int(n.split(".")[0]) <= as_of]
            if (
                not names
                and listed
                and int(listed[0].split(".")[0]) != 1
            ):
                # The chain's surviving head starts past commit 1 and
                # as_of is below all of it: the snapshot was compacted
                # away, not "empty table". (as_of=0 on an uncompacted
                # chain is the legitimate empty pre-first-commit state.)
                raise SnapshotExpiredError(
                    f"snapshot as_of={as_of} predates the oldest surviving "
                    "manifest; it was compacted away (increase compact()'s "
                    "retain_seconds to keep older snapshots readable)"
                )
            return self._resolve(names, as_of)
        if memo is not None and memo[1] == names:
            self._state_memo = (raw, names, memo[2])
            return memo[2]
        state = self._resolve(names, None)
        live = set(state.events_files)
        self._fragments = {
            rel: frag for rel, frag in self._fragments.items() if rel in live
        }
        self._live = {
            pid: rows
            for pid, rows in self._live.items()
            if live.issuperset(rows.files)
        }
        self._state_memo = (raw, names, state)
        return state

    def _resolve(self, names: list[str], as_of: Optional[int]) -> _State:
        """The state of the chain of manifests ``names`` (sorted), from
        its last base manifest on."""
        if not names:
            return _State(0, (), (), {})
        manifests = [self._load_manifest(n) for n in names]
        start = 0
        for i in range(len(manifests) - 1, -1, -1):
            if manifests[i].get("base"):
                start = i
                break
        # A resolvable snapshot must begin at a base manifest or at the
        # very first commit, AND run gapless from there: a retention
        # sweep with skewed manifest mtimes can unlink an interior
        # commit while retaining its neighbors, and folding across that
        # hole would silently drop the missing commit's files — wrong
        # data, which must be an error instead.
        chain = [m["commit"] for m in manifests[start:]]
        contiguous = chain == list(range(chain[0], chain[0] + len(chain)))
        if not (
            (manifests[start].get("base") or manifests[start]["commit"] == 1)
            and contiguous
        ):
            raise SnapshotExpiredError(
                f"snapshot as_of={as_of} is not reconstructable: the manifest "
                "chain is truncated or gapped below it (increase compact()'s "
                "retain_seconds to keep older snapshots readable)"
            )
        events: list[str] = []
        heads: list[str] = []
        tokens: set[str] = set()
        for m in manifests[start:]:
            events.extend(m.get("events_add", ()))
            if m.get("heads_base"):
                # This commit folded the heads log: its heads file
                # supersedes everything before it (heads-log rollover).
                heads = list(m.get("heads_add", ()))
            else:
                heads.extend(m.get("heads_add", ()))
            # Base manifests carry the chain's token history forward
            # (bounded — see compact()); incremental ones carry their own.
            tokens.update(m.get("batch_tokens_seen", ()))
            if m.get("batch_token"):
                tokens.add(m["batch_token"])
        wm = {int(k): int(v) for k, v in manifests[-1]["watermarks"].items()}
        return _State(
            manifests[-1]["commit"],
            tuple(events),
            tuple(heads),
            wm,
            frozenset(tokens),
        )

    def _load_manifest(self, name: str) -> dict:
        """Read-through cache for manifest JSONs (immutable once their
        rename lands, so cache entries never invalidate)."""
        m = self._manifest_cache.get(name)
        if m is None:
            with open(os.path.join(self.commits_path, name)) as f:
                m = json.load(f)
            self._manifest_cache[name] = m
        return m

    def _wm(self) -> dict[int, int]:
        """Per-partition confirmed watermarks — driver-side dict, zero
        Spark jobs (the table is tiny by construction: ≤ num_partitions
        entries, carried inline in each manifest)."""
        return self._read_state().watermarks

    def _write_manifest(self, manifest: dict) -> None:
        """Publish a manifest with compare-and-swap semantics.

        Publishing commit N+1 succeeds only if no other writer got there
        first — the manifest chain is a CAS on the commit number. The
        primitive itself (create-iff-absent) is the pluggable
        :class:`~sierradb_spark.eventstore.commit_backend.CommitBackend`
        (POSIX hard-link by default; object-store conditional PUT for
        the production swap). Raises :class:`ConcurrentWriteError` on
        loss; the loser's staged data files remain unreferenced and
        invisible.
        """
        name = f"{manifest['commit']:020d}.json"
        payload = json.dumps(manifest).encode()
        if not self.commit_backend.publish(  # the commit point
            os.path.join(self.commits_path, name), payload
        ):
            raise ConcurrentWriteError(
                f"manifest {manifest['commit']} already published by another "
                "writer; this store instance lost the commit race"
            )

    # --- table views ---------------------------------------------------------

    def commits(self) -> list[int]:
        """Commit numbers currently resolvable (time-travel targets).

        Each listed commit is a consistent snapshot — events + heads +
        watermarks — usable via ``events(as_of=...)``. A retention sweep
        whose age cutoff straddles the superseded chain can retain
        manifests whose prefix is gone (commit 3 survives, commit 1
        didn't); those are NOT resolvable (``_read_state`` would raise
        SnapshotExpiredError) and are excluded here, so this listing and
        ``stats()['commits_resolvable']`` never overreport the window.
        """
        try:
            names = sorted(
                n for n in os.listdir(self.commits_path) if n.endswith(".json")
            )
        except FileNotFoundError:
            return []
        nums = [int(n.split(".")[0]) for n in names]
        if not nums:
            return []
        # Resolvable iff the chain up to c starts at commit 1 or at a
        # base at/below c AND runs gapless from that start — the same
        # rule _read_state enforces (an interior gap means the fold
        # would silently drop a commit's files).
        min_ok: Optional[int] = 1 if nums[0] == 1 else None
        if min_ok is None:
            for n in names:
                if self._load_manifest(n).get("base"):
                    min_ok = int(n.split(".")[0])
                    break
        if min_ok is None:
            return []
        # Walk the chain: a gap ends a resolvable run, but a BASE above
        # the gap starts a new one (the base needs nothing below it) —
        # exactly how _read_state resolves. Commits between a gap and
        # the next base are the unreconstructable ones.
        out: list[int] = []
        expected: Optional[int] = min_ok
        for n in names:
            c = int(n.split(".")[0])
            if c < min_ok:
                continue
            if expected is not None and c == expected:
                out.append(c)
                expected = c + 1
            elif self._load_manifest(n).get("base"):
                out.append(c)  # restart at the base
                expected = c + 1
            else:
                expected = None  # gapped, wait for the next base
        return out

    def stats(self) -> dict:
        """Table observability snapshot — driver-side file/manifest
        arithmetic, zero Spark jobs (the INFO-command analogue: the
        reference reports per-database segment/partition counters over
        RESP3; here the manifest chain already carries them).

        Keys: ``commit`` (head commit number), ``commits_resolvable``
        (time-travel window size), ``events_files`` / ``events_bytes``,
        ``heads_files``, ``partitions_touched`` (hive dirs referenced),
        ``confirmed_sequences`` (per-partition watermark map), and
        ``total_events`` (sum of watermarks + per-partition counts —
        exact because sequences are gapless from 0).
        """
        state = self._read_state()
        ev_bytes = 0
        for rel in state.events_files:
            try:
                ev_bytes += os.path.getsize(os.path.join(self.events_path, rel))
            except OSError:
                pass
        wm = state.watermarks
        return {
            "commit": state.commit,
            "commits_resolvable": len(self.commits()),
            "events_files": len(state.events_files),
            "events_bytes": ev_bytes,
            "heads_files": len(state.heads_files),
            "partitions_touched": len(state.files_by_partition),
            "confirmed_sequences": dict(sorted(wm.items())),
            # gapless assignment: partition p holds exactly wm[p]+1 events
            "total_events": sum(s + 1 for s in wm.values()),
        }

    def events(self, as_of: Optional[int] = None) -> DataFrame:
        """The committed events DataFrame.

        File list comes from the manifest chain, so uncommitted staging
        or orphaned crash leftovers are never visible; hive partition
        dirs (``partition_id=N``) still drive partition pruning via
        ``basePath``. ``as_of`` reads the snapshot at that commit
        (time travel; valid back to the last compaction).
        """
        return self._events_for_state(self._read_state(as_of))

    def _events_for_state(
        self, state: _State, partitions: Optional[Iterable[int]] = None
    ) -> DataFrame:
        """Events DataFrame for an already-resolved state (single
        manifest-chain resolution per read API call — scan/get/pscan
        reuse the state they checked watermarks against).

        ``partitions``: hand the reader only the manifest files of these
        partition ids. Spark's file index lists every path it is given —
        as a Spark job with one task per file past
        ``parallelPartitionDiscovery.threshold`` (32) — so a point read
        given the whole table's file list costs O(table files) before
        partition pruning ever runs.
        """
        files = state.events_files
        if partitions is not None:
            by_pid = state.files_by_partition
            files = tuple(rel for p in partitions for rel in by_pid.get(int(p), ()))
        if not files:
            return self.spark.createDataFrame([], EVENT_SCHEMA)
        paths = [os.path.join(self.events_path, p) for p in files]
        return (
            self.spark.read.schema(EVENT_SCHEMA)
            .option("basePath", self.events_path)
            .parquet(*paths)
        )

    def changes(
        self, since: int, to: Optional[int] = None
    ) -> DataFrame:
        """Change feed: the events ADDED by commits in ``(since, to]`` —
        the Delta Change-Data-Feed analogue over the manifest chain
        (append-only table, so every change is an insert).

        A consumer that processed through commit N calls
        ``changes(N)`` to get exactly the events of commits N+1..head —
        the batch-pull counterpart of a Subscription (same commit
        granularity the subscription's delivery cursor acks at), for
        consumers that poll instead of streaming.

        Base manifests inside the range are SKIPPED: a compaction
        commit re-lists rewritten bytes but adds no events, so the feed
        never re-delivers across a compaction. Raises
        :class:`SnapshotExpiredError` when an incremental manifest in
        the range was swept (its adds can no longer be distinguished
        from the base's re-list) — increase ``compact(retain_seconds)``
        to keep a longer change-feed window.

        Scale: resolving the range is driver-side manifest arithmetic
        (no Spark jobs); the returned DataFrame scans only the named
        files — cost proportional to the change set, never the table.
        """
        try:
            names = sorted(
                n for n in os.listdir(self.commits_path) if n.endswith(".json")
            )
        except FileNotFoundError:
            names = []
        have = {int(n.split(".")[0]): n for n in names}
        head = max(have) if have else 0
        if to is None:
            to = head
        if since < 0:
            raise ValueError(f"since={since} must be >= 0 (0 = from genesis)")
        if to > head:
            raise ValueError(f"to={to} exceeds the head commit {head}")
        if since > to:
            raise ValueError(f"since={since} is past to={to}")
        files: list[str] = []
        for c in range(since + 1, to + 1):
            name = have.get(c)
            if name is None:
                raise SnapshotExpiredError(
                    f"change feed ({since}, {to}] is not reconstructable: "
                    f"commit {c}'s manifest was compacted away (increase "
                    "compact()'s retain_seconds to keep a longer change-feed "
                    "window)"
                )
            try:
                m = self._load_manifest(name)
            except FileNotFoundError:
                # Raced a concurrent compact(): the manifest was listed
                # but swept before we loaded it — same condition as the
                # missing-manifest branch above, same error.
                raise SnapshotExpiredError(
                    f"change feed ({since}, {to}] is not reconstructable: "
                    f"commit {c}'s manifest was compacted away while the "
                    "feed was being resolved (increase compact()'s "
                    "retain_seconds to keep a longer change-feed window)"
                )
            if m.get("base"):
                continue  # re-listed bytes, no new events
            files.extend(m.get("events_add", ()))
        if not files:
            return self.spark.createDataFrame([], EVENT_SCHEMA)
        return (
            self.spark.read.schema(EVENT_SCHEMA)
            .option("basePath", self.events_path)
            .parquet(*[os.path.join(self.events_path, f) for f in files])
        )

    def heads(self, as_of: Optional[int] = None) -> DataFrame:
        """The stream-heads log: latest (stream_version,
        partition_sequence) per stream as of each commit; read with
        latest-wins (max) per stream. Replaces the reference's live
        stream indexes (writer_thread_pool.rs:43-54) so the write path
        never scans the events table. Compacted by :meth:`compact`.
        ``as_of``: resolve at that commit (time travel).
        """
        state = self._read_state(as_of)
        if not state.heads_files:
            return self.spark.createDataFrame([], HEADS_SCHEMA)
        paths = [os.path.join(self.heads_path, p) for p in state.heads_files]
        return self.spark.read.schema(HEADS_SCHEMA).parquet(*paths)

    def _fold_heads(self, state: _State, extra: pa.Table | None = None) -> pa.Table:
        """The heads log of ``state`` folded latest-wins on the driver:
        max (stream_version, partition_sequence) per (partition_id,
        stream_id), plus the rows of ``extra`` (a batch's heads at
        rollover). The one heads source: every append, ESVER, the
        heads-log rollover, compact and delete_streams all read current
        stream heads through here (the reference's live index,
        writer_thread_pool.rs:43-54).

        Memoized on ``state.heads_files``. Heads files are immutable, so
        the same tuple folds to the same table; a tuple that extends the
        memo's (one heads file per commit since) reads only the added
        files and folds them into the memo's table, since a latest-wins
        max of maxima is the max. Any other tuple (after a rollover, a
        compaction or an ``as_of`` read) folds from scratch."""
        files = state.heads_files
        memo = self._heads_memo
        if memo is None or files[: len(memo[0])] != memo[0]:
            memo = ((), _latest_heads(_HEADS_ARROW.empty_table()))
        if memo[0] != files:
            added = self._read_heads(files[len(memo[0]) :])
            memo = (files, _latest_heads(pa.concat_tables([memo[1], added])))
            self._heads_memo = memo
        heads = memo[1]
        if extra is not None:
            heads = _latest_heads(pa.concat_tables([heads, extra.cast(_HEADS_ARROW)]))
        return heads

    def _read_heads(self, rels: Sequence[str]) -> pa.Table:
        """The rows of the heads files ``rels``: one pyarrow dataset,
        the only reader of heads files on the driver."""
        paths = [os.path.join(self.heads_path, rel) for rel in rels]
        return ds.dataset(paths, schema=_HEADS_ARROW, format="parquet").to_table()

    def watermarks(self, as_of: Optional[int] = None) -> DataFrame:
        """Per-partition confirmed watermark table (SURVEY §4.3) as a
        DataFrame (from the driver-side dict — no file scan).

        On Spark storage a committed append is quorum-durable, so the
        confirmed watermark equals the max partition_sequence at the
        last commit (docs/Watermarks.md semantics preserved: readers
        never see a sequence above it, and it only advances gaplessly
        because sequence assignment itself is gapless).
        """
        wm = self._read_state(as_of).watermarks
        return self.spark.createDataFrame(
            [(int(p), int(s)) for p, s in sorted(wm.items())],
            "partition_id int, confirmed_sequence long",
        )

    def register_views(self, prefix: str = "sierra_") -> list[str]:
        """Register the store's tables as session temp views so plain
        ``spark.sql`` works against them: ``<prefix>events``,
        ``<prefix>heads``, ``<prefix>watermarks``. Views capture the
        CURRENT committed snapshot (the manifest chain resolved now) —
        re-register after appends to see new commits, exactly like
        re-calling :meth:`events`. Returns the view names.
        """
        pairs = {
            f"{prefix}events": self.events(),
            f"{prefix}heads": self.heads(),
            f"{prefix}watermarks": self.watermarks(),
        }
        for name, df in pairs.items():
            df.createOrReplaceTempView(name)
        return list(pairs)

    def visible_events(self) -> DataFrame:
        """Events gated by the confirmation watermark (read.rs:460-496).

        With manifest commits every referenced event is at-or-below the
        manifest's watermark, so the gate is a map-side filter against a
        literal map — no join, no shuffle of the event table.
        """
        wm = self._wm()
        if not wm:
            return self.spark.createDataFrame([], EVENT_SCHEMA)
        return self.events().where(
            F.col("partition_sequence") <= self._wm_col(wm)
        )

    @staticmethod
    def _wm_col(wm: dict[int, int]):
        """confirmed_sequence for this row's partition, as a literal-map
        Column (−1 when the partition has no watermark). O(partitions)
        literals — fine for the reference's 2^16 cap; use a broadcast
        join instead if partition counts ever grow beyond that."""
        if not wm:
            return F.lit(-1).cast("long")
        pairs: list = []
        for pid, seq in wm.items():
            pairs.append(F.lit(int(pid)))
            pairs.append(F.lit(int(seq)))
        return F.coalesce(
            F.element_at(F.create_map(*pairs), F.col("partition_id").cast("int")),
            F.lit(-1),
        ).cast("long")

    # --- write path ----------------------------------------------------------

    def append(self, requests: Sequence[AppendRequest]) -> list[AppendResult]:
        """EAPPEND: each request is its own transaction."""
        return self.append_transactions([[r] for r in requests])

    def append_transaction(
        self, requests: Sequence[AppendRequest]
    ) -> list[AppendResult]:
        """EMAPPEND: all requests form one atomic transaction.

        All events must share one partition (request/emappend.rs;
        database.rs:867-897): we enforce a single partition_key.
        """
        keys = {
            r.partition_key or str(ids.partition_key_for_stream(r.stream_id))
            for r in requests
        }
        if len(keys) > 1:
            raise ValueError("EMAPPEND requires a single partition_key across events")
        return self.append_transactions([list(requests)])

    def append_transactions(
        self, transactions: Sequence[Sequence[AppendRequest]]
    ) -> list[AppendResult]:
        """Apply a batch of transactions in arrival order, on the driver.

        Like the reference's writer thread it is one local handoff: the
        requests are already Python objects, so no Spark job runs. Each
        transaction gets one txn id, flagged as an implicit commit when
        it holds one event (id.rs:75-89); the requests are enriched and
        validated by ``streaming.ingest.enrich_requests``, the one
        enrichment :meth:`append_df` runs too, then assigned, written
        and published by :meth:`_assign_and_commit`.

        A request that fails validation raises ``ValueError`` with its
        reason (the first one in arrival order) and nothing is
        committed. A transaction that resolves to more than one
        partition_id is rejected whole (single-partition invariant,
        database.rs:867-897) rather than split across partitions. A
        lost manifest CAS re-reads the state and re-drives the same
        requests, up to ``config.commit_retries`` times.
        """
        from sierradb_spark.streaming import ingest  # looked up per call

        rows = []
        for txn in transactions:
            txn_id = str(ids.set_uuid_flag(_uuid.uuid4(), len(txn) == 1))
            rows += [{**vars(r), "txn_id": txn_id} for r in txn]
        if not rows:
            return []
        batch = ingest.enrich_requests(
            pa.Table.from_pylist(rows, schema=ingest.REQUEST_COLUMNS), self.config
        )
        reasons = batch["reject_reason"].drop_null()
        if len(reasons):
            raise ValueError(reasons[0].as_py())
        result = self._assign_and_commit(batch, self._read_state())
        fields = list(AppendResult.__dataclass_fields__)
        return [AppendResult(**r) for r in result.select(fields).to_pylist()]

    def append_df(self, requests: DataFrame) -> DataFrame:
        """Batch append from a DataFrame of request rows (the connector
        path — sources/connectors.py): columns ``stream_id, event_name``
        plus optional payload/metadata/expected_version/timestamp_ms/
        partition_key/event_id/txn_id. The frame is collected once and
        enriched, validated and committed on the driver by
        :meth:`_apply_batch` (invalid requests are routed to rejected
        results, never exceptions). Returns the per-request result
        DataFrame, built from Arrow on the driver (no further Spark job
        to read).
        """
        return self._apply_batch(requests)

    def _apply_batch(
        self,
        requests: DataFrame,
        batch_token: str | None = None,
        pre_commit: "Callable[[DataFrame], None] | None" = None,
    ) -> DataFrame:
        """Enrich + validate + assign + commit one DataFrame batch of raw
        requests (``streaming.ingest.REQUEST_COLUMNS``; other columns are
        not collected). Returns the per-request results.

        The batch is collected once with ``toArrow()`` — the one Spark
        job of the append. Everything after runs on the driver over the
        collected rows: enrichment (``streaming.ingest.enrich_requests``,
        shared with :meth:`append_transactions`; ``arrival`` is the row
        order of the collect, and generated ids are drawn once), then
        assignment, the events write, the batch heads and every retry
        (:meth:`_assign_and_commit`). The driver therefore holds one
        batch plus the heads fold; streaming sources cap a micro-batch
        with ``maxOffsetsPerTrigger`` / ``maxFilesPerTrigger``.

        ``batch_token``: idempotence key for streaming replays. If the
        token is already in the manifest chain, the batch committed in a
        previous incarnation (crash landed between manifest-rename and
        checkpoint-commit) and is skipped whole, before the collect —
        the analogue of the reference's single-assignment writer thread,
        where a client retry cannot double-append
        (writer_thread_pool.rs:560-645), and of Delta's txn-id check.

        ``pre_commit``: optional callback invoked with the per-request
        result DataFrame AFTER validation/assignment but BEFORE the
        manifest commit. Side effects that must survive a
        crash-then-replay (the streaming dead-letter write: a replayed
        batch whose token is already in the chain is skipped above and
        never re-materializes its rejects) belong here — the callback
        must be replay-idempotent, because a lost CAS retry re-runs it
        with the recomputed result.
        """
        from sierradb_spark.streaming import ingest  # looked up per call

        state = self._read_state()
        if batch_token is not None and batch_token in state.batch_tokens:
            return self._result_frame(_RESULT_ARROW.empty_table())
        raw = requests.select(
            *[c for c in requests.columns if c in ingest.REQUEST_COLUMNS.names]
        ).toArrow()
        result = self._assign_and_commit(
            ingest.enrich_requests(raw, self.config),
            state,
            batch_token,
            pre_commit and (lambda r: pre_commit(self._result_frame(r))),
        )
        return self._result_frame(result)

    def _result_frame(self, result: pa.Table) -> DataFrame:
        """Per-request results as a DataFrame (an Arrow LocalRelation)."""
        return self.spark.createDataFrame(result, APPEND_RESULT_SCHEMA)

    def _assign_and_commit(
        self,
        batch: pa.Table,
        state: _State,
        batch_token: str | None = None,
        pre_commit: "Callable[[pa.Table], None] | None" = None,
    ) -> pa.Table:
        """Assign ``batch`` (request rows) on top of ``state`` and commit
        it: the one writer loop of every append. Returns the per-request
        results (``_RESULT_ARROW``, arrival order).

        Batch semantics == one group-commit of the reference
        (writer_thread_pool.rs:687-699). Each attempt validates against
        the heads fold of the batch's streams and the manifest
        watermarks (:func:`_validate_and_assign`), calls ``pre_commit``
        with the results, and writes and publishes the accepted events
        (:meth:`_commit_rows`). Losing the manifest CAS race does NOT
        fail the batch: the writer re-reads state and re-drives
        validation/assignment for the same rows, up to
        ``config.commit_retries`` times — the analogue of the
        reference's forward/retry loop when a write lands on a stale
        coordinator (write/execute.rs:19-68). Only after exhausting
        retries does :class:`ConcurrentWriteError` escape. A lost
        attempt's staged files stay unreferenced (invisible) and are
        swept by :meth:`compact`, identical to a crashed writer's
        leftovers. A retry that finds ``batch_token`` committed (by the
        racing writer replaying the same source) returns no results.
        """
        streams = pc.unique(batch["stream_id"])
        last_err: ConcurrentWriteError | None = None
        for attempt in range(max(1, self.config.commit_retries + 1)):
            if attempt:
                state = self._read_state()  # the chain moved: re-resolve
                if batch_token is not None and batch_token in state.batch_tokens:
                    return _RESULT_ARROW.empty_table()
            heads = self._fold_heads(state)
            heads = heads.filter(pc.is_in(heads["stream_id"], streams))
            result = _validate_and_assign(batch, heads, state.watermarks)
            try:
                if pre_commit is not None:
                    pre_commit(result)
                self._commit_rows(result, state, batch_token)
                return result
            except ConcurrentWriteError as e:
                last_err = e  # lost the CAS: re-assign from the new head
        raise last_err  # retries exhausted

    def _commit_rows(
        self, result: pa.Table, state: _State, batch_token: str | None = None
    ) -> None:
        """Stage the accepted events of ``result``, one file per
        partition (:func:`_write_events_file`), then publish them
        (:meth:`_publish`)."""
        token = secrets.token_hex(8)
        acc = result.filter(result["accepted"])
        derived = {
            "timestamp": pc.divide(acc["timestamp_ns"], 1000),  # integer µs
            "transaction_id": acc["txn_id"],
            # A manifest-committed write is quorum-durable by platform
            # guarantee; record the quorum the configured rf implies.
            "confirmation_count": pa.repeat(
                pa.scalar(self.config.write_quorum, pa.int32()), acc.num_rows
            ),
        }
        events = pa.table(
            {c: derived[c] if c in derived else acc[c] for c in _EVENT_ARROW.names}
        ).cast(_EVENT_ARROW)
        for pid in pc.unique(events["partition_id"]).to_pylist():
            part_dir = os.path.join(self.staging_path, token, f"partition_id={pid}")
            os.makedirs(part_dir)
            _write_events_file(
                events.filter(pc.equal(events["partition_id"], pid)).drop_columns(
                    ["partition_id"]
                ),
                os.path.join(part_dir, "part-0.parquet"),
            )
        self._publish(state, token, _latest_heads(events), batch_token)

    def _publish(
        self,
        state: _State,
        token: str,
        heads: pa.Table,
        batch_token: str | None = None,
    ) -> None:
        """Commit the events staged under ``_staging/<token>/`` on top
        of ``state``: events + heads + watermark advance, atomically.

        1. Staged files move into ``events/partition_id=N/``
           (:meth:`_place_staged`, fsynced).
        2. ``heads`` are the batch's per-stream heads; the heads
           file and the manifest are written driver-side, and the
           per-partition watermarks advance to the heads' maxima.
        3. The manifest publish is the commit point. A crash anywhere
           before it leaves only unreferenced files — invisible to every
           reader, subscription, and the next append (which reads state
           from manifests only). Orphans are swept by :meth:`compact`.
        """
        added = self._place_staged(os.path.join(self.staging_path, token), token)
        if not added:
            if batch_token is None:
                return  # nothing accepted; no commit needed
            # All-rejected streaming batch: publish an EMPTY manifest
            # carrying the idempotence token. Without it the token never
            # enters the chain, which (a) makes a replay re-run the full
            # validation pipeline instead of the fast skip, and (b)
            # breaks the dead-letter read contract — "token in chain"
            # is how read_dead_letters distinguishes a committed batch's
            # rejects from a crash orphan, and an all-rejected batch is
            # exactly the batch whose dead letters matter most.
            self._write_manifest(
                {
                    "commit": state.commit + 1,
                    "base": False,
                    "events_add": [],
                    "heads_add": [],
                    "heads_base": False,
                    "watermarks": {
                        str(p): int(s) for p, s in state.watermarks.items()
                    },
                    "batch_token": batch_token,
                }
            )
            return
        # Heads-log rollover (W8 for the heads log): every append reads
        # the whole heads log, so fold it into ONE file once enough
        # commits accumulate — per-batch cost stays O(batch + streams/
        # fold_interval) instead of growing with commit count, which is
        # what keeps sustained ingest flat between compactions.
        fold = len(state.heads_files) + 1 > self.config.heads_fold_threshold
        if fold:
            heads = self._fold_heads(state, extra=heads)
        heads_rel = f"heads-{state.commit + 1:012d}-{token}.parquet"
        self._write_heads_file(heads, os.path.join(self.heads_path, heads_rel))
        wm = dict(state.watermarks)
        per_pid = (
            heads.group_by("partition_id")
            .aggregate([("partition_sequence", "max")])
            .to_pydict()
        )
        for pid, seq in zip(per_pid["partition_id"], per_pid["partition_sequence_max"]):
            wm[pid] = max(wm.get(pid, -1), seq)
        manifest = {
            "commit": state.commit + 1,
            "base": False,
            "events_add": added,
            "heads_add": [heads_rel],
            "heads_base": fold,
            "watermarks": {str(p): int(s) for p, s in wm.items()},
        }
        if batch_token is not None:
            manifest["batch_token"] = batch_token
        self._write_manifest(manifest)

    def _place_staged(self, staging: str, prefix: str) -> list[str]:
        """Move the parquet files of a staged ``partition_id=N/`` tree
        into the live layout as ``partition_id=N/<prefix>-NNNN.parquet``
        and return those manifest-relative paths; the one placement
        step of every writer (append, compact, delete_streams).

        Readers don't follow directory listings (manifest-driven), so
        placement order is irrelevant for correctness; renames are
        same-fs and O(#files). Each file is fsynced before its rename
        and each touched directory after: a manifest that survives
        power loss must never reference data blocks that didn't.
        """
        added: list[str] = []
        touched_dirs: set[str] = set()
        for root, _dirs, files in os.walk(staging):
            part = os.path.basename(root)
            if not part.startswith("partition_id="):
                continue
            dst_dir = os.path.join(self.events_path, part)
            os.makedirs(dst_dir, exist_ok=True)
            for fn in sorted(files):
                if not fn.endswith(".parquet"):
                    continue
                rel = os.path.join(part, f"{prefix}-{len(added):04d}.parquet")
                src = os.path.join(root, fn)
                fsync_file(src)
                os.rename(src, os.path.join(self.events_path, rel))
                touched_dirs.add(dst_dir)
                added.append(rel)
        for d in touched_dirs:
            fsync_dir(d)
        shutil.rmtree(staging, ignore_errors=True)
        return added

    @staticmethod
    def _write_heads_file(heads: pa.Table, path: str) -> None:
        tmp = path + f".tmp-{secrets.token_hex(4)}"
        pq.write_table(heads.cast(_HEADS_ARROW), tmp)
        fsync_file(tmp)
        os.rename(tmp, path)
        fsync_dir(os.path.dirname(path))

    # --- read path -----------------------------------------------------------

    def _read_partition(
        self,
        state: _State,
        pid: int,
        filter: pc.Expression,
        order_key: str,
        descending: bool = False,
        count: int | None = None,
    ) -> pa.Table:
        """The events of partition ``pid`` in ``state`` that match
        ``filter``, ordered by ``order_key``, the first ``count`` only:
        the driver read behind EGET / ESCAN / EPSCAN, no Spark job.

        Only the partition's manifest files are read, in two parts. The
        rows of its files below ``_TIER_BYTES`` (each EAPPEND's delta
        files, small segments) come from the live-rows memo
        (:meth:`_live_rows`) and are filtered in memory, so they cost
        no file open per read. The larger files form one pyarrow
        dataset with an explicit schema (``_READ_ARROW``), built from
        memoized fragments (:meth:`_fragment`) so no footer is parsed
        twice; parquet stats skip row groups, or whole files, on
        ``filter``. The memo's matches and the scanned record batches
        stream through one running top-``count`` by the order key, so
        driver memory is O(count + the scanner's few read-ahead
        batches) beyond the memo; an unbounded read holds only its
        result. A partition with no watermark has no committed events:
        empty.
        """
        if count is not None and count < 0:
            raise ValueError(f"count must be >= 0, got {count}")
        order = [(order_key, "descending" if descending else "ascending")]
        kept: list[pa.RecordBatch] = []
        if state.watermarks.get(int(pid)) is not None:
            live, scanned = self._live_rows(state, pid)
            kept = live.filter(filter).to_batches()
            held = sum(batch.num_rows for batch in kept)
            dataset = ds.FileSystemDataset(
                [self._fragment(rel) for rel in scanned],
                schema=_READ_ARROW,
                format=_PARQUET,
                filesystem=_LOCAL_FS,
            )
            for batch in dataset.to_batches(filter=filter) if scanned else ():
                kept.append(batch)
                held += batch.num_rows
                if count is not None and held > count:
                    top = pa.Table.from_batches(kept).sort_by(order).slice(0, count)
                    kept, held = top.to_batches(), top.num_rows
        rows = pa.Table.from_batches(kept, schema=_READ_ARROW).sort_by(order)
        if count is not None:
            rows = rows.slice(0, count)
        return rows.add_column(
            2, "partition_id", pa.repeat(pa.scalar(pid, pa.int32()), rows.num_rows)
        )

    def _live_rows(self, state: _State, pid: int) -> tuple[pa.Table, list[str]]:
        """Partition ``pid``'s events files in ``state``, cut at
        ``_TIER_BYTES``: the rows of the smaller ones and the paths of
        the others, in manifest order. The analogue of the reference's
        live index, read before the closed segments' indexes
        (``LiveIndexSet``, writer_thread_pool.rs:43-54).

        The rows come from the live-rows memo: one :class:`_LiveRows`
        per partition. Each small file is read once: a file the memo
        holds is small, one with a memoized footer is not, and any
        other is sized by one stat. A state whose small files are the
        memo's, or a prefix of them (an ``as_of`` read), is served a
        slice of the memo; one whose small files extend the memo's
        reads only the added files; any other rebuilds. Only a read of
        the HEAD state stores the result, so an ``as_of`` read never
        replaces the HEAD memo; :meth:`_read_state` drops an entry once
        one of its files leaves the HEAD state. Events files are
        token-named and never rewritten, so a memo entry never goes
        stale."""
        entry = self._live.get(pid, _NO_LIVE_ROWS)
        small: list[str] = []
        large: list[str] = []
        for rel in state.files_by_partition.get(pid, ()):
            if rel in entry.known or (
                rel not in self._fragments
                and os.path.getsize(os.path.join(self.events_path, rel)) < _TIER_BYTES
            ):
                small.append(rel)
            else:
                large.append(rel)
        files = tuple(small)
        if entry.files[: len(files)] == files:
            return entry.prefix(len(files)), large
        if files[: len(entry.files)] != entry.files:
            entry = _NO_LIVE_ROWS
        added = files[len(entry.files) :]
        entry = entry.extend(added, self._read_rows(added))
        head = self._state_memo
        if head is not None and head[2] is state:
            self._live[pid] = entry
        return entry.rows, large

    def _read_rows(self, rels: Sequence[str]) -> list[pa.Table]:
        """The rows (``_READ_ARROW``) of each events file of ``rels``,
        read whole with no footer memoized: the live-rows memo's reader."""
        return [
            _PARQUET.make_fragment(
                os.path.abspath(os.path.join(self.events_path, rel)), _LOCAL_FS
            ).to_table(schema=_READ_ARROW)
            for rel in rels
        ]

    def _fragment(self, rel: str) -> ds.ParquetFileFragment:
        """The parquet fragment of events file ``rel`` with its footer
        parsed. Events files are token-named and never rewritten, so
        each footer is parsed once; :meth:`_read_state` drops the files
        that leave the HEAD state."""
        frag = self._fragments.get(rel)
        if frag is None:
            frag = _PARQUET.make_fragment(
                os.path.abspath(os.path.join(self.events_path, rel)), _LOCAL_FS
            )
            frag.ensure_complete_metadata()
            self._fragments[rel] = frag
        return frag

    def _event_partition(self, event_id: str) -> tuple[str, int]:
        """The canonical form of ``event_id`` and the partition its
        embedded hash names (id.rs:50-53).

        Canonicalized first: the stored column is the canonical
        lowercase-hyphenated form (the append path writes str(UUID)),
        so an uppercase / no-dash / urn:uuid: encoding of a REAL event
        must not silently miss on a raw string compare."""
        event_id = str(_uuid.UUID(str(event_id)))
        phash = ids.uuid_to_partition_hash(event_id)
        return event_id, ids.partition_id_for_hash(phash, self.config.num_partitions)

    def _stream_partition(self, stream_id: str, partition_key: str | None) -> int:
        """The partition a stream lives in: its explicit partition key's,
        else its default key's (routing invariant)."""
        pkey = partition_key or str(ids.partition_key_for_stream(stream_id))
        return ids.partition_id_for_hash(
            ids.uuid_to_partition_hash(pkey), self.config.num_partitions
        )

    def get_rows(self, event_id: str, as_of: Optional[int] = None) -> pa.Table:
        """EGET on the driver: :meth:`get`'s events (without
        ``timestamp`` and ``confirmation_count``) as an Arrow table,
        read by :meth:`_read_partition` with no Spark job — one read for
        the event's transaction id, one for the transaction's events."""
        event_id, pid = self._event_partition(event_id)
        state = self._read_state(as_of)
        hit = self._read_partition(
            state, pid, pc.field("event_id") == event_id, "partition_sequence"
        )
        if not hit.num_rows:
            return hit
        txn = pc.field("transaction_id") == hit["transaction_id"][0].as_py()
        return self._read_partition(state, pid, txn, "partition_sequence")

    def scan_rows(
        self,
        stream_id: str,
        start: RangeValue = "-",
        end: RangeValue = "+",
        count: int | None = None,
        direction: Literal["forward", "reverse"] = "forward",
        partition_key: str | None = None,
        as_of: Optional[int] = None,
    ) -> pa.Table:
        """ESCAN on the driver: :meth:`scan`'s rows (without
        ``timestamp`` and ``confirmation_count``) as an Arrow table,
        read by :meth:`_read_partition` with no Spark job."""
        return self._read_partition(
            self._read_state(as_of),
            self._stream_partition(stream_id, partition_key),
            (pc.field("stream_id") == stream_id)
            & _range_expr("stream_version", start, end),
            "stream_version",
            direction == "reverse",
            count,
        )

    def pscan_rows(
        self,
        partition_id: int,
        start: RangeValue = "-",
        end: RangeValue = "+",
        count: int | None = None,
        direction: Literal["forward", "reverse"] = "forward",
        as_of: Optional[int] = None,
    ) -> pa.Table:
        """EPSCAN on the driver: :meth:`pscan`'s rows (without
        ``timestamp`` and ``confirmation_count``) as an Arrow table,
        read by :meth:`_read_partition` with no Spark job."""
        return self._read_partition(
            self._read_state(as_of),
            int(partition_id),
            _range_expr("partition_sequence", start, end),
            "partition_sequence",
            direction == "reverse",
            count,
        )

    def get(self, event_id: str, as_of: Optional[int] = None) -> DataFrame:
        """EGET: committed events of the transaction containing event_id,
        as a lazy DataFrame (:meth:`get_rows` serves the same rows to a
        client on the driver).

        Partition pruned from the hash embedded in the UUID
        (id.rs:50-53; read path database.rs:127-207): the reader is
        handed only that partition's manifest files (pinned through
        ``inputFiles()`` by test_store_pruning), and parquet column
        stats skip row groups within them. Events are
        manifest-committed, hence already watermark-visible (§commit
        protocol above).

        ``as_of``: resolve against the snapshot at that commit — same
        time-travel contract as :meth:`events` (valid back to the last
        compaction; raises :class:`SnapshotExpiredError` beyond the
        ``compact(retain_seconds)`` retention window).

        Foreign/corrupt ids: an id whose embedded hash points at the
        wrong partition CANNOT name a stored event — the append path
        rejects any event_id that does not embed its partition_key's
        hash (the same validation the reference applies,
        database.rs:879-884), so "stored event_id embeds its partition's
        hash" is a table invariant and pruning by the embedded hash can
        never hide a real event. Such an id therefore returns EMPTY,
        exactly like any other unknown id (the reference's EGET
        not-found), rather than raising — the pruned single-partition
        scan is the not-found proof, not a shortcut past one. Pinned by
        test_eget_foreign_hash_id_is_clean_miss.
        """
        event_id, pid = self._event_partition(event_id)
        state = self._read_state(as_of)
        if state.watermarks.get(int(pid)) is None:
            return self.spark.createDataFrame([], EVENT_SCHEMA)
        part = self._events_for_state(state, [pid]).where(
            F.col("partition_id") == pid
        )
        target = part.where(F.col("event_id") == event_id).select("transaction_id")
        # EGET returns the whole transaction's events (database.rs:127-207).
        out = (
            part.join(F.broadcast(target), "transaction_id", "left_semi")
            .orderBy("partition_sequence")
        )
        return out.select(*_EVENT_COLS)

    def _range_filter(self, col: str, start: RangeValue, end: RangeValue) -> F.Column:
        cond = F.lit(True)
        if start != "-":
            cond = cond & (F.col(col) >= int(start))
        if end != "+":
            cond = cond & (F.col(col) <= int(end))
        return cond

    def scan(
        self,
        stream_id: str,
        start: RangeValue = "-",
        end: RangeValue = "+",
        count: int | None = None,
        direction: Literal["forward", "reverse"] = "forward",
        partition_key: str | None = None,
        as_of: Optional[int] = None,
    ) -> DataFrame:
        """ESCAN: version-range scan of one stream (request/escan.rs:105-162).

        Pruned to the stream's single partition (a stream lives entirely
        in one partition — routing invariant), ordered by stream_version,
        with an optional COUNT limit (read.rs:663-697). The watermark
        clamp (read.rs:671-674) is implicit: only manifest-committed
        files are readable.

        ``as_of``: scan the snapshot at that commit (time travel, valid
        back to the last compaction — see :meth:`events`). A lazy
        DataFrame; :meth:`scan_rows` serves the same rows on the driver.
        """
        pid = self._stream_partition(stream_id, partition_key)
        state = self._read_state(as_of)
        if state.watermarks.get(int(pid)) is None:
            return self.spark.createDataFrame([], EVENT_SCHEMA)
        df = (
            self._events_for_state(state, [pid])
            .where(F.col("partition_id") == pid)
            .where(F.col("stream_id") == stream_id)
            .where(self._range_filter("stream_version", start, end))
        )
        order = (
            F.col("stream_version").asc()
            if direction == "forward"
            else F.col("stream_version").desc()
        )
        df = df.orderBy(order)
        if count is not None:
            df = df.limit(count)
        return df

    def pscan(
        self,
        partition_id: int,
        start: RangeValue = "-",
        end: RangeValue = "+",
        count: int | None = None,
        direction: Literal["forward", "reverse"] = "forward",
        as_of: Optional[int] = None,
    ) -> DataFrame:
        """EPSCAN: sequence-range scan of one partition
        (request/epscan.rs:90-136). ``as_of`` scans the snapshot at that
        commit (time travel — see :meth:`events`). A lazy DataFrame;
        :meth:`pscan_rows` serves the same rows on the driver."""
        state = self._read_state(as_of)
        if state.watermarks.get(int(partition_id)) is None:
            return self.spark.createDataFrame([], EVENT_SCHEMA)
        df = (
            self._events_for_state(state, [partition_id])
            .where(F.col("partition_id") == partition_id)
            .where(self._range_filter("partition_sequence", start, end))
        )
        order = (
            F.col("partition_sequence").asc()
            if direction == "forward"
            else F.col("partition_sequence").desc()
        )
        df = df.orderBy(order)
        if count is not None:
            df = df.limit(count)
        return df

    def scan_batches(
        self,
        stream_id: str,
        start: RangeValue = "-",
        end: RangeValue = "+",
        batch_size: int | None = None,
        direction: Literal["forward", "reverse"] = "forward",
    ) -> Iterator[list[dict]]:
        """Batched iteration (R7): yield lists of ≤ batch_size events
        (dicts of :meth:`scan_rows`' columns), paginating by version
        cursor — the reference's ``next_batch(50)`` (iter.rs:491-568,
        DEFAULT_BATCH_SIZE sierradb-cluster/src/lib.rs:43).

        Each page is one :meth:`scan_rows` driver read (no Spark job)
        that keeps only its top batch_size rows, so the driver holds one
        page at a time — O(batch) memory for an arbitrarily long stream.
        """
        return self._pages(
            lambda lo, hi, n: self.scan_rows(stream_id, lo, hi, n, direction),
            "stream_version",
            start,
            end,
            batch_size,
            direction,
        )

    def pscan_batches(
        self,
        partition_id: int,
        start: RangeValue = "-",
        end: RangeValue = "+",
        batch_size: int | None = None,
        direction: Literal["forward", "reverse"] = "forward",
    ) -> Iterator[list[dict]]:
        """Batched partition iteration (R7 over EPSCAN, mirroring
        :meth:`scan_batches`): ≤ batch_size events per page, paginating
        by sequence cursor — the reference's partition iterator with
        ``next_batch`` (iter.rs:54-149,491-568)."""
        return self._pages(
            lambda lo, hi, n: self.pscan_rows(partition_id, lo, hi, n, direction),
            "partition_sequence",
            start,
            end,
            batch_size,
            direction,
        )

    def _pages(
        self,
        read: Callable[[RangeValue, RangeValue, int], pa.Table],
        key: str,
        lo: RangeValue,
        hi: RangeValue,
        batch_size: int | None,
        direction: str,
    ) -> Iterator[list[dict]]:
        """Pages of ``read(lo, hi, size)``, moving the ``key`` cursor
        past each page's last row until a short page."""
        size = batch_size or self.config.default_batch_size
        while True:
            rows = read(lo, hi, size).to_pylist()
            if rows:
                yield rows
            if len(rows) < size:
                return
            if direction == "forward":
                lo = rows[-1][key] + 1
            else:
                hi = rows[-1][key] - 1

    def compact(
        self,
        retain_seconds: float = 0.0,
        order: Literal["stream", "zorder"] = "stream",
    ) -> None:
        """Seal each partition's new files into a segment (W8; the
        reference seals a segment at a size limit and never rewrites it,
        writer_thread_pool.rs:697-790), on the driver with no Spark job.

        Appends leave one small delta file per partition per commit.
        For each partition with delta files, compaction merges them into
        one segment (:func:`_write_events_file`, the appends' writer);
        ``compact-*`` and ``delete-*`` segments are carried into the new
        base manifest untouched, except that a partition whose size tier
        fills up merges that tier's newest segments, and a sealed one is
        never rewritten (:func:`_plan_merges`). It then folds the heads
        log into one file, publishes a ``base`` manifest (supersedes the
        chain) and sweeps superseded and orphaned files. On Delta this
        is OPTIMIZE of the new files + checkpoint + VACUUM.

        Cost: O(delta + the tier merges due), never O(store); the driver
        holds one merge's rows at a time, one partition after another —
        at most the delta, or ``_FAN_IN`` segments below the seal size.

        ``order``: ``"stream"`` (default) sorts written segments by
        (stream_id, stream_version) — optimal ESCAN row-group skipping;
        ``"zorder"`` sorts by a Morton interleave of the stream hash and
        the scaled sequence (:func:`_zorder_key`), trading a little
        ESCAN locality for EPSCAN/sequence-replay row-group skipping —
        pick it when subscriptions/partition replays dominate the read
        mix.

        Reader safety: superseded *manifests* are removed first, so
        ``commits()`` never lists a snapshot whose files are gone even
        if the sweep crashes midway; then data files are removed, but
        only ones older than ``retain_seconds`` (Delta VACUUM's
        retention window) — a concurrent reader that resolved a
        pre-compact manifest keeps its files alive for that grace
        period. The default 0 is right for the single-process test rig;
        set it above your longest query time when readers run in other
        processes.
        """
        state = self._read_state()
        if not state.events_files:
            return
        token = secrets.token_hex(8)
        staging = os.path.join(self.staging_path, token)
        carried: list[str] = []
        for pid, rels in state.files_by_partition.items():
            keep, merges = _plan_merges(
                [(rel, os.path.getsize(os.path.join(self.events_path, rel))) for rel in rels]
            )
            carried += keep
            for i, group in enumerate(merges):
                part_dir = os.path.join(staging, f"partition_id={pid}")
                os.makedirs(part_dir, exist_ok=True)
                _write_events_file(
                    self._read_events_files(group),
                    os.path.join(part_dir, f"part-{i}.parquet"),
                    order,
                )
        added = self._place_staged(staging, f"compact-{token}")
        self._publish_base(
            state, token, carried + added, self._fold_heads(state), retain_seconds
        )

    def _read_events_files(self, rels: Sequence[str]) -> pa.Table:
        """All rows of the events files ``rels`` as ``_FILE_ARROW``, read
        as one pyarrow dataset over their memoized fragments
        (:meth:`_fragment`): pyarrow-written files and Spark-written ones
        (INT96 timestamps) alike."""
        return ds.FileSystemDataset(
            [self._fragment(rel) for rel in rels],
            schema=_FILE_ARROW,
            format=_PARQUET,
            filesystem=_LOCAL_FS,
        ).to_table()

    def _publish_base(
        self,
        state: _State,
        token: str,
        events_add: list[str],
        heads: pa.Table,
        retain_seconds: float,
    ) -> None:
        """Publish a ``base`` manifest naming exactly ``events_add`` and
        ``heads`` (written as one heads file), then sweep what it
        supersedes — the commit of :meth:`compact` and
        :meth:`delete_streams`."""
        heads_rel = f"heads-base-{state.commit + 1:012d}-{token}.parquet"
        self._write_heads_file(heads, os.path.join(self.heads_path, heads_rel))
        self._write_manifest(
            {
                "commit": state.commit + 1,
                "base": True,
                "events_add": events_add,
                "heads_add": [heads_rel],
                "watermarks": {str(p): int(s) for p, s in state.watermarks.items()},
                # Carry the chain's ingest-idempotence tokens forward
                # (capped: replays only ever race the recent tail, and
                # the cap keeps the numerically newest per query key —
                # see _cap_batch_tokens).
                "batch_tokens_seen": _cap_batch_tokens(state.batch_tokens),
            }
        )
        self._sweep_superseded(
            state.commit + 1, retain_seconds, set(events_add), {heads_rel}
        )

    def _sweep_superseded(
        self,
        base_commit: int,
        retain_seconds: float,
        keep_events: set[str],
        keep_heads: set[str],
    ) -> None:
        """Post-base-manifest cleanup, shared by :meth:`compact` and
        :meth:`delete_streams`.

        Superseded manifests FIRST: once they are gone, commits() can
        never list a snapshot whose files the sweep below removed —
        even if we crash between the two phases (Delta's
        checkpoint-after-VACUUM behavior). Manifests inside the
        retention window are RETAINED (not just their data files):
        a concurrent Subscription tails _commits/ and reads each
        manifest's event files, so unlinking a listed-but-unprocessed
        manifest (or its parquet) would fail the subscriber's query.
        """
        cutoff = time.time() - retain_seconds
        retained: list[dict] = []
        for fn in sorted(os.listdir(self.commits_path)):
            if not fn.endswith(".json") or int(fn.split(".")[0]) >= base_commit:
                continue
            full = os.path.join(self.commits_path, fn)
            if os.path.getmtime(full) <= cutoff:
                os.unlink(full)
            else:
                retained.append(self._load_manifest(fn))
        # Stale publish temp files (.NNN.json.tmp-x / .put-x) from a
        # writer that crashed between staging and link are invisible to
        # every reader (the listing filters on .json) but would
        # accumulate forever; sweep them past the retention window.
        for fn in os.listdir(self.commits_path):
            if fn.startswith("."):
                full = os.path.join(self.commits_path, fn)
                try:
                    if os.path.getmtime(full) <= cutoff:
                        os.unlink(full)
                except OSError:
                    pass
        # Then sweep data files no remaining manifest references —
        # superseded files AND crash orphans — honoring the retention
        # window for concurrent readers mid-query on the old snapshot.
        # Files named by a retained superseded manifest stay alive
        # regardless of age; the next compaction past the window
        # removes manifest and files together.
        for m in retained:
            keep_events.update(m.get("events_add", ()))
            keep_heads.update(m.get("heads_add", ()))
        for root, _dirs, files in os.walk(self.events_path):
            for fn in files:
                full = os.path.join(root, fn)
                rel = os.path.relpath(full, self.events_path)
                if rel not in keep_events and os.path.getmtime(full) <= cutoff:
                    os.unlink(full)
        for fn in os.listdir(self.heads_path):
            full = os.path.join(self.heads_path, fn)
            if (
                fn not in keep_heads
                and os.path.isfile(full)
                and os.path.getmtime(full) <= cutoff
            ):
                os.unlink(full)

    def delete_streams(
        self,
        stream_ids,
        mode: Literal["hard", "scrub"] = "hard",
        retain_seconds: float = 0.0,
    ) -> dict:
        """Right-to-be-forgotten pass: remove (or scrub) every event of
        the given streams from the table.

        The reference's RESP3 surface is append-only — it has no delete
        command (request.rs:49-63) — so this is the platform-side
        maintenance extension every regulated deployment bolts onto an
        immutable log, with the same publish discipline as
        :meth:`compact`: rewrite, publish a ``base`` manifest, sweep.

        - ``mode="hard"``: the streams' events and head rows vanish
          from every subsequent read (EGET/ESCAN/ESVER see a stream
          that never existed; a later append restarts it at version 0
          with ``expected_version='empty'`` satisfied). Remaining
          events keep their partition sequences — EPSCAN shows gaps at
          the deleted positions, exactly like a compacted-away Kafka
          offset; watermarks are carried unchanged.
        - ``mode="scrub"``: event positions, names, and versions stay
          (audit trail intact); ``payload`` and ``metadata`` are
          blanked. Use when downstream consumers depend on sequence
          continuity.

        Only the hive partitions that actually contain the streams are
        rewritten — every other partition's files carry over into the
        new base manifest untouched, so the cost is O(affected
        partitions), not O(table). Forgetting completes once the
        retention window lapses: older manifests/files inside
        ``retain_seconds`` still hold the data for in-flight readers
        (exactly Delta's VACUUM story — run with ``retain_seconds=0``
        or follow with a past-window :meth:`compact` for immediate
        physical erasure, verified by the test suite reading raw
        parquet bytes). Like compact, this is a single-maintainer
        operation: the manifest CAS will fail one of two concurrent
        maintainers rather than corrupt, and concurrent subscribers
        need a retention window covering their lag.

        Returns ``{"streams", "events_affected", "partitions_rewritten",
        "commit"}``.
        """
        if mode not in ("hard", "scrub"):
            raise ValueError(f"unknown delete mode {mode!r}")
        targets = list(dict.fromkeys(stream_ids))
        if not targets:
            raise ValueError("delete_streams needs at least one stream id")
        state = self._read_state()
        if not state.events_files:
            return {
                "streams": 0,
                "events_affected": 0,
                "partitions_rewritten": 0,
                "commit": state.commit,
            }
        ev = self._events_for_state(state)  # pinned to the state we publish against
        hit = F.col("stream_id").isin(*targets)
        probe = ev.where(hit).agg(
            F.count(F.lit(1)).alias("n"),
            F.collect_set("partition_id").alias("pids"),
        ).head()
        n_affected = int(probe["n"])
        if n_affected == 0:
            return {
                "streams": 0,
                "events_affected": 0,
                "partitions_rewritten": 0,
                "commit": state.commit,
            }
        affected = sorted(int(p) for p in probe["pids"])

        token = secrets.token_hex(8)
        staging = os.path.join(self.staging_path, token)
        part_scope = self._events_for_state(state, affected)
        if mode == "hard":
            new_df = part_scope.where(~hit)
        else:
            blank = F.lit(b"")
            new_df = part_scope.withColumn(
                "payload", F.when(hit, blank).otherwise(F.col("payload"))
            ).withColumn(
                "metadata", F.when(hit, blank).otherwise(F.col("metadata"))
            )
        (
            new_df.repartition(len(affected), "partition_id")
            .sortWithinPartitions("partition_id", "stream_id", "stream_version")
            .write.mode("overwrite")
            .partitionBy("partition_id")
            .parquet(staging)
        )
        added = self._place_staged(staging, f"delete-{token}")
        carried = [
            rel
            for pid, rels in state.files_by_partition.items()
            if pid not in affected
            for rel in rels
        ]

        heads = self._fold_heads(state)
        if mode == "hard":
            gone = pc.is_in(heads["stream_id"], pa.array(targets, pa.string()))
            heads = heads.filter(pc.invert(gone))
        self._publish_base(state, token, carried + added, heads, retain_seconds)
        return {
            "streams": len(targets),
            "events_affected": n_affected,
            "partitions_rewritten": len(affected),
            "commit": state.commit + 1,
        }

    def stream_version(
        self,
        stream_id: str,
        partition_key: str | None = None,
        as_of: Optional[int] = None,
    ) -> Optional[int]:
        """ESVER: latest version of a stream, None = empty
        (``ESVER stream [PARTITION_KEY u]``, request/esver.rs): streams
        appended under an explicit partition key live in that key's
        partition, so the lookup must accept the same key.

        Served on the driver from the heads log, never an events scan
        (GetStreamVersion parity, read.rs:1044-1068): a lookup in the
        memoized heads fold (:meth:`_fold_heads`), no Spark job and, on
        an unchanged store, no file read. Heads are manifest-committed
        together with the watermark advance, so this can never report a
        version that scan() would not return (watermark-gated by
        construction).
        """
        heads = self._fold_heads(self._read_state(as_of))
        hit = pc.and_(
            pc.equal(
                heads["partition_id"], self._stream_partition(stream_id, partition_key)
            ),
            pc.equal(heads["stream_id"], stream_id),
        )
        return pc.max(heads["stream_version"].filter(hit)).as_py()

    def partition_sequence(
        self, partition_id: int, as_of: Optional[int] = None
    ) -> Optional[int]:
        """EPSEQ: latest confirmed sequence of a partition
        (request/epseq.rs) — the manifest watermark, driver-side.
        ``as_of``: the watermark at that commit (time travel)."""
        return self._read_state(as_of).watermarks.get(int(partition_id))

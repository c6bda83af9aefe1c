"""EventStore — SierraDB capabilities on a partitioned Parquet event table.

Write path (mirrors the reference lifecycle, SURVEY §3.1):
request enrichment (partition key/hash/id derivation) → per-partition
serialized validation + gapless sequence assignment (the Spark-native
analogue of the single-writer-thread-per-bucket discipline,
``crates/sierradb/src/writer_thread_pool.rs:120-150,560-645``) → one
append commit → watermark advance.

Read path: EGET / ESCAN / EPSCAN / ESVER / EPSEQ as DataFrame queries
with partition pruning and watermark gating (``sierradb-cluster/src/
read.rs:460-496,663-697``). A point read (EGET / ESCAN / EPSCAN) hands
the parquet reader only the target partition's manifest files, so
building it lists O(partition files), never the whole table
(test_store_pruning pins this through ``inputFiles()``).

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
  (``_fold_heads``) that the append join (as an Arrow LocalRelation —
  no Spark job), the heads-log rollover, compact and delete_streams
  share; partition sequences come from the manifest's watermark map
  (O(partitions), driver-side). Append cost is O(batch) in the events
  table regardless of its size — the reference's headline design goal
  (README.md:96-99).
- The hot bulk-ingest path (no expected-version preconditions) is pure
  JVM: sequence/version assignment via two window functions over one
  hash(partition_id) exchange. The Arrow/pandas path is used only when
  optimistic-concurrency checks require per-partition serial replay.
- Fixed overhead per commit is ~4 Spark jobs; tiny state (watermarks,
  manifests) lives driver-side with zero Spark jobs to read it.
"""

from __future__ import annotations

import json
import os
import secrets
import shutil
import time
import uuid as _uuid
from dataclasses import dataclass
from typing import Callable, Iterable, Iterator, Literal, Optional, Sequence

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sierradb_spark import ids
from sierradb_spark import versions as V
from sierradb_spark.config import DEFAULT_CONFIG, EngineConfig
from sierradb_spark.eventstore.commit_backend import fsync_dir
from sierradb_spark.eventstore.schema import (
    APPEND_REQUEST_SCHEMA,
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


def _partition_of(rel: str) -> int:
    """Partition id of a manifest-relative events file path
    (``partition_id=N/<file>``): every selection of manifest files by
    partition goes through here."""
    return int(rel.split(os.sep, 1)[0].partition("=")[2])


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


def _validate_and_assign(pdf: pd.DataFrame) -> pd.DataFrame:
    """Serialized per-partition validation + assignment (slow path).

    Runs once per ``partition_id`` group (applyInPandas). Input carries
    ``cur_stream_version`` / ``cur_partition_sequence`` columns (heads
    as of the previous commit; NaN = empty) and ``reject_reason`` from
    request validation. Transactions are processed in arrival order; a
    transaction is all-or-nothing (EMAPPEND, request/emappend.rs;
    database.rs:867-897 validates the whole txn), and a transaction with
    any invalid request is rejected whole without consuming sequences.

    Pure pandas + the versions truth table — no Spark calls here; the
    sequential loop is the *semantic* serialization point the reference
    implements with one writer thread per bucket.
    """
    pdf = pdf.sort_values("arrival", kind="stable")
    cur_seq: Optional[int] = None
    seq_head = pdf["cur_partition_sequence"].dropna()
    if len(seq_head):
        cur_seq = int(seq_head.iloc[0])
    stream_heads: dict[str, Optional[int]] = {}
    for sid, ver in zip(pdf["stream_id"], pdf["cur_stream_version"]):
        if sid not in stream_heads:
            stream_heads[sid] = None if pd.isna(ver) else int(ver)

    out_rows = []

    def _reject(rows, error: str) -> None:
        for row in rows:
            out_rows.append(
                {
                    "arrival": row.arrival,
                    "txn_id": row.txn_id,
                    "accepted": False,
                    "error": error,
                    "event_id": row.event_id,
                    "partition_key": row.partition_key,
                    "partition_id": row.partition_id,
                    "partition_sequence": None,
                    "stream_id": row.stream_id,
                    "stream_version": None,
                    "event_name": row.event_name,
                    "timestamp_ns": row.timestamp_ns,
                    "payload": row.payload,
                    "metadata": row.metadata,
                }
            )

    for _, txn in pdf.groupby("txn_id", sort=False):
        rows = list(txn.itertuples(index=False))
        # Request-validation rejection is all-or-nothing per transaction
        # (database.rs:867-897 validates before any write).
        reasons = [
            r.reject_reason
            for r in rows
            if isinstance(r.reject_reason, str) and r.reject_reason
        ]
        if reasons:
            _reject(rows, reasons[0])
            continue
        # Validate the whole transaction against current state, tracking
        # in-txn version increments (a txn may append 2 events to one stream).
        txn_heads = dict(stream_heads)
        error = None
        planned = []
        for row in rows:
            cur = txn_heads.get(row.stream_id)
            expected = V.parse_expected_version(row.expected_version)
            gap = V.gap_from(expected, cur)
            if not gap.ok:
                error = f"version conflict on {row.stream_id}: {gap.kind} by {gap.by}"
                break
            new_version = V.next_version(cur)
            txn_heads[row.stream_id] = new_version
            planned.append((row, new_version))
        if error is None:
            stream_heads = txn_heads
            for row, new_version in planned:
                cur_seq = 0 if cur_seq is None else cur_seq + 1
                out_rows.append(
                    {
                        "arrival": row.arrival,
                        "txn_id": row.txn_id,
                        "accepted": True,
                        "error": None,
                        "event_id": row.event_id,
                        "partition_key": row.partition_key,
                        "partition_id": row.partition_id,
                        "partition_sequence": cur_seq,
                        "stream_id": row.stream_id,
                        "stream_version": new_version,
                        "event_name": row.event_name,
                        "timestamp_ns": row.timestamp_ns,
                        "payload": row.payload,
                        "metadata": row.metadata,
                    }
                )
        else:
            _reject(rows, error)
    return pd.DataFrame(out_rows, columns=_RESULT_COLS)


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

    # --- manifest log --------------------------------------------------------

    def _read_state(self, as_of: Optional[int] = None) -> _State:
        """Resolve table state from the manifest chain.

        A ``base`` manifest (written by compact()) supersedes everything
        before it; later manifests add files incrementally. This is the
        plain-file analogue of a Delta checkpoint + JSON commits; the
        listing is O(#commits since compaction).

        ``as_of``: resolve the snapshot at that commit number instead of
        the latest — time travel over the immutable log (files are only
        ever removed by :meth:`compact`, so every post-compaction commit
        remains readable, exactly like Delta time travel bounded by
        VACUUM).
        """
        try:
            names = sorted(
                n for n in os.listdir(self.commits_path) if n.endswith(".json")
            )
        except FileNotFoundError:
            names = []
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
        parts: set[int] = set()
        for rel in state.events_files:
            parts.add(_partition_of(rel))
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
            "partitions_touched": len(parts),
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
            keep = {int(p) for p in partitions}
            files = tuple(f for f in files if _partition_of(f) in keep)
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
        return self._heads_for_state(self._read_state(as_of))

    def _heads_for_state(self, state: _State) -> DataFrame:
        if not state.heads_files:
            # .where(lit(False)) makes the emptiness PROVABLE: a bare
            # createDataFrame([]) is RDD-backed (Scan ExistingRDD),
            # which Catalyst cannot fold, so the append path's heads
            # join still planned (and AQE ran) a broadcast-stage job
            # over the empty relation on every first append. The
            # always-false filter collapses to an empty LocalRelation
            # and the left join folds into a null projection — zero
            # jobs (r12).
            return self.spark.createDataFrame([], HEADS_SCHEMA).where(
                F.lit(False)
            )
        paths = [os.path.join(self.heads_path, p) for p in state.heads_files]
        return self.spark.read.schema(HEADS_SCHEMA).parquet(*paths)

    def _fold_heads(self, state: _State, extra: pa.Table | None = None) -> pa.Table:
        """The heads log of ``state`` folded latest-wins on the driver:
        max (stream_version, partition_sequence) per (partition_id,
        stream_id), plus the rows of ``extra`` (a batch's heads at
        rollover). The one fold of the write path: the append join,
        the heads-log rollover, compact and delete_streams all read
        current stream heads through here (the reference's live index,
        writer_thread_pool.rs:43-54)."""
        parts = [
            pq.read_table(os.path.join(self.heads_path, rel)).cast(_HEADS_ARROW)
            for rel in state.heads_files
        ]
        if extra is not None:
            parts.append(extra.cast(_HEADS_ARROW))
        folded = (
            pa.concat_tables(parts or [_HEADS_ARROW.empty_table()])
            .group_by(["partition_id", "stream_id"])
            .aggregate([("stream_version", "max"), ("partition_sequence", "max")])
        )
        return folded.select(
            [
                "partition_id",
                "stream_id",
                "stream_version_max",
                "partition_sequence_max",
            ]
        ).rename_columns(_HEADS_ARROW.names)

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
        """Apply a batch of transactions in arrival order.

        This is the same code path the streaming ingest uses per
        micro-batch (streaming/ingest.py); batch semantics == one
        group-commit of the reference (writer_thread_pool.rs:687-699).
        A transaction that resolves to more than one partition_id is
        rejected whole (single-partition invariant, database.rs:867-897)
        rather than split across partition groups.
        """
        rows = []
        arrival = 0
        now_ns = time.time_ns()
        for txn in transactions:
            txn_id = str(
                ids.set_uuid_flag(_uuid.uuid4(), len(txn) == 1)
            )  # implicit-commit flag for single-event txns (id.rs:75-89)
            txn_rows = []
            txn_pids = set()
            for r in txn:
                pkey = r.partition_key or str(ids.partition_key_for_stream(r.stream_id))
                phash = ids.uuid_to_partition_hash(pkey)
                pid = ids.partition_id_for_hash(phash, self.config.num_partitions)
                txn_pids.add(pid)
                # Canonicalize a caller-supplied id: the stored column
                # must hold the canonical lowercase-hyphenated form or
                # get()'s canonicalized lookup could never find it
                # (uppercase / no-dash / urn: encodings parse fine).
                if r.event_id:
                    try:
                        eid = str(_uuid.UUID(str(r.event_id)))
                    except ValueError:
                        raise ValueError(
                            f"event_id {r.event_id!r} is not a UUID"
                        )
                else:
                    eid = None
                eid = eid or str(
                    ids.uuid_v7_with_partition_hash(
                        phash,
                        timestamp_ms=(
                            r.timestamp_ms
                            if r.timestamp_ms is not None
                            else now_ns // 1_000_000
                        ),
                        rand12=secrets.randbits(12),
                        rand46=secrets.randbits(46),
                    )
                )
                if not ids.validate_event_id(eid, phash):
                    raise ValueError(
                        f"event_id {eid} does not embed partition hash {phash}"
                    )  # database.rs:880
                if not (1 <= len(r.stream_id) <= self.config.max_stream_id_len):
                    raise ValueError("stream_id must be 1-64 chars")  # lib.rs:26,36-50
                if len(r.event_name) > self.config.max_event_name_len:
                    raise ValueError("event_name too long")  # format.rs:150
                expected = V.parse_expected_version(r.expected_version)
                if self.config.strict_versioning and not V.is_strict_allowed(expected):
                    raise ValueError(
                        "strict versioning rejects 'any'/'exists'"
                    )  # eappend.rs:180-188
                txn_rows.append(
                    [
                        arrival,
                        txn_id,
                        r.stream_id,
                        r.event_name,
                        r.expected_version,
                        eid,
                        pkey,
                        pid,
                        (
                            r.timestamp_ms * 1_000_000  # ms→ns, eappend.rs:203-217
                            if r.timestamp_ms is not None
                            else now_ns
                        ),
                        r.payload,
                        r.metadata,
                        None,  # reject_reason
                    ]
                )
                arrival += 1
            if len(txn_pids) > 1:
                # Reject rather than raise: the batch may carry other
                # valid transactions (EMAPPEND single-partition rule).
                for tr in txn_rows:
                    tr[-1] = "transaction spans multiple partitions"
            rows.extend(tuple(tr) for tr in txn_rows)
        if not rows:
            return []
        # _apply_batch's precondition probe (a Spark job), answered from
        # the requests already on the driver.
        fast = not self.config.strict_versioning and all(
            r.expected_version in (None, "any") for txn in transactions for r in txn
        )
        batch = self.spark.createDataFrame(rows, APPEND_REQUEST_SCHEMA)
        result_df = self._apply_batch(batch, fast=fast)
        results = result_df.orderBy("arrival").collect()
        return [
            AppendResult(
                accepted=x["accepted"],
                error=x["error"],
                event_id=x["event_id"],
                partition_id=x["partition_id"],
                partition_sequence=x["partition_sequence"],
                stream_id=x["stream_id"],
                stream_version=x["stream_version"],
            )
            for x in results
        ]

    def append_df(self, requests: DataFrame) -> DataFrame:
        """Batch append from a DataFrame of request rows (the connector
        path — sources/connectors.py): columns ``stream_id, event_name``
        plus optional payload/metadata/expected_version/timestamp_ms/
        partition_key/event_id/txn_id. Enrichment and validation are
        JVM-side (streaming/ingest.py: invalid requests are routed to
        rejected results, never executor exceptions); returns the
        per-request result DataFrame.

        When the caller supplies no ``expected_version`` column (bulk
        ingest), assignment runs on the pure-JVM fast path — no Python
        in the hot loop at all.
        """
        from sierradb_spark.streaming.ingest import enrich_requests

        fast = (
            "expected_version" not in requests.columns
            and not self.config.strict_versioning
        )
        enriched = enrich_requests(requests, self.config)
        cols = [f.name for f in APPEND_REQUEST_SCHEMA.fields]
        return self._apply_batch(enriched.select(*cols), fast=fast)

    def _apply_batch(
        self,
        batch: DataFrame,
        fast: bool,
        batch_token: str | None = None,
        pre_commit: "Callable[[DataFrame], None] | None" = None,
    ) -> DataFrame:
        """Validate + assign + commit one batch. Returns per-request results.

        One localCheckpoint pins the batch (so the non-deterministic
        generated ids are evaluated exactly once); everything downstream
        — assignment, the events write, the heads aggregation — reuses
        those cached blocks. Current stream versions come from the heads
        log, never the events table: :meth:`_fold_heads` folds it on the
        driver and the batch joins it as an Arrow LocalRelation — no
        Spark job, O(streams since compaction), not O(table).

        ``batch_token``: idempotence key for streaming replays. If the
        token is already in the manifest chain, the batch committed in a
        previous incarnation (crash landed between manifest-rename and
        checkpoint-commit) and is skipped whole — the analogue of the
        reference's single-assignment writer thread, where a client
        retry cannot double-append (writer_thread_pool.rs:560-645), and
        of Delta's txn-id check.

        Losing the manifest CAS race does NOT fail the batch: the writer
        re-reads state and re-drives validation/assignment for the same
        (pinned) batch, up to ``config.commit_retries`` times — the
        analogue of the reference's forward/retry loop when a write
        lands on a stale coordinator (write/execute.rs:19-68). Only
        after exhausting retries does :class:`ConcurrentWriteError`
        escape. A lost attempt's staged files stay unreferenced
        (invisible) and are swept by :meth:`compact`, identical to a
        crashed writer's leftovers.

        ``pre_commit``: optional callback invoked with the pinned
        per-request result DataFrame AFTER validation/assignment but
        BEFORE the manifest commit. Side effects that must survive a
        crash-then-replay (the streaming dead-letter write: a replayed
        batch whose token is already in the chain takes the fast path
        above and never re-materializes its rejects) belong here — the
        callback must be replay-idempotent, because a lost CAS retry
        re-runs it with the recomputed result.
        """
        # ONE chain resolution serves both the replay fast path and the
        # first commit attempt (a second listing+fold per batch is pure
        # overhead); retry attempts re-read because a lost CAS means the
        # chain moved under us.
        state = self._read_state()
        if batch_token is not None:
            # Replay fast path: if this micro-batch's token is already in
            # the manifest chain (crash landed between manifest-rename
            # and checkpoint-commit), skip BEFORE materializing anything
            # — a replayed 100k-row batch must cost a manifest read, not
            # a full pipeline run. The retry-path re-check below still
            # guards the race where a concurrent writer replaying the
            # same source commits the token between here and our CAS.
            if batch_token in state.batch_tokens:
                return self.spark.createDataFrame([], APPEND_RESULT_SCHEMA)
        # Lazy pin: the checkpoint materializes inside the FIRST job that
        # consumes the batch (the precondition probe or the assignment
        # pass) instead of costing a job of its own — one fewer fixed
        # per-commit job on the hot ingest path. Once materialized, the
        # non-deterministic generated ids are frozen: every later
        # consumer (retry attempts after a lost CAS race included) reads
        # the same pinned blocks.
        batch = batch.localCheckpoint(eager=False)
        if not fast and not self.config.strict_versioning:
            # Common connector case: an expected_version column exists but
            # every row is 'any' (no preconditions anywhere). One cheap
            # limit(1) probe on the pinned batch upgrades it to the pure-
            # JVM path — the per-partition serial replay exists only to
            # order precondition checks, which such a batch doesn't have.
            has_precondition = (
                batch.where(
                    F.col("expected_version").isNotNull()
                    & (F.col("expected_version") != "any")
                )
                .limit(1)
                .count()
                > 0
            )
            fast = not has_precondition
        last_err: ConcurrentWriteError | None = None
        for _attempt in range(max(1, self.config.commit_retries + 1)):
            if _attempt > 0:
                state = self._read_state()  # the chain moved: re-resolve
                if batch_token is not None and batch_token in state.batch_tokens:
                    # Committed by the racing writer we just lost to,
                    # replaying the same source.
                    return self.spark.createDataFrame([], APPEND_RESULT_SCHEMA)
            # Same resolved state as the watermarks below: heads and
            # watermark base always reflect ONE commit. An Arrow
            # createDataFrame is a true LocalRelation with an exact size
            # (empty for an empty heads log, which folds the join away),
            # so autoBroadcastJoinThreshold picks broadcast or sort-merge
            # and a broadcast build collects locally — no Spark job.
            heads = self.spark.createDataFrame(
                self._fold_heads(state)
                .select(["partition_id", "stream_id", "stream_version"])
                .rename_columns(["partition_id", "stream_id", "cur_stream_version"])
            )
            enr = batch.join(heads, ["partition_id", "stream_id"], "left")
            base_seq = (
                self._wm_col(state.watermarks)
                if state.watermarks
                else F.lit(-1).cast("long")
            )
            if fast:
                # Pin the assignment once: the events write, the heads
                # aggregation, and the caller's inspection of the results
                # all reuse the same blocks instead of re-running the
                # join+window. Lazy pin (same trick as the batch pin
                # above): the FIRST consumer — the events write inside
                # _commit — materializes the blocks in its own pass, so
                # the assignment costs no standalone job. Everything
                # after reads the pinned blocks; recomputation of a
                # not-yet-cached partition is deterministic anyway
                # because the inputs are the pinned batch + the heads
                # log on disk.
                result = self._assign_fast(enr, base_seq).localCheckpoint(
                    eager=False
                )
            else:
                enr = enr.withColumn(
                    "cur_partition_sequence",
                    F.when(base_seq >= 0, base_seq).cast("long"),
                )
                # One group per partition: the Spark-native single-writer-
                # per-partition discipline. Shuffle size = batch size.
                result = (
                    enr.groupBy("partition_id")
                    .applyInPandas(
                        _validate_and_assign, schema=APPEND_RESULT_SCHEMA
                    )
                    # Lazy pin (see the fast path above): the events
                    # write materializes it; later consumers reuse the
                    # blocks.
                    .localCheckpoint(eager=False)
                )
            try:
                if pre_commit is not None:
                    pre_commit(result)
                self._commit(result.where(F.col("accepted")), state, batch_token)
                return result
            except ConcurrentWriteError as e:
                # Lost the CAS: another writer advanced the chain under
                # us. Versions/sequences we assigned may now be stale —
                # recompute everything from the new head and try again.
                last_err = e
                continue
        raise last_err  # retries exhausted

    @staticmethod
    def _assign_fast(enr: DataFrame, base_seq) -> DataFrame:
        """Pure-JVM gapless assignment for precondition-free batches.

        partition_sequence: a running count of VALID rows over
        hash(partition_id) — ONE exchange; stream_version: the same
        running count per (partition_id, stream_id), which Catalyst
        satisfies with a sort under the same exchange (hash(pid)
        clusters (pid, stream) too — no second shuffle; verified in
        tests/test_plans.py). Rejected requests (request validation)
        contribute 0 to both running counts and take NULL assignments,
        so they never consume sequences — row-for-row the same output
        as filtering them out before a row_number, but in ONE branch:
        the old valid/rejected union doubled the pinned result's
        partition count (and with it every downstream job's task count
        — the events write, the heads aggregation, the caller's count)
        and the plan Catalyst re-analyzes per batch.
        """
        ws = (
            Window.partitionBy("partition_id")
            .orderBy("arrival")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wv = (
            Window.partitionBy("partition_id", "stream_id")
            .orderBy("arrival")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        valid = F.col("reject_reason").isNull()
        vflag = F.when(valid, F.lit(1)).otherwise(F.lit(0))
        return (
            enr.withColumn(
                "partition_sequence",
                F.when(valid, base_seq + F.sum(vflag).over(ws)).cast("long"),
            )
            .withColumn(
                "stream_version",
                F.when(
                    valid,
                    F.coalesce(F.col("cur_stream_version"), F.lit(-1))
                    + F.sum(vflag).over(wv),
                ).cast("long"),
            )
            .withColumn("accepted", valid)
            .withColumn("error", F.col("reject_reason"))
            .select(*_RESULT_COLS)
        )

    def _commit(
        self, accepted: DataFrame, state: _State, batch_token: str | None = None
    ) -> None:
        """Write events + heads + watermark advance as one atomic commit.

        1. Events land in a staging dir (one Spark job), then move into
           ``events/partition_id=N/`` via same-filesystem renames.
        2. Per-stream heads + per-partition maxima come back to the
           driver in ONE small aggregation (O(streams in batch) rows);
           the heads file and the manifest are written driver-side.
        3. The manifest rename is the commit point. A crash anywhere
           before it leaves only unreferenced files — invisible to every
           reader, subscription, and the next append (which reads state
           from manifests only). Orphans are swept by :meth:`compact`.
        """
        token = secrets.token_hex(8)
        staging = os.path.join(self.staging_path, token)
        events = accepted.select(
            "event_id",
            "partition_key",
            "partition_id",
            "partition_sequence",
            "stream_id",
            "stream_version",
            "event_name",
            F.timestamp_micros((F.col("timestamp_ns") / 1000).cast("long")).alias(
                "timestamp"
            ),
            "timestamp_ns",
            "payload",
            "metadata",
            F.col("txn_id").alias("transaction_id"),
            # A manifest-committed write is quorum-durable by platform
            # guarantee; record the quorum the configured rf implies.
            F.lit(self.config.write_quorum).cast("int").alias("confirmation_count"),
        )
        # Sort within files by (stream_id, stream_version) so row-group
        # stats make stream scans skip (replaces the reference's
        # per-segment stream index, SURVEY §2.4 X2).
        (
            events.sortWithinPartitions("stream_id", "stream_version")
            .write.mode("overwrite")
            .partitionBy("partition_id")
            .parquet(staging)
        )
        # Move staged files into the live layout. Readers don't follow
        # directory listings (manifest-driven), so placement order is
        # irrelevant for correctness; renames are same-fs and O(#files).
        # Each file is fsynced before the manifest publishes (Spark's
        # executor writes don't fsync), and each touched directory after
        # its renames: a manifest that survives power loss must never
        # reference data blocks that didn't.
        added: list[str] = []
        touched_dirs: set[str] = set()
        i = 0
        for root, _dirs, files in os.walk(staging):
            part = os.path.basename(root)
            if not part.startswith("partition_id="):
                continue
            dst_dir = os.path.join(self.events_path, part)
            os.makedirs(dst_dir, exist_ok=True)
            for fn in sorted(files):
                if not fn.endswith(".parquet"):
                    continue
                rel = os.path.join(part, f"{token}-{i:04d}.parquet")
                dst = os.path.join(self.events_path, rel)
                src_f = os.path.join(root, fn)
                fd = os.open(src_f, os.O_RDONLY)
                try:
                    os.fsync(fd)
                finally:
                    os.close(fd)
                os.rename(src_f, dst)
                touched_dirs.add(dst_dir)
                added.append(rel)
                i += 1
        for d in touched_dirs:
            fsync_dir(d)
        shutil.rmtree(staging, ignore_errors=True)
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
        # One driver-bound aggregation: per-stream heads (for the heads
        # log) — per-partition watermarks are its per-pid maxima.
        heads = (
            accepted.groupBy("partition_id", "stream_id")
            .agg(
                F.max("stream_version").alias("stream_version"),
                F.max("partition_sequence").alias("partition_sequence"),
            )
            .toArrow()
        )
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

    @staticmethod
    def _write_heads_file(heads: pa.Table, path: str) -> None:
        tmp = path + f".tmp-{secrets.token_hex(4)}"
        pq.write_table(heads.cast(_HEADS_ARROW), tmp)
        fd = os.open(tmp, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)
        os.rename(tmp, path)
        fsync_dir(os.path.dirname(path))

    # --- read path -----------------------------------------------------------

    def get(self, event_id: str, as_of: Optional[int] = None) -> DataFrame:
        """EGET: committed events of the transaction containing event_id.

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
        # Canonicalize first: the stored column is the canonical
        # lowercase-hyphenated form (the append path writes str(UUID)),
        # so an uppercase / no-dash / urn:uuid: encoding of a REAL event
        # must not silently miss on a raw string compare.
        event_id = str(_uuid.UUID(str(event_id)))
        phash = ids.uuid_to_partition_hash(event_id)
        pid = ids.partition_id_for_hash(phash, self.config.num_partitions)
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
        back to the last compaction — see :meth:`events`).
        """
        pkey = partition_key or str(ids.partition_key_for_stream(stream_id))
        pid = ids.partition_id_for_hash(
            ids.uuid_to_partition_hash(pkey), self.config.num_partitions
        )
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
        commit (time travel — see :meth:`events`)."""
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
    ) -> Iterator[list]:
        """Batched iteration (R7): yield lists of ≤ batch_size events,
        paginating by version cursor — the reference's ``next_batch(50)``
        (iter.rs:491-568, DEFAULT_BATCH_SIZE sierradb-cluster/src/lib.rs:43).

        Each page is an independent pruned+limited Spark job, so the
        driver holds one page of rows at a time — O(batch) memory for an
        arbitrarily long stream.
        """
        size = batch_size or self.config.default_batch_size
        lo = None if start == "-" else int(start)
        hi = None if end == "+" else int(end)
        while True:
            rows = self.scan(
                stream_id,
                "-" if lo is None else lo,
                "+" if hi is None else hi,
                count=size,
                direction=direction,
            ).collect()
            if not rows:
                return
            yield rows
            if len(rows) < size:
                return
            if direction == "forward":
                lo = rows[-1]["stream_version"] + 1
            else:
                hi = rows[-1]["stream_version"] - 1

    def pscan_batches(
        self,
        partition_id: int,
        start: RangeValue = "-",
        end: RangeValue = "+",
        batch_size: int | None = None,
        direction: Literal["forward", "reverse"] = "forward",
    ) -> Iterator[list]:
        """Batched partition iteration (R7 over EPSCAN, mirroring
        :meth:`scan_batches`): ≤ batch_size events per page, paginating
        by sequence cursor — the reference's partition iterator with
        ``next_batch`` (iter.rs:54-149,491-568)."""
        size = batch_size or self.config.default_batch_size
        lo = None if start == "-" else int(start)
        hi = None if end == "+" else int(end)
        while True:
            rows = self.pscan(
                partition_id,
                "-" if lo is None else lo,
                "+" if hi is None else hi,
                count=size,
                direction=direction,
            ).collect()
            if not rows:
                return
            yield rows
            if len(rows) < size:
                return
            if direction == "forward":
                lo = rows[-1]["partition_sequence"] + 1
            else:
                hi = rows[-1]["partition_sequence"] - 1

    @staticmethod
    def _zorder_col() -> "F.Column":
        """16+16-bit Morton interleave of (md5-hash of stream_id,
        partition-scaled sequence) — the multi-dimensional cluster key.

        Sorting compacted files by ONE read pattern's key gives that
        pattern row-group skipping and leaves the other scanning every
        row group of the rewritten file (a compacted partition is one
        file, so EPSCAN cost would regress from O(range) to
        O(partition) under a pure stream sort). The z-curve keeps BOTH
        dimensions locally clustered: a narrow range on either key
        intersects a bounded fraction of row groups (the reference
        keeps per-segment indexes for all three read patterns,
        SURVEY §2.4; parquet stats + this sort order are the columnar
        equivalent). Pure Column bit algebra — whole-stage codegen.
        """
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
        return z

    def compact(
        self,
        target_files_per_partition: int = 1,
        retain_seconds: float = 0.0,
        order: Literal["stream", "zorder"] = "stream",
    ) -> None:
        """Segment-rollover/OPTIMIZE analog (W8; writer_thread_pool.rs:697-790).

        Streaming ingest leaves one small file per partition per
        micro-batch; compaction rewrites each hive partition into
        ``target_files_per_partition`` files sorted by (stream_id,
        stream_version), folds the heads log into one file, publishes a
        ``base`` manifest (supersedes the chain), and sweeps superseded
        + orphaned files. On Delta this is OPTIMIZE + ZORDER +
        checkpoint + VACUUM.

        ``order``: ``"stream"`` (default) sorts rewritten files by
        (stream_id, stream_version) — optimal ESCAN row-group skipping;
        ``"zorder"`` sorts by a Morton interleave of the stream hash and
        the scaled sequence (see :meth:`_zorder_col`), trading a little
        ESCAN locality for EPSCAN/sequence-replay row-group skipping on
        the same file — pick it when subscriptions/partition replays
        dominate the read mix.

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
        repartitioned = self.events().repartition(
            target_files_per_partition * self.config.num_partitions,
            "partition_id",
        )
        if order == "zorder":
            # Lead with the partition column: the dynamic-partition
            # writer requires rows clustered by partition_id and will
            # insert its OWN sort (discarding ours) unless our ordering
            # already starts with it. The z-key is projected away after
            # the sort; a projection adds no exchange, so the order
            # survives to the writer.
            sorted_df = (
                repartitioned.withColumn("__z", self._zorder_col())
                .sortWithinPartitions("partition_id", "__z")
                .drop("__z")
            )
        else:
            sorted_df = repartitioned.sortWithinPartitions(
                "partition_id", "stream_id", "stream_version"
            )
        (
            sorted_df.write.mode("overwrite")
            .partitionBy("partition_id")
            .parquet(staging)
        )
        added: list[str] = []
        i = 0
        for root, _dirs, files in os.walk(staging):
            part = os.path.basename(root)
            if not part.startswith("partition_id="):
                continue
            os.makedirs(os.path.join(self.events_path, part), exist_ok=True)
            for fn in sorted(files):
                if not fn.endswith(".parquet"):
                    continue
                rel = os.path.join(part, f"compact-{token}-{i:04d}.parquet")
                os.rename(os.path.join(root, fn), os.path.join(self.events_path, rel))
                added.append(rel)
                i += 1
        shutil.rmtree(staging, ignore_errors=True)
        heads_rel = f"heads-base-{state.commit + 1:012d}-{token}.parquet"
        self._write_heads_file(
            self._fold_heads(state), os.path.join(self.heads_path, heads_rel)
        )
        self._write_manifest(
            {
                "commit": state.commit + 1,
                "base": True,
                "events_add": added,
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
            state.commit + 1, retain_seconds, set(added), {heads_rel}
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
        added: list[str] = []
        i = 0
        for root, _dirs, files in os.walk(staging):
            part = os.path.basename(root)
            if not part.startswith("partition_id="):
                continue
            os.makedirs(os.path.join(self.events_path, part), exist_ok=True)
            for fn in sorted(files):
                if not fn.endswith(".parquet"):
                    continue
                rel = os.path.join(part, f"delete-{token}-{i:04d}.parquet")
                os.rename(os.path.join(root, fn), os.path.join(self.events_path, rel))
                added.append(rel)
                i += 1
        shutil.rmtree(staging, ignore_errors=True)
        carried = [f for f in state.events_files if _partition_of(f) not in affected]
        events_add = carried + added

        heads = self._fold_heads(state)
        if mode == "hard":
            gone = pc.is_in(heads["stream_id"], pa.array(targets, pa.string()))
            heads = heads.filter(pc.invert(gone))
        heads_rel = f"heads-base-{state.commit + 1:012d}-{token}.parquet"
        self._write_heads_file(heads, os.path.join(self.heads_path, heads_rel))
        self._write_manifest(
            {
                "commit": state.commit + 1,
                "base": True,
                "events_add": events_add,
                "heads_add": [heads_rel],
                "watermarks": {str(p): int(s) for p, s in state.watermarks.items()},
                "batch_tokens_seen": _cap_batch_tokens(state.batch_tokens),
            }
        )
        self._sweep_superseded(
            state.commit + 1, retain_seconds, set(events_add), {heads_rel}
        )
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

        Served from the heads log — O(heads files) with predicate
        pushdown, never an events scan (GetStreamVersion parity,
        read.rs:1044-1068). Heads are manifest-committed together with
        the watermark advance, so this can never report a version that
        scan() would not return (watermark-gated by construction).
        """
        pkey = partition_key or str(ids.partition_key_for_stream(stream_id))
        pid = ids.partition_id_for_hash(
            ids.uuid_to_partition_hash(pkey), self.config.num_partitions
        )
        state = self._read_state(as_of)
        if state.watermarks.get(int(pid)) is None:
            return None
        row = (
            self._heads_for_state(state)
            .where(F.col("partition_id") == pid)
            .where(F.col("stream_id") == stream_id)
            .agg(F.max("stream_version").alias("v"))
            .collect()[0]
        )
        return row["v"]

    def partition_sequence(
        self, partition_id: int, as_of: Optional[int] = None
    ) -> Optional[int]:
        """EPSEQ: latest confirmed sequence of a partition
        (request/epseq.rs) — the manifest watermark, driver-side.
        ``as_of``: the watermark at that commit (time travel)."""
        return self._read_state(as_of).watermarks.get(int(partition_id))

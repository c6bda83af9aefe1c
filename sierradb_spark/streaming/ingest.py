"""Structured Streaming ingest: the continuous write path, and the one
request enrichment every append runs.

The reference's server loop (RESP3 appends → writer thread pool group
commit, ``crates/sierradb/src/writer_thread_pool.rs:292-520,687-699``)
maps to a Structured Streaming query: a stream of append requests →
``foreachBatch`` → the same enrich/validate/assign/commit logic the
batch API uses (eventstore/store.py). One micro-batch == one group
commit; the trigger interval is the group-commit knob (reference
defaults: 5 ms / 50 events / 4 KB, ``config.rs:206-208``).

Scale design:
- Per-batch cost is O(batch) — the raw micro-batch is collected once
  with ``toArrow()``, then enriched and validated (:func:`enrich_requests`),
  assigned and committed on the driver against the memoized heads fold.
  Append throughput is independent of table size (the reference's
  headline design goal, README.md:96-99).
- Exactly-once: the streaming checkpoint records source offsets per
  batch, and each micro-batch carries an idempotence token
  (query-checkpoint hash + batch_id) recorded in the manifest it
  commits. A replay after a crash that landed between manifest-rename
  and checkpoint-commit finds its token already in the chain and is
  skipped whole — the same guarantee Delta's txn-id check provides,
  on plain Parquet.

Request-stream contract: any streaming DataFrame with columns
``stream_id, event_name`` (+ optional ``payload``, ``metadata``,
``expected_version``, ``timestamp_ms``, ``partition_key``,
``event_id``, ``txn_id``; :data:`REQUEST_COLUMNS`). Missing columns
are filled with defaults during enrichment; other columns are ignored.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
import uuid as _uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from sierradb_spark import ids
from sierradb_spark.config import DEFAULT_CONFIG, EngineConfig
from sierradb_spark.eventstore.store import EventStore

# The raw request columns enrich_requests reads, with the Arrow types it
# casts them to; only stream_id and event_name are required.
REQUEST_COLUMNS = pa.schema(
    [
        ("stream_id", pa.string()),
        ("event_name", pa.string()),
        ("payload", pa.binary()),
        ("metadata", pa.binary()),
        ("expected_version", pa.string()),
        ("timestamp_ms", pa.int64()),
        ("partition_key", pa.string()),
        ("event_id", pa.string()),
        ("txn_id", pa.string()),
    ]
)


def _as_uuid(v: str | None) -> _uuid.UUID | None:
    """``uuid.UUID(v)``, or None for NULL and for a value that is not a
    UUID in any encoding ``uuid.UUID`` accepts."""
    try:
        return _uuid.UUID(v)
    except (TypeError, ValueError):
        return None


def enrich_requests(
    requests: pa.Table, config: EngineConfig = DEFAULT_CONFIG
) -> pa.Table:
    """Enrich and validate a batch of raw append requests: the one
    enrichment of every append (EAPPEND / EMAPPEND, ``append_df``,
    streaming ingest). Returns the request rows of the writer loop
    (``store._assign_and_commit``) in input order, with the columns
    built at the end.

    Mirrors the reference handler (``request/eappend.rs:180-217``,
    ``database.rs:867-897``): the default partition key is
    uuid5(NAMESPACE, stream_id); a generated event id is v7 with the
    key's partition hash embedded; a request without a txn id is its
    own transaction (flagged v4 id, id.rs:77-100); a caller event_id is
    stored canonical, so EGET's canonicalized lookup finds it; a NULL
    expected_version is ``any``. An invalid request is not an
    exception: it gets the ``reject_reason`` of the first rule below
    that it breaks, so one poison message cannot fail a micro-batch.
    Transaction-level rules are ``store._validate_and_assign``'s.
    """
    n = requests.num_rows
    given = set(requests.column_names)

    def column(name: str):
        typ = REQUEST_COLUMNS.field(name).type
        return requests[name].cast(typ) if name in given else pa.nulls(n, typ)

    sids = requests["stream_id"].cast(pa.string())  # required: KeyError if absent
    names = requests["event_name"].cast(pa.string())
    expected = pc.fill_null(column("expected_version"), "any")
    sid_len = pc.utf8_length(sids)
    sid_out_of_range = pc.or_(pc.less(sid_len, 1), pc.greater(sid_len, config.max_stream_id_len))
    # (broken, reason) in rule order; the first rule a request breaks
    # wins. A NULL field breaks the rule that reads it.
    rules = [
        (
            pc.or_kleene(pc.is_null(sids), sid_out_of_range),
            "stream_id must be 1-64 chars",  # lib.rs:26,36-50
        ),
        (pc.match_substring(sids, "\x00"), "stream_id cannot contain null bytes"),  # lib.rs:45-47
        (pc.is_null(names), "event_name missing"),
        (
            pc.greater(pc.utf8_length(names), config.max_event_name_len),
            "event_name too long",  # format.rs:150
        ),
        (
            pc.invert(pc.match_substring_regex(expected, r"^(any|exists|empty|[0-9]+)$")),
            pc.binary_join_element_wise("invalid expected_version: ", expected, ""),
        ),
    ]
    if config.strict_versioning:
        rules.append(
            (
                pc.is_in(expected, pa.array(["any", "exists"])),
                "strict versioning rejects 'any'/'exists'",  # eappend.rs:180-188
            )
        )

    # Default partition keys: one uuid5 per distinct stream of the batch.
    streams = pc.unique(sids).drop_null()
    keys = ids.uuid5_bytes(streams.to_pylist())
    at = pc.index_in(sids, streams)
    pkey = pc.take(ids.uuid_strings(keys), at)
    phash = pc.take(pa.array(ids.partition_hashes(keys), pa.int32()), at)
    user = column("partition_key")
    if user.null_count < n:  # some request names its own partition key
        hashes = [u and ids.uuid_to_partition_hash(u) for u in map(_as_uuid, user.to_pylist())]
        pkey = pc.coalesce(user, pkey)
        phash = pc.if_else(pc.is_valid(user), pa.array(hashes, pa.int32()), phash)
        rules.append(
            (pc.and_(pc.is_valid(user), pc.is_null(phash)), "partition_key is not a UUID")
        )
    pid = pc.subtract(
        phash,
        pc.multiply(pc.divide(phash, config.num_partitions), config.num_partitions),
    ).cast(pa.int32())

    now_ns = time.time_ns()
    timestamp_ns = pc.fill_null(pc.multiply(column("timestamp_ms"), 1_000_000), now_ns)
    generated = ids.v7_bytes(
        pc.fill_null(phash, 0).to_numpy(), pc.divide(timestamp_ns, 1_000_000).to_numpy()
    )
    # A request with no partition hash has no event id either.
    event_id = pc.if_else(
        pc.is_valid(phash), ids.uuid_strings(generated), pa.scalar(None, pa.string())
    )
    raw = column("event_id")
    if raw.null_count < n:  # some request names its own event id
        parsed = [_as_uuid(v) for v in raw.to_pylist()]
        canon = pa.array([u and str(u) for u in parsed], pa.string())
        embedded = pa.array([u and ids.uuid_to_partition_hash(u) for u in parsed], pa.int32())
        event_id = pc.coalesce(canon, raw, event_id)
        rules += [
            (
                pc.and_(pc.is_valid(raw), pc.is_null(canon)),
                pc.binary_join_element_wise("event_id '", raw, "' is not a UUID", ""),
            ),
            (
                # NULL-safe: a request with no partition hash has none
                # for its id to embed either.
                pc.and_(pc.is_valid(canon), pc.fill_null(pc.not_equal(embedded, phash), True)),
                "event_id does not embed partition hash",  # database.rs:880
            ),
        ]

    txn_id = pc.coalesce(column("txn_id"), ids.uuid_strings(ids.txn_v4_bytes(n)))

    # case_when takes the first true condition and reads NULL as false.
    broken, why = zip(*rules)
    reason = pc.case_when(
        pc.make_struct(*broken, field_names=[str(i) for i in range(len(rules))]), *why
    )
    return pa.table(
        {
            # The serialization order within the batch (the reference
            # serializes through one writer thread per bucket,
            # writer_thread_pool.rs:120-150).
            "arrival": pa.array(np.arange(n, dtype=np.int64)),
            "txn_id": txn_id,
            "stream_id": sids,
            "event_name": names,
            "expected_version": expected,
            "event_id": event_id,
            "partition_key": pkey,
            "partition_id": pid,
            "timestamp_ns": timestamp_ns,
            "payload": column("payload") if "payload" in given else pa.repeat(b"", n),
            "metadata": column("metadata") if "metadata" in given else pa.repeat(b"", n),
            # Non-null for a request that failed validation: its whole
            # transaction is rejected without consuming sequences
            # (database.rs:867-897 validates the txn before any write).
            "reject_reason": reason,
        }
    )


def _committed_token_bounds(store: EventStore) -> tuple[frozenset, dict]:
    """Committed batch tokens plus the newest committed batch id per
    query key. Tokens look like ``<query_key>-<batch_id>``; base
    manifests cap the carried token history (newest-first per key, see
    store._cap_batch_tokens), so an OLD committed token can be absent
    from the chain. Batch ids are monotone per query (foreachBatch is
    serial and every processed batch publishes a token manifest — the
    all-rejected case included), so ``id <= max committed id for its
    key`` is equally proof of commitment. The two tests together are the
    committed-batch discriminator; a token failing both belongs to a
    batch whose commit never landed (crash between the pre-commit
    dead-letter write and the manifest rename) — an orphan.

    Scope: the monotone-id argument holds within ONE incarnation of a
    checkpoint. Deleting a checkpoint and restarting at the same path
    restarts batch ids at 0 under the same (path-derived) key — by
    design, so a replayed batch matches its committed token and events
    are never duplicated (test_durability's checkpoint-loss guarantee).
    For a dead-letter dir the new incarnation keeps writing to, this is
    self-healing: each new batch id either overwrites its ``batch=<id>``
    dir or genuinely commits its token. A dir the new incarnation does
    NOT write to (DLQ relocated or retired at the reset) must be pruned
    BEFORE the restart — see :func:`read_dead_letters`."""
    committed = store._read_state().batch_tokens
    max_id: dict[str, int] = {}
    for t in committed:
        key, _, suffix = t.rpartition("-")
        if suffix.isdigit() and int(suffix) > max_id.get(key, -1):
            max_id[key] = int(suffix)
    return committed, max_id


def read_dead_letters(store: EventStore, dead_letter_dir: str) -> DataFrame:
    """The dead-letter table, restricted to COMMITTED batches' rejects.

    The pre-commit write ordering (see ``StreamIngest.start``) means a
    crash in the window between the dead-letter write and the manifest
    rename leaves letters for a batch that never committed. If the
    stream is then replayed, the replay overwrites them in place; but a
    decommissioned stream leaves them as orphans a raw
    ``spark.read.parquet(root)`` cannot distinguish from real rejects.
    This reader is the read-side contract: it keeps a letter only if
    its ``batch_token`` proves the batch committed (token in the
    manifest chain, or batch id at-or-below the key's newest committed
    id — see _committed_token_bounds). Use :func:`prune_dead_letters`
    to delete orphans physically instead.

    A missing root, or one holding no parquet data (every batch clean,
    or just pruned away), reads as an EMPTY dead-letter table — the
    contract a monitoring consumer polls against — not as an
    AnalysisException (mirrors prune_dead_letters' missing-dir
    behavior).

    Checkpoint-reset recipe: the commitment proof is scoped to one
    checkpoint incarnation (see _committed_token_bounds). If you delete
    a stream's checkpoint and restart at the same path while ALSO
    retiring or relocating its dead-letter dir, run
    ``prune_dead_letters(store, old_dlq)`` BEFORE the restart — at that
    moment a crash orphan still has a batch id above its key's newest
    committed id and is swept correctly; once the new incarnation's ids
    pass it, an orphan in a dir the new run never rewrites becomes
    indistinguishable from a committed batch's letters. A DLQ the
    restarted stream keeps writing to needs no ceremony (each new batch
    id overwrites its dir or commits its token)."""
    committed, max_id = _committed_token_bounds(store)
    try:
        df = store.spark.read.parquet(dead_letter_dir)
    except AnalysisException:
        from pyspark.sql import types as T
        from sierradb_spark.eventstore.schema import APPEND_RESULT_SCHEMA

        # the on-disk layout: result columns + batch_token, plus the
        # batch=<id> partition column the root-dir read would infer
        schema = T.StructType(
            APPEND_RESULT_SCHEMA.fields
            + [
                T.StructField("batch_token", T.StringType()),
                T.StructField("batch", T.IntegerType()),
            ]
        )
        return store.spark.createDataFrame([], schema)
    pred = (
        F.col("batch_token").isin(list(committed))
        if committed
        else F.lit(False)
    )
    for key, mid in max_id.items():
        pred = pred | (
            (F.regexp_replace("batch_token", r"-[0-9]+$", "") == key)
            & (
                F.regexp_extract("batch_token", r"-([0-9]+)$", 1).cast("long")
                <= mid
            )
        )
    return df.where(pred)


def prune_dead_letters(store: EventStore, dead_letter_dir: str) -> dict:
    """Physically sweep the dead-letter root: remove EMPTY ``batch=*``
    dirs (the unconditional per-batch overwrite leaves one per clean
    micro-batch, and a long-running stream would otherwise accumulate an
    unbounded small-dir listing) and ORPHANED dirs (letters whose batch
    token never committed — crash between the pre-commit write and the
    manifest rename, stream never replayed). Returns counts.

    Driver-side and O(#dirs) parquet-footer reads — no Spark jobs. Must
    not run concurrently with an in-flight micro-batch of the SAME
    ingest (its just-written letters are not yet committed and would
    read as orphans); the auto-invocation from ``StreamIngest``'s
    compaction hook satisfies this because foreachBatch is serial."""
    import re

    import pyarrow.parquet as pq

    removed = {"empty": 0, "orphaned": 0}
    if not os.path.isdir(dead_letter_dir):
        return removed
    committed, max_id = _committed_token_bounds(store)
    for d in os.listdir(dead_letter_dir):
        if not re.fullmatch(r"batch=\d+", d):
            continue
        path = os.path.join(dead_letter_dir, d)
        if not os.path.isdir(path):
            continue
        n_rows, token = 0, None
        for fn in sorted(os.listdir(path)):
            if not fn.endswith(".parquet"):
                continue
            pf = pq.ParquetFile(os.path.join(path, fn))
            n_rows += pf.metadata.num_rows
            if (
                token is None
                and pf.metadata.num_rows > 0
                and "batch_token" in pf.schema_arrow.names
            ):
                for rg in range(pf.num_row_groups):
                    col = pf.read_row_group(rg, columns=["batch_token"])
                    if len(col) > 0:
                        token = col["batch_token"][0].as_py()
                        break
        if n_rows == 0:
            shutil.rmtree(path, ignore_errors=True)
            removed["empty"] += 1
        elif token is not None:
            key, _, suffix = token.rpartition("-")
            is_committed = token in committed or (
                suffix.isdigit() and int(suffix) <= max_id.get(key, -1)
            )
            if not is_committed:
                shutil.rmtree(path, ignore_errors=True)
                removed["orphaned"] += 1
    return removed


class StreamIngest:
    """Continuous ingest into an EventStore table via foreachBatch.

    Each micro-batch is collected to the driver once, then enriched
    and committed there (``EventStore._apply_batch``): the driver holds one batch plus
    the heads fold, so cap micro-batches with the source's
    ``maxOffsetsPerTrigger`` (Kafka) / ``maxFilesPerTrigger`` (files);
    docs/SCALE.md has the measured batch-size curve."""

    def __init__(self, store: EventStore) -> None:
        self.store = store

    def start(
        self,
        requests: DataFrame,
        checkpoint: str,
        trigger_interval: str | None = None,
        available_now: bool = False,
        on_batch=None,
        compact_every: int | None = None,
        compact_retain_seconds: float = 600.0,
        compact_order: str = "stream",
        dead_letter_dir: str | None = None,
    ) -> StreamingQuery:
        """``compact_every``: run ``store.compact()`` after every N
        committed micro-batches (the automatic segment-rollover cadence,
        writer_thread_pool.rs:697-790). Long-running ingest otherwise
        accumulates one file per touched partition per batch plus one
        manifest per batch; periodic compaction bounds both, and the
        heads log folds itself independently (heads_fold_threshold).

        ``compact_retain_seconds``: retention window passed to the
        auto-compactions. Defaults NON-zero (10 min) because concurrent
        Subscriptions tail the manifest log: a zero window would let
        compaction unlink a listed-but-unprocessed manifest (or its
        parquet files) out from under the subscriber's streaming query.
        Set it above your longest concurrent query/subscriber lag.

        ``compact_order``: sort order for the rewritten files —
        ``"stream"`` (ESCAN-optimal) or ``"zorder"`` (balanced
        stream/sequence row-group skipping; see
        :meth:`EventStore.compact`).

        ``dead_letter_dir``: when set, every REJECTED request (full
        original payload/metadata plus the reject reason) is persisted
        to ``<dir>/batch=<id>/`` — the repair-and-replay queue a
        production ingest needs so a poison message is neither lost nor
        able to wedge the stream (the reference surfaces rejects as
        per-request RESP3 errors to a connected client; a queue-fed
        pipeline has no one to tell, so the dead-letter table IS that
        error channel). The write runs as a pre-commit hook INSIDE
        ``_apply_batch`` — after validation/assignment, before the
        manifest commit — so a crash between manifest-rename and
        checkpoint-commit cannot lose rejects: by the time the commit
        is durable the dead letters already are, and a replay of a
        committed batch (token fast path, empty result) finds them in
        place. The per-batch write is unconditional and overwriting, so
        replays and lost-CAS retries are idempotent AND a retry whose
        recomputed reject set shrank to empty clears the stale letters
        instead of leaving them; reading the root dir yields a
        ``batch`` partition column. Costs one write job per micro-batch
        over the driver-built result; disabled by
        default. Consumers should read through
        :func:`read_dead_letters`, which filters out the one artifact
        the pre-commit ordering can leave behind (letters for a batch
        whose commit never landed and was never replayed); the
        compaction hook prunes empty and orphaned batch dirs via
        :func:`prune_dead_letters` on the same cadence."""
        if not requests.isStreaming:
            raise ValueError("requests must be a streaming DataFrame")

        # Stable across restarts of the same query (checkpoint identifies
        # the query; batch_id identifies the micro-batch within it): the
        # idempotence key that lets _apply_batch skip a replayed batch
        # whose manifest already landed — exactly-once on plain Parquet.
        # DELIBERATELY path-only, not salted per incarnation: if the
        # checkpoint is wiped and the same source replays as batch 0,
        # the recomputed token must MATCH the committed one so the
        # replay is skipped (test_durability's checkpoint-loss
        # guarantee). The flip side — batch ids restarting at 0 under
        # the same key — is what bounds the dead-letter commitment
        # proof to one checkpoint incarnation; see the checkpoint-reset
        # recipe in read_dead_letters' docstring.
        query_key = hashlib.sha256(
            os.path.abspath(checkpoint).encode()
        ).hexdigest()[:16]

        def process(batch: DataFrame, batch_id: int) -> None:
            def write_dead_letters(result: DataFrame) -> None:
                # Pre-commit hook: runs before the manifest rename, so
                # rejects are durable no later than the commit they
                # belong to (a crash after the commit replays into the
                # batch-token fast path, which returns an empty result
                # and would otherwise lose them forever). The write is
                # UNCONDITIONAL: a lost-CAS retry (or a pre-commit-crash
                # replay) recomputes the rejects against moved state,
                # and a now-empty reject set must CLEAR the previous
                # attempt's letters — a conditional write would leave
                # them stale. Overwrite-of-empty truncates the batch
                # dir through the same fs-agnostic writer, and needs no
                # emptiness probe job.
                # Each letter carries its batch_token: the pre-commit
                # ordering means a crash between this write and the
                # manifest rename leaves an ORPHAN dir (letters for a
                # batch that never committed), and the token is how
                # read_dead_letters / prune_dead_letters tell orphans
                # from a committed batch's real rejects.
                result.where(~F.col("accepted")).withColumn(
                    "batch_token", F.lit(f"{query_key}-{batch_id}")
                ).write.mode("overwrite").parquet(
                    os.path.join(dead_letter_dir, f"batch={batch_id}")
                )

            result = self.store._apply_batch(
                batch,
                batch_token=f"{query_key}-{batch_id}",
                pre_commit=(
                    write_dead_letters if dead_letter_dir is not None else None
                ),
            )
            if (
                compact_every
                and batch_id > 0
                and batch_id % compact_every == 0
            ):
                self.store.compact(
                    retain_seconds=compact_retain_seconds, order=compact_order
                )
                if dead_letter_dir is not None:
                    # Maintenance piggybacks on the compaction cadence:
                    # the unconditional per-batch write leaves one
                    # (usually empty) batch=<id> dir per micro-batch,
                    # and a long-running stream would otherwise grow an
                    # unbounded small-dir listing under the root. Safe
                    # mid-stream: every batch id below the one that just
                    # committed is final (foreachBatch is serial), and
                    # the current batch's dir holds a committed token.
                    prune_dead_letters(self.store, dead_letter_dir)
            if on_batch is not None:
                on_batch(batch_id, result)

        writer = requests.writeStream.foreachBatch(process).option(
            "checkpointLocation", checkpoint
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif trigger_interval:
            writer = writer.trigger(processingTime=trigger_interval)
        return writer.start()

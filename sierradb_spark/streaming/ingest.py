"""Structured Streaming ingest: the continuous write path.

The reference's server loop (RESP3 appends → writer thread pool group
commit, ``crates/sierradb/src/writer_thread_pool.rs:292-520,687-699``)
maps to a Structured Streaming query: a stream of append requests →
``foreachBatch`` → the same validate/assign/commit logic the batch API
uses (eventstore/store.py). One micro-batch == one group commit; the
trigger interval is the group-commit knob (reference defaults: 5 ms /
50 events / 4 KB, ``config.rs:206-208``).

Scale design:
- Per-batch cost is O(batch) — enrichment and request validation run
  in the JVM, then the batch is collected once and assigned and
  committed on the driver against the memoized heads fold. Append
  throughput is independent of table size (the reference's headline
  design goal, README.md:96-99).
- Exactly-once: the streaming checkpoint records source offsets per
  batch, and each micro-batch carries an idempotence token
  (query-checkpoint hash + batch_id) recorded in the manifest it
  commits. A replay after a crash that landed between manifest-rename
  and checkpoint-commit finds its token already in the chain and is
  skipped whole — the same guarantee Delta's txn-id check provides,
  on plain Parquet.

Request-stream contract: any streaming DataFrame with columns
``stream_id, event_name, payload, metadata, expected_version`` (+
optional ``timestamp_ms``, ``partition_key``, ``event_id``, ``txn_id``).
Missing columns are filled with defaults during enrichment.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from sierradb_spark import ids
from sierradb_spark.config import DEFAULT_CONFIG, EngineConfig
from sierradb_spark.eventstore.store import EventStore


# Enrichment Column-expression cache (r11). Building the derived-column
# trees (uuid5 sha1 bit-twiddling, v7 event-id assembly, the validation
# when-chain) costs ~0.5-1 s of py4j round-trips per call — charged to
# EVERY batch append and every streaming micro-batch, ~25-50% of a 20k-
# event append's wall time. The expressions are pure functions of the
# input column SET and the config knobs (the per-batch `now_ns` literals
# live in the timestamp column, which the cached expressions only
# reference by NAME), so one build per (schema, config) serves the whole
# session: unresolved Columns are immutable and reusable across plans;
# nondeterministic ones (the v4 txn id) still evaluate fresh per query.
_ENRICH_COL_CACHE: dict[tuple, dict] = {}


def _enrichment_columns(cols_key: tuple, config: EngineConfig) -> dict:
    """Reusable enrichment/validation Columns for an input schema whose
    sorted column names are ``cols_key`` — see _ENRICH_COL_CACHE."""
    key = (
        cols_key,
        config.num_partitions,
        config.max_stream_id_len,
        config.max_event_name_len,
        config.strict_versioning,
    )
    cached = _ENRICH_COL_CACHE.get(key)
    if cached is not None:
        return cached
    cols = dict.fromkeys(cols_key)
    c: dict = {}
    if "partition_key" in cols:
        c["partition_key"] = F.coalesce(
            F.col("partition_key"), ids.uuid5_col("stream_id")
        )
    else:
        c["partition_key"] = ids.uuid5_col("stream_id")
    phash = ids.uuid_hash_col("partition_key")
    c["partition_id"] = F.pmod(phash, F.lit(config.num_partitions)).cast("int")
    user_event_id = "event_id" in cols
    gen_eid = ids.event_id_col(phash, F.expr("timestamp_ns div 1000000"))
    if user_event_id:
        # Canonicalize caller ids to the lowercase-hyphenated form the
        # store's lookups compare against (uuid_hash_col parses
        # uppercase/no-dash encodings fine, so without this a valid-hash
        # non-canonical id would pass validation yet be unreachable via
        # EGET). Anything that is not 32 hex chars after stripping
        # urn:uuid:/braces/dashes is left as-is for the validation
        # below to reject.
        h32 = F.lower(
            F.regexp_replace(
                F.regexp_replace(F.col("event_id"), r"^(?i)urn:uuid:", ""),
                r"[{}\-]",
                "",
            )
        )
        canon = F.when(
            h32.rlike("^[0-9a-f]{32}$"),
            F.concat_ws(
                "-",
                F.substring(h32, 1, 8),
                F.substring(h32, 9, 4),
                F.substring(h32, 13, 4),
                F.substring(h32, 17, 4),
                F.substring(h32, 21, 12),
            ),
        ).otherwise(F.col("event_id"))
        c["event_id"] = F.coalesce(canon, gen_eid)
    else:
        c["event_id"] = gen_eid
    # One event per transaction (EAPPEND), implicit-commit flag set
    # (id.rs:77-100): txn id equals a flagged v4 uuid.
    c["txn_id"] = ids.txn_id_col(implicit_commit=True)

    # --- request validation (reject, don't crash) ----------------------
    # NULL-safe throughout: a NULL field makes every comparison NULL,
    # and a plain when() chain would fall through and ACCEPT the row
    # (with a NULL partition_id corrupting assignment downstream) —
    # exactly the poison-message shape a Kafka topic can deliver.
    reason = F.when(
        F.col("stream_id").isNull()
        | (F.length("stream_id") < 1)
        | (F.length("stream_id") > config.max_stream_id_len),
        F.lit("stream_id must be 1-64 chars"),  # lib.rs:26,36-50
    ).when(
        F.instr("stream_id", "\x00") > 0,
        F.lit("stream_id cannot contain null bytes"),  # lib.rs:45-47
    ).when(
        F.col("event_name").isNull(),
        F.lit("event_name missing"),
    ).when(
        F.length("event_name") > config.max_event_name_len,
        F.lit("event_name too long"),  # format.rs:150
    ).when(
        # expected_version is never NULL here — a NULL precondition is
        # coalesced to 'any' by the caller ("no precondition").
        ~F.col("expected_version").rlike(r"^(any|exists|empty|[0-9]+)$"),
        F.concat(F.lit("invalid expected_version: "), F.col("expected_version")),
    )
    if config.strict_versioning:
        reason = reason.when(
            F.col("expected_version").isin("any", "exists"),
            F.lit("strict versioning rejects 'any'/'exists'"),
        )  # eappend.rs:180-188
    if user_event_id:
        # NULL-safe: a malformed event_id (too short to carry the hash
        # bits) makes uuid_hash_col NULL, and `NULL != phash` is NULL —
        # a plain when() would fall through and ACCEPT the bad id. The
        # null-safe inequality rejects malformed and mismatched alike.
        reason = reason.when(
            ~ids.uuid_hash_col("event_id").eqNullSafe(phash),
            F.lit("event_id does not embed partition hash"),  # database.rs:880
        )
    c["reject_reason"] = reason.otherwise(F.lit(None))
    _ENRICH_COL_CACHE[key] = c
    return c


def enrich_requests(
    df: DataFrame, config: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Derive partition_key/partition_id/event_id/timestamp columns and
    validate the request — all JVM-side.

    Mirrors request enrichment + validation in the reference handler
    (``request/eappend.rs:180-217``, ``database.rs:867-897``): default
    partition_key = uuid5(NAMESPACE, stream_id), partition_hash from the
    key, event_id = v7-with-embedded-hash, ms→ns timestamp scaling.
    Invalid requests (caller event_id that does not embed the routing
    hash — database.rs:880; stream_id/event_name length limits —
    lib.rs:26, format.rs:150; malformed or strict-rejected
    expected_version — eappend.rs:180-188) get a non-null
    ``reject_reason`` and are routed to rejected results downstream —
    never an executor exception that would fail the whole micro-batch.

    Entirely JVM-side Column algebra (ids.uuid5_col / event_id_col /
    txn_id_col — sha1 + conv + substring): the first implementation used
    chained pandas UDFs and each UDF-on-UDF dependency became its own
    ArrowEvalPython stage — a serial JVM↔Python round-trip per batch that
    dominated ingest wall time. Keeping enrichment in whole-stage codegen
    removed Python from the ingest hot path entirely.
    """
    cols = dict.fromkeys(df.columns)
    c = _enrichment_columns(tuple(sorted(cols)), config)
    if "expected_version" not in cols:
        df = df.withColumn("expected_version", F.lit("any"))
    else:
        # A NULL precondition means "no precondition" (= 'any'). Without
        # the coalesce, NULL slips past the rlike reject (NULL rlike →
        # NULL → no reason) and then crashes parse_expected_version on
        # the slow path — an executor exception that would fail the whole
        # micro-batch, violating the reject-don't-crash contract.
        df = df.withColumn(
            "expected_version", F.coalesce(F.col("expected_version"), F.lit("any"))
        )
    if "metadata" not in cols:
        df = df.withColumn("metadata", F.lit(b""))
    if "payload" not in cols:
        df = df.withColumn("payload", F.lit(b""))
    now_ns = time.time_ns()
    if "timestamp_ms" in cols:
        df = df.withColumn(
            "timestamp_ns",
            F.coalesce(F.col("timestamp_ms") * 1_000_000, F.lit(now_ns)),
        )
    else:
        df = df.withColumn("timestamp_ns", F.lit(now_ns))
    df = df.withColumn("partition_key", c["partition_key"])
    df = df.withColumn("partition_id", c["partition_id"])
    df = df.withColumn("event_id", c["event_id"])
    user_txn_id = "txn_id" in cols
    if not user_txn_id:
        df = df.withColumn("txn_id", c["txn_id"])
    df = df.withColumn("reject_reason", c["reject_reason"])
    # Batch-local arrival order: monotonic id is unique and ordered per
    # partition of the source; good enough as the serialization tiebreak
    # (the reference serializes by channel arrival, an equally arbitrary
    # but consistent order). Taken before the txn window below, whose
    # exchange would otherwise reorder it.
    df = df.withColumn("arrival", F.monotonically_increasing_id())
    if user_txn_id:
        # Caller-grouped transactions: a txn must resolve to ONE
        # partition (database.rs:867-897) and is rejected whole if any
        # of its requests is invalid. One window over txn_id (only in
        # this path — auto-generated txn ids are single-request).
        wtxn = Window.partitionBy("txn_id")
        df = df.withColumn(
            "reject_reason",
            F.coalesce(
                F.max("reject_reason").over(wtxn),
                F.when(
                    F.size(F.collect_set("partition_id").over(wtxn)) > 1,
                    F.lit("transaction spans multiple partitions"),
                ),
            ),
        )
    return df


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

    Each micro-batch is collected to the driver once and committed
    there (``EventStore._apply_batch``): the driver holds one batch plus
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
            enriched = enrich_requests(batch, self.store.config)
            req_cols = [
                "arrival",
                "txn_id",
                "stream_id",
                "event_name",
                "expected_version",
                "event_id",
                "partition_key",
                "partition_id",
                "timestamp_ns",
                "payload",
                "metadata",
                "reject_reason",
            ]
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
                enriched.select(*req_cols),
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

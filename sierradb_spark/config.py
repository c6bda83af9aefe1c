"""Engine configuration.

Defaults mirror the reference server's defaults
(``crates/sierradb-server/src/config.rs:192-208``): 32 partitions,
replication factor min(nodes, 3). Replication/quorum is delegated to
the storage platform (Parquet/Delta on a replicated FS), so only the
logical-layout knobs survive here. The reference's bucket tier (4
buckets, ``bucket_id = partition_id % num_buckets``) is physically
subsumed by Spark partitioning and has no knob; the session's shuffle
width is ``session.get_spark(shuffle_partitions=...)``.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class EngineConfig:
    # Logical partition count for the event table. Reference default:
    # config.rs:200 (num_partitions = 32). partition_id = hash % num_partitions.
    num_partitions: int = 32
    # Max stream id length (crates/sierradb/src/lib.rs:26).
    max_stream_id_len: int = 64
    # Max event name length (ShortString, format.rs:150).
    max_event_name_len: int = 255
    # Strict versioning: reject ExpectedVersion Any/Exists on append
    # (config.rs:74-76, eappend.rs:180-188).
    strict_versioning: bool = False
    # Default scan batch size (DEFAULT_BATCH_SIZE, sierradb-cluster/src/lib.rs:43).
    default_batch_size: int = 50
    # Replication factor (reference default min(nodes, 3), config.rs:192-205;
    # MAX_REPLICATION_FACTOR = 12, lib.rs:27). Replication itself is the
    # storage platform's job here; the factor survives so the recorded
    # confirmation_count equals the write quorum the reference would reach.
    replication_factor: int = 3
    # Fold the heads log into one file once this many heads files have
    # accumulated (the heads-log analogue of segment rollover, W8): every
    # append reads the whole heads log, so without folding per-batch cost
    # grows O(commits since compaction) and sustained ingest degrades.
    heads_fold_threshold: int = 64
    # Bounded retries when an append loses the manifest-commit CAS race:
    # the loser re-reads state and re-drives validation/assignment for
    # the SAME batch — the analogue of the reference's forward/retry
    # loop on a write that reached the wrong coordinator
    # (sierradb-cluster/src/write/execute.rs:19-68, tried_peers).
    commit_retries: int = 5

    @property
    def write_quorum(self) -> int:
        """(rf/2)+1 — confirmations a committed write has reached
        (quorum check, sierradb-cluster/src/write/execute.rs:34-40)."""
        return self.replication_factor // 2 + 1


DEFAULT_CONFIG = EngineConfig()

"""Canonical event envelope schema.

Columnar re-expression of the reference's row-oriented ``RawEvent``
(``crates/sierradb/src/bucket/segment/format.rs:131-143``). Differences
are deliberate and Spark-native:

- ``timestamp`` is a TIMESTAMP (µs) for query ergonomics; ``timestamp_ns``
  keeps the reference's nanosecond fidelity (format.rs:16-52 stores u64 ns).
- ``confirmation_count`` is retained for schema parity but writes are
  quorum-durable at commit time on Spark storage, so it is fixed at
  quorum (see SURVEY §4.3 — the watermark table carries visibility).
- UUIDs are canonical lowercase strings (readable; the partition hash
  bits ids.py extracts route a lookup to its partition); BINARY(16) would
  save space at 100 TB — revisit when storage dominates.
"""

from __future__ import annotations

from pyspark.sql import types as T

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.StringType(), False),
        T.StructField("partition_key", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("partition_sequence", T.LongType(), False),
        T.StructField("stream_id", T.StringType(), False),
        T.StructField("stream_version", T.LongType(), False),
        T.StructField("event_name", T.StringType(), False),
        T.StructField("timestamp", T.TimestampType(), False),
        T.StructField("timestamp_ns", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("metadata", T.BinaryType(), True),
        T.StructField("transaction_id", T.StringType(), False),
        T.StructField("confirmation_count", T.IntegerType(), False),
    ]
)

# Stream-heads log record: the latest (version, sequence) per stream as
# of one commit. The Spark-native replacement for the reference's live
# stream indexes (writer_thread_pool.rs:43-54): the write path reads
# max() over this log instead of scanning the events table.
HEADS_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("stream_id", T.StringType(), False),
        T.StructField("stream_version", T.LongType(), False),
        T.StructField("partition_sequence", T.LongType(), False),
    ]
)

# Output of the append path: per-request outcome
# (shape of EAppendResp, eappend.rs:256-278, + error reporting).
# partition_key/partition_id/stream_id/event_name are nullable because
# a REJECTED request may lack them — a NULL stream_id (poison message)
# has no derivable partition — and the result DataFrame is built from
# the driver's Arrow results, so the schema must admit what rejects
# actually carry. Accepted rows always have all four (validation
# guarantees it).
APPEND_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("arrival", T.LongType(), False),
        T.StructField("txn_id", T.StringType(), False),
        T.StructField("accepted", T.BooleanType(), False),
        T.StructField("error", T.StringType(), True),
        T.StructField("event_id", T.StringType(), True),
        T.StructField("partition_key", T.StringType(), True),
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("partition_sequence", T.LongType(), True),
        T.StructField("stream_id", T.StringType(), True),
        T.StructField("stream_version", T.LongType(), True),
        T.StructField("event_name", T.StringType(), True),
        T.StructField("timestamp_ns", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("metadata", T.BinaryType(), True),
    ]
)

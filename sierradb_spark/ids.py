"""SierraDB ID scheme, re-implemented from observed behavior.

Reference semantics (all cited against /root/reference/):

- Default partition key: ``uuid5(NAMESPACE_PARTITION_KEY, stream_id)``
  (``crates/sierradb-server/src/request/eappend.rs:193-195``; namespace
  constant ``crates/sierradb/src/id.rs:9``).
- Event IDs are v7-style UUIDs with a 16-bit partition hash embedded in
  bits 46-61 of the 128-bit value (``id.rs:21-47``):
  [timestamp_ms:48][rand:12][version=7:4][variant=0b10:2][hash:16][rand:46]
- ``partition_hash`` is extracted from ANY uuid by reading bits 46-61
  (``id.rs:50-53``); for partition keys this doubles as the routing hash
  (``eappend.rs:192``).
- ``partition_id = partition_hash % num_partitions`` (``eappend.rs:197``),
  ``bucket_id = partition_id % num_buckets`` (``id.rs:63-69``).
- UUID flag bit: MSB of byte 8 (bit 65 counted from the MSB side), used
  to mark implicit-commit transactions (``id.rs:75-98``).

The scalar functions are the reference implementation (one id at a
time, on ``uuid.UUID``); the ``*_bytes`` / :func:`uuid_strings` group
computes the same ids for a whole request batch at once over NumPy
arrays of raw UUID bytes, for ``streaming.ingest.enrich_requests``.
"""

from __future__ import annotations

import hashlib
import os
import uuid as _uuid

import numpy as np
import pyarrow as pa

# uuid5(NAMESPACE_DNS, "sierradb.tqwewe.com") — id.rs:8-9
NAMESPACE_PARTITION_KEY = _uuid.UUID("219bd637-e279-53e9-9e2b-eabe5d9120cc")


def partition_key_for_stream(stream_id: str) -> _uuid.UUID:
    """Default partition key: uuid5(namespace, stream_id). eappend.rs:193-195."""
    return _uuid.uuid5(NAMESPACE_PARTITION_KEY, stream_id)


def uuid_to_partition_hash(u: _uuid.UUID | str) -> int:
    """Extract the embedded 16-bit hash: bits 46-61 of the 128-bit value. id.rs:50-53."""
    if isinstance(u, str):
        u = _uuid.UUID(u)
    return (u.int >> 46) & 0xFFFF


def uuid_v7_with_partition_hash(
    partition_hash: int,
    *,
    timestamp_ms: int,
    rand12: int,
    rand46: int,
) -> _uuid.UUID:
    """v7-style UUID with embedded partition hash. id.rs:21-47.

    Randomness/timestamps are explicit parameters (caller supplies them)
    so ingest can be made deterministic under test; production callers
    pass ``int(time.time()*1000)`` and ``secrets.randbits``.
    """
    ts48 = timestamp_ms & 0xFFFFFFFFFFFF
    val = (
        (ts48 << 80)
        | ((rand12 & 0x0FFF) << 68)
        | (0x7 << 64)
        | (0x2 << 62)
        | ((partition_hash & 0xFFFF) << 46)
        | (rand46 & ((1 << 46) - 1))
    )
    return _uuid.UUID(int=val)


def validate_event_id(event_id: _uuid.UUID | str, partition_hash: int) -> bool:
    """Event IDs must embed the routing hash. id.rs:71-73, database.rs:880.
    A string that is not a UUID at all is invalid, not a crash."""
    try:
        return uuid_to_partition_hash(event_id) == partition_hash
    except (ValueError, AttributeError, TypeError):
        return False


def partition_id_for_hash(partition_hash: int, num_partitions: int) -> int:
    """partition_id = hash % num_partitions. eappend.rs:197."""
    return partition_hash % num_partitions


def set_uuid_flag(u: _uuid.UUID, flag: bool) -> _uuid.UUID:
    """Set/clear the MSB of byte 8 (implicit-commit marker). id.rs:75-89."""
    b = bytearray(u.bytes)
    if flag:
        b[8] |= 0x80
    else:
        b[8] &= 0x7F
    return _uuid.UUID(bytes=bytes(b))


def get_uuid_flag(u: _uuid.UUID) -> bool:
    """id.rs:92-97."""
    return (u.bytes[8] & 0x80) != 0


# --- batch variants: (n, 16) uint8 arrays of big-endian UUID bytes ----------

# Two lowercase hex digits per byte value, and the character positions
# of the 32 digits in the 36-character 8-4-4-4-12 form.
_HEX_DIGITS = np.frombuffer(
    b"".join(b"%02x" % i for i in range(256)), np.uint8
).reshape(256, 2)
_DIGIT_POS = [i for i in range(36) if i not in (8, 13, 18, 23)]


def uuid_strings(raw: np.ndarray) -> pa.StringArray:
    """The canonical lowercase hyphenated strings of ``raw``'s UUIDs:
    ``str(uuid.UUID(bytes=row))`` for every row, without a UUID object."""
    n = len(raw)
    text = np.full((n, 36), ord("-"), np.uint8)
    text[:, _DIGIT_POS] = _HEX_DIGITS[raw].reshape(n, 32)
    offsets = np.arange(0, 36 * (n + 1), 36, dtype=np.int32)
    return pa.Array.from_buffers(
        pa.string(), n, [None, pa.py_buffer(offsets), pa.py_buffer(text)]
    )


def partition_hashes(raw: np.ndarray) -> np.ndarray:
    """Bits 46-61 of each UUID in ``raw`` (id.rs:50-53): they sit in
    bytes 8-10, which hold bits 40-63."""
    b = raw[:, 8:11].astype(np.int32)
    return ((b[:, 0] << 16 | b[:, 1] << 8 | b[:, 2]) >> 6) & 0xFFFF


def _versioned(raw: bytes, version: int) -> np.ndarray:
    """``raw`` as UUID rows with the version nibble and the RFC variant
    bits 0b10 set."""
    out = np.frombuffer(raw, np.uint8).reshape(-1, 16).copy()
    out[:, 6] = out[:, 6] & 0x0F | version << 4
    out[:, 8] = out[:, 8] & 0x3F | 0x80
    return out


def uuid5_bytes(names: list[str]) -> np.ndarray:
    """uuid5(NAMESPACE_PARTITION_KEY, name) of each name — the default
    partition key (eappend.rs:193-195): SHA-1 of namespace || utf-8
    name, cut to 16 bytes."""
    ns = NAMESPACE_PARTITION_KEY.bytes
    return _versioned(
        b"".join(hashlib.sha1(ns + s.encode()).digest()[:16] for s in names), 5
    )


def v7_bytes(partition_hash: np.ndarray, timestamp_ms: np.ndarray) -> np.ndarray:
    """One v7 event id per row with its partition hash embedded
    (id.rs:21-47; the layout of :func:`uuid_v7_with_partition_hash`),
    random bits from ``os.urandom``."""
    n = len(partition_hash)
    rand = np.frombuffer(os.urandom(16 * n), np.uint64).reshape(n, 2)
    hi = (
        (timestamp_ms.astype(np.uint64) & np.uint64((1 << 48) - 1)) << np.uint64(16)
        | (rand[:, 0] & np.uint64(0xFFF)) << np.uint64(4)
        | np.uint64(0x7)
    )
    lo = (
        np.uint64(0b10 << 62)
        | (partition_hash.astype(np.uint64) & np.uint64(0xFFFF)) << np.uint64(46)
        | rand[:, 1] & np.uint64((1 << 46) - 1)
    )
    return np.stack([hi, lo], axis=1).astype(">u8").view(np.uint8).reshape(n, 16)


def txn_v4_bytes(n: int) -> np.ndarray:
    """``n`` random v4 transaction ids with the implicit-commit flag set
    (id.rs:77-100): the flag is the MSB of byte 8, which the RFC
    variant bits 0b10 already set."""
    return _versioned(os.urandom(16 * n), 4)

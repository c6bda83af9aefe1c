"""Correctness checkers. Each returns a list of problem strings; an empty
list means the check passed. They take plain Python / pandas values so
the tests can plant faults without a Spark session."""

from __future__ import annotations

import hashlib
from collections import defaultdict
from typing import Iterable

import pandas as pd

_MASK = (1 << 128) - 1


def multiset_digest(pairs: Iterable[tuple[str, bytes]]) -> int:
    """Order-insensitive digest of ``(stream_id, payload)`` pairs: the sum
    of each pair's 128-bit SHA-256 prefix, so equal multisets give equal
    digests whatever order rows come back in."""
    total = 0
    for stream_id, payload in pairs:
        h = hashlib.sha256(stream_id.encode() + b"\0" + bytes(payload)).digest()
        total = (total + int.from_bytes(h[:16], "big")) & _MASK
    return total


def digest_problems(expected: int, actual: int, what: str) -> list[str]:
    if expected != actual:
        return [f"{what}: digest {actual:032x} != expected {expected:032x}"]
    return []


def gapless_problems(df: pd.DataFrame, key: str, seq: str, limit: int = 5) -> list[str]:
    """Every ``key`` group's ``seq`` values must be exactly 0..n-1."""
    out: list[str] = []
    for k, s in df.groupby(key)[seq]:
        vals = s.sort_values().to_numpy()
        if vals.size and (vals[0] != 0 or (vals[1:] - vals[:-1] != 1).any()):
            out.append(f"{key}={k}: {seq} not gapless from 0 ({vals[:8].tolist()}...)")
            if len(out) >= limit:
                break
    return out


def contiguous_problems(values: list[int], first: int, what: str) -> list[str]:
    """``values`` must read first, first+1, ... in order."""
    if values != list(range(first, first + len(values))):
        return [f"{what}: expected contiguous from {first}, got {values[:8]}..."]
    return []


def delivery_problems(
    delivered: list[tuple[int, int]], expected: set[tuple[int, int]]
) -> list[str]:
    """``delivered`` is ``(partition_id, partition_sequence)`` in delivery
    order. It must hold every expected key exactly once, nothing else,
    and each partition's sequences must rise in delivery order."""
    out: list[str] = []
    seen: set[tuple[int, int]] = set()
    last: dict[int, int] = defaultdict(lambda: -1)
    dups = 0
    for pid, seq in delivered:
        if (pid, seq) in seen:
            dups += 1
        seen.add((pid, seq))
        if seq <= last[pid]:
            out.append(f"partition {pid}: sequence {seq} delivered after {last[pid]}")
        last[pid] = max(last[pid], seq)
    if dups:
        out.append(f"{dups} duplicate deliveries")
    missing = expected - seen
    extra = seen - expected
    if missing:
        out.append(f"{len(missing)} expected events never delivered")
    if extra:
        out.append(f"{len(extra)} unexpected events delivered")
    return out[:10]

"""Optimistic-concurrency version semantics.

Re-implements the ExpectedVersion / CurrentVersion / VersionGap truth
table of the reference protocol crate
(``crates/sierradb-protocol/src/lib.rs:14-186``) in pure Python: the
driver-side validation of every append, and the model-based tests.

Truth table (ExpectedVersion x CurrentVersion -> gap):

    Any      x *           -> None (ok)
    Exists   x Empty       -> Incompatible
    Exists   x Current(_)  -> None
    Empty    x Empty       -> None
    Empty    x Current(n)  -> Ahead(n+1)
    Exact(e) x Empty       -> Behind(e+1)
    Exact(e) x Current(c)  -> None if e==c, Behind(e-c) if e>c, Ahead(c-e) if e<c
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Literal, Optional, Union

ANY = "any"
EXISTS = "exists"
EMPTY = "empty"

ExpectedVersion = Union[Literal["any", "exists", "empty"], int]
# CurrentVersion: None = stream/partition doesn't exist; int = last version.
CurrentVersion = Optional[int]


@dataclass(frozen=True)
class VersionGap:
    kind: Literal["none", "ahead", "behind", "incompatible"]
    by: int = 0

    @property
    def ok(self) -> bool:
        return self.kind == "none"


def parse_expected_version(s: str) -> ExpectedVersion:
    """Wire grammar: 'any' | 'exists' | 'empty' | <u64>. lib.rs:97-111."""
    if s in (ANY, EXISTS, EMPTY):
        return s
    return int(s)


def gap_from(expected: ExpectedVersion, current: CurrentVersion) -> VersionGap:
    """ExpectedVersion::gap_from — lib.rs:47-72."""
    if expected == ANY:
        return VersionGap("none")
    if expected == EXISTS:
        if current is None:
            return VersionGap("incompatible")
        return VersionGap("none")
    if expected == EMPTY:
        if current is None:
            return VersionGap("none")
        return VersionGap("ahead", current + 1)
    # Exact(expected)
    assert isinstance(expected, int)
    if current is None:
        return VersionGap("behind", expected + 1)
    if expected == current:
        return VersionGap("none")
    if expected > current:
        return VersionGap("behind", expected - current)
    return VersionGap("ahead", current - expected)


def is_satisfied_by(expected: ExpectedVersion, current: CurrentVersion) -> bool:
    return gap_from(expected, current).ok


def is_strict_allowed(expected: ExpectedVersion) -> bool:
    """Strict mode rejects Any/Exists. lib.rs:79-83, eappend.rs:180-188."""
    return expected == EMPTY or isinstance(expected, int)


def next_version(current: CurrentVersion) -> int:
    """CurrentVersion::next — lib.rs:124-129."""
    return 0 if current is None else current + 1


"""SierraDB command-surface adapter: ``execute_command`` for migrating
reference clients.

The reference speaks Redis-style commands over RESP3 (``EAPPEND``,
``ESCAN``, …; each grammar documented in
``crates/sierradb-server/src/request/*.rs``). The wire protocol is an
explicit non-goal (SURVEY: the client API is Python) — but a reference
user's *call sites* look like
``client.execute_command('ESCAN', 'user-123', '-', '+', 'COUNT', 100)``
(reference README.md:81-86), so this module accepts exactly that
argument shape against an :class:`EventStore` and returns plain Python
values mirroring the server's RESP3 response maps field-for-field
(``request.rs:798-812`` for events, ``request/eappend.rs:269-276`` for
append responses; timestamps are returned in MILLISECONDS, truncated
from the stored nanoseconds, exactly like the server's
``timestamp / 1_000_000``).

Supported commands: PING, INFO, EAPPEND, EMAPPEND, EGET, ESCAN,
EPSCAN, ESVER, EPSEQ, ESUB, EPSUB. Extensions beyond the reference
grammar: ``REVERSE`` on ESCAN/EPSCAN (reverse iteration, R6),
``AS_OF <commit>`` on every read command (time travel over the
manifest chain), and ``ECHANGES <since> [TO <commit>]`` (the batch
change feed — events added by commits in the range). ESUB/EPSUB return an *unstarted*
:class:`~sierradb_spark.streaming.subscribe.Subscription` — start it
with ``.start(deliver, checkpoint)`` (push delivery) or
``.start_to_sink(...)``; EACK is not a standalone command here because
acknowledgement is the subscription's durable delivery cursor
(checkpoint-as-ack — eack.rs:39-51 semantics are implemented inside
``Subscription``, not as a verb).
"""

from __future__ import annotations

import time
import uuid as _uuid
from typing import Any

from sierradb_spark.eventstore.store import AppendRequest, EventStore


class CommandError(ValueError):
    """Malformed command or arguments (the parser-error analogue)."""


def _s(x: Any) -> str:
    if isinstance(x, bytes):
        return x.decode()
    return str(x)


def _b(x: Any) -> bytes:
    if isinstance(x, bytes):
        return x
    return str(x).encode()


def _int(x: Any, what: str) -> int:
    """Integer argument parse that stays inside the command-error
    contract: malformed client input is a CommandError, never a raw
    ValueError escaping to the caller."""
    s = _s(x)
    try:
        return int(s)
    except ValueError:
        raise CommandError(f"expected integer {what}, got {s!r}")


def _range(x: Any) -> "int | str":
    s = _s(x)
    if s in ("-", "+"):
        return s
    try:
        return int(s)
    except ValueError:
        raise CommandError(f"expected version/sequence range value, got {s!r}")


_EAPPEND_OPTS = {
    "EVENT_ID", "PARTITION_KEY", "EXPECTED_VERSION",
    "TIMESTAMP", "PAYLOAD", "METADATA",
}


def _parse_append_opts(args: list, allowed: set[str]) -> tuple[dict, list]:
    """Consume ``KEYWORD value`` pairs from the front of ``args`` until a
    non-keyword token (or exhaustion); returns (opts, rest)."""
    opts: dict[str, Any] = {}
    i = 0
    while i + 1 < len(args) + 1 and i < len(args):
        kw = _s(args[i]).upper()
        if kw not in allowed:
            break
        if i + 1 >= len(args):
            raise CommandError(f"{kw} requires a value")
        if kw in opts:
            raise CommandError(f"{kw.lower().replace('_', ' ')} already specified")
        opts[kw] = args[i + 1]
        i += 2
    return opts, args[i:]


def _append_request(stream_id: str, event_name: str, opts: dict) -> AppendRequest:
    return AppendRequest(
        stream_id=stream_id,
        event_name=event_name,
        payload=_b(opts.get("PAYLOAD", b"")),
        metadata=_b(opts.get("METADATA", b"")),
        expected_version=_s(opts.get("EXPECTED_VERSION", "any")),
        event_id=_s(opts["EVENT_ID"]) if "EVENT_ID" in opts else None,
        partition_key=_s(opts["PARTITION_KEY"]) if "PARTITION_KEY" in opts else None,
        timestamp_ms=(
            _int(opts["TIMESTAMP"], "TIMESTAMP")
            if "TIMESTAMP" in opts
            else time.time_ns() // 1_000_000
        ),
    )


def _append_resp(r, ts_ms: int) -> dict:
    """AppendResult → the server's EAppendResp map (eappend.rs:269-276);
    ``partition_key`` is filled in by the caller (it knows whether an
    explicit key was passed or the stream default applies)."""
    if not r.accepted:
        raise CommandError(r.error or "append rejected")
    return {
        "event_id": r.event_id,
        "partition_key": None,
        "partition_id": r.partition_id,
        "partition_sequence": r.partition_sequence,
        "stream_version": r.stream_version,
        "timestamp": ts_ms,
    }


def _as_of(opts: dict) -> "int | None":
    """AS_OF <commit> — an EXTENSION argument on every read command
    (the reference has no time travel; our manifest chain does, see
    EventStore ``as_of``). Reads resolve the snapshot at that commit."""
    return _int(opts["AS_OF"], "AS_OF commit") if "AS_OF" in opts else None


def _pk_of(stream_id: str) -> str:
    from sierradb_spark import ids

    return str(ids.partition_key_for_stream(stream_id))


def _event_rows(rows) -> list[dict]:
    """An Arrow table of events → the server's encode_event map shape
    (request.rs:798-812)."""
    c = rows.to_pydict()
    return [
        {
            "event_id": c["event_id"][i],
            "partition_key": c["partition_key"][i],
            "partition_id": c["partition_id"][i],
            "transaction_id": c["transaction_id"][i],
            "partition_sequence": c["partition_sequence"][i],
            "stream_version": c["stream_version"][i],
            "timestamp": c["timestamp_ns"][i] // 1_000_000,
            "stream_id": c["stream_id"][i],
            "event_name": c["event_name"][i],
            "metadata": c["metadata"][i] or b"",
            "payload": c["payload"][i] or b"",
        }
        for i in range(rows.num_rows)
    ]


def execute_command(store: EventStore, cmd: Any, *args: Any) -> Any:
    """Run one SierraDB command against the store; see module docstring."""
    name = _s(cmd).upper()
    a = list(args)
    if name == "PING":
        return "PONG"
    if name == "INFO":
        return store.stats()
    if name == "EAPPEND":
        if len(a) < 2:
            raise CommandError("EAPPEND <stream_id> <event_name> [options...]")
        opts, rest = _parse_append_opts(a[2:], _EAPPEND_OPTS)
        if rest:
            raise CommandError(f"unexpected arguments: {rest}")
        req = _append_request(_s(a[0]), _s(a[1]), opts)
        res = store.append([req])[0]
        if "PARTITION_KEY" in opts:
            pk = _s(opts["PARTITION_KEY"])
        else:
            pk = _pk_of(req.stream_id)
        out = _append_resp(res, req.timestamp_ms)
        out["partition_key"] = pk
        return out
    if name == "EMAPPEND":
        # EMAPPEND <partition_key> <stream1> <name1> [opts...] <stream2> ...
        if len(a) < 3:
            raise CommandError(
                "EMAPPEND <partition_key> <stream_id> <event_name> [options...] ..."
            )
        pk = _s(a[0])
        rest = a[1:]
        reqs: list[AppendRequest] = []
        while rest:
            if len(rest) < 2:
                raise CommandError("trailing event missing event_name")
            sid, ename = _s(rest[0]), _s(rest[1])
            opts, rest = _parse_append_opts(
                rest[2:], _EAPPEND_OPTS - {"PARTITION_KEY"}
            )
            opts["PARTITION_KEY"] = pk
            reqs.append(_append_request(sid, ename, opts))
        results = store.append_transaction(reqs)
        return [
            {**_append_resp(r, req.timestamp_ms), "partition_key": pk}
            for r, req in zip(results, reqs)
        ]
    if name == "EGET":
        if not a:
            raise CommandError("EGET <event_id> [AS_OF <commit>]")
        opts, rest = _parse_append_opts(a[1:], {"AS_OF"})
        if rest:
            raise CommandError(f"unexpected arguments: {rest}")
        eid = _s(a[0])
        try:
            _uuid.UUID(eid)
        except ValueError:
            # The reference rejects an unparseable id at the protocol
            # layer before any lookup; mirror that as a CommandError
            # rather than leaking the uuid module's ValueError.
            raise CommandError(f"EGET: {eid!r} is not a UUID")
        return _event_rows(store.get_rows(eid, as_of=_as_of(opts)))
    if name in ("ESCAN", "EPSCAN"):
        if len(a) < 3:
            raise CommandError(f"{name} requires <target> <start> <end>")
        target, start, end = a[0], _range(a[1]), _range(a[2])
        opts, rest = _parse_append_opts(
            a[3:],
            {"PARTITION_KEY", "COUNT", "AS_OF"}
            if name == "ESCAN"
            else {"COUNT", "AS_OF"},
        )
        direction = "forward"
        if rest and _s(rest[0]).upper() == "REVERSE":  # extension, iter.rs R6
            direction, rest = "reverse", rest[1:]
        if rest:
            raise CommandError(f"unexpected arguments: {rest}")
        count = _int(opts["COUNT"], "COUNT") if "COUNT" in opts else None
        if count is not None and count < 0:
            raise CommandError(f"COUNT must be >= 0, got {count}")
        if name == "ESCAN":
            rows = store.scan_rows(
                _s(target), start, end, count=count, direction=direction,
                partition_key=_s(opts["PARTITION_KEY"]) if "PARTITION_KEY" in opts else None,
                as_of=_as_of(opts),
            )
        else:
            rows = store.pscan_rows(
                _int(target, "partition"), start, end, count=count, direction=direction,
                as_of=_as_of(opts),
            )
        return _event_rows(rows)
    if name == "ESVER":
        if not a:
            raise CommandError("ESVER <stream_id> [PARTITION_KEY <pk>] [AS_OF <commit>]")
        opts, rest = _parse_append_opts(a[1:], {"PARTITION_KEY", "AS_OF"})
        if rest:
            raise CommandError(f"unexpected arguments: {rest}")
        return store.stream_version(
            _s(a[0]),
            partition_key=_s(opts["PARTITION_KEY"]) if "PARTITION_KEY" in opts else None,
            as_of=_as_of(opts),
        )
    if name == "EPSEQ":
        if not a:
            raise CommandError("EPSEQ <partition> [AS_OF <commit>]")
        opts, rest = _parse_append_opts(a[1:], {"AS_OF"})
        if rest:
            raise CommandError(f"unexpected arguments: {rest}")
        return store.partition_sequence(_int(a[0], "partition"), as_of=_as_of(opts))
    if name == "ECHANGES":
        # Extension: ECHANGES <since_commit> [TO <commit>] — the batch
        # change feed (EventStore.changes): events added by commits in
        # (since, to], compaction-safe (see changes() docstring). The
        # polling counterpart of ESUB at the same commit granularity.
        if not a:
            raise CommandError("ECHANGES <since_commit> [TO <commit>]")
        opts, rest = _parse_append_opts(a[1:], {"TO"})
        if rest:
            raise CommandError(f"unexpected arguments: {rest}")
        to = _int(opts["TO"], "TO commit") if "TO" in opts else None
        df = store.changes(_int(a[0], "since commit"), to=to)
        return _event_rows(df.orderBy("partition_id", "partition_sequence").toArrow())
    if name == "ESUB":
        return _parse_esub(store, a)
    if name == "EPSUB":
        return _parse_epsub(store, a)
    raise CommandError(f"unknown command {name}")


def _val(a: list, i: int, kw: str) -> Any:
    """The value token after keyword a[i]; CommandError when missing
    (a trailing keyword must not escape as IndexError)."""
    if i + 1 >= len(a):
        raise CommandError(f"{kw} requires a value")
    return a[i + 1]


def _parse_esub(store: EventStore, a: list):
    """ESUB <stream> [PARTITION_KEY pk] ... [FROM LATEST|<v>|MAP s=v...]
    [WINDOW n] → unstarted Subscription (esub.rs:23-55)."""
    from sierradb_spark.streaming.subscribe import StreamMatcher, Subscription

    streams: list[str] = []
    pkeys: dict[str, str] = {}
    window = None
    from_spec: Any = "LATEST_IMPLICIT"
    i = 0
    while i < len(a):
        tok = _s(a[i]).upper()
        if tok == "PARTITION_KEY":
            if not streams:
                raise CommandError("PARTITION_KEY before any stream")
            pkeys[streams[-1]] = _s(_val(a, i, "PARTITION_KEY"))
            i += 2
        elif tok == "WINDOW":
            window = _int(_val(a, i, "WINDOW"), "WINDOW")
            i += 2
        elif tok == "FROM":
            nxt = _s(_val(a, i, "FROM")).upper()
            if nxt == "LATEST":
                from_spec = "LATEST"
                i += 2
            elif nxt == "MAP":
                m: dict[str, int] = {}
                i += 2
                while i < len(a) and "=" in _s(a[i]):
                    k, _, v = _s(a[i]).partition("=")
                    m[k] = _int(v, "FROM MAP version")
                    i += 1
                from_spec = m
            else:
                from_spec = _int(a[i + 1], "FROM")
                i += 2
        else:
            streams.append(_s(a[i]))
            i += 1
    if not streams:
        raise CommandError("ESUB requires at least one stream")
    if from_spec in ("LATEST", "LATEST_IMPLICIT"):
        fv = {
            s: (store.stream_version(s, partition_key=pkeys.get(s)) or -1) + 1
            for s in streams
        }
    elif isinstance(from_spec, int):
        fv = {s: from_spec for s in streams}
    else:
        fv = {s: int(from_spec.get(s, 0)) for s in streams}
    return Subscription(
        store,
        StreamMatcher(tuple(streams), fv),
        max_files_per_trigger=window,
    )


def _parse_epsub(store: EventStore, a: list):
    """EPSUB *|<p>|<p1>-<p2> [FROM LATEST|<seq>|MAP p=s... [DEFAULT d]]
    [WINDOW n] → unstarted Subscription (epsub.rs:23-40)."""
    from sierradb_spark.streaming.subscribe import PartitionMatcher, Subscription

    if not a:
        raise CommandError("EPSUB requires a partition range")
    spec = _s(a[0])
    if spec == "*":
        partitions = None
    elif "-" in spec and not spec.lstrip("-").isdigit():
        lo, _, hi = spec.partition("-")
        partitions = tuple(
            range(_int(lo, "partition"), _int(hi, "partition") + 1)
        )
    else:
        partitions = (_int(spec, "partition"),)
    window = None
    from_spec: Any = "LATEST_IMPLICIT"
    default_from = 0
    i = 1
    while i < len(a):
        tok = _s(a[i]).upper()
        if tok == "WINDOW":
            window = _int(_val(a, i, "WINDOW"), "WINDOW")
            i += 2
        elif tok == "FROM":
            nxt = _s(_val(a, i, "FROM")).upper()
            if nxt == "LATEST":
                from_spec = "LATEST"
                i += 2
            elif nxt == "MAP":
                m: dict[int, int] = {}
                i += 2
                while i < len(a) and "=" in _s(a[i]):
                    k, _, v = _s(a[i]).partition("=")
                    m[_int(k, "FROM MAP partition")] = _int(v, "FROM MAP sequence")
                    i += 1
                from_spec = m
                if i < len(a) and _s(a[i]).upper() == "DEFAULT":
                    default_from = _int(_val(a, i, "DEFAULT"), "DEFAULT FROM")
                    i += 2
            else:
                from_spec = _int(a[i + 1], "FROM")
                i += 2
        else:
            raise CommandError(f"unexpected argument {a[i]!r}")
    wm = store._read_state().watermarks
    pids = list(partitions) if partitions is not None else sorted(wm)
    if from_spec in ("LATEST", "LATEST_IMPLICIT"):
        fs = {int(p): int(wm.get(int(p), -1)) + 1 for p in pids}
        default_from = 0 if partitions is not None else default_from
    elif isinstance(from_spec, int):
        fs = {int(p): from_spec for p in pids}
    else:
        fs = {int(p): int(s) for p, s in from_spec.items()}
    return Subscription(
        store,
        PartitionMatcher(
            partitions, fs, default_from=default_from
        ),
        max_files_per_trigger=window,
    )

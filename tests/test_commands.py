"""The reference client's call shape, run against our store.

Mirrors the reference README's example session (README.md:25-86):
``client.execute_command('EAPPEND', 'user-123', 'UserCreated', ...)`` —
a migrating user's call sites should work with only the client-object
swap."""

from __future__ import annotations

import pytest

from sierradb_spark.commands import CommandError, execute_command as ex
from sierradb_spark.eventstore import EventStore


@pytest.fixture()
def store(spark, tmp_path):
    return EventStore(spark, str(tmp_path / "cmdstore"))


def test_reference_readme_session(store):
    assert ex(store, "PING") == "PONG"

    r1 = ex(
        store, "EAPPEND", "user-123", "UserRegistered",
        "EXPECTED_VERSION", "empty",
        "PAYLOAD", '{"email":"alice@example.com","name":"Alice"}',
    )
    assert r1["stream_version"] == 0 and r1["partition_sequence"] == 0
    assert r1["event_id"] and r1["partition_key"]

    r2 = ex(
        store, "EAPPEND", "user-123", "EmailVerified",
        "EXPECTED_VERSION", 0, "PAYLOAD", '{"ts":"2024-10-18"}',
    )
    assert r2["stream_version"] == 1

    # Wrong expected version -> command error, nothing written.
    with pytest.raises(CommandError, match="version conflict"):
        ex(store, "EAPPEND", "user-123", "Nope", "EXPECTED_VERSION", 7)

    rows = ex(store, "ESCAN", "user-123", "-", "+", "COUNT", 100)
    assert [r["event_name"] for r in rows] == ["UserRegistered", "EmailVerified"]
    assert rows[0]["payload"] == b'{"email":"alice@example.com","name":"Alice"}'
    assert rows[0]["timestamp"] > 1_600_000_000_000  # milliseconds, not ns

    got = ex(store, "EGET", rows[1]["event_id"])
    assert [g["event_id"] for g in got] == [rows[1]["event_id"]]

    assert ex(store, "ESVER", "user-123") == 1
    assert ex(store, "ESVER", "ghost-stream") is None

    pid = rows[0]["partition_id"]
    assert ex(store, "EPSEQ", pid) == 1
    ps = ex(store, "EPSCAN", pid, 0, "+")
    assert [p["partition_sequence"] for p in ps] == [0, 1]

    info = ex(store, "INFO")
    assert info["total_events"] == 2


def test_emappend_atomic_and_reverse_scan(store):
    pk = ex(store, "EAPPEND", "seed", "Seed")["partition_key"]
    rs = ex(
        store, "EMAPPEND", pk,
        "order-1", "OrderCreated", "PAYLOAD", '{"total":99.99}',
        "order-1", "OrderPaid",
        "audit-1", "AuditEntry", "METADATA", '{"who":"alice"}',
    )
    assert [r["stream_version"] for r in rs] == [0, 1, 0]
    assert len({r["partition_id"] for r in rs}) == 1
    # Same transaction: EGET on any member returns all three.
    txn = ex(store, "EGET", rs[2]["event_id"])
    assert len(txn) == 3
    # The stream lives under the EXPLICIT partition key, so the scan
    # must name it (same rule as the reference's ESCAN PARTITION_KEY).
    rev = ex(store, "ESCAN", "order-1", "-", "+", "PARTITION_KEY", pk, "REVERSE")
    assert [r["event_name"] for r in rev] == ["OrderPaid", "OrderCreated"]


def test_eappend_emappend_start_no_spark_job(store, jobs_started):
    """EAPPEND (plain, fresh and stale EXPECTED_VERSION) and EMAPPEND
    commit on the driver: validation, assignment, the events write and
    the manifest publish start no Spark job."""
    pk = ex(store, "EAPPEND", "j-1", "Seed")["partition_key"]

    def stale():
        with pytest.raises(CommandError, match="version conflict"):
            ex(store, "EAPPEND", "j-1", "Stale", "EXPECTED_VERSION", 0)

    calls = {
        "plain": lambda: ex(store, "EAPPEND", "j-1", "Plain"),
        "fresh": lambda: ex(store, "EAPPEND", "j-1", "Fresh", "EXPECTED_VERSION", 1),
        "stale": stale,
        "emappend": lambda: ex(
            store, "EMAPPEND", pk, "j-1", "M1", "EXPECTED_VERSION", 2, "j-2", "M2"
        ),
    }
    for name, call in calls.items():
        _out, jobs = jobs_started(call)
        assert jobs == 0, f"{name} started {jobs} Spark job(s)"
    rows = ex(store, "ESCAN", "j-1", "-", "+")
    assert [r["event_name"] for r in rows] == ["Seed", "Plain", "Fresh", "M1"]
    assert ex(store, "ESVER", "j-2", "PARTITION_KEY", pk) == 0


def test_read_commands_start_no_spark_job(store, jobs_started):
    """EGET, ESCAN (forward and REVERSE, with and without COUNT),
    EPSCAN, ESVER and EPSEQ read on the driver: none starts a Spark job,
    and each still returns the committed rows."""
    first = ex(store, "EAPPEND", "r-1", "E0")
    for i in range(1, 4):
        ex(store, "EAPPEND", "r-1", f"E{i}")
    pid = first["partition_id"]
    names = lambda rows: [r["event_name"] for r in rows]  # noqa: E731
    calls = {
        "EGET": (("EGET", first["event_id"].upper()), names, ["E0"]),
        "ESCAN": (("ESCAN", "r-1", "-", "+"), names, ["E0", "E1", "E2", "E3"]),
        "ESCAN COUNT": (("ESCAN", "r-1", 1, "+", "COUNT", 2), names, ["E1", "E2"]),
        "ESCAN REVERSE": (("ESCAN", "r-1", "-", 2, "REVERSE"), names, ["E2", "E1", "E0"]),
        "ESCAN COUNT REVERSE": (
            ("ESCAN", "r-1", "-", "+", "COUNT", 2, "REVERSE"), names, ["E3", "E2"]
        ),
        "EPSCAN": (("EPSCAN", pid, 1, "+", "COUNT", 2), names, ["E1", "E2"]),
        "ESVER": (("ESVER", "r-1"), lambda v: v, 3),
        "EPSEQ": (("EPSEQ", pid), lambda v: v, 3),
    }
    for name, (args, view, want) in calls.items():
        out, jobs = jobs_started(lambda: ex(store, *args))
        assert jobs == 0, f"{name} started {jobs} Spark job(s)"
        assert view(out) == want, (name, out)
    with pytest.raises(CommandError, match="COUNT must be >= 0"):
        ex(store, "ESCAN", "r-1", "-", "+", "COUNT", -1)


def test_esub_epsub_build_matchers(store):
    ex(store, "EAPPEND", "s-a", "E1")
    ex(store, "EAPPEND", "s-a", "E2")
    sub = ex(store, "ESUB", "s-a", "FROM", 1, "WINDOW", 10)
    assert sub.matcher.streams == ("s-a",)
    assert sub.matcher.from_versions == {"s-a": 1}
    assert sub.max_files_per_trigger == 10

    # Implicit FROM -> latest+1 (nothing old redelivered).
    sub2 = ex(store, "ESUB", "s-a")
    assert sub2.matcher.from_versions == {"s-a": 2}

    sub3 = ex(store, "EPSUB", "*", "FROM", "MAP", "3=7", "DEFAULT", 2)
    assert sub3.matcher.partitions is None
    assert sub3.matcher.from_sequences == {3: 7}
    assert sub3.matcher.default_from == 2

    sub4 = ex(store, "EPSUB", "0-5", "FROM", 0)
    assert sub4.matcher.partitions == (0, 1, 2, 3, 4, 5)

    with pytest.raises(CommandError):
        ex(store, "NOSUCH")
    with pytest.raises(CommandError):
        ex(store, "ESCAN", "s-a", "x", "+")


def test_register_views_sql_access(store, spark):
    ex(store, "EAPPEND", "sql-1", "E1")
    ex(store, "EAPPEND", "sql-1", "E2")
    names = store.register_views()
    assert set(names) == {"sierra_events", "sierra_heads", "sierra_watermarks"}
    got = spark.sql(
        "SELECT stream_id, max(stream_version) v FROM sierra_events "
        "GROUP BY stream_id"
    ).collect()
    assert {(r["stream_id"], r["v"]) for r in got} == {("sql-1", 1)}
    heads = spark.sql(
        "SELECT max(stream_version) v FROM sierra_heads WHERE stream_id='sql-1'"
    ).collect()[0]["v"]
    assert heads == 1
    wm = spark.sql("SELECT sum(confirmed_sequence) s FROM sierra_watermarks")
    assert wm.collect()[0]["s"] == 1


def test_as_of_time_travel_reads(store):
    ex(store, "EAPPEND", "tt-1", "E1")  # commit 1
    ex(store, "EAPPEND", "tt-1", "E2")  # commit 2
    assert ex(store, "ESVER", "tt-1", "AS_OF", 1) == 0
    assert ex(store, "ESVER", "tt-1") == 1
    old = ex(store, "ESCAN", "tt-1", "-", "+", "AS_OF", 1)
    assert [r["event_name"] for r in old] == ["E1"]
    pid = old[0]["partition_id"]
    assert ex(store, "EPSEQ", pid, "AS_OF", 1) == 0
    assert ex(store, "EPSEQ", pid) == 1
    # EGET of the second event against the first snapshot: not visible.
    e2 = ex(store, "ESCAN", "tt-1", 1, 1)[0]["event_id"]
    assert ex(store, "EGET", e2, "AS_OF", 1) == []


def test_esub_built_subscription_delivers(store, tmp_path):
    """An ESUB-built Subscription must actually deliver: catchup from
    the parsed FROM version, ordered, exactly the matched stream."""
    ex(store, "EAPPEND", "d-a", "E0")
    ex(store, "EAPPEND", "d-a", "E1")
    ex(store, "EAPPEND", "d-b", "X0")
    ex(store, "EAPPEND", "d-a", "E2")
    sub = ex(store, "ESUB", "d-a", "FROM", 1)
    got: list = []
    sub.catchup(got.extend, str(tmp_path / "esub_ckpt"))
    assert [(r["stream_id"], r["stream_version"], r["event_name"]) for r in got] == [
        ("d-a", 1, "E1"),
        ("d-a", 2, "E2"),
    ]


def test_echanges_command_feed(store):
    ex(store, "EAPPEND", "ch-1", "A0")
    ex(store, "EAPPEND", "ch-2", "B0")
    ex(store, "EAPPEND", "ch-1", "A1")
    rows = ex(store, "ECHANGES", 1)
    assert [(r["stream_id"], r["event_name"]) for r in rows] == [
        ("ch-2", "B0"),
        ("ch-1", "A1"),
    ] or sorted((r["stream_id"], r["event_name"]) for r in rows) == [
        ("ch-1", "A1"),
        ("ch-2", "B0"),
    ]
    assert ex(store, "ECHANGES", 1, "TO", 2)[0]["event_name"] == "B0"
    assert ex(store, "ECHANGES", 3) == []
    with pytest.raises(CommandError):
        ex(store, "ECHANGES")


def test_malformed_integer_args_are_command_errors(store):
    """Every numeric command argument parses inside the command-error
    contract: malformed client input raises CommandError, never a raw
    ValueError (ADVICE r04: ECHANGES/EPSEQ previously leaked int())."""
    ex(store, "EAPPEND", "int-1", "E0")
    for args in (
        ("ECHANGES", "abc"),
        ("ECHANGES", "1", "TO", "xyz"),
        ("EPSEQ", "not-a-partition"),
        ("EPSCAN", "zero", "-", "+"),
        ("ESCAN", "int-1", "-", "+", "COUNT", "many"),
        ("ESCAN", "int-1", "-", "+", "AS_OF", "commitish"),
        ("EAPPEND", "int-1", "E1", "TIMESTAMP", "noon"),
    ):
        with pytest.raises(CommandError, match="expected integer"):
            ex(store, *args)


def test_changes_survives_concurrent_compaction_sweep(store):
    """A manifest unlinked between changes()'s listing and its load
    surfaces as SnapshotExpiredError (the documented condition), not a
    raw FileNotFoundError (ADVICE r04)."""
    import os

    from sierradb_spark.eventstore.store import SnapshotExpiredError

    ex(store, "EAPPEND", "cc-1", "E0")
    ex(store, "EAPPEND", "cc-1", "E1")
    orig = store._load_manifest

    def racing_load(name):
        # Simulate compact(retain_seconds=0) winning the race: the
        # listed manifest vanishes before the load.
        path = os.path.join(store.commits_path, name)
        if int(name.split(".")[0]) == 2 and os.path.exists(path):
            os.unlink(path)
        return orig(name)

    store._load_manifest = racing_load
    try:
        with pytest.raises(SnapshotExpiredError, match="compacted away"):
            store.changes(0)
    finally:
        store._load_manifest = orig


def test_eget_accepts_non_canonical_uuid_encodings(store):
    """r05 review: a stored event must be found under ANY valid UUID
    encoding of its id — uppercase, no-dash, urn:uuid:, braced — since
    the stored column is the canonical lowercase form (the append path
    writes str(UUID)); a raw string compare would silently return
    not-found for a real event."""
    res = ex(store, "EAPPEND", "canon-1", "E0", "PAYLOAD", "p")
    eid = res["event_id"]
    for variant in (
        eid.upper(),
        eid.replace("-", ""),
        f"urn:uuid:{eid}",
        "{" + eid + "}",
    ):
        rows = ex(store, "EGET", variant)
        assert [r["event_id"] for r in rows] == [eid], variant


def test_sub_parsers_missing_keyword_values_are_command_errors(store):
    """r05 review: a trailing keyword with no value in ESUB/EPSUB must
    raise CommandError, not IndexError (the contract the _int hardening
    pinned for bad values, extended to missing values)."""
    ex(store, "EAPPEND", "sub-1", "E0")
    for args in (
        ("ESUB", "sub-1", "WINDOW"),
        ("ESUB", "sub-1", "FROM"),
        ("ESUB", "sub-1", "PARTITION_KEY"),
        ("EPSUB", "*", "WINDOW"),
        ("EPSUB", "*", "FROM"),
        ("EPSUB", "*", "FROM", "MAP", "0=1", "DEFAULT"),
        ("EPSUB", "abc"),
        ("ESUB", "sub-1", "FROM", "MAP", "sub-1=xyz"),
    ):
        with pytest.raises(CommandError):
            ex(store, *args)

"""The benchmark's workloads. Each takes a started :class:`Bench`, builds
its fixture (timed, several times), runs its measured loop for
``bench.seconds``, checks the program's outputs and returns its
end-to-end values; per-layer extras go into ``bench.layer``.

Why each workload exists is recorded in BENCHMARK.json and README.md.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

import pandas as pd

from perfbench import checks, gen, queries
from perfbench.harness import Bench, dir_bytes
from perfbench.summary import median, tail

# ingest_growing: one growing store over Zipf-skewed streams, more
# streams than the append path's driver-side heads fold takes (1024).
INGEST_STREAMS = 20_000
INGEST_PRELOAD = 4_000
INGEST_BATCH = 2_000  # the batch size of bench.py's sustained-ingest loop
COMPACT_EVERY = 2  # batches per compaction cycle; several cycles per run

# point_ops_mixed: a store that fits the driver-side heads fold.
POINT_STREAMS = 800
POINT_PRELOAD = 3_000
# The op mix, as one block the schedule shuffles and repeats, so every
# seed runs the same proportions. An EAPPEND takes about three reads'
# time, so appends are kept to one op in nine: the pooled tail percentile
# (near the 80th at ~50 ops a run) then sits among the reads and does not
# jump between the two latency groups as the op count changes. EAPPENDs
# cycle through their own block: half unconditional, the rest with
# EXPECTED_VERSION, one in ten stale.
POINT_BLOCK = ("EGET", "ESCAN", "EPSCAN", "ESVER") * 2 + ("EAPPEND",)
APPEND_BLOCK = ("plain",) * 5 + ("fresh",) * 4 + ("stale",)
# Run once, unmeasured, before the loop: every op kind and append mode.
POINT_WARMUP = (("EGET", "plain"), ("ESCAN", "plain"), ("EPSCAN", "plain"),
                ("ESVER", "plain"), ("EAPPEND", "plain"), ("EAPPEND", "fresh"),
                ("EAPPEND", "stale"))
SCAN_COUNT = 50

# subscribe_live: a history to catch up on, then live appends on a schedule.
SUB_STREAMS = 2_000
SUB_HISTORY = 4_000
SUB_BATCH = 200
SUB_PERIOD_S = 2.0  # one batch per period, below the sustainable rate
SUB_TRIGGER = "250 milliseconds"
DRAIN_TIMEOUT_S = 30.0


def _cmd(*args):
    """``commands.execute_command`` looked up at call time, so the traced
    run's wrapper is the one called."""
    from sierradb_spark import commands

    return commands.execute_command(*args)


def _append_frame(b: Bench, store, pdf: pd.DataFrame, keys: bool = False):
    """append_df on one request frame; returns the accepted count, or the
    accepted rows' assignment when ``keys``."""
    res = store.append_df(b.spark.createDataFrame(pdf))
    with b.span("store.append_df.result_count"):
        ok = res.where("accepted")
        if keys:
            return ok.select(
                "event_id", "stream_id", "stream_version",
                "partition_id", "partition_sequence",
            ).toPandas()
        return ok.count()


WARM_PAYLOAD = b"warm-append"


def _warm_append(store, stream: str) -> dict:
    """The set-up's first command-path append; returns its response."""
    return _cmd(store, "EAPPEND", stream, "W", "PAYLOAD", WARM_PAYLOAD)


# --- shared correctness checks ------------------------------------------------


def check_store(b: Bench, store, expected: int, digest: int) -> pd.DataFrame:
    """Whole-store checks: event count, gapless partition sequences and
    stream versions, stored (stream, payload) digest, resolvable commit
    chain. Returns the committed events (without payloads)."""
    st = store.stats()
    b.check(
        []
        if st["total_events"] == expected
        else [f"stats total_events {st['total_events']} != accepted {expected}"]
    )
    ev = (
        store.events()
        .select("event_id", "stream_id", "stream_version", "partition_id",
                "partition_sequence", "payload")
        .toPandas()
    )
    b.check([] if len(ev) == expected else [f"events() has {len(ev)} rows, expected {expected}"])
    b.check(checks.gapless_problems(ev, "partition_id", "partition_sequence"))
    b.check(checks.gapless_problems(ev, "stream_id", "stream_version"))
    b.check(
        checks.digest_problems(
            digest, checks.multiset_digest(zip(ev["stream_id"], ev["payload"])),
            "stored (stream_id, payload)",
        )
    )
    cs = store.commits()
    b.check(
        checks.contiguous_problems(cs, cs[0] if cs else 0, "commits()")
        + ([] if cs and cs[-1] == st["commit"] else [f"commits() ends {cs[-1:]} != {st['commit']}"])
    )
    b.layer["store.commits_listed"] = len(cs)
    return ev.drop(columns=["payload"])


def spot_checks(b: Bench, store, ev: pd.DataFrame) -> None:
    """Command-path reads and conditional appends checked against the
    committed events ``ev``: ESVER, ESCAN, EGET, EPSCAN, EPSEQ, and an
    EAPPEND with a current then a stale EXPECTED_VERSION."""
    row = ev.iloc[int(b.rng.integers(len(ev)))]
    s, pid, eid = row["stream_id"], int(row["partition_id"]), row["event_id"]
    sv = ev[ev["stream_id"] == s].sort_values("stream_version")
    pv = ev[ev["partition_id"] == pid].sort_values("partition_sequence")
    last = int(sv["stream_version"].iloc[-1])
    with b.guarded("ESVER"):
        got = _cmd(store, "ESVER", s)
        b.check([] if got == last else [f"ESVER {s} = {got}, expected {last}"])
    with b.guarded("ESCAN"):
        got = [r["event_id"] for r in _cmd(store, "ESCAN", s, "-", "+", "COUNT", SCAN_COUNT)]
        b.check([] if got == sv["event_id"].tolist()[:SCAN_COUNT] else [f"ESCAN {s} mismatch"])
    with b.guarded("EGET"):
        got = _cmd(store, "EGET", eid)
        b.check(_eget_problems(got, eid, s, int(row["stream_version"])))
    with b.guarded("EPSCAN"):
        got = [r["event_id"] for r in _cmd(store, "EPSCAN", pid, "-", "+", "COUNT", SCAN_COUNT)]
        b.check([] if got == pv["event_id"].tolist()[:SCAN_COUNT] else [f"EPSCAN {pid} mismatch"])
    with b.guarded("EPSEQ"):
        got = _cmd(store, "EPSEQ", pid)
        want = int(pv["partition_sequence"].iloc[-1])
        b.check([] if got == want else [f"EPSEQ {pid} = {got}, expected {want}"])
    with b.guarded("EAPPEND EXPECTED_VERSION"):
        got = _cmd(store, "EAPPEND", s, "C", "PAYLOAD", b"c", "EXPECTED_VERSION", str(last))
        b.check([] if got["stream_version"] == last + 1 else [f"EAPPEND -> {got}"])
    b.check(_stale_problems(store, s, str(last)))


def _eget_problems(rows: list[dict], eid: str, stream: str, version: int) -> list[str]:
    hit = [r for r in rows if r["event_id"] == eid]
    if len(hit) != 1:
        return [f"EGET {eid}: {len(hit)} matching rows"]
    if (hit[0]["stream_id"], hit[0]["stream_version"]) != (stream, version):
        return [f"EGET {eid}: got {hit[0]['stream_id']}@{hit[0]['stream_version']}"]
    if len({r["transaction_id"] for r in rows}) != 1:
        return [f"EGET {eid}: rows from several transactions"]
    return []


def _stale_problems(store, stream: str, stale: str) -> list[str]:
    """An EAPPEND whose EXPECTED_VERSION is stale must be rejected."""
    from sierradb_spark.commands import CommandError

    try:
        got = _cmd(store, "EAPPEND", stream, "X", "PAYLOAD", b"x", "EXPECTED_VERSION", stale)
    except CommandError:
        return []
    return [f"stale EXPECTED_VERSION {stale} on {stream} accepted: {got}"]


def _store_layer(b: Bench, store) -> None:
    """Store-shape counts for the per-layer report (read after the loop)."""
    import pyarrow.parquet as pq

    st = store.stats()
    b.layer["store.events_files"] = st["events_files"]
    b.layer["store.events_bytes"] = st["events_bytes"]
    b.layer["store.heads_files"] = st["heads_files"]
    b.layer["store.total_bytes"] = dir_bytes(store.path)
    b.layer["store.heads_bytes"] = dir_bytes(store.heads_path)
    streams = set()
    for dp, _dn, fns in os.walk(store.heads_path):
        for f in fns:
            if f.endswith(".parquet"):
                t = pq.read_table(os.path.join(dp, f), columns=["stream_id"])
                streams.update(t.column("stream_id").to_pylist())
    b.layer["store.heads_streams"] = len(streams)


def _compact(b: Bench, store) -> float:
    """compact(), recording events files before and after; returns its
    seconds."""
    before = store.stats()["events_files"]
    t0 = time.perf_counter()
    store.compact()
    took = time.perf_counter() - t0
    b.compactions.append((before, store.stats()["events_files"], took))
    return took


def _payload_ratio(store, payload_bytes: int) -> float:
    return dir_bytes(store.path) / payload_bytes


# --- ingest_growing -------------------------------------------------------------


def ingest_growing(b: Bench) -> dict:
    from sierradb_spark.eventstore import EventStore

    names = gen.stream_names(INGEST_STREAMS)
    picker = gen.ZipfPicker(b.rng, INGEST_STREAMS)
    sent: list[tuple[str, bytes]] = []

    def build(rep: int):
        store = EventStore(b.spark, b.path(f"ingest-{rep}"))
        pdf = gen.request_frame(b.rng, picker, names, INGEST_PRELOAD)
        return store, pdf, _append_frame(b, store, pdf)

    (store, pdf, n), setup_reps = b.timed_setup(build)
    b.check([] if n == len(pdf) else [f"preload accepted {n} of {len(pdf)}"])
    sent += list(zip(pdf["stream_id"], pdf["payload"]))
    accepted = n

    def cycle(measured: bool) -> tuple[int, list[float]]:
        """One compaction cycle: compact(), then COMPACT_EVERY batches.
        The first batch waits on the compaction, as a closed-loop writer
        that compacts inline does, so its latency includes the stall.
        Returns the cycle's accepted events and batch latencies."""
        nonlocal accepted
        got, lat = 0, []
        t0 = time.perf_counter()
        with b.guarded("compact"), b.span("op.compact", new_op=measured):
            _compact(b, store)
        for _ in range(COMPACT_EVERY):
            pdf = gen.request_frame(b.rng, picker, names, INGEST_BATCH)
            with b.guarded("append_df batch"), b.span("op.append_batch", new_op=measured):
                n = _append_frame(b, store, pdf)
                lat.append(time.perf_counter() - t0)
                if b.check([] if n == len(pdf) else [f"batch accepted {n} of {len(pdf)}"]):
                    accepted += n
                    got += n
                    sent.extend(zip(pdf["stream_id"], pdf["payload"]))
            t0 = time.perf_counter()
        return got, lat

    # One unmeasured cycle first: after set-up the JVM is still compiling
    # the append and compaction paths, and the first batches are slower.
    # The storage ratio is taken after it, at a fixed amount of work.
    with b.span("warmup", new_op=True):
        cycle(measured=False)
    ratio = _payload_ratio(store, sum(len(p) for _s, p in sent))
    warm_events = accepted

    # Whole cycles; every value is a median over cycles, so a burst of
    # host contention in one cycle does not move it.
    stalled, plain, cycle_rates = [], [], []
    for t_cycle in b.loop():
        got, lat = cycle(measured=True)
        if len(lat) == COMPACT_EVERY:  # else a batch failed and is counted
            stalled.append(lat[0])
            plain.extend(lat[1:])
        cycle_rates.append(got / (time.perf_counter() - t_cycle))

    _store_layer(b, store)
    ev = check_store(b, store, accepted, checks.multiset_digest(sent))
    coverage_checks(b, store, ev)
    b.layer["writer.append_s"] = median(plain)
    b.detail.update(cycles=len(cycle_rates), stalled_batch_s=_r3(stalled),
                    plain_batch_s=_r3(plain), cycle_rates=_r3(cycle_rates),
                    compact_s=_r3([c[2] for c in b.compactions]),
                    loop_events=accepted - warm_events)
    return {
        "setup_reps": setup_reps,
        "rate_per_s": median(cycle_rates),
        "latency_p50_s": median(plain),
        "latency_tail_s": median(stalled),
        "bytes_per_payload_byte": ratio,
    }


def _r3(xs) -> list[float]:
    return [round(x, 3) for x in xs]


# --- point_ops_mixed ------------------------------------------------------------


class Model:
    """The client's record of every acknowledged event: per stream the
    event ids by version, per partition the event ids by sequence."""

    def __init__(self, acked: pd.DataFrame) -> None:
        self.versions: dict[str, list[str]] = {}
        self.parts: dict[int, list[str]] = {}
        self.pid: dict[str, int] = {}
        for r in acked.sort_values("partition_sequence").itertuples():
            self.add(r.stream_id, int(r.partition_id), r.event_id,
                     int(r.stream_version), int(r.partition_sequence))

    def add(self, stream: str, pid: int, eid: str, version: int, seq: int) -> list[str]:
        vs, ps = self.versions.setdefault(stream, []), self.parts.setdefault(pid, [])
        self.pid[stream] = pid
        bad = []
        if version != len(vs):
            bad.append(f"{stream}: acked version {version}, expected {len(vs)}")
        if seq != len(ps):
            bad.append(f"partition {pid}: acked sequence {seq}, expected {len(ps)}")
        vs.append(eid)
        ps.append(eid)
        return bad


def _cycle(rng, block):
    """Endless shuffled repetitions of ``block``."""
    while True:
        yield from (block[i] for i in rng.permutation(len(block)))


def _point_op(b: Bench, store, model: Model, kind: str, s: str, mode) -> list[str]:
    """Run one op against the store and check it against the model."""
    rng = b.rng
    vs = model.versions[s]
    pid = model.pid[s]
    if kind == "EGET":
        v = int(rng.integers(len(vs)))
        return _eget_problems(_cmd(store, "EGET", vs[v]), vs[v], s, v)
    if kind == "ESCAN":
        start = int(rng.integers(len(vs)))
        got = [r["event_id"] for r in _cmd(store, "ESCAN", s, start, "+", "COUNT", SCAN_COUNT)]
        return [] if got == vs[start : start + SCAN_COUNT] else [f"ESCAN {s} from {start} mismatch"]
    if kind == "EPSCAN":
        ps = model.parts[pid]
        start = int(rng.integers(len(ps)))
        got = [r["event_id"] for r in _cmd(store, "EPSCAN", pid, start, "+", "COUNT", SCAN_COUNT)]
        return [] if got == ps[start : start + SCAN_COUNT] else [f"EPSCAN {pid} from {start} mismatch"]
    if kind == "ESVER":
        got = _cmd(store, "ESVER", s)
        return [] if got == len(vs) - 1 else [f"ESVER {s} = {got}, expected {len(vs) - 1}"]
    # EAPPEND; a correct reject of a stale EXPECTED_VERSION is a success
    last = len(vs) - 1
    if mode == "stale":
        return _stale_problems(store, s, str(last - 1) if last >= 1 else "empty")
    opts = ["EXPECTED_VERSION", str(last)] if mode == "fresh" else []
    got = _cmd(store, "EAPPEND", s, "P", "PAYLOAD", b"p", *opts)
    return model.add(s, got["partition_id"], got["event_id"],
                     got["stream_version"], got["partition_sequence"])


def point_ops_mixed(b: Bench) -> dict:
    from sierradb_spark.eventstore import EventStore

    names = gen.stream_names(POINT_STREAMS)
    picker = gen.ZipfPicker(b.rng, POINT_STREAMS)
    ops, appends = _cycle(b.rng, POINT_BLOCK), _cycle(b.rng, APPEND_BLOCK)

    def build(rep: int):
        store = EventStore(b.spark, b.path(f"point-{rep}"))
        pdf = gen.request_frame(b.rng, picker, names, POINT_PRELOAD)
        acked = _append_frame(b, store, pdf, keys=True)
        w = _warm_append(store, "warm")
        return store, pdf, acked, w

    (store, pdf, acked, w), setup_reps = b.timed_setup(build)
    b.check([] if len(acked) == len(pdf) else ["preload not fully accepted"])
    model = Model(acked)
    b.check(model.add("warm", w["partition_id"], w["event_id"],
                      w["stream_version"], w["partition_sequence"]))
    sent = list(zip(pdf["stream_id"], pdf["payload"])) + [("warm", WARM_PAYLOAD)]

    def op(kind: str, mode) -> float | None:
        """One op on a Zipf-chosen stream, checked; returns its seconds, or
        None when it raised (counted as failed by ``guarded``)."""
        s = names[picker.one()]
        while s not in model.versions:  # a stream the preload never drew
            s = names[picker.one()]
        with b.guarded(kind), b.span(f"op.{kind}", new_op=True):
            before = len(model.versions[s])
            t0 = time.perf_counter()
            problems = _point_op(b, store, model, kind, s, mode)
            took = time.perf_counter() - t0
            b.check(problems)
            if len(model.versions[s]) > before:
                sent.append((s, b"p"))
            return took
        return None

    # The first command-path calls of each kind are still compiling; run
    # them once unmeasured. The storage ratio is taken after them, at a
    # fixed amount of work.
    with b.span("warmup", new_op=True):
        for kind, mode in POINT_WARMUP:
            op(kind, mode)
    ratio = _payload_ratio(store, sum(len(p) for _s, p in sent))

    # Whole blocks; the rate is the median over blocks of ops / block wall
    # time, so a burst of host contention in one block does not move it.
    lat: dict[str, list[float]] = {k: [] for k in POINT_BLOCK}
    block_rates = []
    for t_block in b.loop():
        for _ in POINT_BLOCK:
            kind = next(ops)
            took = op(kind, next(appends) if kind == "EAPPEND" else None)
            if took is not None:
                lat[kind].append(took)
        block_rates.append(len(POINT_BLOCK) / (time.perf_counter() - t_block))

    pooled = [x for v in lat.values() for x in v]
    _store_layer(b, store)
    expected = sum(len(v) for v in model.versions.values())
    ev = check_store(b, store, expected, checks.multiset_digest(sent))
    coverage_checks(b, store, ev)
    if lat["EAPPEND"]:
        b.layer["writer.append_s"] = median(lat["EAPPEND"])
    t, pct, n = tail(pooled)
    b.detail.update(ops=len(pooled), tail_percentile=pct, tail_samples=n,
                    op_p50_s={k: median(v) for k, v in lat.items() if v},
                    op_counts={k: len(v) for k, v in lat.items()})
    return {
        "setup_reps": setup_reps,
        "rate_per_s": median(block_rates),
        "latency_p50_s": median(pooled),
        "latency_tail_s": t,
        "bytes_per_payload_byte": ratio,
    }


def coverage_checks(b: Bench, store, ev: pd.DataFrame) -> None:
    """Traced run only: checks that also give every layer at least one
    sample on every workload — each command once (:func:`spot_checks`),
    a catch-up replay of the whole store, a compaction that must not
    change what a scan returns, and the registry-query phase
    (:func:`perfbench.queries.query_phase`). The measured loop has ended,
    so they do not touch the end-to-end numbers."""
    if not b.trace:
        return
    spot_checks(b, store, ev)
    _replay_check(b, store)
    s = ev["stream_id"].iloc[int(b.rng.integers(len(ev)))]
    before = [r["event_id"] for r in _cmd(store, "ESCAN", s, "-", "+")]
    with b.guarded("compact"):
        _compact(b, store)
        after = [r["event_id"] for r in _cmd(store, "ESCAN", s, "-", "+")]
        b.check([] if after == before else [f"ESCAN {s} changed across compact()"])
    queries.query_phase(b)


def _replay_check(b: Bench, store) -> None:
    """A catch-up subscription from an empty checkpoint delivers every
    committed event exactly once."""
    from sierradb_spark.streaming.subscribe import PartitionMatcher, Subscription

    tag = f"replay-{len(b.replays)}"
    sink = b.path(tag, "sink")
    with b.guarded("catch-up replay"):
        sub = Subscription(store, PartitionMatcher())
        t0 = time.perf_counter()
        sub.catchup_to_sink(sink, b.path(tag, "ckpt"))
        b.replays.append(time.perf_counter() - t0)
        wm = store.stats()["confirmed_sequences"]
        want = {(int(p), q) for p, top in wm.items() for q in range(top + 1)}
        b.check(checks.delivery_problems(_sink_keys(sink), want))


def _sink_keys(sink: str) -> list[tuple[int, int]]:
    """(partition_id, partition_sequence) of every row in a catch-up sink,
    duplicates kept, in the sink's (partition, sequence) order."""
    import pyarrow.dataset as ds

    if not os.path.isdir(sink):
        return []
    got = ds.dataset(sink, format="parquet", partitioning="hive").to_table(
        columns=["partition_id", "partition_sequence"]
    )
    return sorted(zip(got["partition_id"].to_pylist(), got["partition_sequence"].to_pylist()))


# --- subscribe_live -----------------------------------------------------------


def subscribe_live(b: Bench) -> dict:
    from sierradb_spark.eventstore import EventStore
    from sierradb_spark.streaming.subscribe import PartitionMatcher, Subscription

    names = gen.stream_names(SUB_STREAMS)
    picker = gen.ZipfPicker(b.rng, SUB_STREAMS)

    def build(rep: int):
        store = EventStore(b.spark, b.path(f"sub-{rep}"))
        pdf = gen.request_frame(b.rng, picker, names, SUB_HISTORY)
        n = _append_frame(b, store, pdf)
        w = _warm_append(store, "warm")
        return store, pdf, n, w

    (store, pdf, n, w), setup_reps = b.timed_setup(build)
    b.check([] if n == len(pdf) else [f"history accepted {n} of {len(pdf)}"])
    sent = list(zip(pdf["stream_id"], pdf["payload"])) + [("warm", WARM_PAYLOAD)]
    history = store.stats()
    hist_keys = {
        (int(p), s) for p, wm in history["confirmed_sequences"].items() for s in range(wm + 1)
    }

    # Catch-up: everything committed so far, to a parquet sink.
    sub = Subscription(store, PartitionMatcher())
    ckpt, sink = b.path("sub-ckpt"), b.path("sub-sink")
    with b.span("op.catchup", new_op=True):
        t0 = time.perf_counter()
        sub.catchup_to_sink(sink, ckpt)
        catchup_s = time.perf_counter() - t0
    b.replays.append(catchup_s)
    b.check(checks.delivery_problems(_sink_keys(sink), hist_keys))

    # Live: same checkpoint, 250 ms trigger, a writer on a fixed schedule.
    n_batches = int(b.seconds / SUB_PERIOD_S + 0.999)
    frames = [
        gen.request_frame(b.rng, picker, names, SUB_BATCH, event_name=f"b{i}")
        for i in range(n_batches)
    ]
    lock = threading.Lock()
    delivered: list[tuple[int, int]] = []
    got_per_batch = [0] * n_batches
    done_at: list[float | None] = [None] * n_batches

    def deliver(rows) -> None:
        now = time.perf_counter()
        with lock:
            for r in rows:
                delivered.append((r["partition_id"], r["partition_sequence"]))
                name = r["event_name"]
                if name.startswith("b"):
                    i = int(name[1:])
                    got_per_batch[i] += 1
                    if got_per_batch[i] == SUB_BATCH:
                        done_at[i] = now

    due = [0.0] * n_batches
    sent_at: list[float] = [0.0] * n_batches
    committed: list[float | None] = [None] * n_batches
    written: list[set] = [set() for _ in range(n_batches)]
    append_s: list[float] = []
    writer_errors: list[str] = []

    def writer(t0: float) -> None:
        for i, f in enumerate(frames):
            due[i] = t0 + i * SUB_PERIOD_S
            pause = due[i] - time.perf_counter()
            if pause > 0:
                time.sleep(pause)
            sent_at[i] = time.perf_counter()
            try:
                with b.span("op.writer_append", new_op=True):
                    acked = _append_frame(b, store, f, keys=True)
            except Exception as e:  # reported as a failed op below
                writer_errors.append(f"writer batch {i}: {type(e).__name__}: {e}")
                continue
            committed[i] = time.perf_counter()
            append_s.append(committed[i] - sent_at[i])
            written[i] = set(zip(acked["partition_id"].astype(int), acked["partition_sequence"].astype(int)))

    q = sub.start(deliver, ckpt, available_now=False, trigger_interval=SUB_TRIGGER)
    try:
        t0 = time.perf_counter() + SUB_PERIOD_S / 2
        th = threading.Thread(target=writer, args=(t0,), name="perfbench-writer")
        th.start()
        th.join(timeout=b.seconds + 60)
        deadline = time.perf_counter() + DRAIN_TIMEOUT_S
        while time.perf_counter() < deadline:
            with lock:
                if all(d is not None for d, c in zip(done_at, committed) if c is not None):
                    break
            time.sleep(0.05)
    finally:
        q.stop()
    for e in writer_errors:
        b.check([e])
    for i in range(n_batches):
        if committed[i] is not None:
            sent += list(zip(frames[i]["stream_id"], frames[i]["payload"]))
    live_keys = set().union(*written) if written else set()
    b.check(checks.delivery_problems(delivered, live_keys))
    lags = [d - due[i] for i, d in enumerate(done_at) if d is not None]
    c2d = [d - committed[i] for i, d in enumerate(done_at) if d is not None]
    if not lags:
        b.check(["no live batch was delivered"])
        lags = c2d = [float("nan")]

    payload_bytes = sum(len(p) for _s, p in sent)
    ratio = _payload_ratio(store, payload_bytes)
    _store_layer(b, store)
    ev = check_store(b, store, len(sent), checks.multiset_digest(sent))
    coverage_checks(b, store, ev)

    b.layer["subscribe.commit_to_deliver_s"] = median(c2d)
    b.layer["writer.append_s"] = median(append_s) if append_s else 0.0
    b.layer["writer.late_s"] = median([max(0.0, s - d) for s, d in zip(sent_at, due)])
    b.layer["subscribe.backlog_trend"] = _slope(lags)
    t, pct, n = tail(lags)
    b.detail.update(live_batches=len(lags), tail_percentile=pct, tail_samples=n,
                    history_events=len(hist_keys), catchup_s=catchup_s)
    return {
        "setup_reps": setup_reps,
        "rate_per_s": len(hist_keys) / catchup_s,
        "latency_p50_s": median(lags),
        "latency_tail_s": t,
        "bytes_per_payload_byte": ratio,
    }


def _slope(ys: list[float]) -> float:
    """Least-squares slope of lag over batch index (s per batch): above 0
    the live backlog grows."""
    if len(ys) < 2:
        return 0.0
    xs = list(range(len(ys)))
    return statistics.linear_regression(xs, ys).slope


WORKLOADS = {
    "ingest_growing": ingest_growing,
    "point_ops_mixed": point_ops_mixed,
    "subscribe_live": subscribe_live,
}

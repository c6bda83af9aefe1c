"""Span tracer for the traced run.

Spans are recorded around calls into the library's public entry points
by replacing those attributes for the length of a run (the library's
files are not edited). Each span keeps its name, start, end, parent and
op id in memory; the summary is computed when the run ends. Spans nest
per thread: a span's parent is the innermost open span on the same
thread.

When a SparkContext is given, every span also runs under its own Spark
job group, so the jobs, stages and tasks a span started can be read
back from the public ``statusTracker`` after the run. Spans around
DataFrame actions also keep the action's Catalyst phase durations from
``queryExecution().tracker()``.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable, Iterable, Optional

PHASES = ("analysis", "optimization", "planning")


@dataclass
class Span:
    id: int
    name: str
    parent: Optional[int]
    op: Optional[int]
    start: float = 0.0
    end: float = 0.0
    group: Optional[str] = None
    phases_ms: dict = field(default_factory=dict)
    jobs: int = 0
    stages: int = 0
    tasks: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: Iterable[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its
    children cover (overlapping children are counted once)."""
    spans = list(spans)
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out: dict[int, float] = {}
    for s in spans:
        covered, reach = 0.0, s.start
        for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, reach), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s.id] = s.duration - covered
    return out


def subtree(spans: Iterable[Span], root_ids: set[int]) -> list[Span]:
    """The spans with ids in ``root_ids`` and all their descendants."""
    spans = list(spans)
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    by_id = {s.id: s for s in spans}
    out, todo = [], [i for i in root_ids if i in by_id]
    while todo:
        s = by_id[todo.pop()]
        out.append(s)
        todo.extend(c.id for c in children.get(s.id, ()))
    return out


class Tracer:
    """Collects spans; ``install`` patches call sites, ``uninstall``
    restores them."""

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._ops = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object, bool]] = []
        self.queries: list = []  # StreamingQuery objects seen by hooks

    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextmanager
    def span(self, name: str, new_op: bool = False):
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = Span(
            id=next(self._ids),
            name=name,
            parent=parent.id if parent else None,
            op=next(self._ops) if new_op or parent is None else parent.op,
        )
        old = None
        if self.sc is not None:
            sp.group = f"perfbench-{sp.id}"
            old = (
                self.sc.getLocalProperty("spark.jobGroup.id"),
                self.sc.getLocalProperty("spark.job.description"),
            )
            self.sc.setJobGroup(sp.group, name)
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if old is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", old[0])
                self.sc.setLocalProperty("spark.job.description", old[1])
            with self._lock:
                self.spans.append(sp)

    # --- patching ------------------------------------------------------------

    def wrap(
        self,
        owner,
        attr: str,
        name: str | Callable[[tuple], str],
        after: Callable[[Span, tuple, object], None] | None = None,
    ) -> None:
        """Replace ``owner.attr`` with a version that runs in a span.
        ``name`` may be a function of the call's positional arguments."""
        own = attr in vars(owner)
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name(args) if callable(name) else name) as sp:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(sp, args, out)
                return out

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig, own))

    def uninstall(self) -> None:
        for owner, attr, orig, own in reversed(self._patched):
            if own:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)
        self._patched.clear()

    def install(self) -> None:
        """Wrap the library's public entry points, plus the DataFrame
        actions and the parquet writer they end in."""
        from pyspark.sql import DataFrameWriter
        from pyspark.sql.classic.dataframe import DataFrame  # the one sessions return

        from sierradb_spark import commands
        from sierradb_spark.eventstore.store import EventStore
        from sierradb_spark.streaming import ingest
        from sierradb_spark.streaming.subscribe import Subscription

        self.wrap(ingest, "enrich_requests", "ingest.enrich_requests")
        self.wrap(
            EventStore, "append_transactions",
            lambda a: "store.append_transactions."
            + ("precondition" if any(r.expected_version != "any" for t in a[1] for r in t) else "plain"),
        )
        for m in (
            "append_df", "partition_sequence",
            "stats", "commits", "events", "get", "scan", "pscan",
            "stream_version", "compact",
        ):
            self.wrap(EventStore, m, f"store.{m}")
        self.wrap(
            commands, "execute_command", lambda a: f"commands.{str(a[1]).upper()}"
        )
        keep = lambda sp, a, q: self.queries.append(q)  # noqa: E731
        self.wrap(Subscription, "catchup_to_sink", "subscribe.catchup_to_sink")
        self.wrap(Subscription, "start", "subscribe.start", after=keep)
        self.wrap(Subscription, "start_to_sink", "subscribe.start_to_sink", after=keep)
        for m in ("collect", "count", "toPandas"):
            self.wrap(DataFrame, m, f"spark.{m}", after=self._phases)
        self.wrap(DataFrameWriter, "parquet", "spark.write.parquet")

    @staticmethod
    def _phases(sp: Span, args: tuple, _out) -> None:
        df = args[0]
        try:
            phases = df._jdf.queryExecution().tracker().phases()
        except Exception:  # a DataFrame without a JVM plan (never seen)
            return
        for p in PHASES:
            o = phases.get(p)
            if o.isDefined():
                sp.phases_ms[p] = float(o.get().durationMs())

    # --- after the run ---------------------------------------------------------

    def resolve_jobs(self) -> None:
        """Fill each span's own job/stage/task counts from its job group.
        Runs once after the measured work, when the listener bus has
        delivered every job event."""
        if self.sc is None:
            return
        try:  # drain the async listener bus so the status store is complete
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:
            time.sleep(1.0)
        st = self.sc.statusTracker()
        stage_tasks: dict[int, int] = {}
        for sp in self.spans:
            if sp.group is None:
                continue
            for j in st.getJobIdsForGroup(sp.group):
                info = st.getJobInfo(j)
                if info is None:
                    continue
                sp.jobs += 1
                for s in info.stageIds:
                    if s not in stage_tasks:
                        si = st.getStageInfo(s)
                        stage_tasks[s] = si.numTasks if si is not None else 0
                    sp.stages += 1
                    sp.tasks += stage_tasks[s]


def layer_table(spans: list[Span]) -> dict[str, dict]:
    """Per span name: calls, inclusive seconds and self seconds."""
    selfs = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        row = out.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        row["calls"] += 1
        row["total_s"] += s.duration
        row["self_s"] += selfs[s.id]
    return out

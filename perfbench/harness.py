"""Run-time plumbing shared by the workloads: host-fit Spark settings, a
scratch directory inside the checkout, op/check accounting, the timed
set-up repetitions and a clean shutdown of the JVM."""

from __future__ import annotations

import os
import resource
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager, nullcontext

import numpy as np

# Driver heap for a host shared with other jobs; the library default
# (48g) assumes a large dedicated machine.
DRIVER_MEMORY = "4g"
# Set-up is repeated this many times per run; setup_s reports the median.
SETUP_REPS = 3


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    """Diagnostic only: recorded before and after a run, never used to
    discard, repeat or choose runs."""
    return [round(x, 2) for x in os.getloadavg()]


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal, ...), or [] where there is none."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def steal_pct(before: list[int], after: list[int]) -> float | None:
    """Share of CPU time the hypervisor gave to others between two
    readings (diagnostic only, like the load average)."""
    if len(before) < 8 or len(after) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return round(100.0 * d[7] / max(1, sum(d)), 2)


class Bench:
    """One benchmark run: its seed, clock, scratch space, Spark session,
    tracer and the attempted/failed tally."""

    def __init__(self, root: str, seed: int, seconds: float, trace: bool) -> None:
        self.root = root
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.rng = np.random.default_rng(seed)  # the only source of inputs
        self.work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.detail: dict = {"cpus": host_cpus(), "loadavg_before": loadavg()}
        self._ticks = cpu_ticks()
        self.layer: dict = {}  # per-layer values filled by the workload
        self.compactions: list[tuple[int, int, float]] = []  # files before, after, s
        self.replays: list[float] = []  # seconds of each catch-up subscription
        self.spark = None
        self.tracer = None
        if trace:
            from perfbench.tracer import Tracer

            self.tracer = Tracer()  # gets the SparkContext once there is one
        self._jvm_proc = None

    # --- environment ---------------------------------------------------------

    def start(self) -> float:
        """Prepare the scratch space and environment, start Spark, return
        the seconds ``get_spark`` took."""
        shutil.rmtree(self.work, ignore_errors=True)
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        cpus = str(host_cpus())
        os.environ["SPARK_GRAFT_CPUS"] = cpus
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        # Keep the JVMs' temp files (and no perf-data file) in the checkout.
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        # Spark's Python workers import the library too.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p
        )
        from pyspark import SparkContext

        from sierradb_spark import session

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # keep every job's record for the traced run's per-span counts
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
        }
        t0 = time.perf_counter()
        with self.span("session.get_spark"):
            self.spark = session.get_spark(
                app_name="perfbench", shuffle_partitions=int(cpus), extra_conf=conf
            )
        took = time.perf_counter() - t0
        self._jvm_proc = SparkContext._gateway.proc
        if self.tracer is not None:
            self.tracer.sc = self.spark.sparkContext
            self.tracer.install()
        return took

    def stop(self) -> None:
        """Stop Spark, end the JVM and wait for it, remove scratch space."""
        if self.tracer is not None:
            self.tracer.uninstall()
        if self.spark is not None:
            self.spark.stop()
        proc = self._jvm_proc
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits when stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.work))
        except OSError:
            pass
        self.detail["loadavg_after"] = loadavg()
        self.detail["steal_pct"] = steal_pct(self._ticks, cpu_ticks())

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # --- tracing -------------------------------------------------------------

    def span(self, name: str, new_op: bool = False):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(name, new_op=new_op)

    # --- accounting ----------------------------------------------------------

    def check(self, problems: list[str]) -> bool:
        """Count one check (or checked op); a non-empty problem list is a
        failure."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems)
            for p in problems:
                print(f"CHECK FAILED: {p}", file=sys.stderr)
        return not problems

    @contextmanager
    def guarded(self, what: str):
        """An op that raises counts as failed; the run goes on."""
        try:
            yield
        except Exception as e:  # boundary: the loop must keep running
            traceback.print_exc(file=sys.stderr)
            self.check([f"{what} raised {type(e).__name__}: {e}"])

    def loop(self):
        """Yield the start time of each round (a compaction cycle, an op
        block) of the measured loop. Another round starts only while it is
        expected, at the mean round time so far, to end within ``seconds``.
        So every run of a workload measures the same number of rounds
        unless its speed changes by a round's share of the time."""
        t0 = time.perf_counter()
        rounds = 0
        while True:
            now = time.perf_counter()
            if rounds and (now - t0) * (1 + 1 / rounds) > self.seconds:
                return
            yield now
            rounds += 1

    def timed_setup(self, build) -> tuple[object, list[float]]:
        """Run ``build(rep)`` SETUP_REPS times, each on fresh state, and
        return the last fixture plus each repetition's seconds."""
        times, fixture = [], None
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            with self.span("fixture.preload", new_op=True):
                fixture = build(rep)
            times.append(time.perf_counter() - t0)
        return fixture, times


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _dn, fns in os.walk(path):
        for f in fns:
            try:
                total += os.path.getsize(os.path.join(dp, f))
            except OSError:
                pass
    return total


def rss_peak_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def jvm_rss_peak_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_heap_peak_mb(spark) -> float:
    """Sum of the heap pools' peak usage (an upper bound on the peak of
    the total, from the JVM's public memory MXBeans)."""
    total = 0
    for pool in spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        if str(pool.getType()) == "Heap memory":
            total += pool.getPeakUsage().getUsed()
    return total / (1024.0 * 1024.0)

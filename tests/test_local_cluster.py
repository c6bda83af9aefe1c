"""Real multi-JVM verification of the memo cluster path.

Everything about the executor-loss machinery was previously verified in
``local[*]`` with SIMULATED ``SparkListenerExecutorRemoved`` events
(tests/test_dedup_wide.py) — the stamps were always ``{"driver"}`` and
no block ever actually lived off-driver. Spark's ``local-cluster[n,c,m]``
master launches a real standalone master/worker plus SEPARATE executor
JVMs inside this container, which lets the whole story run for real:

- ``get_spark`` must auto-install the loss listener (the r10
  ``local-cluster`` master fix: the old ``startswith("local")`` check
  classified it as local, stamped ``{"driver"}``, and skipped the
  listener — on the one master where executor loss genuinely kills
  localCheckpoint blocks),
- memo stamps must carry REAL executor ids,
- ``SparkContext.killExecutor`` of a stamped executor must flow through
  the real listener bus into the targeted invalidation, the entry's
  blocks must be released, and the next consumer must rebuild on the
  survivor,
- a removal of an executor absent from every stamp must leave the
  rebuilt entry warm (the dynamic-allocation targeting claim).

A second SparkContext cannot coexist with the suite's session-scoped
fixture, so the scenario runs in a subprocess with its own JVM. ~60 s.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

# r12 slow tier (pytest.ini): local-cluster multi-JVM scenarios (real executor JVMs, memo kill fuzz) —
# deselected from the driver's default verify run, kept in the
# builder's full gate.
pytestmark = pytest.mark.slow

_SCENARIO = r"""
import time

from sierradb_spark.session import get_spark
from sierradb_spark.functions import dedup_wide
from sierradb_spark.functions.memo import _LISTENERS

spark = get_spark(
    app_name="lc-memo-scenario",
    master="local-cluster[2,1,2048]",
    shuffle_partitions=4,
    extra_conf={
        "spark.executor.memory": "1g",
        "spark.driver.memory": "2g",
    },
)
sc = spark.sparkContext
sf = "/root/testdata/sf0.001"
key = (sc.applicationId, sf)

# 1) the factory classified local-cluster as a CLUSTER master
listener = _LISTENERS.get(sc.applicationId)
assert listener is not None, "loss listener not auto-installed"

# 2) a memo built here is stamped with the real executor ids
bands = dedup_wide._wide_bands(spark, sf)
assert bands.count() == 8000
stamp = dedup_wide._BANDS_MEMO.built_on[key]
assert stamp == frozenset({"0", "1"}), stamp
rdd_id = bands._jdf.queryExecution().analyzed().rdd().id()
cached = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
assert rdd_id in cached, "checkpoint blocks not registered"

# 3) kill a stamped executor FOR REAL: the removal must reach the
# listener through the real bus and drop exactly this entry
assert sc._jsc.sc().killExecutor("0")
deadline = time.time() + 90
while time.time() < deadline and "0" not in listener.removals:
    time.sleep(0.5)
assert "0" in listener.removals, listener.removals
assert key not in dedup_wide._BANDS_MEMO, "stamped entry not dropped"
cached = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
assert rdd_id not in cached, "dropped entry's blocks not released"

# 4) the next consumer rebuilds on the survivor, stamped accordingly
rebuilt = dedup_wide._wide_bands(spark, sf)
assert rebuilt is not bands
assert rebuilt.count() == 8000
assert dedup_wide._BANDS_MEMO.built_on[key] == frozenset({"1"})

# 5) targeting: a removal of an executor in NO stamp (posted through
# the real bus — a benign fake id, never the driver) leaves it warm
jvm = sc._gateway.jvm
event = jvm.org.apache.spark.scheduler.SparkListenerExecutorRemoved(
    int(time.time() * 1000), "exec-joined-later", "simulated scale-down"
)
sc._jsc.sc().listenerBus().post(event)
deadline = time.time() + 30
while time.time() < deadline and "exec-joined-later" not in listener.removals:
    time.sleep(0.2)
assert "exec-joined-later" in listener.removals
assert dedup_wide._wide_bands(spark, sf) is rebuilt, "warm memo nuked"

# 6) the Python-UDF path across REAL executor boundaries: registry
# mapInPandas queries ship Arrow batches to worker Python processes
# that must import sierradb_spark themselves (the classic cluster
# failure mode local[*] can't catch — there the "worker" shares the
# driver's interpreter environment). PYTHONPATH is inherited from the
# subprocess env, exactly the deployment posture docs/SCALE.md
# prescribes (spark.executorEnv / --py-files on a real cluster).
from sierradb_spark.operators import REGISTRY

decoded = REGISTRY.queries["multimodal_decode_metadata"].spark(spark, sf)
assert decoded.count() > 0, "mapInPandas over real executors returned 0"

# 7) the event-store write/read path on real executors: enrichment,
# gapless version assignment, the CAS manifest commit, heads-log fold,
# and the watermark-gated scan all run with tasks scheduled across two
# separate executor JVMs instead of driver-local threads.
import shutil
import tempfile

from sierradb_spark.config import EngineConfig
from sierradb_spark.eventstore import AppendRequest, EventStore

store_dir = tempfile.mkdtemp(prefix="lc-store-")
try:
    store = EventStore(spark, store_dir, EngineConfig())
    res = store.append(
        [AppendRequest(f"s{i}", "E", b"{}", expected_version="empty") for i in range(8)]
    )
    assert all(r.accepted for r in res), res
    assert store.scan("s3").count() == 1
    assert store.stream_version("s3") == 0
finally:
    shutil.rmtree(store_dir, ignore_errors=True)

spark.stop()
print("LOCAL-CLUSTER-SCENARIO-OK")
"""


def test_memo_loss_machinery_on_real_executors():
    env = dict(os.environ)
    env["PYTHONPATH"] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _SCENARIO],
        capture_output=True,
        text=True,
        timeout=420,
        env=env,
        cwd="/tmp",
    )
    assert proc.returncode == 0, (
        f"scenario failed\nstdout:\n{proc.stdout[-4000:]}\n"
        f"stderr:\n{proc.stderr[-4000:]}"
    )
    assert "LOCAL-CLUSTER-SCENARIO-OK" in proc.stdout


# r11 (VERDICT item 6): the scripted scenario above proves each branch
# once; this SEEDED scenario closes the "scripted once" -> "fuzzed" gap
# by driving a randomized command sequence — build / kill-and-replace a
# random live executor / invalidate the sf_dir / post a benign fake
# removal — against a state model, on the same real multi-JVM master.
# Cumulative distinct green seeds: 11, 17 (defaults below),
# 23, 29, a second r11 batch 31, 41, 59, and a third batch 43, 47 on
# the post-review-fix memo code (run via SPARK_GRAFT_LC_FUZZ_SEEDS) —
# 9 distinct seeds green.
_FUZZ_SCENARIO = r"""
import os
import random
import time

from sierradb_spark.session import get_spark
from sierradb_spark.functions import dedup_wide
from sierradb_spark.functions.memo import _LISTENERS, invalidate_sf_dir

seed = int(os.environ["LC_FUZZ_SEED"])
rng = random.Random(seed)

spark = get_spark(
    app_name="lc-memo-fuzz",
    master="local-cluster[2,1,2048]",
    shuffle_partitions=4,
    extra_conf={
        "spark.executor.memory": "1g",
        "spark.driver.memory": "2g",
    },
)
sc = spark.sparkContext
listener = _LISTENERS[sc.applicationId]
memo = dedup_wide._BANDS_MEMO
sf = "/root/testdata/sf0.001"
key = (sc.applicationId, sf)


def live_ids():
    seq = sc._jsc.sc().getExecutorIds()
    return {str(seq.apply(i)) for i in range(seq.size())}


def wait(pred, t=90.0):
    deadline = time.time() + t
    while time.time() < deadline:
        if pred():
            return True
        time.sleep(0.5)
    return False


assert wait(lambda: len(live_ids()) >= 2, 120), "executors never came up"

kills = 0
builds = 0
for step in range(10):
    roll = rng.random()
    if roll < 0.55 and kills < 3 and step > 0:
        alive = sorted(live_ids())
        if not alive:
            assert wait(lambda: len(live_ids()) >= 1, 60), "no executors"
            alive = sorted(live_ids())
        victim = rng.choice(alive)
        stamp = memo.built_on.get(key)
        had = key in memo
        affected = had and (stamp is None or victim in stamp)
        n_before = len(listener.removals)
        # kill AND replace: the standalone worker relaunches a fresh
        # executor (new id), so multiple kills stay multi-executor —
        # the dynamic-allocation churn shape
        assert sc._jsc.sc().killAndReplaceExecutor(victim), victim
        assert wait(lambda: victim in listener.removals[n_before:]), (
            step, victim, listener.removals,
        )
        kills += 1
        if affected:
            # the handler appends to removals BEFORE invalidating, so
            # poll the memo itself for the drop
            assert wait(lambda: key not in memo, 30), (step, victim)
        else:
            time.sleep(1.0)  # give a (buggy) invalidation time to land
            assert (key in memo) == had, (step, victim, stamp)
        wait(lambda: len(live_ids()) >= 2, 60)  # replacement (bounded)
    elif roll < 0.75:
        before = memo.get(key)
        df = dedup_wide._wide_bands(spark, sf)
        assert df.count() == 8000, step
        builds += 1
        assert key in memo, step
        if before is not None:
            assert memo.get(key) is before, step  # hit stayed warm
        assert memo.built_on[key], step  # real, non-empty stamp
    elif roll < 0.9:
        had = key in memo
        dropped = invalidate_sf_dir(sf)
        assert key not in memo, step
        assert dropped >= (1 if had else 0), step
    else:
        cur = memo.get(key)
        fake = "fuzz-fake-%d" % step
        jvm = sc._gateway.jvm
        ev = jvm.org.apache.spark.scheduler.SparkListenerExecutorRemoved(
            int(time.time() * 1000), fake, "simulated scale-down"
        )
        sc._jsc.sc().listenerBus().post(ev)
        assert wait(lambda: fake in listener.removals, 30), step
        time.sleep(0.5)
        if cur is not None:
            assert memo.get(key) is cur, step  # no-stamp-match: warm

# closing invariants: the handler never failed silently, and a final
# build works on whatever executors survived the churn
assert listener.errors == [], listener.errors
assert dedup_wide._wide_bands(spark, sf).count() == 8000
spark.stop()
print("LC-FUZZ-OK seed=%d kills=%d builds=%d" % (seed, kills, builds))
"""

_FUZZ_SEEDS = [
    int(s)
    for s in os.environ.get("SPARK_GRAFT_LC_FUZZ_SEEDS", "11,17").split(",")
    if s.strip()
]


@pytest.mark.parametrize("seed", _FUZZ_SEEDS)
def test_memo_loss_fuzz_on_real_executors(seed):
    env = dict(os.environ)
    env["PYTHONPATH"] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env["LC_FUZZ_SEED"] = str(seed)
    proc = subprocess.run(
        [sys.executable, "-c", _FUZZ_SCENARIO],
        capture_output=True,
        text=True,
        timeout=420,
        env=env,
        cwd="/tmp",
    )
    assert proc.returncode == 0, (
        f"fuzz scenario seed={seed} failed\nstdout:\n{proc.stdout[-4000:]}\n"
        f"stderr:\n{proc.stderr[-4000:]}"
    )
    assert f"LC-FUZZ-OK seed={seed}" in proc.stdout

"""Real multi-JVM verification of the memo hit check.

A memo entry's ``localCheckpoint`` blocks die with the executor that
held them; a hit checks that every block still has a location and
rebuilds otherwise (``functions/memo.py``). In ``local[*]`` every block
lives on the driver, so only a master with separate executor JVMs can
lose them for real. Spark's ``local-cluster[n,c,m]`` master launches a
standalone master/worker plus SEPARATE executor JVMs on one host,
which lets the whole story run:

- ``killExecutor`` of an executor holding some of an entry's blocks:
  the next consumer rebuilds on the survivor and returns the same
  rows, with no SparkListener installed;
- ``killAndReplaceExecutor`` of an executor that joined after the
  build and holds none of the entry's blocks (the dynamic-allocation
  case): the hit serves the same object;
- a registry ``mapInPandas`` query and the event-store append/scan
  path on real executors.

A second SparkContext cannot coexist with the suite's session-scoped
fixture, so each scenario runs in a subprocess with its own JVM.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

# Shared by both scenarios: the session, and where an entry's blocks
# live according to the block-manager master.
_PRELUDE = r"""
import time

from sierradb_spark.session import get_spark
from sierradb_spark.functions import dedup_wide, memo

spark = get_spark(
    app_name="lc-memo",
    master="local-cluster[2,1,2048]",
    shuffle_partitions=4,
    extra_conf={
        "spark.executor.memory": "1g",
        "spark.driver.memory": "2g",
    },
)
sc = spark.sparkContext
jsc = sc._jsc.sc()
sf = "/root/testdata/sf0.001"
key = (sc.applicationId, sf)


def live_ids():
    seq = jsc.getExecutorIds()
    return {str(seq.apply(i)) for i in range(seq.size())}


def holders(df):
    # one set of executor ids per checkpoint block of df
    master, ids, _ = memo._block_ids(df)
    locs = master.getLocations(ids)
    out = []
    for i in range(locs.size()):
        s = locs.apply(i)
        out.append({str(s.apply(j).executorId()) for j in range(s.size())})
    return out


def wait(pred, t=90.0):
    deadline = time.time() + t
    while time.time() < deadline:
        if pred():
            return True
        time.sleep(0.5)
    return False


assert wait(lambda: len(live_ids()) == 2, 120), "executors never came up"
"""

_SCENARIO = _PRELUDE + r"""
# 0) no listener: get_spark puts no Python proxy on the listener bus
bus = jsc.listenerBus().listeners()
names = [bus.get(i).getClass().getName() for i in range(bus.size())]
assert not any("Proxy" in n for n in names), names

# 1) build an entry; its blocks live on the executors
bands = dedup_wide._wide_bands(spark, sf)
assert bands.count() == 8000
held = holders(bands)
assert all(held), held
victim = sorted(set().union(*held))[0]

# 2) kill an executor that holds some of its blocks (no replacement);
# the master sees those blocks gone
assert jsc.killExecutor(victim)
assert wait(lambda: victim not in live_ids())
assert wait(lambda: not all(holders(bands))), "lost blocks never showed"

# 3) the next consumer rebuilds on the survivor, with the same rows
rebuilt = dedup_wide._wide_bands(spark, sf)
assert rebuilt is not bands, "entry with lost blocks served"
assert rebuilt.count() == 8000
survivors = live_ids()
assert set().union(*holders(rebuilt)) <= survivors

# 4) dynamic allocation: an executor that joined after the build holds
# none of the entry's blocks, so killing (and replacing) it leaves the
# entry warm. killExecutor lowered the application's executor target;
# set it back to 2 so the worker launches a new executor.
no_locality = getattr(getattr(sc._jvm.scala.collection.immutable, "Map$"), "MODULE$")
assert jsc.requestTotalExecutors(2, 0, no_locality.empty())
assert wait(lambda: len(live_ids()) == 2, 120), "no executor joined"
joined = (live_ids() - survivors).pop()
assert not any(joined in h for h in holders(rebuilt))
assert jsc.killAndReplaceExecutor(joined)
assert wait(lambda: joined not in live_ids())
assert dedup_wide._wide_bands(spark, sf) is rebuilt, "warm entry dropped"

# 5) the Python-UDF path across REAL executor boundaries: registry
# mapInPandas queries ship Arrow batches to worker Python processes
# that must import sierradb_spark themselves (the classic cluster
# failure mode local[*] can't catch — there the "worker" shares the
# driver's interpreter environment). PYTHONPATH is inherited from the
# subprocess env, exactly the deployment posture docs/SCALE.md
# prescribes (spark.executorEnv / --py-files on a real cluster).
from sierradb_spark.operators import REGISTRY

decoded = REGISTRY.queries["multimodal_decode_metadata"].spark(spark, sf)
assert decoded.count() > 0, "mapInPandas over real executors returned 0"

# 6) the event-store write/read path on real executors: enrichment,
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


def _run(script: str, **env_extra: str) -> subprocess.CompletedProcess:
    env = dict(os.environ, **env_extra)
    env["PYTHONPATH"] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=420,
        env=env,
        cwd="/tmp",
    )


def test_memo_rebuilds_after_executor_loss_on_real_executors():
    proc = _run(_SCENARIO)
    assert proc.returncode == 0, (
        f"scenario failed\nstdout:\n{proc.stdout[-4000:]}\n"
        f"stderr:\n{proc.stderr[-4000:]}"
    )
    assert "LOCAL-CLUSTER-SCENARIO-OK" in proc.stdout


# The scripted scenario proves each branch once; this SEEDED scenario
# drives a randomized command sequence — build / kill-and-replace a
# random live executor / invalidate the sf_dir — against a state model
# on the same real multi-JVM master. The model reads the entry's block
# locations before each kill: the kill is expected to force a rebuild
# exactly when the victim held one of the entry's blocks.
_FUZZ_SCENARIO = _PRELUDE + r"""
import os
import random

seed = int(os.environ["LC_FUZZ_SEED"])
rng = random.Random(seed)
entries = dedup_wide._BANDS_MEMO

kills = 0
lost = 0
builds = 0
for step in range(10):
    roll = rng.random()
    cur = dict.get(entries, key)  # the entry as stored, no hit check
    if roll < 0.55 and kills < 3 and step > 0:
        assert wait(lambda: len(live_ids()) >= 1, 60), "no executors"
        victim = rng.choice(sorted(live_ids()))
        affected = cur is not None and any(victim in h for h in holders(cur))
        # kill AND replace: the standalone worker relaunches a fresh
        # executor (new id), so multiple kills stay multi-executor —
        # the dynamic-allocation churn shape
        assert jsc.killAndReplaceExecutor(victim), victim
        assert wait(lambda: victim not in live_ids()), (step, victim)
        kills += 1
        if affected:
            lost += 1
            assert wait(lambda: not all(holders(cur))), (step, victim)
            df = dedup_wide._wide_bands(spark, sf)
            assert df is not cur, (step, victim)
            assert df.count() == 8000, step
            builds += 1
        elif cur is not None:
            assert dedup_wide._wide_bands(spark, sf) is cur, (step, victim)
        wait(lambda: len(live_ids()) >= 2, 60)  # replacement (bounded)
    elif roll < 0.85:
        df = dedup_wide._wide_bands(spark, sf)
        assert df.count() == 8000, step
        builds += 1
        if cur is not None:
            assert df is cur, step  # live blocks: the hit stayed warm
        assert all(holders(df)), step
    else:
        dropped = memo.invalidate_sf_dir(sf)
        assert key not in entries, step
        assert dropped == (0 if cur is None else 1), step

# a final build works on whatever executors survived the churn
assert dedup_wide._wide_bands(spark, sf).count() == 8000
spark.stop()
print("LC-FUZZ-OK seed=%d kills=%d lost=%d builds=%d" % (seed, kills, lost, builds))
"""

_FUZZ_SEEDS = [
    int(s)
    for s in os.environ.get("SPARK_GRAFT_LC_FUZZ_SEEDS", "11,17").split(",")
    if s.strip()
]


@pytest.mark.slow
@pytest.mark.parametrize("seed", _FUZZ_SEEDS)
def test_memo_loss_fuzz_on_real_executors(seed):
    proc = _run(_FUZZ_SCENARIO, LC_FUZZ_SEED=str(seed))
    assert proc.returncode == 0, (
        f"fuzz scenario seed={seed} failed\nstdout:\n{proc.stdout[-4000:]}\n"
        f"stderr:\n{proc.stderr[-4000:]}"
    )
    assert f"LC-FUZZ-OK seed={seed}" in proc.stdout

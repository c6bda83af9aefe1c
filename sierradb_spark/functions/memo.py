"""Session-scoped plan memos: one registry, one hit check.

Audit passes shared by many registry queries (the MinHash signature
pass, the O(n²) cosine pair scan, their fixpoints) are pinned once per
``(applicationId, sf_dir)`` behind an eager ``localCheckpoint``, the
engine-level analogue of the index ``streaming/corpus.py`` persists.

1. **Inputs are immutable per ``sf_dir``.** Nothing watches the files.
   After mutating an ``sf_dir`` in a live session, call
   :func:`invalidate_sf_dir` with no build of that ``sf_dir`` in
   flight: a racing build reads a mix of old and new files.
2. **A hit checks its own blocks.** Checkpoint blocks die with their
   executor, so :meth:`_MemoDict.get` asks the block-manager master,
   in one call, whether every block of the entry still has a location.
   If one has none, it drops the entry, logs one ``sierradb_spark``
   line and returns a miss, so the builder rebuilds, under every master
   alike. A lazy pin has no blocks before its first action, so every
   pin is eager.
"""

from __future__ import annotations

import logging
import threading

from py4j.protocol import Py4JError

_LOG = logging.getLogger("sierradb_spark")

# One lock for every memo mutation; re-entrant because a dropping
# ``get`` and ``_drop`` hold it while ``__delitem__`` takes it.
_LOCK = threading.RLock()


def _checkpoint_rdds(value) -> list:
    """The JVM RDDs behind the ``LogicalRDD`` leaves of ``value``'s
    analyzed plan: the localCheckpoint RDDs a pinned DataFrame reads.
    Empty for values without a ``_jdf`` (the learned BPE merge list)."""
    jdf = getattr(value, "_jdf", None)
    if jdf is None:
        return []
    seq = jdf.queryExecution().analyzed().collectLeaves()
    leaves = [seq.apply(i) for i in range(seq.size())]
    return [x.rdd() for x in leaves if x.getClass().getSimpleName() == "LogicalRDD"]


def _block_ids(value):
    """``(block-manager master, RDDBlockId[], Nil)`` for ``value``'s
    checkpoint blocks, prepared once at insert so a hit costs one
    ``getLocations`` call; None when the value holds no blocks."""
    rdds = _checkpoint_rdds(value)
    if not rdds:
        return None
    sc = value.sparkSession.sparkContext
    storage = sc._jvm.org.apache.spark.storage
    blocks = [(r.id(), i) for r in rdds for i in range(r.getNumPartitions())]
    ids = sc._gateway.new_array(storage.BlockId, len(blocks))
    block_id = storage.RDDBlockId  # one class lookup, not one per block
    for k, (rdd_id, i) in enumerate(blocks):
        ids[k] = block_id(rdd_id, i)
    nil = getattr(getattr(sc._jvm.scala.collection.immutable, "Nil$"), "MODULE$")
    return sc._jsc.sc().env().blockManager().master(), ids, nil


def release_checkpoint(df) -> None:
    """Free ``df``'s localCheckpoint blocks now, not at Python GC. A
    plain ``df.unpersist()`` is a no-op: the blocks belong to the RDD
    behind the plan's ``LogicalRDD``. Used on dropped memo entries and
    on builder-internal staging checkpoints once every consumer has
    materialized. Best-effort; ``df`` is unrecoverable afterwards.

    Released through ``SparkContext.unpersistRDD``, the call
    ``RDD.unpersist`` makes after it logs a "locally checkpointed ...
    cannot be recomputed" WARN for each such RDD."""
    try:
        for rdd in _checkpoint_rdds(df):
            rdd.sparkContext().unpersistRDD(rdd.id(), False)
    except Py4JError:  # e.g. the session is already stopped
        pass


class _MemoDict(dict):
    """One memo family: ``(applicationId, sf_dir) -> value``. ``get``
    is the hit check; every drop releases the entry's blocks."""

    def __init__(self, name: str) -> None:
        super().__init__()
        self.name = name
        self._blocks: dict = {}  # key -> _block_ids(value)

    def get(self, key, default=None):
        with _LOCK:
            value = super().get(key, default)
            blocks = self._blocks.get(key)
            if blocks is None:  # a miss, or a value that holds no blocks
                return value
            master, ids, nil = blocks
            locs = master.getLocations(ids)
            if not locs.contains(nil):
                return value
            lost = sum(locs.apply(i).isEmpty() for i in range(locs.size()))
            del self[key]
        _LOG.warning(
            "memo %s %s dropped: %d of %d checkpoint blocks lost; rebuilding",
            self.name, key, lost, len(ids),
        )
        return default

    def __setitem__(self, key, value) -> None:
        blocks = _block_ids(value)
        with _LOCK:
            old = super().get(key)
            super().__setitem__(key, value)
            self._blocks[key] = blocks
        if old is not None and old is not value:
            release_checkpoint(old)

    def __delitem__(self, key) -> None:
        with _LOCK:
            value = super().pop(key)
            self._blocks.pop(key, None)
        release_checkpoint(value)


_FAMILIES: dict[str, _MemoDict] = {}


def register_memo(name: str) -> dict:
    """Create and register one memo family. Called at module import
    time; the returned dict is the module's memo store."""
    if name in _FAMILIES:
        raise ValueError(f"duplicate memo family {name}")
    _FAMILIES[name] = _MemoDict(name)
    return _FAMILIES[name]


def memo_families() -> dict[str, int]:
    """Registered family name -> number of live entries."""
    with _LOCK:
        return {name: len(d) for name, d in _FAMILIES.items()}


def _drop(stale) -> dict[str, int]:
    with _LOCK:
        dropped = {}
        for name, d in _FAMILIES.items():
            keys = [k for k in d if stale(k)]
            for k in keys:
                del d[k]
            if keys:
                dropped[name] = len(keys)
        return dropped


def clear_session_memos() -> dict[str, int]:
    """Drop every memo entry and release its blocks. Returns the number
    of entries cleared per family."""
    return _drop(lambda k: True)


def invalidate_sf_dir(sf_dir: str) -> int:
    """Drop every family's entries for one ``sf_dir``, keeping other
    corpora warm. Returns the number of entries dropped."""
    return sum(_drop(lambda k: k[1] == sf_dir).values())

"""The registry-query phase of the traced run: the memo-backed iterative
queries that ``bench.py`` times, run through ``REGISTRY.queries[...]``
over the seeded tables of :mod:`perfbench.tables`, with every result
checked against ``query_digests.json``.

Rewrite the stored digests (only when the library's answers are known to
be right, e.g. at the commit a change starts from):

    python3 -m perfbench.queries --write-digests
"""

from __future__ import annotations

import json
import os
import sys
import time

from perfbench import checks, tables
from perfbench.summary import median

QUERIES = (
    "label_prop_communities",
    "kcore_near_dup",
    "quality_dup_calibration",
    "bpe_learn_merges",
    "markov_stationary_distribution",
)
TIMED_PASSES = 1  # after one untimed pass that builds the memos
DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "query_digests.json")


def _canon(v):
    """Floats rounded to 9 significant digits, so the last bits of a sum
    taken in another order do not change a digest."""
    if isinstance(v, float):
        return float(f"{v:.9g}")
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def result_digest(rows) -> int:
    """Order-insensitive digest of a query's result rows."""
    return checks.multiset_digest(("", repr(_canon(tuple(r))).encode()) for r in rows)


def load_digests() -> dict:
    with open(DIGESTS) as f:
        return json.load(f)


def digest_problems(name: str, rows, stored: dict) -> list[str]:
    want = stored.get(name)
    if want is None:
        return [f"{name}: no stored digest"]
    if len(rows) != want["rows"]:
        return [f"{name}: {len(rows)} rows, expected {want['rows']}"]
    return checks.digest_problems(int(want["digest"], 16), result_digest(rows), name)


def query_phase(b) -> None:
    """Write the tables, run every query once untimed (``query.first_pass``)
    and then ``TIMED_PASSES`` times (``query.pass``); check each result.
    Query order is drawn from the run's seed."""
    from sierradb_spark.functions.memo import memo_families
    from sierradb_spark.operators import REGISTRY

    sf_dir = b.path("tables")
    tables.write_tables(sf_dir)
    stored = load_digests()
    order = [QUERIES[i] for i in b.rng.permutation(len(QUERIES))]
    suite: dict[str, list[float]] = {n: [] for n in QUERIES}
    for p in range(1 + TIMED_PASSES):
        with b.span("query.first_pass" if p == 0 else "query.pass", new_op=True):
            for name in order:
                with b.guarded(f"query {name}"), b.span(f"query.{name}"):
                    t0 = time.perf_counter()
                    with b.span("query.build"):
                        df = REGISTRY.queries[name].spark(b.spark, sf_dir)
                    rows = df.collect()
                    if p:
                        suite[name].append(time.perf_counter() - t0)
                    b.check(digest_problems(name, rows, stored))
    b.layer["memo.entries"] = sum(memo_families().values())
    b.detail["query_s"] = {n: [round(x, 3) for x in v] for n, v in suite.items()}
    if all(suite.values()):
        b.detail["query_suite_s"] = sum(median(v) for v in suite.values())


def write_digests() -> None:
    """Run each query once on the tables and store its row count and digest."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    from perfbench.harness import Bench
    from sierradb_spark.operators import REGISTRY

    b = Bench(root, 0, 0, False)
    b.start()
    try:
        sf_dir = b.path("tables")
        tables.write_tables(sf_dir)
        out = {}
        for name in QUERIES:
            rows = REGISTRY.queries[name].spark(b.spark, sf_dir).collect()
            out[name] = {"rows": len(rows), "digest": f"{result_digest(rows):032x}"}
    finally:
        b.stop()
    with open(DIGESTS, "w") as f:
        json.dump(out, f, indent=2, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    if sys.argv[1:] != ["--write-digests"]:
        sys.exit(__doc__)
    write_digests()

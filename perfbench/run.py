"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` wraps the library's entry points in spans and
prints the per-layer metrics instead, with a self-time table on stderr.
Diagnostics (cpus, loadavg, sample counts) go to stderr as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sierradb_spark", "__init__.py")):
        print(f"perfbench: no sierradb_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import metrics, workloads
    from perfbench.harness import Bench
    from perfbench.summary import median

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    b = Bench(ROOT, args.seed, args.seconds, bool(args.trace))
    try:
        get_spark_s = b.start()
        e2e = workloads.WORKLOADS[args.workload](b)
        reps = e2e.pop("setup_reps")
        e2e["setup_s"] = get_spark_s + median(reps)
        layer = metrics.per_layer(b) if b.trace else None
        table = _self_table(b) if b.trace else None
    finally:
        b.stop()

    b.detail.update(workload=args.workload, seed=args.seed, setup_reps_s=reps,
                    get_spark_s=get_spark_s, problems=b.problems[:20])
    if b.trace:
        b.detail["traced_end_to_end"] = e2e
        _print_table(args.workload, table)
    print(json.dumps({"detail": b.detail}, default=str), file=sys.stderr)
    chosen = layer if b.trace else e2e
    units = metrics.PER_LAYER if b.trace else metrics.END_TO_END
    out = {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": chosen[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(out))
    return 0


def _self_table(b) -> list[tuple]:
    from perfbench.tracer import layer_table

    rows = layer_table(b.tracer.spans)
    return sorted(
        ((n, r["calls"], r["total_s"], r["self_s"]) for n, r in rows.items()),
        key=lambda x: -x[3],
    )


def _print_table(workload: str, rows: list[tuple]) -> None:
    w = sys.stderr.write
    w(f"\nper-layer self time, {workload} (traced run)\n")
    w(f"{'span':40s} {'calls':>6s} {'total_s':>9s} {'self_s':>9s} {'self/call_ms':>12s}\n")
    for name, calls, total, self_s in rows:
        w(f"{name:40s} {calls:6d} {total:9.3f} {self_s:9.3f} {1000 * self_s / calls:12.2f}\n")


if __name__ == "__main__":
    t0 = time.perf_counter()
    rc = main()
    print(f"perfbench: {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    sys.exit(rc)

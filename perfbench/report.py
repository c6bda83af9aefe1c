"""Run every workload untraced and traced and print one report: every
end-to-end and per-layer metric by name with its unit, the correctness
tally, each workload's per-layer self-time table, and the tracing
overhead (traced minus untraced end-to-end values from the same seed).

    python3 perfbench/report.py [--seeds 1] [--seconds 30] [--workloads a,b]

With several seeds, each end-to-end metric is shown as the median of the
untraced runs with its quartile spread, (Q3 - Q1) / median; the traced
run uses the first seed.

Each run is a separate ``perfbench/run.py`` process, started exactly as
the benchmark command is.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict, str]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr)
        raise SystemExit(f"{workload} --trace {trace} failed with code {p.returncode}")
    err = p.stderr.splitlines()
    detail = next(json.loads(x)["detail"] for x in err if x.startswith('{"detail"'))
    start = next((i for i, x in enumerate(err) if x.startswith("per-layer self time")), len(err))
    table = []
    for line in err[start:]:
        if line.startswith('{"detail"'):
            break
        table.append(line)
    return json.loads(lines[-1]), detail, "\n".join(table)


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench.summary import median, quartile_spread
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1", help="comma-separated")
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    args = ap.parse_args()

    seeds = [int(x) for x in args.seeds.split(",")]
    all_ok = True
    for w in args.workloads.split(","):
        runs = [_run(w, sd, args.seconds, 0) for sd in seeds]
        traced, tdet, table = _run(w, seeds[0], args.seconds, 1)
        labeled = [(f"seed {sd}", r, d) for sd, (r, d, _t) in zip(seeds, runs)]
        labeled.append((f"seed {seeds[0]} traced", traced, tdet))
        for name, r, d in labeled:
            print(f"== {w} {name}: correct={r['correct']} attempted={r['attempted']} "
                  f"failed={r['failed']} error_rate={r['failed'] / r['attempted']:.4f} "
                  f"cpus={d.get('cpus')} loadavg {d.get('loadavg_before')} -> "
                  f"{d.get('loadavg_after')} steal={d.get('steal_pct')}%")
            all_ok &= r["correct"]
        print(f"   {'end-to-end':24s} {'median':>12s} {'unit':6s} {'spread':>7s} "
              f"{'traced':>12s} overhead")
        t_e2e = tdet.get("traced_end_to_end", {})
        for k, m in runs[0][0]["metrics"].items():
            vals = [r[0]["metrics"][k]["value"] for r in runs]
            spread = f"{quartile_spread(vals):7.3f}" if len(vals) >= 2 else "    n/a"
            t, first = t_e2e.get(k), vals[0]
            over = f"{(t - first) / first:+.1%}" if t is not None else "n/a"
            print(f"   {k:24s} {median(vals):12.4f} {m['unit']:6s} {spread} "
                  f"{t if t is not None else float('nan'):12.4f} {over}")
        print("   per-layer (traced)")
        for k, m in traced["metrics"].items():
            print(f"   {k:40s} {m['value']:14.4f} {m['unit']}")
        if "query_suite_s" in tdet:
            print(f"   query_suite_s (registry-query phase, traced) "
                  f"{tdet['query_suite_s']:.4f} s")
        print(table)
        print()
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main())

"""Event-store benchmark: seeded workloads, correctness checks and a
per-layer tracer that drive ``sierradb_spark`` through its public API.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; see ``perfbench/README.md``.
"""

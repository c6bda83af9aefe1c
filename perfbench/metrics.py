"""Metric names, units and how the traced run's spans become per-layer
values. BENCHMARK.json lists the same names (a test keeps them equal)."""

from __future__ import annotations

from perfbench.harness import Bench, jvm_heap_peak_mb, jvm_rss_peak_mb, rss_peak_mb
from perfbench.summary import median
from perfbench.tracer import PHASES, Span, self_times, subtree

# Every workload reports every end-to-end metric; what the rate and the
# latency measure differs per workload (README.md).
END_TO_END = {
    "setup_s": "s",
    "rate_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "bytes_per_payload_byte": "ratio",
}

_READS = {"EGET": "get", "ESCAN": "scan", "EPSCAN": "pscan", "ESVER": "stream_version"}
_COMMANDS = ("EAPPEND", "EGET", "ESCAN", "EPSCAN", "ESVER")
_ACTIONS = ("spark.collect", "spark.count", "spark.toPandas", "spark.write.parquet")
_PROGRESS = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
             "triggerExecution")


def _per_layer_units() -> dict[str, str]:
    u: dict[str, str] = {
        "session.get_spark_s": "s",
        "fixture.preload_s": "s",
        "ingest.enrich_requests_s": "s",
        "store.append_df_s": "s",
        "store.append_df.result_count_s": "s",
        "store.append_df.exec_s": "s",
        "store.append_df.jobs": "count",
        "store.append_df.stages": "count",
        "store.append_df.tasks": "count",
    }
    u.update({f"store.append_df.{p}_ms": "ms" for p in PHASES})
    for kind in ("precondition", "plain"):
        u[f"store.append_transactions.{kind}_s"] = "s"
    u["store.append_transactions.jobs"] = "count"
    u["store.append_transactions.tasks"] = "count"
    u.update({
        "store.heads_files": "count",
        "store.heads_bytes": "bytes",
        "store.heads_streams": "count",
        "store.commits_listed": "count",
        "store.events_files": "count",
        "store.partition_sequence_s": "s",
    })
    for r in _READS.values():
        u[f"store.{r}_s"] = "s"
        u[f"spark.{r}.plan_ms"] = "ms"
        u[f"spark.{r}.exec_s"] = "s"
        u[f"spark.{r}.jobs"] = "count"
        u[f"spark.{r}.tasks"] = "count"
    u.update({
        "store.compact_s": "s",
        "store.compact.jobs": "count",
        "store.events_files_before_compact": "count",
        "store.events_files_after_compact": "count",
        "store.events_bytes": "bytes",
        "store.total_bytes": "bytes",
    })
    u.update({f"commands.{c}_self_s": "s" for c in _COMMANDS})
    u.update({
        "subscribe.catchup_s": "s",
        "subscribe.batches": "count",
        "subscribe.input_rows": "count",
    })
    u.update({f"subscribe.{k}_ms": "ms" for k in _PROGRESS})
    u.update({
        "subscribe.commit_to_deliver_s": "s",
        "subscribe.backlog_trend": "s/batch",
        "writer.append_s": "s",
        "writer.late_s": "s",
        "query.build_s": "s",
        "query.plan_ms": "ms",
        "query.exec_s": "s",
        "query.jobs": "count",
        "query.tasks": "count",
        "query.first_rep_s": "s",
        "memo.entries": "count",
        "jvm.heap_peak_mb": "MB",
        "jvm.rss_peak_mb": "MB",
        "driver.rss_peak_mb": "MB",
        "trace.spans": "count",
    })
    return u


PER_LAYER = _per_layer_units()


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _named(spans: list[Span], name: str) -> list[Span]:
    return [s for s in spans if s.name == name]


def _spark_parts(spans: list[Span], roots: list[Span]) -> dict:
    """Per root span, averaged: Catalyst ms by phase, seconds inside
    DataFrame actions, and jobs/stages/tasks, over each root's subtree."""
    if not roots:
        return {"exec_s": 0.0, "jobs": 0.0, "stages": 0.0, "tasks": 0.0,
                **{p: 0.0 for p in PHASES}}
    sub = subtree(spans, {r.id for r in roots})
    ids = {s.id for s in sub}
    by_id = {s.id: s for s in sub}
    # outermost actions only, so an action inside an action counts once
    acts = [s for s in sub if s.name in _ACTIONS
            and not (s.parent in ids and by_id[s.parent].name in _ACTIONS)]
    n = len(roots)
    out = {
        "exec_s": sum(a.duration for a in acts) / n,
        "jobs": sum(s.jobs for s in sub) / n,
        "stages": sum(s.stages for s in sub) / n,
        "tasks": sum(s.tasks for s in sub) / n,
    }
    for p in PHASES:
        out[p] = sum(a.phases_ms.get(p, 0.0) for a in acts) / n
    return out


def per_layer(b: Bench) -> dict[str, float]:
    """Per-layer values of a traced run. Time metrics named ``*_s`` of a
    library entry point are its mean self time per call (span minus
    child spans); ``spark.*`` values cover the Spark work under each
    call. A layer the workload never reaches reads 0."""
    tr = b.tracer
    tr.resolve_jobs()
    spans = tr.spans
    selfs = self_times(spans)

    def mean_self(name: str) -> float:
        return _mean(selfs[s.id] for s in _named(spans, name))

    def mean_dur(name: str) -> float:
        return _mean(s.duration for s in _named(spans, name))

    v: dict[str, float] = {k: 0.0 for k in PER_LAYER}
    v["session.get_spark_s"] = mean_dur("session.get_spark")
    pre = [s.duration for s in _named(spans, "fixture.preload")]
    v["fixture.preload_s"] = median(pre) if pre else 0.0
    v["ingest.enrich_requests_s"] = mean_self("ingest.enrich_requests")
    v["store.append_df_s"] = mean_self("store.append_df")
    v["store.append_df.result_count_s"] = mean_dur("store.append_df.result_count")
    sp = _spark_parts(spans, _named(spans, "store.append_df"))
    v["store.append_df.exec_s"] = sp["exec_s"]
    for k in ("jobs", "stages", "tasks"):
        v[f"store.append_df.{k}"] = sp[k]
    for p in PHASES:
        v[f"store.append_df.{p}_ms"] = sp[p]
    at = [s for s in spans if s.name.startswith("store.append_transactions.")]
    for kind in ("precondition", "plain"):
        v[f"store.append_transactions.{kind}_s"] = mean_dur(f"store.append_transactions.{kind}")
    sp = _spark_parts(spans, at)
    v["store.append_transactions.jobs"] = sp["jobs"]
    v["store.append_transactions.tasks"] = sp["tasks"]
    v["store.partition_sequence_s"] = mean_dur("store.partition_sequence")
    for cmd, r in _READS.items():
        v[f"store.{r}_s"] = mean_self(f"store.{r}")
        sp = _spark_parts(spans, _named(spans, f"commands.{cmd}"))
        v[f"spark.{r}.plan_ms"] = sum(sp[p] for p in PHASES)
        v[f"spark.{r}.exec_s"] = sp["exec_s"]
        v[f"spark.{r}.jobs"] = sp["jobs"]
        v[f"spark.{r}.tasks"] = sp["tasks"]
    v["store.compact_s"] = mean_dur("store.compact")
    v["store.compact.jobs"] = _spark_parts(spans, _named(spans, "store.compact"))["jobs"]
    if b.compactions:
        v["store.events_files_before_compact"] = median([c[0] for c in b.compactions])
        v["store.events_files_after_compact"] = median([c[1] for c in b.compactions])
    for c in _COMMANDS:
        v[f"commands.{c}_self_s"] = mean_self(f"commands.{c}")
    if b.replays:
        v["subscribe.catchup_s"] = median(b.replays)
    # micro-batches that carried input, over every subscription query run
    busy = [p for q in tr.queries for p in q.recentProgress if p.get("numInputRows", 0) > 0]
    v["subscribe.batches"] = len(busy)
    v["subscribe.input_rows"] = sum(p["numInputRows"] for p in busy)
    for k in _PROGRESS:
        vals = [p.get("durationMs", {}).get(k, 0) for p in busy]
        v[f"subscribe.{k}_ms"] = median(vals) if vals else 0.0
    # registry queries: per timed pass over the whole suite
    passes = _named(spans, "query.pass")
    in_passes = subtree(spans, {s.id for s in passes})
    sp = _spark_parts(spans, passes)
    v["query.build_s"] = sum(
        s.duration for s in in_passes if s.name == "query.build"
    ) / max(1, len(passes))
    v["query.plan_ms"] = sum(sp[p] for p in PHASES)
    v["query.exec_s"] = sp["exec_s"]
    v["query.jobs"] = sp["jobs"]
    v["query.tasks"] = sp["tasks"]
    v["query.first_rep_s"] = mean_dur("query.first_pass")
    for k, x in b.layer.items():
        if k in v:
            v[k] = float(x)
    v["jvm.heap_peak_mb"] = jvm_heap_peak_mb(b.spark)
    v["jvm.rss_peak_mb"] = jvm_rss_peak_mb(b._jvm_proc.pid)
    v["driver.rss_peak_mb"] = rss_peak_mb()
    v["trace.spans"] = len(spans)
    return v

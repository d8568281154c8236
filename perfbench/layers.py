"""Per-layer metrics of a traced run.

Batch numbers are per pass and per library module (the module that owns
each op's runner); streaming numbers are per trigger and per pipeline,
from ``StreamingQuery.recentProgress``.  A module the workload does not
call reads 0.  ``NAMES`` is the full list, in ``BENCHMARK.json`` order.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

import eventlog

MODULES = ["declared", "tpch_extra", "tpcds_shapes", "sql_surface", "table_env",
           "dedup", "stats"]
BATCH = [("build_s", "s"), ("jobs", "count"), ("stages", "count"),
         ("driver_residual_s", "s"), ("critical_path_s", "s"), ("executor_run_s", "s"),
         ("executor_cpu_s", "s"), ("narrow_stages", "count"), ("shuffle_read_mb", "MB"),
         ("python_mb", "MB")]
STREAMING_JOBS = [("jobs", "count"), ("critical_path_s", "s"), ("python_mb", "MB")]
PIPELINES = ["window", "over", "cep", "ttl", "changelog"]
PIPELINE = [("trigger_s", "s"), ("query_planning_s", "s"), ("wal_commit_s", "s"),
            ("state_commit_s", "s"), ("state_rows", "count"), ("state_mem_mb", "MB"),
            ("sink_write_s", "s"), ("rows_dropped_by_watermark", "count")]
GLOBAL = [("session.get_spark_s", "s"), ("catalog.register_s", "s"),
          ("host.steal_s", "s"), ("host.probe_s", "s"), ("host.tracing_overhead", "ratio")]

NAMES: list[tuple[str, str]] = (
    GLOBAL[:2]
    + [(f"{m}.{k}", u) for m in MODULES for k, u in BATCH]
    + [(f"streaming.{k}", u) for k, u in STREAMING_JOBS]
    + [(f"streaming.{p}.{k}", u) for p in PIPELINES for k, u in PIPELINE]
    + GLOBAL[2:]
)


def per_layer(run, m: dict, log_path: str) -> tuple[dict, dict]:
    """(metrics, per-op detail) of the traced measurement ``m``."""
    n_pass = len(m["passes"])
    out = {name: (0.0, unit) for name, unit in NAMES}
    cold = run.rounds[0]  # the round setup_s times
    out["session.get_spark_s"] = (cold["get_spark_s"], "s")
    out["catalog.register_s"] = (cold["register_s"], "s")

    spans = [eventlog.Span(s.group, s.start, s.end) for s in m["spans"]]
    module = {s.group: s.module for s in m["spans"]}
    streams = m["runs"]
    for r in streams:
        spans.append(eventlog.Span(r["run_id"], r["start"], r["end"]))
        module[r["run_id"]] = "streaming"
    layer = eventlog.fold(eventlog.read_events(log_path), spans, run.cpus)

    acc: dict[str, float] = defaultdict(float)
    detail = {}
    for s in spans:
        mod, rec = module[s.group], layer.get(s.group, eventlog.Layer())
        detail[s.group] = {"wall_s": round(s.end - s.start, 3),
                           "critical_path_s": round(rec.critical_path_s, 3),
                           "stages": rec.stages, "tasks": rec.tasks,
                           "max_stage_tasks": rec.max_stage_tasks}
        acc[f"{mod}.driver_residual_s"] += (s.end - s.start) - rec.critical_path_s
        for k, _ in BATCH:
            if hasattr(rec, k):
                acc[f"{mod}.{k}"] += getattr(rec, k)
    for s in m["spans"]:
        acc[f"{s.module}.build_s"] += s.build_s
    for name, unit in NAMES:
        if name in acc:
            out[name] = (acc[name] / n_pass, unit)

    by_pipe = defaultdict(list)
    for r in streams:
        by_pipe[r["pipe"]].append(r)
    for pipe, runs in by_pipe.items():
        prog = [p for r in runs for p in r["progress"]]
        if not prog:
            continue

        def mean_ms(key):
            return statistics.mean(p["durationMs"].get(key, 0) for p in prog) / 1000

        def ops(p, key):
            return sum(op.get(key, 0) for op in p["stateOperators"])

        sink = [t for r in runs if r["sink"] is not None for t in r["sink"].seconds]
        vals = {
            "trigger_s": mean_ms("triggerExecution"),
            "query_planning_s": mean_ms("queryPlanning"),
            "wal_commit_s": mean_ms("walCommit"),
            "state_commit_s": statistics.mean(ops(p, "commitTimeMs") for p in prog) / 1000,
            "state_rows": max(ops(p, "numRowsTotal") for p in prog),
            "state_mem_mb": max(ops(p, "memoryUsedBytes") for p in prog) / (1024 * 1024),
            "sink_write_s": statistics.mean(sink) if sink else 0.0,
            "rows_dropped_by_watermark": sum(ops(p, "numRowsDroppedByWatermark")
                                             for p in prog) / len(runs),
        }
        for k, unit in PIPELINE:
            out[f"streaming.{pipe}.{k}"] = (vals[k], unit)
    return out, detail

"""Fold a Spark event log into per-op layer records.

Spark writes one JSON object per line (``spark.eventLog.compress=false``,
``spark.eventLog.rolling.enabled=false``).  Jobs are attributed to an op
by their ``spark.jobGroup.id`` property; a job whose group names no op
(a ``foreachBatch`` callback's writes run on another JVM thread) goes
to the op whose wall interval holds its submission time.  Stages belong
to the first job that lists them.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

# SQL metrics of the Python-evaluating operators (PythonSQLMetrics)
PYTHON_BYTES = ("data sent to Python workers", "data returned from Python workers")
# a stage is heavy when its slowest task ran at least this long
HEAVY_TASK_MS = 100


@dataclass
class Span:
    """One op's wall interval, in epoch seconds."""
    group: str
    start: float
    end: float


@dataclass
class Layer:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    max_stage_tasks: int = 0
    critical_path_s: float = 0.0  # sum over stages of the slowest task
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    narrow_stages: int = 0  # heavy stages with fewer tasks than cores
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    python_mb: float = 0.0


@dataclass
class _Stage:
    tasks: int = 0
    slowest_ms: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    python: int = 0
    attempts: set = field(default_factory=set)


def read_events(path: str):
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def _owner(group: str | None, t_ms: int, spans: list[Span], known: set) -> str | None:
    if group in known:
        return group
    t = t_ms / 1000.0
    for s in spans:
        if s.start <= t <= s.end:
            return s.group
    return None


def fold(events, spans: list[Span], cores: int) -> dict[str, Layer]:
    """Layer record per op group; jobs outside every span are dropped."""
    known = {s.group for s in spans}
    stage_owner: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    stages: dict[int, _Stage] = defaultdict(_Stage)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = _owner(props.get("spark.jobGroup.id"), ev.get("Submission Time", 0), spans, known)
            if g is None:
                continue
            jobs[g] += 1
            for sid in ev.get("Stage IDs", []):
                stage_owner.setdefault(sid, g)
        elif kind == "SparkListenerTaskEnd":
            st = stages[ev["Stage ID"]]
            info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            st.tasks += 1
            st.slowest_ms = max(st.slowest_ms, info.get("Finish Time", 0) - info.get("Launch Time", 0))
            st.run_ms += m.get("Executor Run Time", 0)
            st.cpu_ns += m.get("Executor CPU Time", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st.spill += m.get("Disk Bytes Spilled", 0)
            for acc in info.get("Accumulables", []):
                if acc.get("Name") in PYTHON_BYTES:
                    st.python += int(acc.get("Update") or 0)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stages[info["Stage ID"]].attempts.add(info.get("Stage Attempt ID", 0))
    out: dict[str, Layer] = {g: Layer(jobs=n) for g, n in jobs.items()}
    mb = 1 / (1024 * 1024)
    for sid, st in stages.items():
        g = stage_owner.get(sid)
        if g is None or not st.attempts:
            continue
        rec = out[g]
        rec.stages += len(st.attempts)
        rec.tasks += st.tasks
        rec.max_stage_tasks = max(rec.max_stage_tasks, st.tasks)
        rec.critical_path_s += st.slowest_ms / 1000
        rec.executor_run_s += st.run_ms / 1000
        rec.executor_cpu_s += st.cpu_ns / 1e9
        rec.narrow_stages += int(st.slowest_ms >= HEAVY_TASK_MS and st.tasks < cores)
        rec.shuffle_read_mb += st.shuffle_read * mb
        rec.shuffle_write_mb += st.shuffle_write * mb
        rec.spill_mb += st.spill * mb
        rec.python_mb += st.python * mb
    return out

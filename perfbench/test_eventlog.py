"""The event-log fold on a small synthetic log.

    python3 -m pytest perfbench/test_eventlog.py -q
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402


def _job(job_id, group, stages, t_ms):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": t_ms,
            "Stage IDs": stages, "Properties": props}


def _task(stage, launch, finish, run_ms, cpu_ns, shuffle_read=0, python=0):
    accs = [{"Name": "data sent to Python workers", "Update": python}] if python else []
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
            "Task Info": {"Launch Time": launch, "Finish Time": finish, "Accumulables": accs},
            "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                             "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                      "Local Bytes Read": shuffle_read},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 0},
                             "Disk Bytes Spilled": 0}}


def _done(stage):
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": stage, "Stage Attempt ID": 0}}


LOG = [
    # op a: two jobs; stage 1 is one heavy task, stage 2 four light tasks
    _job(0, "a", [1], 1_000_000),
    _task(1, 1_000_000, 1_000_500, 480, 400_000_000, python=2 * 1024 * 1024),
    _done(1),
    _job(1, "a", [2, 1], 1_000_600),  # stage 1 is reused, not re-run
    *[_task(2, 1_000_600, 1_000_600 + d, d, d * 1_000_000, shuffle_read=1024 * 1024)
      for d in (10, 20, 30, 40)],
    _done(2),
    # op b: a job without a group, inside b's wall interval
    _job(2, None, [3], 1_002_000),
    _task(3, 1_002_000, 1_002_200, 190, 150_000_000),
    _done(3),
    # outside every span: ignored
    _job(3, None, [4], 9_000_000),
    _task(4, 9_000_000, 9_000_100, 100, 1),
    _done(4),
]


def test_fold_attributes_jobs_and_sums_stages(tmp_path):
    path = tmp_path / "app-1"
    path.write_text("\n".join(json.dumps(e) for e in LOG) + "\n")
    spans = [eventlog.Span("a", 999.9, 1001.0), eventlog.Span("b", 1001.5, 1002.5)]
    out = eventlog.fold(eventlog.read_events(str(path)), spans, cores=4)

    a, b = out["a"], out["b"]
    assert (a.jobs, a.stages, a.tasks, a.max_stage_tasks) == (2, 2, 5, 4)
    assert abs(a.critical_path_s - (0.5 + 0.04)) < 1e-9  # slowest task per stage
    assert abs(a.executor_run_s - 0.58) < 1e-9
    assert abs(a.executor_cpu_s - 0.5) < 1e-9
    assert a.narrow_stages == 1  # the one-task 500 ms stage, not the 4-task one
    assert abs(a.shuffle_read_mb - 4.0) < 1e-9
    assert abs(a.python_mb - 2.0) < 1e-9
    assert (b.jobs, b.stages, b.narrow_stages) == (1, 1, 1)
    assert abs(b.critical_path_s - 0.2) < 1e-9
    assert set(out) == {"a", "b"}

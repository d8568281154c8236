"""Repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload sql_sf01 --seed 1 --seconds 20 --trace 0

Run from the repository root.  Builds the seeded inputs and the DuckDB
references (cached under ``.perfbench_work/``, outside the timed
process), then starts ``worker.py`` in a fresh process group pinned to
``local[<cores>]``, waits for it, stops whatever it left running, and
prints the metrics.  The last stdout line is the result object:
``{"correct", "attempted", "failed", "metrics"}`` -- the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Exits non-zero, printing no result, when the run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKER_TIMEOUT_S = 150  # the whole run must end within 180 s


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def _reap(proc: subprocess.Popen) -> None:
    """Kill the worker's process group and wait until it is gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 30
    while _group_alive(proc.pid) and time.time() < deadline:
        time.sleep(0.1)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "flink_1_11_1_spark", "__init__.py")):
        _fail(f"no flink_1_11_1_spark package under {ROOT}; run from a full checkout")
    sys.path[:0] = [HERE, ROOT]
    import workloads

    if a.workload not in workloads.WORKLOADS:
        _fail(f"unknown workload {a.workload!r}; one of {', '.join(workloads.WORKLOADS)}")
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    inputs = workloads.prepare(a.workload, work, a.seed, cpus)

    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(run_dir, "eventlog"))
    refs, out = os.path.join(run_dir, "refs.json"), os.path.join(run_dir, "result.json")
    with open(refs, "w") as f:
        json.dump(inputs.refs, f)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "PYTHONPATH": os.pathsep.join([ROOT, HERE] + [x for x in [env.get("PYTHONPATH")] if x]),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        # every JVM, the spark-submit launcher too: no hsperfdata files in
        # the system temp dir
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            f"--conf spark.sql.warehouse.dir={run_dir}/warehouse",
            f"--conf spark.eventLog.dir=file://{run_dir}/eventlog",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
            "--conf spark.ui.showConsoleProgress=false",
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir}"',
            "pyspark-shell",
        ]),
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--cpus", str(cpus), "--work", run_dir,
           "--data-dir", inputs.data_dir, "--refs", refs, "--out", out,
           "--spawned", repr(time.time())]
    with open(os.path.join(run_dir, "worker.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _reap(proc)
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "worker.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        _fail(f"worker {'timed out' if code is None else f'exited with {code}'}")
    with open(out) as f:
        result = json.load(f)
    info = result.pop("info")
    print(f"workload {a.workload}  seed {a.seed}  cpus {cpus}  trace {a.trace}")
    for name, m in result["metrics"].items():
        print(f"  {name:<44} {m['value']:>14.6g} {m['unit']}")
    if "peak_rss_mb" in info:
        print(f"  {'peak_rss_mb (recorded, no bound)':<44} {info['peak_rss_mb']:>14.6g} MB")
    print(json.dumps({"info": info}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()

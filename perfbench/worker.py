"""One benchmark run, in a fresh process that ``run.py`` starts.

Set-up is timed once, cold: from process start (interpreter, pyspark
and library imports, JVM launch, ``session.get_spark``,
``catalog.register``, a probe query, warm-up) to the first timed op.
Input generation and staging are taken out of it.  Timed passes then
run in closed loop, one op at a time: as many as the workload's nominal
pass time fits in ``--seconds``, at least one.  Results are checked
after the timed region.  With ``--trace 1`` one pass runs three times:
untraced (a warm-up), with the event log on, and untraced again after
the same kind of session restart; the traced pass gives the layer
numbers, and its time over the last pass's the tracing overhead.

The result, one JSON object, goes to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import time

import layers
import workloads

PROBE_SQL = "SELECT sum(id * 2) s, count(*) n FROM range(16777216) GROUP BY id % 64"
CLK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------- host and tree

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def tree() -> list[int]:
    kids, out = _children(), [os.getpid()]
    for pid in out:
        out.extend(kids.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User+sys CPU of this process and its descendants, reaped ones
    included (their time lands in the parent's cutime/cstime)."""
    total = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / CLK


def tree_peak_rss_mb() -> dict[str, float]:
    """Each live process's peak resident set (VmHWM), summed by name."""
    out: dict[str, float] = {}
    for pid in tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        name = fields["Name"].strip()
        out[name] = out.get(name, 0.0) + int(fields.get("VmHWM", "0 kB").split()[0]) / 1024
    return out


def steal_s() -> float:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK if len(fields) > 8 else 0.0


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten
    samples beyond it; the slowest sample when that percentile would not
    lie above the median (fewer than 22 samples)."""
    v = sorted(values)
    k = len(v) - 11
    if k <= (len(v) - 1) // 2:
        k = len(v) - 1
    return v[k], 100.0 * (k + 1) / len(v)


# ------------------------------------------------------------ the run

class Run:
    def __init__(self, a):
        # library imports belong to set-up; workload construction, which
        # generates the inputs, does not
        from flink_1_11_1_spark import catalog, declared, session  # noqa: F401
        from flink_1_11_1_spark.extensions import registry  # noqa: F401

        self.a = a
        self.cpus = a.cpus
        self.work = a.work
        t0 = time.time()
        with open(a.refs) as f:
            inputs = workloads.Inputs(a.data_dir, json.load(f))
        self.wl = workloads.make(a.workload, inputs, a.work, a.seed)
        self.gen_s = time.time() - t0
        self.spark = None
        self.rounds: list[dict] = []
        self.n_pass = 0
        self.probes: list[float] = []

    def setup(self, t0: float, event_log: bool) -> None:
        """One set-up round; ``t0`` is when the round began.  The first
        round is the cold one; later rounds restart the session in the
        same JVM (the traced run turns the event log on that way)."""
        from pyspark import SparkContext

        from flink_1_11_1_spark import catalog, session

        if self.spark is not None:
            self.spark.stop()
        if SparkContext._jvm is not None:
            SparkContext.setSystemProperty("spark.eventLog.enabled", str(event_log).lower())
        t1 = time.time()
        spark = session.get_spark("perfbench", f"local[{self.cpus}]")
        spark.sparkContext.setLogLevel("ERROR")
        t2 = time.time()
        catalog.register(spark, self.a.data_dir)
        t3 = time.time()
        self.wl.register(spark)
        excluded = 0.0
        if not self.rounds:  # input generation and staging: not set-up time
            excluded = time.time()
            self.wl.stage(spark)
            excluded = time.time() - excluded + self.gen_s
        t4 = time.time()
        spark.sql(PROBE_SQL).collect()
        t5 = time.time()
        self.wl.warmup(spark)
        t6 = time.time()
        self.spark = spark
        self.probes.append(t5 - t4)
        self.rounds.append({"setup_s": t6 - t0 - excluded, "get_spark_s": t2 - t1,
                            "register_s": t3 - t2, "event_log": event_log,
                            "app_id": spark.sparkContext.applicationId})

    def measure(self, trace: bool, n_passes: int) -> dict:
        passes, samples = [], []
        spans0 = len(getattr(self.wl, "spans", []))
        runs0 = len(getattr(self.wl, "runs", []))
        cpu0, st0 = tree_cpu_s(), steal_s()
        for _ in range(n_passes):
            t0 = time.time()
            # pass numbers run on across calls: job groups stay unique
            samples += self.wl.run_pass(self.spark, self.n_pass, trace)
            passes.append(time.time() - t0)
            self.n_pass += 1
        return {"passes": passes, "samples": samples,
                "cpu_s": (tree_cpu_s() - cpu0) / len(passes),
                "steal_s": steal_s() - st0,
                "spans": getattr(self.wl, "spans", [])[spans0:],
                "runs": getattr(self.wl, "runs", [])[runs0:]}

    def stop(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(60)


def end_to_end(run: Run, m: dict, checks) -> dict:
    ops = [s.seconds for s in m["samples"]]
    tail_v, tail_p = tail(ops)
    rss = tree_peak_rss_mb()
    pass_s = statistics.median(m["passes"])
    attempted, failed, _ = checks
    return {
        "setup_s": (run.rounds[0]["setup_s"], "s"),
        "pass_s": (pass_s, "s"),
        "op_p50_s": (statistics.median(ops), "s"),
        "op_tail_s": (tail_v, "s"),
        "rows_per_s": (run.wl.input_rows / pass_s, "rows/s"),
        "cpu_s": (m["cpu_s"], "s"),
        "ok_frac": (1.0 - failed / attempted, "ratio"),
    }, {"op_tail_percentile": round(tail_p, 1),
        "op_tail_op": next(s.name for s in m["samples"] if s.seconds == tail_v),
        "ops": len(ops), "passes": len(m["passes"]),
        "op_s": {s.name: round(s.seconds, 3) for s in m["samples"]},
        # G1 grows the JVM heap by GC timing, so peak RSS spreads more
        # across runs than any bound allows: recorded, not bounded
        "peak_rss_mb": round(sum(rss.values()), 1),
        "peak_rss_mb_by_process": {k: round(v) for k, v in rss.items()}}


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--cpus", type=int, required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--data-dir", required=True)
    p.add_argument("--refs", required=True)
    p.add_argument("--spawned", type=float, required=True)
    p.add_argument("--out", required=True)
    a = p.parse_args()
    run = Run(a)
    try:
        if a.trace:
            result = traced(run, a)
        else:
            run.setup(a.spawned, False)
            # as many whole passes as the workload's budgeted pass time
            # fits in --seconds: a fixed count, whatever the host's speed
            m = run.measure(False, max(1, int(a.seconds // run.wl.pass_s)))
            checks = run.wl.check(run.spark)
            metrics, info = end_to_end(run, m, checks)
            result = _result(run, checks, metrics, info, m["steal_s"])
    finally:
        run.stop()
    with open(a.out, "w") as f:
        json.dump(result, f)


def _result(run: Run, checks, metrics: dict, info: dict, steal: float) -> dict:
    attempted, failed, why = checks
    info.update({"cpus": run.cpus, "host.steal_s": round(steal, 3),
                 "host.probe_s": round(statistics.median(run.probes), 4),
                 "input_gen_s": round(run.gen_s, 3),
                 "failures": why[:10]})
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            "info": info}


def traced(run: Run, a) -> dict:
    run.setup(a.spawned, False)
    run.measure(False, 1)
    run.setup(time.time(), True)
    traced_app = run.rounds[-1]["app_id"]
    m_b = run.measure(True, 1)
    run.setup(time.time(), False)  # stops the traced context: log complete
    m_c = run.measure(False, 1)
    checks = run.wl.check(run.spark)
    log = os.path.join(run.work, "eventlog", traced_app)
    metrics, detail = layers.per_layer(run, m_b, log)
    # the first pass warms the JVM; the traced pass is set against the
    # untraced one that, like it, runs after a session restart
    metrics["host.tracing_overhead"] = (m_b["passes"][0] / m_c["passes"][0], "ratio")
    metrics["host.steal_s"] = (m_b["steal_s"], "s")
    metrics["host.probe_s"] = (statistics.median(run.probes), "s")
    return _result(run, checks, metrics, {"passes": len(m_b["passes"]), "op_layers": detail},
                   m_b["steal_s"])


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Bench CLI: times every entry of ``__spark_entry__.queries()`` once,
in name order, in one warm session at $SPARK_GRAFT_SF_DIR (default: the
sf0.1 fixtures, ``catalog.DEFAULT_SF_DIR``) on local[$SPARK_GRAFT_CPUS],
writes every timing to the detail file and prints ONE JSON line.

Budget contract (BASELINE.md): each query within 2x of its matching
shape row; suite wall-clock (incl. startup) under 300 s.

The detail file records what this run measured and nothing else: no
earlier run is read back.  Keep/revert decisions come from the paired
parent/change runs of ``perfbench/``, not from comparing two bench runs;
``load_probe`` and ``steal_s`` say how busy the host was.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from __spark_entry__ import queries  # noqa: E402
from flink_1_11_1_spark.catalog import DEFAULT_SF_DIR  # noqa: E402
from flink_1_11_1_spark.session import HOST_CPUS, cpus, get_spark  # noqa: E402

HEADLINE = ("q03", "q05", "q22", "q34")  # BASELINE.md shape rows
PROBE_SQL = "SELECT sum(id * 2) s, count(*) n FROM range(16777216) GROUP BY id % 64"


def steal_s(stat_line: str) -> float:
    """Cumulative steal seconds on the aggregate ``cpu`` line of
    /proc/stat (the 8th counter, in clock ticks)."""
    fields = stat_line.split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def read_steal() -> float:
    try:
        with open("/proc/stat") as f:
            return steal_s(f.readline())
    except OSError:
        return 0.0


def sf_of(sf_dir: str) -> float | str:
    """Scale factor named by the directory: ``.../sf0.1`` -> 0.1."""
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    return float(sf) if sf.replace(".", "").isdigit() else sf


def detail_file(sf: float | str, n_cpus: int) -> str:
    """sf0.1 at the host core count is the canonical record; every other
    (sf, cpus) pair gets its own file, so it never overwrites that one."""
    if sf == 0.1 and n_cpus == HOST_CPUS:
        return "BENCH_DETAIL.json"
    return f"BENCH_DETAIL_sf{sf}_c{n_cpus}.json"


def measure(spark, sf_dir: str, names=None) -> dict:
    """Warm up untimed, then time each named entry (default: all of
    ``queries()``) once, in name order.  An entry that raises stops the
    run.

    The probe is a fixed, data-independent query run twice: the first
    run warms the JIT, the second is timed and reported as
    ``load_probe``.  q03, the heaviest headline shape, then runs once
    untimed so the first timed entry does not absorb codegen warm-up.
    ``steal_s`` is the host's steal time over warm-up and timed loop.
    """
    runners = queries()
    steal0 = read_steal()
    spark.sql(PROBE_SQL).collect()
    t0 = time.time()
    spark.sql(PROBE_SQL).collect()
    load_probe = round(time.time() - t0, 3)
    runners["q03"](spark, sf_dir).collect()
    timings = {}
    for name in sorted(runners if names is None else names):
        t0 = time.time()
        runners[name](spark, sf_dir).collect()
        timings[name] = round(time.time() - t0, 3)
    return {
        "load_probe": load_probe,
        "steal_s": round(read_steal() - steal0, 2),
        "queries": timings,
    }


def summary_line(result: dict, detail: str) -> str:
    """The one stdout line: run-level fields and the headline shapes.
    Per-entry timings live in the detail file only, so the line does not
    grow with the number of entries and stays under 1900 characters: a
    caller that keeps only the last 2000 characters of stdout still gets
    the whole line."""
    q = result["queries"]
    keys = ("metric", "value", "unit", "sf", "cpus", "load_probe", "steal_s")
    return json.dumps(
        {
            **{k: result[k] for k in keys},
            "entries": len(q),
            "detail_file": detail,
            "queries": {n: q[n] for n in HEADLINE if n in q},
        },
        separators=(",", ":"),
    )


def main() -> None:
    sf_dir = DEFAULT_SF_DIR
    t_start = time.time()
    spark = get_spark("flink-1.11.1-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    measured = measure(spark, sf_dir)
    conf = spark.sparkContext.getConf()
    result = {
        "metric": "suite_seconds",
        "value": round(time.time() - t_start, 3),
        "unit": "sec",
        "sf": sf_of(sf_dir),
        "cpus": cpus(),
        "config": {
            "master": conf.get("spark.master"),
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
            "driver_memory": conf.get("spark.driver.memory", "default"),
            "spark_version": spark.version,
        },
        **measured,  # load_probe, steal_s, queries
    }
    detail = detail_file(result["sf"], result["cpus"])
    with open(os.path.join(ROOT, detail), "w") as f:
        json.dump(result, f, indent=1)
    print(summary_line(result, detail), flush=True)


if __name__ == "__main__":
    main()

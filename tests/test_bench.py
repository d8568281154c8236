"""bench.py's pure helpers: detail-file naming, the stdout line and the
steal reading — no Spark."""

from __future__ import annotations

import json
import os

import bench
from flink_1_11_1_spark.session import HOST_CPUS


def test_detail_file_keyed_on_sf_and_cpus():
    assert bench.detail_file(0.1, HOST_CPUS) == "BENCH_DETAIL.json"
    other = HOST_CPUS + 4
    assert bench.detail_file(0.1, other) == f"BENCH_DETAIL_sf0.1_c{other}.json"
    for n in (1, HOST_CPUS, other):
        assert bench.detail_file(0.001, n) == f"BENCH_DETAIL_sf0.001_c{n}.json"
    assert bench.sf_of("/data/sf0.1/") == 0.1
    assert bench.sf_of("/data/sf0.001") == 0.001


def test_stdout_line_fits_budget_for_263_entries():
    names = [f"x_entry_with_a_long_descriptive_name_{i:03d}" for i in range(259)]
    queries = {n: 123.456 for n in names + ["q03", "q05", "q22", "q34"]}
    assert len(queries) == 263
    result = {
        "metric": "suite_seconds", "value": 12345.678, "unit": "sec",
        "sf": 0.001, "cpus": 128, "load_probe": 12.345, "steal_s": 9999.99,
        "queries": queries,
    }
    line = bench.summary_line(result, bench.detail_file(0.001, 128))
    assert "\n" not in line and len(line) < 1900
    parsed = json.loads(line)
    assert parsed["entries"] == 263
    assert parsed["detail_file"] == "BENCH_DETAIL_sf0.001_c128.json"
    assert set(parsed["queries"]) == {"q03", "q05", "q22", "q34"}
    assert parsed["metric"] == "suite_seconds" and parsed["value"] == 12345.678


def test_steal_parsed_from_proc_stat_line():
    hz = os.sysconf("SC_CLK_TCK")
    line = f"cpu  4705 356 584 3699176 23060 0 277 {5 * hz} 0 0\n"
    assert bench.steal_s(line) == 5.0
    # a kernel too old to report steal has no 8th counter
    assert bench.steal_s("cpu  4705 356 584 3699176 23060 0 277\n") == 0.0

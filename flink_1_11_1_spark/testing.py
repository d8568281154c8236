"""Cross-engine oracle harness (SURVEY.md §6.2 item 1).

Runs a declared query on the Spark engine (canonical views) and its
oracle text on DuckDB (raw-parquet views, the way the correctness driver
registers them), canonicalizes both result sets and compares.

Canonicalization matches the validated convention (SURVEY.md §0):
floats -> ``%.6g``, datetimes -> ISO seconds, None -> "", everything
else -> ``str``.  Comparison is row-ordered (every declared query ends
in a deterministic ORDER BY, stricter than the driver's order-insensitive
hash).
"""

from __future__ import annotations

import datetime as _dt
import math
import os
import re
from collections import Counter
from typing import Any

import duckdb

from pyspark.sql import SparkSession

from . import catalog


def _canon(v: Any) -> str:
    if v is None:
        return ""
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return "%.6g" % v
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="seconds")
    if isinstance(v, _dt.date):
        return v.isoformat()
    try:  # decimal
        import decimal

        if isinstance(v, decimal.Decimal):
            return "%.6g" % float(v)
    except Exception:
        pass
    return str(v)


def canon_rows(cols: list[str], rows: list[tuple]) -> list[tuple[str, ...]]:
    """Sort columns by name (driver convention), canonicalize values."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [tuple(_canon(r[i]) for i in order) for r in rows]


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Views registered the way the driver does: raw read_parquet."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in catalog.TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def run_spark(spark: SparkSession, sf_dir: str, sql: str):
    catalog.register(spark, sf_dir)
    df = spark.sql(sql)
    return df.columns, [tuple(r) for r in df.collect()]


def run_duckdb(con: duckdb.DuckDBPyConnection, sql: str):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, cur.fetchall()


def compare(
    spark_cols: list[str],
    spark_rows: list[tuple],
    duck_cols: list[str],
    duck_rows: list[tuple],
) -> tuple[bool, str]:
    if sorted(spark_cols) != sorted(duck_cols):
        return False, f"schema mismatch: spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    if len(spark_rows) != len(duck_rows):
        return False, f"row count: spark={len(spark_rows)} duck={len(duck_rows)}"
    a = canon_rows(spark_cols, spark_rows)
    b = canon_rows(duck_cols, duck_rows)
    for i, (ra, rb) in enumerate(zip(a, b)):
        if ra != rb:
            return False, f"row {i}: spark={ra} duck={rb}"
    return True, "ok"


def plan_fingerprint(df) -> str:
    """Normalized optimized-logical-plan string — the golden-plan-test
    fingerprint (the reference's plan tests assert checked-in optimizer
    output per query: flink-table-planner-blink
    ``src/test/resources/.../plan/**/*.xml``; this is that harness with
    Catalyst's optimized plan as the asserted artifact).

    Normalization strips everything environment- or run-specific:
    expression ids (#123), file paths, the sf fixture dir, and
    whitespace — the residue is the operator tree + expressions, which
    is deterministic for a pinned Spark version."""
    import re as _re

    s = df._jdf.queryExecution().optimizedPlan().toString()
    s = _re.sub(r"#\d+[A-Za-z]?", "#", s)
    # generated alias counters are session-global, not per-plan
    s = _re.sub(r"_common_expr_\d+", "_common_expr_", s)
    s = _re.sub(r"_groupingexpression\d*", "_groupingexpression", s)
    s = _re.sub(r"file:[^\],\s]+", "<path>", s)
    s = _re.sub(r"/root/testdata/sf[\d.]+", "<sf>", s)
    s = _re.sub(r"\s+", " ", s)
    return s.strip()


_FILE_SCAN_RE = re.compile(
    r"FileScan parquet .*?Location: \w+\(\d+ paths?\)\[(?P<paths>[^\]]*)\]"
    r".*?PushedFilters: \[(?P<pushed>.*?)\], ReadSchema: (?P<schema>struct<.*>)"
)


def duplicate_scans(plan) -> dict[tuple[str, str, str], int]:
    """Parquet scans that run more than once in one executed plan:
    ``{(table, read schema, pushed filters): count}`` for every key seen
    at least twice.  ``plan`` is a DataFrame or an ``executedPlan()``
    string.

    AQE accounting: Spark reuses an exchange only when AQE cuts the
    plan into query stages at run time, so an unexecuted adaptive plan
    shows no reuse at all.  A DataFrame whose plan is not final yet is
    therefore collected first; in the final plan a reused stage prints
    as a ``ReusedExchange`` leaf with no scan beneath it, and the
    ``== Initial Plan ==`` sections are skipped.  What is left counts
    each scan that really ran.  A ``localCheckpoint``ed lineage runs as
    its own job and shows here only as ``Scan ExistingRDD``."""
    if not isinstance(plan, str):
        if "isFinalPlan=false" in plan._jdf.queryExecution().executedPlan().toString():
            plan.collect()
        plan = plan._jdf.queryExecution().executedPlan().toString()
    counts: Counter[tuple[str, str, str]] = Counter()
    skip_below = None
    for line in plan.splitlines():
        # column where the node (or its "+-" edge) starts, past the
        # ancestors' ":" rails
        depth = len(line) - len(line.lstrip(" :"))
        if skip_below is not None and depth > skip_below:
            continue
        skip_below = None
        if "== Initial Plan ==" in line:
            skip_below = depth
            continue
        m = _FILE_SCAN_RE.search(line)
        if m:
            table = ",".join(
                os.path.basename(p.strip()).removesuffix(".parquet")
                for p in m["paths"].split(",")
            )
            counts[table, m["schema"], m["pushed"]] += 1
    return {k: n for k, n in counts.items() if n > 1}

"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Engine: ``flink_1_11_1_spark`` (see SURVEY.md; the declared queries are
§3.13, each tagged to the Blink physical operator(s) it exercises).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable
from functools import lru_cache

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))  # driver-cwd safety

from pyspark.sql import DataFrame, SparkSession

from flink_1_11_1_spark import catalog, declared
from flink_1_11_1_spark.extensions import registry as ext_registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q3 shape: 3-way join + agg + top-k) on sf0.001."""
    catalog.register(spark, "/root/testdata/sf0.001")
    return spark.sql(declared.QUERIES["q05"])


def _declared_runner(sql: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        catalog.register(spark, sf_dir)
        return spark.sql(sql)

    return run


# --- driver-window rotation (automated since round 13) -------------
#
# The correctness driver checks only the FIRST 50 entries of queries()
# per round.  The rotation invariant: never-proven entries lead the
# window; proven entries follow, ordered STALEST-FIRST by their last
# recorded driver green, so re-verification slots burn down the oldest
# greens automatically.  The green history is derived from the
# checked-in CORRECTNESS_r*.json artifacts — no hand-curated set to
# append each round (rounds 1–12 maintained a literal set by hand; the
# git history preserves it).  _REVERIFY_FIRST remains the only manual
# knob: entries whose implementation the CURRENT round touched jump
# the staleness queue.


@lru_cache(maxsize=4)
def _green_rounds(artifact_dir: str | None = None) -> dict[str, int]:
    """entry name -> latest round with a recorded driver green.

    A row is green when it has no error and matched the oracle
    (rows + schema + value hash; a missing hash/schema key — the old
    rows-only shape — counts as green, matching the hand-curated
    history this replaces).  `artifact_dir` overrides the artifact
    location so tests can pin the parser to a synthetic fixture that
    live driver artifacts can never age (round-14 fix: the round-13
    test hardcoded a latest-green value that the very next driver
    artifact was designed to change).
    """
    here = artifact_dir or os.path.dirname(os.path.abspath(__file__))
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path, encoding="utf-8") as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            green = (
                row.get("err") is None
                and row.get("rows_match") is True
                and row.get("schema_match") is not False
                and row.get("hash_match") is not False
            )
            if green and rnd > out.get(name, 0):
                out[name] = rnd
    return out


# Kept as the name tests/docs use; now computed, never hand-edited.
_DRIVER_GREEN_HISTORY = frozenset(_green_rounds())



# Unproven entries exceeding the 50-row driver window are deferred in
# this order (shared-text TPC-H-style shapes first: one SQL string runs
# on both engines, so a driver row adds the least new information).
# Empty whenever the fresh set fits the window.
_DEFER_FIRST: tuple[str, ...] = ()

# The ONLY manual rotation knob since round 13: proven entries whose
# implementation the CURRENT round touched jump the staleness queue.
# Everything else is ordered stalest-first automatically from the
# CORRECTNESS history.  x_semdedup leads: its block-decomposed pair
# join shipped without a driver-oracle row.  Every SQL text rewrite now
# reads one lexer (sql_lex.py), so the group-window, LATERAL /
# SYSTEM_TIME, DDL, hint, catalog-qualification and multi-INSERT
# entries re-verify next, then every MR entry (MEASURES / DEFINE
# splitting and the cross-variable DEFINE lowering read the same lexer),
# then the CEP entries (their state conditions reach the same
# conjunct split, which picks the lowering tier).
_REVERIFY_FIRST: tuple[str, ...] = (
    "x_semdedup",
    "x_sql_tumble", "x_sql_hop", "x_sql_session", "x_sql_lateral",
    "x_sql_system_time", "x_ddl_roundtrip", "x_ddl_like",
    "x_ddl_options_hint", "x_catalog_qualified", "x_hive_dialect",
    "x_hive_multi_insert", "x_mr_composed",
    "x_mr_agg", "x_mr_subset", "x_mr_multikey",
    "x_mr_plus", "x_mr_offsets", "x_mr_next", "x_mr_optional",
    "x_mr_xvar", "x_mr_allrows", "x_mr_prev", "x_mr_skip_to_last",
    "x_mr_allrows_running", "x_mr_backtrack", "x_mr_alternation",
    "x_mr_group_funnel", "x_mr_quantified_tail",
    "x_cep_funnel3", "x_cep_any", "x_cep_times_df", "x_cep_optional_df",
    "x_cep_overlap_opt",
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        qid: _declared_runner(declared.spark_text(qid)) for qid in declared.QUERIES
    }
    out.update(ext_registry.queries())
    greens = _green_rounds()
    fresh = {k: v for k, v in out.items() if k not in greens}
    deferred = {k: fresh.pop(k) for k in _DEFER_FIRST if k in fresh}
    proven = {k: v for k, v in out.items() if k in greens}
    reverify = {k: proven.pop(k) for k in _REVERIFY_FIRST if k in proven}
    # stalest-first burn-down: oldest last-green rounds re-verify first;
    # registration order breaks ties (stable sort → deterministic).
    stale = dict(sorted(proven.items(), key=lambda kv: greens[kv[0]]))
    return {**fresh, **deferred, **reverify, **stale}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query key (omitted → rows-only check)."""
    out = {qid: declared.oracle_text(sql) for qid, sql in declared.QUERIES.items()}
    out.update(ext_registry.oracle_sql())
    return out

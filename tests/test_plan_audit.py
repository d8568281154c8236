"""Executed-plan audit: no declared entry scans the same parquet input
twice unless the allowlist below says why.

The recurring shared-frame defect (a derived frame that feeds two
consumers re-executes its whole lineage per consumer, because Catalyst
neither reuses the exchange across self-join aliases nor materializes a
CTE referenced twice) shows as the same (table, read schema, pushed
filters) scan appearing more than once in one executed plan.
``testing.duplicate_scans`` finds those; this file pins the parser on a
synthetic plan and sweeps every ``queries()`` entry against the
allowlist."""

from __future__ import annotations

import pytest

from flink_1_11_1_spark import testing

from .conftest import SF_SMOKE

_LI = (
    "FileScan parquet [l_orderkey#{i}L,l_suppkey#{j}L] Batched: true, "
    "DataFilters: [isnotnull(l_orderkey#{i}L)], Format: Parquet, "
    "Location: InMemoryFileIndex(1 paths)[file:/data/sf/lineitem.parquet], "
    "PartitionFilters: [], PushedFilters: [IsNotNull(l_orderkey)], "
    "ReadSchema: struct<l_orderkey:bigint,l_suppkey:bigint>"
)
_OR = (
    "FileScan parquet [o_orderkey#{i}L] Batched: true, DataFilters: [], "
    "Format: Parquet, Location: InMemoryFileIndex(1 paths)"
    "[file:/data/sf/orders.parquet], PartitionFilters: [], "
    "PushedFilters: [{f}], ReadSchema: struct<o_orderkey:bigint>"
)

# a final AQE plan: lineitem read twice (one side broadcast, so no
# exchange to reuse), orders read once plus once more through a
# ReusedExchange (no scan printed beneath it), orders under another
# pushed filter (a different key), and a scalar subquery whose own
# Initial Plan repeats its scan; the outer Initial Plan repeats every
# scan again.  Only lineitem ran twice.
SYNTHETIC_PLAN = f"""AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   ResultQueryStage 4
   +- *(4) BroadcastHashJoin [l_orderkey#1L], [l_orderkey#3L], Inner, BuildRight, false
      :- *(4) SortMergeJoin [l_orderkey#1L], [o_orderkey#5L], Inner
      :  :- *(1) Filter (isnotnull(l_orderkey#1L) AND (l_orderkey#1L > Subquery subquery#9, [id=#10]))
      :  :  :  +- Subquery subquery#9, [id=#10]
      :  :  :     +- AdaptiveSparkPlan isFinalPlan=true
      :  :  :        +- == Final Plan ==
      :  :  :           ResultQueryStage 0
      :  :  :           +- *(1) ColumnarToRow
      :  :  :              +- {_OR.format(i=11, f="GreaterThan(o_orderkey,5)")}
      :  :  :        +- == Initial Plan ==
      :  :  :           {_OR.format(i=11, f="GreaterThan(o_orderkey,5)")}
      :  :  +- {_LI.format(i=1, j=2)}
      :  +- ShuffleQueryStage 1
      :     +- Exchange hashpartitioning(o_orderkey#5L, 4), ENSURE_REQUIREMENTS, [plan_id=20]
      :        +- {_OR.format(i=5, f="")}
      :- ShuffleQueryStage 2
      :  +- ReusedExchange [o_orderkey#7L], Exchange hashpartitioning(o_orderkey#5L, 4), ENSURE_REQUIREMENTS, [plan_id=20]
      +- BroadcastQueryStage 3
         +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=30]
            +- {_LI.format(i=3, j=4)}
+- == Initial Plan ==
   BroadcastHashJoin [l_orderkey#1L], [l_orderkey#3L], Inner, BuildRight, false
   :- SortMergeJoin [l_orderkey#1L], [o_orderkey#5L], Inner
   :  :- {_LI.format(i=1, j=2)}
   :  +- {_OR.format(i=5, f="")}
   :- {_OR.format(i=7, f="")}
   +- {_LI.format(i=3, j=4)}
"""


def test_duplicate_scans_reads_only_what_ran():
    assert testing.duplicate_scans(SYNTHETIC_PLAN) == {
        ("lineitem", "struct<l_orderkey:bigint,l_suppkey:bigint>",
         "IsNotNull(l_orderkey)"): 2,
    }


# entry -> why its plan still reads one parquet input more than once.
# Seeded from the r15 audit; every other name was found by this sweep
# and is listed in CHANGES.md as not yet staged.  An entry that stops
# duplicating a scan must leave the list (the sweep fails on stale
# names), so a fix is recorded where it lands.
ALLOWLIST = {
    # audited and left (r15): raw-table self-joins whose sides are
    # distinct join roles; re-scanning pruned parquet beats
    # materializing a raw table
    "x_tpcds_two_supplier": "EXISTS over a lineitem self-join: l1 streams, l2 is broadcast",
    "x_tpcds_multi_hop": "EXISTS over a lineitem self-join: l1 streams, l2 is broadcast",
    # found by the sweep, not yet staged: a CTE or frame referenced
    # twice re-runs its scan (and what sits on it) per reference
    "q35": "half CTE read by both UNION ALL arms (the hop's two phase-shifted tumbles)",
    "x_tpcds_yoy": "yr CTE self-joined under two year filters (orders scanned per side)",
    "x_tpcds_week_seq": "wk CTE self-joined under two year filters (lineitem per side)",
    "x_tpcds_excess_discount": "d CTE read by its own aggregate avgd and by the join",
    "x_tpcds_promo_share": "base CTE (lineitem x part x orders) read by the total and the promo sum",
    "x_tpcds_triple_growth": "s CTE (customer-year sums) self-joined on consecutive years",
    "x_tpcds_triple_union": "three UNION ALL arms over the same lineitem columns",
    "x_tpcds_year_ratio": "s CTE (customer-year sums) self-joined for 1997 vs 1998",
    "x_bloom_prune": "build CTE (customer, c_acctbal > 9000) read 4x: probes, count, verify",
    "x_heavy_hitters": "tok CTE read by each of the 4 count-min rows and by est (5 scans)",
    "x_hll_union": "regs CTE and the exact-union ex join each scan events",
    "x_sketch_hll": "sketch registers and the exact-count ex CTE each scan events",
    "x_retention": "first_day and activity CTEs each scan events (user_id, ts)",
    "x_bm25": "toks frame read by the corpus stats aggregate and by the term hits",
    "x_rrf_fusion": "its BM25 arm: toks read by the corpus stats and by the term hits",
    "x_ann_ivf": "corpus read by the centroid sample and by cell assignment",
    "x_ann_quantized": "queries and corpus each read by quantization and by the exact re-rank",
    "x_tapi_join_setops": "building frame read by intersect and by minus",
}


@pytest.mark.slow
def test_entries_scan_each_input_once(spark):
    """Sweep every declared entry at sf0.001 (140-245 s on 4 cores: each
    entry is built and collected so AQE's final plan, with its reuse,
    is the one audited).  x_mr_composed passes: its 3 executed scans
    are 3 roles (events for the match fold, events for the measure
    join-back, customer); r15's count of 6 read the Initial Plan
    section as well."""
    import __spark_entry__ as e

    found = {}
    for name, run in e.queries().items():
        dups = testing.duplicate_scans(run(spark, SF_SMOKE))
        if dups:
            found[name] = dups
    unexplained = {n: d for n, d in found.items() if n not in ALLOWLIST}
    stale = sorted(set(ALLOWLIST) - set(found))
    assert not unexplained, f"duplicate scans: {unexplained}"
    assert not stale, f"allowlisted entries no longer duplicate a scan: {stale}"

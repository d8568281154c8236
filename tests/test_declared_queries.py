"""Cross-engine oracle suite (SURVEY.md §6.2 item 1): every declared
query runs on the Spark engine and on DuckDB; canonicalized results must
match row-for-row.  sf0.001 here for speed; the driver repeats at sf0.01.
"""

import pytest

from flink_1_11_1_spark import declared, testing

from .conftest import SF_SMOKE


@pytest.mark.parametrize("qid", sorted(declared.QUERIES))
def test_declared_query_matches_oracle(spark, duck, qid):
    sc, sr = testing.run_spark(spark, SF_SMOKE, declared.spark_text(qid))
    dc, dr = testing.run_duckdb(duck, declared.oracle_text(declared.QUERIES[qid]))
    ok, msg = testing.compare(sc, sr, dc, dr)
    assert ok, f"{qid}: {msg}"


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0 and df.columns
    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 42


def test_driver_window_leads_with_unproven_entries():
    """The correctness driver checks only the FIRST 50 queries() entries
    per round; the rotation invariant (CLAUDE.md) is that every
    never-proven entry fits inside the window and leads it."""
    import __spark_entry__ as e

    names = list(e.queries())
    fresh = [k for k in names if k not in e._green_rounds()]
    assert len(fresh) <= 50, f"{len(fresh)} unproven entries exceed the driver window"
    assert names[: len(fresh)] == fresh  # unproven first, proven rotations after


def test_green_history_derived_from_correctness_artifacts():
    """Round 13 automated the rotation: the green history is parsed from
    the checked-in CORRECTNESS_r*.json files, so it must (a) cover every
    declared entry once all are proven, and (b) record the LATEST green
    round.  Anchors use >= so a future driver artifact re-verifying an
    anchor entry (which bumps its latest-green — the rotation working as
    designed) can never age this test (round-13 judge finding)."""
    import __spark_entry__ as e

    greens = e._green_rounds()
    names = set(e.queries())
    # every entry except this round's fresh additions has a recorded green
    unproven = names - set(greens)
    assert len(unproven) <= 50, f"unproven set exceeds the driver window: {unproven}"
    assert len(set(greens) & names) >= 250
    assert greens["x_session_salted"] >= 12  # first green r12
    # a re-verified entry carries its latest round, not its first
    assert greens["x_dedup_exact"] >= 12  # r01-era entry, re-verified r12
    assert greens["q01"] >= 12


def test_green_rounds_parser_on_synthetic_fixture(tmp_path):
    """Pin _green_rounds' parsing rules against a synthetic artifact
    directory so live CORRECTNESS files can never age the assertions:
    latest-green wins, err/rows/hash/schema gates, legacy rows-only
    shape counts as green, malformed rows skipped."""
    import json

    import __spark_entry__ as e

    r1 = {
        "a": {"err": None, "rows_match": True},  # legacy rows-only: green
        "b": {"err": None, "rows_match": True, "schema_match": True,
              "hash_match": True},
        "c": {"err": "boom", "rows_match": True},  # err: not green
        "d": {"err": None, "rows_match": False},  # mismatch: not green
        "e": "not-a-dict",  # malformed: skipped
    }
    r2 = {
        "b": {"err": None, "rows_match": True, "schema_match": True,
              "hash_match": False},  # hash red: r1 stays latest for b
        "a": {"err": None, "rows_match": True, "schema_match": True,
              "hash_match": True},  # re-verified: latest bumps to 2
    }
    (tmp_path / "CORRECTNESS_r1.json").write_text(json.dumps(r1))
    (tmp_path / "CORRECTNESS_r2.json").write_text(json.dumps(r2))
    (tmp_path / "CORRECTNESS_notaround.json").write_text("{}")
    greens = e._green_rounds(str(tmp_path))
    assert greens == {"a": 2, "b": 1}


def test_proven_tail_ordered_stalest_first():
    """The window tail must be the stalest greens given the recorded
    history: after the fresh + _REVERIFY_FIRST blocks, proven entries
    appear in nondecreasing last-green-round order (judge's round-12
    Done criterion for automating the reverify rotation)."""
    import __spark_entry__ as e

    greens = e._green_rounds()
    names = list(e.queries())
    # mirror queries()'s own membership rules exactly: a stale name in
    # either knob (not a current entry / not in the fresh-or-proven
    # bucket) is skipped there, so it must be skipped here too
    # (round-13 review: raw len(_DEFER_FIRST) misaligned the slices).
    fresh = [k for k in names if k not in greens]  # incl. any deferred
    reverify = [k for k in e._REVERIFY_FIRST if k in greens and k in names]
    head = len(fresh) + len(reverify)
    if reverify:
        assert names[head - len(reverify) : head] == reverify
    tail_rounds = [greens[k] for k in names[head:]]
    assert tail_rounds == sorted(tail_rounds), "proven tail not stalest-first"

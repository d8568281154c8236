"""General CEP NFA semantics (streaming/nfa.py): quantifiers,
contiguity, AFTER MATCH SKIP — hand fixtures with known match sets,
plus stream-equals-batch parity on replayed events."""

import datetime as dt

import pytest

from pyspark.sql import functions as F

from flink_1_11_1_spark import catalog
from flink_1_11_1_spark.streaming import nfa, replay

from .conftest import SF_SMOKE


def _events(spark, rows):
    """rows: (event_id, seconds-offset, type) for a single user 1."""
    base = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [(1, eid, base + dt.timedelta(seconds=s), t) for eid, s, t in rows],
        "user_id long, event_id long, ts timestamp, event_type string",
    )


def _matches(df):
    return [(r.ids, r.labels) for r in df.orderBy("start_ts", "end_ts").collect()]


def test_times_consecutive_breaks_on_intervening(spark):
    pat = (
        nfa.PatternSeq.begin("a", "event_type = 'A'")
        .times(2)
        .consecutive()
        .followed_by("b", "event_type = 'B'")
        .within("1 hour")
    )
    # A1 A2 B  -> match; A3 X A4 B -> chain broken, no match
    ev = _events(
        spark,
        [(1, 0, "A"), (2, 10, "A"), (3, 20, "B"),
         (4, 100, "A"), (5, 110, "X"), (6, 120, "A"), (7, 130, "B")],
    )
    got = _matches(pat.match_batch(ev))
    assert got == [([1, 2, 3], ["a", "a", "b"])]


def test_times_relaxed_allows_intervening(spark):
    pat = (
        nfa.PatternSeq.begin("a", "event_type = 'A'")
        .times(2)
        .followed_by("b", "event_type = 'B'")
        .within("1 hour")
    )
    ev = _events(spark, [(1, 0, "A"), (2, 10, "X"), (3, 20, "A"), (4, 30, "B")])
    got = _matches(pat.match_batch(ev))
    assert got == [([1, 3, 4], ["a", "a", "b"])]


def test_times_or_more_greedy(spark):
    """A.timesOrMore(2) B over [A1 A2 A3 B]: the A1-start collects all
    three A's (greedy); the A2-start collects two; the A3-start never
    reaches min -> 2 matches under NO_SKIP."""
    pat = (
        nfa.PatternSeq.begin("a", "event_type = 'A'")
        .times_or_more(2)
        .followed_by("b", "event_type = 'B'")
        .within("1 hour")
    )
    ev = _events(spark, [(1, 0, "A"), (2, 10, "A"), (3, 20, "A"), (4, 30, "B")])
    got = _matches(pat.match_batch(ev))
    assert got == [([1, 2, 3, 4], ["a", "a", "a", "b"]),
                   ([2, 3, 4], ["a", "a", "b"])]


def test_optional_state_skipped_and_taken(spark):
    pat = (
        nfa.PatternSeq.begin("a", "event_type = 'A'")
        .followed_by("m", "event_type = 'M'")
        .optional()
        .followed_by("b", "event_type = 'B'")
        .within("1 hour")
    )
    ev = _events(
        spark,
        [(1, 0, "A"), (2, 10, "B"),      # skipped
         (3, 100, "A"), (4, 110, "M"), (5, 120, "B")],  # taken
    )
    got = _matches(pat.match_batch(ev))
    assert got == [([1, 2], ["a", "b"]), ([3, 4, 5], ["a", "m", "b"])]


def test_next_strict_contiguity_kills(spark):
    pat = (
        nfa.PatternSeq.begin("a", "event_type = 'A'")
        .next_("b", "event_type = 'B'")
        .within("1 hour")
    )
    ev = _events(
        spark,
        [(1, 0, "A"), (2, 10, "X"), (3, 20, "B"),   # broken
         (4, 100, "A"), (5, 110, "B")],              # immediate -> match
    )
    got = _matches(pat.match_batch(ev))
    assert got == [([4, 5], ["a", "b"])]


def test_after_match_skip_past_last(spark):
    """[A1 A2 B1 B2]: NO_SKIP emits (A1,B1) and (A2,B1); PAST_LAST emits
    only the oldest match and clears state, so B2 finds nothing."""
    rows = [(1, 0, "A"), (2, 10, "A"), (3, 20, "B"), (4, 30, "B")]
    base = (
        nfa.PatternSeq.begin("a", "event_type = 'A'")
        .followed_by("b", "event_type = 'B'")
        .within("1 hour")
    )
    no_skip = _matches(base.match_batch(_events(spark, rows)))
    assert no_skip == [([1, 3], ["a", "b"]), ([2, 3], ["a", "b"])]
    past = _matches(
        base.after_match_skip("past_last").match_batch(_events(spark, rows))
    )
    assert past == [([1, 3], ["a", "b"])]


def test_after_match_skip_to_next_equals_no_skip_here(spark):
    """Deterministic-greedy folding never holds two partials with the
    same start event, so TO_NEXT degenerates to NO_SKIP (documented)."""
    rows = [(1, 0, "A"), (2, 10, "A"), (3, 20, "B")]
    base = (
        nfa.PatternSeq.begin("a", "event_type = 'A'")
        .followed_by("b", "event_type = 'B'")
        .within("1 hour")
    )
    assert _matches(base.match_batch(_events(spark, rows))) == _matches(
        base.after_match_skip("to_next").match_batch(_events(spark, rows))
    )


def test_within_horizon_expires(spark):
    pat = (
        nfa.PatternSeq.begin("a", "event_type = 'A'")
        .followed_by("b", "event_type = 'B'")
        .within("1 minute")
    )
    ev = _events(spark, [(1, 0, "A"), (2, 61, "B"), (3, 100, "A"), (4, 150, "B")])
    got = _matches(pat.match_batch(ev))
    assert got == [([3, 4], ["a", "b"])]


def test_final_state_quantifier_contract():
    """Round 11: a GREEDY quantified final (a{1,3} / a+) is legal —
    the match closes at cap / strict break / WITHIN expiry / finalize.
    The still-invalid shapes stay loud."""
    nfa.PatternSeq.begin("a", "true").one_or_more()._check()
    nfa.PatternSeq.begin("a", "true").times(1, 3)._check()
    with pytest.raises(ValueError, match="reluctant"):
        (nfa.PatternSeq.begin("a", "true").one_or_more().reluctant()
         .with_backtracking()._check())
    with pytest.raises(ValueError, match="quantified FINAL"):
        (nfa.PatternSeq.begin("a", "true").one_or_more()
         .until("event_type = 'stop'")._check())
    with pytest.raises(ValueError, match="followed_by_any"):
        (nfa.PatternSeq.begin("a", "true")
         .followed_by_any("b", "true").times(1, 3)
         .with_backtracking()._check())


def test_nfa_equals_cep_lite_on_fixture(spark):
    """The general NFA restricted to A followedBy B within t must equal
    cep.match_batch (the proven CEP-lite operator) on real events."""
    from flink_1_11_1_spark.streaming import cep

    ev = catalog.load_table(spark, SF_SMOKE, "events")
    lite = {
        (r.user_id, r.a_id, r.b_id)
        for r in cep.match_batch(ev, horizon_s=3600).collect()
    }
    pat = (
        nfa.PatternSeq.begin("a", cep.A_COND)
        .followed_by("b", cep.B_COND)
        .within("1 hour")
    )
    got = {
        (r.user_id, r.ids[0], r.ids[1]) for r in pat.match_batch(ev).collect()
    }
    assert got == lite


def test_iterative_condition_batch(spark):
    """where_iterative: B binds only when its value exceeds the bound A's."""
    base = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(1, 1, base, "A", 5.0),
         (1, 2, base + dt.timedelta(seconds=10), "B", 9.0),
         (1, 3, base + dt.timedelta(seconds=100), "A", 5.0),
         (1, 4, base + dt.timedelta(seconds=110), "B", 3.0)],
        "user_id long, event_id long, ts timestamp, event_type string, value double",
    )
    pat = (
        nfa.PatternSeq.begin("a", "event_type = 'A'")
        .followed_by("b", "event_type = 'B'")
        .where_iterative('EV["value"] > LAST("a","value")', "value")
        .within("1 hour")
    )
    got = _matches(pat.match_batch(ev))
    assert got == [([1, 2], ["a", "b"])]


def test_s8_nfa_stream_equals_batch_iterative(spark, tmp_path):
    """Streaming parity for cross-variable (IterativeCondition) patterns:
    the partial's bound values survive the JSON state round-trip."""
    d = str(tmp_path / "replay_iter")
    replay.write_replay(spark, SF_SMOKE, d, parts=4)
    pat = (
        nfa.PatternSeq.begin("a", "event_type = 'click'")
        .followed_by("b", "event_type = 'purchase'")
        .where_iterative('EV["value"] > LAST("a","value")', "value")
        .within("48 hours")
    )
    sel = ["user_id", "event_id", "ts", "event_type", "value"]
    stream = replay.events_stream(spark, d)
    got, _ = replay.run_stream(
        pat.match_stream(stream.select(*sel)), "append", "s8_nfa_iter"
    )
    batch = pat.match_batch(
        catalog.load_table(spark, SF_SMOKE, "events").select(*sel)
    ).collect()
    key = lambda rows: {(r.user_id, tuple(r.ids)) for r in rows}  # noqa: E731
    assert key(got) == key(batch)
    assert len(batch) > 0


def test_s8_nfa_stream_equals_batch(spark, tmp_path):
    """Streaming NFA (applyInPandasWithState, partials kept across
    micro-batches) equals the batch fold on replayed events."""
    d = str(tmp_path / "replay")
    replay.write_replay(spark, SF_SMOKE, d, parts=6)
    pat = (
        nfa.PatternSeq.begin("a", "event_type = 'click'")
        .times(2)
        .consecutive()
        .followed_by("b", "event_type = 'purchase'")
        .within("48 hours")
    )
    stream = replay.events_stream(spark, d)
    got, _ = replay.run_stream(
        pat.match_stream(stream.select("user_id", "event_id", "ts", "event_type")),
        "append",
        "s8_nfa",
    )
    batch = pat.match_batch(catalog.load_table(spark, SF_SMOKE, "events")).collect()
    key = lambda rows: {(r.user_id, tuple(r.ids)) for r in rows}  # noqa: E731
    assert key(got) == key(batch)
    assert len(batch) > 0

def test_skip_to_first_last_hand_computed(spark):
    """AFTER MATCH SKIP TO FIRST/LAST VAR vs hand-computed match sets.

    Relaxed a→b with two a's sharing one b: no_skip emits both matches;
    to_last:b prunes the younger match at the older one's emission (its
    start precedes the bound b event); to_first:a prunes nothing here.
    """
    base = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(1, 1, base, "x", 0.0),
         (1, 2, base + dt.timedelta(seconds=10), "x", 0.0),
         (1, 3, base + dt.timedelta(seconds=20), "y", 0.0)],
        "user_id long, event_id long, ts timestamp, event_type string, value double",
    )

    def ids(skip):
        pat = (
            nfa.PatternSeq.begin("a", "event_type = 'x'")
            .followed_by("b", "event_type = 'y'")
            .within("1 hour")
            .after_match_skip(skip)
        )
        return sorted(tuple(r.ids) for r in pat.match_batch(ev).collect())

    assert ids("no_skip") == [(1, 3), (2, 3)]
    assert ids("to_last:b") == [(1, 3)]
    assert ids("to_first:a") == [(1, 3), (2, 3)]


def test_skip_to_last_run_stride(spark):
    """D{3} over a 6-long run: past_last ends at ordinals 3,6 (disjoint);
    to_last:D ends at 3,5 (overlapping on the shared last row)."""
    base = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(1, i, base + dt.timedelta(seconds=10 * i), "e", float(10 - i))
         for i in range(7)],
        "user_id long, event_id long, ts timestamp, event_type string, value double",
    )
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    evp = ev.withColumn("_prev1_value", F.lag("value", 1).over(w))

    def ids(skip, lowering):
        pat = (
            nfa.PatternSeq.begin("D", "value < _prev1_value")
            .times(3)
            .consecutive()
            .within("36500 days")
            .after_match_skip(skip)
        )
        return sorted(
            tuple(r.ids) for r in pat.match_batch(evp, lowering=lowering).collect()
        )

    for low in (True, False):
        assert ids("past_last", low) == [(1, 2, 3), (4, 5, 6)], low
        assert ids("to_last:D", low) == [(1, 2, 3), (3, 4, 5)], low
        assert ids("to_first:D", low) == [
            (1, 2, 3), (2, 3, 4), (3, 4, 5), (4, 5, 6)
        ], low


def test_skip_to_unmatched_optional_prunes_nothing(spark):
    base = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(1, 1, base, "x", 0.0),
         (1, 2, base + dt.timedelta(seconds=5), "x", 0.0),
         (1, 3, base + dt.timedelta(seconds=9), "y", 0.0)],
        "user_id long, event_id long, ts timestamp, event_type string, value double",
    )
    pat = (
        nfa.PatternSeq.begin("a", "event_type = 'x'")
        .followed_by("m", "event_type = 'z'")
        .optional()
        .followed_by("b", "event_type = 'y'")
        .within("1 hour")
        .after_match_skip("to_last:m")  # m never matches → no pruning
    )
    got = sorted(tuple(r.ids) for r in pat.match_batch(ev).collect())
    assert got == [(1, 3), (2, 3)]


def test_hot_key_partial_cap(spark):
    """At the live-partial cap, NEW starts are rejected (bounded state);
    existing partials keep progressing so in-flight matches complete."""
    import warnings as _w

    base = dt.datetime(2024, 1, 1)
    # 10 'a' rows then one 'b': no_skip would hold 10 partials; cap 3
    rows = [(1, i, base + dt.timedelta(seconds=i), "a", 0.0) for i in range(10)]
    rows.append((1, 99, base + dt.timedelta(seconds=99), "b", 0.0))
    ev = spark.createDataFrame(
        rows,
        "user_id long, event_id long, ts timestamp, event_type string, value double",
    )
    pat = (
        nfa.PatternSeq.begin("a", "event_type = 'a'")
        .followed_by("b", "event_type = 'b'")
        .within("1 hour")
    )
    full = sorted(tuple(r.ids) for r in pat.match_batch(ev).collect())
    assert len(full) == 10
    capped_pat = pat.with_max_partials(3)
    import pandas as pd

    from flink_1_11_1_spark.streaming.nfa import _fold_events, _spec, _with_flags

    pdf = _with_flags(ev, capped_pat.states, "user_id").toPandas().sort_values(
        ["ts", "event_id"]
    )
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        out, pend = _fold_events(1, pdf, [], _spec(capped_pat))
    # first 3 starts kept, 7 rejected, each kept one completes on 'b'
    assert len(out) == 3 and len(pend) == 0
    assert any("live-partial cap" in str(w.message) for w in caught)


def test_string_key_pattern(spark):
    """Non-user_id, non-bigint partition keys (e.g. string session ids)
    work on both the fold and the lowered path with the key's own
    name/type in the output schema."""
    base = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [("s1", 1, base, "click", 0.0),
         ("s1", 2, base + dt.timedelta(seconds=5), "purchase", 0.0),
         ("s2", 3, base + dt.timedelta(seconds=2), "click", 0.0)],
        "session string, event_id long, ts timestamp, event_type string, value double",
    )
    pat = (
        nfa.PatternSeq.begin("A", "event_type = 'click'")
        .next_("B", "event_type = 'purchase'")
        .after_match_skip("past_last")
        .within("1 hour")
    )
    for lowering in (True, False):
        got = pat.match_batch(ev, key="session", lowering=lowering).collect()
        assert [(r.session, tuple(r.ids)) for r in got] == [("s1", (1, 2))], lowering


# ------------------------------------------------ backtracking tier (r7)

from flink_1_11_1_spark.streaming.nfa import PatternSeq  # noqa: E402


def _bt_events(spark, vals):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, i + 1, t0 + dt.timedelta(seconds=10 * i), float(v))
        for i, v in enumerate(vals)
    ]
    return spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double")


def test_backtracking_extend_vs_advance_fork(spark):
    """A+ B with overlapping conditions: the branching fold emits the
    regex-greedy allocation (maximal A+ that still completes) where
    the deterministic fold absorbs everything into A+ and misses."""
    p = (PatternSeq.begin("A", "value >= 10").one_or_more()
         .followed_by("B", "value >= 50").after_match_skip("past_last"))
    ev = _bt_events(spark, [10, 60, 90])
    assert p.match_batch(ev).collect() == []  # deterministic greedy
    got = p.with_backtracking().match_batch(ev).collect()
    assert [(r.labels, r.ids) for r in got] == [(["A", "A", "B"], [1, 2, 3])]


def test_backtracking_identical_on_exclusive_conditions(spark):
    """No fork can occur for mutually-exclusive conditions: both modes
    (and the native lowering) agree — the reduction contract."""
    p = (PatternSeq.begin("A", "value < 50").one_or_more()
         .followed_by("B", "value >= 50").after_match_skip("past_last"))
    ev = _bt_events(spark, [10, 20, 60, 30, 70])
    rows = lambda df: sorted((tuple(r.labels), tuple(r.ids))
                             for r in df.collect())
    lowered = rows(p.match_batch(ev))
    fold = rows(p.match_batch(ev, lowering=False))
    bt = rows(p.with_backtracking().match_batch(ev))
    assert lowered == fold == bt != []


def test_backtracking_optional_fork_and_greedy_preference(spark):
    p = (PatternSeq.begin("A", "value < 50")
         .followed_by("B", "value >= 50").optional()
         .followed_by("C", "value >= 50").after_match_skip("past_last")
         .with_backtracking())
    # one high row: C binds it (optional skipped — Flink would too)
    got = p.match_batch(_bt_events(spark, [10, 60])).collect()
    assert [(r.labels, r.ids) for r in got] == [(["A", "C"], [1, 2])]
    # two high rows: greedy branch (optional taken) wins
    got = p.match_batch(_bt_events(spark, [10, 60, 70])).collect()
    assert [(r.labels, r.ids) for r in got] == [(["A", "B", "C"], [1, 2, 3])]


def test_backtracking_no_skip_multiple_starts(spark):
    p = (PatternSeq.begin("A", "value >= 10").one_or_more()
         .followed_by("B", "value >= 50").with_backtracking())
    got = p.match_batch(_bt_events(spark, [10, 20, 60])).collect()
    assert sorted(tuple(r.ids) for r in got) == [(1, 2, 3), (2, 3)]


def test_backtracking_streaming_fold_parity(spark):
    """Chunked replay through the shared fold == the unfinalized batch
    fold (the batch/streaming no-drift contract, backtracking mode).
    Completed-but-pending matches survive in state across chunks and
    resolve deterministically at finalization."""
    from flink_1_11_1_spark.streaming.nfa import (
        _fold_events, _spec, _with_flags)

    p = (PatternSeq.begin("A", "value >= 10").times(1, 3)
         .followed_by("B", "value >= 50").after_match_skip("past_last")
         .with_backtracking())
    ev = _bt_events(spark, [10, 60, 20, 70, 80, 15])
    flagged = _with_flags(ev, p.states, "user_id", ())
    pdf = flagged.toPandas().sort_values(["ts", "event_id"])
    spec = _spec(p)
    whole, _ = _fold_events(1, pdf, [], spec)
    chunked, st = [], []
    for lo, hi in [(0, 2), (2, 3), (3, 6)]:
        o, st = _fold_events(1, pdf.iloc[lo:hi], st, spec)
        chunked.extend(o)
    assert [t[4] for t in chunked] == [t[4] for t in whole]
    # finalization resolves the rest identically from either state
    fin_whole, _ = _fold_events(1, pdf, [], spec, finalize=True)
    o, _ = _fold_events(1, pdf.iloc[0:0], st, spec, finalize=True)
    assert [t[4] for t in chunked + o] == [t[4] for t in fin_whole]


def test_backtracking_bounded_quantifier_emits_at_cap(spark):
    """A{1,2} B overlap: greedy takes 2 A's then B; the cap (max 2)
    forces emission even while rows keep satisfying A."""
    p = (PatternSeq.begin("A", "value >= 10").times(1, 2)
         .followed_by("B", "value >= 50").after_match_skip("past_last")
         .with_backtracking())
    got = p.match_batch(_bt_events(spark, [10, 60, 90])).collect()
    assert [(r.labels, r.ids) for r in got] == [(["A", "A", "B"], [1, 2, 3])]


def test_backtracking_stream_equals_unfinalized_fold(spark, tmp_path):
    """The REAL streaming backend (applyInPandasWithState) in
    backtracking mode: forked partials AND pending completed matches
    survive the JSON state round-trip across micro-batches.  The
    reference is the unfinalized shared fold over the full data —
    chunk-invariant (test_backtracking_streaming_fold_parity), so the
    stream's per-hour micro-batches must reproduce it exactly."""
    import pandas as pd

    from flink_1_11_1_spark.streaming.nfa import (
        _fold_events, _spec, _with_flags)

    d = str(tmp_path / "replay_bt")
    replay.write_replay(spark, SF_SMOKE, d, parts=5)
    pat = (
        nfa.PatternSeq.begin("a", "event_type = 'view'")
        .next_("b", "value >= 69.0")
        .optional()
        .next_("c", "value >= 69.0")
        .within("48 hours")
        .with_backtracking()
    )
    sel = ["user_id", "event_id", "ts", "event_type", "value"]
    stream = replay.events_stream(spark, d)
    got, _ = replay.run_stream(
        pat.match_stream(stream.select(*sel)), "append", "s_bt_nfa"
    )
    events = catalog.load_table(spark, SF_SMOKE, "events").select(*sel)
    flagged = _with_flags(events, pat.states, "user_id", ()).toPandas()
    spec = _spec(pat)
    want = set()
    for uid, pdf in flagged.groupby("user_id"):
        out, _ = _fold_events(
            uid, pdf.sort_values(["ts", "event_id"]), [], spec)
        want |= {(uid, tuple(t[4])) for t in out}
    assert {(r.user_id, tuple(r.ids)) for r in got} == want
    assert len(want) > 0
    # both binding shapes occur in the data (forks genuinely exercised)
    lens = {len(ids) for _, ids in want}
    assert lens == {2, 3}


def test_leading_optional_start(spark):
    """A? B matches a bare B (Flink: a pattern may start at any state
    reachable through leading optionals) — in BOTH fold modes; under
    backtracking, an event satisfying A and B forks the start and the
    greedy (A-taken) branch wins when it completes."""
    p = (PatternSeq.begin("A", "value < 50").optional()
         .followed_by("B", "value >= 50").after_match_skip("to_next"))
    ev = _bt_events(spark, [60])
    for q in (p, p.with_backtracking()):
        got = q.match_batch(ev, lowering=False).collect()
        assert [(r.labels, r.ids) for r in got] == [(["B"], [1])]
    # overlap at the start: 10 satisfies A only; 60 satisfies B
    ev = _bt_events(spark, [10, 60])
    got = p.with_backtracking().match_batch(ev, lowering=False).collect()
    assert sorted((tuple(r.labels), tuple(r.ids)) for r in got) == [
        (("A", "B"), (1, 2)), (("B",), (2,))]  # starts at 1 AND at 2


def test_not_followed_by(spark):
    """notFollowedBy: an un-consumed matching event between the states
    kills the partial; a clean gap matches; the blocker being bound by
    the next state is no violation."""
    p = (PatternSeq.begin("A", "value = 1")
         .not_followed_by("value = 9")
         .followed_by("B", "value = 2").after_match_skip("to_next"))
    ok = _bt_events(spark, [1, 5, 2])      # gap event 5 is neutral
    bad = _bt_events(spark, [1, 9, 2])     # 9 blocks
    assert [tuple(r.ids) for r in p.match_batch(ok).collect()] == [(1, 3)]
    assert p.match_batch(bad).collect() == []
    # identical under backtracking
    assert [tuple(r.ids) for r in
            p.with_backtracking().match_batch(ok).collect()] == [(1, 3)]
    assert p.with_backtracking().match_batch(bad).collect() == []


def test_not_next(spark):
    """notNext checks only the event IMMEDIATELY after the previous
    state's completion."""
    p = (PatternSeq.begin("A", "value = 1")
         .not_next("value = 9")
         .followed_by("B", "value = 2").after_match_skip("to_next"))
    late_nine = _bt_events(spark, [1, 5, 9, 2])  # 9 is NOT immediate
    immediate = _bt_events(spark, [1, 9, 2])
    direct = _bt_events(spark, [1, 2])           # B itself is immediate
    assert [tuple(r.ids) for r in
            p.match_batch(late_nine).collect()] == [(1, 4)]
    assert p.match_batch(immediate).collect() == []
    assert [tuple(r.ids) for r in p.match_batch(direct).collect()] == [(1, 2)]


def test_trailing_negative_rejected(spark):
    p = (PatternSeq.begin("A", "value = 1").not_followed_by("value = 9"))
    with pytest.raises(ValueError, match="END with notNext"):
        p.match_batch(_bt_events(spark, [1]))


def test_backtracking_skip_to_variants_match_deterministic(spark):
    """to_first/to_last skips under backtracking on EXCLUSIVE
    conditions == the deterministic fold (the skip machinery is shared
    through the pend-resolution path)."""
    for skip in ["to_first:A", "to_last:A"]:
        p = (PatternSeq.begin("A", "value < 50").times(1, 2)
             .followed_by("B", "value >= 50").after_match_skip(skip))
        e = _bt_events(spark, [10, 20, 60, 30, 70, 40, 80])
        det = sorted(tuple(r.ids)
                     for r in p.match_batch(e, lowering=False).collect())
        bt = sorted(tuple(r.ids)
                    for r in p.with_backtracking().match_batch(e).collect())
        assert det == bt and det


def test_backtracking_cross_variable_identity(spark):
    """IterativeCondition evaluation under backtracking: forked
    branches carry their own bound values; exclusive conditions give
    the deterministic answer."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [(1, i + 1, t0 + dt.timedelta(seconds=10 * i), ty, float(v))
            for i, (ty, v) in enumerate(
                [("a", 5), ("b", 9), ("a", 5), ("b", 3)])]
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, "
              "event_type string, value double")
    p = (PatternSeq.begin("A", "event_type = 'a'")
         .followed_by("B", "event_type = 'b'")
         .where_iterative('EV["value"] > LAST("A","value")', "value")
         .within("1 hour"))
    det = sorted(tuple(r.ids)
                 for r in p.match_batch(ev, lowering=False).collect())
    bt = sorted(tuple(r.ids)
                for r in p.with_backtracking().match_batch(ev).collect())
    assert det == bt == [(1, 2)]

"""General CEP NFA: quantifiers, contiguity, horizon, AFTER MATCH SKIP
(SURVEY.md §3.11 — the breadth tier above cep.py's two-state CEP-lite).

Reference parity: flink-libraries/flink-cep pattern/Pattern.java
(``times``/``timesOrMore``/``oneOrMore``/``optional``/``next``/
``consecutive``) and nfa/NFA.java + aftermatch/AfterMatchSkipStrategy
(NO_SKIP / SKIP_TO_NEXT / SKIP_PAST_LAST_EVENT).  SQL MATCH_RECOGNIZE
lowers onto this engine (extensions/match_recognize.py).

Two execution modes share one event-at-a-time contract:
- DEFAULT (deterministic greedy): one path per partial, no branching —
  identical to Flink wherever adjacent conditions are disjoint (the
  dispatch shapes every funnel uses), and the mode the native
  lowerings (nfa_lowering.py) encode.
- BACKTRACKING (``with_backtracking()``, Flink nfa/NFA.java parity):
  ambiguous transitions fork, completed branches resolve by
  regex-greedy priority (reluctant states reverse it), and matches may
  start at any state behind leading optionals — validated against
  Python's ``re`` engine by the 41-case differential fuzzer.
Both modes run on ONE fold core (``_fold_events``, selected by
``spec["backtrack"]``), which differs between them in two places only:
the transition choice (first viable transition vs a fork per viable
transition) and the emission policy (emit at completion via
``_emit_completed`` vs pend and resolve via ``_resolve``).  Columns,
label lookup, WITHIN expiry, until(), the wait-or-die contiguity rules
and starts are one copy — a fix there lands once, for both modes.
Negative edge guards (``not_next``/``not_followed_by``) kill a waiting
partial on an un-consumed matching event in BOTH modes.

Deterministic-mode contract in detail (documented deltas vs the
branching mode):
- A pattern is a sequence of states; each state has a SQL condition, a
  count range [min, max] (``max=None`` = unbounded), an edge-contiguity
  flag (``strict_in`` = Flink ``next()``), and an internal-contiguity
  flag (``consecutive`` = Flink ``consecutive()``).
- Events are folded per key in (ts, event_id) order.  For each event and
  each live partial match, transitions are tried in GREEDY priority:
  extend the current state (if its count can still grow) else advance to
  the first later state whose condition holds, skipping optional states.
  One path per partial — no branching; alternatives surface as separate
  partials started at later events (NO_SKIP starts a new partial at
  every match of a startable state — state 0, or any state behind
  leading min-0 optionals).
- ``consecutive``: an intervening non-matching event kills the partial
  while the state is below ``min``, and freezes the state (no further
  extends) once ``min`` is reached.  ``strict_in``: an event that
  neither extends the previous state nor enters this one kills the
  partial outright.
- ``within(horizon)``: a partial whose first event is older than
  ``event.ts - horizon`` is dropped before processing the event.
- The final state must have ``min == max`` (bounded) — completion is
  emitted the moment its count reaches ``min``.
- AFTER MATCH SKIP applies at emission, oldest-start first:
  ``past_last`` drops every other live partial and suppresses starts at
  the completing event; ``to_next`` drops only partials sharing the
  match's first event; ``no_skip`` drops nothing; ``to_first:<VAR>`` /
  ``to_last:<VAR>`` (Flink SKIP_TO_FIRST/SKIP_TO_LAST) drop partials
  whose start precedes the first/last event the match mapped to VAR —
  matching resumes from that event (events are never re-consumed, so
  the infinite-loop case Flink guards against cannot arise; a match
  with no VAR row prunes nothing).

State at 100 TB: partials per key are bounded by the horizon (every
fold prunes expired partials), so streaming state is O(events within
horizon per key), the same bound Flink's relative-time cleanup gives.
Row-local predicates are evaluated JVM-side once (boolean flag
columns); the fold sees only flags.  Cross-variable conditions
(``State.py_cond`` — Flink IterativeCondition,
pattern/conditions/IterativeCondition.java) are the exception: they
need the partial's bound rows, so they run per (event, partial) inside
the fold — the same place Flink evaluates them (NFA.computeNextStates
calls the condition with the partial's ``ConditionContext``), with the
JVM flag as a cheap prefilter where a row-local conjunct exists.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field, replace

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .pattern import _parse_interval

def match_schema(key: str = "user_id", key_type=None) -> StructType:
    """Match output schema: the key column keeps ITS name and type (any
    groupable type — bigint user ids, string session ids, …)."""
    return StructType(
        [
            StructField(key, key_type or LongType()),
            StructField("start_ts", TimestampType()),
            StructField("end_ts", TimestampType()),
            StructField("labels", ArrayType(StringType())),
            StructField("ids", ArrayType(LongType())),
            StructField("tss", ArrayType(TimestampType())),
        ]
    )


NFA_MATCH_SCHEMA = match_schema()  # the canonical user_id-keyed shape

_NFA_STATE_SCHEMA = StructType([StructField("partials", ArrayType(StringType()))])


@dataclass(frozen=True)
class State:
    name: str
    cond: str
    min_count: int = 1
    max_count: int | None = 1  # None = unbounded
    strict_in: bool = False  # Flink next(): edge contiguity into this state
    consecutive: bool = False  # Flink consecutive(): contiguity between repeats
    # Reluctant quantifier (Flink greedy()/default vs SQL `+?`): a
    # non-greedy state PREFERS advancing over extending at an
    # ambiguous event — meaningful only under the backtracking fold
    # (the deterministic mode rejects it; the delta cannot arise for
    # provably-disjoint conditions either way).
    greedy: bool = True
    # Cross-variable condition (Flink IterativeCondition): a Python
    # expression over EV["col"] (current event), FIRST/LAST("Var","col")
    # (bound rows of earlier variables) and COUNT_VAR("Var"), evaluated
    # per (event, partial) inside the fold.  ``cond`` stays the JVM-side
    # row-local prefilter ("true" when nothing is row-local).
    py_cond: str | None = None
    # Negative edge guard (flink-cep Pattern.notNext / notFollowedBy,
    # pattern/Pattern.java): while a partial waits to ENTER this state,
    # an un-consumed event matching ``neg_cond`` kills it.
    # ``neg_strict`` = notNext: only the event IMMEDIATELY after the
    # previous state's last bound row is checked.
    neg_cond: str | None = None
    neg_strict: bool = False
    # Original SQL text of a cross-variable condition (``Var.col`` /
    # FIRST/LAST(Var.col) references).  Optional: when present, the
    # native lowering (nfa_lowering.py) can instantiate the condition at
    # static offsets instead of falling back to the Python fold.
    sql_cond: str | None = None
    # Alternation group — MATCH_RECOGNIZE ``(A | B)`` (Calcite pattern
    # grammar; flink-cep has no direct API twin): extra (name, cond,
    # py_cond) alternatives beyond the primary.  Each repetition of the
    # state consumes ONE event matching ANY alternative and labels it
    # with that alternative's name.  Alternative order is regex ``|``
    # priority: the deterministic fold takes the first match; the
    # backtracking fold forks with leftmost-greedier decks.  States
    # with alternatives never lower natively (fold-only).
    alts: tuple[tuple[str, str, str | None], ...] = ()
    # Stop condition (Flink ``Pattern.until()``, pattern/Pattern.java —
    # oneOrMore/timesOrMore only): once an event matches it while a
    # partial sits in this state, the state stops accepting repetitions
    # (the matching event is NOT consumed into the loop; it may still
    # advance the partial — including at that same event).  A partial
    # frozen below min_count is dead.
    until_cond: str | None = None
    # Flink ``followedByAny`` edge INTO this state (non-deterministic
    # relaxed contiguity, pattern/Pattern.java): an event that could
    # enter the state may ALSO be ignored — the waiting branch forks
    # off so every later occurrence yields its own match.  Requires
    # the backtracking fold + emit-all resolution.
    any_in: bool = False
    # Flink ``allowCombinations()`` on a quantified state: a matching
    # event may be skipped instead of consumed into the loop — every
    # repetition subset matches.  Same mode requirements as any_in.
    combinations: bool = False


@dataclass(frozen=True)
class PatternSeq:
    """Fluent builder mirroring flink-cep pattern/Pattern.java."""

    states: tuple[State, ...] = ()
    horizon_s: int = 3600
    skip: str = "no_skip"  # no_skip | to_next | past_last | to_first:V | to_last:V
    # Hard bound on live partials per key.  The horizon already bounds
    # state to O(events-within-horizon per key), but a single hot key
    # (one user with 10^9 events inside the horizon) would still grow
    # the pool and serialize the fold; at capacity, NEW partial starts
    # are rejected (existing partials keep progressing, so in-flight
    # matches are unaffected) and the rejection count is surfaced as an
    # executor-log warning.  Flink has no such guard — its NFA state
    # grows with the same horizon bound (nfa/sharedbuffer).
    max_partials: int = 100_000
    # Columns carried into the fold (and bound per matched event) so
    # py_cond cross-variable predicates can read them.  Numeric / string
    # / bool columns only (state is JSON-serialized for streaming).
    value_cols: tuple[str, ...] = ()
    # Full-backtracking mode (Flink nfa/NFA.java branching semantics):
    # an event viable for BOTH extending the current quantified state
    # and advancing forks the partial; completed lower-priority
    # branches wait until every greedier sibling dies, so the emitted
    # match is the regex-greedy one (A+ B over rows satisfying both
    # emits A+ maximal-with-B, where the default deterministic-greedy
    # fold absorbs everything into A+ and misses).  Opt-in because the
    # native lowerings implement the deterministic-greedy contract;
    # with backtracking on, the Python fold always runs.
    backtrack: bool = False
    # Branch cap per match start under backtracking — greedier branches
    # are kept when the fork fan-out exceeds it (Flink has no cap; its
    # shared buffer grows the same exponential worst case).
    max_branches: int = 64
    # Group patterns (Flink ``Pattern.begin(Pattern)``,
    # pattern/GroupPattern.java): quantified CONTIGUOUS sub-sequences.
    # Each entry is (start_idx, end_idx, gmin, gmax, greedy): reaching
    # end_idx with its count satisfied may LOOP back to start_idx
    # (another group repetition) or proceed past end_idx once gmin
    # repetitions completed.  Non-nested, non-overlapping; a group's
    # first state needs min_count >= 1.
    groups: tuple[tuple[int, int, int, int | None, bool], ...] = ()
    # index range of the group just appended (quantifiers bind to it)
    pending_group: tuple[int, int] | None = None
    # SQL:2016 SUBSET union variables (name -> member names): consumed
    # by the native lowering to resolve membership-only navigation in
    # DEFINE sql_cond text (union of member offsets); the fold needs no
    # mapping — its py_cond carries member tuples inline.
    subsets: tuple[tuple[str, tuple[str, ...]], ...] = ()

    # -- construction -------------------------------------------------
    @staticmethod
    def begin(name: str, cond: str) -> "PatternSeq":
        return PatternSeq(states=(State(name, cond),))

    # a declared-but-unattached negative guard (notFollowedBy/notNext
    # waiting for the next positive state)
    pending_neg: tuple[str, bool] | None = None

    def followed_by(self, name: str, cond: str) -> "PatternSeq":
        return self._append(State(name, cond))

    def followed_by_any(self, name: str, cond: str) -> "PatternSeq":
        """Flink ``followedByAny``: non-deterministic relaxed
        contiguity — a matching event may also be IGNORED, so every
        later occurrence produces its own match.  Implies the
        branching fold with emit-all resolution (Flink CEP emits every
        found match under NO_SKIP); only ``no_skip`` is supported."""
        return self._append(State(name, cond, any_in=True))

    def next_(self, name: str, cond: str) -> "PatternSeq":
        return self._append(State(name, cond, strict_in=True))

    def _append(self, st: State) -> "PatternSeq":
        if self.pending_neg is not None:
            cond, strict = self.pending_neg
            st = replace(st, neg_cond=cond, neg_strict=strict)
        return replace(self, states=self.states + (st,),
                       pending_neg=None, pending_group=None)

    def not_followed_by(self, cond: str) -> "PatternSeq":
        """Flink ``notFollowedBy``: no event matching ``cond`` may
        occur between the previous state's completion and the next
        state's first row (un-consumed events only — an event bound by
        the next positive state is never a violation)."""
        if self.pending_neg is not None:
            raise ValueError("two consecutive negative patterns")
        return replace(self, pending_neg=(cond, False))

    def not_next(self, cond: str) -> "PatternSeq":
        """Flink ``notNext``: the event IMMEDIATELY after the previous
        state's last bound row must not match ``cond``."""
        if self.pending_neg is not None:
            raise ValueError("two consecutive negative patterns")
        return replace(self, pending_neg=(cond, True))

    # -- group patterns (Pattern.begin(Pattern)) ------------------------
    def _append_group(self, sub: "PatternSeq", strict_first: bool
                      ) -> "PatternSeq":
        if sub.groups or len(sub.states) < 2:
            raise ValueError(
                "a group pattern is a flat sub-sequence of >= 2 states "
                "(nested groups unsupported; single states take plain "
                "quantifiers)")
        if sub.states[0].min_count < 1:
            raise ValueError(
                "a group's first state needs min_count >= 1 (the "
                "loop-back target must be unambiguous)")
        if self.pending_neg is not None:
            raise ValueError("a negative pattern cannot guard a group")
        gs = len(self.states)
        first = replace(sub.states[0], strict_in=strict_first)
        new_states = (first,) + sub.states[1:]
        ge = gs + len(new_states) - 1
        merged = tuple(dict.fromkeys(self.value_cols + sub.value_cols))
        return replace(
            self,
            states=self.states + new_states,
            groups=self.groups + ((gs, ge, 1, 1, True),),
            pending_group=(gs, ge),
            value_cols=merged,
        )

    @staticmethod
    def begin_group(sub: "PatternSeq") -> "PatternSeq":
        """Flink ``Pattern.begin(Pattern)``: the whole sub-sequence is
        one quantifiable unit — ``.times(2)`` after this repeats the
        SEQUENCE (fold loops from its last state back to its first)."""
        return PatternSeq()._append_group(sub, strict_first=False)

    def followed_by_group(self, sub: "PatternSeq") -> "PatternSeq":
        """Flink ``Pattern.followedBy(Pattern)``."""
        return self._append_group(sub, strict_first=False)

    def next_group(self, sub: "PatternSeq") -> "PatternSeq":
        """Flink ``Pattern.next(Pattern)``."""
        return self._append_group(sub, strict_first=True)

    def _mod_group(self, gmin=None, gmax=..., greedy=None) -> "PatternSeq":
        gs, ge = self.pending_group
        out = []
        for g in self.groups:
            if (g[0], g[1]) == (gs, ge):
                out.append((
                    gs, ge,
                    g[2] if gmin is None else gmin,
                    g[3] if gmax is ... else gmax,
                    g[4] if greedy is None else greedy,
                ))
            else:
                out.append(g)
        return replace(self, groups=tuple(out))

    # -- quantifiers (apply to the LAST added state or group) -----------
    def _mod_last(self, **kw) -> "PatternSeq":
        return replace(self, states=self.states[:-1] + (replace(self.states[-1], **kw),))

    def times(self, n: int, m: int | None = None) -> "PatternSeq":
        if self.pending_group is not None:
            return self._mod_group(gmin=n, gmax=n if m is None else m)
        return self._mod_last(min_count=n, max_count=n if m is None else m)

    def times_or_more(self, n: int) -> "PatternSeq":
        if self.pending_group is not None:
            return self._mod_group(gmin=n, gmax=None)
        return self._mod_last(min_count=n, max_count=None)

    def one_or_more(self) -> "PatternSeq":
        return self.times_or_more(1)

    def optional(self) -> "PatternSeq":
        if self.pending_group is not None:
            raise ValueError("optional groups are unsupported "
                             "(a group's min repetition count is 1)")
        return self._mod_last(min_count=0)

    def consecutive(self) -> "PatternSeq":
        return self._mod_last(consecutive=True)

    def allow_combinations(self) -> "PatternSeq":
        """Flink ``allowCombinations()``: the LAST added (quantified)
        state may SKIP matching events between repetitions — every
        combination of occurrences matches.  Same execution mode as
        ``followed_by_any`` (branching fold, emit-all, no_skip)."""
        last = self.states[-1]
        if (last.max_count or 2) <= 1:
            raise ValueError(
                "allow_combinations() applies to a quantified state "
                "(oneOrMore/times) — Flink's own restriction")
        return self._mod_last(combinations=True)

    def reluctant(self) -> "PatternSeq":
        """SQL `+?`/`*?`/`{n,m}?` on the LAST added state or group:
        prefer the shortest match (advance/exit before extend/loop).
        Needs ``with_backtracking()`` and must not be the final state
        (Flink rejects patterns ending in a reluctant quantifier)."""
        if self.pending_group is not None:
            return self._mod_group(greedy=False)
        return self._mod_last(greedy=False)

    def where(self, cond: str) -> "PatternSeq":
        """Flink ``Pattern.where()``: AND another row-local condition
        into the LAST added state (conditions on the same state
        compose conjunctively — pattern/Pattern.java#where)."""
        last = self.states[-1]
        return self._mod_last(cond=f"({last.cond}) AND ({cond})")

    def or_(self, cond: str) -> "PatternSeq":
        """Flink ``Pattern.or()``: OR a row-local condition into the
        LAST added state."""
        last = self.states[-1]
        return self._mod_last(cond=f"({last.cond}) OR ({cond})")

    def subtype(self, cond: str) -> "PatternSeq":
        """Flink ``Pattern.subtype(Class)``: narrow the accepted events
        by a type predicate.  Java subtypes have no Python-row
        equivalent, so the discriminator is an explicit row condition
        (e.g. ``event_type = 'SubEvent'``) — composed conjunctively
        like ``where``."""
        return self.where(cond)

    def where_iterative(
        self, py_cond: str, *value_cols: str, sql_cond: str | None = None
    ) -> "PatternSeq":
        """Attach a cross-variable condition to the LAST added state
        (Flink ``IterativeCondition`` — pattern/conditions/
        IterativeCondition.java): a Python expression over ``EV["col"]``,
        ``FIRST("Var","col")``, ``LAST("Var","col")``, ``COUNT_VAR("Var")``.
        ``value_cols`` lists the event columns the expression reads.
        ``sql_cond`` optionally carries the equivalent SQL text
        (``Var.col`` references) so eligible patterns can lower to a
        native window-function plan instead of the Python fold."""
        merged = tuple(dict.fromkeys(self.value_cols + value_cols))
        return replace(
            self,
            states=self.states[:-1]
            + (replace(self.states[-1], py_cond=py_cond, sql_cond=sql_cond),),
            value_cols=merged,
        )

    def alt(self, name: str, cond: str, py_cond: str | None = None,
            *value_cols: str) -> "PatternSeq":
        """Add an ALTERNATIVE variable to the LAST added state —
        MATCH_RECOGNIZE ``(A | B)``: each repetition consumes one event
        matching any alternative, labeled with that alternative's name.
        Order is regex ``|`` priority (leftmost preferred).  A state
        with alternatives is fold-only (never lowers natively)."""
        last = self.states[-1]
        if any(name == s.name for s in self.states) or any(
                name == a[0] for s in self.states for a in s.alts):
            raise ValueError(f"duplicate pattern variable {name!r}")
        merged = tuple(dict.fromkeys(self.value_cols + value_cols))
        return replace(
            self,
            states=self.states[:-1]
            + (replace(last, alts=last.alts + ((name, cond, py_cond),)),),
            value_cols=merged,
        )

    def until(self, cond: str) -> "PatternSeq":
        """Flink ``Pattern.until()``: stop condition on the LAST added
        (unbounded) state — an event matching ``cond`` freezes the
        loop (the event itself is not consumed into it).  Row-local
        conditions only (Flink accepts IterativeCondition; documented
        delta)."""
        last = self.states[-1]
        if last.max_count is not None:
            raise ValueError(
                "until() applies to an unbounded quantifier "
                "(oneOrMore/timesOrMore) — Flink's own restriction")
        return self._mod_last(until_cond=cond)

    def with_subsets(self, mapping: dict[str, tuple[str, ...]]) -> "PatternSeq":
        """Declare SQL:2016 SUBSET union variables so membership-only
        references in ``sql_cond`` text can lower natively (the fold's
        py_cond side carries member tuples inline and ignores this)."""
        return replace(
            self,
            subsets=tuple(sorted((k, tuple(v)) for k, v in mapping.items())),
        )

    def within(self, interval: str | int) -> "PatternSeq":
        return replace(self, horizon_s=_parse_interval(interval))

    def with_max_partials(self, n: int) -> "PatternSeq":
        """Override the per-key live-partial cap (see field doc)."""
        if n < 1:
            raise ValueError("max_partials must be >= 1")
        return replace(self, max_partials=n)

    def with_backtracking(self, max_branches: int = 64) -> "PatternSeq":
        """Switch to Flink's branching-NFA semantics (see field doc).
        For mutually-exclusive DEFINE conditions no fork can occur and
        results are identical to the default mode — only the plan
        differs (fold instead of a possible native lowering)."""
        if max_branches < 2:
            raise ValueError("max_branches must be >= 2")
        return replace(self, backtrack=True, max_branches=max_branches)

    def after_match_skip(self, strategy: str) -> "PatternSeq":
        """``no_skip`` | ``to_next`` | ``past_last`` |
        ``to_first:<VAR>`` | ``to_last:<VAR>`` (Flink
        AfterMatchSkipStrategy SKIP_TO_FIRST/SKIP_TO_LAST: on emission,
        partials whose start precedes the FIRST/LAST event the match
        mapped to VAR are pruned; matching resumes from that event.
        If the match bound no VAR row — an unmatched optional — nothing
        is pruned, a documented delta from Flink's elbow-throw option)."""
        mode = strategy.partition(":")[0]
        if mode not in ("no_skip", "to_next", "past_last", "to_first", "to_last"):
            raise ValueError(f"unknown skip strategy {strategy!r}")
        if mode in ("to_first", "to_last") and ":" not in strategy:
            raise ValueError(f"{mode} needs a variable: '{mode}:<VAR>'")
        return replace(self, skip=strategy)

    # -- validation ----------------------------------------------------
    def _check(self) -> None:
        if len(self.states) < 1:
            raise ValueError("empty pattern")
        last = self.states[-1]
        if last.min_count < 1:
            raise ValueError(
                "final state must require at least one row "
                "(Flink rejects a fully-optional pattern end too)")
        if last.max_count != last.min_count:
            # GREEDY quantified final (B{1,3} / B+ at pattern end) —
            # valid Flink 1.11: the match closes at the count cap, at a
            # row that fails to extend a strict run, at WITHIN expiry of
            # the extension window, or at end of bounded input (batch
            # finalize / the replay flush sentinel).  Round 11; the
            # restricted shapes below stay loud.
            if not last.greedy:
                raise ValueError(
                    "a pattern may not END with a reluctant quantifier "
                    "(Flink's own restriction)")
            if getattr(last, "until_cond", None) is not None:
                raise ValueError(
                    "until() on a quantified FINAL state is not "
                    "supported — bound the state (times(n)) or move "
                    "the stop condition into a following state")
            if any(s.any_in or s.combinations for s in self.states):
                raise ValueError(
                    "a quantified final state cannot combine with "
                    "followed_by_any/allow_combinations (emit-all "
                    "would emit every prefix length)")
            if len(self.states) - 1 in {g[1] for g in self.groups}:
                raise ValueError(
                    "a quantified final state cannot end a repetition "
                    "group (same rule as the final-group bound)")
        if not last.greedy:
            raise ValueError(
                "a pattern may not END with a reluctant quantifier "
                "(Flink's own restriction)")
        if self.pending_neg is not None:
            raise ValueError(
                "a pattern may not END with notNext/notFollowedBy "
                "(Flink's own restriction; bound it with a following "
                "state or WITHIN)")
        if any(not s.greedy for s in self.states) and not self.backtrack:
            raise ValueError(
                "reluctant quantifiers need with_backtracking() — the "
                "deterministic-greedy mode cannot express them")
        for gs, ge, gmn, gmx, ggreedy in self.groups:
            if gmn < 1 or (gmx is not None and gmx < gmn):
                raise ValueError(
                    f"group [{gs},{ge}]: repetition range ({gmn},{gmx}) "
                    "invalid (min >= 1, max >= min)")
            if ge == len(self.states) - 1 and gmx != gmn:
                raise ValueError(
                    "a pattern-final group must be bounded with "
                    "min == max repetitions (same rule as the final "
                    "state: completion is emitted at the count)")
            if not ggreedy and not self.backtrack:
                raise ValueError(
                    "reluctant groups need with_backtracking()")
        if any(s.any_in or s.combinations for s in self.states):
            if not self.backtrack:
                raise ValueError(
                    "followed_by_any/allow_combinations need "
                    "with_backtracking() (they ARE branching semantics)")
            if self.skip != "no_skip":
                raise ValueError(
                    "followed_by_any/allow_combinations emit every "
                    "found match (Flink CEP NO_SKIP); other skip "
                    "strategies are unsupported with emit-all")

    # -- execution ------------------------------------------------------
    def match_batch(
        self, events: DataFrame, key: str = "user_id", lowering: bool = True
    ) -> DataFrame:
        """Bounded match.  Eligible patterns lower to a native Catalyst
        window-function plan (nfa_lowering.py) — JVM-vectorized, no
        Python in the hot path; the general case runs the keyed fold.
        ``lowering=False`` forces the fold (used by equivalence tests)."""
        self._check()
        flagged = _with_flags(events, self.states, key, self.value_cols)
        if lowering:
            from .nfa_lowering import eligible_tier, try_lower_batch

            # Backtracking mode can still lower tier A: the bounded
            # count-vector CASE enumeration tries allocations in greedy
            # priority order and takes the first that satisfies every
            # condition — exactly regex backtracking, so the two agree
            # on ANY conditions (equivalence-tested).  Tiers B–D encode
            # the deterministic-greedy contract (no fallback binding)
            # and stay fold-only under backtracking.
            if self.groups:
                # bounded group patterns unroll into tier-A branches
                # under backtracking semantics (see _groups_lowerable)
                lowered = try_lower_batch(
                    flagged, self.states, key, self.value_cols,
                    self.horizon_s, self.skip, backtrack=self.backtrack,
                    groups=self.groups,
                )
                if lowered is not None:
                    return lowered
            else:
                tier = eligible_tier(self.states, self.horizon_s, self.skip)
                if tier is not None and (
                        not self.backtrack or tier in ("A", "E")):
                    lowered = try_lower_batch(
                        flagged, self.states, key, self.value_cols,
                        self.horizon_s, self.skip, backtrack=self.backtrack,
                        subsets=dict(self.subsets) or None,
                    )
                    if lowered is not None:
                        return lowered
        spec = _spec(self)
        schema = match_schema(key, events.schema[key].dataType)

        def fold(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(["ts", "event_id"])
            out, _ = _fold_events(pdf[key].iloc[0], pdf, [], spec,
                                  finalize=True)
            return _out_frame(out, key)

        return flagged.groupBy(key).applyInPandas(fold, schema)

    def match_stream(self, events: DataFrame, key: str = "user_id") -> DataFrame:
        from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

        from ..session import configure

        self._check()
        configure(events.sparkSession)
        flagged = _with_flags(events, self.states, key, self.value_cols)
        spec = _spec(self)
        schema = match_schema(key, events.schema[key].dataType)

        def fn(k, rows, state: GroupState):
            parts = [p for p in rows if len(p)]
            pdf = (
                pd.concat(parts, ignore_index=True).sort_values(["ts", "event_id"])
                if parts
                else pd.DataFrame()
            )
            pend = [json.loads(s) for s in state.get[0]] if state.exists else []
            out, pend = _fold_events(k[0], pdf, pend, spec)
            if pend:
                state.update(([json.dumps(p) for p in pend],))
            elif state.exists:
                state.remove()
            if out:
                yield _out_frame(out, key)

        return flagged.groupBy(key).applyInPandasWithState(
            fn, schema, _NFA_STATE_SCHEMA, "append", GroupStateTimeout.NoTimeout
        )


# ---------------------------------------------------------------- core


def _with_flags(
    events: DataFrame,
    states: tuple[State, ...],
    key: str,
    value_cols: tuple[str, ...] = (),
) -> DataFrame:
    """One boolean flag column per state, evaluated JVM-side; value
    columns (cross-variable condition operands) ride along as ``v_<col>``.
    Flags are null-coalesced to false (SQL ternary logic: a condition
    over a NULL operand — e.g. a lag() at the partition head — does not
    match), keeping the Arrow flag columns non-nullable booleans."""
    return events.select(
        F.col(key),
        "event_id",
        "ts",
        *[
            F.coalesce(F.expr(s.cond), F.lit(False)).alias(f"f{i}")
            for i, s in enumerate(states)
        ],
        *[
            F.coalesce(F.expr(cond), F.lit(False)).alias(f"f{i}x{k}")
            for i, s in enumerate(states)
            for k, (_nm, cond, _pc) in enumerate(s.alts)
        ],
        *[
            F.coalesce(F.expr(s.neg_cond), F.lit(False)).alias(f"g{i}")
            for i, s in enumerate(states)
            if s.neg_cond is not None
        ],
        *[
            F.coalesce(F.expr(s.until_cond), F.lit(False)).alias(f"u{i}")
            for i, s in enumerate(states)
            if s.until_cond is not None
        ],
        *[F.col(c).alias(f"v_{c}") for c in value_cols],
    )


def _spec(p: PatternSeq) -> dict:
    """Plain-dict pattern spec (picklable into executor closures)."""
    return {
        "states": [
            (s.name, s.min_count, s.max_count, s.strict_in, s.consecutive)
            for s in p.states
        ],
        "py_conds": [
            compile(s.py_cond, f"<py_cond:{s.name}>", "eval") if s.py_cond else None
            for s in p.states
        ],
        "value_cols": list(p.value_cols),
        "horizon_us": p.horizon_s * 1_000_000,
        "skip": p.skip,
        "max_partials": p.max_partials,
        "backtrack": p.backtrack,
        "max_branches": p.max_branches,
        "greedy": [s.greedy for s in p.states],
        "neg": [(s.neg_cond is not None, s.neg_strict) for s in p.states],
        "alts": [[a[0] for a in s.alts] for s in p.states],
        "alt_py_conds": [
            [
                compile(a[2], f"<py_cond:{a[0]}>", "eval") if a[2] else None
                for a in s.alts
            ]
            for s in p.states
        ],
        "until": [s.until_cond is not None for s in p.states],
        "any_in": [s.any_in for s in p.states],
        "comb": [s.combinations for s in p.states],
        "emit_all": any(s.any_in or s.combinations for s in p.states),
        "groups": [list(g) for g in p.groups],
    }


def _bind_val(p: dict, var, col: str, first: bool):
    """FIRST/LAST-bound value of ``col`` for pattern variable ``var`` —
    or for a SQL:2016 SUBSET union variable when ``var`` is a tuple of
    member names (the first/last row labeled with ANY member)."""
    labels, vals = p["labels"], p.get("vals", ())
    names = (var,) if isinstance(var, str) else tuple(var)
    rng = range(len(labels)) if first else range(len(labels) - 1, -1, -1)
    for i in rng:
        if labels[i] in names:
            return vals[i].get(col)
    return None


class _SqlNull:
    """SQL NULL stand-in for unbound-variable / null-event operands in
    py_cond expressions: EVERY comparison is UNKNOWN → False (including
    ``!=``, where Python's ``x != None`` would otherwise be True — the
    one operator whose native semantics silently violate ternary
    logic), truthiness is False, and arithmetic raises TypeError (which
    ``_py_cond_ok`` attributes to the null operand and maps to False)."""

    __slots__ = ()

    def _no(self, _other):  # NULL <op> anything → UNKNOWN → False
        return False

    __eq__ = __ne__ = __lt__ = __le__ = __gt__ = __ge__ = _no

    def __bool__(self):
        return False

    def __hash__(self):  # dataclass/dict safety; never keyed in practice
        return 0

    def __repr__(self):
        return "SQL_NULL"


_SQL_NULL = _SqlNull()


def _is_sql_null(v) -> bool:
    """SQL NULL as seen from the pandas fold frame: None, or float NaN —
    pandas renders a NULL double column value as NaN, which would
    otherwise leak Python NaN semantics (``NaN != x`` is True) where
    SQL three-valued logic (and the native lowering) yield UNKNOWN →
    False.  Documented delta: a genuine NaN *data* value in a
    cross-variable condition is treated as NULL too (the fold frame
    cannot distinguish them)."""
    return v is None or (isinstance(v, float) and v != v)


class _NoneTracking(dict):
    """EV namespace that records whether a null value was read (and
    substitutes the SQL-NULL comparison stand-in), so a TypeError can be
    attributed to SQL-null semantics vs a genuine bug."""

    def __init__(self, vals: dict):
        super().__init__(vals)
        self.saw_none = False

    def __getitem__(self, k):
        v = super().__getitem__(k)  # missing column → KeyError (genuine)
        if _is_sql_null(v):
            self.saw_none = True
            return _SQL_NULL
        return v


def _py_cond_ok(code, p: dict | None, evvals: dict,
                cur_var: str | None = None) -> bool:
    """Evaluate a compiled cross-variable condition for (partial, event).

    py_cond NULL contract (v2, round 8 — matches the native lowering):

    - ``FIRST``/``LAST`` of the variable CURRENTLY being matched
      (``cur_var``) with no accepted row yet bind the **current event**
      — SQL MATCH_RECOGNIZE running semantics, where the candidate row
      is already part of the match prefix (``B.value >= FIRST(B.value)``
      is vacuously true at rep 0).  Once a row of that variable is
      bound, FIRST/LAST navigate the bound rows as usual.
    - An unbound OTHER-variable reference, and any null event value,
      evaluates as SQL NULL: EVERY comparison is UNKNOWN → False,
      ``!=`` included (``_SqlNull``) — matching Flink's
      IterativeCondition contract and the lowering (``x <> NULL`` is
      UNKNOWN and filters out).  ``FIRST("X",...) is None`` is never
      True under this contract (v1 returned ``None`` here; conditions
      relying on that should compare against the documented rep-0
      current-row binding instead).

    A TypeError with NO null operand in play (e.g. comparing a string
    column to a number) is a genuine condition bug and is re-raised
    with the compiled condition's name (``<py_cond:VAR>``) in the
    traceback rather than silently treated as a non-match.
    """
    pp = p if p is not None else {"labels": [], "vals": []}
    ev = _NoneTracking(evvals)
    saw_none = [False]

    def _bind(var, col: str, first: bool):
        v = _bind_val(pp, var, col, first)
        names = (var,) if isinstance(var, str) else tuple(var)
        if (
            v is None
            and cur_var in names
            and not any(lb in names for lb in pp["labels"])
        ):
            v = evvals.get(col)  # rep 0: the candidate row binds itself
        if _is_sql_null(v):  # None, or pandas' NaN rendering of NULL
            saw_none[0] = True
            return _SQL_NULL
        return v

    def _count_var(var) -> int:
        names = (var,) if isinstance(var, str) else tuple(var)
        return sum(1 for lb in pp["labels"] if lb in names)

    env = {
        "EV": ev,
        "FIRST": lambda var, col: _bind(var, col, True),
        "LAST": lambda var, col: _bind(var, col, False),
        "COUNT_VAR": _count_var,
    }
    try:
        return bool(eval(code, {"__builtins__": {}}, env))
    except TypeError:
        if ev.saw_none or saw_none[0]:
            return False  # null operand → no match (SQL ternary)
        raise


def _plain(v):
    """A pandas cell as a JSON-serializable Python value (partials
    round-trip through streaming state as JSON)."""
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    if hasattr(v, "item"):  # numpy scalar
        return v.item()
    return str(v)


def _match_row(key, p: dict) -> tuple:
    """One output row (``match_schema`` column order) for a match."""
    return (
        key,
        pd.Timestamp(p["start"] * 1000),
        pd.Timestamp(p["tss"][-1] * 1000),
        list(p["labels"]),
        list(p["ids"]),
        [pd.Timestamp(t * 1000) for t in p["tss"]],
    )


def _branch(p: dict, deck: list, **kw) -> dict:
    """An independent copy of partial ``p`` on decision string ``deck``
    (a fork sibling, or a pending completion with ``kw`` overrides)."""
    q = {
        "si": p["si"], "cnt": p["cnt"], "closed": p["closed"],
        "labels": list(p["labels"]), "ids": list(p["ids"]),
        "tss": list(p["tss"]), "vals": list(p.get("vals", [])),
        "start": p["start"], "sid": p["sid"], "deck": deck,
    }
    if p.get("gc"):
        q["gc"] = list(p["gc"])
    q.update(kw)
    return q


def _skip_ref(p: dict, mode: str, var: str) -> tuple[int, int] | None:
    """(ts, id) of the first (``to_first``) or last (``to_last``) row the
    match mapped to ``var`` — partials starting before it are pruned;
    None when the match has no ``var`` row (prunes nothing)."""
    idxs = [i for i, lb in enumerate(p["labels"]) if lb == var]
    if not idxs:
        return None
    i = idxs[0] if mode == "to_first" else idxs[-1]
    return (p["tss"][i], p["ids"][i])


def _columns(events: pd.DataFrame, spec: dict, n_states: int) -> tuple:
    """Per-batch column extraction (the per-row itertuples/getattr path
    dominated fold time at 100k-event scale): ts (epoch micros), ids,
    per-state flags, value columns, and the per-state negative-guard,
    alternative and until() flags.  Flag columns are non-nullable
    booleans by construction (_with_flags coalesces)."""

    def flags(prefix: str, on) -> dict[int, list[bool]]:
        return {i: events[f"{prefix}{i}"].astype(bool).tolist()
                for i in range(n_states) if on[i]}

    # normalize to ns first: pandas may hold datetime64[us] depending on
    # the Arrow conversion path, and a bare astype(int64) would then be
    # µs already (off by 1000 after the //1000)
    ts = (events["ts"].astype("datetime64[ns]").astype("int64") // 1000).tolist()
    alts = spec.get("alts") or [[] for _ in range(n_states)]
    return (
        ts,
        events["event_id"].astype("int64").tolist(),
        [events[f"f{i}"].astype(bool).tolist() for i in range(n_states)],
        {c: events[f"v_{c}"].tolist() for c in spec.get("value_cols") or []},
        flags("g", [n for n, _ in spec.get("neg") or [(False, False)] * n_states]),
        {i: [events[f"f{i}x{k}"].astype(bool).tolist() for k in range(len(a))]
         for i, a in enumerate(alts) if a},
        flags("u", spec.get("until") or [False] * n_states),
    )


def _emit_completed(
    key, completed: list[dict], survivors: list[dict], skip: str,
    out: list[tuple], at: tuple[int, int] | None = None,
) -> tuple[list[dict], bool]:
    """Deterministic-mode emission: completed matches emit oldest start
    first (stable by start event id), and AFTER MATCH SKIP prunes later
    completions and ``survivors``.  ``at`` is the current event's
    (ts, id) — None at finalize.  Returns (survivors,
    suppress_start_at_this_event).

    past_last prunes by the emitted match's LAST ROW, not by the
    completing event: a break/expiry completion (quantified final)
    resolves at an event AFTER the match end, and that event — plus
    partials started after the end — must survive.  For cap completions
    the end IS the current event: everything else dies and no partial
    starts there."""
    if not completed:
        return survivors, False
    completed.sort(key=lambda p: (p["start"], p["sid"]))
    skip_mode, _, skip_var = skip.partition(":")
    past_end: tuple[int, int] | None = None
    min_start: tuple[int, int] | None = None  # to_first/to_last prune ref
    suppress = False
    for p in completed:
        g = (p["start"], p["sid"])
        if past_end is not None and g <= past_end:
            continue  # consumed by a past_last skip
        if min_start is not None and g < min_start:
            continue  # pruned by an earlier skip-to emission
        out.append(_match_row(key, p))
        if skip_mode == "past_last":
            past_end = (p["tss"][-1], p["ids"][-1])
            survivors = [
                s for s in survivors if (s["start"], s["sid"]) > past_end
            ]
            if at is not None and past_end >= at:
                suppress = True
        elif skip_mode == "to_next":
            survivors = [s for s in survivors if s["sid"] != p["sid"]]
        elif skip_mode in ("to_first", "to_last"):
            ref = _skip_ref(p, skip_mode, skip_var)
            if ref is not None and (min_start is None or ref > min_start):
                min_start = ref
    if min_start is not None:
        survivors = [
            s for s in survivors if (s["start"], s["sid"]) >= min_start
        ]
    return survivors, suppress


def _resolve(
    key, pend: list[dict], survivors: list[dict], skip: str,
    out: list[tuple], ts_us: int | None = None,
) -> tuple[list[dict], list[dict], bool]:
    """Branching-mode emission: emit every pending match whose greedier
    siblings are all dead (all of them at finalize, ``ts_us`` None) —
    one match per start, the min-deck candidate; its siblings die.
    Returns (pend, survivors, suppress_start_at_this_event).

    Under ORDER-SENSITIVE skip modes (past_last, to_first/to_last
    — where an emission prunes other groups by row position), a
    later-start pending match must never emit past an earlier
    group that is still unresolved: either pending-blocked by a
    live greedier sibling, or live with no completion yet.  SQL
    MATCH_RECOGNIZE scans leftmost-first, so the earlier group —
    if it ever completes — owns the rows and its skip decides the
    later group's fate, not the reverse.  Such groups (and every
    group after them) stay pending until the blocker resolves or
    dies; ``finalize`` drains the queue to a fixpoint."""
    if not pend:
        return pend, survivors, False
    skip_mode, _, skip_var = skip.partition(":")
    order_sensitive = skip_mode in ("past_last", "to_first", "to_last")
    live_min: dict[tuple, list] = {}
    if ts_us is not None:
        for s in survivors:
            g = (s["start"], s["sid"])
            d = s.get("deck", [])
            if g not in live_min or d < live_min[g]:
                live_min[g] = d
    groups: dict[tuple, list[dict]] = {}
    for c in pend:
        groups.setdefault((c["start"], c["sid"]), []).append(c)
    # earliest live group with no pending candidate: leftmost order
    # is undecidable past it under an order-sensitive skip
    first_live_only: tuple | None = None
    if order_sensitive:
        for lg in live_min:
            if lg not in groups and (
                    first_live_only is None or lg < first_live_only):
                first_live_only = lg
    new_pend: list[dict] = []
    resume_row: tuple[int, int] | None = None  # past_last last-row
    min_start: tuple[int, int] | None = None   # to_first/to_last ref
    suppress = False
    deferred = False  # an earlier group was left unresolved
    for g in sorted(groups):
        cands = sorted(groups[g], key=lambda c: c.get("deck", []))
        best = cands[0]
        if resume_row is not None:
            if g <= resume_row:
                continue  # consumed by the past_last match
            new_pend.extend(groups[g])
            continue  # starts after the resume row: left pending
        if min_start is not None and g < min_start:
            continue  # pruned by a skip-to emission
        if order_sensitive and (
                deferred
                or (first_live_only is not None and first_live_only < g)):
            new_pend.extend(groups[g])  # blocked behind an earlier
            deferred = True             # unresolved group
            continue
        lm = live_min.get(g)
        if lm is not None and lm < best.get("deck", []):
            new_pend.extend(groups[g])  # a greedier branch is live
            deferred = True
            continue
        out.append(_match_row(key, best))  # siblings of g die
        if skip_mode == "past_last":
            resume_row = (best["tss"][-1], best["ids"][-1])
            survivors = [
                s for s in survivors
                if (s["start"], s["sid"]) > resume_row
            ]
            new_pend = [
                c for c in new_pend
                if (c["start"], c["sid"]) > resume_row
            ]
            if ts_us is not None and best["tss"][-1] == ts_us:
                suppress = True
        elif skip_mode == "to_next":
            survivors = [s for s in survivors if s["sid"] != best["sid"]]
        elif skip_mode in ("to_first", "to_last"):
            ref = _skip_ref(best, skip_mode, skip_var)
            if ref is not None and (min_start is None or ref > min_start):
                min_start = ref
        survivors = [
            s for s in survivors if (s["start"], s["sid"]) != g
        ]
    if min_start is not None:
        survivors = [
            s for s in survivors if (s["start"], s["sid"]) >= min_start
        ]
        new_pend = [
            c for c in new_pend if (c["start"], c["sid"]) >= min_start
        ]
    return new_pend, survivors, suppress


def _target_prio(chain: list[int], greedy_flags: list[bool]) -> list[int]:
    """Regex preference order over an optional-skippable state chain:
    depth-first through the left-to-right take/skip decisions — a
    greedy state's TAKE outranks every alternative reached by skipping
    it; a reluctant state's TAKE ranks below them."""
    if not chain:
        return []
    j, rest = chain[0], chain[1:]
    alts = _target_prio(rest, greedy_flags)
    return [j] + alts if greedy_flags[j] else alts + [j]


def _fold_events(
    key: int, events: pd.DataFrame, partials: list[dict], spec: dict,
    finalize: bool = False,
) -> tuple[list[tuple], list[dict]]:
    """Fold a (ts, event_id)-sorted batch into partial-match state.

    A partial is a JSON-able dict: si (state index), cnt (count in
    current state), closed (state frozen by a consecutive-break),
    labels/ids/tss (collected events; tss in epoch micros), vals (bound
    value columns), start (first-event micros), sid (start event id,
    for to_next), gc (group repetitions done), ng (notNext slot armed);
    the branching mode adds deck (decision string) and done (pending
    completion).  Returns (completed matches, surviving partials) —
    shared by the batch and streaming backends so semantics cannot
    drift.  ``finalize`` (bounded input exhausted) closes what end of
    input closes: deterministic quantified-final runs at or past their
    min, and every resolvable pending match of the branching mode.

    One event loop serves both modes (``spec["backtrack"]``).  They
    differ in exactly two places:

    - transition choice: the deterministic mode takes the FIRST viable
      transition — extend, else the group loop-back, else the first
      later state through skippable optionals; the branching mode takes
      EVERY viable one in regex preference order, forking the partial
      per choice with a ``deck`` digit (0 = greediest, lexicographic
      order = greedy preference — Flink's dewey-number version order);
    - emission: the deterministic mode emits at completion
      (``_emit_completed``); the branching mode buffers completions as
      pending (``done``) and emits one per match start once no live
      sibling has a smaller deck (``_resolve``) — the regex-greedy
      match, exactly one per start (SQL MATCH_RECOGNIZE contract).

    Everything else — columns, label lookup, WITHIN expiry, until(),
    the wait-or-die contiguity rules, starts — is this one copy.  With
    mutually-exclusive conditions no fork can occur and the two modes
    agree (regression-tested equivalence).
    """
    states = spec["states"]
    n_states = len(states)
    last = n_states - 1
    lmn, lmx = states[-1][1], states[-1][2]
    horizon = spec["horizon_us"]
    skip = spec["skip"]
    bt = bool(spec.get("backtrack"))
    max_partials = spec.get("max_partials") or 100_000
    max_branches = spec.get("max_branches") or 64
    py_conds = spec.get("py_conds") or [None] * n_states
    value_cols = spec.get("value_cols") or []
    greedy_flags = spec.get("greedy") or [True] * n_states
    neg = spec.get("neg") or [(False, False)] * n_states
    alts = spec.get("alts") or [[] for _ in range(n_states)]
    alt_codes = spec.get("alt_py_conds") or [[] for _ in range(n_states)]
    until = spec.get("until") or [False] * n_states
    any_in = spec.get("any_in") or [False] * n_states
    comb = spec.get("comb") or [False] * n_states
    emit_all = bool(spec.get("emit_all"))
    groups = spec.get("groups") or []
    # group-end state index → (start, gmin, gmax, greedy, group idx)
    gend = {g[1]: (g[0], g[2], g[3], g[4], gi)
            for gi, g in enumerate(groups)}
    no_gc = [0] * len(groups)  # read-only default repetition counts
    gfin = gend.get(last)  # a final group completes on its last repetition
    # greedy quantified FINAL state (B{1,3} / B+ at pattern end): the
    # match closes at cap / strict break / expiry / finalize rather
    # than at the min count (round 11)
    qf = last not in gend and lmx != lmn
    done_cnt = lmx if qf else lmn  # None: never completes by count
    # a match may START at any state reachable through leading
    # optional (min 0) states — Flink's A? B matches a bare B
    start_chain = [0]
    while start_chain[-1] < last and states[start_chain[-1]][1] == 0:
        start_chain.append(start_chain[-1] + 1)
    # proceed targets per state: the next state through skippable
    # optionals, in the order the mode tries them
    chains = []
    for si in range(n_states):
        ch, j = [], si + 1
        while j < n_states:
            ch.append(j)
            if states[j][1] != 0:
                break
            j += 1
        chains.append(ch)
    if bt:
        # regex nested-decision order: a GREEDY optional prefers being
        # entered over skipped, a RELUCTANT one being skipped; entering
        # a start state means skipping every optional before it, so the
        # start forks follow the same order
        chains = [_target_prio(ch, greedy_flags) for ch in chains]
        start_chain = _target_prio(start_chain, greedy_flags)

    out: list[tuple] = []
    live = [p for p in partials if not p.get("done")]
    pend = [p for p in partials if p.get("done")]
    rejected_starts = 0
    n_events = len(events)
    if n_events:
        (ts_arr, eid_arr, flag_arrs, val_arrs, neg_arrs, alt_arrs,
         until_arrs) = _columns(events, spec, n_states)
    for ei in range(n_events):
        ts_us = ts_arr[ei]
        eid = eid_arr[ei]
        flags = [fa[ei] for fa in flag_arrs]
        if not live and not pend and not any(
                flags[j] or any(a[ei] for a in alt_arrs.get(j, ()))
                for j in start_chain):
            continue  # nothing live and nothing can start — skip fast
        evvals = {c: _plain(val_arrs[c][ei]) for c in value_cols}

        def _labels(j: int, p: dict | None, first: bool = False) -> list:
            """Labels the event can enter/extend state j with, in regex
            ``|`` priority (the primary variable, then alternatives) —
            each a separate fork choice; ``first`` stops at the first,
            the deterministic mode's only choice."""
            lbls = []
            if flags[j] and (py_conds[j] is None or _py_cond_ok(
                    py_conds[j], p, evvals, states[j][0])):
                lbls.append(states[j][0])
                if first:
                    return lbls
            for k, nm in enumerate(alts[j]):
                if alt_arrs[j][k][ei] and (alt_codes[j][k] is None or
                                           _py_cond_ok(alt_codes[j][k], p,
                                                       evvals, nm)):
                    lbls.append(nm)
                    if first:
                        return lbls
            return lbls

        # WITHIN expiry: partials die — EXCEPT (deterministic mode) a
        # greedy quantified-final run at or past its min, whose own
        # rows are all inside the window: only the EXTENSION window
        # expired, so the longest run found is the match (the branching
        # mode buffered that length as pending already)
        completed: list[dict] = []
        kept: list[dict] = []
        for p in live:
            if ts_us <= p["start"] + horizon:
                kept.append(p)
            elif not bt and qf and p["si"] == last and p["cnt"] >= lmn:
                completed.append(p)
        survivors: list[dict] = []
        for p in kept:
            si = p["si"]
            _name, mn, mx, _strict_in, consec = states[si]
            # until() stop condition: freeze the loop BEFORE the extend
            # check (the matching event is never consumed into it); a
            # partial frozen below min can never complete — dead
            if until[si] and until_arrs[si][ei] and not p["closed"]:
                p["closed"] = True
                if p["cnt"] < mn:
                    continue
            can_ext = not p["closed"] and (mx is None or p["cnt"] < mx)
            # exits once the state's min is met: the group loop-back
            # (at a group end with repetitions left) and the proceed
            # chain (once the group's own min is met)
            loop_to = None
            chain = ()
            ggreedy = True
            if p["cnt"] >= mn:
                proceed = True
                if si in gend:
                    gs_, gmn_, gmx_, ggreedy, gi_ = gend[si]
                    loops_done = (p.get("gc") or no_gc)[gi_] + 1
                    if gmx_ is None or loops_done < gmx_:
                        loop_to = gs_
                    proceed = loops_done >= gmn_
                if proceed:
                    chain = chains[si]
            if bt:
                # every viable transition: a greedy state prefers
                # extending, a reluctant one leaving; a greedy group
                # prefers another repetition over proceeding, a
                # reluctant one the reverse; within one target,
                # alternatives fork in ``|`` order
                ext = [("x", si, lb) for lb in _labels(si, p)] \
                    if can_ext else []
                loop = [("g", loop_to, lb) for lb in _labels(loop_to, p)] \
                    if loop_to is not None else []
                advs = [("a", j, lb) for j in chain for lb in _labels(j, p)]
                rest = loop + advs if ggreedy else advs + loop
                choices = ext + rest if greedy_flags[si] else rest + ext
                # non-deterministic edges (followedByAny / combinations,
                # Flink SKIP_TILL_ANY): the event may also be IGNORED —
                # allowed only when every viable take-edge is an
                # ignorable kind (a combinations loop / an any-entry)
                if emit_all and choices and all(
                        (k == "x" and comb[j]) or (k == "a" and any_in[j])
                        for k, j, _ in choices):
                    choices.append(("i", si, None))
            else:
                # the first viable transition: extend, else loop back,
                # else the first later state whose condition holds
                kind, j = "x", si
                lb = _labels(si, p, True) if can_ext else None
                if not lb and loop_to is not None:
                    kind, j = "g", loop_to
                    lb = _labels(j, p, True)
                if not lb:
                    kind = "a"
                    for j in chain:
                        lb = _labels(j, p, True)
                        if lb:
                            break
                choices = [(kind, j, lb[0])] if lb else ()
            if not choices:
                # neither extended nor advanced: contiguity rules
                # decide whether the partial waits or dies
                if consec and p["cnt"] < mn:
                    continue  # broken repeat chain below min — dead
                if consec and qf and si == last:
                    # a strict quantified-final run broken by a row
                    # that does not extend it: the longest run found IS
                    # the match (ISO MATCH_RECOGNIZE greedy; Flink NFA
                    # emits when the greedier branch dies) — completed
                    # here, or (branching) resolved from its pending
                    # completion once this extending branch dies
                    if not bt:
                        completed.append(p)
                    continue
                if consec:
                    p["closed"] = True  # min reached: freeze, may advance
                nxt = si + 1
                if p["cnt"] >= mn and si in gend:
                    # waiting at a group end: dead only if EVERY
                    # available continuation (loop-back / proceed) is a
                    # strict edge
                    gs_, gmn_, gmx_, _gg, gi_ = gend[si]
                    loops_done = (p.get("gc") or no_gc)[gi_] + 1
                    if ((gmx_ is None or loops_done < gmx_)
                            and not states[gs_][3]) or (
                            loops_done >= gmn_ and nxt < n_states
                            and not states[nxt][3]):
                        survivors.append(p)
                    continue
                if p["cnt"] >= mn and nxt < n_states:
                    if states[nxt][3]:
                        continue  # strict_in edge violated — dead
                    if neg[nxt][0]:
                        # negative edge guard (notNext/notFollowedBy):
                        # an UN-consumed event matching it kills the
                        # partial
                        strict_neg = neg[nxt][1]
                        if neg_arrs[nxt][ei] and (
                                not strict_neg or p.get("ng", True)):
                            continue
                        if strict_neg:
                            p["ng"] = False  # the immediate slot passed
                survivors.append(p)
                continue
            fork = len(choices) > 1
            if fork:
                gid = (p["start"], p["sid"])
                n_in_group = sum(
                    1 for s in survivors if (s["start"], s["sid"]) == gid)
                deck = p.get("deck", [])
            created = 0
            for ci, (kind, j, lbl) in enumerate(choices):
                if fork:
                    if ci > 0 and n_in_group + created >= max_branches:
                        break  # cap: greediest branches kept
                    q = _branch(p, deck + [ci])
                else:
                    q = p
                created += 1
                if kind == "i":  # ignore the event entirely: the
                    # waiting branch lives on for later occurrences
                    survivors.append(q)
                    continue
                if kind == "x":
                    q["cnt"] += 1
                else:
                    if kind == "g":  # group loop-back: one more rep
                        gc = list(q.get("gc") or no_gc)
                        gc[gend[q["si"]][4]] += 1
                        q["gc"] = gc
                    q.update(si=j, cnt=1, closed=False)
                q["ng"] = True  # a consumed event re-arms notNext
                q["labels"].append(lbl)
                q["ids"].append(eid)
                q["tss"].append(ts_us)
                q.setdefault("vals", []).append(evvals)
                if bt and qf and q["si"] == last and q["cnt"] >= lmn \
                        and (lmx is None or q["cnt"] < lmx):
                    # greedy quantified final: buffer THIS length as a
                    # pending match (stop = less-greedy digit 1) and
                    # keep the extending branch live (digit 0).  A new
                    # pend dominates the same lineage's older one (only
                    # the min-deck pend of a group can ever emit), so
                    # dominated pends are dropped to keep B+ runs O(1)
                    # in state.
                    qdeck = q.get("deck", [])
                    c = _branch(q, qdeck + [1], closed=True, done=True)
                    pend = [
                        x for x in pend
                        if (x["start"], x["sid"]) != (c["start"], c["sid"])
                        or x.get("deck", []) <= c["deck"]
                    ]
                    pend.append(c)
                    q["deck"] = qdeck + [0]
                    survivors.append(q)
                elif q["si"] == last and q["cnt"] == done_cnt and (
                        gfin is None
                        or (q.get("gc") or no_gc)[gfin[4]] + 1 >= gfin[1]):
                    if not bt:
                        completed.append(q)
                    elif emit_all:
                        out.append(_match_row(key, q))  # Flink CEP: all
                    else:
                        q["done"] = True
                        pend.append(q)
                else:
                    survivors.append(q)
        if bt:
            # expired groups may unblock pending siblings; completions
            # this event resolve in the same pass
            pend, live, suppress = _resolve(
                key, pend, survivors, skip, out, ts_us)
        else:
            live, suppress = _emit_completed(
                key, completed, survivors, skip, out, (ts_us, eid))
        if suppress:
            continue
        # starts at every match of a startable state (state 0, or any
        # state behind leading optionals): the first startable label,
        # or (branching) a fork over all of them
        if bt:
            starts = [(j, lb) for j in start_chain for lb in _labels(j, None)]
        else:
            starts = ()
            for j in start_chain:
                lb = _labels(j, None, True)
                if lb:
                    starts = ((j, lb[0]),)
                    break
        fork0 = len(starts) > 1
        for ci, (j0, lbl0) in enumerate(starts):
            p0 = {
                "si": j0, "cnt": 1, "closed": False,
                "labels": [lbl0], "ids": [eid], "tss": [ts_us],
                "vals": [evvals], "start": ts_us, "sid": eid,
            }
            if bt:
                p0["deck"] = [ci] if fork0 else []
            if j0 == last and states[j0][1] == 1:  # complete at once
                if not qf:
                    if bt and n_states > 1 and not emit_all:
                        # behind leading optionals: resolve against
                        # greedier starts
                        p0["done"] = True
                        pend.append(p0)
                    elif not bt or n_states > 1 or ci == 0:
                        # a single-state match is decided here; later
                        # alternatives are the same match with a
                        # lower-priority labeling
                        out.append(_match_row(key, p0))
                    continue
                if bt:
                    # greedy quantified final starting here: pend the
                    # length-1 completion (stop digit) and keep the
                    # extending start live (greedier digit)
                    pend.append(_branch(p0, p0["deck"] + [1],
                                        closed=True, done=True))
                    p0["deck"] = p0["deck"] + [0]
            if len(live) < max_partials:
                live.append(p0)
            elif not bt:
                rejected_starts += 1  # hot-key guard: pool at capacity
    if rejected_starts:
        import warnings

        warnings.warn(
            f"NFA key {key}: live-partial cap {max_partials} hit — "
            f"{rejected_starts} new partial start(s) rejected this batch "
            "(bound WITHIN tighter or raise with_max_partials)",
            RuntimeWarning,
            stacklevel=2,
        )
    if finalize and bt:
        # live branches can never complete: pending matches resolve.
        # One _resolve pass emits at most one past_last match and
        # defers every group behind its resume row; iterate to a
        # fixpoint so matches starting after an emitted match's last
        # row still resolve.
        while pend:
            before = len(pend)
            pend, _, _ = _resolve(key, pend, [], skip, out)
            if len(pend) == before:
                break  # no progress — nothing left resolvable
        live = []
    elif finalize and qf:
        # quantified-final runs that reached their min complete (ISO
        # MATCH_RECOGNIZE closes every match at end of partition),
        # honoring the skip strategy in leftmost (start, sid) order.
        # Other partials stay incomplete, as ever.
        fin = [p for p in live if p["si"] == last and p["cnt"] >= lmn]
        _emit_completed(key, fin, [], skip, out)
        live = [p for p in live if not (p["si"] == last and p["cnt"] >= lmn)]
    return out, live + pend


def _out_frame(out: list[tuple], key: str = "user_id") -> pd.DataFrame:
    return pd.DataFrame(
        out, columns=[key, "start_ts", "end_ts", "labels", "ids", "tss"]
    )


# ------------------------------------------------- measure helpers


def first_id(label: str):
    """Event id of the FIRST event matched by ``label`` (null if none)."""
    return F.expr(f"get(ids, array_position(labels, '{label}') - 1)")


def last_id(label: str):
    """Event id of the LAST event matched by ``label`` (null if none).

    ``try_element_at`` (not ``element_at``): under ANSI mode the latter
    raises on the empty filter result an ``optional()`` state produces.
    """
    return F.expr(
        "try_element_at(filter(arrays_zip(labels, ids), x -> x.labels = "
        f"'{label}'), -1).ids"
    )


def label_count(label: str):
    return F.expr(f"size(filter(labels, x -> x = '{label}'))")


def nav(label: str, field: str, first: bool, off: int = 0):
    """Logical-offset navigation (Flink FIRST/LAST(V.col, n)): the
    (n+1)-th row mapped to ``label`` from the start (FIRST) or end
    (LAST); NULL when out of range.  ``field`` is ids or tss."""
    pos = 1 + off if first else -(1 + off)
    return F.expr(
        f"try_element_at(filter(arrays_zip(labels, {field}), "
        f"x -> x.labels = '{label}'), {pos}).{field}"
    )


def _member_pred(members) -> str:
    """Lambda predicate body matching any of a SUBSET's member labels."""
    inlist = ", ".join(f"'{m}'" for m in members)
    return f"x.labels IN ({inlist})"


def nav_of(members, field: str, first: bool, off: int = 0):
    """SUBSET twin of :func:`nav`: the (n+1)-th row labeled with ANY
    member of a SQL:2016 union variable (``SUBSET U = (A, B)``)."""
    pos = 1 + off if first else -(1 + off)
    return F.expr(
        f"try_element_at(filter(arrays_zip(labels, {field}), "
        f"x -> {_member_pred(members)}), {pos}).{field}"
    )


def count_of(members):
    """COUNT(U.*) for a SUBSET union variable: rows labeled with any
    member."""
    inlist = ", ".join(f"'{m}'" for m in members)
    return F.expr(f"size(filter(labels, x -> x IN ({inlist})))")

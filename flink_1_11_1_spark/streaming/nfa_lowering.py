"""Native Catalyst lowering for common CEP/MATCH_RECOGNIZE shapes.

The general NFA fold (nfa.py) walks events one at a time in Python
inside ``applyInPandas`` — scale-*correct* (keyed, horizon-bounded) but
~100× slower per event than vectorized JVM execution, and a single hot
key serializes.  Flink pays the same per-event cost in Java
(flink-cep nfa/NFA.java, lowered unconditionally by
flink-table-planner-blink StreamExecMatch.scala); our equivalent
currency is whole-stage-codegen'd window functions, so patterns whose
deterministic-greedy semantics are expressible relationally are lowered
to native plans here and never enter Python.

Four lowering tiers (``eligible_tier`` returns which, or None →
caller falls back to the NFA fold; every tier emits the exact
``NFA_MATCH_SCHEMA`` row set the fold would, verified by randomized
fold-equivalence tests in tests/test_nfa_lowering.py):

- **A — contiguous fixed-length**: every state's count is bounded and
  transitions are strict (SQL pattern concatenation).  All greedy count
  vectors are enumerated (product of [min,max] ranges, capped) and each
  becomes a conjunction over ``lead()`` columns: state flags at their
  offsets, greedy-consistency negations (a state below max must FAIL at
  the next offset, a skipped optional must FAIL where the next state
  matched), and the WITHIN bound as ``lead(ts, L-1) <= ts + horizon``.
  Vectors are mutually exclusive by construction, so matches are the
  filter's rows.  Cross-variable DEFINEs participate via static offset
  instantiation of their SQL text (FIRST/LAST resolve to fixed offsets
  per vector).  AFTER MATCH SKIP: no_skip/to_next always (one
  deterministic partial per start row); past_last additionally requires
  a static no-overlap proof — ``max(state0)==1`` and state 0's
  equality-literal conjunct contradicting every later state's (a row
  inside a match can then never start another).
- **B — homogeneous run** ``D{n}`` under past_last: gaps-and-islands
  over the flag column; within each maximal run the fold emits matches
  ending at run ordinals n, 2n, … (requires effectively-unbounded
  WITHIN — mid-run expiry would shift the lattice).
- **C — greedy-plus run then tail** ``V{m,} T1..Tk`` under past_last:
  the classic frontier rendering — ``max`` of the last non-V position
  as a running window, V-runs grouped per frontier, tail matched by
  lead() at the first row after the run.  Requires V's literal to
  contradict each tail literal (the run cannot silently continue).  A
  bounded WITHIN is a filter over the run group: expiry is monotone in
  event time, so the surviving prefix at completion is exactly the run
  rows within horizon of the tail end.
- **D — relaxed funnel**: a consecutive block ``A{n}`` followed by a
  chain of (optionals, required) segments with relaxed contiguity
  (Flink ``followedBy``), under no_skip/to_next — up to TWO optionals
  per segment, literals free to overlap (round 6).  "Next matching
  event after position p" is a ``min(struct(ts,event_id)) OVER (ROWS
  BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)`` column; the first
  segment reads it via lead() at the start row, each later segment
  joins the previous required binding back to the per-row columns (one
  keyed equi-join per extra segment).  Per segment, resolution follows
  the greedy NFA: contradictory single optionals compare two
  next-occurrence structs (no join); overlapping ones use the union
  next-occurrence struct — the first event matching either flag binds
  the earliest state in order it satisfies — with one hop join to
  re-resolve the required; two adjacent optionals chain the same rule
  through two hops (see _lower_funnel's mode table).

Reference parity note: Flink has no such fast path — it is the
Spark-first answer to the same operator contract, with the NFA kept for
the general case (cross-variable + unbounded mixes, bounded-horizon
runs, past_last with possible overlap, arbitrary relaxed chains).
"""

from __future__ import annotations

import itertools
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sql_lex import lex

# Caps on the tier-A enumeration: beyond these the unrolled plan stops
# being obviously better than the fold (and the expression tree grows).
_MAX_VECTORS = 16
_MAX_LEN = 12

# WITHIN horizons at or above this are "effectively unbounded" (the SQL
# front door uses 36500 days when the clause is absent).
_UNBOUNDED_S = 10 * 365 * 86400

_SQL_KEYWORDS = {
    "AND", "OR", "NOT", "IS", "NULL", "TRUE", "FALSE", "BETWEEN",
    "IN", "LIKE", "CASE", "WHEN", "THEN", "ELSE", "END", "DIV",
}

_FNREF_RE = re.compile(r"\b(FIRST|LAST)\s*\(\s*(\w+)\.(\w+)\s*\)", re.IGNORECASE)
_DOTREF_RE = re.compile(r"\b([A-Za-z_]\w*)\.([A-Za-z_]\w*)\b")
_EQ_LIT_RE = re.compile(r"^\s*(?:(\w+)\s*\.\s*)?(\w+)\s*=\s*'([^']*)'\s*$")


def _sub_code(pat: re.Pattern, fn, text: str) -> str:
    """``pat.sub(fn, text)`` for matches that start in code (string
    literals, comments and backtick identifiers are left alone)."""
    lx = lex(text)
    return pat.sub(lambda m: fn(m) if lx.is_code(m.start()) else m.group(0), text)


def _literal_conjuncts(cond: str, this: str | None) -> dict[str, str]:
    """``col -> literal`` for top-level ``col = 'lit'`` conjuncts that
    constrain the CURRENT row (bare or ``this``-prefixed refs only)."""
    out: dict[str, str] = {}
    for part in lex(cond).split("AND"):
        m = _EQ_LIT_RE.match(part)
        if m and (m.group(1) is None or m.group(1) == this or m.group(1) == "THIS"):
            out[m.group(2)] = m.group(3)
    return out


def _contradictory(a: dict[str, str], b: dict[str, str]) -> bool:
    return any(c in b and b[c] != lit for c, lit in a.items())


def _state_literals(s) -> dict[str, str]:
    src = s.sql_cond if s.py_cond is not None else s.cond
    if src is None:
        return {}
    return _literal_conjuncts(src, this=s.name)


class _Leads:
    """Registry of lead() columns needed by the generated expressions."""

    def __init__(self):
        self.need: dict[tuple[str, int], str] = {}

    def ref(self, src: str, off: int) -> str:
        if off == 0:
            return f"`{src}`"
        name = f"_L_{src}_{off}"
        self.need[(src, off)] = name
        return f"`{name}`"

    def attach(self, df: DataFrame, w) -> DataFrame:
        if not self.need:
            return df
        return df.select(
            "*",
            *[
                F.lead(src, off).over(w).alias(name)
                for (src, off), name in sorted(self.need.items())
            ],
        )


def _val_src(col: str, value_cols: tuple[str, ...]) -> str | None:
    if col in value_cols:
        return f"v_{col}"
    if col in ("event_id",):
        return col
    return None  # ts and arbitrary cols are not carried into the fold frame


def _instantiate(
    sql_cond: str,
    this: str,
    ev_off: int,
    bound: dict[str, list[int]],
    leads: _Leads,
    value_cols: tuple[str, ...],
    subsets: dict[str, tuple[str, ...]] | None = None,
) -> str | None:
    """Rewrite a DEFINE's SQL text to lead() refs for a fixed layout.

    ``bound`` maps variable -> offsets accepted BEFORE the event being
    tested (same-variable: earlier repetitions only).  Returns None when
    the condition is statically false (navigation of an unbound
    variable), or raises _Unlowerable when a reference cannot be mapped.

    ``subsets`` (SQL:2016 union variables) resolve membership-only:
    the bound offset set is the sorted union of the members' offsets,
    mirroring the fold's ``_bind`` exactly — FIRST/LAST navigate bound
    member rows when any exist; with none bound, the current event
    binds itself iff ``this`` is a member (the rep-0 rule), else the
    reference is SQL NULL (statically false branch).
    """
    false = []
    subsets = subsets or {}

    def ref(col: str, off: int) -> str:
        src = _val_src(col, value_cols)
        if src is None:
            raise _Unlowerable(f"column {col} not carried for cross-variable eval")
        return leads.ref(src, off)

    def union_offs(members: tuple[str, ...]) -> list[int]:
        return sorted(o for m_ in members for o in bound.get(m_, ()))

    def fnrepl(m: re.Match) -> str:
        fn, var, col = m.group(1).upper(), m.group(2), m.group(3)
        if var in subsets:
            members = subsets[var]
            offs = union_offs(members)
            if fn == "LAST" and this in members:
                # running semantics: the candidate IS the latest U row
                # (mirrors _to_python's EV[col] compilation exactly)
                return ref(col, ev_off)
            if offs:
                return ref(col, offs[0] if fn == "FIRST" else offs[-1])
            if this in members:
                return ref(col, ev_off)  # rep 0: candidate binds itself
            false.append(True)
            return "NULL"
        offs = bound.get(var, [])
        if var == this:
            # SQL running semantics: candidate row is the last row so far
            if fn == "LAST" or not offs:
                return ref(col, ev_off)
            return ref(col, offs[0])
        if not offs:
            false.append(True)
            return "NULL"
        return ref(col, offs[0] if fn == "FIRST" else offs[-1])

    def dotrepl(m: re.Match) -> str:
        var, col = m.group(1), m.group(2)
        if var == this or var.upper() == "THIS":
            return ref(col, ev_off)
        if var in subsets:  # bare U.col = LAST (Flink default)
            members = subsets[var]
            if this in members:
                return ref(col, ev_off)  # running: candidate is latest
            offs = union_offs(members)
            if offs:
                return ref(col, offs[-1])
            false.append(True)
            return "NULL"
        offs = bound.get(var)
        if offs is None:
            raise _Unlowerable(f"unknown variable {var}")
        if not offs:
            false.append(True)
            return "NULL"
        return ref(col, offs[-1])  # bare Var.col = Flink LAST default

    out = _sub_code(_DOTREF_RE, dotrepl, _sub_code(_FNREF_RE, fnrepl, sql_cond))
    if false:
        return None
    # validate: no stray identifiers survive (they would resolve against
    # the raw frame and silently change semantics)
    toks = lex(out).toks
    for t, nxt in zip(toks, (*toks[1:], None)):
        name = t.text
        if (t.kind != "word" or not (name[0].isalpha() or name[0] == "_")
                or (nxt is not None and nxt.text == "(")
                or name.upper() in _SQL_KEYWORDS or name.upper() == "INTERVAL"):
            continue
        raise _Unlowerable(f"unmapped identifier {name!r} in cross-variable DEFINE")
    return out


class _Unlowerable(Exception):
    pass


# --------------------------------------------------------------- tiers


def eligible_tier(states, horizon_s: int, skip: str) -> str | None:
    """Which lowering applies to this pattern (None → NFA fold)."""
    if len({s.name for s in states}) != len(states):
        return None
    if any(not getattr(s, "greedy", True) for s in states):
        return None  # reluctant quantifiers: backtracking fold only
    if states[0].min_count == 0:
        return None  # leading-optional starts: fold only (the tier-A
        # first-range max(1, ·) cannot represent a skipped first state)
    if any(getattr(s, "neg_cond", None) is not None for s in states):
        return None  # negative edge guards: fold only
    if any(getattr(s, "until_cond", None)
           or getattr(s, "any_in", False)
           or getattr(s, "combinations", False)
           for s in states):
        # emit-all pair shape: A followedByAny B, both single-count and
        # row-local — the match set IS the horizon-bounded (A, later B)
        # pair set, i.e. a relational range self-join (tier E).  Any
        # other until/any/combinations shape stays on the fold.
        if (
            len(states) == 2
            and getattr(states[1], "any_in", False)
            and skip == "no_skip"
            and all(
                s.min_count == s.max_count == 1
                and s.py_cond is None
                and not getattr(s, "alts", ())
                and not getattr(s, "combinations", False)
                and not getattr(s, "until_cond", None)
                and s.neg_cond is None
                for s in states
            )
            and not states[1].strict_in
        ):
            return "E"
        return None  # fold only (emit-all breaks one-match-per-start)
    has_alts = any(getattr(s, "alts", ()) for s in states)
    if has_alts:
        # Alternation lowers in tier A only, and only fully row-local:
        # the state matches when ANY alternative's flag holds (span is
        # alternative-independent) and the per-offset label is a CASE
        # in ``|`` priority order — exactly both folds' leftmost
        # preference.  Cross-variable conditions could make the CHOICE
        # span-relevant, so they stay fold-only.
        if any(s.py_cond is not None for s in states) or any(
                a[2] is not None for s in states
                for a in getattr(s, "alts", ())):
            return None
        names = [s.name for s in states] + [
            a[0] for s in states for a in getattr(s, "alts", ())]
        if len(set(names)) != len(names):
            return None
    unbounded = horizon_s >= _UNBOUNDED_S
    s0 = states[0]
    contiguous = all(s.strict_in for s in states[1:])
    multirep_consecutive = all(
        s.consecutive for s in states if s.max_count is None or s.max_count > 1
    )
    conds_lowerable = all(s.py_cond is None or s.sql_cond is not None for s in states)
    last = states[-1]
    if last.min_count < 1:
        return None  # _check() rejects these anyway
    # greedy quantified FINAL state (round 11): bounded+consecutive
    # lowers in tier A under no_skip/to_next (the vector enumeration's
    # greedy-consistency negation extends to the row after the match);
    # unbounded (B+) finals and skip-pruning modes stay on the fold.
    qfinal = last.min_count != last.max_count

    if contiguous and multirep_consecutive and conds_lowerable:
        if all(s.max_count is not None for s in states):
            total = sum(s.max_count for s in states)
            nvec = 1
            for i, s in enumerate(states):
                lo = max(1, s.min_count) if i == 0 else s.min_count
                nvec *= s.max_count - lo + 1
            if total <= _MAX_LEN and nvec <= _MAX_VECTORS:
                mode, _, svar = skip.partition(":")
                if mode in ("no_skip", "to_next"):
                    return "A"
                if qfinal:
                    # skip-pruning modes over variable-length matches:
                    # the prune lattice shifts with the match end — fold
                    return None
                # single-row matches are emitted by the fold's start
                # block, which no skip strategy touches
                if len(states) == 1 and s0.min_count == s0.max_count == 1:
                    return "A"
                if len(states) == 1:
                    # homogeneous run D{n}, n >= 2
                    if mode == "to_first" or (mode == "to_last" and svar != s0.name):
                        # ref = match start / absent var → prunes nothing;
                        # every live partial is younger than the emitting
                        # match, so this is no_skip
                        return "A"
                    if mode in ("past_last", "to_last"):
                        if unbounded and s0.consecutive \
                                and s0.py_cond is None and not has_alts:
                            return "B"
                    return None
                if mode == "past_last":
                    def units(s):
                        # every alternative contributes a literal set;
                        # a contradiction proof must hold for ALL pairs
                        return [_state_literals(s)] + [
                            _literal_conjuncts(a[1], this=a[0])
                            for a in getattr(s, "alts", ())
                        ]

                    if s0.max_count == 1 and all(
                        _contradictory(ua, ub)
                        for s in states[1:]
                        for ua in units(s0)
                        for ub in units(s)
                    ):
                        return "A"
            return None
        # unbounded first state, fixed {1} tail → frontier.  A bounded
        # WITHIN is fine: expiry is monotone in event time, so the
        # surviving run prefix at completion is exactly the rows within
        # horizon of the tail end — a filter over the run group.
        if (
            len(states) >= 2
            and s0.max_count is None
            and s0.consecutive
            and all(s.min_count == s.max_count == 1 for s in states[1:])
            and all(s.py_cond is None for s in states)
            and skip == "past_last"
        ):
            lit0 = _state_literals(s0)
            if not has_alts and all(
                    _contradictory(lit0, _state_literals(s))
                    for s in states[1:]):
                return "C"
        return None

    # relaxed funnel: consecutive block, then a chain of segments —
    # each (optionals, required) with at most TWO optionals per
    # segment, literals free to overlap (round 6).  One (key, event_id)
    # equi-join per segment after the first, plus up to two hop joins
    # per union-resolved segment (see _lower_funnel's mode table).
    # Three adjacent optionals remain fold-only.
    if (
        len(states) >= 2
        and s0.min_count == s0.max_count
        and s0.min_count >= 1
        and (s0.min_count == 1 or s0.consecutive)
        and all(not s.strict_in for s in states[1:])
        and all(s.max_count == 1 for s in states[1:])
        and all(s.py_cond is None for s in states)
        and skip in ("no_skip", "to_next")
        and len(states[1:]) <= 5
        and states[-1].min_count == 1
    ):
        if not has_alts and _segments_of(states[1:]) is not None:
            return "D"
    return None


def _segments_of(tail) -> list[tuple[tuple, object]] | None:
    """Parse a relaxed tail into (optionals-tuple, required) segments;
    None for >2 adjacent optionals (three-deep rebinding chains stay
    fold-only) or a trailing optional (the NFA surface rejects those
    patterns anyway — a match must end on a required state)."""
    segs = []
    pending: list = []
    for s in tail:
        if s.min_count == 0:
            if len(pending) >= 2:
                return None
            pending.append(s)
        else:
            segs.append((tuple(pending), s))
            pending = []
    return None if pending else segs


def _seg_mode(opts, req) -> str:
    """Resolution strategy for one segment (see _lower_funnel)."""
    if not opts:
        return "plain"
    if len(opts) == 1:
        if _contradictory(_state_literals(opts[0]), _state_literals(req)):
            return "cmp"
        return "uni1"
    return "uni2"


def try_lower_batch(
    flagged: DataFrame,
    states,
    key: str,
    value_cols: tuple[str, ...],
    horizon_s: int,
    skip: str,
    backtrack: bool = False,
    groups=(),
    subsets: dict[str, tuple[str, ...]] | None = None,
) -> DataFrame | None:
    if groups:
        # Group patterns lower ONLY through the bounded unrolled path
        # (tier A analogue) under backtracking semantics
        if not backtrack or not _groups_lowerable(states, groups, skip):
            return None
        try:
            return _lower_fixed_groups(
                flagged, states, key, value_cols, horizon_s, groups)
        except _Unlowerable:
            return None
    tier = eligible_tier(states, horizon_s, skip)
    if tier is None:
        return None
    if backtrack and tier not in ("A", "E"):
        return None  # tiers B-D encode deterministic-greedy semantics
    try:
        if tier == "A":
            return _lower_fixed(flagged, states, key, value_cols, horizon_s,
                                backtrack=backtrack, subsets=subsets)
        if tier == "E":
            return _lower_any_pair(flagged, states, key, horizon_s)
        if tier == "B":
            return _lower_run(flagged, states[0], key, skip.partition(":")[0])
        if tier == "C":
            return _lower_plus_tail(flagged, states, key, horizon_s)
        return _lower_funnel(flagged, states, key, horizon_s)
    except _Unlowerable:
        return None


def _groups_lowerable(states, groups, skip: str) -> bool:
    """Bounded group patterns unroll into tier-A count vectors when:

    - skip is no_skip/to_next (past_last would need a no-overlap proof,
      which the group's own repeated start state defeats: an interior
      loop row can always start another match);
    - everything is strict/consecutive and row-local (regex shape);
    - each group is bounded with a STRICT loop-back edge, and either
      its repetition count is fixed or its member states are fixed
      (so the regex decision sequence flattens positionally).
    """
    if skip.partition(":")[0] not in ("no_skip", "to_next"):
        return False
    if states[0].min_count == 0:
        return False
    if any(s.py_cond is not None
           or getattr(s, "neg_cond", None) is not None
           or getattr(s, "until_cond", None)
           or getattr(s, "any_in", False)
           or getattr(s, "combinations", False)
           or any(a[2] is not None for a in getattr(s, "alts", ()))
           for s in states):
        return False
    if not all(s.strict_in for s in states[1:]):
        return False
    if not all(s.consecutive for s in states
               if s.max_count is None or s.max_count > 1):
        return False
    if any(s.max_count is None for s in states):
        return False
    names = [s.name for s in states] + [
        a[0] for s in states for a in getattr(s, "alts", ())]
    if len(set(names)) != len(names):
        return False
    for gs, ge, gmn, gmx, _gg in groups:
        if gmx is None:
            return False
        if not states[gs].strict_in:
            return False  # relaxed loop-back: fold-only
        if gmn != gmx and any(
                states[i].min_count != states[i].max_count
                for i in range(gs, ge + 1)):
            return False  # interleaved decisions: fold-only
    return True


def _lower_fixed_groups(
    flagged: DataFrame, states, key: str, value_cols, horizon_s: int,
    groups,
) -> DataFrame:
    """Unrolled tier A for bounded group patterns (backtracking mode):
    every (group repetition count, per-occurrence state count)
    assignment becomes one branch; branches are ordered by the
    flattened regex decision sequence (greedy prefers more, reluctant
    fewer, positionally left-to-right) and resolved by a first-match
    CASE — exactly the branching fold's preference."""
    leads = _Leads()
    n = len(states)
    gmap = {g[0]: tuple(g) for g in groups}
    elements: list[tuple] = []
    i = 0
    while i < n:
        if i in gmap:
            elements.append(("g",) + gmap[i])
            i = gmap[i][1] + 1
        else:
            elements.append(("s", i))
            i += 1

    def counts(i: int) -> range:
        return range(states[i].min_count, states[i].max_count + 1)

    def element_options(el) -> list[tuple[tuple, list[tuple[int, int]]]]:
        if el[0] == "s":
            i = el[1]
            return [
                ((-c if states[i].greedy else c,), [(i, c)])
                for c in counts(i)
            ]
        _, gs, ge, gmn, gmx, gg = el
        inner = list(range(gs, ge + 1))
        opts = []
        for reps in range(gmn, gmx + 1):
            per_pos = [list(counts(i)) for _ in range(reps) for i in inner]
            for combo in itertools.product(*per_pos):
                positions: list[tuple[int, int]] = []
                kp = [-reps if gg else reps]
                it = iter(combo)
                for _ in range(reps):
                    for i in inner:
                        c = next(it)
                        positions.append((i, c))
                        kp.append(-c if states[i].greedy else c)
                opts.append((tuple(kp), positions))
        return opts

    all_opts = [element_options(el) for el in elements]
    nbranch = 1
    for o in all_opts:
        nbranch *= len(o)
    if nbranch > _MAX_VECTORS:
        raise _Unlowerable(f"{nbranch} unrolled branches > cap")

    def alt_or(i: int, off: int) -> str:
        alts = getattr(states[i], "alts", ())
        refs = [leads.ref(f"f{i}", off)] + [
            leads.ref(f"f{i}x{k}", off) for k in range(len(alts))
        ]
        return "(" + " OR ".join(refs) + ")" if alts else refs[0]

    def label_at(i: int, off: int) -> str:
        alts = getattr(states[i], "alts", ())
        if not alts:
            return f"'{states[i].name}'"
        whens = [f"WHEN {leads.ref(f'f{i}', off)} THEN '{states[i].name}'"]
        whens += [
            f"WHEN {leads.ref(f'f{i}x{k}', off)} THEN '{a[0]}'"
            for k, a in enumerate(alts)
        ]
        return "CASE " + " ".join(whens) + " END"

    raw = []
    for combo in itertools.product(*all_opts):
        sort_key = tuple(x for kp, _ in combo for x in kp)
        positions = [p for _, ps in combo for p in ps]
        raw.append((sort_key, positions))
    raw.sort(key=lambda t: t[0])

    branches: list[tuple[str, dict]] = []
    for _, positions in raw:
        L = sum(c for _, c in positions)
        if L > _MAX_LEN:
            raise _Unlowerable(f"unrolled length {L} > cap")
        if L == 0:
            continue
        conds, labels, off = [], [], 0
        for i, c in positions:
            for _ in range(c):
                conds.append(alt_or(i, off))
                labels.append(label_at(i, off))
                off += 1
        if horizon_s < _UNBOUNDED_S and L > 1:
            conds.append(
                f"{leads.ref('ts', L - 1)} <= ts + INTERVAL {horizon_s} SECOND"
            )
        ids = ", ".join(leads.ref("event_id", o) for o in range(L))
        tss = ", ".join(leads.ref("ts", o) for o in range(L))
        branches.append((
            " AND ".join(f"({c})" for c in conds),
            {
                "end_ts": leads.ref("ts", L - 1),
                "labels": f"array({', '.join(labels)})",
                "ids": f"array({ids})",
                "tss": f"array({tss})",
            },
        ))
    if not branches:
        raise _Unlowerable("no live unrolled branches")
    w = Window.partitionBy(key).orderBy("ts", "event_id")
    enriched = leads.attach(flagged, w)
    any_cond = " OR ".join(f"({c})" for c, _ in branches)
    out = enriched.filter(F.expr(any_cond))
    return _out_select(
        out,
        key,
        {
            "start_ts": "ts",
            "end_ts": _case([(c, e["end_ts"]) for c, e in branches]),
            "labels": _case([(c, e["labels"]) for c, e in branches]),
            "ids": _case([(c, e["ids"]) for c, e in branches]),
            "tss": _case([(c, e["tss"]) for c, e in branches]),
        },
    )


def _out_select(
    df: DataFrame, key: str, exprs: dict[str, str], out_key: str | None = None
) -> DataFrame:
    return df.select(
        F.col(key).alias(out_key or key),
        F.expr(exprs["start_ts"]).alias("start_ts"),
        F.expr(exprs["end_ts"]).alias("end_ts"),
        F.expr(exprs["labels"]).alias("labels"),
        F.expr(exprs["ids"]).alias("ids"),
        F.expr(exprs["tss"]).alias("tss"),
    )


def _case(branches: list[tuple[str, str]]) -> str:
    if len(branches) == 1:
        return branches[0][1]
    arms = " ".join(f"WHEN {c} THEN {e}" for c, e in branches)
    return f"CASE {arms} END"


def _lower_fixed(
    flagged: DataFrame, states, key: str, value_cols, horizon_s: int,
    backtrack: bool = False,
    subsets: dict[str, tuple[str, ...]] | None = None,
) -> DataFrame:
    """Tier A: enumerate count vectors over lead() columns.

    Deterministic-greedy mode (default): each vector carries
    greedy-consistency NEGATIONS (the next extension / the skipped
    optional must NOT have matched), making vectors mutually exclusive
    — the fold's one-path semantics.

    Backtracking mode: negations are dropped and the CASE tries
    vectors in DESCENDING lexicographic count order (prefer more rows
    in earlier states — the regex-greedy allocation, reluctant states
    ascending) so the first satisfiable allocation wins, exactly the
    branching fold's resolution (equivalence-tested)."""
    leads = _Leads()
    n = len(states)
    ranges = [
        range(max(1, s.min_count) if i == 0 else s.min_count, s.max_count + 1)
        for i, s in enumerate(states)
    ]

    def full_cond(i: int, off: int, bound: dict[str, list[int]]) -> str | None:
        s = states[i]
        if s.py_cond is None:
            alts = getattr(s, "alts", ())
            if alts:  # the state matches when ANY alternative does
                refs = [leads.ref(f"f{i}", off)] + [
                    leads.ref(f"f{i}x{k}", off) for k in range(len(alts))
                ]
                return "(" + " OR ".join(refs) + ")"
            return leads.ref(f"f{i}", off)
        return _instantiate(
            s.sql_cond, s.name, off, bound, leads, value_cols, subsets)

    def label_at(i: int, off: int) -> str:
        """Per-offset label: the literal state name, or — for an
        alternation group — a CASE in ``|`` priority order (the folds'
        leftmost-alternative preference)."""
        alts = getattr(states[i], "alts", ())
        if not alts:
            return f"'{states[i].name}'"
        whens = [f"WHEN {leads.ref(f'f{i}', off)} THEN '{states[i].name}'"]
        whens += [
            f"WHEN {leads.ref(f'f{i}x{k}', off)} THEN '{a[0]}'"
            for k, a in enumerate(alts)
        ]
        return "CASE " + " ".join(whens) + " END"

    branches: list[tuple[tuple, str, dict]] = []
    for vec in itertools.product(*ranges):
        offsets: list[list[int]] = []
        pos = 0
        for cnt in vec:
            offsets.append(list(range(pos, pos + cnt)))
            pos += cnt
        L = pos
        conds: list[str] = []
        dead = False

        def bound_before(off: int) -> dict[str, list[int]]:
            return {
                states[i].name: [o for o in offsets[i] if o < off] for i in range(n)
            }

        # state conditions at their assigned offsets
        for i in range(n):
            for o in offsets[i]:
                c = full_cond(i, o, bound_before(o))
                if c is None:
                    dead = True
                    break
                conds.append(c)
            if dead:
                break
        if dead:
            continue
        # greedy-consistency negations (deterministic mode only) —
        # including the FINAL state (round 11): a quantified final at
        # count < max is the match only if the row after it does not
        # extend the run (missing row ⇒ lead() NULL ⇒ closes, matching
        # the batch finalize); under a bounded WITHIN a breaking row
        # beyond the horizon ALSO closes (the fold's expiry completion),
        # so the negated extension must be within-horizon to count.
        for i in range(n) if not backtrack else ():
            if not offsets[i]:
                # skipped optional: must fail where the next state matched
                p = next(offsets[j][0] for j in range(i + 1, n) if offsets[j])
                c = full_cond(i, p, bound_before(p))
                if c is not None:
                    conds.append(f"NOT coalesce({c}, false)")
                continue
            if vec[i] < states[i].max_count:
                p = offsets[i][-1] + 1  # the row after this state's run
                c = full_cond(i, p, bound_before(p))
                if c is not None:
                    if i == n - 1 and horizon_s < _UNBOUNDED_S:
                        c = (f"({c}) AND {leads.ref('ts', p)} <= "
                             f"ts + INTERVAL {horizon_s} SECOND")
                    conds.append(f"NOT coalesce({c}, false)")
        if horizon_s < _UNBOUNDED_S and L > 1:
            conds.append(
                f"{leads.ref('ts', L - 1)} <= ts + INTERVAL {horizon_s} SECOND"
            )
        labels = ", ".join(
            label_at(i, o) for i in range(n) for o in offsets[i]
        )
        ids = ", ".join(leads.ref("event_id", o) for o in range(L))
        tss = ", ".join(leads.ref("ts", o) for o in range(L))
        branches.append(
            (
                vec,
                " AND ".join(f"({c})" for c in conds),
                {
                    "end_ts": leads.ref("ts", L - 1),
                    "labels": f"array({labels})",
                    "ids": f"array({ids})",
                    "tss": f"array({tss})",
                },
            )
        )
    if not branches:
        raise _Unlowerable("all count vectors statically dead")
    if backtrack:
        # regex preference: greedy states want MORE rows (descending),
        # reluctant states fewer (ascending) — lexicographic by state
        branches.sort(key=lambda b: tuple(
            -c if states[i].greedy else c for i, c in enumerate(b[0])))
    branches = [(c, e) for _, c, e in branches]
    w = Window.partitionBy(key).orderBy("ts", "event_id")
    enriched = leads.attach(flagged, w)
    any_cond = " OR ".join(f"({c})" for c, _ in branches)
    out = enriched.filter(F.expr(any_cond))
    return _out_select(
        out,
        key,
        {
            "start_ts": "ts",
            "end_ts": _case([(c, e["end_ts"]) for c, e in branches]),
            "labels": _case([(c, e["labels"]) for c, e in branches]),
            "ids": _case([(c, e["ids"]) for c, e in branches]),
            "tss": _case([(c, e["tss"]) for c, e in branches]),
        },
    )


def _lower_any_pair(
    flagged: DataFrame, states, key: str, horizon_s: int
) -> DataFrame:
    """Tier E: ``A followedByAny B`` (both {1}, row-local, NO_SKIP) —
    Flink SKIP_TILL_ANY emits EVERY (A, later-B-within-horizon) pair,
    which is exactly a horizon-bounded range self-join: no Python, no
    branch fan-out, per-key join width bounded by the WITHIN horizon
    (the same bound that caps the fold's branch pool)."""
    # flagged feeds BOTH sides of the self-join — without the lazy
    # checkpoint Catalyst executes the events scan + flag projection
    # once per side (round 15; VERDICT r14 next #5: events must be
    # scanned once in the lowered plans)
    flagged = flagged.localCheckpoint(eager=False)
    a = flagged.filter("f0").select(
        F.col(key).alias("__k"),
        F.col("ts").alias("__a_ts"),
        F.col("event_id").alias("__a_id"),
    )
    b = flagged.filter("f1").select(
        F.col(key).alias("__k2"),
        F.col("ts").alias("__b_ts"),
        F.col("event_id").alias("__b_id"),
    )
    cond = (
        (a["__k"] == b["__k2"])
        & (
            (b["__b_ts"] > a["__a_ts"])
            | ((b["__b_ts"] == a["__a_ts"]) & (b["__b_id"] > a["__a_id"]))
        )
    )
    if horizon_s < _UNBOUNDED_S:
        cond = cond & (
            b["__b_ts"] <= a["__a_ts"] + F.expr(
                f"INTERVAL {horizon_s} SECOND")
        )
    la, lb = states[0].name, states[1].name
    return (
        a.join(b, cond)
        .select(
            F.col("__k").alias(key),
            F.col("__a_ts").alias("start_ts"),
            F.col("__b_ts").alias("end_ts"),
            F.expr(f"array('{la}', '{lb}')").alias("labels"),
            F.array("__a_id", "__b_id").alias("ids"),
            F.array("__a_ts", "__b_ts").alias("tss"),
        )
    )


def _lower_run(flagged: DataFrame, s0, key: str, mode: str = "past_last") -> DataFrame:
    """Tier B: D{n} homogeneous runs — islands of the flag.  Under
    past_last the fold emits matches ending at run ordinals n, 2n, …;
    under to_last:<D> the next partial restarts AT the previous match's
    last row, so ends fall at n, n+(n-1), n+2(n-1), …"""
    n = s0.min_count
    w = Window.partitionBy(key).orderBy("ts", "event_id")
    d = flagged.withColumn("_rn", F.row_number().over(w)).filter("f0")
    wf = Window.partitionBy(key).orderBy("_rn")
    d = d.withColumn("_island", F.col("_rn") - F.row_number().over(wf))
    wi = Window.partitionBy(key, "_island").orderBy("_rn")
    d = d.withColumn("_k", F.row_number().over(wi)).select(
        "*",
        *[F.lag(c, i).over(wi).alias(f"_G_{c}_{i}") for c in ("event_id", "ts") for i in range(1, n)],
    )
    if mode == "past_last":
        d = d.filter(F.col("_k") % n == 0)
    else:  # to_last: stride n-1 from the first full window
        d = d.filter((F.col("_k") >= n) & ((F.col("_k") - n) % (n - 1) == 0))
    ids = ", ".join(
        [f"`_G_event_id_{i}`" for i in range(n - 1, 0, -1)] + ["`event_id`"]
    )
    tss = ", ".join([f"`_G_ts_{i}`" for i in range(n - 1, 0, -1)] + ["`ts`"])
    labels = ", ".join(f"'{s0.name}'" for _ in range(n))
    return _out_select(
        d,
        key,
        {
            "start_ts": f"`_G_ts_{n - 1}`",
            "end_ts": "ts",
            "labels": f"array({labels})",
            "ids": f"array({ids})",
            "tss": f"array({tss})",
        },
    )


def _lower_plus_tail(
    flagged: DataFrame, states, key: str, horizon_s: int = _UNBOUNDED_S
) -> DataFrame:
    """Tier C: V{m,} T1..Tk past_last — frontier of the last non-V row
    delimits maximal V-runs; the tail is checked by lead() at the first
    row after the run; arrays come from one bounded groupBy per run.
    Under a bounded WITHIN, the fold's expiry leaves exactly the run
    rows within horizon of the tail end (the oldest surviving partial
    wins), so the match prefix is a filter over the run group."""
    s0, tail = states[0], states[1:]
    m = max(1, s0.min_count)
    k = len(tail)
    w = Window.partitionBy(key).orderBy("ts", "event_id")
    frontier = F.max(F.when(~F.col("f0"), F.struct("ts", "event_id"))).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    d = flagged.withColumn(
        "_fr_id", F.coalesce(frontier.getField("event_id"), F.lit(-1))
    )
    # d feeds both the run aggregation and the tail-candidate stream —
    # checkpoint so the events scan + flag/frontier window runs once
    # (round 15; VERDICT r14 next #5)
    d = d.localCheckpoint(eager=False)
    runs = d.filter("f0").groupBy(key, "_fr_id").agg(
        F.array_sort(F.collect_list(F.struct("ts", "event_id"))).alias("_vrows0"),
    )
    leads = _Leads()
    tail_conds = [leads.ref(f"f{j + 1}", j) for j in range(k)]
    tail_ids = [leads.ref("event_id", j) for j in range(k)]
    tail_tss = [leads.ref("ts", j) for j in range(k)]
    cand = leads.attach(d, w).filter(
        F.expr(" AND ".join(f"({c})" for c in tail_conds))
    )
    j = cand.join(runs, on=[key, "_fr_id"])
    if horizon_s < _UNBOUNDED_S:
        # rows whose partial survived until the tail end
        j = j.withColumn(
            "_vrows",
            F.expr(
                f"filter(_vrows0, x -> x.ts >= {tail_tss[-1]} "
                f"- INTERVAL {horizon_s} SECOND)"
            ),
        )
    else:
        j = j.withColumn("_vrows", F.col("_vrows0"))
    j = j.filter(F.expr(f"size(_vrows) >= {m}"))
    tail_labels = ", ".join("'" + s.name + "'" for s in tail)
    labels = f"concat(transform(_vrows, x -> '{s0.name}'), array({tail_labels}))"
    return _out_select(
        j,
        key,
        {
            "start_ts": "element_at(_vrows, 1).ts",
            "end_ts": tail_tss[-1],
            "labels": labels,
            "ids": f"concat(transform(_vrows, x -> x.event_id), array({', '.join(tail_ids)}))",
            "tss": f"concat(transform(_vrows, x -> x.ts), array({', '.join(tail_tss)}))",
        },
    )


def _lower_funnel(flagged: DataFrame, states, key: str, horizon_s: int) -> DataFrame:
    """Tier D: A{n} block + relaxed segments, no_skip/to_next.

    The tail is a sequence of (optionals, required) segments, at most
    two optionals per segment.  Within a segment starting at position
    p, resolution follows the greedy NFA exactly, by mode
    (``_seg_mode``):

    - **plain** — required = first flag_r row after p (one
      next-occurrence struct, no join).
    - **cmp** — one optional whose literal contradicts the required's:
      the two separate next-occurrence structs compare directly (the
      optional binds iff its first occurrence precedes the required's;
      contradiction guarantees no event satisfies both, so the binding
      cannot move the required).  No join.
    - **uni1** — one optional, literals may overlap: the union
      next-occurrence struct (first event matching EITHER flag,
      carrying the optional's flag bit) decides the binding — greedy
      tries the optional first — and when the optional binds, the
      required re-resolves strictly after it via one keyed hop join.
    - **uni2** (round 6) — two adjacent optionals m1 m2: the first
      event matching any of the three flags binds the FIRST state in
      order whose flag it satisfies; each bound optional advances the
      position, so resolution chains through up to two hop joins
      (u-row → m2/req union, then m2-row → req).  No contradiction
      requirements — priority order subsumes them.

    The first segment reads its position structs via lead() at the
    match's start row; each later segment joins the previous required
    binding back to the per-row struct columns — one (key, event_id)
    equi-join per extra segment plus the per-mode hops.  No Python, no
    driver state; every stage is a keyed shuffle."""
    s0 = states[0]
    n = s0.min_count
    segs = _segments_of(states[1:])
    modes = [_seg_mode(opts, req) for opts, req in segs]
    w = Window.partitionBy(key).orderBy("ts", "event_id")
    wfol = w.rowsBetween(1, Window.unboundedFollowing)
    d = flagged
    nxt = {}  # state name -> per-row next-occurrence column
    for st in states[1:]:
        idx = states.index(st)
        cname = f"_nxt_{idx}"
        d = d.withColumn(
            cname,
            F.min(F.when(F.col(f"f{idx}"), F.struct("ts", "event_id"))).over(wfol),
        )
        nxt[st.name] = cname

    uni = {}   # optional name -> union-with-required column (om bit)
    uni3 = {}  # first-of-two-optionals name -> triple union column
    for (opts, req), mode in zip(segs, modes):
        ir = states.index(req)
        if mode in ("uni1", "uni2"):
            # union of the LAST optional with the required (the m2/req
            # lookup for uni2; the whole segment for uni1)
            o = opts[-1]
            io = states.index(o)
            cname = f"_uni_{io}"
            if o.name not in uni:
                d = d.withColumn(
                    cname,
                    F.min(
                        F.when(
                            F.col(f"f{io}") | F.col(f"f{ir}"),
                            F.struct(
                                "ts", "event_id", F.col(f"f{io}").alias("om")
                            ),
                        )
                    ).over(wfol),
                )
                uni[o.name] = cname
        if mode == "uni2":
            m1, m2 = opts
            i1, i2 = states.index(m1), states.index(m2)
            cname = f"_uni3_{i1}"
            d = d.withColumn(
                cname,
                F.min(
                    F.when(
                        F.col(f"f{i1}") | F.col(f"f{i2}") | F.col(f"f{ir}"),
                        F.struct(
                            "ts", "event_id",
                            F.col(f"f{i1}").alias("om1"),
                            F.col(f"f{i2}").alias("om2"),
                        ),
                    )
                ).over(wfol),
            )
            uni3[m1.name] = cname

    def _seg_pos_cols(opts, req, mode):
        """Columns a segment needs at its position row."""
        if mode == "plain":
            return [nxt[req.name]]
        if mode == "cmp":
            return [nxt[req.name], nxt[opts[0].name]]
        if mode == "uni1":
            return [uni[opts[0].name]]
        return [uni3[opts[0].name]]

    # d feeds the candidate stream AND hop_src for every per-segment
    # hop join — when any hop exists, checkpoint so the events scan +
    # flag/next-occurrence window pipeline runs once instead of once
    # per join instance (round 15; VERDICT r14 next #5)
    if len(segs) > 1 or modes[0] in ("uni1", "uni2"):
        d = d.localCheckpoint(eager=False)

    # hop source: every per-row column any later lookup may need
    hop_cols = {c for (opts, req), mode in zip(segs, modes)
                for c in _seg_pos_cols(opts, req, mode)}
    hop_cols |= {nxt[req.name] for (opts, req), mode in zip(segs, modes)
                 if mode in ("uni1", "uni2")}
    hop_cols |= {uni[opts[-1].name] for (opts, req), mode in zip(segs, modes)
                 if mode == "uni2"}
    hop_src = d.select(
        F.col(key).alias("_hk"),
        F.col("event_id").alias("_heid"),
        *[F.col(c).alias(f"_h{c}") for c in sorted(hop_cols)],
    )

    def _hop(cand: DataFrame, on_struct: str, cols: dict[str, str]) -> DataFrame:
        """Left-join hop_src at ``on_struct``'s row, fetching ``cols``
        (per-row column -> output alias)."""
        sel = ["_hk", "_heid"] + [F.col(f"_h{c}").alias(a) for c, a in cols.items()]
        return (
            cand.join(
                hop_src.select(*sel),
                (F.col("_k") == F.col("_hk"))
                & (F.col(f"{on_struct}.event_id") == F.col("_heid")),
                "left",
            )
            .drop("_hk", "_heid")
        )

    def _pos_struct(src: str) -> F.Column:
        return F.struct(
            F.col(f"{src}.ts").alias("ts"),
            F.col(f"{src}.event_id").alias("event_id"),
        )

    def _resolve_union1(cand: DataFrame, j: int, opt, req) -> DataFrame:
        """`_u{j}` (union struct at the segment position) → `_r{j}` /
        `_o{j}`: if the first union event satisfies the optional flag,
        the optional binds there and the required re-resolves strictly
        after it; otherwise that event IS the required."""
        cand = cand.filter(F.col(f"_u{j}").isNotNull())
        cand = _hop(cand, f"_u{j}", {nxt[req.name]: f"_ro{j}"})
        bound = F.col(f"_u{j}.om")
        return (
            cand.withColumn(
                f"_r{j}",
                F.when(bound, F.col(f"_ro{j}")).otherwise(_pos_struct(f"_u{j}")),
            )
            .withColumn(f"_o{j}", F.when(bound, _pos_struct(f"_u{j}")))
            .filter(F.col(f"_r{j}").isNotNull())
        )

    def _resolve_union2(cand: DataFrame, j: int, m1, m2, req) -> DataFrame:
        """Two adjacent optionals: `_u{j}` (triple union) decides the
        first binding by state order; bound optionals chain the lookup
        through `_v{j}` (m2/req union at the m1 row) and `_rb{j}`
        (required after the m2 row)."""
        cand = cand.filter(F.col(f"_u{j}").isNotNull())
        cand = _hop(
            cand, f"_u{j}",
            {uni[m2.name]: f"_v{j}", nxt[req.name]: f"_ra{j}"},
        )
        cand = _hop(cand, f"_v{j}", {nxt[req.name]: f"_rb{j}"})
        om1 = F.col(f"_u{j}.om1")
        om2_first = (~om1) & F.col(f"_u{j}.om2")
        v_om = F.col(f"_v{j}.om")  # null when no m2/req event after m1
        return (
            cand.withColumn(f"_oA{j}", F.when(om1, _pos_struct(f"_u{j}")))
            .withColumn(
                f"_oB{j}",
                F.when(om2_first, _pos_struct(f"_u{j}")).when(
                    om1 & v_om, _pos_struct(f"_v{j}")
                ),
            )
            .withColumn(
                f"_r{j}",
                F.when(
                    om1,
                    F.when(v_om, F.col(f"_rb{j}")).otherwise(
                        F.when(
                            F.col(f"_v{j}").isNotNull(), _pos_struct(f"_v{j}")
                        )
                    ),
                )
                .when(om2_first, F.col(f"_ra{j}"))
                .otherwise(_pos_struct(f"_u{j}")),
            )
            .filter(F.col(f"_r{j}").isNotNull())
        )

    def _resolve(cand: DataFrame, j: int, opts, req, mode: str) -> DataFrame:
        if mode == "uni1":
            return _resolve_union1(cand, j, opts[0], req)
        if mode == "uni2":
            return _resolve_union2(cand, j, opts[0], opts[1], req)
        return cand.filter(F.col(f"_r{j}").isNotNull())

    # segment 1: next-occurrence info shifted to the match's start row
    leads = _Leads()
    block_conds = [leads.ref("f0", o) for o in range(n)]
    block_ids = [F.expr(leads.ref("event_id", o)) for o in range(n)]
    block_tss = [F.expr(leads.ref("ts", o)) for o in range(n)]
    opts0, req0 = segs[0]
    seg1_cols = _seg_pos_cols(opts0, req0, modes[0])
    seg1_ref = {
        c: (leads.ref(c, n - 1) if n > 1 else f"`{c}`") for c in seg1_cols
    }
    if modes[0] in ("uni1", "uni2"):
        seg1_sel = [F.expr(seg1_ref[seg1_cols[0]]).alias("_u1")]
    else:
        seg1_sel = [F.expr(seg1_ref[nxt[req0.name]]).alias("_r1")] + (
            [F.expr(seg1_ref[nxt[opts0[0].name]]).alias("_o1")] if opts0 else []
        )
    cand = (
        leads.attach(d, w)
        .filter(F.expr(" AND ".join(f"({c})" for c in block_conds)))
        .select(
            F.col(key).alias("_k"),
            F.col("ts").alias("_start_ts"),
            *[c.alias(f"_blk_id_{o}") for o, c in enumerate(block_ids)],
            *[c.alias(f"_blk_ts_{o}") for o, c in enumerate(block_tss)],
            *seg1_sel,
        )
    )
    cand = _resolve(cand, 1, opts0, req0, modes[0])

    # later segments: join the previous required binding to its row
    for j, (opts, req) in enumerate(segs[1:], start=2):
        mode = modes[j - 1]
        if mode in ("uni1", "uni2"):
            fetch = {_seg_pos_cols(opts, req, mode)[0]: f"_u{j}"}
        else:
            fetch = {nxt[req.name]: f"_r{j}"}
            if opts:
                fetch[nxt[opts[0].name]] = f"_o{j}"
        cand = _hop(cand, f"_r{j - 1}", fetch)
        cand = _resolve(cand, j, opts, req, mode)
    k_segs = len(segs)
    if horizon_s < _UNBOUNDED_S:
        cand = cand.filter(
            F.expr(f"`_r{k_segs}`.ts <= _start_ts + INTERVAL {horizon_s} SECOND")
        )

    # assemble match arrays: block + per-segment conditional pieces
    blk_labels = ", ".join(f"'{s0.name}'" for _ in range(n))
    lab_parts = [f"array({blk_labels})"]
    id_parts = ["array(" + ", ".join(f"`_blk_id_{o}`" for o in range(n)) + ")"]
    ts_parts = ["array(" + ", ".join(f"`_blk_ts_{o}`" for o in range(n)) + ")"]
    for j, ((opts, req), mode) in enumerate(zip(segs, modes), start=1):
        if mode == "plain":
            lab_parts.append(f"array('{req.name}')")
            id_parts.append(f"array(`_r{j}`.event_id)")
            ts_parts.append(f"array(`_r{j}`.ts)")
        elif mode in ("cmp", "uni1"):
            opt = opts[0]
            bound = f"(`_o{j}` IS NOT NULL AND `_o{j}` < `_r{j}`)"
            lab_parts.append(
                f"CASE WHEN {bound} THEN array('{opt.name}', '{req.name}') "
                f"ELSE array('{req.name}') END"
            )
            id_parts.append(
                f"CASE WHEN {bound} THEN array(`_o{j}`.event_id, `_r{j}`.event_id) "
                f"ELSE array(`_r{j}`.event_id) END"
            )
            ts_parts.append(
                f"CASE WHEN {bound} THEN array(`_o{j}`.ts, `_r{j}`.ts) "
                f"ELSE array(`_r{j}`.ts) END"
            )
        else:  # uni2
            m1, m2 = opts
            a, b = f"`_oA{j}` IS NOT NULL", f"`_oB{j}` IS NOT NULL"
            def _four(fa, fb, fr):
                return (
                    f"CASE WHEN {a} AND {b} THEN array({fa}, {fb}, {fr}) "
                    f"WHEN {a} THEN array({fa}, {fr}) "
                    f"WHEN {b} THEN array({fb}, {fr}) "
                    f"ELSE array({fr}) END"
                )
            lab_parts.append(_four(f"'{m1.name}'", f"'{m2.name}'", f"'{req.name}'"))
            id_parts.append(
                _four(f"`_oA{j}`.event_id", f"`_oB{j}`.event_id", f"`_r{j}`.event_id")
            )
            ts_parts.append(_four(f"`_oA{j}`.ts", f"`_oB{j}`.ts", f"`_r{j}`.ts"))

    def _concat(parts):
        return parts[0] if len(parts) == 1 else "concat(" + ", ".join(parts) + ")"

    return _out_select(
        cand,
        "_k",
        {
            "start_ts": "_start_ts",
            "end_ts": f"`_r{k_segs}`.ts",
            "labels": _concat(lab_parts),
            "ids": _concat(id_parts),
            "tss": _concat(ts_parts),
        },
        out_key=key,
    )

"""SQL MATCH_RECOGNIZE front door (SURVEY.md §3.11), lowering onto the
general CEP NFA (streaming/nfa.py).

Reference parity: Flink 1.11 lowers SQL MATCH_RECOGNIZE through
flink-table-planner-blink StreamExecMatch.scala onto the flink-cep NFA;
this module does the same lowering onto PatternSeq.  Supported subset
(the common Flink-SQL shape):

    SELECT * FROM <events_table> MATCH_RECOGNIZE (
        PARTITION BY <key>
        ORDER BY ts [, event_id]
        MEASURES <measure> AS <alias> [, ...]
        [ONE ROW PER MATCH]
        [AFTER MATCH SKIP PAST LAST ROW | AFTER MATCH SKIP TO NEXT ROW]
        PATTERN ( VAR[+|*|?|{n}|{n,}|{n,m}] ... )
        [WITHIN INTERVAL '<n>' <unit>]
        [SUBSET U = (A, B) [, ...]]
        DEFINE VAR AS <row-local condition> [, ...]
    )

SQL:2016 SUBSET (Calcite SqlMatchRecognize.subsetList): a union
variable U = (A, B) is navigable in MEASURES (FIRST/LAST/COUNT/
SUM/AVG/MIN/MAX over rows labeled with ANY member) and in DEFINE
(FIRST/LAST(U.col) — compiled to tuple-of-member fold navigation;
such DEFINEs stay fold-only, the tiered native lowerings have no
SQL twin for a union reference).

Measures: FIRST(V.col) / LAST(V.col) / V.col (= LAST, Flink's default
for ONE ROW PER MATCH) / COUNT(V.*) / MATCH_NUMBER() (per-partition
match ordinal, batch) / CLASSIFIER() (ALL ROWS PER MATCH only).
``ts`` and ``event_id`` come
straight from the match arrays; any other column is resolved with an
event_id equi-join back to the source table (matches are small relative
to the scanned events, so the join-back adds one shuffle of the match
set only — scale-safe at 100 TB).

Documented deltas (the NFA's deterministic-greedy contract):
- Cross-variable DEFINE conditions (``B.price > A.price``,
  ``C.v > LAST(A.v)`` — Flink IterativeCondition) are supported: the
  condition is compiled to a per-(event, partial) predicate evaluated
  inside the fold, with ``Var.col`` = LAST-bound row of that variable
  (Flink's SQL default).  Row-local conditions stay JVM-evaluated flag
  columns.  Referenced columns must be numeric/string/bool (state is
  JSON-serialized on the streaming backend); ``ts`` is not referenceable
  cross-variable (use event_id ordering or WITHIN).
- PREV(V.col[, n]) in DEFINE (row-relative navigation) lowers onto a
  ``lag(col, n) OVER (PARTITION BY key ORDER BY ts, event_id)``
  pre-pass — batch only, may only navigate the defining variable's own
  rows, and may not be mixed with cross-variable references in one
  DEFINE.
- Quantified variables are regex-greedy WITH backtracking when it can
  matter: patterns whose adjacent DEFINE conditions are not provably
  disjoint (literal-equality prover) run the branching NFA fold
  (``PatternSeq.with_backtracking`` — Flink [cep]nfa/NFA.java
  semantics: ``A+ B`` over rows satisfying both binds the maximal
  ``A+`` that still completes).  Provably-disjoint dispatch patterns
  (the event_type funnels) keep the deterministic-greedy mode, where
  the two semantics coincide and the native lowerings apply; the
  ``backtracking`` argument overrides the auto-detection either way.
- The last pattern variable must be exactly quantified ({n} or bare),
  as completion is emitted the moment it is satisfied (same restriction
  Flink documents for greedy-final-variable).
- ALL ROWS PER MATCH emits one row per matched event (key, event_id,
  ts, classifier + measures); bare measures use FINAL semantics (delta:
  the SQL/Flink default there is RUNNING), and an explicit ``RUNNING``
  prefix gives per-row prefix semantics for FIRST/LAST(V.ts|event_id)
  and COUNT(V.*).  Echoed input columns beyond ts/event_id come from
  the caller joining back on event_id.
- AFTER MATCH SKIP supports PAST LAST ROW, TO NEXT ROW, and
  TO FIRST/LAST <VAR> (Flink AfterMatchSkipStrategy): partials whose
  start precedes the first/last VAR event of an emitted match are
  pruned; a match with no VAR row prunes nothing (delta from Flink's
  optional throw-on-miss).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog
from ..sql_lex import lex
from ..streaming import nfa

_MR_RE = re.compile(
    r"SELECT\s+\*\s+FROM\s+(?P<table>\w+)\s+MATCH_RECOGNIZE\s*"
    r"\((?P<body>.*)\)\s*(?:AS\s+\w+)?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_CLAUSE_RE = re.compile(
    r"PARTITION\s+BY\s+(?P<key>\w+(?:\s*,\s*\w+)*?)\s+"
    r"ORDER\s+BY\s+(?P<order>[\w\s,]+?)\s+"
    r"MEASURES\s+(?P<measures>.*?)\s+"
    r"(?:(?P<permatch>ONE\s+ROW|ALL\s+ROWS)\s+PER\s+MATCH\s+)?"
    r"(?:AFTER\s+MATCH\s+SKIP\s+(?P<skip>PAST\s+LAST\s+ROW|TO\s+NEXT\s+ROW"
    r"|TO\s+FIRST\s+\w+|TO\s+LAST\s+\w+)\s+)?"
    r"PATTERN\s*\(\s*(?P<pattern>[^()]*(?:\([^()]*\)[^()]*)*?)\s*\)\s+"
    r"(?:WITHIN\s+INTERVAL\s+'(?P<within_n>\d+)'\s+(?P<within_unit>\w+)\s+)?"
    r"(?:SUBSET\s+(?P<subset>.*?)\s+)?"
    r"DEFINE\s+(?P<define>.*)$",
    re.IGNORECASE | re.DOTALL,
)

_QUANT_RE = re.compile(
    r"^(?P<var>\w+)(?P<q>[+*?]|\{\d+(?:,\d*)?\})?(?P<rel>\?)?$")

# one pattern token: an alternation group ``(A | B)``, a sequence
# group ``(A B+)``, or a bare variable — each followed by an optional
# quantifier (+ * ? {n,m}) and an optional reluctance marker
_PATTOK_RE = re.compile(
    r"\(\s*\w+[+*?]?\??(?:\s*(?:\|\s*)?\w+[+*?]?\??"
    r"|\s*(?:\|\s*)?\w+\{\d+(?:,\d*)?\}\??)*\s*\)"
    r"(?:[+*?]|\{\d+(?:,\d*)?\})?\??"
    r"|\w+(?:[+*?]|\{\d+(?:,\d*)?\})?\??"
)


def _parse_pattern(pattern: str) -> list[tuple]:
    """PATTERN body → one tuple per position:

    - ``("alt", [variables], min, max, greedy)`` — a plain token
      (one variable) or an alternation group ``(A | B)``
      (Calcite/SQL:2016 pattern alternation — each repetition matches
      ONE event via any alternative, labeled with that alternative's
      name);
    - ``("grp", [(var, mn, mx, greedy), ...], gmin, gmax, ggreedy)`` —
      a quantified SEQUENCE group ``(A B){2}`` (SQL:2016 grouped
      quantification; lowers onto the NFA's group loop-back edges).

    Mixing the two inside one group (``(A B | C)``) is unsupported
    (documented delta).
    """
    toks = _PATTOK_RE.findall(pattern)
    if "".join(toks).replace(" ", "") != re.sub(r"\s+", "", pattern):
        raise ValueError(f"unsupported PATTERN syntax: {pattern!r}")
    out = []
    for t in toks:
        if t.startswith("("):
            inner, _, quant = t.rpartition(")")
            inner = inner[1:].strip()
            _, lo, hi, greedy = _parse_quant("X" + quant)
            if "|" in inner:
                if any(q in inner for q in "+*?{"):
                    raise ValueError(
                        "quantifiers inside an alternation group are "
                        f"unsupported: {t!r}")
                names = [v.strip() for v in inner.split("|")]
                out.append(("alt", names, lo, hi, greedy))
                continue
            members = [_parse_quant(m) for m in inner.split()]
            if len(members) < 2:
                raise ValueError(
                    f"a pattern group needs >= 2 members: {t!r}")
            out.append(("grp", members, lo, hi, greedy))
        else:
            var, lo, hi, greedy = _parse_quant(t)
            out.append(("alt", [var], lo, hi, greedy))
    return out

_MEASURE_RE = re.compile(
    r"^(?:(?P<sem>RUNNING|FINAL)\s+)?"
    r"(?:(?P<fn>FIRST|LAST|COUNT|SUM|AVG|MIN|MAX)\s*\(\s*)?"
    r"(?P<var>\w+)\.(?P<col>\w+|\*)(?:\s*,\s*(?P<off>\d+))?\s*\)?"
    r"\s+AS\s+(?P<alias>\w+)$",
    re.IGNORECASE,
)


def _parse_quant(tok: str) -> tuple[str, int, int | None, bool]:
    """(var, min, max, greedy) — a trailing ``?`` AFTER a quantifier
    makes it reluctant (``A+?``/``A*?``/``A{1,3}?``; bare ``A?`` is the
    optional quantifier, greedy)."""
    m = _QUANT_RE.match(tok)
    if not m:
        raise ValueError(f"unsupported pattern token {tok!r}")
    var, q, rel = m.group("var"), m.group("q"), m.group("rel")
    greedy = rel is None
    if q is None:
        if rel is not None:  # `A?` lexes as q='?' — rel-only is invalid
            raise ValueError(f"unsupported pattern token {tok!r}")
        return var, 1, 1, True
    if q == "+":
        return var, 1, None, greedy
    if q == "*":
        return var, 0, None, greedy
    if q == "?":
        if rel is not None:
            return var, 0, 1, False  # `A??`: reluctant optional
        return var, 0, 1, True
    inner = q[1:-1]
    if "," in inner:
        lo, hi = inner.split(",")
        return var, int(lo), (int(hi) if hi else None), greedy
    if rel is not None:
        raise ValueError(f"exact {{n}} cannot be reluctant: {tok!r}")
    return var, int(inner), int(inner), True


def _row_local(cond: str, variables: list[str], this: str) -> str:
    """Strip ``THIS.`` prefixes of a row-local condition."""
    return re.sub(rf"\b{this}\.", "", cond)


_PREV_RE = re.compile(r"\bPREV\s*\(\s*(\w+)\.(\w+)(?:\s*,\s*(\d+))?\s*\)", re.IGNORECASE)

_FNREF_RE = re.compile(r"\b(FIRST|LAST)\s*\(\s*(\w+)\.(\w+)\s*\)", re.IGNORECASE)
_REF_RE = re.compile(r"\b([A-Za-z_]\w*)\.([A-Za-z_]\w*)\b")


def _xvar_refs(cond: str, variables: list[str], this: str) -> tuple[bool, set[str]]:
    """(needs-fold-evaluation, referenced value columns).

    Any FIRST/LAST(...) navigation — including same-variable forms like
    ``B AS B.value > FIRST(B.value)`` (a valid Flink IterativeCondition)
    — must go to the fold: the row-local path would strip it to an
    aggregate the flag projection cannot evaluate.
    """
    refs: set[tuple[str, str]] = set()
    has_nav = False
    for _fn, var, col in _FNREF_RE.findall(cond):
        refs.add((var, col))
        has_nav = True
    for var, col in _REF_RE.findall(cond):
        if var in variables:
            refs.add((var, col))
    cross = has_nav or any(v != this for v, _ in refs)
    return cross, {c for _, c in refs}


def _to_python(
    cond: str,
    variables: list[str],
    this: str,
    subsets: dict[str, tuple[str, ...]] | None = None,
) -> str:
    """Compile a cross-variable DEFINE to the NFA's Python predicate form
    (EV["col"] / FIRST("V","c") / LAST("V","c") — see State.py_cond).

    Same-variable navigation follows SQL MATCH_RECOGNIZE running
    semantics (the candidate row is the last row of the match prefix):
    ``LAST(B.c)`` inside DEFINE B is the current row; ``FIRST(B.c)`` is
    the first accepted B row, or the current row when none is bound yet.

    SQL:2016 SUBSET union variables compile to tuple-of-member
    navigation (``LAST(("A","B"),"c")`` — _bind_val matches any member
    label); ``LAST(U.c)`` inside the DEFINE of a member of U is the
    current row (running semantics: the candidate IS the latest U row).
    """
    subsets = subsets or {}

    def _member_tuple(members: tuple[str, ...]) -> str:
        inner = ", ".join(f'"{m}"' for m in members)
        return f'({inner},)' if len(members) == 1 else f'({inner})'

    def fnrepl(m: re.Match) -> str:
        fn, var, col = m.group(1).upper(), m.group(2), m.group(3)
        if var in subsets:
            if fn == "LAST" and this in subsets[var]:
                return f'EV["{col}"]'
            return f'{fn}({_member_tuple(subsets[var])},"{col}")'
        if var not in variables:
            raise ValueError(
                f"DEFINE {this}: {fn}({var}.{col}) references unknown "
                f"pattern variable {var!r} (known: {variables})"
            )
        if var == this and fn == "LAST":
            return f'EV["{col}"]'
        # same-var FIRST relies on the fold's py_cond v2 contract: an
        # unbound same-variable reference binds the current row (SQL
        # running semantics) — see streaming/nfa._py_cond_ok.
        return f'{fn}("{var}","{col}")'

    expr = _FNREF_RE.sub(fnrepl, cond)

    def repl(m: re.Match) -> str:
        var, col = m.group(1), m.group(2)
        if var == this or var.upper() == "THIS":
            return f'EV["{col}"]'
        if var in subsets:  # bare U.col = LAST (Flink default)
            if this in subsets[var]:
                return f'EV["{col}"]'
            return f'LAST({_member_tuple(subsets[var])},"{col}")'
        if var in variables:
            return f'LAST("{var}","{col}")'  # bare Var.col = Flink LAST default
        return m.group(0)

    expr = _REF_RE.sub(repl, expr)
    expr = expr.replace("<>", "!=")
    expr = re.sub(r"(?<![<>!=])=(?!=)", "==", expr)
    expr = re.sub(r"\bAND\b", "and", expr, flags=re.IGNORECASE)
    expr = re.sub(r"\bOR\b", "or", expr, flags=re.IGNORECASE)
    expr = re.sub(r"\bNOT\b", "not", expr, flags=re.IGNORECASE)
    # Compile-time guard: every dotted reference must have resolved to
    # EV/FIRST/LAST above.  A leftover ``X.col`` (alias not a pattern
    # variable) would otherwise surface as a bare NameError mid-fold on
    # an executor, with no query context.
    leftover = [
        f"{v}.{c}"
        for v, c in _REF_RE.findall(expr)
        if v not in ("EV",) and not v.isdigit()
    ]
    if leftover:
        raise ValueError(
            f"DEFINE {this}: unresolved reference(s) {leftover} — "
            f"known pattern variables: {variables}"
        )
    return expr


def _first_ts(label: str):
    return F.expr(f"get(tss, array_position(labels, '{label}') - 1)")


def _last_ts(label: str):
    return F.expr(
        "try_element_at(filter(arrays_zip(labels, tss), x -> x.labels = "
        f"'{label}'), -1).tss"
    )


def _needs_backtracking(states) -> bool:
    """True when the pattern admits an ambiguous transition — an event
    that could BOTH extend a quantified variable and advance (or enter
    more than one optional-skippable target) — and the involved DEFINE
    conditions are not PROVABLY disjoint (literal-equality conjunct
    check, the same prover the native lowering uses).  SQL
    MATCH_RECOGNIZE semantics are regex-greedy WITH backtracking
    (Flink [cep]nfa/NFA.java explores the fork), so such patterns run
    the branching fold; provably-disjoint dispatch patterns (the
    common event-type funnels) keep the deterministic-greedy mode and
    its native lowerings — for them the two semantics coincide."""
    from dataclasses import replace as _dc_replace

    from ..streaming.nfa_lowering import _contradictory, _state_literals

    # Each state contributes one condition unit per alternative (the
    # primary + any (A|B) alternation members); two states are disjoint
    # only if EVERY cross-pair of their units is.
    units: list[list] = []
    for s in states:
        u = [s]
        for nm, cond, pc in getattr(s, "alts", ()):
            u.append(_dc_replace(
                s, name=nm, cond=cond, py_cond=pc, sql_cond=None,
                alts=(),
            ))
        units.append(u)
    lits = [[_state_literals(u) for u in us] for us in units]
    rngs = [[_state_ranges(u) for u in us] for us in units]
    n = len(states)

    def disjoint(a: int, b: int) -> bool:
        for la, ra in zip(lits[a], rngs[a]):
            for lb, rb in zip(lits[b], rngs[b]):
                if not (_contradictory(la, lb) or _ranges_disjoint(ra, rb)):
                    return False
        return True

    # an event matching TWO alternatives of one state forks the
    # labeling even at {1} counts
    for i in range(n):
        us = units[i]
        for a in range(len(us)):
            for b in range(a + 1, len(us)):
                if not (_contradictory(lits[i][a], lits[i][b])
                        or _ranges_disjoint(rngs[i][a], rngs[i][b])):
                    return True

    for i in range(n):
        s = states[i]
        targets = []
        j = i + 1
        while j < n:
            targets.append(j)
            if states[j].min_count == 0:
                j += 1
                continue
            break
        pairs = []
        if s.max_count is None or s.max_count > s.min_count:
            pairs += [(i, t) for t in targets]  # extend-vs-advance fork
        pairs += [
            (t1, t2)
            for a, t1 in enumerate(targets)
            for t2 in targets[a + 1:]
        ]  # multi-target (optional) fork
        for a, b in pairs:
            if not disjoint(a, b):
                return True
    return False


_RANGE_RE = re.compile(
    r"^(?:(\w+)\.)?(\w+)\s*(<=|>=|<|>|=)\s*(-?\d+(?:\.\d+)?)$")


def _state_ranges(s) -> dict[str, tuple]:
    """``col -> (lo, lo_incl, hi, hi_incl)`` intervals proven by
    top-level numeric-comparison conjuncts of the state's own row
    condition (``V.col OP number`` / bare refs) — the range twin of
    the literal-equality prover."""
    src = s.sql_cond if s.py_cond is not None else s.cond
    if src is None:
        return {}
    out: dict[str, tuple] = {}
    for part in lex(src).split("AND"):
        m = _RANGE_RE.match(part.strip())
        if not m:
            continue
        pre, col, op, num = m.groups()
        if pre is not None and pre != s.name and pre != "THIS":
            continue
        v = float(num)
        lo, lo_i, hi, hi_i = out.get(
            col, (float("-inf"), False, float("inf"), False))
        if op in (">", ">="):
            if v > lo or (v == lo and op == ">"):
                lo, lo_i = v, op == ">="
        elif op in ("<", "<="):
            if v < hi or (v == hi and op == "<"):
                hi, hi_i = v, op == "<="
        else:  # '=' pins both bounds
            if v > lo:
                lo, lo_i = v, True
            if v < hi:
                hi, hi_i = v, True
        out[col] = (lo, lo_i, hi, hi_i)
    return out


def _ranges_disjoint(a: dict[str, tuple], b: dict[str, tuple]) -> bool:
    """True when some shared column's proven intervals cannot
    intersect (conservative: unknown columns prove nothing)."""
    for col in set(a) & set(b):
        alo, alo_i, ahi, ahi_i = a[col]
        blo, blo_i, bhi, bhi_i = b[col]
        # a entirely below b?
        if ahi < blo or (ahi == blo and not (ahi_i and blo_i)):
            return True
        if bhi < alo or (bhi == alo and not (bhi_i and alo_i)):
            return True
    return False


_MR_KW_RE = re.compile(r"\bMATCH_RECOGNIZE\b", re.IGNORECASE)
_MR_TABLE_BEFORE_RE = re.compile(r"([A-Za-z_][\w.`]*)\s*$")
_MR_FACTOR_N = [0]

#: Temp views created by the LAST expand_mr_factors call.  The caller
#: (ddl.execute) drops them once the enclosing statement has been
#: analyzed — statement scope, so SHOW TABLES never surfaces them and a
#: failing statement doesn't leak session views.
last_factor_views: list[str] = []


def _leading_ctes(sql: str) -> list[tuple[str, str]]:
    """Parse a statement's leading WITH clause into ``(name, defs_text)``
    pairs where ``defs_text`` is every definition up to and including
    this one — enough context to evaluate a CTE that references earlier
    CTEs (``WITH a AS (...), b AS (SELECT * FROM a) ...``)."""
    m = re.match(r"^\s*WITH\s+", sql, re.IGNORECASE)
    if not m:
        return []
    out: list[tuple[str, str]] = []
    i = m.end()
    while True:
        nm = re.match(r"\s*([A-Za-z_]\w*)\s*(?:\([^)]*\)\s*)?AS\s*\(",
                      sql[i:], re.IGNORECASE)
        if not nm:
            return out
        name = nm.group(1)
        after = lex(sql).call(i + nm.end() - 1)[1] + 1
        out.append((name, sql[m.end():after].strip()))
        j = after
        while j < len(sql) and sql[j].isspace():
            j += 1
        if j < len(sql) and sql[j] == ",":
            i = j + 1
            continue
        return out


def expand_mr_factors(
    spark: SparkSession, sql: str, sf_dir: str | None = None
) -> str:
    """Rewrite every ``<table> MATCH_RECOGNIZE ( ... )`` TABLE FACTOR in
    a statement to a temp-view reference over the executed match.

    Flink/Calcite treat MATCH_RECOGNIZE as a table primary
    (``SqlMatchRecognize`` in the Calcite grammar;
    flink-table-planner-blink MatchRecognizeITCase composes it under
    aliases, projections, joins, CTE bodies and INSERT INTO) — not just
    the standalone ``SELECT * FROM t MATCH_RECOGNIZE (...)`` statement.
    Spark's parser has no such clause, so the factor is lowered here
    first: the match executes through :func:`match_recognize` (a LAZY
    DataFrame — the temp view splices the match plan into the enclosing
    statement, nothing materializes early), and the enclosing query runs
    natively with the view in the factor's place.  A trailing alias
    (``... ) AS m``) is untouched and binds to the spliced view.

    Same-statement CTE sources are supported: when the factor's table
    name matches a leading ``WITH`` definition, that CTE (with every
    earlier definition in scope for chained references) is evaluated to
    a DataFrame and the match runs over it directly — the enclosing
    statement keeps its WITH clause untouched.  Documented delta: a
    parenthesized subquery as the source still raises (register a view
    or lift it into a CTE first).  Keyword text inside string literals,
    comments and backtick identifiers is ignored (``sql_lex``).

    Created views are recorded in :data:`last_factor_views` (reset per
    call) so ``ddl.execute`` can drop them once the enclosing statement
    has been analyzed — they are statement-scoped, not session views.
    """
    del last_factor_views[:]
    # SQL identifiers are case-insensitive: key by lowercase so a
    # factor written SRC finds the CTE declared src
    ctes = {name.lower(): defs for name, defs in _leading_ctes(sql)}
    out = sql
    while True:
        lx = lex(out)
        kw = next((c for c in _MR_KW_RE.finditer(out) if lx.is_code(c.start())),
                  None)
        if kw is None:
            return out
        tb = _MR_TABLE_BEFORE_RE.search(out[: kw.start()])
        if not tb or tb.group(1).upper() in ("FROM", "JOIN", "AS", "ON"):
            raise ValueError(
                "MATCH_RECOGNIZE must follow a named table/view or "
                "same-statement CTE reference (parenthesized subquery "
                "sources are unsupported — lift the subquery into a CTE "
                "or register a view first)"
            )
        table = tb.group(1)
        i = kw.end()
        while i < len(out) and out[i].isspace():
            i += 1
        if i >= len(out) or out[i] != "(":
            raise ValueError("MATCH_RECOGNIZE must be followed by (...)")
        close = lx.call(i)[1]
        body, after = out[i + 1:close], close + 1
        view = f"__mr_factor_{_MR_FACTOR_N[0]}"
        _MR_FACTOR_N[0] += 1
        events = None
        if table.lower() in ctes:
            # evaluate the CTE (and its predecessors) out-of-line; the
            # match consumes the DataFrame, bypassing table resolution
            events = spark.sql(
                f"WITH {ctes[table.lower()]} SELECT * FROM {table}")
        df = match_recognize(
            spark, f"SELECT * FROM {table} MATCH_RECOGNIZE ({body})",
            sf_dir, events=events,
        )
        df.createOrReplaceTempView(view)
        last_factor_views.append(view)
        out = out[: tb.start(1)] + view + out[after:]


def match_recognize(
    spark: SparkSession,
    sql: str,
    sf_dir: str | None = None,
    events: DataFrame | None = None,
    backtracking: bool | None = None,
) -> DataFrame:
    """Parse and execute a MATCH_RECOGNIZE statement (subset above).

    Source resolution: explicit ``events`` DataFrame (streaming allowed —
    lowers onto the keyed-state NFA backend, mirroring Flink's
    StreamExecMatch), else ``catalog.load_table(sf_dir, <table>)``, else
    ``spark.table(<table>)``.
    """
    m = _MR_RE.match(sql.strip())
    if not m:
        raise ValueError("expected SELECT * FROM <table> MATCH_RECOGNIZE (...)")
    table, body = m.group("table"), m.group("body")
    c = _CLAUSE_RE.match(body.strip())
    if not c:
        raise ValueError("unparseable MATCH_RECOGNIZE body (see module doc)")
    all_rows = (c.group("permatch") or "ONE ROW").upper().startswith("ALL")

    keys = [k.strip() for k in c.group("key").split(",")]
    # Multi-column PARTITION BY (Flink/Calcite allow any key list):
    # lowered onto a synthesized composite key column — the NFA stack
    # keys on ONE column — and the component columns are joined back
    # onto the (small) match set afterwards.  Batch only: the stream
    # backend would need a stream-side mapping join.
    key = keys[0] if len(keys) == 1 else "__mr_key"
    order = [o.strip() for o in c.group("order").split(",")]
    if order not in (["ts"], ["ts", "event_id"]):
        raise ValueError("ORDER BY must be ts [, event_id] (NFA fold order)")

    # pattern → quantified variables / alternation / sequence groups
    seq = _parse_pattern(c.group("pattern"))
    variables = [
        v
        for kind, members, _, _, _ in seq
        for v in (members if kind == "alt" else [m[0] for m in members])
    ]
    if len(set(variables)) != len(variables):
        raise ValueError("repeated pattern variables are not supported")

    # SQL:2016 SUBSET — union pattern variables (Calcite grammar;
    # SqlMatchRecognize.subsetList): U = (A, B) makes U navigable in
    # MEASURES and DEFINE as "rows labeled with any member".
    subsets: dict[str, tuple[str, ...]] = {}
    if c.group("subset"):
        for part in lex(c.group("subset")).split(","):
            sm = re.match(r"^(\w+)\s*=\s*\(([\w\s,]*)\)$", part.strip())
            if not sm:
                raise ValueError(f"unparseable SUBSET item {part!r}")
            uname = sm.group(1)
            members = tuple(
                v.strip() for v in sm.group(2).split(",") if v.strip()
            )
            if uname in variables or uname in subsets:
                raise ValueError(
                    f"SUBSET {uname} collides with a pattern variable or "
                    "an earlier subset"
                )
            bad = [m for m in members if m not in variables]
            if bad or not members:
                raise ValueError(
                    f"SUBSET {uname}: members {bad or '()'} are not "
                    f"pattern variables (known: {variables})"
                )
            subsets[uname] = members

    # defines → row-local (JVM flag) or cross-variable (fold predicate).
    # PREV(V.col[, n]) — Flink's row-relative navigation — substitutes a
    # lag() column computed JVM-side before the fold, so the condition
    # stays row-local (one extra window sort on the key partitioning the
    # NFA shuffles on anyway).
    defines: dict[str, str] = {}
    xconds: dict[str, tuple[str, tuple[str, ...], str]] = {}
    prev_cols: set[tuple[str, int]] = set()
    for d in lex(c.group("define")).split(","):
        dm = re.match(r"(?P<var>\w+)\s+AS\s+(?P<cond>.+)$", d, re.IGNORECASE | re.DOTALL)
        if not dm:
            raise ValueError(f"unparseable DEFINE {d!r}")
        var, cond = dm.group("var"), dm.group("cond").strip()

        def _subst_prev(m: re.Match) -> str:
            pvar, pcol, pn = m.group(1), m.group(2), int(m.group(3) or 1)
            if pvar != var:
                raise ValueError(
                    "PREV may only navigate the defining variable's own rows "
                    f"(PREV({pvar}.{pcol}) in DEFINE {var})"
                )
            prev_cols.add((pcol, pn))
            return f"_prev{pn}_{pcol}"

        had_prev = bool(_PREV_RE.search(cond))
        cond = _PREV_RE.sub(_subst_prev, cond)
        known = set(variables) | set(subsets)
        unknown = sorted(
            {
                f"{v}.{c}"
                for v, c in _REF_RE.findall(cond)
                if v not in known and v.upper() != "THIS"
            }
        )
        if unknown:
            raise ValueError(
                f"DEFINE {var}: reference(s) {unknown} do not resolve to a "
                f"pattern variable (known: {sorted(known)})"
            )
        cross, cols = _xvar_refs(cond, sorted(known), var)
        if cross and had_prev:
            raise ValueError(
                f"DEFINE {var} mixes PREV with cross-variable references — "
                "unsupported (PREV is a row-local lag substitution)"
            )
        if cross:
            if "ts" in cols:
                raise ValueError(
                    "cross-variable DEFINE may not reference ts (JSON state); "
                    "bound event times are available as WITHIN/horizon"
                )
            defines[var] = "true"  # full predicate moves to the fold
            xconds[var] = (
                _to_python(cond, variables, var, subsets),
                tuple(sorted(cols)),
                # raw SQL feeds the native lowering's offset
                # instantiation.  SUBSET references resolve there too
                # (round 10): tier A maps FIRST/LAST/bare union-variable
                # navigation to the member offsets' union per branch
                # (with_subsets below); shapes the instantiation cannot
                # map (e.g. COUNT over a union) raise _Unlowerable and
                # fall back to the fold.
                cond,
            )
        else:
            defines[var] = _row_local(cond, variables, var)
    missing = [v for v in variables if v not in defines]
    if missing:
        raise ValueError(f"PATTERN variables with no DEFINE: {missing}")

    # lower onto PatternSeq: MATCH_RECOGNIZE concatenation is strict
    # row-contiguity → strict_in edges + consecutive repeats; an
    # alternation group's first variable is the state's primary, the
    # rest attach as .alt() alternatives (labels carry whichever
    # alternative matched each repetition)
    def _attach(pat: nfa.PatternSeq, names: list[str]) -> nfa.PatternSeq:
        if names[0] in xconds:
            expr_v, cols_v, raw_v = xconds[names[0]]
            pat = pat.where_iterative(expr_v, *cols_v, sql_cond=raw_v)
        for nm in names[1:]:
            if nm in xconds:
                expr_a, cols_a, _raw = xconds[nm]
                pat = pat.alt(nm, defines[nm], expr_a, *cols_a)
            else:
                pat = pat.alt(nm, defines[nm])
        return pat

    def _seq_group(members) -> nfa.PatternSeq:
        """Build the sub-pattern of a quantified sequence group —
        strict edges and consecutive repeats like the outer pattern."""
        sub: nfa.PatternSeq | None = None
        for var, mn_, mx_, g_ in members:
            sub = (nfa.PatternSeq.begin(var, defines[var]) if sub is None
                   else sub.next_(var, defines[var]))
            sub = sub._mod_last(min_count=mn_, max_count=mx_,
                                consecutive=True, greedy=g_)
            sub = _attach(sub, [var])
        return sub

    pat: nfa.PatternSeq | None = None
    has_group = False
    for kind, members, lo, hi, greedy in seq:
        if kind == "grp":
            from dataclasses import replace as _dcr

            has_group = True
            sub = _seq_group(members)
            pat = (nfa.PatternSeq.begin_group(sub) if pat is None
                   else pat.next_group(sub))
            # MR concatenation is strict everywhere — including the
            # group's loop-back edge (gs.strict_in governs both)
            gs = pat.groups[-1][0]
            sts = list(pat.states)
            sts[gs] = _dcr(sts[gs], strict_in=True)
            pat = _dcr(pat, states=tuple(sts))
            pat = pat.times(lo, hi)
            if not greedy:
                pat = pat.reluctant()
            continue
        names = members
        pat = (nfa.PatternSeq.begin(names[0], defines[names[0]])
               if pat is None else pat.next_(names[0], defines[names[0]]))
        pat = pat._mod_last(min_count=lo, max_count=hi, consecutive=True,
                            greedy=greedy)
        pat = _attach(pat, names)
    skip_raw = c.group("skip") or "PAST LAST ROW"
    su = re.sub(r"\s+", " ", skip_raw.upper())
    if su.startswith("PAST"):
        strategy = "past_last"
    elif su.startswith("TO NEXT"):
        strategy = "to_next"
    else:
        sm = re.match(r"TO\s+(FIRST|LAST)\s+(\w+)", skip_raw, re.IGNORECASE)
        var = sm.group(2)
        if var not in variables:
            raise ValueError(
                f"AFTER MATCH SKIP TO {sm.group(1).upper()} {var}: "
                f"{var} is not a pattern variable ({variables})"
            )
        strategy = ("to_first:" if sm.group(1).upper() == "FIRST" else "to_last:") + var
    pat = pat.after_match_skip(strategy)
    if subsets:
        pat = pat.with_subsets(subsets)  # native-lowering navigation map
    if c.group("within_n"):
        pat = pat.within(f"{c.group('within_n')} {c.group('within_unit')}")
    else:
        pat = pat.within("36500 days")  # effectively unbounded
    # SQL semantics are regex-greedy WITH backtracking; switch to the
    # branching fold when an ambiguous transition is possible (override
    # with the explicit ``backtracking`` argument either way).  Reluctant
    # quantifiers always need it (their preference order IS a branching
    # policy).
    has_reluctant = any(not st.greedy for st in pat.states) or any(
        not g[4] for g in pat.groups)
    if has_reluctant or has_group or (
            backtracking if backtracking is not None
            else _needs_backtracking(pat.states)):
        # sequence groups always run the branching fold: loop-vs-exit
        # ambiguity needs regex-backtracking semantics, and the two
        # modes coincide when conditions are disjoint anyway
        pat = pat.with_backtracking()

    if events is None:
        events = (
            catalog.load_table(spark, sf_dir, table)
            if sf_dir is not None
            else spark.table(table)
        )
    key_types: dict[str, str] = {}
    if len(keys) > 1:
        key_types = {
            f.name: f.dataType.simpleString()
            for f in events.schema.fields
            if f.name in keys
        }
        if events.isStreaming:
            # the batch join-back has no streaming twin, so streaming
            # DECOMPOSES the composite key (split + cast) — exact only
            # for types whose string rendering round-trips
            ok = {"string", "tinyint", "smallint", "int", "bigint",
                  "boolean", "date"}
            bad = sorted(k for k in keys if key_types.get(k) not in ok)
            if bad:
                raise ValueError(
                    "streaming multi-column PARTITION BY: key column(s) "
                    f"{bad} do not round-trip through the composite key "
                    "(supported key types: string / integral / boolean / "
                    "date) — cast the key or use a bounded input"
                )
        events = events.withColumn(
            key,
            F.concat_ws(
                "\x1f",
                *[
                    F.coalesce(F.col(k).cast("string"), F.lit("\x00"))
                    for k in keys
                ],
            ),
        )
    if prev_cols:
        if events.isStreaming:
            raise ValueError(
                "PREV in DEFINE needs a bounded input (it lowers onto a lag() "
                "pre-pass; streams would need the keyed-state backend to buffer)"
            )
        from pyspark.sql.window import Window

        w = Window.partitionBy(key).orderBy("ts", "event_id")
        for pcol, pn in sorted(prev_cols):
            events = events.withColumn(f"_prev{pn}_{pcol}", F.lag(pcol, pn).over(w))
    if events.isStreaming:
        out = pat.match_stream(events, key=key)
    else:
        out = pat.match_batch(events, key=key)

    # measures (the match frame's key column keeps its source name/type)
    cols = [F.col(key)]
    joinbacks: list[tuple[str, str]] = []  # (tmp id col, measure alias->source col)
    # (fn, var-or-SUBSET-members, col, alias)
    aggbacks: list[tuple[str, object, str, str]] = []
    runbacks: list[tuple[str, object, str, str]] = []  # RUNNING measures
    _classifier_alias: str | None = None
    for i, mtext in enumerate(lex(c.group("measures")).split(",")):
        mn = re.match(
            r"^MATCH_NUMBER\s*\(\s*\)\s+AS\s+(?P<alias>\w+)$", mtext.strip(), re.IGNORECASE
        )
        if mn:
            # sequential match numbering per partition, oldest start
            # first (Flink MATCH_NUMBER(): per-key ordinal)
            if events.isStreaming:
                raise ValueError("MATCH_NUMBER() needs a bounded input (window pass)")
            from pyspark.sql.window import Window

            wmn = Window.partitionBy(key).orderBy(
                F.col("start_ts"), F.expr("get(ids, 0)")
            )
            cols.append(
                F.row_number().over(wmn).cast("bigint").alias(mn.group("alias"))
            )
            continue
        cl = re.match(
            r"^CLASSIFIER\s*\(\s*\)\s+AS\s+(?P<alias>\w+)$", mtext.strip(), re.IGNORECASE
        )
        if cl:
            if not all_rows:
                raise ValueError(
                    "CLASSIFIER() needs ALL ROWS PER MATCH (per-row label)"
                )
            _classifier_alias = cl.group("alias")  # renamed after explode
            continue
        mm = _MEASURE_RE.match(mtext.strip())
        if not mm:
            raise ValueError(f"unsupported measure {mtext!r}")
        fn = (mm.group("fn") or "LAST").upper()
        sem = (mm.group("sem") or "FINAL").upper()
        var, col, alias = mm.group("var"), mm.group("col"), mm.group("alias")
        off = int(mm.group("off") or 0)
        if var not in variables and var not in subsets:
            raise ValueError(f"measure references unknown variable {var}")
        members = subsets.get(var)  # SUBSET union variable, if any
        if off and (fn not in ("FIRST", "LAST") or sem == "RUNNING"):
            raise ValueError(
                "a logical offset needs FINAL FIRST/LAST (got "
                f"{sem} {fn}({var}.{col}, {off}))"
            )
        if sem == "RUNNING":
            # per-row prefix semantics (the SQL/Flink default for ALL
            # ROWS PER MATCH; here explicit — the bare form stays FINAL,
            # a documented delta): evaluated post-explode over the
            # match-prefix slice.
            if not all_rows:
                raise ValueError("RUNNING measures need ALL ROWS PER MATCH")
            if fn not in ("FIRST", "LAST", "COUNT") or (
                fn != "COUNT" and col not in ("ts", "event_id")
            ):
                raise ValueError(
                    "RUNNING supports FIRST/LAST(V.ts|event_id) and COUNT(V.*)"
                )
            runbacks.append((fn, members or var, col, alias))
            continue
        if fn == "COUNT":
            if col != "*":
                raise ValueError("COUNT measure must be COUNT(V.*)")
            cnt = nfa.count_of(members) if members else nfa.label_count(var)
            cols.append(cnt.cast("bigint").alias(alias))
        elif fn in ("SUM", "AVG", "MIN", "MAX"):
            # aggregate over ALL rows the match mapped to var (Flink's
            # aggregate measures): resolved after matching via a
            # match-id + explode + event_id join + re-aggregate — one
            # bounded shuffle over the (small) match set.
            if col in ("*", "ts"):
                raise ValueError(f"{fn} measure needs a value column ({fn}({var}.{col}))")
            if events.isStreaming:
                raise ValueError(
                    "streaming MATCH_RECOGNIZE measures are limited to "
                    "ts/event_id/COUNT (aggregates need a bounded join-back)"
                )
            if all_rows:
                raise ValueError("aggregate measures need ONE ROW PER MATCH")
            aggbacks.append((fn.lower(), members or var, col, alias))
        elif col == "ts":
            if members:
                cols.append(
                    nfa.nav_of(members, "tss", fn == "FIRST", off).alias(alias)
                )
            elif off:
                cols.append(nfa.nav(var, "tss", fn == "FIRST", off).alias(alias))
            else:
                cols.append(
                    (_first_ts(var) if fn == "FIRST" else _last_ts(var)).alias(alias)
                )
        elif col == "event_id":
            if members:
                cols.append(
                    nfa.nav_of(members, "ids", fn == "FIRST", off).alias(alias)
                )
            elif off:
                cols.append(nfa.nav(var, "ids", fn == "FIRST", off).alias(alias))
            else:
                cols.append(
                    (nfa.first_id(var) if fn == "FIRST" else nfa.last_id(var)).alias(alias)
                )
        else:
            # resolve via event_id join-back against the source table
            tmp = f"_mrid_{i}"
            if members:
                idexpr = nfa.nav_of(members, "ids", fn == "FIRST", off)
            elif off:
                idexpr = nfa.nav(var, "ids", fn == "FIRST", off)
            else:
                idexpr = nfa.first_id(var) if fn == "FIRST" else nfa.last_id(var)
            cols.append(idexpr.alias(tmp))
            joinbacks.append((tmp, f"{alias}:{col}"))

    if events.isStreaming and joinbacks:
        raise ValueError(
            "streaming MATCH_RECOGNIZE measures are limited to ts/event_id/"
            "COUNT (join-back to the source needs a bounded side)"
        )
    if all_rows:
        # One output row per matched event: explode the per-match arrays
        # into (event_id, ts, classifier).  FINAL measures ride along
        # unchanged; RUNNING measures are evaluated per output row over
        # the match-prefix slice of the zipped arrays.  Still pure
        # projection + generator — stateless, scale-safe.
        sel = out.select(
            *cols, F.expr("arrays_zip(ids, labels, tss)").alias("_z")
        )
        carried = sel.columns[:-1]
        ex = sel.select(
            *carried,
            "_z",
            F.posexplode("_z").alias("_pos", "_ev"),
        )
        run_cols = []
        for fn, var, col, alias in runbacks:
            pred = (
                "x.labels IN (" + ", ".join(f"'{m}'" for m in var) + ")"
                if isinstance(var, tuple)
                else f"x.labels = '{var}'"
            )
            prefix = f"filter(slice(_z, 1, _pos + 1), x -> {pred})"
            if fn == "COUNT":
                run_cols.append(F.expr(f"size({prefix})").cast("bigint").alias(alias))
            else:
                fld = "ids" if col == "event_id" else "tss"
                at = "1" if fn == "FIRST" else "-1"
                run_cols.append(
                    F.expr(f"try_element_at({prefix}, {at}).{fld}").alias(alias)
                )
        res = ex.select(
            *carried,
            *run_cols,
            F.col("_ev.ids").alias("event_id"),
            F.col("_ev.tss").alias("ts"),
            F.col("_ev.labels").alias(_classifier_alias or "classifier"),
        )
    else:
        if aggbacks:
            out = out.withColumn("_mid", F.monotonically_increasing_id())
            # the match output feeds the result projection AND the
            # aggregate join-back — without the checkpoint the WHOLE
            # match pipeline (events scan + flag windows + match plan)
            # re-executed once per reference (the r15 audit counted 16
            # scans in x_mr_agg's plan), and the non-deterministic _mid
            # could in principle differ between re-executions; the
            # checkpoint pins it (round 15; VERDICT r14 next #5)
            out = out.localCheckpoint(eager=False)
            cols.append(F.col("_mid"))
        res = out.select(*cols)
    for tmp, spec in joinbacks:
        alias, col = spec.split(":")
        side = events.select(
            F.col("event_id").alias(f"{tmp}_k"), F.col(col).alias(alias)
        )
        res = res.join(side, res[tmp] == side[f"{tmp}_k"], "left").drop(tmp, f"{tmp}_k")
    if aggbacks:
        # ONE explode + ONE events join + ONE grouped aggregation for
        # every aggregate measure (round 15): per-measure label filters
        # become conditional aggregates, so k measures no longer pay k
        # explodes, k events scans and k joins.  A match with no rows
        # for a measure's variable aggregates over an empty set → NULL,
        # exactly the old per-measure left join's missing-key NULL.
        pairs = (
            out.select(
                "_mid", F.explode(F.expr("arrays_zip(ids, labels)")).alias("_z")
            )
            .select(
                "_mid",
                F.col("_z.ids").alias("_eid"),
                F.col("_z.labels").alias("_lbl"),
            )
        )
        need = sorted({col for _, _, col, _ in aggbacks})
        vals = events.select(
            F.col("event_id").alias("_eid"), *[F.col(c) for c in need]
        )
        agg_exprs = []
        for fn, var, col, alias in aggbacks:
            pred = (
                "_lbl IN (" + ", ".join(f"'{m}'" for m in var) + ")"
                if isinstance(var, tuple)
                else f"_lbl = '{var}'"
            )
            v = f"(CASE WHEN {pred} THEN `{col}` END)"
            # SUM/AVG accumulate in DECIMAL(28,10): double accumulation
            # is shuffle-order-dependent (non-associative), so the same
            # query could hash differently run to run; exact decimal
            # sums are order-free and cross-engine identical, cast back
            # to double once.  (1e-10 quantization of genuinely
            # irrational inputs is the documented price.)
            if fn == "sum":
                expr = f"cast(sum(cast({v} as decimal(28,10))) as double)"
            elif fn == "avg":
                expr = (f"cast(sum(cast({v} as decimal(28,10))) as double)"
                        f" / count({v})")
            else:
                expr = f"{fn}({v})"
            agg_exprs.append(F.expr(expr).alias(alias))
        agg = pairs.join(vals, "_eid").groupBy("_mid").agg(*agg_exprs)
        res = res.join(agg, "_mid", "left").drop("_mid")
    if len(keys) > 1:
        rest = [c0 for c0 in res.columns if c0 != key]
        if res.isStreaming:
            # streaming twin of the join-back: decompose the composite
            # key map-side (split + cast to the source types, NULL
            # sentinel restored) — stateless, so the keyed-state NFA
            # output stays an append stream.  Documented delta: a
            # string key containing the \\x1f separator or \\x00
            # sentinel breaks the round-trip (the same collision also
            # breaks the composite matching itself, batch or stream).
            parts = F.split(F.col(key), "\x1f", -1)
            comps = [
                F.when(
                    F.get(parts, i) == "\x00",
                    F.lit(None).cast(key_types[k]),
                )
                .otherwise(F.get(parts, i).cast(key_types[k]))
                .alias(k)
                for i, k in enumerate(keys)
            ]
            res = res.select(*comps, *rest)
        else:
            # swap the composite key back for its component columns —
            # one bounded shuffle of the distinct key set against the
            # (small) match output
            mapping = events.select(
                F.col(key), *[F.col(k) for k in keys]).distinct()
            res = res.join(mapping, key, "left").select(*keys, *rest)
    return res

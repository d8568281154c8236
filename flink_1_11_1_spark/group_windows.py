"""Flink 1.11 SQL group-window functions → native Spark windows.

In Flink 1.11 the ONLY SQL windowing syntax is the group-window
function family (window TVFs arrived in 1.13): ``GROUP BY
TUMBLE(rowtime, INTERVAL '1' HOUR)`` with the auxiliary projections
``TUMBLE_START / TUMBLE_END / TUMBLE_ROWTIME / TUMBLE_PROCTIME`` (and
the HOP / SESSION families).  Reference surface:
flink-table/flink-table-common/src/main/java/org/apache/flink/table/
functions/BuiltInFunctionDefinitions.java (TUMBLE/HOP/SESSION groups)
and flink-table-planner-blink LogicalWindowAggregate.

Spark-first lowering — pure TEXT rewrite into the native operators, so
Catalyst plans the aggregation (TimeWindow expands statically; the
whole query stays one whole-stage-codegen aggregate, batch or
streaming):

  TUMBLE(ts, size)        → window(ts, '<size>')
  HOP(ts, slide, size)    → window(ts, '<size>', '<slide>')   (arg swap!)
  SESSION(ts, gap)        → session_window(ts, '<gap>')
  *_START(...)            → window.start        (struct field access)
  *_END(...)              → window.end          (exclusive on both engines)
  *_ROWTIME / *_PROCTIME  → (window.end - INTERVAL '0.001' SECOND)

Flink's rowtime attribute of a window is ``end - 1ms`` (TimeWindow
.maxTimestamp); PROCTIME is rendered the same way — at the SQL surface
the distinction is the time domain of downstream operators, which this
engine's micro-batch model makes per-batch anyway (documented delta,
SURVEY §4).  The GROUP BY item itself becomes the window struct, which
is exactly how Spark expresses the same plan, so grouping keys,
HAVING, and ORDER BY all keep working untouched.

The rewrite reads the shared lexer (``sql_lex``): calls inside string
literals, comments and backtick identifiers are skipped, arguments are
balanced-paren parsed (a ')' inside a nested call or literal cannot end
the argument list), and the function-name match requires a
non-word/non-dot left boundary so ``user_session(`` or ``my.TUMBLE(``
never rewrite.
"""

from __future__ import annotations

import re
from decimal import Decimal

from .sql_lex import lex

_GW_RE = re.compile(
    r"(?<![\w.])(TUMBLE|HOP|SESSION)(_START|_END|_ROWTIME|_PROCTIME)?\s*\(",
    re.IGNORECASE,
)

_INTERVAL_RE = re.compile(
    r"^INTERVAL\s+'([^']+)'\s+"
    r"(YEAR|MONTH|DAY|HOUR|MINUTE|SECOND)(?:\s*\(\s*\d+\s*\))?"
    r"(?:\s+TO\s+(MONTH|HOUR|MINUTE|SECOND)(?:\s*\(\s*\d+\s*\))?)?$",
    re.IGNORECASE,
)

_MS = {"DAY": 86_400_000, "HOUR": 3_600_000, "MINUTE": 60_000, "SECOND": 1_000}
# field order for the multi-field 'd h:m:s.fff' rendering
_FIELDS = ["DAY", "HOUR", "MINUTE", "SECOND"]


def _interval_ms(text: str) -> int:
    """Flink SQL interval literal → integral milliseconds.

    Single-field (``INTERVAL '30' MINUTE``, fractional seconds allowed)
    and day-time range forms (``INTERVAL '1 02:03:04.5' DAY TO
    SECOND``) are supported; YEAR/MONTH intervals are not a fixed
    duration and are rejected exactly like Flink's group windows
    reject them (they require ``INTERVAL ... DAY/HOUR/MINUTE/SECOND``).
    """
    m = _INTERVAL_RE.match(text.strip())
    if not m:
        raise ValueError(
            f"group window expects an INTERVAL literal, got: {text!r}")
    value, unit, to_unit = m.group(1), m.group(2).upper(), m.group(3)
    if unit in ("YEAR", "MONTH") or (to_unit and to_unit.upper() == "MONTH"):
        raise ValueError(
            "group windows require a day-time interval (DAY/HOUR/MINUTE/"
            f"SECOND) — year-month interval not supported: {text!r}")
    if not to_unit:
        try:
            ms = Decimal(value) * _MS[unit]
        except ArithmeticError:
            # Decimal('1 2') raises InvalidOperation (an ArithmeticError,
            # not ValueError) — keep the contract: malformed input gets
            # the same contextualized error as every other bad literal
            raise ValueError(
                f"group window expects an INTERVAL literal, got: {text!r}"
            ) from None
    else:
        to_unit = to_unit.upper()
        lo, hi = _FIELDS.index(unit), _FIELDS.index(to_unit)
        if hi <= lo:
            raise ValueError(f"malformed interval range: {text!r}")
        parts = re.split(r"[ :]", value.strip())
        fields = _FIELDS[lo : hi + 1]
        if len(parts) != len(fields):
            raise ValueError(
                f"interval value {value!r} does not match "
                f"{unit} TO {to_unit}")
        try:
            ms = sum(
                (Decimal(p) * _MS[f] for p, f in zip(parts, fields)),
                Decimal(0),
            )
        except ArithmeticError:
            raise ValueError(
                f"interval value {value!r} does not match "
                f"{unit} TO {to_unit}"
            ) from None
    if ms != ms.to_integral_value() or ms <= 0:
        raise ValueError(
            f"group window interval must be a positive whole number of "
            f"milliseconds: {text!r}")
    return int(ms)


def _duration(text: str) -> str:
    """Interval literal → Spark duration string for window()/session_window()."""
    return f"{_interval_ms(text)} milliseconds"


def _render(fn: str, suffix: str, args: list[str]) -> str:
    fn = fn.upper()
    struct = "session_window" if fn == "SESSION" else "window"
    if suffix:
        suffix = suffix.upper()
        if suffix == "_START":
            return f"{struct}.start"
        if suffix == "_END":
            return f"{struct}.end"
        # _ROWTIME / _PROCTIME: Flink's window time attribute is
        # maxTimestamp = end - 1ms (TimeWindow.java); proctime rendered
        # identically (documented per-batch time-domain delta).
        return f"({struct}.end - INTERVAL '0.001' SECOND)"
    if fn == "TUMBLE":
        if len(args) != 2:
            raise ValueError(f"TUMBLE expects (timecol, size), got {args}")
        return f"window({args[0]}, '{_duration(args[1])}')"
    if fn == "HOP":
        if len(args) != 3:
            raise ValueError(f"HOP expects (timecol, slide, size), got {args}")
        # Flink argument order is (time, slide, size); Spark's is
        # (time, windowDuration, slideDuration) — swapped on purpose.
        return (
            f"window({args[0]}, '{_duration(args[2])}', "
            f"'{_duration(args[1])}')"
        )
    if len(args) != 2:
        raise ValueError(f"SESSION expects (timecol, gap), got {args}")
    return f"session_window({args[0]}, '{_duration(args[1])}')"


def _strip_time_qualifier(a: str) -> str:
    """``t.ts`` / ```t`.`ts``` / ```ts``` → ``ts`` — but only when the
    argument is a plain (optionally table-qualified) column reference.
    Flink compares the auxiliary's arguments as RESOLVED expressions, so
    a query that qualifies the time attribute only in the auxiliary
    (``TUMBLE_START(t.ts, ...)`` vs ``GROUP BY TUMBLE(ts, ...)``) is
    valid; the textual signature must not reject it."""
    m = re.fullmatch(r"(?:`?\w+`?\s*\.\s*)?`?(\w+)`?", a.strip())
    return m.group(1) if m else a


def _norm_args(fn: str, args: list[str]) -> tuple:
    """Whitespace/case-normalized signature for matching an auxiliary
    call to its GROUP BY group-window declaration: (FN, qualifier-or-
    None, stripped-first-arg, *rest).  The time attribute's backticks
    always drop; the table qualifier is KEPT as a separate component so
    an unqualified side matches a qualified one (Flink resolves
    expressions) but two DIFFERENT qualifiers still mismatch
    (``TUMBLE_START(a.ts, ...)`` vs ``GROUP BY TUMBLE(b.ts, ...)`` —
    review finding: the unconditional strip silently bound them)."""
    norm = [re.sub(r"\s+", " ", a).strip().lower() for a in args]
    qual = None
    if norm:
        m = re.fullmatch(r"(?:`?(\w+)`?\s*\.\s*)?`?(\w+)`?", norm[0])
        if m:
            qual, norm[0] = m.group(1), m.group(2)
    return (fn.upper(), qual, *norm)


def _sig_matches(aux: tuple, decl: tuple) -> bool:
    return (aux[0] == decl[0] and aux[2:] == decl[2:]
            and (aux[1] is None or decl[1] is None or aux[1] == decl[1]))


def rewrite_group_windows(sql: str) -> str:
    """Rewrite every Flink group-window call in ``sql`` to the native
    Spark window form.  No-op (same object) when no call is present.

    Flink validates that an auxiliary call (``TUMBLE_START(...)`` etc.)
    references the SAME window as the ``GROUP BY`` declaration — a
    mismatched auxiliary is a planner validation error, not a silent
    different answer — so the calls are collected first and every
    auxiliary signature must match a defining call's signature.
    """
    if not _GW_RE.search(sql):
        return sql
    lx = lex(sql)
    calls: list[tuple[int, int, str, str, list[str]]] = []
    pos = 0
    for m in _GW_RE.finditer(sql):
        if m.start() < pos:
            continue  # inside an argument list already consumed
        if not lx.is_code(m.start()):
            continue  # inside a string literal, comment or identifier
        try:
            args, close_idx = lx.call(m.end() - 1)
        except ValueError:
            # unbalanced parens after the token — not a real call
            # (e.g. a window-shaped fragment in an unterminated
            # construct); leave the text alone
            continue
        calls.append((m.start(), close_idx, m.group(1), m.group(2) or "", args))
        pos = close_idx + 1
    if not calls:
        return sql
    defined = [_norm_args(fn, args)
               for _, _, fn, suffix, args in calls if not suffix]
    for _, _, fn, suffix, args in calls:
        if suffix and not any(
                _sig_matches(_norm_args(fn, args), d) for d in defined):
            raise ValueError(
                f"{fn.upper()}{suffix.upper()}({', '.join(args)}) does not "
                f"match any GROUP BY {fn.upper()}(...) declaration in the "
                "statement — Flink requires the auxiliary's arguments to "
                "equal the group window's"
            )
    out: list[str] = []
    pos = 0
    for start, close_idx, fn, suffix, args in calls:
        out.append(sql[pos:start])
        out.append(_render(fn, suffix, args))
        pos = close_idx + 1
    out.append(sql[pos:])
    return "".join(out)

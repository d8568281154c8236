"""Flink 1.11 SQL join-surface compat rewrites (text-level, like
group_windows.py): the two statement forms every migrating lookup /
UDTF-correlate query carries.

``LATERAL TABLE (f(args)) [AS T(c1, ...)]``
    Calcite's collection-table operator (SqlStdOperatorTable
    COLLECTION_TABLE; Flink docs "Joins > Table Function").  Spark
    accepts the same lateral correlation natively as
    ``LATERAL f(args) [AS T(c1, ...)]`` — comma, CROSS JOIN and
    LEFT/LEFT OUTER JOIN ... ON TRUE placements all verified — so the
    rewrite only drops the ``TABLE`` keyword and its wrapping parens.

``JOIN dim FOR SYSTEM_TIME AS OF <time-attr> [AS alias] ON ...``
    Flink 1.11's lookup-join clause (SqlSnapshot;
    LookupJoinITCase).  In 1.11 the clause requires a PROCESSING-time
    attribute: semantics are "join the version current at execution
    time".  A batch/micro-batch plan reads the dimension at execution
    time anyway, so the clause strips to a plain join — identical
    semantics, one less parser error.  Event-time versioned-table
    temporal joins (a 1.12 SQL feature) stay on the dedicated
    operators (operators/joins.asof_join,
    streaming/temporal.streaming_temporal_rowtime_join).

Both rewrites read the shared lexer (``sql_lex``): a match inside a
string literal, comment or backtick identifier is left alone.
"""

from __future__ import annotations

import re

from .sql_lex import lex

_LATERAL_TABLE_RE = re.compile(
    r"(?<![\w.])LATERAL\s+TABLE\s*\(", re.IGNORECASE
)

# time attribute forms: qualified column (o.proctime), bare column, or
# a no-arg call (PROCTIME())
_FOR_SYSTEM_TIME_RE = re.compile(
    r"\s+FOR\s+SYSTEM_TIME\s+AS\s+OF\s+(?:[\w.`]+\s*\(\s*\)|[\w.`]+)",
    re.IGNORECASE,
)


def rewrite_lateral_table(sql: str) -> str:
    """``LATERAL TABLE (call)`` → ``LATERAL call`` (alias list kept)."""
    if not _LATERAL_TABLE_RE.search(sql):
        return sql
    lx = lex(sql)
    out: list[str] = []
    pos = 0
    for m in _LATERAL_TABLE_RE.finditer(sql):
        if m.start() < pos or not lx.is_code(m.start()):
            continue
        open_idx = m.end() - 1
        try:
            _args, close_idx = lx.call(open_idx)
        except ValueError:
            continue  # unterminated fragment — leave untouched
        inner = sql[open_idx + 1 : close_idx].strip()
        out.append(sql[pos : m.start()])
        out.append(f"LATERAL {inner}")
        pos = close_idx + 1
    out.append(sql[pos:])
    return "".join(out)


def rewrite_for_system_time(
    sql: str, rowtime_cols: set[str] | None = None
) -> str:
    """Strip ``FOR SYSTEM_TIME AS OF <proctime-attr>`` (lookup-join
    clause): batch execution reads the dimension's current version by
    construction, which IS the 1.11 proctime lookup contract.

    ``rowtime_cols`` are the session's declared WATERMARK (rowtime)
    column names: Flink 1.11 VALIDATES the clause's attribute as
    processing-time, and an event-time attribute here means the user
    wants a versioned temporal join — stripping would silently join
    the CURRENT dimension version to every historical fact, so that
    case raises toward the dedicated operators instead (review
    finding; operators/joins.asof_join,
    streaming/temporal.streaming_temporal_rowtime_join)."""
    if "SYSTEM_TIME" not in sql.upper():
        return sql
    lx = lex(sql)
    out: list[str] = []
    pos = 0
    for m in _FOR_SYSTEM_TIME_RE.finditer(sql):
        if m.start() < pos or not lx.is_code(m.start()):
            continue
        attr = m.group(0).split()[-1].replace("`", "")
        col = attr.split(".")[-1].rstrip("()")
        if rowtime_cols and col in rowtime_cols:
            raise ValueError(
                f"FOR SYSTEM_TIME AS OF {attr}: {col} is a declared "
                "rowtime (WATERMARK) attribute — Flink 1.11 only accepts "
                "a processing-time attribute here.  For an event-time "
                "versioned join use operators.joins.asof_join (batch) or "
                "streaming.temporal.streaming_temporal_rowtime_join.")
        out.append(sql[pos : m.start()])
        pos = m.end()
    out.append(sql[pos:])
    return "".join(out)

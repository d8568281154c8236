"""Flink SQL DDL front door: ``CREATE TABLE ... WITH ('connector'=...)``.

Reference parity (public Flink 1.11 tree): the sql-parser's
``SqlCreateTable`` (flink-table/flink-sql-parser src/main/codegen —
column list, computed columns, ``WATERMARK FOR col AS col - INTERVAL``,
``PARTITIONED BY``, the WITH property map) and the planner's
``CatalogSourceTable`` translation that applies computed columns and
watermark on top of the connector scan.  This module lets a Flink user
run their existing DDL scripts unchanged: ``TableEnvironment
.execute_sql`` now recognizes the statements Spark's parser would
reject and routes them to the engine's connector layer
(``sources/files``, ``sources/kafka``, native JDBC), everything else
still going straight to Catalyst.

Statement coverage: CREATE [TEMPORARY] TABLE [IF NOT EXISTS],
CREATE [TEMPORARY] VIEW, DROP TABLE/VIEW, INSERT INTO [sink].
Connectors: filesystem (batch+stream, partitioned sinks), datagen,
print, blackhole, jdbc, kafka (option-mapping contract; broker-less
sandbox).  Deltas (documented): Flink TIME maps to STRING; PRIMARY KEY
is parsed and recorded but NOT ENFORCED (Flink 1.11 likewise never
enforces it); MULTISET maps to MAP<T, INT>.

Spark-first: the DDL never builds an execution layer of its own — a
registered table IS either a temp view over a native scan (batch) or a
``TableSpec`` whose ``stream()`` is a native readStream with computed
columns and ``withWatermark`` fused after the scan.
"""

from __future__ import annotations

import re
from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .sql_lex import lex

# --------------------------------------------------------------- types

_SIMPLE_TYPES = {
    "STRING": "STRING",
    "CHAR": "STRING",
    "VARCHAR": "STRING",
    "BOOLEAN": "BOOLEAN",
    "TINYINT": "TINYINT",
    "SMALLINT": "SMALLINT",
    "INT": "INT",
    "INTEGER": "INT",
    "BIGINT": "BIGINT",
    "FLOAT": "FLOAT",
    "REAL": "FLOAT",
    "DOUBLE": "DOUBLE",
    "DECIMAL": "DECIMAL",
    "NUMERIC": "DECIMAL",
    "DATE": "DATE",
    "TIME": "STRING",  # Spark has no TIME type — documented delta
    "TIMESTAMP": "TIMESTAMP",
    "TIMESTAMP_LTZ": "TIMESTAMP",
    "BYTES": "BINARY",
    "BINARY": "BINARY",
    "VARBINARY": "BINARY",
}


def flink_type_to_spark(t: str) -> str:
    """Map a Flink 1.11 SQL type string to a Spark DDL type string."""
    s = t.strip()
    up = s.upper()
    m = re.match(r"^ARRAY\s*<(.*)>$", up, re.DOTALL)
    if m:
        inner = s[s.index("<") + 1 : s.rindex(">")]
        return f"ARRAY<{flink_type_to_spark(inner)}>"
    m = re.match(r"^MULTISET\s*<(.*)>$", up, re.DOTALL)
    if m:
        inner = s[s.index("<") + 1 : s.rindex(">")]
        return f"MAP<{flink_type_to_spark(inner)}, INT>"
    m = re.match(r"^MAP\s*<(.*)>$", up, re.DOTALL)
    if m:
        inner = s[s.index("<") + 1 : s.rindex(">")]
        k, v = lex(inner).split(",")
        return f"MAP<{flink_type_to_spark(k)}, {flink_type_to_spark(v)}>"
    m = re.match(r"^ROW\s*<(.*)>$", up, re.DOTALL)
    if m:
        inner = s[s.index("<") + 1 : s.rindex(">")]
        parts = []
        for f_ in lex(inner).split(","):
            name, ft = f_.split(None, 1)
            parts.append(f"{name}: {flink_type_to_spark(ft)}")
        return "STRUCT<" + ", ".join(parts) + ">"
    # TIMESTAMP(3) [WITH LOCAL TIME ZONE], DECIMAL(10, 2), VARCHAR(255)...
    m = re.match(r"^([A-Z_]+)\s*(\(([^)]*)\))?(\s+WITH\s+LOCAL\s+TIME\s+ZONE)?$", up)
    if not m:
        raise ValueError(f"unsupported Flink type: {t!r}")
    base, args = m.group(1), m.group(3)
    if base not in _SIMPLE_TYPES:
        raise ValueError(f"unsupported Flink type: {t!r}")
    spark = _SIMPLE_TYPES[base]
    if spark == "DECIMAL" and args:
        return f"DECIMAL({args})"
    return spark


# ------------------------------------------------------------- parsing

_WM_RE = re.compile(
    r"^WATERMARK\s+FOR\s+(\w+)\s+AS\s+(.+)$", re.IGNORECASE | re.DOTALL
)
_INTERVAL_RE = re.compile(
    r"INTERVAL\s+'(\d+(?:\.\d+)?)'\s+(SECOND|MINUTE|HOUR|DAY)", re.IGNORECASE
)
_PK_RE = re.compile(
    r"^PRIMARY\s+KEY\s*\(([^)]*)\)(\s+NOT\s+ENFORCED)?$", re.IGNORECASE
)
_COMPUTED_RE = re.compile(r"^(\w+)\s+AS\s+(.+)$", re.IGNORECASE | re.DOTALL)
_PHYSICAL_RE = re.compile(
    r"^(\w+)\s+(.+?)(\s+NOT\s+NULL)?(\s+COMMENT\s+'(?:[^']|'')*')?$",
    re.IGNORECASE | re.DOTALL,
)

_CREATE_TABLE_HEAD_RE = re.compile(
    r"^CREATE\s+(TEMPORARY\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.`]+)\s*\(",
    re.IGNORECASE,
)
_CREATE_TABLE_TAIL_RE = re.compile(
    r"^\s*(?:COMMENT\s+'(?:[^']|'')*'\s*)?"
    r"(?:PARTITIONED\s+BY\s*\(([^)]*)\)\s*)?"
    r"WITH\s*\((.*)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_CREATE_VIEW_RE = re.compile(
    r"^CREATE\s+(TEMPORARY\s+)?VIEW\s+(IF\s+NOT\s+EXISTS\s+)?([\w.`]+)\s+AS\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_RE = re.compile(
    r"^DROP\s+(TEMPORARY\s+)?(TABLE|VIEW)\s+(IF\s+EXISTS\s+)?([\w.`]+)\s*$",
    re.IGNORECASE,
)
_INSERT_RE = re.compile(
    r"^INSERT\s+(INTO|OVERWRITE)\s+([\w.`]+)\s+(.+)$", re.IGNORECASE | re.DOTALL
)
_FROM_LIST_ENDERS = {
    "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "UNION", "INTERSECT",
    "EXCEPT", "WINDOW", "JOIN", "INNER", "LEFT", "RIGHT", "FULL", "CROSS",
    "ON", "USING", "INSERT", "SELECT",
}
_MI_BRANCH_RE = re.compile(
    r"^INSERT\s+(INTO|OVERWRITE)\s+(?:TABLE\s+)?([\w.`]+)\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_MI_TAIL_KWS = {"WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "DISTRIBUTE",
                "SORT", "CLUSTER", "WINDOW"}


def _splice_from(body: str, from_text: str) -> str:
    """Insert ``FROM <from_text>`` into a FROM-less multi-insert SELECT
    body, before the first top-level tail keyword (WHERE/GROUP BY/...)
    — Hive multi-insert branches carry no FROM of their own."""
    for t in lex(body).keywords:
        if t.depth == 0 and t.text.upper() in _MI_TAIL_KWS:
            return f"{body[:t.start]}FROM {from_text} {body[t.start:]}"
    return f"{body} FROM {from_text}"

# sql-client SET / RESET (Flink 1.11 `SET k=v`; later quoted forms
# accepted too).  Known Flink config keys map to their Spark conf
# equivalents; unknown keys pass through verbatim (harmless session
# conf entries, the sql-client behavior for unrecognized keys).
_SET_RE = re.compile(
    r"^SET(?:\s+('?[\w.\-]+'?)\s*=\s*(.+))?$", re.IGNORECASE
)
_RESET_RE = re.compile(r"^RESET(?:\s+('?[\w.\-]+'?))?$", re.IGNORECASE)

# FLIP-79 CREATE FUNCTION DDL (SqlCreateFunction): LANGUAGE PYTHON maps
# the dotted path to a module attribute (plain callable or udf wrapper);
# JAVA/SCALA (or no LANGUAGE) pass through to Spark's own CREATE
# FUNCTION, which loads JVM classes from the session classpath.
_CREATE_FUNC_RE = re.compile(
    r"^CREATE\s+(OR\s+REPLACE\s+)?(TEMPORARY\s+)?(?:SYSTEM\s+)?FUNCTION\s+"
    r"(IF\s+NOT\s+EXISTS\s+)?([\w.`]+)\s+AS\s+'([^']+)'"
    r"(?:\s+LANGUAGE\s+(JAVA|SCALA|PYTHON))?(?:\s*--[^\n]*)?\s*$",
    re.IGNORECASE,
)

# cheap guard for the group-window rewrite (full scanner in
# group_windows.py — only imported when a statement can contain one)
_GW_TOKEN_RE = re.compile(
    r"(?<![\w.])(?:TUMBLE|HOP|SESSION)(?:_START|_END|_ROWTIME|_PROCTIME)?\s*\(",
    re.IGNORECASE,
)
_DESCRIBE_RE = re.compile(
    r"^(?:DESCRIBE|DESC)\s+(?:TABLE\s+)?(`?[\w.]+`?)$", re.IGNORECASE
)

_FLINK_CONF_MAP = {
    "table.exec.resource.default-parallelism": "spark.sql.shuffle.partitions",
    "table.local-time-zone": "spark.sql.session.timeZone",
}

# Flink's `SET 'table.sql-dialect' = 'hive'` switches to the
# flink-sql-parser-hive front end.  Spark's OWN parser is
# Hive-descended and already accepts the HiveQL surface that dialect
# exists for (LATERAL VIEW, DISTRIBUTE/SORT/CLUSTER BY, named_struct,
# TRANSFORM script transformation — native no-serde mode, tested —
# backtick identifiers), so the switch is accepted and recorded but
# routes to the same parser — a documented architectural merge, not a
# silent ignore (DESCRIBE-able via the session conf; unknown dialects
# still error).  Multi-INSERT — the one HiveQL statement Spark's
# parser cannot route to DECLARED sinks — is rewritten by
# ``_multi_insert`` (scan-once fan-out).
_SQL_DIALECTS = ("default", "hive")


def _unquote(literal: str) -> str:
    """Body of a quoted literal token, doubled quotes unescaped (the
    Calcite rule: ``'it''s'`` is ``it's``)."""
    q = literal[0]
    return literal[1:-1].replace(q + q, q)


def _strip_quotes(v: str) -> str:
    v = v.strip()
    toks = lex(v).toks
    return _unquote(v) if len(toks) == 1 and toks[0].kind == "str" else v


def _props(text: str) -> dict[str, str]:
    """``'k'='v'`` pairs of a WITH / SET / OPTIONS list, read from the
    lexer's string tokens (a quote, comma or paren inside a value is
    value text)."""
    toks = [t for t in lex(text).toks if t.kind != "comment"]
    return {
        _unquote(k.text): _unquote(v.text)
        for k, eq, v in zip(toks, toks[1:], toks[2:])
        if eq.text == "=" and k.kind == v.kind == "str"
        and k.text[0] == v.text[0] == "'"
    }


@dataclass
class CreateTable:
    """Parsed ``CREATE TABLE`` statement (SqlCreateTable equivalent)."""

    name: str
    columns: list[tuple[str, str, bool]] = field(default_factory=list)  # (name, spark_type, not_null)
    computed: dict[str, str] = field(default_factory=dict)
    watermark_col: str | None = None
    watermark_delay: str | None = None  # "10 minutes" form
    primary_key: list[str] = field(default_factory=list)  # parsed, not enforced
    partitioned_by: list[str] = field(default_factory=list)
    props: dict[str, str] = field(default_factory=dict)
    temporary: bool = False

    @property
    def connector(self) -> str:
        return self.props.get("connector", "")

    def spark_schema_ddl(self) -> str:
        return ", ".join(f"{n} {t}" for n, t, _nn in self.columns)


def _strip_ticks(name: str) -> str:
    return name.replace("`", "")


_LIKE_RE = re.compile(
    r"\sLIKE\s+([\w.`]+)\s*(?:\(\s*([^)]*)\s*\))?\s*$", re.IGNORECASE
)
_LIKE_OPT_RE = re.compile(
    r"(INCLUDING|EXCLUDING|OVERWRITING)\s+"
    r"(ALL|CONSTRAINTS|PARTITIONS|GENERATED|OPTIONS|WATERMARKS)",
    re.IGNORECASE,
)


def parse_like_options(text: str | None) -> dict[str, str]:
    """FLIP-110 like-option list → per-feature merge strategy.

    Default (Flink 1.11 CREATE TABLE ... LIKE docs): ``INCLUDING ALL
    OVERWRITING OPTIONS``.  ALL resets every feature to the given
    including/excluding mode; OVERWRITING is only legal for the
    GENERATED / OPTIONS / WATERMARKS features (Flink's rule)."""
    strat = {
        "constraints": "including",
        "partitions": "including",
        "generated": "including",
        "options": "overwriting",
        "watermarks": "including",
    }
    if not text or not text.strip():
        return strat
    consumed = _LIKE_OPT_RE.sub("", text).strip()
    if consumed:
        raise ValueError(f"unparseable LIKE options near {consumed!r}")
    for mode, feat in _LIKE_OPT_RE.findall(text):
        mode, feat = mode.lower(), feat.lower()
        if feat == "all":
            if mode == "overwriting":
                raise ValueError("OVERWRITING ALL is not a Flink like-option")
            for k in strat:
                strat[k] = mode
            continue
        if mode == "overwriting" and feat in ("constraints", "partitions"):
            raise ValueError(f"OVERWRITING {feat.upper()} is not supported "
                             "(Flink allows it for GENERATED/OPTIONS/"
                             "WATERMARKS only)")
        strat[feat] = mode
    return strat


def merge_like(src: CreateTable, new: CreateTable,
               strat: dict[str, str]) -> CreateTable:
    """Merge a LIKE-derived declaration onto its source (FLIP-110
    semantics: duplicates error under INCLUDING, new wins under
    OVERWRITING, source dropped under EXCLUDING)."""
    out = CreateTable(name=new.name, temporary=new.temporary)
    # physical columns: source first, new appended; duplicate names error
    src_cols = {n for n, _t, _nn in src.columns}
    for n, _t, _nn in new.columns:
        if n in src_cols:
            raise ValueError(
                f"LIKE: physical column {n!r} already defined in source")
    out.columns = list(src.columns) + list(new.columns)
    # computed columns (GENERATED)
    if strat["generated"] == "excluding":
        out.computed = dict(new.computed)
    else:
        dup = set(src.computed) & set(new.computed)
        if dup and strat["generated"] != "overwriting":
            raise ValueError(
                f"LIKE: computed column(s) {sorted(dup)} already defined "
                "in source (use OVERWRITING GENERATED)")
        out.computed = {**src.computed, **new.computed}
    # watermark
    if strat["watermarks"] == "excluding":
        out.watermark_col, out.watermark_delay = (
            new.watermark_col, new.watermark_delay)
    elif new.watermark_col is not None:
        if src.watermark_col is not None and strat["watermarks"] != "overwriting":
            raise ValueError(
                "LIKE: source already declares a watermark "
                "(use OVERWRITING WATERMARKS)")
        out.watermark_col, out.watermark_delay = (
            new.watermark_col, new.watermark_delay)
    else:
        out.watermark_col, out.watermark_delay = (
            src.watermark_col, src.watermark_delay)
    # primary key (CONSTRAINTS)
    if strat["constraints"] == "excluding":
        out.primary_key = list(new.primary_key)
    elif new.primary_key:
        if src.primary_key:
            raise ValueError("LIKE: source already declares a PRIMARY KEY")
        out.primary_key = list(new.primary_key)
    else:
        out.primary_key = list(src.primary_key)
    # partitions
    if strat["partitions"] == "excluding":
        out.partitioned_by = list(new.partitioned_by)
    else:
        if new.partitioned_by and src.partitioned_by:
            raise ValueError("LIKE: source already declares PARTITIONED BY")
        out.partitioned_by = list(new.partitioned_by or src.partitioned_by)
    # WITH options
    if strat["options"] == "excluding":
        out.props = dict(new.props)
    else:
        dup = {
            k for k in set(src.props) & set(new.props)
            if src.props[k] != new.props[k]
        }
        if dup and strat["options"] != "overwriting":
            raise ValueError(
                f"LIKE: option(s) {sorted(dup)} conflict with source "
                "(use OVERWRITING OPTIONS)")
        out.props = {**src.props, **new.props}
    if not out.props.get("connector"):
        raise ValueError(
            f"CREATE TABLE {out.name} LIKE: merged declaration has no "
            "'connector' property")
    return out


def _parse_columns(out: CreateTable, items: list[str]) -> None:
    """Fill ``out`` from the column block's top-level items: watermark,
    primary key, computed and physical columns."""
    for item in items:
        wm = _WM_RE.match(item)
        if wm:
            col, expr = wm.group(1), wm.group(2).strip()
            iv = _INTERVAL_RE.search(expr)
            if not iv:
                raise ValueError(f"unsupported watermark expr: {expr!r}")
            out.watermark_col = col
            out.watermark_delay = f"{iv.group(1)} {iv.group(2).lower()}s"
            continue
        pk = _PK_RE.match(item)
        if pk:
            out.primary_key = [c.strip().replace("`", "") for c in pk.group(1).split(",")]
            continue
        comp = _COMPUTED_RE.match(item)
        # "name AS expr" is computed UNLESS the token after the name
        # parses as a type (physical columns never contain ' AS ')
        if comp and not re.match(
            r"^(ARRAY|MAP|ROW|MULTISET|" + "|".join(_SIMPLE_TYPES) + r")\b",
            comp.group(2).strip().upper(),
        ):
            out.computed[_strip_ticks(comp.group(1))] = comp.group(2).strip()
            continue
        phys = _PHYSICAL_RE.match(item)
        if not phys:
            raise ValueError(f"cannot parse column definition: {item!r}")
        cname, ctype, notnull, _comment = phys.groups()
        out.columns.append(
            (_strip_ticks(cname), flink_type_to_spark(ctype), bool(notnull))
        )


def parse_create_table_base(sql: str) -> CreateTable:
    """Lenient CREATE TABLE parse for the LIKE form: the column block
    and the WITH clause are both optional (``CREATE TABLE t2 LIKE t1``
    is legal once the LIKE tail is stripped)."""
    s = sql.strip().rstrip(";").strip()
    head = _CREATE_TABLE_HEAD_RE.match(s + " (") if "(" not in s else None
    if head:  # no column block at all
        m = re.match(
            r"^CREATE\s+(TEMPORARY\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?"
            r"([\w.`]+)\s*$", s, re.IGNORECASE)
        if not m:
            raise ValueError(f"unparseable CREATE TABLE ... LIKE head: {s!r}")
        return CreateTable(name=_strip_ticks(m.group(3)),
                           temporary=bool(m.group(1)))
    m = re.match(
        r"^CREATE\s+(TEMPORARY\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?"
        r"([\w.`]+)\s*(.*)$", s, re.IGNORECASE | re.DOTALL)
    if not m:
        raise ValueError(f"unparseable CREATE TABLE statement: {s!r}")
    temp, _ine, name, rest = m.groups()
    out = CreateTable(name=_strip_ticks(name), temporary=bool(temp))
    rest = rest.strip()
    if rest.startswith("("):
        items, close = lex(rest).call(0)
        _parse_columns(out, items)
        rest = rest[close + 1:].strip()
    tail = _CREATE_TABLE_TAIL_RE.match(rest) if rest else None
    if tail:
        part_by, props_s = tail.groups()
        out.props = _props(props_s)
        if part_by:
            out.partitioned_by = [
                c.strip().replace("`", "") for c in part_by.split(",")
            ]
    elif rest:
        pm = re.match(r"^PARTITIONED\s+BY\s*\(([^)]*)\)\s*$", rest,
                      re.IGNORECASE)
        if pm:
            out.partitioned_by = [
                c.strip().replace("`", "") for c in pm.group(1).split(",")
            ]
        else:
            raise ValueError(f"unparseable CREATE TABLE tail: {rest!r}")
    return out


def parse_create_table(sql: str) -> CreateTable:
    s = sql.strip().rstrip(";").strip()
    head = _CREATE_TABLE_HEAD_RE.match(s)
    if not head:
        raise ValueError("not a CREATE TABLE ... WITH (...) statement")
    temp, _ine, name = head.groups()
    items, close = lex(s).call(head.end() - 1)
    tail = _CREATE_TABLE_TAIL_RE.match(s[close + 1:])
    if not tail:
        raise ValueError("CREATE TABLE must end with WITH ('connector'=..., ...)")
    part_by, props_s = tail.groups()
    out = CreateTable(name=_strip_ticks(name), temporary=bool(temp))
    out.props = _props(props_s)
    if part_by:
        out.partitioned_by = [c.strip().replace("`", "") for c in part_by.split(",")]
    _parse_columns(out, items)
    if not out.props.get("connector"):
        raise ValueError(f"CREATE TABLE {out.name}: missing 'connector' property")
    return out


# ------------------------------------------------------------ execution

_KNOWN_CONNECTORS = ("filesystem", "datagen", "print", "blackhole", "jdbc", "kafka")


class DdlCatalog:
    """Session-side registry of DDL-declared tables (the in-memory
    catalog slice Flink keeps in ``CatalogManager``)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.tables: dict[str, CreateTable] = {}
        # names registered through CREATE FUNCTION ... LANGUAGE PYTHON
        # (duplicate-detection per Flink's create-function semantics)
        self._ddl_functions: set[str] = set()
        # Multi-catalog surface (Flink CatalogManager +
        # GenericInMemoryCatalog, flink-table-common catalog/Catalog.java):
        # catalogs → their databases; (catalog, database, table) →
        # session view alias.  Tables in the default path keep their
        # plain name (full back-compat); elsewhere they mangle to
        # __cat_<catalog>__<db>__<table> and qualified references in
        # statements rewrite to the alias (same technique as the
        # FLIP-113 hint rewrite).
        self.catalogs: dict[str, set[str]] = {
            "default_catalog": {"default_database"}
        }
        self._default_db: dict[str, str] = {
            "default_catalog": "default_database"
        }
        self.current: tuple[str, str] = ("default_catalog", "default_database")
        self.qualified: dict[tuple[str, str, str], str] = {}
        self._hint_n = 0
        self._mi_n = 0
        self._hint_aliases: dict[tuple, str] = {}
        # Spark conf keys applied via SET, so a bare RESET can undo all
        # of them (Flink sql-client RESET resets EVERY session property).
        self._set_keys: set[str] = set()
        # view name -> defining query text (for the multi-sink reuse
        # pass and post-script restoration)
        self.views: dict[str, str] = {}
        # diagnostics of the last execute_script reuse pass:
        # {view: {"sinks": n, "view_plan": optimized-plan string}}
        self.last_script_reuse: dict[str, dict] = {}

    # -- statement router ------------------------------------------------

    def execute(self, sql: str) -> DataFrame | None:
        """Route one statement: DDL handled here, everything else → Catalyst."""
        s = sql.strip().rstrip(";").strip()
        cat_stmt = self._catalog_statement(s)
        if cat_stmt is not NotImplemented:
            return cat_stmt
        s = self._qualify_names(s)
        s = self._apply_table_hints(s)
        if _GW_TOKEN_RE.search(s):
            # Flink 1.11 group-window functions (GROUP BY TUMBLE/HOP/
            # SESSION + *_START/_END/_ROWTIME auxiliaries) — rewritten
            # to native window()/session_window() so Catalyst plans the
            # aggregate (see group_windows.py).  Applied before routing
            # so CREATE VIEW bodies, INSERT INTO selects and
            # multi-INSERT branches all inherit the rewrite.
            from .group_windows import rewrite_group_windows

            s = rewrite_group_windows(s)
        if "LATERAL" in s.upper() or "SYSTEM_TIME" in s.upper():
            # Flink join-surface compat: LATERAL TABLE(f(x)) → Spark's
            # native LATERAL correlation; FOR SYSTEM_TIME AS OF
            # (proctime lookup join) strips to a plain join — batch
            # reads the dimension's current version by construction
            # (see sql_compat.py).
            from .sql_compat import (
                rewrite_for_system_time,
                rewrite_lateral_table,
            )

            rowtime_cols = {
                ct.watermark_col
                for ct in self.tables.values()
                if ct.watermark_col
            }
            s = rewrite_for_system_time(
                rewrite_lateral_table(s), rowtime_cols)
        if "MATCH_RECOGNIZE" in s.upper():
            # Spark SQL has no MATCH_RECOGNIZE.  The standalone Flink
            # statement shape routes straight to the engine front door;
            # any OTHER placement treats it as a TABLE FACTOR (Calcite
            # SqlMatchRecognize): the factor is expanded to a lazy temp
            # view and the enclosing statement — alias, projection,
            # join, CTE body, INSERT INTO — continues through normal
            # routing below.  The factor views are statement-scoped:
            # Spark analyzes eagerly at DataFrame creation, so dropping
            # them after routing cannot break a returned lazy plan, and
            # SHOW TABLES no longer surfaces leaked __mr_factor_N views
            # (also dropped when the enclosing statement raises).
            from .extensions import match_recognize as _mr

            if _mr._MR_RE.match(s):
                return _mr.match_recognize(self.spark, s)
            pre_expansion = s
            s, views = _mr.expand_mr_factors(self.spark, s)
            if views:
                try:
                    return self._execute_routed(s)
                finally:
                    for v in views:
                        self.spark.catalog.dropTempView(v)
                    # a CREATE VIEW stores its query text for
                    # restore_view re-execution — keep the PRE-expansion
                    # text there (the expanded text references the
                    # statement-scoped __mr_factor_N views just dropped;
                    # restore_view re-expands on replay)
                    mv0 = _CREATE_VIEW_RE.match(pre_expansion)
                    if mv0:
                        vname0 = _strip_ticks(mv0.group(3))
                        if vname0 in self.views:
                            self.views[vname0] = mv0.group(4)
        return self._execute_routed(s)

    def _execute_routed(self, s: str) -> DataFrame | None:
        """Statement routing after name qualification / hint rewrite /
        MATCH_RECOGNIZE factor expansion."""
        up = s.upper()
        ms = _SET_RE.match(s)
        if ms:
            return self._set_statement(ms.group(1), ms.group(2))
        if up == "SHOW TABLES":
            return self._show_tables()
        if up == "SHOW MODULES":
            # Flink's module system (FLIP-68; sql-client SHOW MODULES in
            # 1.11 lists the loaded function modules — 'core' by
            # default).  Function resolution here is Spark's single
            # registry, so exactly the core module is reported.
            return self.spark.createDataFrame(
                [("core",)], "module_name string")
        if up.startswith("EXPLAIN PLAN FOR "):
            # Flink's EXPLAIN statement (FLIP-84 TableEnvironment
            # .explainSql): one STRING row with the plan sections
            q = s[len("EXPLAIN PLAN FOR "):]
            qe = self.spark.sql(q)._jdf.queryExecution()
            text = (
                "== Optimized Logical Plan ==\n" + qe.optimizedPlan().toString()
                + "\n== Physical Plan ==\n" + qe.executedPlan().toString()
            )
            return self.spark.createDataFrame([(text,)], "plan string")
        mdesc = _DESCRIBE_RE.match(s)
        if mdesc and _strip_ticks(mdesc.group(1)) in self.tables:
            return self._describe(_strip_ticks(mdesc.group(1)))
        mr = _RESET_RE.match(s)
        if mr:
            key = _strip_quotes(mr.group(1)) if mr.group(1) else None
            if key:
                spark_key = _FLINK_CONF_MAP.get(key, key)
                self.spark.conf.unset(spark_key)
                self._set_keys.discard(spark_key)
            else:
                # bare RESET: Flink's sql-client resets ALL session
                # properties — undo every key this catalog SET.
                for spark_key in self._set_keys:
                    self.spark.conf.unset(spark_key)
                self._set_keys.clear()
            return None
        md_fn = re.match(
            r"^DROP\s+(?:TEMPORARY\s+)?(?:SYSTEM\s+)?FUNCTION\s+"
            r"(IF\s+EXISTS\s+)?([\w.`]+)\s*$", s, re.IGNORECASE)
        if md_fn and _strip_ticks(md_fn.group(2)).split(".")[-1] in self._ddl_functions:
            # DDL-created Python functions register as session temporary
            # functions — route the drop accordingly regardless of the
            # user's TEMPORARY spelling.
            name = _strip_ticks(md_fn.group(2)).split(".")[-1]
            self._ddl_functions.discard(name)
            return self.spark.sql(f"DROP TEMPORARY FUNCTION {name}")
        mf = _CREATE_FUNC_RE.match(s)
        if mf:
            or_replace, if_not_exists = bool(mf.group(1)), bool(mf.group(3))
            name = _strip_ticks(mf.group(4)).split(".")[-1]
            lang = (mf.group(6) or "").upper()
            if lang != "PYTHON":
                # JAVA/SCALA (or LANGUAGE-less): delegate to Spark's own
                # CREATE FUNCTION loader — but Spark's grammar has no
                # LANGUAGE token, so strip the clause first (review
                # finding: the raw passthrough was a ParseException).
                # the clause regex admits a trailing '--' comment after
                # LANGUAGE, so the strip must too (the comment goes with
                # it — Spark parses the bare statement)
                return self.spark.sql(
                    re.sub(
                        r"\s+LANGUAGE\s+(?:JAVA|SCALA)(?:\s*--[^\n]*)?\s*$",
                        "", s, flags=re.IGNORECASE))
            # FLIP-79 Python DDL function: the identifier's last
            # component is the session-registry name (the registry is
            # flat, like GenericInMemoryCatalog's function map per db);
            # TEMPORARY and permanent both live for the session —
            # documented delta, there is no persistent catalog here.
            # Duplicate semantics follow Flink: IF NOT EXISTS no-ops on
            # an existing name, OR REPLACE rebinds, a bare duplicate
            # CREATE raises.
            if name in self._ddl_functions:
                if if_not_exists:
                    return None
                if not or_replace:
                    raise ValueError(
                        f"CREATE FUNCTION {name}: function already exists "
                        "(use OR REPLACE, or IF NOT EXISTS to no-op)")
            import importlib

            from .udf import UserDefinedFunction, UserDefinedTableFunction

            path = mf.group(5)
            if "." not in path:
                raise ValueError(
                    f"CREATE FUNCTION {name}: LANGUAGE PYTHON expects a "
                    f"dotted module path, got {path!r}")
            mod_name, attr = path.rsplit(".", 1)
            obj = getattr(importlib.import_module(mod_name), attr)
            if isinstance(obj, (UserDefinedFunction, UserDefinedTableFunction)):
                obj.register(self.spark, name)
            else:
                self.spark.udf.register(name, obj)
            self._ddl_functions.add(name)
            return None
        if up.startswith("CREATE") and " TABLE" in up.split("(", 1)[0]:
            # FLIP-110 CREATE TABLE ... LIKE (shipped in Flink 1.11):
            # derive the declaration from a registered source table with
            # per-feature merge strategies, then continue as a normal
            # CREATE of the merged declaration.
            lm = None
            for cand in _LIKE_RE.finditer(s):
                if lex(s).is_code(cand.start()):
                    lm = cand
            if lm is not None:
                src_cat, src_db, src_tbl = self._resolve_name(lm.group(1))
                src_view = self.qualified.get(
                    (src_cat, src_db, src_tbl), _strip_ticks(lm.group(1)))
                src = self.tables.get(src_view)
                if src is None:
                    raise ValueError(
                        f"CREATE TABLE ... LIKE {lm.group(1)}: source is "
                        "not a DDL-declared table (plain views have no "
                        "WITH properties to derive — documented delta)")
                new = parse_create_table_base(s[: lm.start()])
                ct = merge_like(src, new, parse_like_options(lm.group(2)))
            else:
                ct = parse_create_table(s)
            cat, db, tbl = self._resolve_name(ct.name)
            self._check_db(cat, db)
            ct.name = self._view_name(cat, db, tbl)
            self.qualified[(cat, db, tbl)] = ct.name
            self.create_table(ct)
            return None
        ma = re.match(
            r"^ALTER\s+TABLE\s+([\w.`]+)\s+RENAME\s+TO\s+([\w.`]+)\s*$",
            s, re.IGNORECASE)
        if ma and _strip_ticks(ma.group(1)) in self.tables:
            return self._alter_rename(
                _strip_ticks(ma.group(1)), _strip_ticks(ma.group(2)))
        ma = re.match(
            r"^ALTER\s+TABLE\s+([\w.`]+)\s+SET\s*\((.*)\)\s*$",
            s, re.IGNORECASE | re.DOTALL)
        if ma and _strip_ticks(ma.group(1)) in self.tables:
            # Flink 1.11 ALTER TABLE ... SET ('k'='v'): merge/override
            # the declaration's WITH properties (SqlAlterTableOptions)
            name = _strip_ticks(ma.group(1))
            from dataclasses import replace as _dcr

            overrides = _props(ma.group(2))
            ct = self.tables[name]
            self._evict_hint_aliases(name)
            self.tables[name] = _dcr(ct, props={**ct.props, **overrides})
            if self.tables[name].connector == "filesystem":
                import os as _os

                if _os.path.exists(self.tables[name].props.get("path", "")):
                    self.batch_table(name).createOrReplaceTempView(name)
            return None
        mv = _CREATE_VIEW_RE.match(s)
        if mv:
            _tmp, _ine, name, query = mv.groups()
            vname = _strip_ticks(name)
            self.spark.sql(query).createOrReplaceTempView(vname)
            self.views[vname] = query
            return None
        md = _DROP_RE.match(s)
        if md:
            name = _strip_ticks(md.group(4))
            self.tables.pop(name, None)
            self.views.pop(name, None)
            self.qualified = {
                k: v for k, v in self.qualified.items() if v != name
            }
            self._evict_hint_aliases(name)
            self.spark.catalog.dropTempView(name)
            return None
        if up.startswith("FROM ") or up.startswith("FROM\n"):
            out = self._multi_insert(s)
            if out is not NotImplemented:
                return out
        mi = _INSERT_RE.match(s)
        if mi and _strip_ticks(mi.group(2)) in self.tables:
            overwrite = mi.group(1).upper() == "OVERWRITE"
            return self.insert_into(
                _strip_ticks(mi.group(2)), mi.group(3), overwrite=overwrite
            )
        if "OVER" in up and up.startswith("SELECT"):
            # streaming SQL OVER / Top-N (Flink StreamExecOverAggregate
            # / StreamExecRank): Spark rejects window functions on
            # streaming plans at query start, so SELECTs with OVER(...)
            # route through sql_over — batch statements come straight
            # back (one Catalyst analysis, reused), streaming ones are
            # rerouted to the Python state operators or raise the
            # capability-matrix error for frames Flink rejects too.
            from .streaming.sql_over import route_streaming_select

            routed = route_streaming_select(self.spark, s)
            if routed is not None:
                return routed
        return self.spark.sql(s)

    # -- Hive-dialect multi-INSERT ----------------------------------------

    def _multi_insert(self, s: str) -> DataFrame | None:
        """``FROM <src> INSERT OVERWRITE [TABLE] sink1 SELECT ...
        INSERT INTO [TABLE] sink2 SELECT ...`` — the flagship HiveQL
        statement Flink's Hive dialect front door accepts
        (flink-sql-parser-hive; HiveParserDML multi-insert).

        Lowering: each branch becomes a single INSERT whose SELECT gets
        the shared source spliced in as its FROM clause; branches
        execute in order, routing to DDL-declared sinks (insert_into)
        or Spark catalog tables natively.

        Scan sharing follows execute_script's heuristic: a source that
        embeds COMPUTATION — a DDL-declared view, or a declared table
        with computed columns — is registered once as a LAZY
        localCheckpoint so the first branch materializes it and later
        branches read the checkpointed blocks (Hive/Flink's scan-once
        semantics where re-computing is the cost).  A PLAIN table scan
        is spliced verbatim per branch instead: each branch then gets
        its own column-pruned, filter-pushed scan, which beats
        materializing an unpruned ``SELECT *`` checkpoint (measured
        round 9 at sf0.1: 0.70 s for two pruned scans vs 1.46 s for
        checkpoint-once of a 16-column fact — and at 100 TB the
        unpruned materialization is the scale hazard, not the extra
        scan).  Composite sources (joins, subqueries) also splice
        verbatim.

        Returns NotImplemented when the text is not a multi-insert
        (e.g. a plain ``FROM``-first SELECT, which Spark parses).
        """
        # the statement's own ';'-split drops its comments, so no spliced
        # source or branch can end inside one
        s = " ".join(lex(s).split(";"))
        offs = [t.start for t in lex(s).keywords
                if t.depth == 0 and t.text.upper() == "INSERT"]
        if not offs:
            return NotImplemented
        src = s[4 : offs[0]].strip()
        branches = [
            s[a:b].strip()
            for a, b in zip(offs, offs[1:] + [len(s)])
        ]
        # simple `table [AS alias]` COMPUTED source with a SHUFFLE in
        # its plan → checkpoint-once view; plain scans AND map-only
        # computed sources splice verbatim (per-branch pruned,
        # filter-pushed scans).  Round-10 refinement of the round-9
        # measurement: checkpointing pays only when the view holds an
        # aggregate/join/window/sort whose shuffle would otherwise
        # re-run per branch (measured 1.2-1.5x at sf0.01/0.1); for a
        # map-only view the checkpoint is a wash locally and at scale
        # it is the unpruned-SELECT-* materialization hazard the plain
        # scan path already avoids.
        sm = re.match(
            r"^([\w.`]+)(?:\s+(?:AS\s+)?(?!INSERT\b)(\w+))?$",
            src, re.IGNORECASE)
        from_text = src
        view: str | None = None
        if sm:
            base = _strip_ticks(sm.group(1))
            ct = self.tables.get(base)
            computed_src = base in self.views or (
                ct is not None and bool(ct.computed))
            if computed_src:
                df = self.spark.sql(f"SELECT * FROM {sm.group(1)}")
                plan = df._jdf.queryExecution().optimizedPlan().toString()
                shuffles = ("Aggregate", "Join", "Window", "Sort",
                            "Distinct", "Deduplicate", "Expand")
                computed_src = any(f"{w} " in plan or f"{w}\n" in plan
                                   or f"{w}[" in plan for w in shuffles)
            if computed_src:
                view = f"__mi_src_{self._mi_n}"
                self._mi_n += 1
                ck = df.localCheckpoint(eager=False)
                ck.createOrReplaceTempView(view)
                # Always alias the checkpoint view: with no explicit
                # alias, branch SELECTs qualifying columns with the
                # source's (simple) name — normal Hive multi-insert
                # style — must keep resolving.
                from_text = f"{view} {sm.group(2) or base.split('.')[-1]}"
                self.last_script_reuse[view] = {
                    "sinks": len(branches),
                    "view_plan": ck._jdf.queryExecution()
                    .optimizedPlan().toString(),
                }
        try:
            for b in branches:
                bm = _MI_BRANCH_RE.match(b)
                if not bm:
                    raise ValueError(f"unparseable multi-INSERT branch: {b!r}")
                verb, sink, body = bm.groups()
                if re.match(r"^PARTITION\s*\(", body, re.IGNORECASE):
                    raise ValueError(
                        "multi-INSERT PARTITION specs are unsupported — "
                        "declare the sink PARTITIONED BY and let the "
                        "writer partition (documented delta)")
                query = _splice_from(body, from_text)
                sink_name = _strip_ticks(sink)
                if sink_name in self.tables:
                    self.insert_into(
                        sink_name, query,
                        overwrite=verb.upper() == "OVERWRITE")
                else:
                    self.spark.sql(f"INSERT {verb} {sink} {query}")
        finally:
            if view is not None:
                self.spark.catalog.dropTempView(view)
        return None

    # -- multi-catalog (CatalogManager / GenericInMemoryCatalog) ---------

    def _resolve_name(self, raw: str) -> tuple[str, str, str]:
        """1/2/3-part table name → (catalog, database, table) against
        the current context (Flink CatalogManager.qualifyIdentifier)."""
        parts = _strip_ticks(raw).split(".")
        cat, db = self.current
        if len(parts) == 1:
            return cat, db, parts[0]
        if len(parts) == 2:
            return cat, parts[0], parts[1]
        if len(parts) == 3:
            return parts[0], parts[1], parts[2]
        raise ValueError(f"too many name parts in {raw!r}")

    def _check_db(self, cat: str, db: str) -> None:
        if cat not in self.catalogs:
            raise ValueError(f"unknown catalog {cat!r} "
                             f"(known: {sorted(self.catalogs)})")
        if db not in self.catalogs[cat]:
            raise ValueError(
                f"unknown database {db!r} in catalog {cat!r} "
                f"(known: {sorted(self.catalogs[cat])})")

    @staticmethod
    def _view_name(cat: str, db: str, tbl: str) -> str:
        if (cat, db) == ("default_catalog", "default_database"):
            return tbl  # default path keeps the plain session name
        return f"__cat_{cat}__{db}__{tbl}"

    def _catalog_statement(self, s: str):
        """Handle catalog/database statements; NotImplemented → not one."""
        up = re.sub(r"\s+", " ", s).upper()
        m = re.match(r"^CREATE CATALOG (\w+)(?: WITH \(|$)", up)
        if m:
            name = re.match(r"^create\s+catalog\s+(\w+)", s,
                            re.IGNORECASE).group(1)
            props = _props(s)
            ctype = props.get("type", "generic_in_memory")
            if ctype != "generic_in_memory":
                raise ValueError(
                    f"CREATE CATALOG: unsupported type {ctype!r} "
                    "(generic_in_memory only; Hive goes through "
                    "sources/hive.HiveCatalog)")
            db0 = props.get("default-database", "default")
            self.catalogs.setdefault(name, set()).add(db0)
            self._default_db.setdefault(name, db0)
            return None
        m = re.match(r"^DROP CATALOG (?:IF EXISTS )?(\w+)$", up)
        if m:
            name = s.split()[-1].replace("`", "")
            if name == "default_catalog":
                raise ValueError("cannot drop the default catalog")
            if name == self.current[0]:
                raise ValueError("cannot drop the current catalog")
            self.catalogs.pop(name, None)
            self._default_db.pop(name, None)
            return None
        m = re.match(r"^USE CATALOG (\w+)$", up)
        if m:
            name = s.split()[-1].replace("`", "")
            if name not in self.catalogs:
                raise ValueError(f"unknown catalog {name!r}")
            self.current = (name, self._default_db[name])
            return None
        # Per-verb IF [NOT] EXISTS qualifiers: a shared alternation
        # would accept the mismatched forms (CREATE DATABASE IF EXISTS
        # / DROP DATABASE IF NOT EXISTS), which Flink's parser rejects.
        m = re.match(r"^(CREATE) DATABASE (?:IF NOT EXISTS )?([\w.]+)$", up) \
            or re.match(r"^(DROP) DATABASE (?:IF EXISTS )?([\w.]+)$", up)
        if m:
            raw = s.split()[-1].replace("`", "")
            parts = raw.split(".")
            cat = self.current[0] if len(parts) == 1 else parts[0]
            db = parts[-1]
            if cat not in self.catalogs:
                raise ValueError(f"unknown catalog {cat!r}")
            if m.group(1) == "CREATE":
                self.catalogs[cat].add(db)
            else:
                if (cat, db) == self.current:
                    raise ValueError("cannot drop the current database")
                self.catalogs[cat].discard(db)
                dropped = {
                    k: v for k, v in self.qualified.items()
                    if (k[0], k[1]) == (cat, db)
                }
                self.qualified = {
                    k: v for k, v in self.qualified.items()
                    if k not in dropped
                }
                # the mangled __cat_ views must go with their mappings,
                # or a later same-named declaration serves stale data
                for alias in dropped.values():
                    self.tables.pop(alias, None)
                    self._evict_hint_aliases(alias)
                    self.spark.catalog.dropTempView(alias)
            return None
        m = re.match(r"^USE ([\w.]+)$", up)
        if m and up != "USE CATALOG":
            raw = re.match(r"^use\s+([\w.`]+)$", s, re.IGNORECASE).group(1)
            parts = _strip_ticks(raw).split(".")
            cat = self.current[0] if len(parts) == 1 else parts[0]
            db = parts[-1]
            if cat in self.catalogs and db in self.catalogs[cat]:
                self.current = (cat, db)
                return None
            return NotImplemented  # not ours → Spark USE <database>
        if up == "SHOW CATALOGS":
            return self.spark.createDataFrame(
                [(c,) for c in sorted(self.catalogs)], "catalog_name string")
        if up == "SHOW CURRENT CATALOG":
            return self.spark.createDataFrame(
                [(self.current[0],)], "current_catalog_name string")
        if up == "SHOW DATABASES":
            return self.spark.createDataFrame(
                [(d,) for d in sorted(self.catalogs[self.current[0]])],
                "database_name string")
        if up == "SHOW CURRENT DATABASE":
            return self.spark.createDataFrame(
                [(self.current[1],)], "current_database_name string")
        return NotImplemented

    @staticmethod
    def _from_list_commas(s: str) -> set[int]:
        """Offsets of the commas that separate FROM-list table
        references: from each FROM keyword to the clause keyword or
        closing paren that ends its list, at the FROM's own depth.  Every
        other comma separates select-list items or call arguments."""
        toks, kws = lex(s).toks, set(lex(s).keywords)
        out: set[int] = set()
        for i, t in enumerate(toks):
            if t not in kws or t.text.upper() != "FROM":
                continue
            for u in toks[i + 1:]:
                if u.depth < t.depth or (u.depth == t.depth and u in kws
                                         and u.text.upper() in _FROM_LIST_ENDERS):
                    break
                if u.depth == t.depth and u.text == ",":
                    out.add(u.start)
        return out

    def _qualify_names(self, s: str) -> str:
        """Rewrite registered catalog-qualified table references (and,
        under a non-default current context, bare registered names) to
        their session view aliases — outside string literals, like the
        FLIP-113 hint rewrite."""
        if not self.qualified:
            return s
        if _CREATE_TABLE_HEAD_RE.match(s):
            return s  # a declaration's own name must not re-mangle
        pats: list[tuple[str, str, bool]] = []
        cur_cat, cur_db = self.current
        for (cat, db, tbl), alias in self.qualified.items():
            # anchored at the optional opening backtick, so a quoted
            # path (`cat`.`db`.`t`) matches at its first token
            pats.append((
                rf"(?<![\w.`])`?{re.escape(cat)}`?\s*\.\s*`?{re.escape(db)}`?"
                rf"\s*\.\s*`?{re.escape(tbl)}`?(?!\w)", alias, False))
            if cat == cur_cat:
                pats.append((
                    rf"(?<![\w.`])`?{re.escape(db)}`?\s*\.\s*`?"
                    rf"{re.escape(tbl)}`?(?![\w.])", alias, False))
            if (cat, db) == (cur_cat, cur_db) and alias != tbl:
                # Bare registered names rewrite ONLY in table positions
                # (after FROM/JOIN/INTO/TABLE/UPDATE/OVERWRITE) — an
                # unanchored pattern would also mangle a column or alias
                # that happens to share the table's name (``SELECT x AS
                # orders_q``); the matched keyword is re-emitted.
                pats.append((
                    rf"\b((?i:FROM|JOIN|INTO|TABLE|UPDATE|OVERWRITE))\s+"
                    rf"`?{re.escape(tbl)}`?(?![\w.])",
                    rf"\1 {alias}", False))
                # FROM-list continuation (``FROM a, b``): rewrite the
                # comma-separated members too, but ONLY inside a
                # FROM-list span — a comma anywhere else separates
                # select-list items / call arguments where the same
                # name is a column's.
                pats.append((
                    rf"(,\s*)`?{re.escape(tbl)}`?(?![\w.])",
                    rf"\g<1>{alias}", True))
        commas = self._from_list_commas(s)
        for pat, repl, flist_only in pats:
            out, last = [], 0
            for m in re.finditer(pat, s):
                # a FROM-list continuation (``FROM a, b``) rewrites only
                # at a comma that separates table references — one inside
                # a subquery or call-argument list separates columns /
                # arguments (``FROM t1, (SELECT x, orders FROM o) sub``
                # must not rewrite the inner column)
                if not lex(s).is_code(m.start()) or (
                        flist_only and m.start() not in commas):
                    continue
                out.append(s[last:m.start()])
                out.append(m.expand(repl))
                last = m.end()
            if out:
                out.append(s[last:])
                s = "".join(out)
                commas = self._from_list_commas(s)
        return s

    # -- FLIP-113 dynamic table options ----------------------------------

    def _apply_table_hints(self, s: str) -> str:
        """Rewrite ``t /*+ OPTIONS('k'='v') */`` references (Flink 1.11's
        FLIP-113 dynamic table options, public tree
        flink-table/flink-table-planner-blink
        ``.../hint/FlinkHints.java``): the hinted options override the
        declared table's WITH properties for this statement only.

        Mechanism: register the merged table under a one-shot alias view
        and substitute the alias for the hinted reference — the declared
        table itself is untouched (per-query scope, Flink semantics).
        Hints on names this catalog doesn't know are STRIPPED (the
        table-ref hint position is Flink grammar — Spark's parser
        rejects it — and undeclared tables have no WITH options to
        override, which is also Flink's behavior for non-catalog refs);
        the original (possibly backtick-quoted) reference is preserved.

        Aliases are cached per (table, override-set), so a session that
        repeats the same hinted query reuses one alias instead of
        growing the catalog per statement; ``create_table``/``DROP`` of
        the base name evict its aliases (a re-CREATE with different
        schema/props must not serve a stale merge).  Stream-only
        connectors (kafka/datagen) get the alias registered without a
        batch view — ``stream_table(alias)`` serves it.

        Hints are lexer tokens, so hint-shaped text inside a string
        literal or a comment is left alone.
        """
        from dataclasses import replace as _dc_replace

        if "/*+" not in s:
            return s

        def repl(ref: str, overrides: dict[str, str]) -> str:
            name = _strip_ticks(ref)
            ct = self.tables.get(name)
            if ct is None or not overrides:
                return ref  # keep the reference verbatim, drop the hint
            cache_key = (name, tuple(sorted(overrides.items())))
            alias = self._hint_aliases.get(cache_key)
            if alias is None:
                alias = f"{name.replace('.', '_')}__hint{self._hint_n}"
                self._hint_n += 1
                self._hint_aliases[cache_key] = alias
                self.tables[alias] = _dc_replace(
                    ct, name=alias, props={**ct.props, **overrides}
                )
                try:
                    self.batch_table(alias).createOrReplaceTempView(alias)
                except ValueError:
                    pass  # stream-only connector: stream_table(alias) serves it
            return alias

        toks = lex(s).toks
        out, last = [], 0
        for i, t in enumerate(toks):
            if (t.text != "/*+" or i + 1 == len(toks)
                    or toks[i + 1].text.upper() != "OPTIONS"):
                continue
            end = next((u for u in toks[i + 1:] if u.kind == "hint"), None)
            # the hinted name: the adjacent word / `ident` / '.' run
            j = i
            while j > 0 and (toks[j - 1].kind in ("word", "ident")
                             or toks[j - 1].text == ".") and (
                    j == i or toks[j - 1].end == toks[j].start):
                j -= 1
            if end is None or end.text != "*/" or j == i:
                continue
            out.append(s[last:toks[j].start])
            out.append(repl(s[toks[j].start:toks[i - 1].end],
                            _props(s[t.end:end.start])))
            last = end.end
        return "".join(out) + s[last:]

    # -- CREATE TABLE ----------------------------------------------------

    def _set_statement(self, key: str | None, value: str | None) -> DataFrame | None:
        """sql-client SET: with no args, list the session conf (a
        DataFrame, like Spark's native SET); with key=value, apply it —
        known Flink config keys route to their Spark twins
        (_FLINK_CONF_MAP), everything else is set verbatim."""
        if key is None:
            return self.spark.sql("SET")
        k = _strip_quotes(key)
        v = _strip_quotes(value)
        if k == "table.sql-dialect":
            if v.lower() not in _SQL_DIALECTS:
                raise ValueError(
                    f"unknown SQL dialect {v!r} "
                    f"(supported: {_SQL_DIALECTS})")
            # recorded for introspection; both dialects route to
            # Spark's Hive-descended parser (see _SQL_DIALECTS note)
        spark_key = _FLINK_CONF_MAP.get(k, k)
        self.spark.conf.set(spark_key, v)
        self._set_keys.add(spark_key)
        return None

    # -- sql-client catalog introspection --------------------------------

    def _show_tables(self) -> DataFrame:
        """SHOW TABLES incl. DECLARED tables that have no batch scan yet
        (a sink-only CREATE TABLE is listed by Flink's sql-client even
        though nothing is readable) — Spark's native SHOW TABLES only
        sees registered views, so declared-only names are appended."""
        if self.current != ("default_catalog", "default_database"):
            # non-default context: only this catalog.database's tables,
            # by their simple names (Flink sql-client scoping)
            names = sorted(
                tbl for (cat, db, tbl) in self.qualified
                if (cat, db) == self.current
            )
            return self.spark.createDataFrame(
                [("", n, True) for n in names],
                self.spark.sql("SHOW TABLES").schema,
            )
        native = self.spark.sql(
            "SHOW TABLES").where("tableName NOT LIKE '\\_\\_cat\\_%'")
        listed = {r.tableName for r in native.collect()}
        extra = [
            ("", name, True)
            for name in sorted(self.tables)
            if name not in listed and not name.startswith("__cat_")
        ]
        if not extra:
            return native
        return native.unionByName(
            self.spark.createDataFrame(extra, native.schema)
        )

    def _describe(self, name: str) -> DataFrame:
        """DESCRIBE of a DECLARED table renders the DECLARATION — the
        Flink sql-client shape: physical columns with NOT NULL, computed
        columns with their expression, and the WATERMARK row — rather
        than Spark's view of whatever backing scan happens to exist."""
        ct = self.tables[name]
        rows = [
            (n, t.upper() + (" NOT NULL" if nn else ""), None)
            for n, t, nn in ct.columns
        ]
        rows += [
            (n, "COMPUTED", f"AS {expr}") for n, expr in ct.computed.items()
        ]
        if ct.watermark_col:
            rows.append(
                ("WATERMARK", "", f"FOR {ct.watermark_col} AS {ct.watermark_col}"
                 f" - INTERVAL '{ct.watermark_delay}'")
            )
        if ct.primary_key:
            rows.append(("PRIMARY KEY", "", ", ".join(ct.primary_key)))
        return self.spark.createDataFrame(
            rows, "col_name string, data_type string, comment string"
        )

    # -- multi-sink common-subgraph reuse --------------------------------
    #
    # Flink shares optimized subgraphs across the sinks of one job
    # (flink-table/flink-table-planner-blink
    # ``.../StreamCommonSubGraphBasedOptimizer.scala``): a view feeding
    # two INSERTs is planned and executed once.  Spark re-executes a
    # temp view's plan per action, so execute_script renders the same
    # guarantee with a LAZY localCheckpoint (the round-5 lesson: lazy
    # beats eager for multi-read pipelines — eager serializes
    # materialization before downstream stages overlap): the first
    # sink's action materializes the view's RDD once, the second sink
    # scans the checkpointed blocks, and the source is read ONCE.

    def script_shared_views(
        self, stmts: Sequence[str]
    ) -> tuple[dict[str, int], dict[str, str]]:
        """(view -> referencing-INSERT count for views hit by >= 2
        INSERTs of this script, in-script view definitions)."""
        inscript: dict[str, str] = {}
        for s in stmts:
            t = s.strip().rstrip(";").strip()
            m = _CREATE_VIEW_RE.match(t)
            if m:
                inscript[_strip_ticks(m.group(3))] = m.group(4)
        inserts = [
            s for s in stmts
            if _INSERT_RE.match(s.strip().rstrip(";").strip())
        ]
        shared: dict[str, int] = {}
        for name in set(self.views) | set(inscript):
            pat = re.compile(rf"(?<![\w`.]){re.escape(name)}(?![\w.])")
            n = sum(1 for s in inserts if pat.search(s.replace("`", "")))
            if n >= 2:
                shared[name] = n
        return shared, inscript

    def checkpoint_view(self, name: str, sinks: int) -> None:
        ck = self.spark.table(name).localCheckpoint(eager=False)
        ck.createOrReplaceTempView(name)
        self.last_script_reuse[name] = {
            "sinks": sinks,
            "view_plan": ck._jdf.queryExecution().optimizedPlan().toString(),
        }

    def restore_view(self, name: str) -> None:
        """Drop the script-scoped checkpoint registration: the view
        resolves to its defining query again (Flink's reuse scope is
        the job; ours is the script).  Stored view text is
        pre-expansion (see execute), so MATCH_RECOGNIZE factors are
        re-expanded here with the same statement-scoped cleanup."""
        q = self.views.get(name)
        if q is None:
            return
        if "MATCH_RECOGNIZE" in q.upper():
            from .extensions import match_recognize as _mr

            expanded, factor_views = _mr.expand_mr_factors(self.spark, q)
            try:
                self.spark.sql(expanded).createOrReplaceTempView(name)
            finally:
                for v in factor_views:
                    self.spark.catalog.dropTempView(v)
            return
        self.spark.sql(q).createOrReplaceTempView(name)

    def _alter_rename(self, old: str, new: str) -> None:
        """Flink 1.11 ALTER TABLE ... RENAME TO (SqlAlterTableRename):
        the declaration, its qualified mapping, any registered view and
        its hint aliases all move to the new name.  The OLD qualified
        key is dropped (querying the old name raises table-not-found,
        as Flink's CatalogManager does) and the new name gets its own
        qualified entry so fully-qualified references resolve.  The
        rename stays within the table's catalog.database (Flink's
        GenericInMemoryCatalog.renameTable takes a simple name)."""
        from dataclasses import replace as _dcr

        ct = self.tables.get(old)
        if ct is None:
            raise ValueError(f"ALTER TABLE: unknown declared table {old!r}")
        old_keys = [k for k, v in self.qualified.items() if v == old]
        cat, db, _tbl = old_keys[0] if old_keys else (*self.current, old)
        if "." in new:
            ncat, ndb, ntbl = self._resolve_name(new)
            if (ncat, ndb) != (cat, db):
                raise ValueError(
                    "ALTER TABLE ... RENAME TO: the new name must stay "
                    f"in {cat}.{db} (Flink renames within one database)")
        else:
            ntbl = new
        new_alias = self._view_name(cat, db, ntbl)
        if new_alias in self.tables:
            raise ValueError(f"ALTER TABLE: target name {new!r} exists")
        del self.tables[old]
        self._evict_hint_aliases(old)
        self.tables[new_alias] = _dcr(ct, name=new_alias)
        for k in old_keys:
            del self.qualified[k]
        self.qualified[(cat, db, ntbl)] = new_alias
        self.views.pop(old, None)
        if any(v.name == old for v in self.spark.catalog.listTables()
               if v.tableType == "TEMPORARY"):
            self.spark.table(old).createOrReplaceTempView(new_alias)
            self.spark.catalog.dropTempView(old)
        return None

    def _evict_hint_aliases(self, name: str) -> None:
        """Drop every cached hint alias of a base table: after DROP +
        re-CREATE with different WITH props/schema, a repeated hinted
        query must re-merge against the new declaration, not serve the
        stale alias view."""
        for key in [k for k in self._hint_aliases if k[0] == name]:
            alias = self._hint_aliases.pop(key)
            self.tables.pop(alias, None)
            self.spark.catalog.dropTempView(alias)

    def create_table(self, ct: CreateTable) -> None:
        conn = ct.connector
        if conn not in _KNOWN_CONNECTORS:
            raise ValueError(
                f"unknown connector {conn!r} (supported: {_KNOWN_CONNECTORS})"
            )
        self._evict_hint_aliases(ct.name)
        self.tables[ct.name] = ct
        # Source-side eager registration where a batch scan exists now;
        # sink/stream-only tables stay declared until used.
        if conn == "filesystem":
            import os

            if os.path.exists(ct.props.get("path", "")):
                self.batch_table(ct.name).createOrReplaceTempView(ct.name)
        elif conn == "jdbc":
            self.batch_table(ct.name).createOrReplaceTempView(ct.name)

    # -- reads -----------------------------------------------------------

    def _apply_computed(self, df: DataFrame, ct: CreateTable) -> DataFrame:
        from pyspark.sql import functions as F

        for name, expr in ct.computed.items():
            df = df.withColumn(name, F.expr(expr))
        return df

    def batch_table(self, name: str) -> DataFrame:
        ct = self.tables[name]
        conn = ct.connector
        if conn == "filesystem":
            from .sources.files import read_table

            fmt = ct.props.get("format", "parquet")
            schema = ct.spark_schema_ddl() if ct.columns else None
            df = read_table(self.spark, ct.props["path"], fmt, schema)
            return self._apply_computed(df, ct)
        if conn == "jdbc":
            r = self.spark.read.format("jdbc")
            for k, v in ct.props.items():
                if k not in ("connector",):
                    r = r.option(k.replace("table-name", "dbtable"), v)
            return self._apply_computed(r.load(), ct)
        raise ValueError(f"connector {conn!r} has no batch scan (table {name})")

    def stream_table(self, name: str) -> DataFrame:
        ct = self.tables[name]
        conn = ct.connector
        if conn == "filesystem":
            from .table_env import TableSpec

            # Flink filesystem-source streaming knobs → Spark reader
            # options ('source.max-files-per-trigger' mirrors the role
            # of Flink's source.monitor-interval pacing)
            opts = {
                "maxFilesPerTrigger": v
                for k, v in ct.props.items()
                if k == "source.max-files-per-trigger"
            }
            spec = TableSpec(
                path=ct.props["path"],
                fmt=ct.props.get("format", "parquet"),
                computed=dict(ct.computed),
                watermark_col=ct.watermark_col,
                watermark_delay=ct.watermark_delay,
                schema=ct.spark_schema_ddl() if ct.columns else None,
                stream_options=opts,
            )
            return spec.stream(self.spark)
        if conn == "datagen":
            from .sources.files import datagen_stream

            rps = int(ct.props.get("rows-per-second", "100"))
            df = datagen_stream(self.spark, rps)
            df = self._apply_computed(df, ct)
            if ct.watermark_col and ct.watermark_delay:
                df = df.withWatermark(ct.watermark_col, ct.watermark_delay)
            return df
        if conn == "kafka":
            from .sources.kafka import kafka_stream_reader

            return kafka_stream_reader(self.spark, ct.props)  # broker at runtime
        raise ValueError(f"connector {conn!r} has no stream scan (table {name})")

    # -- INSERT INTO -----------------------------------------------------

    def insert_into(
        self, name: str, query: str, overwrite: bool = False
    ) -> DataFrame | None:
        """INSERT INTO appends; INSERT OVERWRITE replaces (Flink batch
        filesystem-sink semantics)."""
        ct = self.tables[name]
        df = self.spark.sql(query)
        conn = ct.connector
        if conn == "filesystem":
            from .sources.files import write_table

            write_table(
                df,
                ct.props["path"],
                ct.props.get("format", "parquet"),
                partition_by=ct.partitioned_by,
                mode="overwrite" if overwrite else "append",
            )
            # a filesystem sink becomes scannable immediately (Flink's
            # batch INSERT visibility); refresh the view
            self.batch_table(name).createOrReplaceTempView(name)
            return None
        if conn == "print":
            df.show(truncate=False)
            return None
        if conn == "blackhole":
            df.write.format("noop").mode("overwrite").save()
            return None
        if conn == "jdbc":
            w = df.write.format("jdbc").mode("append")
            for k, v in ct.props.items():
                if k != "connector":
                    w = w.option(k.replace("table-name", "dbtable"), v)
            w.save()
            return None
        raise ValueError(f"connector {conn!r} is not writable (table {name})")

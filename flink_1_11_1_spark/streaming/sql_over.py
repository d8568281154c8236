"""Streaming SQL OVER / Top-N routing (SURVEY.md §3.7/§3.8 stream SQL).

Flink 1.11 plans two SQL shapes on streams that Spark's Structured
Streaming rejects at query start (NON_TIME_WINDOW_NOT_SUPPORTED):

- running OVER aggregates ordered by the rowtime attribute
  (flink-table-planner-blink .../physical/stream/
  StreamExecOverAggregate.scala), and
- the Top-N rank pattern ``SELECT ... FROM (SELECT ...,
  ROW_NUMBER() OVER (PARTITION BY k ORDER BY v DESC) AS rn FROM t)
  WHERE rn <= N`` (StreamExecRank.scala).

``route_streaming_select`` recognizes both in ``ddl.execute``-routed
SELECT statements whose plan is streaming and dispatches to the Python
operators that already implement the semantics (``over.running_over``
and ``over.TopNRetractWriter``); batch statements fall straight through
to Catalyst (the analyzed DataFrame is returned untouched).  Frames /
orders Flink itself rejects raise ``UnsupportedStreamingPlan`` with the
capability-matrix style message instead of Spark's late generic one.

Text discipline: every scan reads the shared lexer (``sql_lex``), so
quotes, comments, backtick identifiers and parens mean what they mean
to Spark's parser — no greedy regex over SQL text.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..sql_lex import lex
from .capability import UnsupportedStreamingPlan

_OVER_RE = re.compile(r"\bOVER\s*\(", re.IGNORECASE)
_SELECT_RE = re.compile(r"^\s*SELECT\s+", re.IGNORECASE)

# named capability row (VERDICT r11 missing #2): Flink 1.11 ships
# ProcTime{Rows,Range}Bounded/UnboundedPreceding OVER functions; their
# arrival-order results are nondeterministic by nature and have no
# micro-batch equivalent here.
_PROCTIME_ERR = (
    "processing-time OVER (ORDER BY PROCTIME()) is not supported — "
    "order by the watermarked rowtime attribute instead (this engine "
    "implements Flink 1.11's rowtime OVER family "
    "RowTime{Rows,Range}{Bounded,Unbounded}Preceding; the ProcTime* "
    "variants are arrival-order-nondeterministic)")


def _has_over(text: str) -> bool:
    """True when an OVER keyword appears OUTSIDE quotes/comments (a
    string literal containing 'OVER (' must not trigger routing —
    review finding)."""
    return any(t.text.upper() == "OVER" for t in lex(text).keywords)

# clause keywords that end the FROM part / are unsupported at top level
_TAIL_KWS = ("GROUP", "HAVING", "ORDER", "LIMIT", "UNION", "INTERSECT",
             "EXCEPT", "WINDOW", "QUALIFY")


def _top_words(s: str) -> list:
    """Depth-0 keyword / name tokens of ``s``."""
    return [t for t in lex(s).keywords if t.depth == 0]


def _proctime_ordered(s: str) -> bool:
    """True when the text contains ``ORDER BY PROCTIME()`` outside
    quotes/comments (any depth — OVER specs are parenthesized).  Checked
    before Catalyst sees the statement: the PROCTIME shim resolves to
    current_timestamp(), which Spark rejects as a window order with an
    opaque nondeterminism error instead of the capability row."""
    kws = set(lex(s).keywords)
    toks = [t.text.upper() for t in lex(s).toks
            if t in kws or t.text in ("(", ")")]
    pat = ["ORDER", "BY", "PROCTIME", "(", ")"]
    return any(toks[i:i + 5] == pat for i in range(len(toks) - 4))


def _split_select(s: str) -> tuple[str, str] | None:
    """``SELECT <list> FROM <rest>`` → (list, rest); None if not that shape."""
    m = _SELECT_RE.match(s)
    if not m:
        return None
    pos = next((t.start for t in _top_words(s)
                if t.start >= m.end() and t.text.upper() == "FROM"), -1)
    if pos < 0:
        return None
    return s[m.end():pos].strip(), s[pos + 4:].strip()


def _strip_name(c: str) -> str:
    from ..group_windows import _strip_time_qualifier

    return _strip_time_qualifier(c)


@dataclass
class _OverSpec:
    partition_by: tuple[str, ...]
    order_by: str
    kind: str          # rows | range
    size: int | None   # None=unbounded; rows: row count; range: ms


_FRAME_RE = re.compile(
    r"^(ROWS|RANGE)\s+(?:BETWEEN\s+)?(.*?)\s+PRECEDING"
    r"(?:\s+AND\s+(CURRENT\s+ROW))?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _parse_over_spec(spec: str) -> _OverSpec:
    up = spec.strip()
    m = re.match(
        r"^(?:PARTITION\s+BY\s+(?P<part>.*?))?\s*ORDER\s+BY\s+(?P<tail>.*)$",
        up, re.IGNORECASE | re.DOTALL)
    if not m:
        raise UnsupportedStreamingPlan(
            "streaming OVER requires ORDER BY the rowtime attribute "
            "(Flink: StreamExecOverAggregate)")
    part = tuple(
        _strip_name(c) for c in lex(m.group("part")).split(",")
    ) if m.group("part") else ()
    tail = m.group("tail").strip()
    fm = re.search(r"\b(ROWS|RANGE)\b", tail, re.IGNORECASE)
    order_txt = tail[: fm.start()].strip() if fm else tail
    frame_txt = tail[fm.start():].strip() if fm else ""
    if re.search(r"\bDESC\b", order_txt, re.IGNORECASE):
        raise UnsupportedStreamingPlan(
            "streaming OVER supports only ASCENDING rowtime order "
            "(Flink rejects ORDER BY ... DESC on streams too)")
    order_col = _strip_name(re.sub(r"\bASC\b", "", order_txt,
                                   flags=re.IGNORECASE).strip())
    if re.fullmatch(r"PROCTIME\s*\(\s*\)", order_col, re.IGNORECASE):
        raise UnsupportedStreamingPlan(_PROCTIME_ERR)
    if not re.fullmatch(r"\w+", order_col):
        raise UnsupportedStreamingPlan(
            f"streaming OVER ORDER BY must be a single rowtime column, "
            f"got {order_txt!r}")
    if not frame_txt:
        return _OverSpec(part, order_col, "range", None)  # SQL default
    fmm = _FRAME_RE.match(frame_txt)
    if not fmm:
        raise UnsupportedStreamingPlan(
            f"unsupported streaming OVER frame {frame_txt!r} — only "
            "ROWS/RANGE ... PRECEDING AND CURRENT ROW (Flink 1.11's "
            "stream frames)")
    kind = fmm.group(1).lower()
    bound = fmm.group(2).strip()
    if bound.upper() == "UNBOUNDED":
        return _OverSpec(part, order_col, kind, None)
    if kind == "rows":
        if not re.fullmatch(r"\d+", bound):
            raise UnsupportedStreamingPlan(
                f"ROWS frame bound must be an integer, got {bound!r}")
        return _OverSpec(part, order_col, "rows", int(bound))
    from ..group_windows import _interval_ms

    return _OverSpec(part, order_col, "range", _interval_ms(bound))


_AGG_ITEM_RE = re.compile(r"^\s*(\w+)\s*\(", re.IGNORECASE)
_ALIAS_RE = re.compile(r"^\s*(?:AS\s+)?`?(\w+)`?\s*$", re.IGNORECASE)

_RANKS = {"ROW_NUMBER", "RANK", "DENSE_RANK", "NTILE", "PERCENT_RANK",
          "CUME_DIST", "LAG", "LEAD", "FIRST_VALUE", "LAST_VALUE"}
_AGGS = {"SUM", "COUNT", "AVG", "MIN", "MAX"}


def _parse_over_item(item: str):
    """``FN(args) OVER (spec) [AS alias]`` → (fn, arg, spec, alias)."""
    m = _AGG_ITEM_RE.match(item)
    if not m:
        raise UnsupportedStreamingPlan(
            f"streaming OVER select item must be a plain "
            f"aggregate-call item, got {item!r}")
    fn = m.group(1).upper()
    args, close = lex(item).call(m.end() - 1)
    rest = item[close + 1:]
    mo = re.match(r"\s*OVER\s*(\()", rest, re.IGNORECASE)
    if not mo:
        raise UnsupportedStreamingPlan(
            f"could not parse OVER clause in select item {item!r}")
    spec_args, spec_close = lex(rest).call(mo.end(1) - 1)
    spec = ", ".join(a for a in spec_args)
    alias_txt = rest[spec_close + 1:]
    alias = None
    if alias_txt.strip():
        ma = _ALIAS_RE.match(alias_txt)
        if not ma:
            raise UnsupportedStreamingPlan(
                f"could not parse alias in select item {item!r}")
        alias = ma.group(1)
    if fn in _RANKS:
        raise UnsupportedStreamingPlan(
            f"{fn} on a stream is only supported as the Top-N pattern "
            "SELECT ... FROM (SELECT ..., ROW_NUMBER() OVER (...) AS rn "
            "FROM t) WHERE rn <= N (Flink: StreamExecRank)")
    if fn not in _AGGS:
        raise UnsupportedStreamingPlan(
            f"unsupported streaming OVER aggregate {fn} — "
            "SUM/COUNT/AVG/MIN/MAX (Flink 1.11's stream OVER set)")
    if len(args) != 1:
        raise UnsupportedStreamingPlan(
            f"{fn} takes exactly one argument in streaming OVER")
    arg = args[0].strip()
    if re.match(r"^DISTINCT\b", arg, re.IGNORECASE):
        raise UnsupportedStreamingPlan(
            "DISTINCT aggregates are not supported in streaming OVER")
    if arg == "*":
        if fn != "COUNT":
            raise UnsupportedStreamingPlan(f"{fn}(*) is not valid")
        arg = None
    return fn, arg, spec, alias


def _norm_expr(e: str) -> str:
    e = e.replace("`", "").lower()
    e = re.sub(r"\s+", " ", e).strip()
    return re.sub(r"\s*([(),])\s*", r"\1", e)


def _item_alias_map(items: list[str]) -> dict[str, str]:
    """normalized select-item expression → its output column name, so a
    rank ORDER BY written against the aggregate expression (Flink
    idiom: ``ORDER BY sum(v) DESC``) resolves to the snapshot column."""
    out: dict[str, str] = {}
    ma_plain = re.compile(r"^\s*(?:`?\w+`?\s*\.\s*)?`?(\w+)`?\s*$")
    ma_alias = re.compile(
        r"^(?P<expr>.+?)\s+(?:AS\s+)?`?(?P<alias>\w+)`?\s*$",
        re.IGNORECASE | re.DOTALL)
    for it in items:
        mp = ma_plain.match(it)
        if mp:
            out[_norm_expr(it)] = mp.group(1)
            continue
        mal = ma_alias.match(it)
        if mal and mal.group("expr").count("(") == mal.group("expr").count(")"):
            out[_norm_expr(mal.group("expr"))] = mal.group("alias")
            out[_norm_expr(mal.group("alias"))] = mal.group("alias")
    return out


class StreamingTopN:
    """Handle for a routed streaming Top-N statement.

    Flink's StreamExecRank emits an updating table; the micro-batch
    rendering depends on the inner's changelog mode, mirroring Flink's
    operator selection:

    - updating inner (an Aggregate in the analyzed plan) → complete-mode
      snapshot re-ranked per trigger (``over.TopNRetractWriter`` —
      SURVEY.md §8.3's documented replacement;
      RetractableTopNFunction's role);
    - insert-only inner → append mode merged against the bounded prior
      Top-N snapshot (``over.AppendOnlyTopNWriter`` —
      AppendOnlyTopNFunction parity, round 12).

    Either way rank revisions land as a retract stream; read the folded
    current Top-N with ``changelog.read_retracts`` + ``fold_retracts``,
    or ``snapshot()`` for a one-call DataFrame.
    """

    is_streaming = True

    def __init__(self, inner: DataFrame, partition_by: list[str],
                 order_by: list, n: int, select_items: list[str],
                 rank_col: str = "rn", append_only: bool = False):
        self.inner = inner
        self.partition_by = partition_by
        self.order_by = order_by
        self.n = n
        self.select_items = select_items
        self.rank_col = rank_col
        self.append_only = append_only
        self._workdir: str | None = None

    def start(self, workdir: str, checkpoint_dir: str | None = None):
        import tempfile

        from .over import AppendOnlyTopNWriter, TopNRetractWriter

        self._workdir = workdir
        cls = AppendOnlyTopNWriter if self.append_only else TopNRetractWriter
        sink = cls(
            self.partition_by, self.order_by, self.n, workdir,
            rank_col=self.rank_col)
        return (
            self.inner.writeStream
            .outputMode("append" if self.append_only else "complete")
            .foreachBatch(sink)
            .option(
                "checkpointLocation",
                checkpoint_dir or tempfile.mkdtemp(prefix="topn_ckpt_"),
            )
            .start()
        )

    def snapshot(self, spark: SparkSession) -> DataFrame:
        """Folded current Top-N (after the stream has processed input)."""
        from . import changelog

        if self._workdir is None:
            raise ValueError("start() the Top-N stream first")
        recs_df = changelog.read_retracts(spark, self._workdir)
        data_cols = [c for c in recs_df.columns
                     if c not in ("add", "batch_id", "seq")]
        recs = [(r["add"], tuple(r[c] for c in data_cols))
                for r in recs_df.collect()]
        folded = changelog.fold_retracts(recs)
        out = spark.createDataFrame(
            folded, recs_df.select(*data_cols).schema)
        if self.select_items != ["*"]:
            out = out.selectExpr(*self.select_items)
        return out


def _has_streaming_aggregate(jplan) -> bool:
    """True when the analyzed logical plan contains an Aggregate node
    over a streaming subtree (py4j tree walk — a batch aggregate in a
    scalar subquery must NOT count: its rank inner is still
    insert-only)."""
    if (jplan.getClass().getSimpleName() == "Aggregate"
            and jplan.isStreaming()):
        return True
    it = jplan.children().iterator()
    while it.hasNext():
        if _has_streaming_aggregate(it.next()):
            return True
    return False


def _try_topn(spark: SparkSession, s: str):
    """Recognize the rank pattern; returns StreamingTopN, a batch
    DataFrame (pattern present but source not streaming → None to fall
    through), or None when the text is not the pattern."""
    split = _split_select(s)
    if not split:
        return None
    outer_list, rest = split
    if not rest.startswith("("):
        return None
    try:  # matching close paren of the derived table
        _args, close = lex(rest).call(0)
    except ValueError:
        return None
    inner = rest[1:close].strip()
    after = rest[close + 1:].strip()
    ma = re.match(r"^(?:AS\s+)?(?:`?\w+`?)?\s*WHERE\s+(.*)$", after,
                  re.IGNORECASE | re.DOTALL)
    if not ma:
        return None
    pred = ma.group(1).strip()
    isplit = _split_select(inner)
    if not isplit:
        return None
    inner_list, inner_rest = isplit
    items = lex(inner_list).split(",")
    rn_idx, rn_alias, rn_spec = -1, None, None
    for i, it in enumerate(items):
        m = re.match(
            r"^\s*ROW_NUMBER\s*\(\s*\)\s*OVER\s*(\()", it, re.IGNORECASE)
        if m:
            spec_args, spec_close = lex(it).call(m.end(1) - 1)
            ma2 = _ALIAS_RE.match(it[spec_close + 1:])
            if not ma2:
                return None
            rn_idx, rn_alias = i, ma2.group(1)
            rn_spec = ", ".join(spec_args)
    if rn_idx < 0:
        return None
    inner_no_rank = (
        "SELECT "
        + ", ".join(it for i, it in enumerate(items) if i != rn_idx)
        + " FROM " + inner_rest
    )
    try:
        df_inner = spark.sql(inner_no_rank)
    except Exception:
        return None  # odd inner shape: let Catalyst judge the original
    if not df_inner.isStreaming:
        return None  # batch rank: Catalyst handles the original text
    # from here the statement IS a streaming rank — recognized-but-
    # unsupported variants raise the capability-style errors
    mp = re.match(
        rf"^(?:`?\w+`?\s*\.\s*)?`?{re.escape(rn_alias)}`?\s*(<=|<|=)\s*(\d+)\s*$",
        pred, re.IGNORECASE)
    if not mp:
        raise UnsupportedStreamingPlan(
            "streaming Top-N requires the outer predicate to be "
            f"{rn_alias} <= N (Flink: StreamExecRank rank range)")
    op, num = mp.group(1), int(mp.group(2))
    if op == "=" and num != 1:
        raise UnsupportedStreamingPlan(
            "rank = N is only supported for N = 1 on streams")
    n = num if op == "<=" else (num - 1 if op == "<" else num)
    if n < 1:
        raise UnsupportedStreamingPlan("Top-N needs N >= 1")
    # classify the inner from its ANALYZED PLAN (round-11 review: a
    # text scan for GROUP missed aggregates behind views/subqueries;
    # round-12 review: a SUBSTRING scan of the plan string spuriously
    # matched batch-side aggregates in scalar subqueries, so walk the
    # tree and require an Aggregate node whose own subtree is
    # STREAMING) — an updating aggregate snapshots in complete mode; an
    # insert-only inner routes to the append-merge writer (Flink:
    # StreamExecRank selects AppendOnlyTopNFunction for insert-only)
    append_only = not _has_streaming_aggregate(
        df_inner._jdf.queryExecution().analyzed())
    m = re.match(
        r"^(?:PARTITION\s+BY\s+(?P<part>.*?))?\s*ORDER\s+BY\s+(?P<ord>.*)$",
        rn_spec.strip(), re.IGNORECASE | re.DOTALL)
    if not m:
        raise UnsupportedStreamingPlan(
            "ROW_NUMBER OVER needs ORDER BY for streaming Top-N")
    if _proctime_ordered(rn_spec):
        raise UnsupportedStreamingPlan(_PROCTIME_ERR)
    from pyspark.sql import functions as F

    alias_map = _item_alias_map(
        [it for i, it in enumerate(items) if i != rn_idx])

    def _resolve(c: str) -> str:
        if re.fullmatch(r"(?:`?\w+`?\s*\.\s*)?`?\w+`?", c.strip()):
            return _strip_name(c)
        got = alias_map.get(_norm_expr(c))
        if got is None:
            raise UnsupportedStreamingPlan(
                f"streaming Top-N ORDER BY expression {c!r} must "
                "reference an inner select column or its expression")
        return got

    part_cols = [
        _resolve(c) for c in lex(m.group("part")).split(",")
    ] if m.group("part") else []
    order_cols = []
    for c in lex(m.group("ord")).split(","):
        desc = bool(re.search(r"\bDESC\b", c, re.IGNORECASE))
        name = _resolve(
            re.sub(r"\b(ASC|DESC)\b", "", c, flags=re.IGNORECASE).strip())
        order_cols.append(F.col(name).desc() if desc else F.col(name).asc())
    outer_items = lex(outer_list).split(",")
    if rn_alias in df_inner.columns:
        raise UnsupportedStreamingPlan(
            f"the rank alias {rn_alias!r} collides with an inner output "
            "column — rename one (the rank column is materialized under "
            "that name in the retract stream)")
    return StreamingTopN(df_inner, part_cols, order_cols, n, outer_items,
                         rank_col=rn_alias, append_only=append_only)


def route_streaming_select(spark: SparkSession, s: str):
    """Entry point from ``ddl._execute_routed``: route a SELECT whose
    text contains OVER(...).  Returns a DataFrame (batch statements —
    the one Catalyst analysis is reused), a ``StreamingTopN`` handle, a
    rerouted streaming DataFrame, or None (not OVER-shaped; caller
    falls through to ``spark.sql``)."""
    if not _SELECT_RE.match(s) or not _has_over(s):
        return None
    topn = _try_topn(spark, s)
    if topn is not None:
        return topn
    try:
        df_full = spark.sql(s)
    except Exception as exc:
        # a proctime window order never survives analysis (the PROCTIME
        # shim is current_timestamp(), nondeterministic in a window) —
        # surface the named capability row, not Spark's generic error
        # (round-12 review: the earlier unconditional pre-raise also
        # caught BATCH statements whose analysis would have succeeded).
        # Chain the original (ADVICE r12): an unrelated analysis failure
        # (missing table, typo'd column) in a PROCTIME-ordered statement
        # must stay visible underneath the capability message.
        if _proctime_ordered(s):
            raise UnsupportedStreamingPlan(_PROCTIME_ERR) from exc
        raise
    if not df_full.isStreaming:
        return df_full
    if _proctime_ordered(s):
        raise UnsupportedStreamingPlan(_PROCTIME_ERR)
    split = _split_select(s)
    if not split:
        raise UnsupportedStreamingPlan(
            "could not parse the streaming OVER statement (WITH/CTE "
            "shapes are not routed — materialize a view first)")
    select_list, rest = split
    if re.match(r"^\s*DISTINCT\b", select_list, re.IGNORECASE):
        raise UnsupportedStreamingPlan(
            "SELECT DISTINCT over a streaming OVER aggregate is not "
            "supported (deduplicate the result explicitly)")
    for t in _top_words(rest):
        if t.text.upper() in _TAIL_KWS:
            raise UnsupportedStreamingPlan(
                f"streaming OVER statements cannot carry a top-level "
                f"{t.text.upper()} clause (Flink plans OVER before these too)")
    items = lex(select_list).split(",")
    aggs: list[tuple[str, str | None, str]] = []
    specs: set[tuple] = set()
    final_items: list[str] = []
    for i, it in enumerate(items):
        if not _has_over(it):
            final_items.append(it)
            continue
        fn, arg, spec_txt, alias = _parse_over_item(it)
        spec = _parse_over_spec(spec_txt)
        specs.add((spec.partition_by, spec.order_by, spec.kind, spec.size))
        out_name = alias or f"over_{i}"
        aggs.append((fn.lower(), arg, out_name))
        final_items.append(f"`{out_name}`")
    if not aggs:
        # OVER appears only inside a derived table / subquery, so no
        # top-level select item carries it (ADVICE r11: specs.pop() on
        # the empty set raised KeyError instead of this message).
        raise UnsupportedStreamingPlan(
            "streaming OVER must appear in the top-level select list — "
            "an OVER inside a derived table/subquery is not routed; "
            "materialize the inner OVER as a routed view first")
    if len(specs) > 1:
        raise UnsupportedStreamingPlan(
            "all OVER aggregates in one streaming statement must share "
            "one window specification (Flink: one StreamExecOverAggregate "
            "per statement input)")
    spec = _OverSpec(*specs.pop())
    input_df = spark.sql(f"SELECT * FROM {rest}")
    for _, _, out_name in aggs:
        # mirror the Top-N route's rank-alias collision check (ADVICE
        # r11): running_over appends the aggregate column to the input
        # schema, so an alias equal to an input column yields a
        # duplicate field and a late ambiguous-column error.
        if out_name in input_df.columns:
            raise UnsupportedStreamingPlan(
                f"the OVER aggregate alias {out_name!r} collides with an "
                "input column — rename the alias (the aggregate is "
                "materialized under that name next to the input columns)")
    if spec.order_by not in input_df.columns:
        raise UnsupportedStreamingPlan(
            f"ORDER BY column {spec.order_by} not found in the source")
    meta = input_df.schema[spec.order_by].metadata or {}
    if "spark.watermarkDelayMs" not in meta:
        raise UnsupportedStreamingPlan(
            f"streaming OVER requires ORDER BY the watermarked rowtime "
            f"attribute; {spec.order_by} carries no watermark "
            "(declare WATERMARK FOR in the table DDL or withWatermark)")
    from .over import running_over

    result = running_over(
        input_df, list(spec.partition_by), spec.order_by, aggs,
        (spec.kind, spec.size),
    )
    return result.selectExpr(*final_items)

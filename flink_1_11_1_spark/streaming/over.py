"""Streaming OVER aggregates + Top-N (SURVEY.md §3.7/§3.8 stream rows).

Reference parity:
- ``running_sum`` — StreamExecOverAggregate /
  RowTimeRowsUnboundedPrecedingFunction (flink-table-runtime-blink
  operators/over/): per-key running aggregate in event-time order.
  Faithful semantics require exactly Flink's trick: BUFFER rows in keyed
  state and only fold+emit those at or below the current WATERMARK —
  later-arriving earlier rows would otherwise corrupt the running value.
  ``applyInPandasWithState`` exposes the watermark
  (``GroupState.getCurrentWatermarkMs``), so the operator is a direct
  translation; rows above the watermark stay buffered for a later
  trigger (the replay flush sentinel drains them at end of input).
- ``TopNRetractWriter`` — the capability matrix's documented
  replacement for streaming Top-N: recompute the Top-N of each
  complete-mode aggregate snapshot per trigger and render the rank
  revisions as a StreamExecRank-style retract stream, executor-side
  (``changelog.RetractStreamWriter`` keyed by rank slot).
"""

from __future__ import annotations

import datetime as dt_mod
from collections.abc import Callable, Iterator, Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Event-time timer value meaning "no buffered rows — do not fire":
# 9999-12-31T23:59:59Z in epoch ms.  EventTimeTimeout requires a set
# timestamp > watermark; there is no clear-timer API, so an idle key's
# timer parks here (its state is the running accumulator, kept forever
# like Flink's OVER keyed state).
_PARK_TIMER_MS = 253402300799000

OVER_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("running_sum", DoubleType()),
    ]
)

_OVER_STATE = StructType(
    [
        StructField("acc", DoubleType()),
        StructField("ids", ArrayType(LongType())),
        StructField("tss", ArrayType(LongType())),  # epoch micros
        StructField("vals", ArrayType(DoubleType())),
    ]
)


def _running_sum_fold(key, rows: Iterator[pd.DataFrame], state):
    """Per-key fold of ``running_sum``."""
    parts = [p for p in rows if len(p)]
    if state.exists:
        acc, ids, tss, vals = state.get
        buf = list(zip(ids, tss, vals))
    else:
        acc, buf = 0.0, []
    for p in parts:
        for ev in p.itertuples():
            if pd.isna(ev.ts):
                # NULL/NaT rowtime (round-12 review): NaT.value is
                # int64-min, which sorts below any watermark and
                # overflows pd.Timestamp on emission — drop, like
                # running_over and Flink's rowtime operators.
                continue
            buf.append((int(ev.event_id), int(ev.ts.value // 1000), float(ev.value)))
    wm_us = state.getCurrentWatermarkMs() * 1000
    buf.sort(key=lambda r: (r[1], r[0]))
    out, keep = [], []
    for eid, ts_us, val in buf:
        if ts_us <= wm_us:
            acc += val
            out.append((key[0], eid, pd.Timestamp(ts_us * 1000), acc))
        else:
            keep.append((eid, ts_us, val))
    # ALWAYS update (round 11): skipping the update on a draining
    # timeout invocation left the stale buffer AND the expired timer
    # in the store — the timer re-fired every later trigger and
    # re-emitted the same rows (and a row arriving after the drain
    # would have seen the pre-drain accumulator).  When nothing is
    # buffered the timer is parked far-future: the accumulator is
    # keyed-state-forever, exactly Flink's OVER state contract.
    state.update(
        (acc, [r[0] for r in keep], [r[1] for r in keep], [r[2] for r in keep])
    )
    if keep:
        # event-time timer (Flink's registerEventTimeTimer): fire
        # when the watermark reaches the earliest buffered row, so
        # the tail drains even if the key receives no new input.
        state.setTimeoutTimestamp(
            max(min(r[1] for r in keep) // 1000, state.getCurrentWatermarkMs() + 1)
        )
    else:
        state.setTimeoutTimestamp(_PARK_TIMER_MS)
    if out:
        yield pd.DataFrame(out, columns=["user_id", "event_id", "ts", "running_sum"])


def running_sum(events: DataFrame) -> DataFrame:
    """Event-time running sum of ``value`` per ``user_id`` (ROWS
    UNBOUNDED PRECEDING, order ts/event_id), watermark-gated emission.

    Input columns: user_id, event_id, ts, value (stream must carry a
    watermark on ts).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..session import configure

    configure(events.sparkSession)
    return events.groupBy("user_id").applyInPandasWithState(
        _running_sum_fold, OVER_SCHEMA, _OVER_STATE, "append", GroupStateTimeout.EventTimeTimeout
    )


class TopNRetractWriter:
    """Per-trigger Top-N revision stream over a complete-mode aggregate
    snapshot, rendered executor-side as retract records.

    Flink's StreamExecRank emits the Top-N as an updating table —
    retract the row leaving a rank slot, add its replacement.  This
    adapter reproduces exactly that: each trigger ranks the snapshot
    (WindowGroupLimit plan), then delegates to
    ``changelog.RetractStreamWriter`` keyed by (partition, rank-slot),
    so a rank whose occupant changed appends ``(False, old)`` then
    ``(True, new)`` and the folded records table always equals the
    current Top-N (read with ``changelog.read_retracts``).  Nothing is
    collected on the driver — the round-5 version materialized n×keys
    rows per trigger."""

    def __init__(
        self,
        partition_by: Sequence[str],
        order_by: Sequence[Column],
        n: int,
        workdir: str,
        rank_col: str = "rn",
    ):
        from .changelog import RetractStreamWriter

        self.partition_by = list(partition_by)
        self.order_by = list(order_by)
        self.n = n
        self.rank_col = rank_col
        self._writer = RetractStreamWriter(
            [*self.partition_by, rank_col], workdir)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.rank import top_n

        ranked = top_n(batch_df, self.partition_by, self.order_by, self.n,
                       rank_col=self.rank_col)
        self._writer(ranked, batch_id)


class AppendOnlyTopNWriter(TopNRetractWriter):
    """Streaming Top-N over an INSERT-ONLY inner (round 12).

    Reference parity: flink-table-runtime-blink
    ``operators/rank/AppendOnlyTopNFunction.java`` — StreamExecRank
    selects it when the rank input produces no retractions; state is
    just the current Top-N buffer per partition, because on an
    append-only input a row that once fell outside the Top-N can never
    re-enter (new rows only push entries further down).

    Micro-batch rendering: an append-mode trigger delivers only the NEW
    rows, so the current Top-N is ``top_n(previous Top-N ∪ batch)``.
    The previous Top-N is exactly the RetractStreamWriter's own latest
    committed snapshot (bounded: n × #partitions rows on disk) — no
    second state store, and the restart/retry discipline is inherited:
    a fresh writer object resumes from the last committed snapshot and
    a retried batch id re-merges against its true predecessor.
    """

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.rank import top_n

        spark = batch_df.sparkSession
        w = self._writer
        prev_ids = [i for i in w._snapshot_ids() if i < batch_id]
        merged = batch_df
        if prev_ids:
            prev = spark.read.parquet(f"{w.workdir}/snap_b{prev_ids[-1]}")
            merged = prev.drop(self.rank_col).unionByName(batch_df)
        ranked = top_n(merged, self.partition_by, self.order_by, self.n,
                       rank_col=self.rank_col)
        self._writer(ranked, batch_id)


# ------------------------------------------------------------------
# Generic streaming OVER aggregate (round 11): the SQL front door's
# operator.  ``running_sum`` above stays as the fixed-schema façade the
# proven S-series fixtures use; this one is schema-generic (any
# flat input row, any PARTITION BY keys, SUM/COUNT/AVG/MIN/MAX over the
# four Flink 1.11 frames).  Reference parity:
# flink-table/flink-table-planner-blink
# .../physical/stream/StreamExecOverAggregate.scala (frame selection)
# and flink-table-runtime-blink operators/over/ (RowTime{Rows,Range}
# {Unbounded,Bounded}PrecedingFunction) — state = buffered not-yet-
# emittable rows + the frame's accumulators / retract tail, emission
# gated on the watermark exactly like ``running_sum``.
# Rows are JSON-serialized in state (the temporal join's discipline:
# schema-generic payloads; binary/nested columns rejected at wiring).
# ------------------------------------------------------------------

_FLAT_OK = (
    "string", "boolean", "byte", "short", "integer", "long",
    "float", "double", "timestamp", "date",
)

_INTEGRAL = ("byte", "short", "integer", "long")


def _plain(v):
    # numpy scalars / pandas NaN/NaT → JSON-serializable Python (the
    # NaN-is-NULL rule: _is_sql_null discipline from the MR fold);
    # dates round-trip as ordinals (review finding: a buffered DATE
    # or NaT row crashed json.dumps)
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, float):
        return None if v != v else v
    if hasattr(v, "item"):  # numpy scalar
        v = v.item()
        if isinstance(v, float) and v != v:
            return None
    if isinstance(v, dt_mod.datetime):
        return int(pd.Timestamp(v).value // 1000)
    if isinstance(v, dt_mod.date):
        return v.toordinal()
    return v


def _window_val(fn, vals, integral):
    vs = [v for v in vals if v is not None]
    if fn == "count":
        return len(vs)
    if not vs:
        return None
    if fn == "sum":
        s = sum(vs)
        return int(s) if integral else float(s)
    if fn == "avg":
        return float(sum(vs)) / len(vs)
    if fn == "min":
        return int(min(vs)) if integral else float(min(vs))
    return int(max(vs)) if integral else float(max(vs))


def _acc_add(acc, vals):
    for k, v in enumerate(vals):
        if v is None:
            continue
        acc["cnt"][k] += 1
        acc["sum"][k] += v
        acc["mn"][k] = v if acc["mn"][k] is None else min(acc["mn"][k], v)
        acc["mx"][k] = v if acc["mx"][k] is None else max(acc["mx"][k], v)


def running_over(
    events: DataFrame,
    partition_by: Sequence[str],
    order_by: str,
    aggs: Sequence[tuple[str, str | None, str]],
    frame: tuple[str, int | None] = ("range", None),
) -> DataFrame:
    """Event-time running OVER aggregate on a watermarked stream.

    - ``partition_by``: key columns (the OVER PARTITION BY list).
    - ``order_by``: the event-time (rowtime) column — ascending only,
      must carry the stream's watermark.
    - ``aggs``: (fn, value_expr, out_name) per aggregate; fn in
      sum/count/avg/min/max; value_expr None means COUNT(*).
    - ``frame``: ("rows"|"range", None) for UNBOUNDED PRECEDING, or
      ("rows", n) for ROWS n PRECEDING / ("range", ms) for RANGE
      INTERVAL ms PRECEDING — each ... AND CURRENT ROW.

    ROWS frames order ties by arrival; RANGE frames are peers-inclusive
    (every row of an equal-``order_by`` group sees the whole group), the
    SQL-default frame semantics — tie-insensitive for these aggregates.
    Output = every input column + one column per aggregate, emitted in
    event-time order once the watermark passes the row (late rows are
    dropped by Spark before the operator, as in Flink).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..session import configure

    configure(events.sparkSession)

    kind, size = frame
    if kind not in ("rows", "range"):
        raise ValueError(f"frame kind must be rows/range, got {kind!r}")
    for f_ in events.schema.fields:
        if f_.dataType.typeName() not in _FLAT_OK:
            raise ValueError(
                f"running_over: column {f_.name} has non-flat type "
                f"{f_.dataType.simpleString()} (JSON state; project it away)")
    if events.schema[order_by].dataType.typeName() != "timestamp":
        raise ValueError(f"ORDER BY column {order_by} must be TIMESTAMP")

    work = events
    metas: list[tuple[str, str, bool]] = []  # (fn, out_name, integral)
    for k, (fn, expr, out_name) in enumerate(aggs):
        fn = fn.lower()
        if fn not in ("sum", "count", "avg", "min", "max"):
            raise ValueError(f"unsupported OVER aggregate {fn!r}")
        work = work.withColumn(f"__oin{k}", F.expr(expr if expr else "1"))
        vt = work.schema[f"__oin{k}"].dataType.typeName()
        if fn != "count" and vt not in (*_INTEGRAL, "float", "double"):
            raise ValueError(
                f"{fn}({expr}) needs a numeric input, got {vt}")
        metas.append((fn, out_name, vt in _INTEGRAL))

    in_cols = list(events.columns)
    ts_cols = [
        f_.name for f_ in events.schema.fields
        if f_.dataType.typeName() == "timestamp"
    ]
    date_cols = [
        f_.name for f_ in events.schema.fields
        if f_.dataType.typeName() == "date"
    ]
    out_fields = list(events.schema.fields)
    for fn, out_name, integral in metas:
        if fn == "count":
            t = LongType()
        elif fn == "avg":
            t = DoubleType()
        else:
            t = LongType() if integral else DoubleType()
        out_fields.append(StructField(out_name, t))
    out_schema = StructType(out_fields)
    state_schema = StructType(
        [
            StructField("seq", LongType()),
            StructField("buf", ArrayType(StringType())),
            StructField("acc", StringType()),
        ]
    )
    n_aggs = len(metas)
    out_cols = in_cols + [m[1] for m in metas]

    def _acc_emit(acc, k):
        fn, _, integral = metas[k]
        if fn == "count":
            return acc["cnt"][k]
        if acc["cnt"][k] == 0:
            return None
        if fn == "sum":
            return int(acc["sum"][k]) if integral else float(acc["sum"][k])
        if fn == "avg":
            return float(acc["sum"][k]) / acc["cnt"][k]
        if fn == "min":
            return acc["mn"][k]
        return acc["mx"][k]

    def fn_state(key, rows: Iterator[pd.DataFrame], state: GroupState):
        import json

        parts = [p for p in rows if len(p)]
        if state.exists:
            seq, buf_json, acc_json = state.get
            buf = [json.loads(b) for b in buf_json]
            acc = json.loads(acc_json)
        else:
            seq = 0
            buf = []
            acc = {
                "cnt": [0] * n_aggs,
                "sum": [0] * n_aggs,
                "mn": [None] * n_aggs,
                "mx": [None] * n_aggs,
                "tail": [],
            }
        for p in parts:
            for d in p.to_dict("records"):
                vals = [_plain(d.pop(f"__oin{k}")) for k in range(n_aggs)]
                r = {}
                for c in in_cols:
                    v = d.get(c)
                    if c in ts_cols and v is not None and v == v \
                            and v is not pd.NaT:
                        r[c] = int(pd.Timestamp(v).value // 1000)
                    else:
                        r[c] = _plain(v)
                if r[order_by] is None:
                    # NULL/NaT rowtime (ADVICE r11): Flink's rowtime
                    # operators never see null event times — buffering
                    # "t": None made the buf.sort raise TypeError inside
                    # the executor.  Drop the row, like a late arrival.
                    continue
                buf.append({"s": seq, "t": r[order_by], "v": vals, "r": r})
                seq += 1
        wm_ms = state.getCurrentWatermarkMs()
        wm_us = wm_ms * 1000
        buf.sort(key=lambda e: (e["t"], e["s"]))
        ready = [e for e in buf if e["t"] <= wm_us]
        keep = [e for e in buf if e["t"] > wm_us]

        out: list[dict] = []

        def emit(e, agg_vals):
            row = dict(e["r"])
            for c in ts_cols:
                if row.get(c) is not None:
                    row[c] = pd.Timestamp(row[c] * 1000)
            for c in date_cols:
                if row.get(c) is not None:
                    row[c] = dt_mod.date.fromordinal(row[c])
            for (fn_, out_name, _), v in zip(metas, agg_vals):
                row[out_name] = v
            out.append(row)

        if size is None:
            if kind == "rows":
                for e in ready:
                    _acc_add(acc, e["v"])
                    emit(e, [_acc_emit(acc, k) for k in range(n_aggs)])
            else:  # range unbounded: peers-inclusive per ts group
                i = 0
                while i < len(ready):
                    j = i
                    while j < len(ready) and ready[j]["t"] == ready[i]["t"]:
                        j += 1
                    for e in ready[i:j]:
                        _acc_add(acc, e["v"])
                    vals_now = [_acc_emit(acc, k) for k in range(n_aggs)]
                    for e in ready[i:j]:
                        emit(e, vals_now)
                    i = j
        elif kind == "rows":
            tail = acc["tail"]  # most-recent-last val vectors
            for e in ready:
                window = (tail[-size:] if size else []) + [e["v"]]
                emit(e, [
                    _window_val(m[0], [w[k] for w in window], m[2])
                    for k, m in enumerate(metas)
                ])
                if size:
                    tail.append(e["v"])
                    del tail[:-size]
            acc["tail"] = tail
        else:  # range bounded: tail of [t, vals] within the interval
            tail = acc["tail"]
            i = 0
            while i < len(ready):
                j = i
                t_now = ready[i]["t"]
                while j < len(ready) and ready[j]["t"] == t_now:
                    j += 1
                lo = t_now - size * 1000  # size is ms, t is us
                tail = [tv for tv in tail if tv[0] >= lo]
                window = [tv[1] for tv in tail] + [e["v"] for e in ready[i:j]]
                vals_now = [
                    _window_val(m[0], [w[k] for w in window], m[2])
                    for k, m in enumerate(metas)
                ]
                for e in ready[i:j]:
                    emit(e, vals_now)
                tail.extend([e["t"], e["v"]] for e in ready[i:j])
                i = j
            acc["tail"] = tail

        # always update + park the timer when idle (see running_sum's
        # round-11 note: a non-updated draining timeout re-fires and
        # re-emits; the accumulator must survive the drain)
        state.update(
            (seq, [json.dumps(e) for e in keep], json.dumps(acc))
        )
        if keep:
            state.setTimeoutTimestamp(
                max(min(e["t"] for e in keep) // 1000, wm_ms + 1)
            )
        else:
            state.setTimeoutTimestamp(_PARK_TIMER_MS)
        if out:
            yield pd.DataFrame(out, columns=out_cols)

    return work.groupBy(*[F.col(c) for c in partition_by]).applyInPandasWithState(
        fn_state, out_schema, state_schema, "append",
        GroupStateTimeout.EventTimeTimeout,
    )

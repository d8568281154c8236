"""CEP-lite: keyed pattern matching with event-time state
(SURVEY.md §3.11, build-plan milestone M7).

Reference parity: flink-libraries/flink-cep nfa/NFA.java +
pattern/Pattern.java, SQL MATCH_RECOGNIZE via StreamExecMatch.  Scope is
the S6 subset — ``Pattern.begin(A).followedBy(B).within(t)`` per key —
the dominant production shape (funnel detection).

Semantics (contract shared by the streaming backend and the batch twin):
each A matches the FIRST B with ``a_ts <= b_ts <= a_ts + horizon`` (ties
by B event id); overlapping A-horizons may share a B; matched/expired A's
leave the pending set, so state is bounded by the horizon (Flink's
relative-time state cleanup).

The streaming backend is ``applyInPandasWithState`` (Spark 3.2+
Arrow-based GroupState; no extra deps): the pending A's are carried as
array columns of the group state.  Spark 4's ``transformWithStateInPandas``
would be the closer match to Flink's KeyedProcessFunction, but its state
protocol needs the ``protobuf`` python package.

``match_batch`` is the identical semantics as a batch window plan — the
standalone batch operator AND the oracle for the streaming tests.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)
from pyspark.sql.window import Window

MATCH_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("a_id", LongType()),
        StructField("b_id", LongType()),
        StructField("a_ts", TimestampType()),
        StructField("b_ts", TimestampType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("a_ids", ArrayType(LongType())),
        StructField("a_tss", ArrayType(LongType())),  # epoch micros
    ]
)


def _process_events(
    key: int,
    events: pd.DataFrame,
    pending: list[tuple[int, int]],
    horizon_us: int,
    strict: bool = False,
) -> tuple[list[tuple], list[tuple[int, int]]]:
    """Pure NFA step: fold a (ts, event_id)-sorted batch into state.

    ``strict=False``: followedBy (relaxed contiguity) — A stays pending
    through unrelated events until its first B or horizon expiry.
    ``strict=True``: next (strict contiguity) — any intervening event
    that is not a B-match clears the pending A (Flink Pattern.next()).
    Returns (matches, new_pending).
    """
    out: list[tuple] = []
    max_seen = 0
    for ev in events.itertuples():
        ts_us = int(ev.ts.value // 1000)  # pandas ns -> us
        max_seen = max(max_seen, ts_us)
        if ev.is_b and pending:
            matched = [
                (aid, ats) for aid, ats in pending if ats <= ts_us <= ats + horizon_us
            ]
            for aid, ats in sorted(matched):
                out.append(
                    (
                        key,
                        aid,
                        int(ev.event_id),
                        pd.Timestamp(ats * 1000),
                        pd.Timestamp(ts_us * 1000),
                    )
                )
            drop = set(matched)
            pending = [(a, t) for a, t in pending if (a, t) not in drop]
            if strict:
                pending = []
        elif ev.is_a:
            pending = [(int(ev.event_id), ts_us)] if strict else pending + [
                (int(ev.event_id), ts_us)
            ]
        elif strict:
            pending = []  # non-matching event breaks strict contiguity
    pending = [(a, t) for a, t in pending if t + horizon_us >= max_seen]
    return out, pending


def _sorted_batch(rows: Iterator[pd.DataFrame]) -> pd.DataFrame:
    parts = [p for p in rows if len(p)]
    if not parts:
        return pd.DataFrame(columns=["user_id", "event_id", "is_a", "is_b", "ts"])
    return pd.concat(parts, ignore_index=True).sort_values(["ts", "event_id"])


def _out_frame(out: list[tuple]) -> pd.DataFrame:
    return pd.DataFrame(out, columns=["user_id", "a_id", "b_id", "a_ts", "b_ts"])


# --------------------------------------- backend: applyInPandasWithState


def _match_stream_aip(events: DataFrame, horizon_s: int, strict: bool = False) -> DataFrame:
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    horizon_us = horizon_s * 1_000_000

    def fn(key, rows: Iterator[pd.DataFrame], state: GroupState):
        events_pd = _sorted_batch(rows)
        if state.exists:
            a_ids, a_tss = state.get
            pend = list(zip(a_ids, a_tss))
        else:
            pend = []
        out, pend = _process_events(key[0], events_pd, pend, horizon_us, strict)
        if pend:
            state.update(([a for a, _ in pend], [t for _, t in pend]))
        elif state.exists:
            state.remove()
        if out:
            yield _out_frame(out)

    return events.groupBy("user_id").applyInPandasWithState(
        fn, MATCH_SCHEMA, _STATE_SCHEMA, "append", GroupStateTimeout.NoTimeout
    )


A_COND = "event_type = 'signup'"
B_COND = "event_type = 'purchase'"


def _with_flags(events: DataFrame, a_cond: str, b_cond: str) -> DataFrame:
    """Predicate evaluation stays JVM-side: the stateful operator sees
    only boolean flags (Flink's IterativeCondition, pre-evaluated)."""
    return events.select(
        "user_id",
        "event_id",
        "ts",
        F.expr(a_cond).alias("is_a"),
        F.expr(b_cond).alias("is_b"),
    )


def match_stream(
    events: DataFrame,
    horizon_s: int = 3600,
    a_cond: str = A_COND,
    b_cond: str = B_COND,
    strict: bool = False,
) -> DataFrame:
    """Streaming A→B-within pattern over an events stream
    (columns: user_id, event_id, ts + whatever the conditions read)."""
    from ..session import configure

    configure(events.sparkSession)  # ships this package to executors
    return _match_stream_aip(_with_flags(events, a_cond, b_cond), horizon_s, strict)


# ----------------------------------------------------------- batch twin


def match_batch(
    events: DataFrame,
    horizon_s: int = 3600,
    a_cond: str = A_COND,
    b_cond: str = B_COND,
    strict: bool = False,
) -> DataFrame:
    """Identical pattern semantics as a batch plan (also the S6 oracle).

    Only caveat vs streaming: an A and B with *identical* ts match here
    regardless of event-id order, while the stream processes
    (ts, event_id)-ordered — absent in the fixtures.
    """
    if strict:
        # Pattern.next(): B must be the IMMEDIATELY following event of its
        # key — lag over the full event sequence, not a pair join.
        flagged = _with_flags(events, a_cond, b_cond)
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        seq = flagged.select(
            "*",
            F.lag("is_a").over(w).alias("_prev_a"),
            F.lag("event_id").over(w).alias("_prev_id"),
            F.lag("ts").over(w).alias("_prev_ts"),
        )
        return seq.where(
            F.col("is_b")
            & F.col("_prev_a")
            & (F.col("ts") <= F.col("_prev_ts") + F.expr(f"INTERVAL {horizon_s} SECOND"))
        ).select(
            "user_id",
            F.col("_prev_id").alias("a_id"),
            F.col("event_id").alias("b_id"),
            F.col("_prev_ts").alias("a_ts"),
            F.col("ts").alias("b_ts"),
        )
    a = events.where(a_cond).select(
        "user_id", F.col("event_id").alias("a_id"), F.col("ts").alias("a_ts")
    )
    b = events.where(b_cond).select(
        F.col("user_id").alias("b_user"), F.col("event_id").alias("b_id"),
        F.col("ts").alias("b_ts"),
    )
    pairs = a.join(
        b,
        (F.col("user_id") == F.col("b_user"))
        & (F.col("b_ts") >= F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr(f"INTERVAL {horizon_s} SECOND")),
    )
    w = Window.partitionBy("user_id", "a_id").orderBy("b_ts", "b_id")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("user_id", "a_id", "b_id", "a_ts", "b_ts")
    )


# ------------------------------------------------- oneOrMore quantifier


def match_one_or_more(
    events: DataFrame,
    horizon_s: int = 3600,
    a_cond: str = A_COND,
    b_cond: str = B_COND,
) -> DataFrame:
    """``Pattern.begin(A).oneOrMore().followedBy(B).within(t)`` (greedy):
    each B event closes over ALL pending A's within its horizon.

    Derivation: under the engine's relaxed-contiguity semantics every
    pending A matches its first B — so the A-set a B collects is exactly
    the group of (A, B) pairs sharing that B.  Batch realization: group
    ``match_batch`` by (key, b_id).  Streaming: all pairs for one B are
    emitted in a single processor invocation, so the same groupBy inside
    ``foreachBatch`` over ``match_stream`` output is exact.
    """
    pairs = match_batch(events, horizon_s, a_cond, b_cond)
    return pairs.groupBy("user_id", "b_id").agg(
        F.count("*").alias("n_a"),
        F.min("a_id").alias("first_a"),
        F.max("a_id").alias("last_a"),
        F.max("b_ts").alias("b_ts"),
    )

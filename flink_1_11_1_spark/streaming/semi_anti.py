"""Streaming semi / anti join (SURVEY.md §3.4 streaming rows).

Reference parity: flink-table-runtime-blink
join/stream/StreamingSemiAntiJoinOperator.java — `WHERE [NOT] EXISTS
(SELECT .. FROM right WHERE right.k = left.k)` on streams.  Flink emits
immediately and *retracts* when the right side changes; Spark micro-batch
has no retraction in append mode, so this operator renders the
append-only contract:

- a left row MATCHES iff some right row with the same key has event time
  ``r.ts <= l.ts + horizon`` (the horizon is the watermark-delay bound a
  Flink user expresses as idle-state retention; rights arriving later
  than that can no longer affect the row because the watermark has
  passed).
- **semi**: a matched left row is emitted the moment the match is known
  (right-before-left → immediately; left-before-right → when the right
  row arrives).  Unmatched rows are dropped at expiry.
- **anti**: a left row is emitted only at expiry — when the watermark
  passes ``l.ts + horizon`` with no match seen (the point where Flink's
  retracting operator's output also becomes final).

Implementation: both inputs are tag-unioned (connect.py pattern) into one
``applyInPandasWithState`` fold keyed by the join key, with
EVENT-TIME TIMEOUT for expiry — so idle keys still flush on watermark
progress alone.  Per-key state is ``min(right ts)`` (a single long —
sufficient because ``min_rts <= l.ts + horizon`` decides every match)
plus the pending left buffer.  State per key is O(lefts within horizon),
the same bound Flink's cleanup timers give; at 100 TB the fold shuffles
each row once on the join key and never broadcasts or collects.

The batch twin (the parity oracle in tests) is exactly
``EXISTS / NOT EXISTS (... AND r.ts <= l.ts + horizon)``.
"""

from __future__ import annotations

import functools
import json
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .pattern import _parse_interval

def _out_schema(key: str) -> StructType:
    """Output carries the JOIN KEY under its own name (round-13 review:
    a hardcoded ``user_id`` misnamed the column for any other key)."""
    return StructType(
        [
            StructField(key, LongType()),
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
        ]
    )


# legacy alias (the default-key schema) for callers/tests that import it
OUT_SCHEMA = _out_schema("user_id")

# min_right_ts (µs) + pending left rows json [(eid, ts_us)]
_STATE = StructType(
    [StructField("min_rts", LongType()), StructField("pending", StringType())]
)

# "no right seen yet" sentinel: far below any real epoch-µs value —
# -1 collided with legitimate pre-epoch timestamps (round-13 review)
_NO_RIGHT = -(2**62)

# park idle keys' timers far-future instead of leaving a stale expired
# timer in the store (no clear-timer API; same discipline as over.py —
# the round-11 lesson class)
_PARK_TIMER_MS = 253402300799000


def _tag_union(left: DataFrame, right: DataFrame, key: str) -> DataFrame:
    l = left.select(
        F.col(key), "ts", "event_id", F.lit(0).alias("side")
    )
    r = right.select(
        F.col(key), "ts", F.lit(None).cast("long").alias("event_id"),
        F.lit(1).alias("side"),
    )
    return l.unionByName(r)


def _semi_anti_fold(k, rows: Iterator[pd.DataFrame], state, *, horizon_us: int,
                    emit_on_match: bool, key: str):
    """Per-key fold of ``streaming_semi_anti_join``."""
    min_rts, pending = (
        (state.get[0], json.loads(state.get[1]))
        if state.exists
        else (_NO_RIGHT, [])
    )
    out: list[tuple] = []

    def flush(wm_us: int) -> None:
        nonlocal pending
        live = []
        for eid, lts in pending:
            if lts + horizon_us < wm_us:  # expired: no match can arrive
                if not emit_on_match:
                    out.append((k[0], eid, lts))
            else:
                live.append((eid, lts))
        pending = live

    wm_us = state.getCurrentWatermarkMs() * 1000
    if not state.hasTimedOut:
        parts = [p for p in rows if len(p)]
        if parts:
            batch = pd.concat(parts, ignore_index=True).sort_values(
                ["ts", "side"], ascending=[True, False]  # rights first on ties
            )
            for ev in batch.itertuples(index=False):
                ts_us = int(ev.ts.value // 1000)
                if ev.side == 1:  # right row
                    if min_rts == _NO_RIGHT or ts_us < min_rts:
                        min_rts = ts_us
                    resolved, live = [], []
                    for eid, lts in pending:
                        (resolved if lts + horizon_us >= ts_us else live).append(
                            (eid, lts)
                        )
                    if emit_on_match:
                        out.extend((k[0], eid, lts) for eid, lts in resolved)
                    pending = live
                else:  # left row
                    if min_rts != _NO_RIGHT and min_rts <= ts_us + horizon_us:
                        if emit_on_match:
                            out.append((k[0], int(ev.event_id), ts_us))
                    else:
                        pending.append((int(ev.event_id), ts_us))
    flush(wm_us)

    state.update((min_rts, json.dumps(pending)))
    if pending:
        next_ms = min(lts + horizon_us for _, lts in pending) // 1000 + 1
        state.setTimeoutTimestamp(max(next_ms, state.getCurrentWatermarkMs() + 1))
    else:
        # no clear-timer API: PARK the timer far-future, or the old
        # expired timestamp is written back with the state and this
        # key re-fires on every later trigger forever (round-13
        # review; the round-11 running_sum lesson class)
        state.setTimeoutTimestamp(_PARK_TIMER_MS)
    if out:
        yield pd.DataFrame(
            [
                (kk, eid, pd.Timestamp(lts * 1000))
                for kk, eid, lts in out
            ],
            columns=[key, "event_id", "ts"],
        )


def streaming_semi_anti_join(
    left: DataFrame,
    right: DataFrame,
    mode: str = "semi",
    horizon: str | int = "1 hour",
    key: str = "user_id",
) -> DataFrame:
    """Append-only streaming semi/anti join of ``left`` against ``right``.

    Inputs: DataFrames (streaming or batch-replayed through the same
    code path) with columns ``(key, ts, event_id)`` / ``(key, ts)``,
    already watermarked when streaming.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..session import configure

    if mode not in ("semi", "anti"):
        raise ValueError(f"mode must be semi|anti, got {mode!r}")
    configure(left.sparkSession)
    fold = functools.partial(
        _semi_anti_fold,
        horizon_us=_parse_interval(horizon) * 1_000_000,
        emit_on_match=mode == "semi",
        key=key,
    )
    return _tag_union(left, right, key).groupBy(key).applyInPandasWithState(
        fold, _out_schema(key), _STATE, "append", GroupStateTimeout.EventTimeTimeout
    )

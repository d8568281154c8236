"""State TTL — Flink 1.11 ``StateTtlConfig`` parity (public tree
flink-runtime ``state/ttl/StateTtlConfig.java`` + the TtlStateFactory
decorators): keyed state that EXPIRES a fixed duration after its last
qualifying update, with Flink's two update types and its strict
visibility rule.

Semantics rendered exactly:

- ``OnCreateAndWrite`` (Flink's default): the TTL clock restarts only
  when the state is created or written.  For dedup-first state, a
  suppressed duplicate READS the state but does not extend its life.
- ``OnReadAndWrite``: reads extend the TTL too — every arrival of the
  key keeps its state alive.
- ``NeverReturnExpired`` (Flink's default visibility): expiry is
  checked against the logical clock at ACCESS time — a key whose state
  outlived its TTL behaves as unseen the moment it is read.
- Cleanup is ACCESS-DRIVEN (expired state is overwritten when its key
  reappears), which is exactly Flink 1.11's DEFAULT: StateTtlConfig
  only removes expired state on read unless a cleanup strategy
  (``cleanupFullSnapshot`` / ``cleanupIncrementally`` /
  ``cleanupInRocksdbCompactFilter``) is explicitly configured —
  background cleanup is opt-in there too.  (A timer-based sweeper is
  deliberately NOT used here: Spark schedules continuous no-data
  micro-batches for processing-time timers, which burns a core per
  idle query — measured; correctness never needed it.)

Carrier operator: TTL-bounded deduplicate-first (the use StateTtlConfig
exists for — Flink's own docs use exactly this to bound dedup state).
A row is emitted iff its key has no LIVE state; emission (re)creates
the state with ``expire_at = now + ttl``.

Determinism seam: ``time_col`` names a LONG epoch-millis column used as
the logical clock (rows are processed in ascending logical time within
a batch), which makes the semantics unit-testable without wall-clock
sleeps — Flink's TTL tests inject a time provider the same way
(``TtlTimeProvider``).  Without it, processing time (wall clock at
executor batch time) drives expiry, matching Flink's production
behavior (StateTtlConfig is processing-time only in 1.11).

At scale: one shuffle on the key; per-key state is a single long.
"""

from __future__ import annotations

import functools
import time
from collections.abc import Iterator, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StructField, StructType

from .pattern import _parse_interval

_STATE = StructType([StructField("expire_at", LongType())])

UPDATE_TYPES = ("OnCreateAndWrite", "OnReadAndWrite")


def _dedup_first_fold(key, rows: Iterator[pd.DataFrame], state, *, ttl_ms: int,
                      extend_on_read: bool, cols: list[str],
                      time_col: str | None):
    """Per-key fold of ``dedup_first_ttl``."""
    expire_at = state.get[0] if state.exists else None
    parts = [p for p in rows if len(p)]
    if not parts:
        return
    batch = pd.concat(parts, ignore_index=True)
    if time_col is not None:
        batch = batch.sort_values(time_col, kind="stable")
    keep = []
    clock = (
        (int(v) for v in batch[time_col])
        if time_col is not None
        else (int(time.time() * 1000) for _ in range(len(batch)))
    )
    for i, now in zip(batch.index, clock):
        if expire_at is None or now >= expire_at:
            # state absent or expired-at-access (NeverReturnExpired):
            # this row is FIRST; (re)create the state
            keep.append(i)
            expire_at = now + ttl_ms
        elif extend_on_read:
            expire_at = now + ttl_ms
    state.update((expire_at,))
    if keep:
        yield batch.loc[keep, cols]


def dedup_first_ttl(
    events: DataFrame,
    keys: Sequence[str],
    ttl: str | int,
    update_type: str = "OnCreateAndWrite",
    time_col: str | None = None,
) -> DataFrame:
    """Keep-first dedup whose per-key memory expires after ``ttl``.

    ``events``: streaming DataFrame; output schema == input schema
    (the first row per key per TTL-window passes through).  ``ttl`` is
    a Flink interval string ("1 hour") or seconds.  ``time_col`` (LONG
    epoch ms) switches the TTL clock to that column for deterministic
    tests; omit for processing time.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..session import configure

    if update_type not in UPDATE_TYPES:
        raise ValueError(
            f"update_type must be one of {UPDATE_TYPES}, got {update_type!r}"
        )
    configure(events.sparkSession)
    fold = functools.partial(
        _dedup_first_fold,
        ttl_ms=int(_parse_interval(ttl) * 1000),
        extend_on_read=update_type == "OnReadAndWrite",
        cols=events.columns,
        time_col=time_col,
    )
    return events.groupBy(*keys).applyInPandasWithState(
        fold, events.schema, _STATE, "append", GroupStateTimeout.NoTimeout
    )

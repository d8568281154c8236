"""Connected streams / control-stream state (SURVEY.md §3.11
CoProcess / KeyedBroadcastProcessFunction row).

Pattern: two streams are UNIONED with a side tag into one keyed
stateful operator — the Spark rendering of Flink's
``a.connect(b).keyBy(...).process(CoProcessFunction)``.  The concrete
operator here is the canonical use: a control stream updates a per-key
threshold; the data stream is filtered by the threshold valid at each
row's event time (processed in (ts, id)-ordered fashion, threshold
carried in keyed state across micro-batches).

The batch twin is exactly an as-of join of data against the latest
control row at-or-before the data row's time — which is how the test
verifies the streaming path with the engine's own ``asof_join``.
"""

from __future__ import annotations

import functools
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

OUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
        StructField("threshold", DoubleType()),
    ]
)

_STATE = StructType([StructField("threshold", DoubleType())])


def tag_and_union(control: DataFrame, data: DataFrame) -> DataFrame:
    """(key, ts, ctrl_val, event_id, value, side) union of both inputs.

    control: (key, ts, threshold); data: (key, ts, event_id, value).
    """
    c = control.select(
        "key",
        "ts",
        F.col("threshold").alias("ctrl_val"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("double").alias("value"),
        F.lit(1).alias("side"),
    )
    d = data.select(
        "key",
        "ts",
        F.lit(None).cast("double").alias("ctrl_val"),
        "event_id",
        "value",
        F.lit(0).alias("side"),
    )
    return c.unionByName(d)


def _threshold_fold(key, rows: Iterator[pd.DataFrame], state, *,
                    default_threshold: float):
    """Per-key fold of ``dynamic_threshold_filter``."""
    parts = [p for p in rows if len(p)]
    if not parts:
        return
    # control rows FIRST on timestamp ties (side descending): the
    # declared batch twin is an inclusive as-of join (right_time <=
    # left_time), so a same-ts control update applies to the data
    # row — ascending side order applied the OLD threshold
    # (round-13 review; semi_anti.py sorts rights-first for the
    # same reason)
    batch = pd.concat(parts, ignore_index=True).sort_values(
        ["ts", "side", "event_id"], ascending=[True, False, True]
    )
    thr = state.get[0] if state.exists else default_threshold
    out = []
    for ev in batch.itertuples():
        if ev.side == 1:  # control row: update keyed threshold state
            thr = float(ev.ctrl_val)
        elif float(ev.value) >= thr:
            out.append(
                (key[0], int(ev.event_id), ev.ts, float(ev.value), thr)
            )
    state.update((thr,))
    if out:
        yield pd.DataFrame(
            out, columns=["key", "event_id", "ts", "value", "threshold"]
        )


def dynamic_threshold_filter(
    control: DataFrame, data: DataFrame, default_threshold: float = float("-inf")
) -> DataFrame:
    """Emit data rows whose value >= the key's threshold at their time."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..session import configure

    configure(control.sparkSession)
    fold = functools.partial(_threshold_fold,
                             default_threshold=default_threshold)
    return tag_and_union(control, data).groupBy("key").applyInPandasWithState(
        fold, OUT_SCHEMA, _STATE, "append", GroupStateTimeout.NoTimeout
    )

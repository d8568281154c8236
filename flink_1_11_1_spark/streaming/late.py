"""Late-data side output (SURVEY.md §3.11 row "Late-data handling" —
the ``WindowedStream#sideOutputLateData`` half of the contract; the
allowedLateness re-fire half is S18's update-mode rendering).

Flink tags rows that arrive behind the watermark with an OutputTag and
diverts them to a side stream.  Spark drops them inside the stateful
operator with only a counter (``numRowsDroppedByWatermark``).  This
adapter reconstructs the side output with the dual-watermark pattern
the survey prescribed: a SECOND, stateless consumer of the same source
replays the main query's watermark arithmetic (watermark = max event
time of PREVIOUS batches − delay, exactly Spark's update rule) and
appends the would-be-dropped rows to a side sink — executor-side
filtering and writes, per-batch idempotent paths; the driver holds no
row data, and the per-batch max event time is persisted as a marker
file under the sink so the watermark base survives driver restart and
is exact under foreachBatch retry (a retried batch N recomputes its
watermark from markers of batches < N only, never from its own rows).

Granularity delta, documented: Spark's window aggregate drops by
WINDOW END ≤ watermark, so a row can be row-late here yet still
absorbed by its open window there (delay-wide windows).  The adapter's
row-level rule (``ts < watermark``) is Flink's DataStream semantics —
the conservative superset; pass ``window_size`` to reproduce the
window-level rule instead (late iff the row's window END ≤ watermark,
matching numRowsDroppedByWatermark's accounting exactly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pattern import _parse_interval
from .wm_markers import marker_dir, prev_max_us, write_max_us


class LateSideOutput:
    """foreachBatch adapter: appends rows behind the replayed watermark
    to ``sink_path`` (parquet, per-batch idempotent subdirectory)."""

    def __init__(
        self,
        ts_col: str,
        delay: str | int,
        sink_path: str,
        window_size: str | int | None = None,
    ):
        self.ts_col = ts_col
        self.delay_us = _parse_interval(delay) * 1_000_000
        self.window_us = (
            _parse_interval(window_size) * 1_000_000 if window_size else None
        )
        self.sink_path = str(sink_path)
        self._wm_dir = marker_dir(self.sink_path, "LateSideOutput")
        # cached watermark base: (last_batch_id, max over batches <
        # last, max over batches <= last) — avoids re-listing every
        # marker per batch; a RETRY of last_batch_id must use the
        # before-last value (never its own rows), anything older falls
        # back to the disk scan
        self._base_cache: tuple[int, int | None, int | None] | None = None

    def _base_for(self, batch_id: int) -> int | None:
        """Cached watermark base with exact retry discipline; disk scan
        only on (re)start or an out-of-sequence batch id."""
        c = self._base_cache
        if c is not None:
            last, before_last, through_last = c
            if batch_id == last + 1:
                return through_last
            if batch_id == last:  # foreachBatch retry: exclude own rows
                return before_last
        return prev_max_us(self._wm_dir, batch_id)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        ts_us = F.unix_micros(F.col(self.ts_col))
        prev_max = self._base_for(batch_id)
        if prev_max is not None:
            batch_df.persist()  # one source scan feeds both filter+max
            wm_us = prev_max - self.delay_us
            if self.window_us:
                # window-level rule: late iff the row's window END <= wm.
                # Integer bucket arithmetic (pmod on longs) — float
                # division can misclassify a boundary row via double
                # rounding; pmod also floors for pre-epoch timestamps.
                w = F.lit(self.window_us)
                win_end = ts_us - F.pmod(ts_us, w) + w
                cond = win_end <= F.lit(wm_us)
            else:
                cond = ts_us < F.lit(wm_us)
            batch_df.where(cond).write.mode("overwrite").parquet(
                f"{self.sink_path}/b{batch_id}"
            )
        # watermark update rule: max event time of batches SEEN SO FAR
        # feeds the NEXT batch's watermark (Spark updates between
        # micro-batches).  Persist as a marker file, overwrite-idempotent.
        row = batch_df.agg(F.max(ts_us).alias("m")).first()
        if prev_max is not None:
            batch_df.unpersist()
        batch_max = int(row.m) if row and row.m is not None else None
        write_max_us(self._wm_dir, batch_id, batch_max)
        vals = [v for v in (prev_max, batch_max) if v is not None]
        self._base_cache = (batch_id, prev_max, max(vals) if vals else None)


def read_late_rows(spark: SparkSession, sink_path: str) -> DataFrame:
    """The captured side output across batches."""
    return spark.read.parquet(f"{sink_path}/b*")

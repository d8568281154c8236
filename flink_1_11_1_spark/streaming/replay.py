"""Deterministic file-stream replay harness (FIXTURES.md "Streaming
replays").

Reference parity: Flink's KeyedOneInputStreamOperatorTestHarness
(flink-streaming-java test util) drives operators record-by-record with
controlled watermarks; the Spark analogue is a file source consumed one
file per micro-batch — each file is one "chunk" of event-time, so
watermark progression across chunks is deterministic.

``write_replay`` splits the canonical ``events`` table into N
time-ordered parquet files; ``events_stream`` reads them back as a
watermarked stream (one file per trigger); ``run_stream`` drains to an
in-memory sink and returns the result rows plus the aggregate
``numRowsDroppedByWatermark`` observed — Flink's late-side-output
equivalent observable (SURVEY.md §3.11).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog


def write_replay_frames(
    frames: list[DataFrame], out_dir: str, start: int = 0
) -> list[str]:
    """Write explicit DataFrame chunks as sequential replay files.

    One parquet file per chunk, named and mtime-ordered so the file
    source replays them in this exact order (one per micro-batch).

    Driver-side write (round 13): replay chunks are tiny by design, and
    a Spark WRITE job over a local-data (python-RDD-backed) frame costs
    ~4.5 s of per-job python-worker spin-up — the dominant wall-clock of
    the whole streaming pytest tier (seal profile, round-13).  toArrow()
    + pyarrow writes the identical TIMESTAMP(MICROS)-encoded single file
    in ~0.3 s; the streaming source reads both the same way.
    """
    import glob
    import time

    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    # strictly increasing mtimes across CALLS too: the old ~4.5 s/chunk
    # Spark writes made cross-call monotonicity incidental; the fast
    # driver-side path must enforce it or a second call could stamp an
    # earlier mtime than a prior call's chunks and the file source
    # would replay out of order (round-13 review).
    prev = max(
        (os.path.getmtime(p)
         for p in glob.glob(os.path.join(out_dir, "chunk_*.parquet"))),
        default=0.0,
    )
    paths = []
    for i, chunk in enumerate(frames, start=start):
        dest = os.path.join(out_dir, f"chunk_{i:03d}.parquet")
        pq.write_table(chunk.toArrow(), dest)
        t = max(time.time() - len(frames) + i, prev + 0.001)
        os.utime(dest, (t, t))
        prev = t
        paths.append(dest)
    return paths


def flush_sentinel(ev: DataFrame) -> DataFrame:
    """One synthetic far-future row (event_id = -1, user_id = -1).

    Bounded Flink jobs emit a final +inf watermark that closes all open
    windows; Spark's file source does not, so an append-mode windowed agg
    would never emit its last window.  Replaying this sentinel as the
    final chunk advances the watermark past all real data — the Spark
    rendering of the final watermark.  The sentinel's own groups stay
    open/unmatched and thus never pollute output; filter ``user_id >= 0``
    where the key itself is output (e.g. deduplicate).
    """
    mx = ev.agg(F.max("ts")).first()[0]
    return ev.limit(1).select(
        F.lit(-1).cast("long").alias("event_id"),
        (F.lit(mx) + F.expr("INTERVAL 30 DAY")).alias("ts"),
        F.lit(-1).cast("long").alias("user_id"),
        F.lit("__flush__").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit(None).cast("string").alias("props"),
    )


def write_replay(
    spark: SparkSession, sf_dir: str, out_dir: str, parts: int = 6, flush: bool = True
) -> list[str]:
    """Split canonical events into ``parts`` sequential time chunks."""
    ev = catalog.load_table(spark, sf_dir, "events")
    qs = [(i + 1) / parts for i in range(parts - 1)]
    bounds = ev.selectExpr(
        f"percentile_approx(cast(ts as double), array({', '.join(map(str, qs))}), 10000) p"
    ).first().p
    frames = []
    lo = None
    for i in range(parts):
        hi = bounds[i] if i < parts - 1 else None
        chunk = ev
        if lo is not None:
            chunk = chunk.where(F.col("ts").cast("double") > lo)
        if hi is not None:
            chunk = chunk.where(F.col("ts").cast("double") <= hi)
        frames.append(chunk)
        lo = hi
    if flush:
        frames.append(flush_sentinel(ev.select(*frames[0].columns)))
    return write_replay_frames(frames, out_dir)


def events_stream(
    spark: SparkSession, replay_dir: str, watermark: str | None = "10 minutes"
) -> DataFrame:
    """Watermarked streaming read of a replay dir, one file per trigger."""
    schema = spark.read.parquet(os.path.join(replay_dir, "chunk_000.parquet")).schema
    out = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(replay_dir, "chunk_*.parquet"))
    )
    if watermark:
        out = out.withWatermark("ts", watermark)
    return out


def run_stream(
    out: DataFrame,
    output_mode: str = "append",
    name: str = "replay_result",
) -> tuple[list, int]:
    """Drain a streaming DataFrame to a memory sink; return (rows,
    total numRowsDroppedByWatermark across the run)."""
    import shutil
    import tempfile

    spark = out.sparkSession
    # a fresh directory per run: a fixed per-pid path could resume the
    # checkpoint a killed process left behind, whose file source already
    # counts every replay file as read
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    q = None
    try:
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        dropped = 0
        for p in q.recentProgress:
            for op in p["stateOperators"]:
                dropped += op.get("numRowsDroppedByWatermark", 0)
        rows = spark.sql(f"SELECT * FROM {name}").collect()
        return rows, dropped
    finally:
        if q is not None:
            q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)


class PunctuatedWatermark:
    """Punctuated watermark assignment (Flink's
    ``WatermarkGenerator.onEvent`` emitting on marker records — public
    tree flink-core ``api/common/eventtime/WatermarkGenerator.java``) as
    a ``foreachBatch`` adapter.

    Spark's ``withWatermark`` is bounded-out-of-orderness only (the
    watermark advances from observed event times minus a fixed delay);
    a source whose WATERMARK rides on explicit marker records (e.g. a
    CDC heartbeat) has no native Spark rendering.  This adapter keeps
    the current watermark as driver state: each micro-batch first
    advances the watermark to the max marker value seen, then splits
    the batch's data rows into on-time (ts >= current watermark is NOT
    required — on-time means ts > watermark-at-batch-start per Flink's
    "late if <= currentWatermark" contract) and late, handing both to
    the callback.

    Semantics delta vs Flink, documented: granularity is the
    micro-batch — a marker only gates rows in LATER batches (within one
    batch, Flink's per-record ordering of marker vs data is lost).  The
    S15 test pins exactly this contract against a hand-computed fold.
    """

    def __init__(
        self,
        marker_predicate: str,
        ts_col: str,
        on_batch,
    ):
        self.marker_predicate = marker_predicate
        self.ts_col = ts_col
        self.on_batch = on_batch
        self.watermark: int | None = None  # epoch micros

    def __call__(self, batch_df, batch_id: int) -> None:
        from pyspark.sql import functions as F

        wm_start = self.watermark
        # coalesce(..., false): a NULL predicate means "not a marker" —
        # the row must flow downstream as data, never silently vanish
        # into neither branch (Flink routes every non-marker record on).
        data = batch_df.where(f"NOT coalesce(({self.marker_predicate}), false)")
        markers = batch_df.where(f"coalesce(({self.marker_predicate}), false)")
        # The split stays distributed — only the 1-row marker max comes
        # to the driver (the watermark IS driver/coordinator state, as
        # in Flink's source coordinator).
        if wm_start is None:
            on_time, late = data, data.limit(0)
        else:
            late_pred = F.unix_micros(F.col(self.ts_col)) <= F.lit(wm_start)
            on_time, late = data.where(~late_pred), data.where(late_pred)
        mx = markers.agg(
            F.max(F.unix_micros(F.col(self.ts_col))).alias("m")
        ).collect()[0]["m"]
        if mx is not None and (self.watermark is None or mx > self.watermark):
            self.watermark = int(mx)
        self.on_batch(batch_id, on_time, late, self.watermark)

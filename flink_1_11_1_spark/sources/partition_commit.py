"""FLIP-115 partition commit — the Flink 1.11 streaming filesystem
sink's headline feature (public tree flink-connectors/
flink-connector-files + flink-table ``filesystem/stream/
PartitionCommitter.java``, options ``sink.partition-commit.trigger=
partition-time``, ``sink.partition-commit.delay``,
``sink.partition-commit.policy.kind=success-file``):

rows stream into time-partitioned directories, and a partition becomes
VISIBLE to downstream consumers only when the watermark passes
``partition end + commit delay`` — signalled by the success-file
policy (an empty ``_SUCCESS`` marker), which is what downstream
schedulers (Airflow sensors, Hive ``MSCK``-style loaders) poll.

Rendering on Spark's micro-batch model:

- ``PartitionCommitSink`` is a ``foreachBatch`` adapter: each trigger
  writes its rows under ``root/data/pt=<bucket>/batch=<id>/`` — the
  batch id is itself a partition column, so a retried batch
  dynamic-overwrites exactly its own leaves (idempotent, the same
  contract changelog.RetractStreamWriter renders with per-batch
  directories) and the whole tree stays ONE partitioned dataset for
  clean discovery.  Commits are ``root/_commits/pt=<bucket>`` markers
  for every partition whose END <= the current watermark.
- The watermark base is DISK-persisted per batch (streaming/
  wm_markers.py, shared with late.py): max event time over batches <
  current — so a retry of batch N never counts N's own rows, and a
  driver restart resumes the commit frontier exactly.  The root must
  be a local (or locally mounted) path; a remote URI is rejected.
- Commits are monotone and idempotent (marker files; re-commit is a
  no-op), and a partition is never committed while rows for it can
  still arrive inside the watermark delay — Flink's guarantee.

``read_committed`` is the downstream view: only rows of committed
partitions, however many batch directories they span.  At scale the
data writes are executor-side partitioned parquet; the driver touches
marker files only (O(#partitions), not O(rows)).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming.pattern import _parse_interval
from ..streaming.wm_markers import marker_dir, prev_max_us, write_max_us


class PartitionCommitSink:
    def __init__(
        self,
        ts_col: str,
        path: str,
        partition: str | int = "1 hour",
        watermark_delay: str | int = "0 seconds",
        commit_delay: str | int = "0 seconds",
    ):
        self.ts_col = ts_col
        self.path = str(path)
        self.part_us = _parse_interval(partition) * 1_000_000
        self.wm_delay_us = _parse_interval(watermark_delay) * 1_000_000
        self.commit_delay_us = _parse_interval(commit_delay) * 1_000_000
        self._wm_dir = marker_dir(self.path, "PartitionCommitSink")

    # -- disk state ------------------------------------------------------

    def _commit_dir(self) -> str:
        return os.path.join(self.path, "_commits")

    def committed(self) -> list[int]:
        """Committed partition START buckets (epoch micros), sorted."""
        d = self._commit_dir()
        if not os.path.isdir(d):
            return []
        return sorted(
            int(m.group(1))
            for fn in os.listdir(d)
            # -? : pre-epoch event times bucket to NEGATIVE partition
            # starts; \d+ alone left them permanently uncommitted
            # (round-13 review)
            if (m := re.fullmatch(r"pt=(-?\d+)", fn))
        )

    # -- the foreachBatch hook -------------------------------------------

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        ts_us = F.unix_micros(F.col(self.ts_col))
        pt = ts_us - F.pmod(ts_us, F.lit(self.part_us))
        batch_df.persist()  # one source scan feeds both write + max
        (
            batch_df.withColumn("pt", pt)
            .withColumn("batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("pt", "batch")
            .parquet(os.path.join(self.path, "data"))
        )

        # watermark update rule (Spark: between micro-batches), persisted
        row = batch_df.agg(F.max(ts_us).alias("m")).first()
        batch_df.unpersist()
        write_max_us(self._wm_dir, batch_id,
                     int(row.m) if row and row.m is not None else None)

        # commit frontier: partitions fully behind the watermark
        prev_max = prev_max_us(self._wm_dir, batch_id)
        if prev_max is None:
            return
        wm_us = prev_max - self.wm_delay_us
        os.makedirs(self._commit_dir(), exist_ok=True)
        already = set(self.committed())
        ddir = os.path.join(self.path, "data")
        if not os.path.isdir(ddir):
            return
        # driver-side partition LISTING only (O(#partitions); on an
        # object store this is the same list call Flink's committer does)
        for fn in os.listdir(ddir):
            m = re.fullmatch(r"pt=(-?\d+)", fn)
            if not m:
                continue
            start = int(m.group(1))
            if start in already:
                continue
            if start + self.part_us + self.commit_delay_us <= wm_us:
                open(os.path.join(self._commit_dir(), f"pt={start}"), "w").close()


def read_committed(spark: SparkSession, path: str, sink: PartitionCommitSink) -> DataFrame:
    """The downstream view: rows of COMMITTED partitions only (the
    success-file contract — uncommitted partitions are invisible even
    though their files exist).  Polling BEFORE the first batch has
    written anything returns an empty frame carrying just the partition
    columns (round-13 review: the raw read raised PATH_NOT_FOUND on the
    exact early-polling case the _SUCCESS contract exists for)."""
    ddir = os.path.join(path, "data")
    if not os.path.isdir(ddir):
        return spark.createDataFrame([], "pt bigint, batch int")
    df = spark.read.parquet(ddir)
    committed = sink.committed()
    if not committed:
        return df.limit(0)
    return df.where(F.col("pt").isin(committed))

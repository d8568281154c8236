"""FLIP-115 partition-commit tests (sources/partition_commit.py):
watermark-gated visibility, retry/restart exactness, late-data safety."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from flink_1_11_1_spark.sources.partition_commit import (
    PartitionCommitSink,
    read_committed,
)
from flink_1_11_1_spark.streaming import replay

pytestmark = pytest.mark.streaming  # replay e2e battery: -m "not streaming" skips

BASE = (1_700_000_000 // 3600) * 3600


def _frame(spark, rows):  # (event_id, minute)
    return spark.createDataFrame(
        [(e, (BASE + int(m * 60)) * 10**6) for e, m in rows],
        "event_id long, us long",
    ).select("event_id", F.timestamp_micros(F.col("us")).alias("ts"))


def test_partition_commit_watermark_gated(spark, tmp_path):
    """Partitions become visible only when the watermark passes their
    end: data files may exist for the open partition, but the committed
    view excludes them until then (the success-file contract)."""
    frames = [
        _frame(spark, [(1, 10), (2, 50)]),            # hour 0
        _frame(spark, [(3, 70), (4, 110)]),           # hour 1
        _frame(spark, [(5, 130), (6, 250)]),          # hours 2, 4
    ]
    rdir = str(tmp_path / "pc_replay")
    replay.write_replay_frames(frames, rdir)
    root = str(tmp_path / "pc_root")
    sink = PartitionCommitSink("ts", root, partition="1 hour",
                               watermark_delay="30 minutes")
    q = (
        spark.readStream.format("parquet").schema(frames[0].schema)
        .option("maxFilesPerTrigger", 1).load(rdir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "pc_ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    # final watermark base = max of batches 0..1 at batch 2's commit
    # step = minute 110 - 30 = 80 → only hour 0 (end 60) is committed
    committed = sink.committed()
    assert committed == [BASE * 10**6]
    vis = read_committed(spark, root, sink)
    assert sorted(r.event_id for r in vis.collect()) == [1, 2]
    # the data for hours 1/2/4 is ON DISK but invisible (uncommitted)
    all_rows = spark.read.parquet(f"{root}/data")
    assert all_rows.count() == 6

    # a later batch advances the watermark → more partitions commit.
    # replay one more frame through the SAME checkpoint
    replay.write_replay_frames([_frame(spark, [(9, 400)])], rdir, start=3)
    q = (
        spark.readStream.format("parquet").schema(frames[0].schema)
        .option("maxFilesPerTrigger", 1).load(rdir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "pc_ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    # wm = 250 - 30 = 220 → hours 0,1,2 (ends 60,120,180) committed;
    # hour 4 (end 300) still open
    got = sink.committed()
    want = [(BASE + h * 3600) * 10**6 for h in (0, 1, 2)]
    assert got == want
    vis_ids = sorted(r.event_id for r in read_committed(spark, root, sink).collect())
    assert vis_ids == [1, 2, 3, 4, 5]


def test_partition_commit_retry_and_restart(spark, tmp_path):
    """A retried batch never commits off its own rows (disk-discovered
    watermark base) and a fresh sink instance (driver restart) resumes
    the commit frontier from the markers."""
    root = str(tmp_path / "pcr_root")
    sink = PartitionCommitSink("ts", root, partition="1 hour")
    sink(_frame(spark, [(1, 10)]), 0)
    assert sink.committed() == []          # no prior-batch watermark yet
    sink(_frame(spark, [(2, 70)]), 1)      # wm base=10min → nothing ends
    assert sink.committed() == []
    sink(_frame(spark, [(3, 130)]), 2)     # wm base=70min → hour 0 commits
    assert sink.committed() == [BASE * 10**6]

    # retry batch 2: identical result, no double-commit, no advance
    sink(_frame(spark, [(3, 130)]), 2)
    assert sink.committed() == [BASE * 10**6]

    # restart: a NEW instance sees the same frontier and continues
    sink2 = PartitionCommitSink("ts", root, partition="1 hour")
    assert sink2.committed() == [BASE * 10**6]
    sink2(_frame(spark, [(4, 260)]), 3)    # wm base=130min → hour 1 commits
    assert sink2.committed() == [BASE * 10**6, (BASE + 3600) * 10**6]
    vis = read_committed(spark, root, sink2)
    assert sorted(r.event_id for r in vis.collect()) == [1, 2]


def test_partition_commit_delay_holds_back(spark, tmp_path):
    """sink.partition-commit.delay: the partition end must be a further
    `commit_delay` behind the watermark before the marker appears."""
    root = str(tmp_path / "pcd_root")
    sink = PartitionCommitSink("ts", root, partition="1 hour",
                               commit_delay="2 hours")
    sink(_frame(spark, [(1, 10)]), 0)
    sink(_frame(spark, [(2, 150)]), 1)     # wm base 10min: nothing
    sink(_frame(spark, [(3, 400)]), 2)     # wm base 150min < 60+120 → hold
    assert sink.committed() == []
    # wm base 400min: hour 0 (end 60 + 120 = 180) and hour 2 (end 180 +
    # 120 = 300) clear the delay; hour 6 (event 3's own, end+delay 540)
    # is held
    sink(_frame(spark, [(4, 600)]), 3)
    assert sink.committed() == [BASE * 10**6, (BASE + 7200) * 10**6]


def test_partition_commit_pre_epoch_partition(spark, tmp_path):
    """Round-13 review: pre-epoch event times bucket to NEGATIVE
    partition starts — the \\d+-only marker regexes left them
    permanently uncommitted (silent data loss)."""
    root = str(tmp_path / "pc_neg")
    sink = PartitionCommitSink("ts", root, partition="1 hour")

    def frame(rows):  # (event_id, iso timestamp string)
        return spark.createDataFrame(rows, ["event_id", "ts_s"]).select(
            "event_id", F.col("ts_s").cast("timestamp").alias("ts"))

    sink(frame([(1, "1969-12-31 23:30:00")]), 0)
    sink(frame([(2, "1970-01-01 03:00:00")]), 1)   # wm base still batch 0
    sink(frame([(3, "1970-01-01 06:00:00")]), 2)   # wm base = 03:00
    committed = sink.committed()
    assert -3_600_000_000 in committed  # the pre-epoch hour committed
    vis = sorted(r.event_id for r in read_committed(spark, root, sink).collect())
    assert 1 in vis


def test_read_committed_before_first_write(spark, tmp_path):
    """Round-13 review: polling the committed view before any batch has
    written must return an empty frame, not PATH_NOT_FOUND."""
    root = str(tmp_path / "pc_empty")
    sink = PartitionCommitSink("ts", root, partition="1 hour")
    assert read_committed(spark, root, sink).count() == 0


def test_partition_commit_remote_uri_rejected(tmp_path):
    """The watermark markers and the data listing are driver-local file
    I/O: a remote URI root must fail fast, not write markers under a
    local ``s3:/...`` directory and never commit."""
    with pytest.raises(NotImplementedError, match="remote URI"):
        PartitionCommitSink("ts", "s3://bucket/pc")
    PartitionCommitSink("ts", str(tmp_path / "ok"))  # local fine

"""S-series streaming semantics tests (SURVEY.md §6.2 item 2).

File-replay micro-batches (deterministic, no rate source); each test
asserts the streaming result against the batch-equivalent computation
on the same input — Flink's operator-harness idea re-expressed.
"""

import os
import shutil
import tempfile

import pytest

pytestmark = pytest.mark.streaming  # replay e2e battery: -m "not streaming" skips

from pyspark.sql import functions as F

from flink_1_11_1_spark import catalog
from flink_1_11_1_spark.operators import windows as W
from flink_1_11_1_spark.streaming import capability, cep, replay

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def replay_dir(spark):
    d = tempfile.mkdtemp(prefix="events_replay_")
    replay.write_replay(spark, SF_SMOKE, d, parts=6)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _batch_events(spark):
    return catalog.load_table(spark, SF_SMOKE, "events")


def _rows_set(rows, *cols):
    return {tuple(getattr(r, c) for c in cols) for r in rows}


# ---------------------------------------------------------- S1: tumble


def test_s1_tumble_stream_equals_batch(spark, replay_dir):
    stream = replay.events_stream(spark, replay_dir)
    agg = stream.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sv")
    )
    got, dropped = replay.run_stream(agg, "append", "s1_tumble")
    batch = W.tumble_agg(
        _batch_events(spark), "ts", "1 hour", ["event_type"],
        [F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sv")],
    ).collect()
    key = lambda rows, win: {  # noqa: E731
        (str(getattr(r, win)), r.event_type): (r.n, r.sv) for r in rows
    }
    assert dropped == 0  # in-order replay: nothing late beyond watermark
    got_m = {(str(r.window.start), r.event_type): (r.n, r.sv) for r in got}
    want_m = {(str(r.window_start), r.event_type): (r.n, r.sv) for r in batch}
    assert got_m == want_m


def test_run_stream_ignores_stale_checkpoint(spark, replay_dir):
    """A finished query's checkpoint left at the fixed per-pid path
    ``run_stream`` once used (a killed process, its pid reused) is not
    resumed: resuming it would count every replay file as read."""
    name = "s_stale_ckpt"
    stale = f"/tmp/ckpt_{name}_{os.getpid()}"
    counts = replay.events_stream(spark, replay_dir).groupBy("event_type") \
        .agg(F.count("*").alias("n"))
    try:
        q = (counts.writeStream.format("memory").queryName(f"{name}_planted")
             .outputMode("complete").option("checkpointLocation", stale)
             .start())
        q.processAllAvailable()
        q.stop()
        got, _ = replay.run_stream(counts, "complete", name)
    finally:
        shutil.rmtree(stale, ignore_errors=True)
    want = spark.read.parquet(os.path.join(replay_dir, "chunk_*.parquet")) \
        .groupBy("event_type").agg(F.count("*").alias("n")).collect()
    assert _rows_set(got, "event_type", "n") == \
        _rows_set(want, "event_type", "n") != set()


def test_replay_chunk_mtimes_monotonic_across_calls(spark, tmp_path):
    """The file source replays chunks in mtime order; with the fast
    driver-side writes two write_replay_frames calls land within the
    same second, so monotonicity must be ENFORCED, not incidental
    (round-13 review: a later call could otherwise stamp an earlier
    mtime and the replay would reorder, silently dropping rows behind
    the watermark)."""
    import os as _os

    d = str(tmp_path / "mono")
    f = spark.createDataFrame([(1,)], "a long")
    replay.write_replay_frames([f], d)
    replay.write_replay_frames([f, f, f, f, f], d, start=1)
    replay.write_replay_frames([f], d, start=6)
    mt = [
        _os.path.getmtime(_os.path.join(d, f"chunk_{i:03d}.parquet"))
        for i in range(7)
    ]
    assert mt == sorted(mt) and len(set(mt)) == 7, mt


def test_s1b_late_rows_are_dropped(spark, replay_dir):
    """Hand-move some early rows into the last chunk: watermark has
    passed -> dropped, observable via numRowsDroppedByWatermark
    (Flink's side-output-late-data equivalent; SURVEY.md §3.11)."""
    ev = _batch_events(spark).orderBy("ts", "event_id")
    rows = ev.collect()
    late_ids = [r.event_id for r in rows[:5]]  # earliest 5 events
    on_time = ev.where(~F.col("event_id").isin(late_ids))
    late = ev.where(F.col("event_id").isin(late_ids))
    d = tempfile.mkdtemp(prefix="late_replay_")
    try:
        n = on_time.count()
        half = on_time.limit(n // 2)
        rest = on_time.subtract(half)
        replay.write_replay_frames([half, rest, late], d)
        stream = replay.events_stream(spark, d, watermark="10 minutes")
        agg = stream.groupBy(F.window("ts", "1 hour")).agg(F.count("*").alias("n"))
        got, dropped = replay.run_stream(agg, "append", "s1b_late")
        # numRowsDroppedByWatermark counts rows reaching the state store —
        # i.e. AFTER map-side partial aggregation: one per late window.
        n_late_windows = late.select(F.window("ts", "1 hour")).distinct().count()
        assert dropped == n_late_windows
        # and the emitted output contains no late contribution at all
        total_emitted = sum(r.n for r in got)
        assert total_emitted <= n  # strictly: late rows absent
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ------------------------------------------------------------- S2: hop


def test_s2_hop_stream_equals_batch(spark, replay_dir):
    stream = replay.events_stream(spark, replay_dir)
    agg = stream.groupBy(F.window("ts", "1 hour", "30 minutes")).agg(
        F.count("*").alias("n")
    )
    got, _ = replay.run_stream(agg, "append", "s2_hop")
    batch = W.hop_agg(
        _batch_events(spark), "ts", "1 hour", "30 minutes", [],
        [F.count("*").alias("n")],
    ).collect()
    assert {(str(r.window.start), r.n) for r in got} == {
        (str(r.window_start), r.n) for r in batch
    }


# --------------------------------------------------------- S3: session


def test_s3_session_stream_equals_batch(spark, replay_dir):
    stream = replay.events_stream(spark, replay_dir)
    agg = stream.groupBy(F.session_window("ts", "30 minutes"), "user_id").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sv")
    )
    got, _ = replay.run_stream(agg, "append", "s3_session")
    batch = W.session_agg(
        _batch_events(spark), "ts", "30 minutes", ["user_id"],
        [F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sv")],
    ).collect()
    got_m = {
        (r.user_id, str(r.session_window.start)): (r.n, r.sv) for r in got
    }
    want_m = {(r.user_id, str(r.session_start)): (r.n, r.sv) for r in batch}
    assert got_m == want_m


# --------------------------------------- S4: stream-stream interval join


def test_s4_interval_join_stream_equals_batch(spark, replay_dir):
    a = (
        replay.events_stream(spark, replay_dir, watermark=None)
        .where("event_type = 'signup'")
        .select("user_id", F.col("event_id").alias("s_id"), F.col("ts").alias("a_ts"))
        .withWatermark("a_ts", "10 minutes")
    )
    b = (
        replay.events_stream(spark, replay_dir, watermark=None)
        .where("event_type = 'purchase'")
        .select(
            F.col("user_id").alias("b_user"), F.col("event_id").alias("p_id"),
            F.col("ts").alias("b_ts"),
        )
        .withWatermark("b_ts", "10 minutes")
    )
    joined = a.join(
        b,
        (F.col("user_id") == F.col("b_user"))
        & (F.col("b_ts") >= F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("user_id", "s_id", "p_id")
    got, _ = replay.run_stream(joined, "append", "s4_interval")
    ev = _batch_events(spark)
    batch = (
        ev.where("event_type = 'signup'")
        .select("user_id", F.col("event_id").alias("s_id"), F.col("ts").alias("a_ts"))
        .join(
            ev.where("event_type = 'purchase'").select(
                F.col("user_id").alias("b_user"),
                F.col("event_id").alias("p_id"),
                F.col("ts").alias("b_ts"),
            ),
            F.expr(
                "user_id = b_user AND b_ts >= a_ts AND b_ts <= a_ts + INTERVAL 1 HOUR"
            ),
        )
        .select("user_id", "s_id", "p_id")
        .collect()
    )
    assert _rows_set(got, "user_id", "s_id", "p_id") == _rows_set(
        batch, "user_id", "s_id", "p_id"
    )


# ----------------------------------------------------------- S5: dedup


def test_s5_dedup_within_watermark(spark, replay_dir):
    """Flink's keep-first dedup holds key state forever; Spark's
    dropDuplicatesWithinWatermark evicts state once the watermark passes
    first_seen + delay — so the delay must cover the key-reoccurrence
    horizon (engine contract, SURVEY.md §3.8).  With delay >= replay
    span: exactly one survivor per key, chosen by *arrival* order (the
    survivor lands in the key's earliest chunk; within a chunk arrival
    is unordered — the documented delta from Flink's rowtime-first)."""
    stream = (
        replay.events_stream(spark, replay_dir, watermark="60 days")
        .where("user_id >= 0")  # exclude the flush sentinel (key is output)
        .select("user_id", "event_id", "ts")
    )
    got, _ = replay.run_stream(
        stream.dropDuplicatesWithinWatermark(["user_id"]), "append", "s5_dedup"
    )
    ev = _batch_events(spark)
    from flink_1_11_1_spark.operators import rank

    batch = rank.deduplicate(
        ev.select("user_id", "event_id", "ts"),
        keys=["user_id"], order_by=[F.col("ts"), F.col("event_id")],
    ).collect()
    assert {r.user_id for r in got} == {r.user_id for r in batch}
    assert len(got) == len(batch)  # exactly one survivor per key
    first_ts = {r.user_id: r.ts for r in batch}
    for r in got:
        delta = (r.ts - first_ts[r.user_id]).total_seconds()
        # survivor never precedes the true first event and sits in the
        # same ~5-day replay chunk (6 chunks over 30 days)
        assert 0 <= delta <= 6 * 86400


# ------------------------------------------------------------- S6: CEP


def test_s6_cep_stream_equals_batch(spark, replay_dir):
    stream = replay.events_stream(spark, replay_dir).select(
        "user_id", "event_id", "event_type", "ts"
    )
    got, _ = replay.run_stream(
        cep.match_stream(stream, horizon_s=3600), "append", "s6_cep"
    )
    batch = cep.match_batch(_batch_events(spark), horizon_s=3600).collect()
    assert _rows_set(got, "user_id", "a_id", "b_id") == _rows_set(
        batch, "user_id", "a_id", "b_id"
    )
    assert len(batch) > 0  # non-vacuous


# ----------------------------------------------------- capability matrix


def test_capability_matrix():
    capability.validate("windowed_agg", "append")
    capability.validate("agg", "update")
    with pytest.raises(capability.UnsupportedStreamingPlan, match="retract/upsert"):
        capability.validate("agg", "append")
    with pytest.raises(capability.UnsupportedStreamingPlan, match="foreachBatch"):
        capability.validate("join_outer_unbounded", "append")
    with pytest.raises(capability.UnsupportedStreamingPlan, match="Top-N"):
        capability.validate("topn", "append")
    assert "update" in capability.supported_modes("agg")
    assert "append" not in capability.supported_modes("sort")


# --------------------------------------------------- streaming OVER agg


def test_streaming_running_sum_equals_batch(spark, replay_dir):
    from pyspark.sql.window import Window

    from flink_1_11_1_spark.streaming import over

    stream = replay.events_stream(spark, replay_dir).select(
        "user_id", "event_id", "ts", "value"
    )
    got, _ = replay.run_stream(over.running_sum(stream), "append", "s_over")
    ev = _batch_events(spark)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = (
        ev.select("user_id", "event_id", F.sum("value").over(w).alias("running_sum"))
        .collect()
    )
    got_m = {(r.user_id, r.event_id): round(r.running_sum, 6) for r in got if r.user_id >= 0}
    want_m = {(r.user_id, r.event_id): round(r.running_sum, 6) for r in want}
    assert got_m == want_m


def test_foreach_batch_topn_revisions(spark, replay_dir, tmp_path):
    from flink_1_11_1_spark.operators.rank import top_n
    from flink_1_11_1_spark.streaming import changelog
    from flink_1_11_1_spark.streaming.over import TopNRetractWriter

    stream = replay.events_stream(spark, replay_dir, watermark=None).where(
        "user_id >= 0"
    )
    agg = stream.groupBy("user_id").agg(F.sum("value").alias("total"))
    wdir = str(tmp_path / "topn_records")
    sink = TopNRetractWriter(
        [], [F.col("total").desc(), F.col("user_id")], 5, wdir,
    )
    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "topn_ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    recs = [(r.add, (r.user_id, round(r.total, 6), r.rn))
            for r in changelog.read_retracts(spark, wdir).collect()]
    batches = {r.batch_id for r in changelog.read_retracts(spark, wdir).collect()}
    assert len(batches) >= 2 and any(not add for add, _ in recs)  # revisions
    ev = _batch_events(spark)
    want = top_n(
        ev.groupBy("user_id").agg(F.sum("value").alias("total")),
        [], [F.col("total").desc(), F.col("user_id")], 5,
    ).collect()
    # the folded records table IS the current Top-N (Flink StreamExecRank)
    folded = sorted(changelog.fold_retracts(recs))
    assert folded == sorted(
        (r.user_id, round(r.total, 6), r.rn) for r in want
    )


# ------------------------------------- S9: streaming semi / anti join


@pytest.mark.parametrize("mode", ["semi", "anti"])
def test_s9_streaming_semi_anti_equals_batch(spark, replay_dir, mode):
    """Append-only semi/anti join vs the batch EXISTS / NOT EXISTS twin
    (StreamingSemiAntiJoinOperator parity on replayed append streams)."""
    from flink_1_11_1_spark.streaming import semi_anti

    stream = replay.events_stream(spark, replay_dir)
    left = stream.where("event_type = 'view'")
    right = stream.where("event_type = 'purchase'")
    out = semi_anti.streaming_semi_anti_join(left, right, mode, "1 hour")
    got, _ = replay.run_stream(out, "append", f"s9_{mode}")
    got_ids = sorted(r.event_id for r in got)

    ev = _batch_events(spark)
    ev.createOrReplaceTempView("s9_events")
    op = "EXISTS" if mode == "semi" else "NOT EXISTS"
    want = spark.sql(
        f"""
        SELECT l.event_id FROM s9_events l
        WHERE l.event_type = 'view' AND {op} (
          SELECT 1 FROM s9_events r
          WHERE r.event_type = 'purchase' AND r.user_id = l.user_id
            AND r.ts <= l.ts + INTERVAL 1 HOUR)
        """
    ).collect()
    assert got_ids == sorted(r.event_id for r in want)
    assert got_ids  # non-degenerate fixture


def test_s9b_semi_join_custom_key_name(spark, tmp_path):
    """Round-13 review: the output key column carries the JOIN KEY's
    name, not a hardcoded user_id (schema AND rows).  The companion
    sentinel fix (_NO_RIGHT instead of -1, which collided with
    pre-epoch right timestamps) is defensive-only: Spark's event-time
    watermark initializes at epoch 0, so pre-epoch rows are dropped
    before any stateful operator and cannot transit the real path."""
    from flink_1_11_1_spark.streaming import semi_anti

    frame = spark.createDataFrame(
        [(7, "2024-01-01 10:00:00", None, "r"),
         (7, "2024-01-01 11:30:00", 100, "l"),
         (8, "2024-01-01 11:40:00", 200, "l")],  # no right: not emitted
        ["account_id", "ts_s", "event_id", "side_t"],
    ).select("account_id", F.col("ts_s").cast("timestamp").alias("ts"),
             "event_id", "side_t")
    d = str(tmp_path / "pre_epoch")
    replay.write_replay_frames([frame], d)
    stream = (
        spark.readStream.schema(frame.schema)
        .option("maxFilesPerTrigger", 1).parquet(d + "/chunk_*.parquet")
        .withWatermark("ts", "10 minutes")
    )
    out = semi_anti.streaming_semi_anti_join(
        stream.where("side_t = 'l'").select("account_id", "ts", "event_id"),
        stream.where("side_t = 'r'").select("account_id", "ts"),
        "semi", "2 hours", key="account_id",
    )
    assert out.columns == ["account_id", "event_id", "ts"]
    got, _ = replay.run_stream(out, "append", "s9b_pre_epoch")
    assert [(r.account_id, r.event_id) for r in got] == [(7, 100)]


def test_s12_streaming_incremental_dedup_equals_batch(spark):
    """S12: streaming incremental MinHash dedup over a 3-chunk document
    replay finds exactly the batch pair set, each pair emitted by the
    chunk of its later-arriving member; the index is never re-shingled."""
    from flink_1_11_1_spark.extensions.dedup import (
        minhash_lsh_pairs,
        streaming_minhash_dedup,
    )

    docs = catalog.load_table(spark, SF_SMOKE, "documents")
    want = {
        (r.da, r.db): r.j for r in minhash_lsh_pairs(docs).collect()
    }
    root = tempfile.mkdtemp(prefix="s12_")
    replay_dir = os.path.join(root, "replay")
    n = docs.count()
    chunks = [
        docs.where(F.col("doc_id") % 3 == i).localCheckpoint(eager=True)
        for i in range(3)
    ]
    replay.write_replay_frames(chunks, replay_dir)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(replay_dir, "chunk_*.parquet"))
    )
    q = streaming_minhash_dedup(
        stream,
        os.path.join(root, "index"),
        os.path.join(root, "pairs"),
        os.path.join(root, "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got_rows = spark.read.parquet(os.path.join(root, "pairs")).collect()
    got = {(r.da, r.db): r.j for r in got_rows}
    assert len(got_rows) == len(got)  # no pair emitted twice
    assert got == want
    shutil.rmtree(root, ignore_errors=True)


def test_s14_streaming_hll_final_state_equals_batch(spark, replay_dir):
    """S14: the keyed-state streaming HLL's final registers after a full
    replay equal the batch sketch — regs_hit only grows and sum_scaled
    only shrinks (max-fold), so the extrema over emitted rows ARE the
    final state."""
    from flink_1_11_1_spark.extensions import stats

    stream = replay.events_stream(spark, replay_dir, watermark=None)
    out = stats.streaming_hll(stream)
    got_rows, _ = replay.run_stream(out, "update", "s14_hll")
    assert got_rows, "stream emitted nothing"
    final: dict[str, tuple[int, int]] = {}
    for r in got_rows:
        if r.event_type == "__flush__":  # replay's watermark sentinel
            continue
        hit, ss = final.get(r.event_type, (0, 1 << 62))
        final[r.event_type] = (max(hit, r.regs_hit), min(ss, r.sum_scaled))
    want = {
        r.event_type: (r.hll_registers, r.hll_sum_scaled)
        for r in stats.hll_distinct(spark, SF_SMOKE).collect()
    }
    assert final == want
    # multiple triggers actually happened (incremental, not one batch)
    per_key = {}
    for r in got_rows:
        per_key[r.event_type] = per_key.get(r.event_type, 0) + 1
    assert max(per_key.values()) > 1


def test_s15_punctuated_watermark_marker_gating(spark):
    """S15: punctuated watermark — 'error' events are the markers; a
    marker gates data rows in LATER batches (batch-granular, the
    documented delta vs Flink's per-record emission).  Hand-computed
    fold over the same 3-chunk replay must agree batch for batch."""
    from flink_1_11_1_spark.streaming.replay import PunctuatedWatermark

    ev = catalog.load_table(spark, SF_SMOKE, "events")
    frames = [
        ev.where("event_id < 300"),
        ev.where("event_id >= 300 AND event_id < 600"),
        ev.where("event_id >= 600"),
    ]
    rdir = tempfile.mkdtemp(prefix="s15_replay_")
    replay.write_replay_frames(frames, rdir)
    stream = replay.events_stream(spark, rdir, watermark=None)

    got: list[tuple[int, set, set, int | None]] = []

    def on_batch(bid, on_time_df, late_df, wm):
        got.append(
            (
                bid,
                {r.event_id for r in on_time_df.collect()},
                {r.event_id for r in late_df.collect()},
                wm,
            )
        )

    pw = PunctuatedWatermark("event_type = 'error'", "ts", on_batch)
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(pw)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="s15_ckpt_"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    # hand fold over the same frames in replay order
    wm = None
    want = []
    for f in frames:
        rows = f.collect()
        data = [r for r in rows if r.event_type != "error"]
        markers = [r for r in rows if r.event_type == "error"]
        us = lambda r: int(r.ts.timestamp() * 1_000_000)
        late = {r.event_id for r in data if wm is not None and us(r) <= wm}
        on_time = {r.event_id for r in data} - late
        mxs = [us(r) for r in markers]
        if mxs and (wm is None or max(mxs) > wm):
            wm = max(mxs)
        want.append((on_time, late, wm))

    # the replay may add a flush-sentinel batch; compare the 3 data batches
    data_batches = [g for g in got if g[1] or g[2]]
    assert len(data_batches) >= 3
    for (bid, on_t, late, wm_got), (w_on, w_late, w_wm) in zip(data_batches, want):
        # sentinel rows (event_type __flush__) are data to the adapter;
        # exclude ids not present in the fixture frames
        fixture_ids = {r.event_id for f in frames for r in f.collect()}
        assert on_t & fixture_ids == w_on, bid
        assert late & fixture_ids == w_late, bid
        assert wm_got == w_wm, bid
    shutil.rmtree(rdir, ignore_errors=True)


def test_s16_streaming_countmin_final_state_equals_batch(spark):
    """S16: the additive keyed-state count-min's final counter arrays
    after a 3-chunk document replay equal the batch sketch table (the
    sketch is its own partial aggregate)."""
    from flink_1_11_1_spark.extensions import stats

    docs = catalog.load_table(spark, SF_SMOKE, "documents")
    frames = [
        docs.where(F.col("doc_id") % 3 == i).localCheckpoint(eager=True)
        for i in range(3)
    ]
    rdir = tempfile.mkdtemp(prefix="s16_replay_")
    replay.write_replay_frames(frames, rdir)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(rdir, "chunk_*.parquet"))
    )
    out = stats.streaming_cm(stream)
    seen: list = []
    q = (
        out.writeStream.outputMode("update")
        .foreachBatch(lambda bdf, bid: seen.extend(bdf.collect()))
        .option("checkpointLocation", tempfile.mkdtemp(prefix="s16_ckpt_"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    # final per-depth state = the row with the max running total
    final = {}
    for r in seen:
        if r.d not in final or r.bits > final[r.d].bits:
            final[r.d] = r
    # batch twin: aggregate the same (d, bucket) projection
    batch = (
        stats.cm_bucket_cols(docs)
        .groupBy("d", "b")
        .count()
        .collect()
    )
    want: dict[int, list[int]] = {d: [0] * stats._CM_WIDTH for d in range(stats._CM_DEPTH)}
    for r in batch:
        want[r.d][r.b] = r["count"]
    assert set(final) == set(want)
    for d in want:
        assert list(final[d].totals) == want[d], d
    assert len({r.bits for r in seen if r.d == 0}) > 1  # incremental
    shutil.rmtree(rdir, ignore_errors=True)


def test_s15b_punctuated_watermark_null_predicate_rows_flow(spark):
    """A row where the marker predicate evaluates NULL is data, not a
    silent drop (three-valued logic regression guard)."""
    from flink_1_11_1_spark.streaming.replay import PunctuatedWatermark

    df = spark.createDataFrame(
        [(1, "data", "2024-01-01 00:00:00"),
         (2, None, "2024-01-01 00:30:00"),     # NULL event_type
         (3, "marker", "2024-01-01 01:00:00")],
        "event_id long, event_type string, ts_s string",
    ).selectExpr("event_id", "event_type", "cast(ts_s as timestamp) AS ts")
    rdir = tempfile.mkdtemp(prefix="s15b_")
    replay.write_replay_frames([df], rdir)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(rdir, "chunk_*.parquet"))
    )
    got = []
    pw = PunctuatedWatermark(
        "event_type = 'marker'", "ts",
        lambda bid, on_t, late, wm: got.append(
            ({r.event_id for r in on_t.collect()},
             {r.event_id for r in late.collect()}, wm)
        ),
    )
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(pw)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="s15b_ckpt_"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    on_t, late, wm = got[0]
    assert 2 in on_t  # the NULL-predicate row flowed as data
    assert on_t == {1, 2} and late == set()
    assert wm is not None  # the marker advanced the watermark
    shutil.rmtree(rdir, ignore_errors=True)


# ------------------------- S17: event-time versioned (temporal) join


@pytest.mark.parametrize("how", ["inner", "left"])
def test_s17_temporal_rowtime_join_equals_batch_asof(spark, replay_dir, how):
    """Streaming rowtime temporal join (TemporalRowTimeJoinOperator
    parity) == the batch as-of twin: every view joins the purchase
    version (value) valid at its event time; unmatched views appear
    only in left mode, with a null version."""
    from flink_1_11_1_spark.operators.joins import asof_join
    from flink_1_11_1_spark.streaming.temporal import (
        streaming_temporal_rowtime_join,
    )

    stream = replay.events_stream(spark, replay_dir)
    fact = stream.where("event_type = 'view'").select("user_id", "ts", "event_id")
    vers = stream.where("event_type = 'purchase'").select(
        "user_id", "ts", F.col("value").alias("val")
    )
    out = streaming_temporal_rowtime_join(fact, vers, how=how)
    got, _ = replay.run_stream(out, "append", f"s17_{how}")
    got_m = {r.event_id: (r.user_id, r.ts, r.val) for r in got}

    ev = _batch_events(spark)
    want_df = asof_join(
        ev.where("event_type = 'view'").select("user_id", "event_id", "ts"),
        ev.where("event_type = 'purchase'").select(
            "user_id", "ts", F.col("value").alias("val")
        ),
        on=["user_id"],
        left_time="ts",
        right_time="ts",
        right_cols=["val"],
        how=how,
    )
    want_m = {r.event_id: (r.user_id, r.ts, r.val) for r in want_df.collect()}
    assert got_m == want_m
    assert got_m  # non-degenerate
    if how == "left":
        assert any(v[2] is None for v in got_m.values())  # unmatched views


def test_s17b_temporal_version_upsert_and_order(spark, tmp_path):
    """A later record at the SAME version rowtime replaces the earlier
    one (the versioned-table upsert contract), and facts pick the
    greatest version ts <= fact ts even when versions arrive out of
    order across micro-batches."""
    from flink_1_11_1_spark.streaming.temporal import (
        streaming_temporal_rowtime_join,
    )

    base = 1_700_000_000  # seconds
    def ts(s):
        return F.timestamp_seconds(F.lit(base + s))

    def frame(rows):
        # rows: (user_id, sec, event_id or None, val or None, event_type)
        return spark.createDataFrame(
            [(u, (base + s) * 10**6, e, v, t) for u, s, e, v, t in rows],
            "user_id long, us long, event_id long, value double, event_type string",
        ).select(
            "user_id", F.timestamp_micros(F.col("us")).alias("ts"),
            "event_id", "value", "event_type",
        )

    frames = [
        frame([(1, 10, None, 1.0, "v"), (1, 30, None, 3.0, "v")]),
        frame([(1, 10, None, 9.0, "v"),   # upsert of the ts=10 version
               (1, 20, None, 2.0, "v")]), # out-of-order insert
        frame([(1, 15, 100, None, "f"),   # → version ts=10 (val 9.0)
               (1, 25, 101, None, "f"),   # → version ts=20 (val 2.0)
               (1, 35, 102, None, "f")]), # → version ts=30 (val 3.0)
        frame([(1, 5000, 999, None, "f")]),  # drives the watermark past 35
    ]
    rdir = str(tmp_path / "s17b")
    replay.write_replay_frames(frames, rdir)
    stream = (
        spark.readStream.format("parquet")
        .schema(frames[0].schema)
        .option("maxFilesPerTrigger", 1)
        .load(rdir)
        # lateness allowance > the replay's cross-frame disorder: rows
        # behind the watermark are dropped BEFORE the operator (Spark
        # and Flink agree on that), which is not what this test probes
        .withWatermark("ts", "1000 seconds")
    )
    out = streaming_temporal_rowtime_join(
        stream.where("event_type = 'f'").select("user_id", "ts", "event_id"),
        stream.where("event_type = 'v'").select(
            "user_id", "ts", F.col("value").alias("val")
        ),
    )
    got, _ = replay.run_stream(out, "append", "s17b")
    m = {r.event_id: r.val for r in got}
    assert m[100] == 9.0 and m[101] == 2.0 and m[102] == 3.0


def test_s17c_temporal_join_generic_schema(spark, tmp_path):
    """The temporal join is schema-generic (round-7 verdict item 1b):
    composite key, renamed rowtime column, MULTI-COLUMN version payload
    (double + string) and a string fact payload — same parity contract
    vs the batch as-of twin, left mode with nulls across the whole
    version payload."""
    from flink_1_11_1_spark.operators.joins import asof_join
    from flink_1_11_1_spark.streaming.temporal import (
        streaming_temporal_rowtime_join,
    )

    base = 1_700_000_000

    def frame(rows):
        # rows: (region, cust, sec, side, order_ref, price, tier)
        return spark.createDataFrame(
            [(rg, c, (base + s) * 10**6, sd, o, p, t)
             for rg, c, s, sd, o, p, t in rows],
            "region string, cust long, us long, side string, "
            "order_ref string, price double, tier string",
        ).select(
            "region", "cust",
            F.timestamp_micros(F.col("us")).alias("etime"),
            "side", "order_ref", "price", "tier",
        )

    frames = [
        frame([("eu", 1, 10, "v", None, 9.5, "gold"),
               ("eu", 1, 30, "v", None, 11.0, "silver"),
               ("us", 2, 20, "v", None, 5.0, "bronze")]),
        frame([("eu", 1, 15, "f", "o-100", None, None),   # -> (9.5, gold)
               ("eu", 1, 35, "f", "o-101", None, None),   # -> (11.0, silver)
               ("us", 2, 5, "f", "o-102", None, None),    # before any version
               ("us", 2, 25, "f", "o-103", None, None)]), # -> (5.0, bronze)
        frame([("eu", 1, 5000, "f", "o-999", None, None)]),  # wm sentinel
    ]
    rdir = str(tmp_path / "s17c")
    replay.write_replay_frames(frames, rdir)
    stream = (
        spark.readStream.format("parquet")
        .schema(frames[0].schema)
        .option("maxFilesPerTrigger", 1)
        .load(rdir)
        .withWatermark("etime", "1000 seconds")
    )
    fact = stream.where("side = 'f'").select(
        "region", "cust", "etime", "order_ref"
    )
    vers = stream.where("side = 'v'").select(
        "region", "cust", "etime", "price", "tier"
    )
    out = streaming_temporal_rowtime_join(
        fact, vers, key=["region", "cust"], how="left", ts_col="etime"
    )
    assert out.columns == ["region", "cust", "order_ref", "etime", "price", "tier"]
    got, _ = replay.run_stream(out, "append", "s17c")
    got_m = {r.order_ref: (r.region, r.cust, r.price, r.tier) for r in got}

    batch = frames[0]
    for fr in frames[1:]:
        batch = batch.unionByName(fr)
    want = asof_join(
        batch.where("side = 'f'").select("region", "cust", "etime", "order_ref"),
        batch.where("side = 'v'").select("region", "cust", "etime", "price", "tier"),
        on=["region", "cust"],
        left_time="etime",
        right_time="etime",
        right_cols=["price", "tier"],
        how="left",
    )
    want_m = {r.order_ref: (r.region, r.cust, r.price, r.tier)
              for r in want.collect()
              if r.order_ref != "o-999"}  # wm sentinel: never finalized
    assert got_m == want_m
    assert got_m["o-102"] == ("us", 2, None, None)  # pre-version fact
    assert got_m["o-100"] == ("eu", 1, 9.5, "gold")


def test_s17d_temporal_join_payload_collision_raises(spark):
    """A payload name shared by both sides is a caller error (the
    output schema would be ambiguous), surfaced at plan time."""
    from flink_1_11_1_spark.streaming.temporal import (
        streaming_temporal_rowtime_join,
    )

    df = spark.createDataFrame(
        [(1, 0, 1.0)], "user_id long, us long, val double"
    ).select("user_id", F.timestamp_micros(F.col("us")).alias("ts"), "val")
    with pytest.raises(ValueError, match="collision"):
        streaming_temporal_rowtime_join(df, df)


# -------------- S18: allowedLateness re-fire (update mode + upserts)


def test_s18_allowed_lateness_refire(spark, tmp_path):
    """Flink allowedLateness parity, rendered the Spark way: watermark
    delay = lateness, UPDATE output mode re-emits a window's revised
    row when a late-but-inside-lateness element arrives (the late
    firing), elements beyond the lateness are dropped and counted.
    UpsertStreamWriter + read_upserts render the firings as +I/+U."""
    from flink_1_11_1_spark.streaming import changelog

    base = (1_700_000_000 // 3600) * 3600  # hour-aligned: minute m -> window m//60

    def frame(mins):
        return spark.createDataFrame(
            [(i, (base + int(m * 60)) * 10**6) for i, m in enumerate(mins)],
            "event_id long, us long",
        ).select("event_id", F.timestamp_micros(F.col("us")).alias("ts"))

    frames = [
        frame([10, 20, 70]),        # W0 x2, W1 x1
        frame([290, 300]),          # W4 n=1, W5 n=1; wm -> 300-120=180
        frame([270]),               # late W4 row, window end 300 > 180 ✓
        frame([30]),                # late W0 row, window end 60 <= 180 ✗
    ]
    rdir = str(tmp_path / "s18")
    replay.write_replay_frames(frames, rdir)
    stream = (
        spark.readStream.format("parquet")
        .schema(frames[0].schema)
        .option("maxFilesPerTrigger", 1)
        .load(rdir)
        .withWatermark("ts", "120 minutes")  # allowedLateness
    )
    agg = stream.groupBy(F.window("ts", "1 hour")).agg(F.count("*").alias("n"))
    wdir = str(tmp_path / "s18_records")
    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(changelog.UpsertStreamWriter(wdir))
        .option("checkpointLocation", str(tmp_path / "s18_ckpt"))
        .start()
    )
    q.processAllAvailable()
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p["stateOperators"]
    )
    q.stop()

    ups = changelog.read_upserts(spark, wdir, ["window"]).collect()
    per_win = {}
    for r in ups:
        per_win.setdefault(str(r.window.start), []).append((r.kind, r.n))
    w4 = per_win[str(frame([240]).select(F.window("ts", "1 hour")).first().window.start)]
    # the late firing: W4 emitted +I n=1, then the late row re-fired +U n=2
    assert w4 == [("+I", 1), ("+U", 2)]
    # beyond-lateness element dropped and observable
    assert dropped >= 1
    # folded upsert state == batch aggregate of every non-dropped row
    final = {k: v[-1][1] for k, v in per_win.items()}
    batch = frame([10, 20, 70, 290, 300, 270])
    want = {
        str(r.window.start): r.n
        for r in batch.groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert final == want


# --------------------- S19: queryable state (state data source)


def test_s19_queryable_state_equals_aggregate(spark, tmp_path):
    """Flink queryable-state parity via Spark's State Data Source: the
    keyed state of a streaming aggregate is readable as a DataFrame at
    the last committed batch, a point lookup returns exactly the
    aggregate's value for that key, and state-metadata lists the
    operator."""
    from flink_1_11_1_spark.streaming import queryable

    src = spark.createDataFrame(
        [(i % 7, i) for i in range(210)], "k long, v long"
    )
    srcdir = str(tmp_path / "qs_in")
    src.write.parquet(srcdir)
    stream = spark.readStream.schema(src.schema).parquet(srcdir)
    agg = stream.groupBy("k").agg(
        F.count("*").alias("count"), F.sum("v").alias("sum")
    )
    ck = str(tmp_path / "qs_ck")
    q = (
        agg.writeStream.outputMode("update")
        .format("memory").queryName("s19_sink")
        .option("checkpointLocation", ck)
        .start()
    )
    q.processAllAvailable()
    q.stop()

    # full relational read of the state
    st = {r.k: (r["count"], r["sum"])
          for r in queryable.query_state(spark, ck).collect()}
    want = {
        r.k: (r["count"], r["sum"])
        for r in src.groupBy("k")
        .agg(F.count("*").alias("count"), F.sum("v").alias("sum"))
        .collect()
    }
    assert st == want and len(st) == 7

    # point lookup (getKvState shape)
    rows = queryable.state_lookup(spark, ck, {"k": 3})
    assert len(rows) == 1 and (rows[0]["count"], rows[0]["sum"]) == want[3]

    # metadata surface lists the stateful operator
    meta = queryable.state_metadata(spark, ck).collect()
    assert meta and any(m.operatorId == 0 for m in meta)


def test_s19b_queryable_state_of_temporal_join(spark, tmp_path):
    """Queryable state over the round-7 generic temporal join: the
    version map and pending-fact buffer of each key are readable from
    the checkpoint (getKvState shape), and the version list is exactly
    the post-GC state the operator docs promise — the latest version
    at-or-before the watermark plus everything newer, upserted and
    sorted by rowtime."""
    import json as _json

    from flink_1_11_1_spark.streaming import queryable
    from flink_1_11_1_spark.streaming.temporal import (
        streaming_temporal_rowtime_join,
    )

    base = 1_700_000_000

    def frame(rows):  # (user_id, sec, event_id, val, kind)
        return spark.createDataFrame(
            [(u, (base + s) * 10**6, e, v, t) for u, s, e, v, t in rows],
            "user_id long, us long, event_id long, value double, event_type string",
        ).select(
            "user_id", F.timestamp_micros(F.col("us")).alias("ts"),
            "event_id", "value", "event_type",
        )

    frames = [
        frame([(1, 10, None, 1.0, "v"), (1, 40, None, 2.0, "v")]),
        frame([(1, 90, None, 3.0, "v"), (1, 95, 500, None, "f")]),
        frame([(1, 4000, 999, None, "f")]),  # wm -> 4000-1000 = 3000
    ]
    rdir = str(tmp_path / "s19b")
    replay.write_replay_frames(frames, rdir)
    stream = (
        spark.readStream.format("parquet").schema(frames[0].schema)
        .option("maxFilesPerTrigger", 1).load(rdir)
        .withWatermark("ts", "1000 seconds")
    )
    out = streaming_temporal_rowtime_join(
        stream.where("event_type = 'f'").select("user_id", "ts", "event_id"),
        stream.where("event_type = 'v'").select(
            "user_id", "ts", F.col("value").alias("val")
        ),
    )
    ck = str(tmp_path / "s19b_ck")
    q = (
        out.writeStream.format("memory").queryName("s19b")
        .outputMode("append").option("checkpointLocation", ck).start()
    )
    q.processAllAvailable()
    q.stop()

    rows = queryable.state_lookup(spark, ck, {"user_id": 1})
    assert len(rows) == 1
    state = rows[0].groupState  # applyInPandasWithState value wrapper
    vers = [tuple(x) for x in _json.loads(state.versions)]
    facts = [tuple(x) for x in _json.loads(state.facts)]
    # GC rule: watermark 3000s — every version <= wm except the latest
    # (90s, the valid base) is gone; 10s and 40s were collected
    assert [v[0] for v in vers] == [(base + 90) * 10**6]
    assert _json.loads(vers[0][1]) == {"val": 3.0}
    # the sentinel fact (ts 4000 > wm 3000) is still pending
    assert [f[0] for f in facts] == [(base + 4000) * 10**6]
    # and the emitted row matches the version valid at its time
    got = {r.event_id: r.val for r in spark.sql("SELECT * FROM s19b").collect()}
    assert got == {500: 3.0}


# ---------------- S20: late-data side output (sideOutputLateData)


def test_s20_late_side_output_captures_dropped_rows(spark, tmp_path):
    """The dual-watermark side output captures EXACTLY the rows the
    main windowed aggregate drops: same replay, window-level rule,
    captured ids == planted late ids, count == the aggregate's
    numRowsDroppedByWatermark accounting base."""
    from flink_1_11_1_spark.streaming.late import (
        LateSideOutput,
        read_late_rows,
    )

    base = (1_700_000_000 // 3600) * 3600

    def frame(rows):  # (event_id, minute)
        return spark.createDataFrame(
            [(i, (base + int(m * 60)) * 10**6) for i, m in rows],
            "event_id long, us long",
        ).select("event_id", F.timestamp_micros(F.col("us")).alias("ts"))

    frames = [
        frame([(1, 10), (2, 70)]),            # W0, W1
        frame([(3, 400)]),                    # wm -> 400-60 = 340
        frame([(4, 30), (5, 90), (6, 350)]),  # W0/W1 end<=340: late; 350 in W5: kept
    ]
    rdir = str(tmp_path / "s20")
    replay.write_replay_frames(frames, rdir)

    def stream():
        return (
            spark.readStream.format("parquet")
            .schema(frames[0].schema)
            .option("maxFilesPerTrigger", 1)
            .load(rdir)
        )

    # main query: the windowed aggregate with the same delay
    agg = (
        stream().withWatermark("ts", "60 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
    )
    got, dropped = replay.run_stream(agg, "append", "s20_agg")

    # side consumer: stateless, same watermark arithmetic
    side = str(tmp_path / "s20_side")
    q = (
        stream().writeStream
        .foreachBatch(LateSideOutput("ts", "60 minutes", side,
                                     window_size="1 hour"))
        .option("checkpointLocation", str(tmp_path / "s20_ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    late_ids = sorted(r.event_id for r in read_late_rows(spark, side).collect())
    assert late_ids == [4, 5]
    # the aggregate excluded exactly those rows (they were filtered at
    # the pre-aggregation watermark node — silently: the state-store
    # counter only sees rows that reach it, which is why side output
    # needs reconstructing at all); ids 1,2,3,6 all surface
    assert sum(r.n for r in got) == 4


# ------- S21: CDC-fed dimension -> rowtime temporal join, end to end


def test_s21_cdc_dimension_temporal_join(spark, tmp_path):
    """The scenario the temporal join exists for (a CDC-fed versioned
    dimension): debezium envelopes decode into a version stream whose
    +I/+U rows are the dim versions, and each fact joins the version
    valid at its event time — streamed end-to-end, checked against the
    batch decode + as-of twin."""
    import json as _json

    from flink_1_11_1_spark.operators.cdc import debezium_decode
    from flink_1_11_1_spark.operators.joins import asof_join
    from flink_1_11_1_spark.streaming.temporal import (
        streaming_temporal_rowtime_join,
    )

    base = 1_700_000_000

    def dbz(op, uid, val, before=None):
        env = {"op": op, "after": {"user_id": uid, "val": val}}
        if before is not None:
            env["before"] = {"user_id": uid, "val": before}
        return _json.dumps(env)

    rows = [
        # (sec, kind, event_id, payload)
        (10, "d", None, dbz("c", 1, 100.0)),
        (10, "d", None, dbz("c", 2, 200.0)),
        (25, "f", 900, None),              # u1 fact -> val 100
        (30, "d", None, dbz("u", 1, 111.0, before=100.0)),
        (40, "f", 901, None),              # u1 fact -> val 111
        (45, "f", 902, None),              # u2 fact -> val 200
        (5000, "f", 999, None),            # watermark sentinel
    ]
    uid_of = {900: 1, 901: 1, 902: 2, 999: 1}

    def frame(sel):
        return spark.createDataFrame(
            [((uid_of.get(e) or u), (base + s) * 10**6, e, p, k)
             for s, k, e, p in sel
             for u in [1 if k == "f" else _json.loads(p)["after"]["user_id"]]],
            "user_id long, us long, event_id long, payload string, kind string",
        ).select("user_id", F.timestamp_micros(F.col("us")).alias("ts"),
                 "event_id", "payload", "kind")

    frames = [frame(rows[:2]), frame(rows[2:4]), frame(rows[4:6]),
              frame(rows[6:])]
    rdir = str(tmp_path / "s21")
    replay.write_replay_frames(frames, rdir)
    stream = (
        spark.readStream.format("parquet").schema(frames[0].schema)
        .option("maxFilesPerTrigger", 1).load(rdir)
        .withWatermark("ts", "1000 seconds")
    )
    row_schema = "user_id long, val double"
    from pyspark.sql.types import _parse_datatype_string

    versions = (
        debezium_decode(
            stream.where("kind = 'd'").select("ts", "payload"),
            "payload", _parse_datatype_string(row_schema),
        )
        .where("row_kind IN ('+I', '+U')")
        .select("user_id", "ts", "val")
    )
    facts = stream.where("kind = 'f'").select("user_id", "ts", "event_id")
    out = streaming_temporal_rowtime_join(facts, versions)
    got, _ = replay.run_stream(out, "append", "s21")
    got_m = {r.event_id: r.val for r in got}
    assert got_m == {900: 100.0, 901: 111.0, 902: 200.0}

    # batch twin: decode everything at rest, as-of join
    all_rows = frames[0]
    for fr in frames[1:]:
        all_rows = all_rows.unionByName(fr)
    batch_versions = (
        debezium_decode(
            all_rows.where("kind = 'd'").select("ts", "payload"),
            "payload", _parse_datatype_string(row_schema),
        )
        .where("row_kind IN ('+I', '+U')")
        .select("user_id", "ts", "val")
    )
    twin = asof_join(
        all_rows.where("kind = 'f' AND event_id < 999")
        .select("user_id", "event_id", "ts"),
        batch_versions, on=["user_id"], left_time="ts", right_time="ts",
        right_cols=["val"], how="inner",
    )
    assert {r.event_id: r.val for r in twin.collect()} == got_m


# ------- S22: idle-source watermark (WatermarksWithIdleness parity)


def test_s22_idle_source_watermark_policy(spark, tmp_path):
    """Flink's WatermarksWithIdleness keeps an idle input from holding
    back the watermark.  Spark's twin is per-stream watermarks +
    `multipleWatermarkPolicy=max`: under the default (min) an idle
    union branch freezes the global watermark and no window ever
    finalizes; under max the active branch drives it."""
    base = (1_700_000_000 // 3600) * 3600

    def frame(rows):
        return spark.createDataFrame(
            [(i, (base + int(m * 60)) * 10**6) for i, m in rows],
            "event_id long, us long",
        ).select("event_id", F.timestamp_micros(F.col("us")).alias("ts"))

    prior = spark.conf.get("spark.sql.streaming.multipleWatermarkPolicy", "min")
    results = {}
    try:
        for policy in ("min", "max"):
            spark.conf.set("spark.sql.streaming.multipleWatermarkPolicy", policy)
            d1 = str(tmp_path / f"active_{policy}")
            d2 = str(tmp_path / f"idle_{policy}")
            replay.write_replay_frames(
                [frame([(1, 10), (2, 70)]), frame([(3, 400)])], d1
            )
            replay.write_replay_frames([frame([(10, 5)])], d2)  # then idle

            def src(d):
                return (
                    spark.readStream.format("parquet")
                    .schema("event_id long, ts timestamp")
                    .option("maxFilesPerTrigger", 1)
                    .load(d)
                    .withWatermark("ts", "10 minutes")
                )

            agg = (
                src(d1).unionByName(src(d2))
                .groupBy(F.window("ts", "1 hour"))
                .agg(F.count("*").alias("n"))
            )
            got, _ = replay.run_stream(agg, "append", f"s22_{policy}")
            results[policy] = len(got)
    finally:
        spark.conf.set("spark.sql.streaming.multipleWatermarkPolicy", prior)
    assert results["min"] == 0   # idle branch stalls everything
    assert results["max"] == 2   # active branch finalizes W0 and W1


def test_late_sideoutput_remote_uri_rejected(tmp_path):
    """Round-13 review: the marker protocol is driver-local file I/O —
    a remote sink URI must fail fast, not silently capture nothing."""
    from flink_1_11_1_spark.streaming.late import LateSideOutput

    with pytest.raises(NotImplementedError, match="remote URI"):
        LateSideOutput("ts", "10 minutes", "s3a://bucket/late")
    LateSideOutput("ts", "10 minutes", str(tmp_path / "ok"))  # local fine


def test_late_sideoutput_cached_base_retry_discipline(spark, tmp_path):
    """Round-13 review: the cached watermark base must (a) serve the
    next batch without re-listing markers, (b) on a RETRY of batch N
    use the before-N base (never N's own rows), and (c) match the
    disk-scan result exactly."""
    from flink_1_11_1_spark.streaming.late import LateSideOutput, read_late_rows
    from flink_1_11_1_spark.streaming.wm_markers import prev_max_us

    def frame(rows):  # (event_id, minute offset)
        return spark.createDataFrame(
            [(e, f"2024-01-01 {h:02d}:{m:02d}:00") for e, (h, m) in rows],
            ["event_id", "ts_s"],
        ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"))

    sink = LateSideOutput("ts", "10 minutes", str(tmp_path / "late"))
    sink(frame([(1, (10, 0)), (2, (11, 0))]), 0)      # max 11:00
    # batch 1: event 3 at 10:30 is behind wm 11:00-10m -> late
    b1 = frame([(3, (10, 30)), (4, (12, 0))])
    sink(b1, 1)
    ids = sorted(r.event_id for r in read_late_rows(spark, sink.sink_path).collect())
    assert ids == [3]
    # retry batch 1: base excludes b1's own max (12:00) -> same capture
    sink(b1, 1)
    ids = sorted(r.event_id for r in read_late_rows(spark, sink.sink_path).collect())
    assert ids == [3]
    # cache vs disk agreement for the next batch
    assert sink._base_for(2) == prev_max_us(sink._wm_dir, 2)
    # batch 2 base now includes 12:00: event 5 at 11:30 is late
    sink(frame([(5, (11, 30)), (6, (13, 0))]), 2)
    ids = sorted(r.event_id for r in read_late_rows(spark, sink.sink_path).collect())
    assert ids == [3, 5]


def test_async_enrich_capacity_validated(spark):
    """Round-13 review: capacity <= 0 would deadlock every lookup
    (Semaphore(0)) — reject at entry like the on_timeout guard."""
    from flink_1_11_1_spark.operators.enrich import async_enrich

    df = spark.range(3).selectExpr("id AS k")

    async def fn(v):
        return v

    with pytest.raises(ValueError, match="capacity"):
        async_enrich(df, "k", "r", "long", fn, capacity=0)

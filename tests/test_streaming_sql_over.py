"""Streaming SQL OVER / Top-N routing (round 11 — VERDICT r10 next #2).

Flink 1.11 plans ``OVER (PARTITION BY k ORDER BY rowtime ...)`` and the
``ROW_NUMBER() ... WHERE rn <= N`` rank pattern on streams
(StreamExecOverAggregate.scala / StreamExecRank.scala); Spark rejects
both at query start.  ``ddl.execute`` now routes streaming SELECTs with
OVER to ``streaming/over.running_over`` / ``TopNRetractWriter``; these
tests pin SQL-text == batch-twin parity for every supported frame, the
capability-matrix errors for frames Flink rejects too, and the
exactly-once emission contract (the round-11 park-the-timer fix).
"""

from __future__ import annotations

from collections import Counter

import pytest

from pyspark.sql import functions as F

from flink_1_11_1_spark import catalog
from flink_1_11_1_spark.streaming import replay
from flink_1_11_1_spark.streaming.capability import UnsupportedStreamingPlan
from flink_1_11_1_spark.table_env import TableEnvironment

from .conftest import SF_SMOKE

pytestmark = pytest.mark.streaming


@pytest.fixture(scope="module")
def replay_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sqlover") / "rp")
    replay.write_replay(spark, SF_SMOKE, d, parts=4)
    return d


@pytest.fixture()
def tenv(spark):
    return TableEnvironment(spark)


def _stream_view(spark, replay_dir, name):
    stream = replay.events_stream(spark, replay_dir).select(
        "user_id", "event_id", "ts", "value")
    stream.createOrReplaceTempView(name)
    return stream


def _batch_events(spark):
    return catalog.load_table(spark, SF_SMOKE, "events").select(
        "user_id", "event_id", "ts", "value")


def _keyed(rows, val, nd=6):
    return {
        (r.user_id, r.event_id): round(val(r), nd) if val(r) is not None
        else None
        for r in rows if r.user_id is not None and r.user_id >= 0
    }


def test_sql_over_default_frame_equals_batch_range(tenv, replay_dir):
    """``OVER (PARTITION BY k ORDER BY ts)`` — the SQL default RANGE
    UNBOUNDED PRECEDING — equals the batch rangeBetween twin."""
    from pyspark.sql.window import Window

    spark = tenv.spark
    _stream_view(spark, replay_dir, "so_ev1")
    out = tenv.execute_sql(
        "SELECT user_id, event_id, ts, sum(value) OVER "
        "(PARTITION BY user_id ORDER BY ts) AS rs FROM so_ev1")
    assert out.isStreaming
    got, dropped = replay.run_stream(out, "append", "so_range_unb")
    assert dropped == 0
    w = (Window.partitionBy("user_id").orderBy("ts")
         .rangeBetween(Window.unboundedPreceding, Window.currentRow))
    want = _batch_events(spark).select(
        "user_id", "event_id", F.sum("value").over(w).alias("rs")).collect()
    assert _keyed(got, lambda r: r.rs) == _keyed(want, lambda r: r.rs)
    # exactly-once: each input row emitted exactly once (park-timer fix)
    c = Counter((r.user_id, r.event_id) for r in got)
    assert max(c.values()) == 1


def test_sql_over_multi_agg_rows_unbounded(tenv, replay_dir):
    """Several aggregates over one ROWS UNBOUNDED window in one
    statement — one operator, all Flink 1.11 stream aggs."""
    from pyspark.sql.window import Window

    spark = tenv.spark
    _stream_view(spark, replay_dir, "so_ev2")
    out = tenv.execute_sql(
        "SELECT user_id, event_id, "
        "sum(value) OVER (PARTITION BY user_id ORDER BY ts "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s, "
        "count(value) OVER (PARTITION BY user_id ORDER BY ts "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c, "
        "avg(value) OVER (PARTITION BY user_id ORDER BY ts "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a, "
        "max(value) OVER (PARTITION BY user_id ORDER BY ts "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mx "
        "FROM so_ev2")
    got, _ = replay.run_stream(out, "append", "so_rows_unb")
    w = (Window.partitionBy("user_id").orderBy("ts")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    want = _batch_events(spark).select(
        "user_id", "event_id",
        F.sum("value").over(w).alias("s"),
        F.count("value").over(w).alias("c"),
        F.avg("value").over(w).alias("a"),
        F.max("value").over(w).alias("mx")).collect()
    def m(rows):
        return {
            (r.user_id, r.event_id):
                (round(r.s, 6), r.c, round(r.a, 6), round(r.mx, 6))
            for r in rows if r.user_id is not None and r.user_id >= 0
        }

    assert m(got) == m(want)


def test_sql_over_rows_bounded_equals_batch(tenv, replay_dir):
    """ROWS 2 PRECEDING AND CURRENT ROW — the bounded-rows frame
    (RowTimeRowsBoundedPrecedingFunction parity)."""
    from pyspark.sql.window import Window

    spark = tenv.spark
    _stream_view(spark, replay_dir, "so_ev3")
    out = tenv.execute_sql(
        "SELECT user_id, event_id, sum(value) OVER (PARTITION BY user_id "
        "ORDER BY ts ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS s "
        "FROM so_ev3")
    got, _ = replay.run_stream(out, "append", "so_rows_bnd")
    w = Window.partitionBy("user_id").orderBy("ts").rowsBetween(-2, 0)
    want = _batch_events(spark).select(
        "user_id", "event_id", F.sum("value").over(w).alias("s")).collect()
    assert _keyed(got, lambda r: r.s) == _keyed(want, lambda r: r.s)


def test_sql_over_range_interval_equals_batch(tenv, replay_dir):
    """RANGE INTERVAL '2' HOUR PRECEDING — the bounded-range frame; the
    batch twin is the SAME SQL text on the batch events view (Spark
    supports interval RANGE frames in batch)."""
    spark = tenv.spark
    _stream_view(spark, replay_dir, "so_ev4")
    text = (
        "SELECT user_id, event_id, sum(value) OVER (PARTITION BY user_id "
        "ORDER BY ts RANGE BETWEEN INTERVAL '2' HOUR PRECEDING AND "
        "CURRENT ROW) AS s FROM {src}")
    got, _ = replay.run_stream(
        tenv.execute_sql(text.format(src="so_ev4")), "append", "so_rng_bnd")
    catalog.register(spark, SF_SMOKE)
    want = spark.sql(
        text.format(src="(SELECT user_id, event_id, ts, value FROM events)")
    ).collect()
    assert _keyed(got, lambda r: r.s) == _keyed(want, lambda r: r.s)


def test_sql_over_qualified_column_named_like_keyword(tenv, replay_dir):
    """A qualified column named like a clause keyword (``e.group``,
    ``e.limit``, ``e.from``) is a name, not the GROUP / LIMIT / FROM
    clause: Spark's default mode accepts it, so the OVER routing must
    neither reject the statement nor split it there."""
    from flink_1_11_1_spark.streaming.sql_over import _split_select

    assert _split_select("SELECT e.from, x FROM t e") == ("e.from, x", "t e")
    spark = tenv.spark
    replay.events_stream(spark, replay_dir).selectExpr(
        "user_id AS `group`", "event_id", "ts", "value", "0 AS `limit`"
    ).createOrReplaceTempView("so_kw")
    out = tenv.execute_sql(
        "SELECT `group` AS user_id, event_id, sum(value) OVER (PARTITION "
        "BY `group` ORDER BY ts ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) "
        "AS s FROM so_kw e WHERE e.group IS NOT NULL AND e.limit = 0")
    assert out.isStreaming
    got, _ = replay.run_stream(out, "append", "so_kw_cols")
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts").rowsBetween(-2, 0)
    want = _batch_events(spark).select(
        "user_id", "event_id", F.sum("value").over(w).alias("s")).collect()
    assert _keyed(got, lambda r: r.s) == _keyed(want, lambda r: r.s)


def test_sql_topn_pattern_routes_to_retract_stream(tenv, replay_dir, tmp_path):
    """The Flink rank pattern on a streaming aggregate returns a
    StreamingTopN handle whose folded retract records equal the batch
    Top-N (StreamExecRank parity, TopNRetractWriter rendering)."""
    from flink_1_11_1_spark.operators.rank import top_n
    from flink_1_11_1_spark.streaming.sql_over import StreamingTopN

    spark = tenv.spark
    stream = replay.events_stream(spark, replay_dir, watermark=None).where(
        "user_id >= 0")
    stream.createOrReplaceTempView("so_topn_src")
    h = tenv.execute_sql(
        "SELECT user_id, total, rn FROM (SELECT user_id, "
        "sum(value) AS total, ROW_NUMBER() OVER (ORDER BY sum(value) DESC) "
        "AS rn FROM so_topn_src GROUP BY user_id) t WHERE rn <= 5")
    assert isinstance(h, StreamingTopN)
    q = h.start(str(tmp_path / "topn_rec"),
                checkpoint_dir=str(tmp_path / "topn_ckpt"))
    q.processAllAvailable()
    q.stop()
    got = sorted((r.user_id, round(r.total, 6), r.rn)
                 for r in h.snapshot(spark).collect())
    ev = _batch_events(spark).where("user_id >= 0")
    want = top_n(
        ev.groupBy("user_id").agg(F.sum("value").alias("total")),
        [], [F.col("total").desc()], 5)
    assert got == sorted(
        (r.user_id, round(r.total, 6), r.rn) for r in want.collect())


def test_sql_over_batch_statements_stay_native(tenv):
    """Batch SELECTs with OVER go straight to Catalyst (one analysis,
    returned untouched) — including the batch rank pattern."""
    spark = tenv.spark
    catalog.register(spark, SF_SMOKE)
    b = tenv.execute_sql(
        "SELECT user_id, sum(value) OVER (PARTITION BY user_id "
        "ORDER BY ts) s FROM events LIMIT 5")
    assert not b.isStreaming and b.count() == 5
    b2 = tenv.execute_sql(
        "SELECT * FROM (SELECT user_id, sum(value) AS total, ROW_NUMBER() "
        "OVER (ORDER BY sum(value) DESC) rn FROM events GROUP BY user_id) "
        "WHERE rn <= 3")
    assert not b2.isStreaming and b2.count() == 3


def test_sql_over_capability_errors(tenv, replay_dir):
    spark = tenv.spark
    _stream_view(spark, replay_dir, "so_cap")
    with pytest.raises(UnsupportedStreamingPlan, match="ASCENDING"):
        tenv.execute_sql(
            "SELECT user_id, sum(value) OVER (PARTITION BY user_id "
            "ORDER BY ts DESC) s FROM so_cap")
    with pytest.raises(UnsupportedStreamingPlan, match="frame"):
        tenv.execute_sql(
            "SELECT user_id, sum(value) OVER (PARTITION BY user_id ORDER "
            "BY ts ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) s FROM so_cap")
    with pytest.raises(UnsupportedStreamingPlan, match="Top-N pattern"):
        tenv.execute_sql(
            "SELECT user_id, ROW_NUMBER() OVER (PARTITION BY user_id "
            "ORDER BY ts) rn FROM so_cap")
    with pytest.raises(UnsupportedStreamingPlan, match="one window"):
        tenv.execute_sql(
            "SELECT sum(value) OVER (PARTITION BY user_id ORDER BY ts) a, "
            "sum(value) OVER (ORDER BY ts) b FROM so_cap")
    # no watermark on the rowtime column
    nf = replay.events_stream(spark, replay_dir, watermark=None).select(
        "user_id", "ts", "value")
    nf.createOrReplaceTempView("so_nowm")
    with pytest.raises(UnsupportedStreamingPlan, match="watermark"):
        tenv.execute_sql(
            "SELECT user_id, sum(value) OVER (PARTITION BY user_id "
            "ORDER BY ts) s FROM so_nowm")
    # proctime ordering: the NAMED capability row (VERDICT r11 #2) —
    # not Spark's opaque nondeterministic-window analysis error
    with pytest.raises(UnsupportedStreamingPlan, match="PROCTIME"):
        tenv.execute_sql(
            "SELECT user_id, sum(value) OVER (PARTITION BY user_id "
            "ORDER BY PROCTIME()) s FROM so_cap")
    # OVER only inside a derived table: named error, not KeyError
    # (ADVICE r11 #1)
    with pytest.raises(UnsupportedStreamingPlan, match="derived table"):
        tenv.execute_sql(
            "SELECT user_id, s FROM (SELECT user_id, ts, sum(value) OVER "
            "(PARTITION BY user_id ORDER BY ts) AS s FROM so_cap) "
            "WHERE s > 5")
    # aggregate alias colliding with an input column (ADVICE r11 #2)
    with pytest.raises(UnsupportedStreamingPlan, match="collides"):
        tenv.execute_sql(
            "SELECT user_id, sum(value) OVER (PARTITION BY user_id "
            "ORDER BY ts) AS value FROM so_cap")


def test_sql_topn_append_only_inner_routes(tenv, replay_dir, tmp_path):
    """AppendOnlyTopNFunction parity (round 12 — VERDICT r11 missing
    #1): the rank pattern over an INSERT-ONLY inner (no aggregate)
    routes to the append-merge writer; the folded retract records equal
    the batch Top-N of all replayed rows."""
    from flink_1_11_1_spark.operators.rank import top_n
    from flink_1_11_1_spark.streaming.sql_over import StreamingTopN

    spark = tenv.spark
    stream = replay.events_stream(spark, replay_dir).where("user_id >= 0")
    stream.createOrReplaceTempView("so_ao_src")
    h = tenv.execute_sql(
        "SELECT user_id, event_id, value, rn FROM (SELECT user_id, "
        "event_id, ts, value, ROW_NUMBER() OVER (PARTITION BY user_id "
        "ORDER BY value DESC, event_id) AS rn FROM so_ao_src) t "
        "WHERE rn <= 3")
    assert isinstance(h, StreamingTopN) and h.append_only
    q = h.start(str(tmp_path / "ao_rec"),
                checkpoint_dir=str(tmp_path / "ao_ckpt"))
    q.processAllAvailable()
    q.stop()
    got = sorted((r.user_id, r.event_id, round(r.value, 6), r.rn)
                 for r in h.snapshot(spark).collect())
    ev = _batch_events(spark).where("user_id >= 0")
    want = top_n(ev, ["user_id"],
                 [F.col("value").desc(), F.col("event_id").asc()], 3)
    assert got == sorted(
        (r.user_id, r.event_id, round(r.value, 6), r.rn)
        for r in want.select("user_id", "event_id", "value", "rn").collect())


def test_sql_topn_batch_subquery_inner_stays_append_only(tenv, replay_dir):
    """Round-12 review: a BATCH aggregate inside the inner's scalar
    subquery must not flip the insert-only classification — the plan
    walk requires an Aggregate over a STREAMING subtree."""
    spark = tenv.spark
    catalog.register(spark, SF_SMOKE)  # batch 'events' view for the subquery
    stream = replay.events_stream(spark, replay_dir).where("user_id >= 0")
    stream.createOrReplaceTempView("so_sub_src")
    h = tenv.execute_sql(
        "SELECT user_id, event_id, rn FROM (SELECT user_id, event_id, ts, "
        "value, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value "
        "DESC, event_id) AS rn FROM so_sub_src "
        "WHERE value > (SELECT min(value) FROM events)) t WHERE rn <= 2")
    assert h.append_only


def test_capability_matrix_names_proctime_over_delta():
    """VERDICT r11 missing #2 second half: the capability MATRIX itself
    carries the ProcTime* OVER row, not just the SQL route's error."""
    from flink_1_11_1_spark.streaming import capability

    capability.validate("over_rowtime", "append")
    with pytest.raises(UnsupportedStreamingPlan, match="rowtime"):
        capability.validate("over_proctime", "append")
    assert "append" in capability.supported_modes("over_rowtime")
    assert "append" not in capability.supported_modes("over_proctime")


def test_sql_over_batch_proctime_paths(tenv):
    """Round-12 review: the PROCTIME capability error must not eat
    batch statements whose analysis succeeds.  A batch PROCTIME() in a
    PROJECTION (legal — the group-window auxiliaries render this way)
    stays native; ORDER BY PROCTIME() never analyzes on ANY Spark plan
    (UNSUPPORTED_SQL_UDF_USAGE in Sort), so there the route upgrades
    the opaque analysis error to the named capability row."""
    spark = tenv.spark
    catalog.register(spark, SF_SMOKE)
    b = tenv.execute_sql(
        "SELECT user_id, PROCTIME() AS pt, sum(value) OVER (PARTITION BY "
        "user_id ORDER BY ts) s FROM events LIMIT 5")
    assert not b.isStreaming and b.count() == 5
    with pytest.raises(UnsupportedStreamingPlan, match="PROCTIME"):
        tenv.execute_sql(
            "SELECT user_id, sum(value) OVER (PARTITION BY user_id ORDER "
            "BY ts) s FROM events ORDER BY PROCTIME() LIMIT 5")


def test_sql_over_proctime_error_chains_real_cause(tenv):
    """ADVICE r12: an UNRELATED analysis failure (here a typo'd column)
    in a PROCTIME-ordered statement must stay visible — the capability
    error chains the original exception instead of swallowing it."""
    spark = tenv.spark
    catalog.register(spark, SF_SMOKE)
    with pytest.raises(UnsupportedStreamingPlan, match="PROCTIME") as ei:
        tenv.execute_sql(
            "SELECT user_id, sum(no_such_column) OVER (PARTITION BY "
            "user_id ORDER BY ts) s FROM events ORDER BY PROCTIME() LIMIT 5")
    cause = ei.value.__cause__
    assert cause is not None and "no_such_column" in str(cause)


def test_sql_topn_append_only_restart_parity(tenv, tmp_path):
    """AppendOnlyTopNWriter restart discipline (inherited from
    RetractStreamWriter): stop after a prefix whose Top-N differs from
    the final one, restart a FRESH handle against the same workdir +
    checkpoint, and the folded snapshot equals the batch Top-N of all
    rows — the diff base is discovered on disk, not held in memory."""
    import datetime as dt

    from flink_1_11_1_spark.operators.rank import top_n

    spark = tenv.spark
    base = dt.datetime(2024, 1, 1)
    schema = "user_id long, event_id long, ts timestamp, value double"

    def f(rows):
        return spark.createDataFrame(
            [(u, e, base + dt.timedelta(minutes=m), v)
             for u, e, m, v in rows], schema)

    frames = [
        f([(1, 1, 0, 10.0), (1, 2, 1, 20.0), (1, 3, 2, 30.0)]),
        # phase 2 displaces two of phase 1's top-2
        f([(1, 4, 3, 40.0), (1, 5, 4, 50.0)]),
    ]
    rdir = str(tmp_path / "ao_rs_src")
    replay.write_replay_frames(frames[:1], rdir)

    def run_phase():
        stream = (spark.readStream.format("parquet")
                  .schema(frames[0].schema)
                  .option("maxFilesPerTrigger", 1).load(rdir)
                  .withWatermark("ts", "10 minutes"))
        stream.createOrReplaceTempView("ao_rs")
        h = tenv.execute_sql(
            "SELECT user_id, event_id, value, rn FROM (SELECT user_id, "
            "event_id, ts, value, ROW_NUMBER() OVER (PARTITION BY user_id "
            "ORDER BY value DESC, event_id) AS rn FROM ao_rs) t "
            "WHERE rn <= 2")
        assert h.append_only
        q = h.start(str(tmp_path / "ao_rs_rec"),
                    checkpoint_dir=str(tmp_path / "ao_rs_ckpt"))
        q.processAllAvailable()
        q.stop()
        return sorted((r.user_id, r.event_id, r.rn)
                      for r in h.snapshot(spark).collect())

    partial = run_phase()
    assert partial == [(1, 2, 2), (1, 3, 1)]  # phase-1 top-2
    replay.write_replay_frames(frames[1:], rdir, start=1)
    got = run_phase()  # fresh handle + writer, same workdir/ckpt
    want = top_n(
        f([(1, 1, 0, 10.0), (1, 2, 1, 20.0), (1, 3, 2, 30.0),
           (1, 4, 3, 40.0), (1, 5, 4, 50.0)]),
        ["user_id"], [F.col("value").desc(), F.col("event_id").asc()], 2)
    assert got == sorted((r.user_id, r.event_id, r.rn)
                         for r in want.collect())
    assert got != partial  # the restart genuinely revised ranks


def test_running_over_drops_null_rowtime(spark, tmp_path):
    """ADVICE r11 #3: a NULL/NaT rowtime row must be dropped when
    buffering (Flink's rowtime operators never see null event times) —
    not crash the executor sorting None against int."""
    import datetime as dt

    from flink_1_11_1_spark.streaming import over

    base = dt.datetime(2024, 1, 1)
    schema = "user_id long, event_id long, ts timestamp, value double"

    def f(rows):
        return spark.createDataFrame(rows, schema)

    frames = [
        f([(1, 1, base, 1.0), (1, 2, None, 99.0)]),
        f([(1, 3, base + dt.timedelta(hours=1), 2.0), (1, 4, None, 7.0)]),
        f([(1, 5, base + dt.timedelta(days=30), 0.0)]),  # flush
    ]
    d = str(tmp_path / "rp_nullts")
    replay.write_replay_frames(frames, d)
    stream = replay.events_stream(spark, d, watermark="10 minutes")
    out = over.running_over(stream, ["user_id"], "ts",
                            [("sum", "value", "rs")])
    got, _ = replay.run_stream(out, "append", "ro_nullts")
    vals = {r.event_id: round(r.rs, 6) for r in got}
    assert 2 not in vals and 4 not in vals  # null-rowtime rows dropped
    assert vals[1] == 1.0 and vals[3] == 3.0
    # the fixed-schema running_sum façade has the same guard (round-12
    # review: NaT.value is int64-min — it sorted below any watermark
    # and overflowed pd.Timestamp on emission)
    stream2 = replay.events_stream(spark, d, watermark="10 minutes")
    got2, _ = replay.run_stream(over.running_sum(stream2), "append",
                                "rs_nullts")
    vals2 = {r.event_id: round(r.running_sum, 6) for r in got2}
    assert 2 not in vals2 and 4 not in vals2
    assert vals2[1] == 1.0 and vals2[3] == 3.0


def test_running_sum_emits_exactly_once(spark, tmp_path):
    """Regression for the round-11 park-the-timer fix: a draining
    timeout invocation must update state, or the stale buffer re-emits
    on every later trigger (235 duplicate rows at sf0.001)."""
    from flink_1_11_1_spark.streaming import over

    d = str(tmp_path / "rp_once")
    replay.write_replay(spark, SF_SMOKE, d, parts=4)
    stream = replay.events_stream(spark, d).select(
        "user_id", "event_id", "ts", "value")
    got, _ = replay.run_stream(over.running_sum(stream), "append", "rs_once")
    c = Counter((r.user_id, r.event_id) for r in got)
    assert len(got) == len(c), "duplicate emissions"
    n_events = _batch_events(spark).count()
    assert len([r for r in got if r.user_id >= 0]) == n_events


def test_sql_over_distinct_rejected(tenv, replay_dir):
    spark = tenv.spark
    _stream_view(spark, replay_dir, "so_dist")
    with pytest.raises(UnsupportedStreamingPlan, match="DISTINCT"):
        tenv.execute_sql(
            "SELECT DISTINCT user_id, sum(value) OVER (PARTITION BY "
            "user_id ORDER BY ts) s FROM so_dist")

"""TableEnvironment façade, TableSpec DDL layer, async-batch enrichment,
MULTISET/TIME conventions."""

import shutil
import tempfile

import pandas as pd
import pytest

from pyspark.sql import functions as F

from flink_1_11_1_spark import catalog
from flink_1_11_1_spark import functions as ffn
from flink_1_11_1_spark.operators import enrich
from flink_1_11_1_spark.table_env import TableEnvironment, TableSpec, events_spec

from .conftest import SF_SMOKE


def test_table_environment_front_door(spark):
    env = TableEnvironment(spark)
    env.register_fixture_catalog(SF_SMOKE)
    df = env.execute_sql(
        "SELECT c_mktsegment, count(*) n FROM customer GROUP BY c_mktsegment"
    )
    assert df.count() == 5
    # Flink-only SQL names are registered by the environment
    assert env.execute_sql("SELECT SPLIT_INDEX('a:b', ':', 0) s").first().s == "a"
    # fluent layer: from_path returns the Table façade; .df is the
    # underlying DataFrame, and both string and Column predicates work
    t = env.from_path("customer")
    assert t.where("c_custkey < 10").df.count() == 10
    assert t.where(F.col("c_custkey") < 10).df.count() == 10


def test_table_spec_computed_column_and_watermark(spark):
    spec = events_spec(SF_SMOKE)
    batch = spec.load(spark)
    # computed column applied: ts is a proper timestamp, ms-floored
    assert dict(batch.dtypes)["ts"] == "timestamp"
    want = catalog.load_table(spark, SF_SMOKE, "events")
    assert batch.agg(F.max("ts")).first()[0] == want.agg(F.max("ts")).first()[0]
    stream = spec.stream(spark)
    assert stream.isStreaming
    # watermark wired into the plan
    assert "EventTimeWatermark" in stream._jdf.queryExecution().logical().toString()


def test_table_spec_create_table_roundtrip(spark):
    env = TableEnvironment(spark)
    env.create_table("events_ddl", events_spec(SF_SMOKE))
    n = env.execute_sql("SELECT count(*) c FROM events_ddl").first().c
    assert n == catalog.load_table(spark, SF_SMOKE, "events").count()


def test_async_batch_enrich(spark):
    calls = []

    def service(values: pd.Series) -> pd.Series:
        calls.append(len(values))
        return values.map(lambda s: s.upper())

    nation = catalog.load_table(spark, SF_SMOKE, "nation")
    out = enrich.enrich(nation, "n_name", "n_upper", "string", service, batch_size=7)
    rows = out.orderBy("n_nationkey").collect()
    assert [r.n_upper for r in rows] == [r.n_name.upper() for r in rows]
    # ordered emission preserved alongside original columns
    assert rows[0].n_nationkey == 0


def test_collect_multiset(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "a"), (2, "c")], ["k", "v"]
    )
    got = {
        r.k: dict(r.ms)
        for r in df.groupBy("k").agg(ffn.collect_multiset("v").alias("ms")).collect()
    }
    assert got == {1: {"a": 2, "b": 1}, 2: {"c": 1}}


def test_to_time_millis(spark):
    r = spark.sql(
        "SELECT timestamp '2024-01-01 01:02:03.456' t1, timestamp '2024-01-01 00:00:00' t2"
    ).select(
        ffn.to_time_millis("t1").alias("m1"), ffn.to_time_millis("t2").alias("m2")
    ).first()
    assert r.m1 == 1 * 3600_000 + 2 * 60_000 + 3_000 + 456 and r.m2 == 0


def test_time_multiset_operation_library(spark):
    """Round 7: the operations Flink defines OVER the two
    convention-mapped types — TIME literals/rendering on INT
    millis-of-day, CARDINALITY / element-count / UNION ALL on the
    map<value,count> multiset."""
    assert ffn.time_literal_millis("10:30:00.5") == 10 * 3600_000 + 30 * 60_000 + 500
    assert ffn.time_literal_millis("00:00:00") == 0
    with pytest.raises(ValueError):
        ffn.time_literal_millis("25:00:00")

    r = spark.range(1).select(
        ffn.time_format(F.lit(ffn.time_literal_millis("01:02:03.456"))).alias("s")
    ).first()
    assert r.s == "01:02:03.456"

    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "a"), (2, "c")], ["k", "v"]
    )
    ms = df.groupBy("k").agg(ffn.collect_multiset("v").alias("ms"))
    got = {
        r.k: (r.card, r.n_a)
        for r in ms.select(
            "k",
            ffn.multiset_cardinality("ms").alias("card"),
            ffn.multiset_count_of("ms", F.lit("a")).alias("n_a"),
        ).collect()
    }
    assert got == {1: (3, 2), 2: (1, 0)}

    two = ms.alias("x").join(
        ms.withColumnRenamed("ms", "ms2").alias("y"), "k"
    ).select("k", ffn.multiset_union("ms", "ms2").alias("u"))
    u = {r.k: dict(r.u) for r in two.collect()}
    assert u == {1: {"a": 4, "b": 2}, 2: {"c": 2}}


# ------------------------- per-record async lookup (round 6, §3.11)


def _async_df(spark):
    return spark.createDataFrame(
        [(i,) for i in range(12)], "k long"
    ).coalesce(1)  # one Arrow batch → emission order observable


def test_async_enrich_ordered_vs_unordered(spark):
    """orderedWait preserves input order even when later records
    complete first; unorderedWait emits in completion order — the
    AsyncWaitOperator mode pair, driven by a mock endpoint whose
    latency decreases with the key."""
    from flink_1_11_1_spark.operators.enrich import async_enrich

    async def mock(v):
        import asyncio

        await asyncio.sleep((11 - v) * 0.02)  # key 11 fastest
        return v * 10

    df = _async_df(spark)
    got_o = async_enrich(df, "k", "r", "long", mock, ordered=True).collect()
    assert [r.k for r in got_o] == list(range(12))
    assert all(r.r == r.k * 10 for r in got_o)

    got_u = async_enrich(df, "k", "r", "long", mock, ordered=False).collect()
    assert [r.k for r in got_u] == list(range(11, -1, -1))  # completion order
    assert all(r.r == r.k * 10 for r in got_u)


def test_async_enrich_capacity_bounds_in_flight(spark):
    """The in-flight window never exceeds `capacity` (AsyncDataStream's
    backpressure knob)."""
    from flink_1_11_1_spark.operators.enrich import async_enrich

    async def mock(v):
        import asyncio

        mock.live += 1
        mock.peak = max(mock.peak, mock.live)
        await asyncio.sleep(0.01)
        mock.live -= 1
        return mock.peak

    mock.live, mock.peak = 0, 0
    got = async_enrich(
        _async_df(spark), "k", "peak", "long", mock, capacity=3
    ).collect()
    assert max(r.peak for r in got) <= 3


def test_async_enrich_timeout_modes(spark):
    """Per-record timeout: null renders the lookup-join complete-with-
    empty override, drop omits the row, error fails the job (Flink's
    AsyncFunction.timeout default)."""
    import pytest as _pytest

    from flink_1_11_1_spark.operators.enrich import async_enrich

    async def mock(v):
        import asyncio

        await asyncio.sleep(10 if v % 4 == 0 else 0.001)  # 0,4,8 hang
        return v * 10

    df = _async_df(spark)
    got = async_enrich(
        df, "k", "r", "long", mock, timeout_s=0.5, on_timeout="null"
    ).collect()
    assert {r.k: r.r for r in got} == {
        i: (None if i % 4 == 0 else i * 10) for i in range(12)
    }

    got = async_enrich(
        df, "k", "r", "long", mock, timeout_s=0.5, on_timeout="drop"
    ).collect()
    assert sorted(r.k for r in got) == [i for i in range(12) if i % 4 != 0]

    with _pytest.raises(Exception, match="timed out|TimeoutError"):
        async_enrich(
            df, "k", "r", "long", mock, timeout_s=0.5, on_timeout="error"
        ).collect()


def test_create_temporal_table_function(spark):
    """Table.createTemporalTableFunction parity: the returned function
    joins each probe row to the history version valid at its time —
    the classic rates example."""
    tenv = TableEnvironment(spark)
    rates = spark.createDataFrame(
        [("eur", 100, 1.10), ("eur", 200, 1.20), ("usd", 100, 1.00)],
        "ccy string, rt long, rate double",
    ).select("ccy", F.timestamp_seconds(F.col("rt")).alias("rt"), "rate")
    orders = spark.createDataFrame(
        [(1, "eur", 150, 10.0), (2, "eur", 250, 20.0), (3, "usd", 50, 5.0)],
        "oid long, ccy string, ot long, amount double",
    ).select("oid", "ccy", F.timestamp_seconds(F.col("ot")).alias("ot"), "amount")

    rates_fn = tenv.create_temporal_table_function(rates, "rt", "ccy")
    got = {r.oid: r.rate for r in rates_fn(orders, "ot").collect()}
    # order 1 at t=150 -> eur rate@100 (1.10); order 2 at 250 -> 1.20;
    # order 3 at t=50 predates any usd version -> dropped (inner)
    assert got == {1: 1.10, 2: 1.20}


def test_execute_script_comment_backslash_continues(spark):
    """Scripts split by Spark's lexer rules: a ``--`` comment whose line
    ends in a backslash continues onto the next line, so that line's
    statement is part of the comment (a documented dialect delta)."""
    env = TableEnvironment(spark)
    spark.catalog.dropTempView("bs_cont_v1")
    spark.catalog.dropTempView("bs_cont_v2")
    script = (
        "CREATE TEMPORARY VIEW bs_cont_v1 AS SELECT 1 AS a;\n"
        "-- data in C:\\tmp\\\n"
        "CREATE TEMPORARY VIEW bs_cont_v2 AS SELECT 2 AS a;\n"
        "SELECT 3 AS a"
    )
    try:
        assert env.execute_script(script).first().a == 3
        assert spark.catalog.tableExists("bs_cont_v1")
        assert not spark.catalog.tableExists("bs_cont_v2")
    finally:
        spark.catalog.dropTempView("bs_cont_v1")
        spark.catalog.dropTempView("bs_cont_v2")

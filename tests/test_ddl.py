"""Flink DDL front-door tests (ddl.py + TableEnvironment.execute_sql).

Models the reference's sql-parser + CatalogSourceTable behavior: a
Flink user's DDL scripts (CREATE TABLE ... WITH, computed columns,
WATERMARK, PARTITIONED BY, INSERT INTO) run unchanged against the
engine's connector layer.
"""

from __future__ import annotations

import os

import pytest

from flink_1_11_1_spark.ddl import flink_type_to_spark, parse_create_table
from flink_1_11_1_spark.table_env import TableEnvironment

from .conftest import SF_SMOKE


@pytest.fixture()
def tenv(spark):
    return TableEnvironment(spark)


# ------------------------------------------------------------- parsing


def test_type_mapping_covers_flink_lattice():
    cases = {
        "STRING": "STRING",
        "VARCHAR(255)": "STRING",
        "CHAR(2)": "STRING",
        "DECIMAL(10, 2)": "DECIMAL(10, 2)",
        "TIMESTAMP(3)": "TIMESTAMP",
        "TIMESTAMP(3) WITH LOCAL TIME ZONE": "TIMESTAMP",
        "ARRAY<INT>": "ARRAY<INT>",
        "MAP<STRING, BIGINT>": "MAP<STRING, BIGINT>",
        "ROW<a INT, b STRING>": "STRUCT<a: INT, b: STRING>",
        "ARRAY<ROW<x DOUBLE, y DOUBLE>>": "ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>",
        "MULTISET<STRING>": "MAP<STRING, INT>",
        "BYTES": "BINARY",
        "TIME": "STRING",
    }
    for flink, spark_t in cases.items():
        assert flink_type_to_spark(flink) == spark_t, flink


def test_parse_full_create_table():
    ct = parse_create_table(
        """
        CREATE TEMPORARY TABLE IF NOT EXISTS user_actions (
          user_id BIGINT NOT NULL,
          item_id BIGINT,
          behavior STRING COMMENT 'pv/buy/cart/fav',
          amount DECIMAL(10, 2),
          total AS amount * 2,
          ts TIMESTAMP(3),
          WATERMARK FOR ts AS ts - INTERVAL '5' SECOND,
          PRIMARY KEY (user_id) NOT ENFORCED
        ) PARTITIONED BY (behavior) WITH (
          'connector' = 'filesystem',
          'path' = '/tmp/user_actions',
          'format' = 'parquet'
        );
        """
    )
    assert ct.name == "user_actions" and ct.temporary
    assert ("user_id", "BIGINT", True) in ct.columns
    assert ("amount", "DECIMAL(10, 2)", False) in ct.columns
    assert ct.computed == {"total": "amount * 2"}
    assert ct.watermark_col == "ts" and ct.watermark_delay == "5 seconds"
    assert ct.primary_key == ["user_id"]
    assert ct.partitioned_by == ["behavior"]
    assert ct.connector == "filesystem"
    assert ct.spark_schema_ddl().startswith("user_id BIGINT")


def test_computed_column_beside_nested_types():
    """``c AS a > 1`` is a comparison, not a closing type bracket: only a
    ``<`` right after ARRAY/MAP/ROW/MULTISET nests, so the column after
    the computed one survives and nested type strings still split."""
    ct = parse_create_table(
        "CREATE TABLE t (a INT, c AS a > 1, b STRING, "
        "r ROW<x INT, y MAP<STRING, INT>>) WITH ('connector' = 'print')")
    assert ct.columns == [
        ("a", "INT", False), ("b", "STRING", False),
        ("r", "STRUCT<x: INT, y: MAP<STRING, INT>>", False)]
    assert ct.computed == {"c": "a > 1"}


def test_parse_rejects_missing_connector():
    with pytest.raises(ValueError, match="connector"):
        parse_create_table(
            "CREATE TABLE t (a INT) WITH ('format' = 'parquet')"
        )


# -------------------------------------------------------- batch source


def test_filesystem_source_ddl_scans_fixture(tenv):
    tenv.execute_sql(
        f"""
        CREATE TABLE ddl_docs (
          doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT,
          n_tokens AS length(text) - length(replace(text, ' ', '')) + 1
        ) WITH (
          'connector' = 'filesystem',
          'path' = '{SF_SMOKE}/documents.parquet',
          'format' = 'parquet'
        )
        """
    )
    out = tenv.execute_sql(
        "SELECT lang, count(*) AS n, sum(n_tokens) AS toks FROM ddl_docs GROUP BY lang"
    ).collect()
    direct = tenv.spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    assert sum(r.n for r in out) == direct
    assert all(r.toks > 0 for r in out)  # computed column works
    tenv.execute_sql("DROP TABLE ddl_docs")


def test_csv_table_with_declared_schema_roundtrip(tenv, tmp_path):
    src = tenv.spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id long, name string, score double"
    )
    path = str(tmp_path / "csv_tbl")
    src.write.option("header", True).csv(path)
    tenv.execute_sql(
        f"""
        CREATE TABLE ddl_csv (id BIGINT, name STRING, score DOUBLE)
        WITH ('connector'='filesystem', 'path'='{path}', 'format'='csv')
        """
    )
    rows = tenv.execute_sql("SELECT * FROM ddl_csv ORDER BY id").collect()
    assert [(r.id, r.name, r.score) for r in rows] == [(1, "a", 1.5), (2, "b", 2.5)]
    assert dict(tenv.spark.table("ddl_csv").dtypes)["id"] == "bigint"  # declared, not inferred
    tenv.execute_sql("DROP TABLE ddl_csv")


# ----------------------------------------------------- sink + INSERT INTO


def test_insert_into_partitioned_filesystem_sink(tenv, tmp_path):
    sink = str(tmp_path / "sink_tbl")
    tenv.execute_sql(
        f"""
        CREATE TABLE ddl_sink (lang STRING, n BIGINT)
        PARTITIONED BY (lang)
        WITH ('connector'='filesystem', 'path'='{sink}', 'format'='parquet')
        """
    )
    tenv.execute_sql(
        f"CREATE VIEW ddl_src AS SELECT lang, count(*) AS n FROM parquet.`{SF_SMOKE}/documents.parquet` GROUP BY lang"
    )
    tenv.execute_sql("INSERT INTO ddl_sink SELECT lang, n FROM ddl_src")
    # partition layout on disk + sink readable as a table afterwards
    assert any(d.startswith("lang=") for d in os.listdir(sink))
    back = tenv.execute_sql("SELECT sum(n) AS total FROM ddl_sink").collect()[0]
    direct = tenv.spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    assert back.total == direct
    tenv.execute_sql("DROP TABLE ddl_sink")
    tenv.execute_sql("DROP VIEW ddl_src")


def test_insert_into_print_and_blackhole(tenv):
    tenv.execute_sql("CREATE TABLE ddl_print (x INT) WITH ('connector'='print')")
    tenv.execute_sql("CREATE TABLE ddl_hole (x INT) WITH ('connector'='blackhole')")
    tenv.execute_sql("INSERT INTO ddl_print SELECT 1 AS x")
    tenv.execute_sql("INSERT INTO ddl_hole SELECT 1 AS x")


# ------------------------------------------------------------ streaming


def test_streaming_ddl_watermark_and_computed(tenv, tmp_path):
    src = str(tmp_path / "stream_src")
    tenv.spark.createDataFrame(
        [(1, "2024-01-01 00:00:00")], "id long, ts_s string"
    ).selectExpr("id", "cast(ts_s as timestamp) as ts").write.parquet(src)
    tenv.execute_sql(
        f"""
        CREATE TABLE ddl_stream (
          id BIGINT, ts TIMESTAMP(3),
          id2 AS id * 2,
          WATERMARK FOR ts AS ts - INTERVAL '10' MINUTE
        ) WITH ('connector'='filesystem', 'path'='{src}', 'format'='parquet')
        """
    )
    df = tenv.stream_table("ddl_stream")
    assert df.isStreaming
    assert "id2" in df.columns
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "EventTimeWatermark" in plan and "10 minutes" in plan
    tenv.execute_sql("DROP TABLE ddl_stream")


def test_datagen_ddl_stream(tenv):
    tenv.execute_sql(
        """
        CREATE TABLE ddl_gen (v AS value * 10)
        WITH ('connector'='datagen', 'rows-per-second'='5')
        """
    )
    df = tenv.stream_table("ddl_gen")
    assert df.isStreaming and "v" in df.columns
    tenv.execute_sql("DROP TABLE ddl_gen")


def test_kafka_ddl_builds_option_contract(tenv):
    # broker-less sandbox: the DDL must parse and the option mapping
    # must validate (bad startup mode rejected), per sources/kafka.py
    tenv.execute_sql(
        """
        CREATE TABLE ddl_kafka (k STRING, v STRING)
        WITH ('connector'='kafka', 'topic'='t1',
              'properties.bootstrap.servers'='broker:9092',
              'scan.startup.mode'='earliest-offset', 'format'='json')
        """
    )
    from flink_1_11_1_spark.sources.kafka import kafka_source_options

    opts = kafka_source_options(tenv.ddl.tables["ddl_kafka"].props)
    assert opts["subscribe"] == "t1" and opts["startingOffsets"] == "earliest"
    tenv.execute_sql("DROP TABLE ddl_kafka")


def test_non_ddl_passthrough_still_catalyst(tenv):
    assert tenv.execute_sql("SELECT 1 + 1 AS two").collect()[0].two == 2


def test_s11_ddl_streaming_tumble_equals_batch(tenv, tmp_path):
    """S11: the full Flink-user streaming path — DDL CREATE TABLE with a
    WATERMARK over a replayed file source, SQL-shaped windowed agg,
    result equals the batch twin (StreamExecMatch-era contract: stream
    and batch share one declared table)."""
    from pyspark.sql import functions as F

    from flink_1_11_1_spark import catalog
    from flink_1_11_1_spark.streaming import replay

    d = str(tmp_path / "replay")
    replay.write_replay(tenv.spark, SF_SMOKE, d, parts=4)
    tenv.execute_sql(
        f"""
        CREATE TABLE ddl_events_s11 (
          event_id BIGINT, ts TIMESTAMP(3), user_id BIGINT,
          event_type STRING, value DOUBLE, props STRING,
          WATERMARK FOR ts AS ts - INTERVAL '10' MINUTE
        ) WITH ('connector'='filesystem', 'path'='{d}', 'format'='parquet',
                'source.max-files-per-trigger'='1')
        """
    )
    stream = tenv.stream_table("ddl_events_s11")
    assert stream.isStreaming
    agg = stream.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n")
    )
    got, dropped = replay.run_stream(agg, "append", "s11_ddl")
    assert dropped == 0
    batch = (
        catalog.load_table(tenv.spark, SF_SMOKE, "events")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    got_m = {(str(r.window.start), r.event_type): r.n for r in got}
    want_m = {(str(r.window.start), r.event_type): r.n for r in batch}
    assert got_m == want_m
    tenv.execute_sql("DROP TABLE ddl_events_s11")


def test_insert_overwrite_replaces_append_accumulates(tenv, tmp_path):
    sink = str(tmp_path / "ovw_tbl")
    tenv.execute_sql(
        f"""CREATE TABLE ddl_ovw (x BIGINT)
        WITH ('connector'='filesystem', 'path'='{sink}', 'format'='parquet')"""
    )
    tenv.execute_sql("INSERT INTO ddl_ovw SELECT 1 AS x")
    tenv.execute_sql("INSERT INTO ddl_ovw SELECT 2 AS x")
    assert tenv.execute_sql("SELECT count(*) c FROM ddl_ovw").collect()[0].c == 2
    tenv.execute_sql("INSERT OVERWRITE ddl_ovw SELECT 9 AS x")
    rows = tenv.execute_sql("SELECT x FROM ddl_ovw").collect()
    assert [r.x for r in rows] == [9]
    tenv.execute_sql("DROP TABLE ddl_ovw")


def test_statement_set_multi_sink(tenv, tmp_path):
    """FLIP-84 StatementSet: buffered INSERTs into two sinks run on
    execute(), nothing before."""
    s1, s2 = str(tmp_path / "ss_a"), str(tmp_path / "ss_b")
    tenv.execute_sql(
        f"CREATE TABLE ss_a (lang STRING, n BIGINT) WITH ('connector'='filesystem', 'path'='{s1}', 'format'='parquet')"
    )
    tenv.execute_sql(
        f"CREATE TABLE ss_b (n BIGINT) WITH ('connector'='filesystem', 'path'='{s2}', 'format'='parquet')"
    )
    ss = tenv.create_statement_set()
    ss.add_insert_sql(
        f"INSERT INTO ss_a SELECT lang, count(*) n FROM parquet.`{SF_SMOKE}/documents.parquet` GROUP BY lang"
    ).add_insert_sql(
        f"INSERT INTO ss_b SELECT count(*) n FROM parquet.`{SF_SMOKE}/documents.parquet`"
    )
    assert not os.path.exists(os.path.join(s1, "_SUCCESS"))  # nothing ran yet
    assert ss.execute() == 2
    total = tenv.execute_sql("SELECT sum(n) s FROM ss_a").collect()[0].s
    single = tenv.execute_sql("SELECT n FROM ss_b").collect()[0].n
    assert total == single
    with pytest.raises(ValueError, match="INSERT"):
        ss.add_insert_sql("SELECT 1")
    tenv.execute_sql("DROP TABLE ss_a")
    tenv.execute_sql("DROP TABLE ss_b")


def test_events_ddl_adapts_both_encodings(tenv, tmp_path):
    """events_ddl bakes the ts-encoding probe into the DDL text: the
    current fixture (whatever encoding the driver shipped) and a
    synthesized INT64-nanos twin must both come back as the identical
    ms-floored TimestampType column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_1_11_1_spark import catalog
    from flink_1_11_1_spark.table_env import events_ddl

    # fixture encoding
    tenv.execute_sql(events_ddl(SF_SMOKE, name="ev_ddl_fix"))
    fix = tenv.execute_sql(
        "SELECT event_id, ts FROM ev_ddl_fix ORDER BY event_id LIMIT 20"
    ).collect()
    want = {
        r.event_id: r.ts
        for r in catalog.load_table(tenv.spark, SF_SMOKE, "events")
        .select("event_id", "ts").orderBy("event_id").limit(20).collect()
    }
    assert dict(tenv.spark.table("ev_ddl_fix").dtypes)["ts"] == "timestamp"
    assert {r.event_id: r.ts for r in fix} == want

    # synthesized nanos twin of the same rows
    tbl = pq.read_table(f"{SF_SMOKE}/events.parquet")
    ts_ns = tbl.column("ts").cast(pa.timestamp("ns"))
    tbl_ns = tbl.set_column(tbl.schema.get_field_index("ts"), "ts", ts_ns)
    ns_dir = str(tmp_path / "ns_events")
    os.makedirs(ns_dir)
    pq.write_table(tbl_ns, os.path.join(ns_dir, "events.parquet"))
    ddl = events_ddl(ns_dir, name="ev_ddl_ns")
    assert "BIGINT" in ddl.split("ts AS")[0].split("event_id")[1]  # ns branch probed
    tenv.execute_sql(ddl)
    ns = tenv.execute_sql(
        "SELECT event_id, ts FROM ev_ddl_ns ORDER BY event_id LIMIT 20"
    ).collect()
    assert {r.event_id: r.ts for r in ns} == want
    tenv.execute_sql("DROP TABLE ev_ddl_fix")
    tenv.execute_sql("DROP TABLE ev_ddl_ns")


# ------------------------------------------- FLIP-113 dynamic options


def test_options_hint_overrides_path_per_query(tenv):
    """`t /*+ OPTIONS('path'='...') */` swaps the scanned path for this
    statement only; the declared table is untouched (FLIP-113)."""
    tenv.execute_sql(
        f"""
        CREATE TABLE hint_docs (
          doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT
        ) WITH (
          'connector' = 'filesystem',
          'path' = '{SF_SMOKE}/documents.parquet',
          'format' = 'parquet'
        )
        """
    )
    base = tenv.execute_sql("SELECT count(*) AS n FROM hint_docs").collect()[0].n
    other = "/root/testdata/sf0.01/documents.parquet"
    hinted = (
        tenv.execute_sql(
            f"SELECT count(*) AS n FROM hint_docs /*+ OPTIONS('path'='{other}') */"
        )
        .collect()[0]
        .n
    )
    direct = tenv.spark.read.parquet(other).count()
    assert hinted == direct
    # per-query scope: the base table still reads its declared path
    again = tenv.execute_sql("SELECT count(*) AS n FROM hint_docs").collect()[0].n
    assert again == base
    tenv.execute_sql("DROP TABLE hint_docs")


def test_options_hint_on_undeclared_table_is_stripped(tenv):
    """A hint on a Catalyst-managed name is stripped (the table-ref
    hint position is Flink grammar — Spark's parser rejects it — and
    there are no declared options to override); results intact."""
    tenv.spark.range(5).createOrReplaceTempView("plain_range")
    n = (
        tenv.execute_sql(
            "SELECT count(*) AS n FROM plain_range /*+ OPTIONS('a'='b') */"
        )
        .collect()[0]
        .n
    )
    assert n == 5


def test_options_hints_on_two_tables_in_one_join(tenv):
    """Independent hints on both sides of a join each get their own
    one-shot alias (per-reference scope)."""
    d001 = "/root/testdata/sf0.001"
    d01 = "/root/testdata/sf0.01"
    tenv.execute_sql(
        f"""
        CREATE TABLE hint_j (
          doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT
        ) WITH (
          'connector' = 'filesystem', 'path' = '{d001}/documents.parquet',
          'format' = 'parquet'
        )
        """
    )
    row = tenv.execute_sql(
        f"SELECT (SELECT count(*) FROM hint_j /*+ OPTIONS('path'='{d01}/documents.parquet') */) AS a, "
        f"(SELECT count(*) FROM hint_j) AS b"
    ).collect()[0]
    assert row.a == tenv.spark.read.parquet(f"{d01}/documents.parquet").count()
    assert row.b == tenv.spark.read.parquet(f"{d001}/documents.parquet").count()
    tenv.execute_sql("DROP TABLE hint_j")


# ---------------------------------------------------- sql-client script


def test_execute_script_runs_statement_sequence(tenv, tmp_path):
    """A Flink sql-client script (DDL + view + INSERT + final query,
    '--' comments, ';' separators) runs unchanged; the last statement's
    result comes back."""
    sink = str(tmp_path / "script_sink")
    out = tenv.execute_script(
        f"""
        -- declare a source over the fixture
        CREATE TABLE script_docs (
          doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT
        ) WITH (
          'connector' = 'filesystem',
          'path' = '{SF_SMOKE}/documents.parquet',
          'format' = 'parquet'
        );
        CREATE VIEW script_counts AS
          SELECT lang, count(*) AS n FROM script_docs GROUP BY lang;
        CREATE TABLE script_sink (lang STRING, n BIGINT)
          WITH ('connector'='filesystem', 'path'='{sink}', 'format'='parquet');
        INSERT INTO script_sink SELECT lang, n FROM script_counts;
        SELECT sum(n) AS total FROM script_sink
        """
    )
    direct = tenv.spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    assert out.collect()[0].total == direct
    tenv.execute_script(
        "DROP TABLE script_docs; DROP VIEW script_counts; DROP TABLE script_sink"
    )


def test_explain_sql_renders_both_plans(tenv):
    txt = tenv.explain_sql(
        f"SELECT count(*) AS n FROM parquet.`{SF_SMOKE}/documents.parquet`"
    )
    assert "== Optimized Logical Plan ==" in txt
    assert "== Physical Plan ==" in txt
    assert "FileScan parquet" in txt or "Scan parquet" in txt


def test_show_and_describe_route_through_front_door(tenv):
    """Flink's SHOW TABLES / DESCRIBE surface: non-DDL statements fall
    through to Catalyst, which serves both natively."""
    tenv.spark.range(3).createOrReplaceTempView("show_probe")
    names = {r.tableName for r in tenv.execute_sql("SHOW TABLES").collect()}
    assert "show_probe" in names
    desc = tenv.execute_sql("DESCRIBE show_probe").collect()
    assert any(r.col_name == "id" and r.data_type == "bigint" for r in desc)


def test_options_hint_value_containing_parens_and_alias_reuse(tenv, tmp_path):
    """A ')' inside a quoted option value must not end the hint early,
    and repeating the same hinted query reuses one alias (no catalog
    growth per statement)."""
    import os

    pdir = str(tmp_path / "we(ird)v2")
    os.makedirs(pdir)
    tenv.spark.range(7).selectExpr(
        "id AS doc_id", "'x' AS text", "'en' AS lang", "'s' AS source",
        "1 AS n_chars"
    ).write.parquet(os.path.join(pdir, "d.parquet"))
    tenv.execute_sql(
        f"""
        CREATE TABLE hint_paren (
          doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT
        ) WITH ('connector'='filesystem',
                'path'='{SF_SMOKE}/documents.parquet', 'format'='parquet')
        """
    )
    q = (
        "SELECT count(*) AS n FROM hint_paren "
        f"/*+ OPTIONS('path'='{pdir}/d.parquet') */"
    )
    assert tenv.execute_sql(q).collect()[0].n == 7
    n_tables = len(tenv.ddl.tables)
    assert tenv.execute_sql(q).collect()[0].n == 7  # repeat: cached alias
    assert len(tenv.ddl.tables) == n_tables
    tenv.execute_sql("DROP TABLE hint_paren")


def test_escaped_property_values_in_with_and_hint(tenv, tmp_path):
    """A ``''`` inside a WITH or OPTIONS value is one quote (Calcite's
    unescaping): ``'path'='.../it''s'`` reads the directory ``it's``,
    declared or hinted."""
    pdir = tmp_path / "it's"
    tenv.spark.range(3).selectExpr("id AS a").write.parquet(str(pdir))
    quoted = str(pdir).replace("'", "''")
    ct = parse_create_table(
        f"CREATE TABLE esc_t (a BIGINT COMMENT 'it''s a') COMMENT 'x''y' "
        f"WITH ('connector' = 'filesystem', 'path' = '{quoted}', "
        "'format' = 'parquet')")
    assert ct.props["path"] == str(pdir)
    assert ct.columns == [("a", "BIGINT", False)]
    tenv.execute_sql(
        f"CREATE TABLE esc_decl (a BIGINT) WITH ('connector' = 'filesystem', "
        f"'path' = '{quoted}', 'format' = 'parquet')")
    tenv.execute_sql(
        f"CREATE TABLE esc_hint (a BIGINT) WITH ('connector' = 'filesystem', "
        f"'path' = '{SF_SMOKE}/no_such_dir', 'format' = 'parquet')")
    try:
        assert tenv.execute_sql(
            "SELECT count(*) AS n FROM esc_decl").collect()[0].n == 3
        assert tenv.execute_sql(
            "SELECT count(*) AS n FROM esc_hint "
            f"/*+ OPTIONS('path'='{quoted}') */").collect()[0].n == 3
    finally:
        tenv.execute_sql("DROP TABLE esc_decl")
        tenv.execute_sql("DROP TABLE esc_hint")


def test_options_hint_stripped_keeps_backticks(tenv):
    """Stripping a hint on an undeclared BACKTICKED name must keep the
    backticks (reserved-word view names stay parseable)."""
    tenv.spark.range(4).createOrReplaceTempView("order")  # reserved word
    n = (
        tenv.execute_sql(
            "SELECT count(*) AS n FROM `order` /*+ OPTIONS('a'='b') */"
        )
        .collect()[0]
        .n
    )
    assert n == 4


def test_execute_script_handles_escaped_and_double_quotes(tenv):
    """Backslash-escaped quotes, doubled-quote escapes, and semicolons
    inside literals must not break the statement split."""
    out = tenv.execute_script(
        """
        SELECT 'it''s; fine' AS a;          -- doubled-quote escape + ';'
        SELECT 'semi ; colon' AS b, "c" ; -- double-quoted identifier
        SELECT 'backslash \\' quote; still one literal' AS c
        """.replace('"c"', "4 AS c")
    )
    row = out.collect()[0]
    assert row.c == "backslash ' quote; still one literal"


def test_set_reset_statements_route_flink_keys(tenv):
    """sql-client SET/RESET parity: Flink config keys map to their
    Spark twins, unknown keys pass through verbatim, bare SET lists."""
    spark = tenv.spark
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        tenv.execute_sql("SET table.exec.resource.default-parallelism=7")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        tenv.execute_sql("SET 'table.local-time-zone' = 'UTC'")
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        tenv.execute_sql("SET my.custom.key = hello")
        assert spark.conf.get("my.custom.key") == "hello"
        tenv.execute_sql("RESET my.custom.key")
        assert spark.conf.get("my.custom.key", None) is None
        assert tenv.execute_sql("SET").count() > 0  # listing surface
        # scripts mix SET with DDL/statements (the sql-client -f shape)
        out = tenv.execute_script(
            "SET table.exec.resource.default-parallelism=5;"
            "SELECT 1 AS one"
        )
        assert out.collect()[0].one == 1
        assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)


def test_ddl_parser_property_fuzz():
    """Property fuzz over the CREATE TABLE grammar: random schemas from
    the full type lattice (incl. nested ARRAY/MAP/ROW, computed
    columns, watermark, PARTITIONED BY, properties with quoted ';' and
    ')' values) must parse into a CreateTable whose fields round-trip.
    Parser-level only — no Spark session in the loop."""
    import random

    from flink_1_11_1_spark.ddl import flink_type_to_spark, parse_create_table

    rng = random.Random(20260815)
    simple = ["STRING", "INT", "BIGINT", "DOUBLE", "BOOLEAN",
              "TIMESTAMP(3)", "DECIMAL(10, 2)", "VARCHAR(255)", "BYTES"]

    def rand_type(depth=0):
        if depth < 2 and rng.random() < 0.3:
            inner = rand_type(depth + 1)
            return rng.choice([
                f"ARRAY<{inner}>",
                f"MAP<STRING, {inner}>",
                f"ROW<a {inner}, b INT>",
                f"MULTISET<{inner}>",
            ])
        return rng.choice(simple)

    for trial in range(60):
        ncols = rng.randint(1, 6)
        cols = [(f"c{i}", rand_type()) for i in range(ncols)]
        body = [f"{n} {t}" + (" NOT NULL" if rng.random() < 0.2 else "")
                for n, t in cols]
        computed = rng.random() < 0.4
        if computed:
            body.append("px AS c0")
        wm = rng.random() < 0.3 and any(t.startswith("TIMESTAMP") for _, t in cols)
        if wm:
            tcol = next(n for n, t in cols if t.startswith("TIMESTAMP"))
            body.append(f"WATERMARK FOR {tcol} AS {tcol} - INTERVAL '5' SECOND")
        if rng.random() < 0.2:
            body.append(f"PRIMARY KEY (c0) NOT ENFORCED")
        part = f"PARTITIONED BY (c0)" if rng.random() < 0.3 else ""
        tricky_path = "/data/x;y(z)/in"  # ';' and parens inside a value
        sql = (
            f"CREATE TABLE t{trial} (\n  " + ",\n  ".join(body) + "\n) "
            + part
            + f" WITH ('connector' = 'filesystem', 'path' = '{tricky_path}',"
            f" 'format' = 'parquet')"
        )
        ct = parse_create_table(sql)
        assert ct.name == f"t{trial}"
        assert [c[0] for c in ct.columns] == [n for n, _ in cols]
        for (n, t), (pn, pt, _nn) in zip(cols, ct.columns):
            assert pt == flink_type_to_spark(t), (t, pt)
        assert ct.props["path"] == tricky_path
        if computed:
            assert ct.computed.get("px") == "c0"
        if wm:
            assert ct.watermark_col is not None and ct.watermark_delay
        if part:
            assert ct.partitioned_by == ["c0"]


# --------------------- multi-sink common-subgraph reuse (round 7)


def test_multi_sink_script_reuses_view_materialization(tenv, tmp_path):
    """A view feeding two INSERT INTO sinks in one script is
    materialized ONCE (lazy localCheckpoint — the
    StreamCommonSubGraphBasedOptimizer rendering): the checkpointed
    view's plan is an RDD scan (one source read feeding both sinks),
    both sinks receive the full correct result, and after the script
    the view resolves to its defining query again."""
    s1, s2 = str(tmp_path / "ms_sink1"), str(tmp_path / "ms_sink2")
    tenv.execute_script(
        f"""
        CREATE TABLE ms_a (lang STRING, n BIGINT)
        WITH ('connector'='filesystem', 'path'='{s1}', 'format'='parquet');
        CREATE TABLE ms_b (lang STRING, n BIGINT)
        WITH ('connector'='filesystem', 'path'='{s2}', 'format'='parquet');
        CREATE VIEW ms_v AS
          SELECT lang, count(*) AS n
          FROM parquet.`{SF_SMOKE}/documents.parquet` GROUP BY lang;
        INSERT INTO ms_a SELECT lang, n FROM ms_v WHERE n >= 0;
        INSERT INTO ms_b SELECT lang, n * 2 AS n FROM ms_v;
        """
    )
    # the reuse pass fired for ms_v with 2 sinks, and the registered
    # view during the script was the checkpointed RDD (one scan)
    reuse = tenv.ddl.last_script_reuse
    assert reuse["ms_v"]["sinks"] == 2
    assert "LogicalRDD" in reuse["ms_v"]["view_plan"] \
        or "ExistingRDD" in reuse["ms_v"]["view_plan"]

    direct = dict(
        tenv.spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .groupBy("lang").count().collect()
    )
    a = {r.lang: r.n for r in tenv.spark.read.parquet(s1).collect()}
    b = {r.lang: r.n for r in tenv.spark.read.parquet(s2).collect()}
    assert a == direct
    assert b == {k: v * 2 for k, v in direct.items()}

    # post-script: the view is the plain logical plan again (a later
    # write to the source would be visible — checkpoint scope ended)
    plan = tenv.spark.table("ms_v")._jdf.queryExecution().optimizedPlan().toString()
    assert "Relation" in plan and "LogicalRDD" not in plan
    tenv.execute_sql("DROP VIEW ms_v")
    tenv.execute_sql("DROP TABLE ms_a")
    tenv.execute_sql("DROP TABLE ms_b")


def test_single_sink_script_keeps_plain_view(tenv, tmp_path):
    """One INSERT referencing a view must NOT trigger the checkpoint
    (reuse needs >= 2 sinks; a single-shot view stays pipelined)."""
    s1 = str(tmp_path / "ss_sink")
    tenv.execute_script(
        f"""
        CREATE TABLE ss_a (lang STRING, n BIGINT)
        WITH ('connector'='filesystem', 'path'='{s1}', 'format'='parquet');
        CREATE VIEW ss_v AS
          SELECT lang, count(*) AS n
          FROM parquet.`{SF_SMOKE}/documents.parquet` GROUP BY lang;
        INSERT INTO ss_a SELECT lang, n FROM ss_v;
        """
    )
    assert tenv.ddl.last_script_reuse == {}
    tenv.execute_sql("DROP VIEW ss_v")
    tenv.execute_sql("DROP TABLE ss_a")


# ----------------- sql-client introspection: SHOW TABLES / DESCRIBE


def test_show_tables_includes_declared_only_sinks(tenv, tmp_path):
    """A sink-only CREATE TABLE (no readable path yet) must appear in
    SHOW TABLES, like Flink's sql-client catalog listing — Spark's
    native SHOW TABLES alone misses it."""
    tenv.execute_sql(
        f"""CREATE TABLE intro_sink (x INT)
        WITH ('connector'='filesystem', 'path'='{tmp_path / "nope"}',
              'format'='parquet')"""
    )
    names = {r.tableName for r in tenv.execute_sql("SHOW TABLES").collect()}
    assert "intro_sink" in names
    tenv.execute_sql("DROP TABLE intro_sink")
    names = {r.tableName for r in tenv.execute_sql("SHOW TABLES").collect()}
    assert "intro_sink" not in names


def test_describe_declared_table_renders_declaration(tenv, tmp_path):
    """DESCRIBE of a declared table shows the DECLARATION: NOT NULL,
    computed columns, and the WATERMARK row (sql-client shape)."""
    tenv.execute_sql(
        f"""CREATE TABLE intro_t (
              id BIGINT NOT NULL,
              v DOUBLE,
              ts TIMESTAMP(3),
              doubled AS v * 2,
              WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
            ) WITH ('connector'='filesystem',
                    'path'='{tmp_path / "intro_t"}', 'format'='parquet')"""
    )
    rows = {r.col_name: (r.data_type, r.comment)
            for r in tenv.execute_sql("DESCRIBE intro_t").collect()}
    assert rows["id"][0].startswith("BIGINT") and "NOT NULL" in rows["id"][0]
    assert rows["v"][0] == "DOUBLE"
    assert rows["doubled"] == ("COMPUTED", "AS v * 2")
    assert "WATERMARK" in rows and "ts" in rows["WATERMARK"][1]
    tenv.execute_sql("DROP TABLE intro_t")


def test_statement_set_shares_view_materialization(tenv, tmp_path):
    """StatementSet.execute runs its buffered INSERTs as one job: a
    view feeding two of them goes through the common-subgraph reuse
    pass (checkpointed once), like Flink's StatementSet."""
    s1, s2 = str(tmp_path / "st_s1"), str(tmp_path / "st_s2")
    for name, p in (("st_a", s1), ("st_b", s2)):
        tenv.execute_sql(
            f"""CREATE TABLE {name} (lang STRING, n BIGINT)
            WITH ('connector'='filesystem', 'path'='{p}', 'format'='parquet')"""
        )
    tenv.execute_sql(
        f"CREATE VIEW st_v AS SELECT lang, count(*) AS n "
        f"FROM parquet.`{SF_SMOKE}/documents.parquet` GROUP BY lang"
    )
    ss = tenv.create_statement_set()
    ss.add_insert_sql("INSERT INTO st_a SELECT lang, n FROM st_v")
    ss.add_insert_sql("INSERT INTO st_b SELECT lang, n FROM st_v WHERE n > 0")
    assert ss.execute() == 2
    assert tenv.ddl.last_script_reuse["st_v"]["sinks"] == 2
    a = {r.lang: r.n for r in tenv.spark.read.parquet(s1).collect()}
    b = {r.lang: r.n for r in tenv.spark.read.parquet(s2).collect()}
    assert a and b == {k: v for k, v in a.items() if v > 0}
    for name in ("st_a", "st_b"):
        tenv.execute_sql(f"DROP TABLE {name}")
    tenv.execute_sql("DROP VIEW st_v")


def test_explain_plan_for_statement(tenv):
    """Flink's EXPLAIN PLAN FOR <query> returns one STRING row with
    the plan sections."""
    rows = tenv.execute_sql(
        f"EXPLAIN PLAN FOR SELECT count(*) AS n "
        f"FROM parquet.`{SF_SMOKE}/nation.parquet`"
    ).collect()
    assert len(rows) == 1
    assert "Optimized Logical Plan" in rows[0].plan
    assert "Physical Plan" in rows[0].plan


def test_execute_sql_routes_match_recognize(spark):
    """The sql-client front door runs MATCH_RECOGNIZE statements (Spark
    SQL has no such syntax): routed to the engine's MR implementation,
    resolving the source as a registered view."""
    import datetime as dt

    from flink_1_11_1_spark.table_env import TableEnvironment

    env = TableEnvironment(spark)
    base = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(1, i, base + dt.timedelta(seconds=10 * i), t, 0.0)
         for i, t in enumerate(["click", "purchase", "click"], start=1)],
        "user_id long, event_id long, ts timestamp, event_type string, "
        "value double",
    ).createOrReplaceTempView("mr_ddl_ev")
    rows = env.execute_sql("""
        SELECT * FROM mr_ddl_ev MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts, event_id
          MEASURES LAST(A.event_id) AS a_id, LAST(B.event_id) AS b_id
          ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A B)
          DEFINE A AS A.event_type = 'click',
                 B AS B.event_type = 'purchase'
        )""").collect()
    assert [(r.a_id, r.b_id) for r in rows] == [(1, 2)]


# ---------------- multi-catalog surface (round 8) ---------------------


def test_use_catalog_routing(spark, tmp_path):
    """CREATE CATALOG / CREATE DATABASE / USE CATALOG / USE: a table
    declared under a 3-part name reads identically fully-qualified,
    2-part under its catalog, and bare under its database context —
    and the context switch back restores plain-name resolution."""
    from flink_1_11_1_spark.table_env import TableEnvironment

    tenv = TableEnvironment(spark)
    p = str(tmp_path / "mc")
    spark.range(9).selectExpr("id", "id * 3 AS v").write.parquet(p)
    tenv.execute_sql("CREATE CATALOG mc1 WITH ('type'='generic_in_memory')")
    tenv.execute_sql("CREATE DATABASE mc1.db1")
    tenv.execute_sql(f"""CREATE TABLE mc1.db1.t (id BIGINT, v BIGINT)
        WITH ('connector'='filesystem', 'path'='{p}', 'format'='parquet')""")
    assert tenv.execute_sql(
        "SELECT count(*) AS n FROM mc1.db1.t").collect()[0].n == 9
    tenv.execute_sql("USE CATALOG mc1")
    assert tenv.execute_sql(
        "SHOW CURRENT CATALOG").collect()[0][0] == "mc1"
    assert tenv.execute_sql(
        "SELECT count(*) AS n FROM db1.t").collect()[0].n == 9
    tenv.execute_sql("USE db1")
    assert tenv.execute_sql(
        "SHOW CURRENT DATABASE").collect()[0][0] == "db1"
    assert tenv.execute_sql("SELECT sum(v) AS s FROM t").collect()[0].s == 108
    assert [r.tableName for r in
            tenv.execute_sql("SHOW TABLES").collect()] == ["t"]
    # back to default: bare names resolve the session views again
    tenv.execute_sql("USE CATALOG default_catalog")
    spark.range(4).createOrReplaceTempView("mc_plain")
    assert tenv.execute_sql(
        "SELECT count(*) AS n FROM mc_plain").collect()[0].n == 4
    names = [r.tableName for r in tenv.execute_sql("SHOW TABLES").collect()]
    assert "mc_plain" in names and not any(n.startswith("__cat_") for n in names)
    tenv.execute_sql("DROP TABLE mc1.db1.t")


def test_catalog_errors_and_literal_safety(spark):
    from flink_1_11_1_spark.table_env import TableEnvironment

    tenv = TableEnvironment(spark)
    with pytest.raises(ValueError, match="unknown catalog"):
        tenv.execute_sql("USE CATALOG nope")
    with pytest.raises(ValueError, match="unsupported type"):
        tenv.execute_sql("CREATE CATALOG h WITH ('type'='hive')")
    tenv.execute_sql("CREATE CATALOG mc2")
    with pytest.raises(ValueError, match="unknown database"):
        tenv.execute_sql("""CREATE TABLE mc2.missing.t (id BIGINT)
            WITH ('connector'='filesystem','path'='/tmp/x','format'='parquet')""")
    with pytest.raises(ValueError, match="current catalog"):
        tenv.execute_sql("USE CATALOG mc2") or None
        tenv.execute_sql("DROP CATALOG mc2")
    tenv.execute_sql("USE CATALOG default_catalog")
    tenv.execute_sql("DROP CATALOG mc2")
    assert "mc2" not in [
        r.catalog_name
        for r in tenv.execute_sql("SHOW CATALOGS").collect()
    ]
    # a qualified-looking string literal is never rewritten
    tenv.execute_sql("CREATE CATALOG mc3")
    tenv.execute_sql("CREATE DATABASE mc3.d")
    row = tenv.execute_sql("SELECT 'mc3.d.t' AS s").collect()[0]
    assert row.s == "mc3.d.t"


def test_sql_client_yaml_environment(spark, tmp_path):
    """A Flink sql-client YAML environment file bootstraps the session:
    configuration -> SET, catalogs -> CREATE CATALOG, tables -> the
    CREATE TABLE front door; functions entries error loudly."""
    from flink_1_11_1_spark.table_env import TableEnvironment

    p = str(tmp_path / "env_t")
    spark.range(5).selectExpr("id", "id * 2 AS v").write.parquet(p)
    envfile = tmp_path / "env.yaml"
    envfile.write_text(f"""
configuration:
  table.exec.resource.default-parallelism: 6
catalogs:
  - name: yml_cat
    type: generic_in_memory
tables:
  - name: yml_t
    type: source-table
    connector:
      type: filesystem
      path: "{p}"
    format:
      type: parquet
    schema:
      - name: id
        data-type: BIGINT
      - name: v
        data-type: BIGINT
""")
    tenv = TableEnvironment(spark)
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        ran = tenv.execute_environment_file(str(envfile))
        assert len(ran) == 3
        assert spark.conf.get("spark.sql.shuffle.partitions") == "6"
        assert "yml_cat" in [
            r.catalog_name
            for r in tenv.execute_sql("SHOW CATALOGS").collect()
        ]
        assert tenv.execute_sql(
            "SELECT sum(v) AS s FROM yml_t").collect()[0].s == 20
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)
        tenv.execute_sql("DROP TABLE IF EXISTS yml_t")

    bad = tmp_path / "bad.yaml"
    bad.write_text("""
functions:
  - name: jf
    from: class
    class: com.example.F
""")
    with pytest.raises(ValueError, match="register_function"):
        tenv.execute_environment_file(str(bad))


def test_hive_dialect_surface(spark):
    """`SET 'table.sql-dialect' = 'hive'` (flink-sql-parser-hive front
    end): both dialects route to Spark's Hive-descended parser, which
    already accepts the HiveQL surface the switch exists for — proven
    by running the signature HiveQL shapes under the hive dialect.
    Unknown dialects error loudly."""
    from flink_1_11_1_spark.ddl import DdlCatalog

    cat = DdlCatalog(spark)
    try:
        cat.execute("SET 'table.sql-dialect' = 'hive'")
        assert spark.conf.get("table.sql-dialect") == "hive"
        spark.createDataFrame(
            [(1, ["a", "b"]), (2, ["c"])], "id int, xs array<string>"
        ).createOrReplaceTempView("hd_t")
        # LATERAL VIEW explode (the classic HiveQL correlate)
        rows = cat.execute(
            "SELECT id, x FROM hd_t LATERAL VIEW explode(xs) v AS x"
        ).collect()
        assert sorted((r.id, r.x) for r in rows) == [
            (1, "a"), (1, "b"), (2, "c")]
        # DISTRIBUTE BY / SORT BY and CLUSTER BY parse and run
        assert cat.execute(
            "SELECT id FROM hd_t DISTRIBUTE BY id SORT BY id").count() == 2
        assert cat.execute(
            "SELECT id FROM hd_t CLUSTER BY id").count() == 2
        # named_struct + backticks
        r = cat.execute(
            "SELECT named_struct('a', 1, 'b', 'x') AS `s.t r`").collect()[0]
        assert r["s.t r"].a == 1
        with pytest.raises(ValueError, match="dialect"):
            cat.execute("SET 'table.sql-dialect' = 'oracle'")
        cat.execute("RESET 'table.sql-dialect'")
    finally:
        spark.catalog.dropTempView("hd_t")


# ---------------- Hive-dialect multi-INSERT (round 9) -----------------


def test_multi_insert_declared_sinks(spark, tmp_path):
    """FROM src INSERT OVERWRITE s1 ... INSERT INTO s2 ...: both
    branches write their slice; a COMPUTED source whose plan holds a
    SHUFFLE (here: DISTINCT) is checkpointed once (scan-once reuse
    recorded) while a PLAIN scan — and, round 10, a map-only computed
    view — splices per branch (pruned scans beat an unpruned
    checkpoint; the shuffle is what makes re-running per branch pay);
    verbs map to overwrite/append."""
    from flink_1_11_1_spark.table_env import TableEnvironment

    tenv = TableEnvironment(spark)
    spark.range(10).selectExpr("id", "id * 2 AS v").createOrReplaceTempView(
        "mi_t_src0"
    )
    tenv.execute_sql(
        "CREATE VIEW mi_t_src AS SELECT DISTINCT id, v FROM mi_t_src0")
    tenv.execute_sql(f"""CREATE TABLE mi_t_hi (id BIGINT) WITH (
      'connector'='filesystem','path'='{tmp_path}/hi','format'='parquet')""")
    tenv.execute_sql(f"""CREATE TABLE mi_t_lo (v BIGINT) WITH (
      'connector'='filesystem','path'='{tmp_path}/lo','format'='parquet')""")
    tenv.execute_sql("""
      FROM mi_t_src
      INSERT OVERWRITE TABLE mi_t_hi SELECT id WHERE id >= 5
      INSERT INTO mi_t_lo SELECT v WHERE id < 5
    """)
    assert sorted(
        r.id for r in spark.read.parquet(f"{tmp_path}/hi").collect()
    ) == [5, 6, 7, 8, 9]
    assert sorted(
        r.v for r in spark.read.parquet(f"{tmp_path}/lo").collect()
    ) == [0, 2, 4, 6, 8]
    reuse = tenv.ddl.last_script_reuse
    assert any(k.startswith("__mi_src_") and v["sinks"] == 2
               for k, v in reuse.items())
    # a PLAIN source takes the per-branch pruned-scan path: no reuse row
    tenv.ddl.last_script_reuse = {}
    tenv.execute_sql("""
      FROM mi_t_src0
      INSERT OVERWRITE TABLE mi_t_hi SELECT id WHERE id >= 8
      INSERT OVERWRITE TABLE mi_t_lo SELECT v WHERE id < 2
    """)
    assert tenv.ddl.last_script_reuse == {}
    assert sorted(
        r.id for r in spark.read.parquet(f"{tmp_path}/hi").collect()
    ) == [8, 9]
    # INTO appends on a second run; OVERWRITE replaces
    tenv.execute_sql("""
      FROM mi_t_src
      INSERT OVERWRITE TABLE mi_t_hi SELECT id WHERE id >= 9
      INSERT INTO mi_t_lo SELECT v WHERE id = 3
    """)
    assert sorted(
        r.id for r in spark.read.parquet(f"{tmp_path}/hi").collect()
    ) == [9]
    assert sorted(
        r.v for r in spark.read.parquet(f"{tmp_path}/lo").collect()
    ) == [0, 2, 6]
    # a MAP-ONLY computed view also splices per branch (round-10
    # refinement: no shuffle → nothing to save by materializing, and
    # the checkpoint would defeat per-branch column pruning at scale)
    tenv.execute_sql(
        "CREATE VIEW mi_t_maponly AS SELECT id, v * 3 AS v3 FROM mi_t_src0")
    tenv.ddl.last_script_reuse = {}
    tenv.execute_sql("""
      FROM mi_t_maponly
      INSERT OVERWRITE TABLE mi_t_hi SELECT id WHERE v3 >= 12
      INSERT OVERWRITE TABLE mi_t_lo SELECT v3 AS v WHERE id < 2
    """)
    assert tenv.ddl.last_script_reuse == {}
    assert sorted(
        r.id for r in spark.read.parquet(f"{tmp_path}/hi").collect()
    ) == [2, 3, 4, 5, 6, 7, 8, 9]
    assert sorted(
        r.v for r in spark.read.parquet(f"{tmp_path}/lo").collect()
    ) == [0, 6]
    spark.catalog.dropTempView("mi_t_maponly")
    for t in ("mi_t_hi", "mi_t_lo"):
        tenv.execute_sql(f"DROP TABLE {t}")
    spark.catalog.dropTempView("mi_t_src")


def test_multi_insert_alias_and_aggregation(spark, tmp_path):
    from flink_1_11_1_spark.table_env import TableEnvironment

    tenv = TableEnvironment(spark)
    spark.range(6).selectExpr("id", "id % 2 AS g").createOrReplaceTempView(
        "mi_t_src2"
    )
    tenv.execute_sql(f"""CREATE TABLE mi_t_agg (g BIGINT, n BIGINT) WITH (
      'connector'='filesystem','path'='{tmp_path}/agg','format'='parquet')""")
    tenv.execute_sql(f"""CREATE TABLE mi_t_top (id BIGINT) WITH (
      'connector'='filesystem','path'='{tmp_path}/top','format'='parquet')""")
    tenv.execute_sql("""
      FROM mi_t_src2 s
      INSERT OVERWRITE TABLE mi_t_agg
        SELECT s.g, count(*) AS n GROUP BY s.g
      INSERT OVERWRITE TABLE mi_t_top
        SELECT s.id WHERE s.id > 3 ORDER BY s.id LIMIT 1
    """)
    assert sorted(
        (r.g, r.n) for r in spark.read.parquet(f"{tmp_path}/agg").collect()
    ) == [(0, 3), (1, 3)]
    assert [r.id for r in spark.read.parquet(f"{tmp_path}/top").collect()] == [4]
    for t in ("mi_t_agg", "mi_t_top"):
        tenv.execute_sql(f"DROP TABLE {t}")
    spark.catalog.dropTempView("mi_t_src2")


def test_multi_insert_errors_and_plain_from(spark, tmp_path):
    from flink_1_11_1_spark.table_env import TableEnvironment

    tenv = TableEnvironment(spark)
    spark.range(3).createOrReplaceTempView("mi_t_src3")
    tenv.execute_sql(f"""CREATE TABLE mi_t_p (id BIGINT) WITH (
      'connector'='filesystem','path'='{tmp_path}/p','format'='parquet')""")
    with pytest.raises(ValueError, match="PARTITION"):
        tenv.execute_sql("""
          FROM mi_t_src3
          INSERT OVERWRITE TABLE mi_t_p PARTITION (dt='x') SELECT id
          INSERT INTO mi_t_p SELECT id
        """)
    # a FROM-first plain SELECT (no INSERT) still routes to Catalyst
    assert tenv.execute_sql(
        "FROM mi_t_src3 SELECT sum(id) AS s"
    ).collect()[0].s == 3
    # INSERT inside a string literal is not a branch split
    row = tenv.execute_sql(
        "FROM mi_t_src3 SELECT 'INSERT INTO x' AS s LIMIT 1"
    ).collect()[0]
    assert row.s == "INSERT INTO x"
    tenv.execute_sql("DROP TABLE mi_t_p")
    spark.catalog.dropTempView("mi_t_src3")


def test_hive_dialect_transform(spark):
    """HiveQL TRANSFORM (script transformation) through the dialect
    front door: Spark's parser runs USING-scripts natively (no-serde
    mode), closing the Hive-dialect statement surface together with
    multi-INSERT."""
    from flink_1_11_1_spark.ddl import DdlCatalog

    cat = DdlCatalog(spark)
    spark.range(4).selectExpr("id", "id * 3 AS v").createOrReplaceTempView(
        "hdt_src"
    )
    cat.execute("SET 'table.sql-dialect' = 'hive'")
    try:
        rows = cat.execute(
            "SELECT TRANSFORM (id, v) USING 'cat' AS (a STRING, b STRING) "
            "FROM hdt_src"
        ).collect()
        assert sorted((r.a, r.b) for r in rows) == [
            ("0", "0"), ("1", "3"), ("2", "6"), ("3", "9")
        ]
    finally:
        cat.execute("RESET 'table.sql-dialect'")
    spark.catalog.dropTempView("hdt_src")


# ---------------- FLIP-110 CREATE TABLE ... LIKE (round 9) ------------


def test_create_table_like_merge(spark, tmp_path):
    """FLIP-110 (shipped in Flink 1.11): derive a declaration from a
    source table — default INCLUDING ALL OVERWRITING OPTIONS; computed
    columns merge; EXCLUDING GENERATED drops them; conflicting options
    error under INCLUDING OPTIONS."""
    from flink_1_11_1_spark.table_env import TableEnvironment

    tenv = TableEnvironment(spark)
    spark.range(6).selectExpr("id", "id * 5 AS v").write.parquet(
        f"{tmp_path}/src")
    spark.range(3).selectExpr("id", "id * 7 AS v").write.parquet(
        f"{tmp_path}/other")
    tenv.execute_sql(f"""CREATE TABLE lk_src (
      id BIGINT, v BIGINT, v2 AS v * 2
    ) WITH ('connector'='filesystem','path'='{tmp_path}/src',
            'format'='parquet')""")
    tenv.execute_sql(f"""CREATE TABLE lk_der (v3 AS v + 1)
      WITH ('path'='{tmp_path}/other') LIKE lk_src""")
    rows = tenv.execute_sql(
        "SELECT id, v, v2, v3 FROM lk_der ORDER BY id").collect()
    assert [(r.id, r.v, r.v2, r.v3) for r in rows] == [
        (0, 0, 0, 1), (1, 7, 14, 8), (2, 14, 28, 15)]
    # bare LIKE copies everything
    tenv.execute_sql("CREATE TABLE lk_bare LIKE lk_src")
    assert tenv.execute_sql(
        "SELECT count(*) AS n FROM lk_bare").collect()[0].n == 6
    # EXCLUDING GENERATED drops computed columns
    tenv.execute_sql(
        "CREATE TABLE lk_ng LIKE lk_src "
        "(INCLUDING ALL EXCLUDING GENERATED OVERWRITING OPTIONS)")
    assert tenv.ddl.tables["lk_ng"].computed == {}
    with pytest.raises(ValueError, match="conflict with source"):
        tenv.execute_sql(
            f"CREATE TABLE lk_conf WITH ('path'='{tmp_path}/other') "
            "LIKE lk_src (INCLUDING OPTIONS)")
    with pytest.raises(ValueError, match="no[\\s\\S]*connector"):
        tenv.execute_sql(
            "CREATE TABLE lk_noc (x BIGINT) LIKE lk_src (EXCLUDING OPTIONS)")
    with pytest.raises(ValueError, match="already defined in source"):
        tenv.execute_sql("CREATE TABLE lk_dup (id BIGINT) LIKE lk_src")
    with pytest.raises(ValueError, match="not a DDL-declared"):
        spark.range(1).createOrReplaceTempView("lk_plainview")
        tenv.execute_sql("CREATE TABLE lk_pv LIKE lk_plainview")
    for t in ("lk_src", "lk_der", "lk_bare", "lk_ng"):
        tenv.execute_sql(f"DROP TABLE {t}")


def test_show_modules(spark):
    from flink_1_11_1_spark.table_env import TableEnvironment

    tenv = TableEnvironment(spark)
    assert [r.module_name for r in
            tenv.execute_sql("SHOW MODULES").collect()] == ["core"]


def test_alter_table_rename_and_set(spark, tmp_path):
    """Flink 1.11 ALTER TABLE: RENAME TO moves the declaration + view
    + qualified mapping; SET (...) merges WITH properties (and evicts
    stale hint aliases)."""
    from flink_1_11_1_spark.table_env import TableEnvironment

    tenv = TableEnvironment(spark)
    spark.range(4).selectExpr("id").write.parquet(f"{tmp_path}/a")
    spark.range(7).selectExpr("id").write.parquet(f"{tmp_path}/b")
    tenv.execute_sql(f"""CREATE TABLE alt_t (id BIGINT) WITH (
      'connector'='filesystem','path'='{tmp_path}/a','format'='parquet')""")
    assert tenv.execute_sql("SELECT count(*) n FROM alt_t").collect()[0].n == 4
    tenv.execute_sql("ALTER TABLE alt_t RENAME TO alt_t2")
    assert "alt_t" not in tenv.ddl.tables and "alt_t2" in tenv.ddl.tables
    assert tenv.execute_sql("SELECT count(*) n FROM alt_t2").collect()[0].n == 4
    # SET repoints the path; the view refreshes
    tenv.execute_sql(f"ALTER TABLE alt_t2 SET ('path'='{tmp_path}/b')")
    assert tenv.ddl.tables["alt_t2"].props["path"] == f"{tmp_path}/b"
    assert tenv.execute_sql("SELECT count(*) n FROM alt_t2").collect()[0].n == 7
    with pytest.raises(ValueError, match="exists"):
        tenv.execute_sql(f"""CREATE TABLE alt_t3 (id BIGINT) WITH (
          'connector'='filesystem','path'='{tmp_path}/a','format'='parquet')""")
        tenv.execute_sql("ALTER TABLE alt_t3 RENAME TO alt_t2")
    for t in ("alt_t2", "alt_t3"):
        tenv.execute_sql(f"DROP TABLE {t}")


# --------------------------------------------- FLIP-79 CREATE FUNCTION DDL

def test_create_function_python_plain_callable(tenv):
    tenv.execute_sql(
        "CREATE TEMPORARY FUNCTION shout_fn AS "
        "'flink_1_11_1_spark.udf_examples.shout' LANGUAGE PYTHON"
    )
    row = tenv.execute_sql("SELECT shout_fn('abc') v").collect()[0]
    assert row.v == "ABC"


def test_create_function_python_udf_wrapper_and_qualified_name(tenv):
    tenv.execute_sql(
        "CREATE FUNCTION default_catalog.default_database.add_one_fn AS "
        "'flink_1_11_1_spark.udf_examples.add_one' LANGUAGE PYTHON"
    )
    row = tenv.execute_sql("SELECT add_one_fn(41) v").collect()[0]
    assert row.v == 42  # declared BIGINT result type survives


def test_create_function_python_rejects_bare_name(tenv):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="dotted module path"):
        tenv.execute_sql(
            "CREATE FUNCTION broken_fn AS 'noDotsHere' LANGUAGE PYTHON"
        )


def test_create_function_java_passthrough_strips_language(tenv):
    """Spark's grammar has no LANGUAGE token — the clause must strip
    before delegation.  The class resolves lazily at first CALL, so a
    successful CREATE (no ParseException at 'LANGUAGE') proves the
    strip; invoking then fails inside Spark's own class loader (an
    AnalysisException naming the class — NOT a parse error), which is
    the native behavior for a JVM UDF without its jar/Hive support."""
    from pyspark.errors import AnalysisException

    tenv.execute_sql(
        "CREATE TEMPORARY FUNCTION j_upper AS "
        "'org.apache.hadoop.hive.ql.udf.generic.GenericUDFUpper' "
        "LANGUAGE JAVA"
    )
    with pytest.raises(AnalysisException, match="GenericUDFUpper"):
        tenv.execute_sql("SELECT j_upper('ab') v").collect()
    tenv.execute_sql("DROP TEMPORARY FUNCTION j_upper")


def test_create_function_duplicate_semantics(tenv):
    import pytest as _pytest

    tenv.execute_sql(
        "CREATE FUNCTION dup_fn AS "
        "'flink_1_11_1_spark.udf_examples.shout' LANGUAGE PYTHON")
    # bare duplicate raises (Flink semantics)
    with _pytest.raises(ValueError, match="already exists"):
        tenv.execute_sql(
            "CREATE FUNCTION dup_fn AS "
            "'flink_1_11_1_spark.udf_examples.shout' LANGUAGE PYTHON")
    # IF NOT EXISTS no-ops; OR REPLACE rebinds
    tenv.execute_sql(
        "CREATE FUNCTION IF NOT EXISTS dup_fn AS "
        "'flink_1_11_1_spark.udf_examples.shout' LANGUAGE PYTHON")
    tenv.execute_sql(
        "CREATE OR REPLACE FUNCTION dup_fn AS "
        "'flink_1_11_1_spark.udf_examples.shout' LANGUAGE PYTHON")
    # DROP retires the name; re-CREATE then works bare
    tenv.execute_sql("DROP FUNCTION dup_fn")
    tenv.execute_sql(
        "CREATE FUNCTION dup_fn AS "
        "'flink_1_11_1_spark.udf_examples.shout' LANGUAGE PYTHON")
    tenv.execute_sql("DROP FUNCTION dup_fn")


def test_create_function_trailing_comment(tenv):
    tenv.execute_sql(
        "CREATE TEMPORARY FUNCTION cmt_fn AS "
        "'flink_1_11_1_spark.udf_examples.shout' LANGUAGE PYTHON "
        "-- registers tokenizer")
    assert tenv.execute_sql("SELECT cmt_fn('x') v").collect()[0].v == "X"
    tenv.execute_sql("DROP FUNCTION cmt_fn")

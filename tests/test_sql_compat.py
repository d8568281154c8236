"""Flink join-surface compat rewrites through the DDL front door:
LATERAL TABLE(f(x)) (Calcite collection-table operator) and
FOR SYSTEM_TIME AS OF (the 1.11 lookup-join clause).  See
sql_compat.py for the semantics argument."""

import pytest

from flink_1_11_1_spark.sql_compat import (
    rewrite_for_system_time,
    rewrite_lateral_table,
)

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def tenv(spark):
    from flink_1_11_1_spark.table_env import TableEnvironment

    return TableEnvironment(spark)


# ------------------------------------------------------------- rewrite unit

def test_lateral_table_rewrite_forms():
    assert rewrite_lateral_table(
        "SELECT w FROM t, LATERAL TABLE(tok(text)) AS T(w)"
    ) == "SELECT w FROM t, LATERAL tok(text) AS T(w)"
    # nested parens + quoted ')' inside the call survive
    assert rewrite_lateral_table(
        "SELECT 1 FROM t LEFT JOIN LATERAL TABLE (f(x, ')')) AS T(a) ON TRUE"
    ) == "SELECT 1 FROM t LEFT JOIN LATERAL f(x, ')') AS T(a) ON TRUE"
    # literal and identifier-boundary safety
    s = "SELECT 'LATERAL TABLE(x)' lit, my_lateral_table(x) FROM t"
    assert rewrite_lateral_table(s) == s


def test_for_system_time_rewrite_forms():
    assert rewrite_for_system_time(
        "FROM o JOIN d FOR SYSTEM_TIME AS OF o.proctime AS d2 ON d2.k = o.k"
    ) == "FROM o JOIN d AS d2 ON d2.k = o.k"
    assert rewrite_for_system_time(
        "JOIN d FOR SYSTEM_TIME AS OF PROCTIME() d2 ON 1=1"
    ) == "JOIN d d2 ON 1=1"
    s = "SELECT 'FOR SYSTEM_TIME AS OF x' lit FROM t"
    assert rewrite_for_system_time(s) == s


# ----------------------------------------------------------------- execution

def test_lateral_table_executes(tenv):
    from flink_1_11_1_spark import catalog

    catalog.register(tenv.spark, SF_SMOKE)
    got = tenv.execute_sql(
        "SELECT doc_id, token FROM documents, "
        "LATERAL TABLE(explode(split(trim(text), ' '))) AS T(token) "
        "WHERE doc_id = 0 ORDER BY token LIMIT 5"
    ).collect()
    want = tenv.spark.sql(
        "SELECT doc_id, token FROM documents "
        "LATERAL VIEW explode(split(trim(text), ' ')) x AS token "
        "WHERE doc_id = 0 ORDER BY token LIMIT 5"
    ).collect()
    assert got == want


def test_lateral_table_left_join_on_true_keeps_empty_rows(tenv):
    tenv.spark.sql(
        "SELECT 1 id, array(10, 20) arr UNION ALL "
        "SELECT 2, cast(array() as array<int>)"
    ).createOrReplaceTempView("lat_t")
    got = tenv.execute_sql(
        "SELECT id, c FROM lat_t LEFT JOIN "
        "LATERAL TABLE(explode(lat_t.arr)) AS x(c) ON TRUE ORDER BY id, c"
    ).collect()
    assert [(r.id, r.c) for r in got] == [(1, 10), (1, 20), (2, None)]


def test_for_system_time_lookup_join_executes(tenv):
    from flink_1_11_1_spark import catalog

    catalog.register(tenv.spark, SF_SMOKE)
    got = tenv.execute_sql(
        "SELECT o_orderkey, c.c_name FROM orders "
        "JOIN customer FOR SYSTEM_TIME AS OF orders.o_orderdate AS c "
        "ON c.c_custkey = o_custkey ORDER BY o_orderkey LIMIT 10"
    ).collect()
    want = tenv.spark.sql(
        "SELECT o_orderkey, c.c_name FROM orders "
        "JOIN customer c ON c.c_custkey = o_custkey "
        "ORDER BY o_orderkey LIMIT 10"
    ).collect()
    assert got == want


def test_create_function_udtf_plus_lateral_table(tenv):
    """The combined migration path: FLIP-79 CREATE FUNCTION registers a
    Python UDTF, LATERAL TABLE correlates it — both rewrites compose in
    one statement."""
    tenv.execute_sql(
        "CREATE TEMPORARY FUNCTION pair_tok AS "
        "'flink_1_11_1_spark.udf_examples.pair_tokens' LANGUAGE PYTHON"
    )
    tenv.spark.sql(
        "SELECT 'a b' s UNION ALL SELECT 'c'"
    ).createOrReplaceTempView("lat_src")
    got = tenv.execute_sql(
        "SELECT s, w FROM lat_src, LATERAL TABLE(pair_tok(s)) AS T(w) "
        "ORDER BY s, w"
    ).collect()
    assert [(r.s, r.w) for r in got] == [("a b", "a"), ("a b", "b"), ("c", "c")]


# --------------------------------------------- review-finding regressions

def test_rewrites_skip_comment_fragments():
    from flink_1_11_1_spark.group_windows import rewrite_group_windows

    # balanced comment fragment with non-window args must not crash
    s = "SELECT 1 -- see SESSION(user) for details\nFROM t"
    assert rewrite_group_windows(s) == s
    s2 = "SELECT 1 /* HOP(x) explanation */ FROM t"
    assert rewrite_group_windows(s2) == s2
    s3 = "SELECT 1 -- LATERAL TABLE(f(x)) note\nFROM t"
    assert rewrite_lateral_table(s3) == s3
    s4 = "SELECT 1 -- FOR SYSTEM_TIME AS OF o.pt\nFROM t"
    assert rewrite_for_system_time(s4) == s4


def test_for_system_time_rejects_declared_rowtime_attr():
    with pytest.raises(ValueError, match="rowtime"):
        rewrite_for_system_time(
            "SELECT * FROM f JOIN d FOR SYSTEM_TIME AS OF f.ts AS d ON 1=1",
            rowtime_cols={"ts"},
        )
    # non-rowtime attributes still strip
    out = rewrite_for_system_time(
        "JOIN d FOR SYSTEM_TIME AS OF f.pt d ON 1=1", rowtime_cols={"ts"})
    assert out == "JOIN d d ON 1=1"


def test_for_system_time_rowtime_guard_wired_through_ddl(tenv, tmp_path):
    from flink_1_11_1_spark import catalog

    catalog.register(tenv.spark, SF_SMOKE)
    tenv.execute_sql(
        f"""
        CREATE TABLE gw_guard_t (
          event_id BIGINT, ts TIMESTAMP(3), user_id BIGINT,
          WATERMARK FOR ts AS ts - INTERVAL '10' MINUTE
        ) WITH ('connector'='filesystem', 'path'='{tmp_path}/x',
                'format'='parquet')
        """
    )
    try:
        with pytest.raises(ValueError, match="rowtime"):
            tenv.execute_sql(
                "SELECT * FROM orders JOIN customer "
                "FOR SYSTEM_TIME AS OF orders.ts AS c "
                "ON c.c_custkey = o_custkey"
            )
    finally:
        tenv.execute_sql("DROP TABLE gw_guard_t")


def test_lex_comment_edges():
    from flink_1_11_1_spark.sql_lex import lex

    def comments(s):
        return [(t.start, t.end) for t in lex(s).toks if t.kind == "comment"]

    # '--' inside a literal is not a comment
    assert comments("SELECT 'a -- b' FROM t") == []
    # unterminated block comment runs to end
    s = "SELECT 1 /* open"
    assert comments(s) == [(9, len(s))]
    # line comment without trailing newline runs to end
    s2 = "SELECT 1 -- note"
    assert comments(s2) == [(9, len(s2))]
    # comment inside backticks is identifier text
    assert comments("SELECT `a--b` FROM t") == []

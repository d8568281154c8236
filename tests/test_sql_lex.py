"""The shared SQL lexer (``flink_1_11_1_spark/sql_lex.py``).

Two batteries:

- a differential test that lexes seeded statements mixing quotes,
  escapes, backticks, comments and hints, and compares the string,
  identifier, comment and hint spans to the token stream of Spark's own
  ``SqlBaseLexer``, reached through the session JVM;
- one regression case per bug of the hand-written scanners the lexer
  replaced, each run through the rewrite that had it.
"""

from __future__ import annotations

import datetime as dt
import random

import pytest

from flink_1_11_1_spark.sql_lex import lex

# --------------------------------------------------- differential vs Spark

_SPARK_KIND = {
    "STRING_LITERAL": "str",
    "DOUBLEQUOTED_STRING": "str",
    "BACKQUOTED_IDENTIFIER": "ident",
    "SIMPLE_COMMENT": "comment",
    "BRACKETED_COMMENT": "comment",
    "HENT_START": "hint",  # sic: Spark's grammar spells it HENT
    "HENT_END": "hint",
}


def _spark_spans(spark, text: str) -> list[tuple[str, int, int]]:
    jvm = spark._jvm
    parser = jvm.org.apache.spark.sql.catalyst.parser
    lexer = parser.SqlBaseLexer(parser.UpperCaseCharStream(
        jvm.org.antlr.v4.runtime.CharStreams.fromString(text)))
    vocab = lexer.getVocabulary()
    out = []
    for t in lexer.getAllTokens():
        kind = _SPARK_KIND.get(vocab.getSymbolicName(t.getType()))
        if kind is None:
            continue
        a, b = t.getStartIndex(), t.getStopIndex() + 1
        if kind == "comment":  # Spark's line comment owns its newline
            b = a + len(text[a:b].rstrip("\r\n"))
        out.append((kind, a, b))
    return out


def _lex_spans(text: str) -> list[tuple[str, int, int]]:
    return [(t.kind, t.start, t.end) for t in lex(text).toks
            if t.kind in ("str", "ident", "comment", "hint")]


def _gen_statement(rng: random.Random) -> str:
    def body(alphabet: str, n: int) -> str:
        return "".join(rng.choice(alphabet) for _ in range(n))

    def piece(depth: int = 0) -> str:
        k = rng.randrange(12)
        if k == 0:  # single-quoted: doubled quote and backslash escapes
            return "'" + body("ab ,;()-/*`\"", 3).join(
                rng.choice(["''", "\\'", "\\\\", "x"]) for _ in range(3)) + "'"
        if k == 1:
            return '"' + body("ab ,;'`", 3).join(
                rng.choice(['""', '\\"', "y"]) for _ in range(2)) + '"'
        if k == 2:
            return " " + rng.choice("Rr") + "'" + body("a\\,\"", 4) + "'"
        if k == 3:
            return "`" + body("a ,;'\"-/*", 3).join(
                rng.choice(["``", "z"]) for _ in range(2)) + "`"
        if k == 4:
            return "-- " + body("a ,;'\"`(*/", 6) + rng.choice(["\n", "\\\nq\n"])
        if k == 5 and depth < 2:
            return "/* " + piece(depth + 1) + " */"
        if k == 6 and depth < 2:
            return "/* a /* " + piece(depth + 1) + " */ b */"
        if k == 7 and depth == 0:
            return ("/*+ OPTIONS(" + piece(1) + "=" + piece(1) + ") "
                    + piece(1) + " */")
        if k == 8:
            return rng.choice(["SELECT", "a", "b1", "AND", "FROM", "x_y"])
        return rng.choice(["(", ")", ",", ";", "=", "<", ">", "+", "*",
                           "-", "/", ".", "1"])

    return rng.choice(["", " ", "\n"]).join(
        piece() for _ in range(rng.randrange(3, 12)))


def test_lexer_spans_match_spark_lexer(spark):
    """300 seeded statements: every string, backtick identifier,
    comment (line, bracketed, nested) and hint boundary equals the one
    Spark's SqlBaseLexer reports."""
    rng = random.Random(20261017)
    for _ in range(300):
        text = _gen_statement(rng)
        assert _lex_spans(text) == _spark_spans(spark, text), repr(text)


# ------------------------------------------------- scanner regressions


def _create_table_comments(spark):
    from flink_1_11_1_spark.ddl import parse_create_table

    ct = parse_create_table(
        "CREATE TABLE t (\n  a INT, -- x, y\n  b /* ( */ STRING\n) "
        "WITH ('connector' = 'print')")
    return ct.columns, [("a", "INT", False), ("b", "STRING", False)]


def _multi_insert_branch_comment(spark):
    from flink_1_11_1_spark.ddl import _splice_from

    return (_splice_from("SELECT a -- WHERE note\n WHERE a > 1", "src"),
            "SELECT a -- WHERE note\n FROM src WHERE a > 1")


def _multi_insert_commented_insert(spark):
    from flink_1_11_1_spark.table_env import TableEnvironment

    tenv = TableEnvironment(spark)
    spark.range(5).selectExpr("id AS a").createOrReplaceTempView("lex_mi_src")
    tenv.execute_sql("CREATE TABLE lex_mi_sink (a BIGINT) "
                     "WITH ('connector' = 'blackhole')")
    try:
        # the commented INSERT names a table that does not exist
        tenv.execute_sql(
            "FROM lex_mi_src -- INSERT INTO no_such_sink SELECT 1\n"
            "INSERT INTO lex_mi_sink SELECT a WHERE a > 1")
    finally:
        tenv.execute_sql("DROP TABLE lex_mi_sink")
    return True, True


def _mr_measure_backtick(spark):
    from flink_1_11_1_spark.extensions.match_recognize import match_recognize

    ev = spark.createDataFrame(
        [(1, 1, dt.datetime(2024, 1, 1), "A", 1.0)],
        "user_id long, event_id long, ts timestamp, event_type string, "
        "value double")
    with pytest.raises(ValueError) as err:
        match_recognize(spark, """
            SELECT * FROM ev MATCH_RECOGNIZE (
              PARTITION BY user_id ORDER BY ts, event_id
              MEASURES LAST(A.value) AS `a,b`
              PATTERN (A)
              DEFINE A AS A.event_type = 'A')""", events=ev)
    # the whole measure is reported: the split kept `a,b` in one item
    return str(err.value), "unsupported measure 'LAST(A.value) AS `a,b`'"


def _define_backtick_and(spark):
    from flink_1_11_1_spark.streaming.nfa_lowering import _literal_conjuncts

    # one conjunct comparing a backtick column: no `kind = 'a'` proof
    return _literal_conjuncts("`AND kind = 'a' AND` = 'z'", None), {}


def _over_select_backtick(spark):
    from flink_1_11_1_spark.table_env import TableEnvironment

    (spark.readStream.format("rate").load()
     .withWatermark("timestamp", "1 second")
     .selectExpr("value % 3 AS user_id", "timestamp AS ts", "value",
                 "value AS `x,y`")
     .createOrReplaceTempView("lex_over_src"))
    out = TableEnvironment(spark).execute_sql(
        "SELECT user_id, `x,y`, sum(value) OVER "
        "(PARTITION BY user_id ORDER BY ts) AS rs FROM lex_over_src")
    return (out.isStreaming, out.columns), (True, ["user_id", "x,y", "rs"])


def _nested_comment(spark):
    from flink_1_11_1_spark.group_windows import rewrite_group_windows

    sql = "SELECT 1 /* a /* b */ TUMBLE(ts, INTERVAL '1' HOUR) */ FROM t"
    return rewrite_group_windows(sql), sql


@pytest.mark.parametrize("case", [
    _create_table_comments,
    _multi_insert_branch_comment,
    _multi_insert_commented_insert,
    _mr_measure_backtick,
    _define_backtick_and,
    _over_select_backtick,
    _nested_comment,
], ids=lambda f: f.__name__.lstrip("_"))
def test_scanner_regressions(spark, case):
    got, want = case(spark)
    assert got == want

"""Regression tests for the round-4 advisor findings (ADVICE.md r4):

- events_spec's encoding probe must treat parquet INT64 TIMESTAMP(NANOS)
  (pyarrow ``timestamp[ns]``) as the ns-as-long case, like plain INT64.
- Same-variable FIRST/LAST navigation in DEFINE must route to the fold
  (the row-local path would strip it into an invalid flag aggregate).
- _py_cond_ok must only swallow TypeErrors caused by null operands;
  genuine type mismatches propagate.  Unresolved dotted references fail
  at parse time with the DEFINE name, not as an executor NameError.
- catalog.register(force=True) restores canonical views after a caller
  shadows one.
"""

from __future__ import annotations

import datetime as dt

import pytest

from flink_1_11_1_spark import catalog
from flink_1_11_1_spark.extensions.match_recognize import match_recognize
from flink_1_11_1_spark.streaming.nfa import _py_cond_ok

from .conftest import SF_SMOKE


def test_events_spec_handles_nanos_timestamp_encoding(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_1_11_1_spark.table_env import events_spec

    base = dt.datetime(2026, 1, 1)
    for typ, subdir in [
        (pa.timestamp("ns"), "ns"),
        (pa.timestamp("us"), "us"),
        (pa.int64(), "raw"),
    ]:
        d = tmp_path / subdir
        d.mkdir()
        if typ == pa.int64():
            arr = pa.array(
                [int(base.timestamp() * 1e9), int(base.timestamp() * 1e9) + 7_000_000],
                type=typ,
            )
        else:
            arr = pa.array([base, base + dt.timedelta(milliseconds=7)], type=typ)
        pq.write_table(pa.table({"ts": arr}), d / "events.parquet")

    ns_expr = events_spec(str(tmp_path / "ns")).computed["ts"]
    raw_expr = events_spec(str(tmp_path / "raw")).computed["ts"]
    us_expr = events_spec(str(tmp_path / "us")).computed["ts"]
    # ns-physical and raw-int64 must both take the ns-as-long branch;
    # reading nanos via cast(ts as timestamp) would be off by 1e9.
    assert ns_expr == raw_expr == "timestamp_millis(ts div 1000000)"
    assert "cast(ts as timestamp)" in us_expr


def test_same_variable_first_navigation_goes_to_fold(spark):
    # B AS B.value >= FIRST(B.value): a valid Flink IterativeCondition;
    # previously fell into the row-local path and failed Spark analysis.
    sql = """
    SELECT * FROM events MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts, event_id
      MEASURES FIRST(B.event_id) AS b1, LAST(B.event_id) AS b2
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (B{2})
      DEFINE B AS B.value >= FIRST(B.value)
    )
    """
    rows = match_recognize(spark, sql, SF_SMOKE).limit(5).collect()
    assert all(r.b1 != r.b2 for r in rows)


def test_unresolved_dotted_reference_fails_at_parse(spark):
    sql = """
    SELECT * FROM events MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts, event_id
      MEASURES LAST(B.event_id) AS b_id
      ONE ROW PER MATCH
      PATTERN (A B)
      DEFINE A AS A.event_type = 'click', B AS B.value > X.value
    )
    """
    with pytest.raises(ValueError, match="X"):
        match_recognize(spark, sql, SF_SMOKE)


def test_py_cond_null_vs_genuine_type_error():
    code = compile('EV["v"] > LAST("A","v")', "<py_cond:B>", "eval")
    bound = {"labels": ["A"], "vals": [{"v": 1.0}]}
    # null event value → no match, not an error
    assert _py_cond_ok(code, bound, {"v": None}) is False
    # unbound variable → no match
    assert _py_cond_ok(code, {"labels": [], "vals": []}, {"v": 2.0}) is False
    assert _py_cond_ok(code, bound, {"v": 2.0}) is True
    # genuine mismatch (string vs float, nothing null) → propagate
    with pytest.raises(TypeError):
        _py_cond_ok(code, bound, {"v": "not-a-number"})


def test_register_force_restores_shadowed_view(spark):
    catalog.register(spark, SF_SMOKE)
    n = spark.table("region").count()
    spark.range(1).selectExpr("id AS r_regionkey").createOrReplaceTempView("region")
    catalog.register(spark, SF_SMOKE)  # cached → still shadowed
    assert spark.table("region").count() == 1
    catalog.register(spark, SF_SMOKE, force=True)
    assert spark.table("region").count() == n


# ------------------------------------------------- round-6 advisor items


def test_hint_alias_evicted_on_recreate(spark, tmp_path):
    """DROP + re-CREATE of a hinted table with different props must not
    serve the stale merged alias: the repeated hinted query re-merges
    against the new declaration (ADVICE r5: _hint_aliases never
    invalidated)."""
    from flink_1_11_1_spark.table_env import TableEnvironment

    tenv = TableEnvironment(spark)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    spark.range(3).write.parquet(a)
    spark.range(7).write.parquet(b)
    other = str(tmp_path / "c")
    spark.range(5).write.parquet(other)
    ddl = """CREATE TABLE ev_hint (id BIGINT) WITH (
        'connector'='filesystem', 'path'='{p}', 'format'='parquet')"""
    hinted = f"SELECT count(*) AS n FROM ev_hint /*+ OPTIONS('path'='{other}') */"
    tenv.execute_sql(ddl.format(p=a))
    assert tenv.execute_sql(hinted).collect()[0].n == 5
    tenv.execute_sql("DROP TABLE ev_hint")
    # re-create with a different declared path AND different schema case
    tenv.execute_sql(ddl.format(p=b))
    assert tenv.execute_sql("SELECT count(*) AS n FROM ev_hint").collect()[0].n == 7
    # the repeated hinted query must re-merge (same override → same cache
    # key as before the drop); a stale alias would still read path a/c
    # merged over the OLD declaration
    assert tenv.execute_sql(hinted).collect()[0].n == 5
    # and the override composes with the NEW base declaration: overriding
    # nothing yields the new path
    assert (
        tenv.execute_sql(
            "SELECT count(*) AS n FROM ev_hint /*+ OPTIONS('format'='parquet') */"
        ).collect()[0].n
        == 7
    )
    tenv.execute_sql("DROP TABLE ev_hint")


def test_hint_shaped_text_inside_literal_untouched(spark):
    """Hint-shaped text inside a string literal must survive the FLIP-113
    rewrite verbatim (ADVICE r5: the hint regex was not quote-aware)."""
    from flink_1_11_1_spark.table_env import TableEnvironment

    tenv = TableEnvironment(spark)
    lit = "see t /*+ OPTIONS('k'='v') */ in docs"
    row = tenv.execute_sql(
        "SELECT 'see t /*+ OPTIONS(''k''=''v'') */ in docs' AS s"
    ).collect()[0]
    assert row.s == lit


def test_exact_quantiles_drops_its_temp_view(spark):
    """Repeated exact_quantiles calls must not leak __exact_quantiles_N
    temp views (ADVICE r5)."""
    from flink_1_11_1_spark.extensions.stats import exact_quantiles

    df = spark.range(100).selectExpr("id AS v", "id AS tb")
    for _ in range(2):
        rows = exact_quantiles(df, "v", "tb", probs=(0.5,)).collect()
        # lower discrete quantile: smallest v with cum_count >= ceil(.5*100)
        assert rows and rows[0].value == 49
    leaked = [t.name for t in spark.catalog.listTables()
              if t.name.startswith("__exact_quantiles_")]
    assert leaked == []


def test_execute_script_backslash_follows_parser_dialect(spark):
    """The script splitter brackets literals exactly as Spark's LEXER
    does — backslash-escaped quotes stay inside the literal in BOTH
    escapedStringLiterals modes (the conf only changes post-lex
    unescaping), and the documented dialect delta holds: a Flink-style
    literal ending in a lone backslash is not representable, but the
    doubled-backslash spelling splits and runs (ADVICE r5)."""
    from flink_1_11_1_spark.table_env import TableEnvironment

    tenv = TableEnvironment(spark)
    prior = spark.conf.get("spark.sql.parser.escapedStringLiterals", "false")
    try:
        for conf in ("false", "true"):
            spark.conf.set("spark.sql.parser.escapedStringLiterals", conf)
            # escaped quote stays inside the literal; the following
            # statement still runs (a naive splitter would cut at \')
            out = tenv.execute_script(r"SELECT 'a\'b' AS s; SELECT 2 AS y")
            assert out.collect()[0].y == 2
            # trailing-backslash content, spelled the Spark way
            out = tenv.execute_script("SELECT 'tail\\\\' AS s; SELECT 3 AS y")
            assert out.collect()[0].y == 3
    finally:
        spark.conf.set("spark.sql.parser.escapedStringLiterals", prior)


# ---------------- round-7 advisor findings (ADVICE.md r6)


def test_bare_reset_unsets_all_session_properties(spark):
    """Flink sql-client RESET (no key) resets ALL session properties —
    a bare RESET must undo every key applied via SET (ADVICE r6)."""
    from flink_1_11_1_spark.ddl import DdlCatalog

    cat = DdlCatalog(spark)
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        cat.execute("SET 'table.exec.resource.default-parallelism' = '7'")
        cat.execute("SET 'my.custom.key' = 'v1'")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        assert spark.conf.get("my.custom.key") == "v1"
        cat.execute("RESET")
        # mapped key falls back to the session default; custom key gone
        assert spark.conf.get("spark.sql.shuffle.partitions") != "7"
        assert spark.conf.get("my.custom.key", None) is None
        assert cat._set_keys == set()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)


def _string_spans(s):
    from flink_1_11_1_spark.sql_lex import lex

    return [(t.start, t.end) for t in lex(s).toks if t.kind == "str"]


def test_lex_doubled_backtick_identifier():
    """An identifier like `a``b` must not end the backtick scan early
    and open a phantom quoted region that swallows later hint text
    (ADVICE r6)."""
    s = "SELECT `a``b` FROM t WHERE x = 'lit''eral' AND y = 2"
    spans = _string_spans(s)
    # exactly one string-literal span, covering 'lit''eral'
    assert len(spans) == 1
    start, end = spans[0]
    assert s[start:end] == "'lit''eral'"


def test_lex_backslash_escape_in_literal():
    """Backslash-escaped quotes stay inside the literal, matching the
    lexer rule execute_script follows."""
    s = r"SELECT 'a\'b' AS s, 'c' AS t"
    spans = _string_spans(s)
    assert [s[a:b] for a, b in spans] == [r"'a\'b'", "'c'"]


def test_avro_sibling_struct_record_names_unique():
    """Two sibling struct columns must get DISTINCT Avro record names —
    duplicate names are a spec violation external readers reject
    (ADVICE r6)."""
    from pyspark.sql import types as T

    from flink_1_11_1_spark.sources.avro_format import spark_schema_to_avro

    inner = T.StructType([T.StructField("x", T.LongType(), False)])
    schema = T.StructType([
        T.StructField("a", inner, False),
        T.StructField("b", inner, False),
        T.StructField("arr", T.ArrayType(inner, False), False),
    ])
    avro = spark_schema_to_avro(schema, name="row")

    names = []

    def walk(node):
        if isinstance(node, dict):
            if node.get("type") == "record":
                names.append(node["name"])
                for f in node["fields"]:
                    walk(f["type"])
            elif node.get("type") == "array":
                walk(node["items"])
            elif node.get("type") == "map":
                walk(node["values"])
        elif isinstance(node, list):
            for x in node:
                walk(x)

    walk(avro)
    assert len(names) == len(set(names)), names


def test_cosine_layout_one_sided_override_raises(spark):
    """Passing exactly one of (bands, planes_per_band) is a caller
    error, not a silent fallback to the auto layout (ADVICE r6)."""
    from flink_1_11_1_spark.extensions.dedup import cosine_near_dup_pairs

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="together"):
        cosine_near_dup_pairs(emb, bands=4)
    with pytest.raises(ValueError, match="together"):
        cosine_near_dup_pairs(emb, planes_per_band=8)


def test_late_side_output_retry_and_restart_exact(spark, tmp_path):
    """The watermark base is disk-discovered: a foreachBatch RETRY of
    batch N must not count N's own rows (over-capture), and a fresh
    instance (driver restart) resumes from the persisted markers
    (ADVICE r6).  Also: the window bucket is integer arithmetic — a
    boundary row whose window end == watermark is late, exactly."""
    import pyspark.sql.functions as F

    from flink_1_11_1_spark.streaming.late import LateSideOutput, read_late_rows

    hour_us = 3600 * 10**6
    base = (1_700_000_000 // 3600) * 3600 * 10**6

    def frame(rows):  # (event_id, offset_minutes)
        return spark.createDataFrame(
            [(i, base + int(m * 60) * 10**6) for i, m in rows],
            "event_id long, us long",
        ).select("event_id", F.timestamp_micros(F.col("us")).alias("ts"))

    side = str(tmp_path / "late_side")
    lso = LateSideOutput("ts", "60 minutes", side, window_size="1 hour")

    # batch 0: establishes max = minute 400 -> wm 340 for batch 1
    lso(frame([(1, 10), (2, 400)]), 0)
    # batch 1: id 3 in W0 (end 60 <= 340: late); id 4 at minute 340
    # exactly (W5 end 360 > 340: kept); id 5 fresh at minute 500
    lso(frame([(3, 30), (4, 340), (5, 500)]), 1)
    assert sorted(r.event_id for r in read_late_rows(spark, side).collect()) == [3]

    # RETRY of batch 1 must be bit-identical: watermark from markers of
    # batches < 1 only (a driver-memory max would now include 500)
    lso(frame([(3, 30), (4, 340), (5, 500)]), 1)
    assert sorted(r.event_id for r in read_late_rows(spark, side).collect()) == [3]

    # RESTART: a brand-new instance sees the persisted markers and
    # continues with wm = 500 - 60 = 440
    lso2 = LateSideOutput("ts", "60 minutes", side, window_size="1 hour")
    lso2(frame([(6, 90), (7, 439), (8, 600)]), 2)
    # id 6: W1 end 120 <= 440 late; id 7: W7 end 480 > 440 kept
    got = sorted(r.event_id for r in read_late_rows(spark, side).collect())
    assert got == [3, 6]


# ---------------- round-8 advisor findings (ADVICE.md r7)


def _valued_events(spark, values):
    """One user; event i (1-based) at second i with the given value."""
    base = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            (1, i + 1, base + dt.timedelta(seconds=i + 1), float(v))
            for i, v in enumerate(values)
        ],
        "user_id long, event_id long, ts timestamp, value double",
    )


def _bt_matches(pat, ev):
    df = pat.match_batch(ev, lowering=False)
    return [list(r.ids) for r in df.orderBy("start_ts", "end_ts").collect()]


def test_bt_past_last_defers_behind_blocked_earlier_group(spark):
    """ADVICE r7 #1: under past_last a later-start pending match must
    not emit while an earlier-start group is still blocked by a live
    greedier sibling — the resume-row prune would kill the leftmost
    match.  A+ B relaxed, B AS value > FIRST(A)*2 over values
    [10,22,4,9]: leftmost-greedy gives [1,2] then [3,4]; the pre-fix
    fold emitted only [3,4]."""
    from flink_1_11_1_spark.streaming import nfa

    pat = (
        nfa.PatternSeq.begin("A", "value % 2 = 0")
        .one_or_more()
        .followed_by("B", "true")
        .where_iterative('EV["value"] > FIRST("A","value") * 2', "value")
        .with_backtracking()
        .after_match_skip("past_last")
        .within("1 hour")
    )
    ev = _valued_events(spark, [10, 22, 4, 9])
    assert _bt_matches(pat, ev) == [[1, 2], [3, 4]]


def test_bt_finalize_resolves_deferred_groups_to_fixpoint(spark):
    """ADVICE r7 #2: finalize must iterate _resolve to a fixpoint —
    groups deferred behind a past_last resume row in the first pass
    are matches, not droppable partials.  Strict-contiguity variant:
    both groups stay pending (blocked by live greedy A-extensions)
    until input exhausts; the pre-fix fold emitted only [1,2]."""
    from flink_1_11_1_spark.streaming import nfa

    pat = (
        nfa.PatternSeq.begin("A", "true")
        .one_or_more()
        .consecutive()
        .next_("B", "true")
        .where_iterative('EV["value"] > FIRST("A","value") * 2', "value")
        .with_backtracking()
        .after_match_skip("past_last")
        .within("1 hour")
    )
    ev = _valued_events(spark, [10, 22, 4, 9])
    assert _bt_matches(pat, ev) == [[1, 2], [3, 4]]


def test_py_cond_v2_same_var_rep0_binds_current_row():
    """py_cond v2 contract (round 8): FIRST/LAST of the variable being
    matched with no accepted row binds the current event (SQL running
    semantics); unbound OTHER-variable refs compare as SQL NULL."""
    from flink_1_11_1_spark.streaming.nfa import _py_cond_ok

    code = compile('EV["v"] >= FIRST("B","v")', "<py_cond:B>", "eval")
    empty = {"labels": [], "vals": []}
    # rep 0 of B: FIRST(B) is the candidate row itself -> vacuously true
    assert _py_cond_ok(code, empty, {"v": 5.0}, "B") is True
    # rep 1: FIRST(B) is the bound rep-0 row
    bound = {"labels": ["B"], "vals": [{"v": 7.0}]}
    assert _py_cond_ok(code, bound, {"v": 5.0}, "B") is False
    assert _py_cond_ok(code, bound, {"v": 9.0}, "B") is True
    # same shape evaluated for a DIFFERENT variable: B unbound -> NULL
    assert _py_cond_ok(code, empty, {"v": 5.0}, "C") is False
    # a bound row whose column is null stays NULL (no current-row
    # fallback for bound-but-null)
    nullrow = {"labels": ["B"], "vals": [{"v": None}]}
    assert _py_cond_ok(code, nullrow, {"v": 5.0}, "B") is False


def test_expr_truncate_rounds_toward_zero(spark):
    """ADVICE r7: TRUNCATE is round-toward-zero — truncate(-1.23, 1)
    is -1.2, not floor's -1.3."""
    from flink_1_11_1_spark.table_api import Table

    t = Table(
        spark.createDataFrame(
            [(1.29,), (-1.29,), (-1.21,), (0.0,), (None,)], "v double"
        )
    )
    rows = t.select("v.truncate(1) as tv, v").df.collect()
    got = {r.v: r.tv for r in rows}
    assert got[1.29] == 1.2
    assert got[-1.29] == -1.2
    assert got[-1.21] == -1.2
    assert got[0.0] == 0.0
    assert got[None] is None


def test_expr_flatten_expands_composite(spark):
    """ADVICE r7: flatten expands a ROW field into its fields (was a
    silent identity)."""
    from flink_1_11_1_spark.table_api import Table

    df = spark.createDataFrame(
        [(1, (10, "a")), (2, (20, "b"))],
        "id long, s struct<x: long, y: string>",
    )
    t = Table(df)
    out = t.select("id, s.flatten()").df
    assert out.columns == ["id", "x", "y"]
    assert [(r.id, r.x, r.y) for r in out.orderBy("id").collect()] == [
        (1, 10, "a"), (2, 20, "b")
    ]
    # non-field-reference target is a loud error, not a silent identity
    with pytest.raises(ValueError, match="composite field"):
        t.select("(id + 1).flatten()")


# ---------------- round-9 advisor findings (ADVICE.md r8) -------------


def test_truncate_is_decimal_exact(spark):
    """ADVICE r8: truncate must operate on the DECIMAL rendering —
    truncate(0.29, 2) is 0.29, not the binary-scaling artifact 0.28
    (0.29*100 == 28.999... in IEEE doubles)."""
    from flink_1_11_1_spark.table_api import Table

    t = Table(
        spark.createDataFrame(
            [(0.29,), (-0.29,), (1.005,), (-1.005,), (123.456,)], "v double"
        )
    )
    rows = t.select("v.truncate(2) as tv, v").df.collect()
    got = {r.v: r.tv for r in rows}
    assert got[0.29] == 0.29
    assert got[-0.29] == -0.29
    assert got[1.005] == 1.0
    assert got[-1.005] == -1.0
    assert got[123.456] == 123.45
    # declared-output type rule: result stays DOUBLE
    assert dict(t.select("v.truncate(2) as tv").df.dtypes)["tv"] == "double"


def test_qualified_bare_name_rewrite_anchored(spark, tmp_path):
    """ADVICE r8: the bare-name rewrite in a non-default catalog context
    must only fire in table positions — a column alias (or column)
    sharing the table's name stays untouched."""
    from flink_1_11_1_spark.table_env import TableEnvironment

    tenv = TableEnvironment(spark)
    p = str(tmp_path / "anchor_t")
    spark.range(3).selectExpr("id", "id * 7 AS v").write.parquet(p)
    tenv.execute_sql("CREATE CATALOG anc_cat WITH ('type'='generic_in_memory')")
    tenv.execute_sql("CREATE DATABASE anc_cat.adb")
    tenv.execute_sql(f"""CREATE TABLE anc_cat.adb.anchors (id BIGINT, v BIGINT)
        WITH ('connector'='filesystem', 'path'='{p}', 'format'='parquet')""")
    tenv.execute_sql("USE CATALOG anc_cat")
    tenv.execute_sql("USE adb")
    try:
        # alias named like the table: must NOT mangle; the FROM ref must
        rows = tenv.execute_sql(
            "SELECT sum(v) AS anchors FROM anchors"
        ).collect()
        assert rows[0].anchors == 21
        # JOIN position rewrites too (case-insensitive keyword)
        rows = tenv.execute_sql(
            "SELECT count(*) AS n FROM anchors a join anchors b ON a.id = b.id"
        ).collect()
        assert rows[0].n == 3
    finally:
        tenv.execute_sql("USE CATALOG default_catalog")
        tenv.execute_sql("DROP TABLE anc_cat.adb.anchors")


def test_backtick_qualified_catalog_name_rewrite(spark, tmp_path):
    """A catalog-qualified name written with backticks (Flink SQL's
    ```cat`.`db`.`t``` form) rewrites to the session alias like the bare
    form, whether every part or only some are quoted."""
    from flink_1_11_1_spark.table_env import TableEnvironment

    tenv = TableEnvironment(spark)
    p = str(tmp_path / "bq_t")
    spark.range(3).selectExpr("id", "id * 7 AS v").write.parquet(p)
    tenv.execute_sql("CREATE CATALOG bq_cat WITH ('type'='generic_in_memory')")
    tenv.execute_sql("CREATE DATABASE bq_cat.bdb")
    tenv.execute_sql(f"""CREATE TABLE bq_cat.bdb.bt (id BIGINT, v BIGINT)
        WITH ('connector'='filesystem', 'path'='{p}', 'format'='parquet')""")
    try:
        for ref in ("`bq_cat`.`bdb`.`bt`", "`bq_cat`.bdb.bt",
                    "bq_cat.`bdb`.`bt`", "bq_cat.bdb.bt"):
            rows = tenv.execute_sql(f"SELECT sum(v) AS s FROM {ref}").collect()
            assert rows[0].s == 21, ref
        # the db-qualified form under the catalog, backticks included
        tenv.execute_sql("USE CATALOG bq_cat")
        rows = tenv.execute_sql(
            "SELECT count(*) AS n FROM `bdb`.`bt` a JOIN bdb.`bt` b "
            "ON a.id = b.id").collect()
        assert rows[0].n == 3
    finally:
        tenv.execute_sql("USE CATALOG default_catalog")
        tenv.execute_sql("DROP TABLE bq_cat.bdb.bt")


def test_database_qualifier_mismatch_rejected(spark):
    """ADVICE r8: CREATE DATABASE IF EXISTS / DROP DATABASE IF NOT
    EXISTS are parse errors (per-verb qualifiers), and DROP DATABASE
    drops the orphaned __cat_ temp views with the mappings."""
    import pytest as _pt

    from flink_1_11_1_spark.table_env import TableEnvironment

    tenv = TableEnvironment(spark)
    tenv.execute_sql("CREATE CATALOG dbq_cat")
    tenv.execute_sql("CREATE DATABASE IF NOT EXISTS dbq_cat.d1")
    with _pt.raises(Exception):
        tenv.execute_sql("CREATE DATABASE IF EXISTS dbq_cat.d2")
    with _pt.raises(Exception):
        tenv.execute_sql("DROP DATABASE IF NOT EXISTS dbq_cat.d1")
    # a declared table's mangled view dies with its database
    spark.range(2).createOrReplaceTempView("dbq_src")
    tenv.execute_sql(
        """CREATE TABLE dbq_cat.d1.t (id BIGINT) WITH (
           'connector'='filesystem', 'path'='/tmp/__dbq_nonexistent__',
           'format'='parquet')"""
    )
    assert ("dbq_cat", "d1", "t") in tenv.ddl.qualified
    alias = tenv.ddl.qualified[("dbq_cat", "d1", "t")]
    assert alias in tenv.ddl.tables
    tenv.execute_sql("DROP DATABASE IF EXISTS dbq_cat.d1")
    assert ("dbq_cat", "d1", "t") not in tenv.ddl.qualified
    assert alias not in tenv.ddl.tables
    tenv.execute_sql("DROP CATALOG dbq_cat")


def test_environment_file_validates_before_applying(spark, tmp_path):
    """ADVICE r8: a rejected environment file must not leave the session
    partially bootstrapped — configuration keys listed BEFORE the
    offending functions: section are not applied."""
    import pytest as _pt

    from flink_1_11_1_spark.table_env import TableEnvironment

    tenv = TableEnvironment(spark)
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    bad = tmp_path / "bad_env.yaml"
    bad.write_text("""
configuration:
  table.exec.resource.default-parallelism: 11
functions:
  - name: jf
    from: class
    class: com.example.F
""")
    with _pt.raises(ValueError, match="register_function"):
        tenv.execute_environment_file(str(bad))
    assert spark.conf.get("spark.sql.shuffle.partitions") == prior
    # invalid table entries are also pre-validated
    bad2 = tmp_path / "bad_env2.yaml"
    bad2.write_text("""
configuration:
  table.exec.resource.default-parallelism: 12
tables:
  - name: t
    type: source-table
    connector:
      type: kafka
""")
    with _pt.raises(ValueError, match="filesystem"):
        tenv.execute_environment_file(str(bad2))
    assert spark.conf.get("spark.sql.shuffle.partitions") == prior


# ---------------- round-10 advisor findings (ADVICE.md r9) -------------


def test_alter_rename_retires_old_name_and_qualifies_new(spark, tmp_path):
    """ADVICE r9 (medium): after ALTER TABLE t RENAME TO t2, querying
    the old name raises table-not-found (Flink CatalogManager), and the
    fully-qualified NEW name resolves."""
    from flink_1_11_1_spark.table_env import TableEnvironment

    tenv = TableEnvironment(spark)
    p = str(tmp_path / "ren_t")
    spark.range(5).selectExpr("id").write.parquet(p)
    tenv.execute_sql(f"""CREATE TABLE ren_t (id BIGINT) WITH (
      'connector'='filesystem','path'='{p}','format'='parquet')""")
    tenv.execute_sql("ALTER TABLE ren_t RENAME TO ren_t2")
    # the stale key is gone: the old name is NOT silently rewritten
    with pytest.raises(Exception, match="(?i)cannot be found|not found"):
        tenv.execute_sql("SELECT count(*) AS n FROM ren_t").collect()
    # the new name gets its own qualified entry
    assert tenv.ddl.qualified[
        ("default_catalog", "default_database", "ren_t2")] == "ren_t2"
    n = tenv.execute_sql(
        "SELECT count(*) AS n "
        "FROM default_catalog.default_database.ren_t2").collect()[0].n
    assert n == 5
    tenv.execute_sql("DROP TABLE ren_t2")


def test_alter_rename_in_non_default_catalog(spark, tmp_path):
    """The rename stays inside the table's catalog.database: the mangled
    alias moves, the old qualified key dies, cross-db renames raise."""
    from flink_1_11_1_spark.table_env import TableEnvironment

    tenv = TableEnvironment(spark)
    p = str(tmp_path / "ren_c")
    spark.range(4).selectExpr("id").write.parquet(p)
    tenv.execute_sql("CREATE CATALOG ren_cat")
    tenv.execute_sql("CREATE DATABASE ren_cat.rdb")
    tenv.execute_sql(f"""CREATE TABLE ren_cat.rdb.rt (id BIGINT) WITH (
      'connector'='filesystem','path'='{p}','format'='parquet')""")
    tenv.execute_sql("USE CATALOG ren_cat")
    tenv.execute_sql("USE rdb")
    try:
        tenv.execute_sql("ALTER TABLE rt RENAME TO rt2")
        assert ("ren_cat", "rdb", "rt") not in tenv.ddl.qualified
        alias = tenv.ddl.qualified[("ren_cat", "rdb", "rt2")]
        assert alias == "__cat_ren_cat__rdb__rt2" and alias in tenv.ddl.tables
        assert tenv.execute_sql(
            "SELECT count(*) AS n FROM rt2").collect()[0].n == 4
        assert tenv.execute_sql(
            "SELECT count(*) AS n FROM ren_cat.rdb.rt2").collect()[0].n == 4
        with pytest.raises(ValueError, match="same|one database"):
            tenv.execute_sql(
                "ALTER TABLE rt2 RENAME TO default_catalog.default_database.zz")
    finally:
        tenv.execute_sql("USE CATALOG default_catalog")
        tenv.execute_sql("DROP TABLE ren_cat.rdb.rt2")


def test_insert_overwrite_bare_name_and_from_list_rewrite(spark, tmp_path):
    """ADVICE r9: in a non-default context, INSERT OVERWRITE <bare>
    (no TABLE keyword) routes to the declared sink, and comma-separated
    FROM lists rewrite every member — while a select-list column
    sharing the table's name stays untouched."""
    from flink_1_11_1_spark.table_env import TableEnvironment

    tenv = TableEnvironment(spark)
    ps = str(tmp_path / "fl_src")
    pk = str(tmp_path / "fl_sink")
    spark.range(3).selectExpr("id", "id * 7 AS v").write.parquet(ps)
    tenv.execute_sql("CREATE CATALOG fl_cat")
    tenv.execute_sql("CREATE DATABASE fl_cat.fdb")
    tenv.execute_sql(f"""CREATE TABLE fl_cat.fdb.flsrc (id BIGINT, v BIGINT)
      WITH ('connector'='filesystem','path'='{ps}','format'='parquet')""")
    tenv.execute_sql(f"""CREATE TABLE fl_cat.fdb.flsink (n BIGINT)
      WITH ('connector'='filesystem','path'='{pk}','format'='parquet')""")
    tenv.execute_sql("USE CATALOG fl_cat")
    tenv.execute_sql("USE fdb")
    try:
        # comma-separated FROM list: both refs rewrite (implicit cross)
        n = tenv.execute_sql(
            "SELECT count(*) AS n FROM flsrc, flsrc").collect()[0].n
        assert n == 9
        # ...but a same-named select-list alias does not mangle
        rows = tenv.execute_sql(
            "SELECT sum(v) AS flsrc FROM flsrc").collect()
        assert rows[0].flsrc == 21
        # INSERT OVERWRITE <bare> (no TABLE keyword) routes to the sink
        tenv.execute_sql(
            "INSERT OVERWRITE flsink SELECT count(*) AS n FROM flsrc")
        assert [r.n for r in spark.read.parquet(pk).collect()] == [3]
    finally:
        tenv.execute_sql("USE CATALOG default_catalog")
        tenv.execute_sql("DROP TABLE fl_cat.fdb.flsrc")
        tenv.execute_sql("DROP TABLE fl_cat.fdb.flsink")


def test_truncate_negative_scale(spark):
    """ADVICE r9: truncate(x, -1) truncates toward zero at the tens
    place — the decimal-exact path must not divide by zero."""
    from flink_1_11_1_spark.table_api import Table

    t = Table(
        spark.createDataFrame(
            [(123.45,), (-123.45,), (7.0,), (None,)], "v double"
        )
    )
    rows = t.select("v.truncate(-1) as tv, v").df.collect()
    got = {r.v: r.tv for r in rows}
    assert got[123.45] == 120.0
    assert got[-123.45] == -120.0
    assert got[7.0] == 0.0
    assert got[None] is None
    assert dict(t.select("v.truncate(-1) as tv").df.dtypes)["tv"] == "double"


def test_mr_factor_views_are_statement_scoped(spark):
    """ADVICE r9: __mr_factor_N temp views are dropped once the
    enclosing statement is analyzed — SHOW TABLES never surfaces them,
    and a failing statement doesn't leak them either."""
    from flink_1_11_1_spark.table_env import TableEnvironment

    tenv = TableEnvironment(spark)
    spark.createDataFrame(
        [(1, 0, "click", 1), (1, 10, "purchase", 2)],
        "user_id long, ts_ms long, event_type string, event_id long",
    ).selectExpr(
        "user_id", "timestamp_millis(ts_ms) AS ts", "event_type", "event_id"
    ).createOrReplaceTempView("mrl_ev")
    mr = """MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts, event_id
      MEASURES LAST(A.event_id) AS a_id
      ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A B)
      DEFINE A AS A.event_type = 'click', B AS B.event_type = 'purchase'
    )"""
    try:
        rows = tenv.execute_sql(
            f"SELECT m.a_id FROM mrl_ev {mr} AS m").collect()
        assert [r.a_id for r in rows] == [1]
        leaked = [t.name for t in spark.catalog.listTables()
                  if t.name.startswith("__mr_factor_")]
        assert leaked == []
        # the result stays collectible even though the view is gone
        # (analysis is eager); a FAILING statement also cleans up —
        # whether the enclosing query fails, or a later factor fails to
        # expand after an earlier factor's view was registered
        failing = [
            f"SELECT nonexistent_col FROM mrl_ev {mr} AS m",
            f"SELECT * FROM mrl_ev {mr} AS m JOIN mrl_ev MATCH_RECOGNIZE "
            "(PARTITION BY user_id ORDER BY ts MEASURES nonsense) AS n "
            "ON m.a_id = n.a_id",
        ]
        for sql in failing:
            with pytest.raises(Exception):
                tenv.execute_sql(sql)
            leaked = [t.name for t in spark.catalog.listTables()
                      if t.name.startswith("__mr_factor_")]
            assert leaked == [], sql
    finally:
        spark.catalog.dropTempView("mrl_ev")


@pytest.mark.parametrize("name", ["x_mr_multikey", "x_mad_outliers", "x_ann_pq"])
def test_staged_entries_leave_no_session_view(spark, name):
    """Entries that hand derived frames to SQL (x_mr_multikey's
    day-keyed events to match_recognize, the MAD and PQ staged CTEs as
    spark.sql frame parameters) register no view that outlives them."""
    from flink_1_11_1_spark.extensions import registry

    catalog.register(spark, SF_SMOKE)
    before = {t.name for t in spark.catalog.listTables()}
    assert registry.queries()[name](spark, SF_SMOKE).count() > 0
    assert {t.name for t in spark.catalog.listTables()} == before


def test_mr_factor_cte_source(spark):
    """Round-10 depth item: a same-statement CTE as the MATCH_RECOGNIZE
    factor's SOURCE (Calcite allows any table expression; the CTE — and
    chained predecessors — are evaluated out-of-line)."""
    from flink_1_11_1_spark.table_env import TableEnvironment

    tenv = TableEnvironment(spark)
    spark.createDataFrame(
        [(1, 0, "click", 1), (1, 10, "purchase", 2),
         (2, 0, "click", 3), (2, 10, "view", 4)],
        "user_id long, ts_ms long, event_type string, event_id long",
    ).selectExpr(
        "user_id", "timestamp_millis(ts_ms) AS ts", "event_type", "event_id"
    ).createOrReplaceTempView("mrc_ev")
    mr = """MATCH_RECOGNIZE (
      PARTITION BY user_id ORDER BY ts, event_id
      MEASURES LAST(A.event_id) AS a_id, LAST(B.event_id) AS b_id
      ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A B)
      DEFINE A AS A.event_type = 'click', B AS B.event_type = 'purchase'
    )"""
    try:
        # single CTE source
        rows = tenv.execute_sql(
            f"""WITH ev AS (SELECT * FROM mrc_ev WHERE user_id = 1)
            SELECT m.a_id, m.b_id FROM ev {mr} AS m"""
        ).collect()
        assert [(r.a_id, r.b_id) for r in rows] == [(1, 2)]
        # chained CTEs: the factor's CTE references an earlier one
        rows = tenv.execute_sql(
            f"""WITH base AS (SELECT * FROM mrc_ev),
            ev AS (SELECT * FROM base WHERE user_id = 1)
            SELECT m.a_id FROM ev {mr} AS m"""
        ).collect()
        assert [r.a_id for r in rows] == [1]
        # parenthesized subquery still raises (documented delta)
        with pytest.raises(ValueError, match="named table/view"):
            tenv.execute_sql(
                f"SELECT * FROM (SELECT * FROM mrc_ev) {mr}")
    finally:
        spark.catalog.dropTempView("mrc_ev")


def test_multi_insert_unaliased_computed_source_qualifies(spark, tmp_path):
    """ADVICE r9: a computed multi-INSERT source written WITHOUT an
    alias still resolves base-qualified column references (the
    checkpoint view is spliced aliased to the source's simple name)."""
    from flink_1_11_1_spark.table_env import TableEnvironment

    tenv = TableEnvironment(spark)
    spark.range(8).selectExpr("id", "id * 2 AS v").createOrReplaceTempView(
        "mi_q_src0")
    tenv.execute_sql(
        "CREATE VIEW mi_q_src AS SELECT DISTINCT id, v FROM mi_q_src0")
    tenv.execute_sql(f"""CREATE TABLE mi_q_hi (id BIGINT) WITH (
      'connector'='filesystem','path'='{tmp_path}/qhi','format'='parquet')""")
    tenv.execute_sql(f"""CREATE TABLE mi_q_lo (v BIGINT) WITH (
      'connector'='filesystem','path'='{tmp_path}/qlo','format'='parquet')""")
    tenv.execute_sql("""
      FROM mi_q_src
      INSERT OVERWRITE TABLE mi_q_hi
        SELECT mi_q_src.id WHERE mi_q_src.id >= 6
      INSERT INTO mi_q_lo
        SELECT mi_q_src.v WHERE mi_q_src.id < 2
    """)
    assert sorted(
        r.id for r in spark.read.parquet(f"{tmp_path}/qhi").collect()
    ) == [6, 7]
    assert sorted(
        r.v for r in spark.read.parquet(f"{tmp_path}/qlo").collect()
    ) == [0, 2]
    for t in ("mi_q_hi", "mi_q_lo"):
        tenv.execute_sql(f"DROP TABLE {t}")
    spark.catalog.dropTempView("mi_q_src")


# ---------------- round-10 second-continuation review findings --------


def test_fromlist_comma_rewrite_is_paren_depth_aware(spark, tmp_path):
    """A column named like a registered table inside a subquery (or call
    argument list) that sits within a FROM-list span must NOT rewrite
    to the catalog view alias — only depth-0 commas separate tables."""
    from flink_1_11_1_spark.table_env import TableEnvironment

    tenv = TableEnvironment(spark)
    p = str(tmp_path / "fl_orders")
    spark.range(9).selectExpr("id", "id * 3 AS v").write.parquet(p)
    tenv.execute_sql("CREATE CATALOG flc WITH ('type'='generic_in_memory')")
    tenv.execute_sql("CREATE DATABASE flc.db1")
    tenv.execute_sql(f"""CREATE TABLE flc.db1.orders (id BIGINT, v BIGINT)
        WITH ('connector'='filesystem','path'='{p}','format'='parquet')""")
    tenv.execute_sql("USE CATALOG flc")
    tenv.execute_sql("USE db1")
    try:
        spark.range(3).selectExpr(
            "id", "id AS orders", "id AS x").createOrReplaceTempView("fl_other")
        spark.range(3).createOrReplaceTempView("fl_t1")
        # inner select-list comma is at depth 1: `orders` is a COLUMN
        n = tenv.execute_sql(
            "SELECT count(*) AS n FROM fl_t1, "
            "(SELECT x, orders FROM fl_other) sub").collect()[0].n
        assert n == 9
        # depth-0 FROM-list member still rewrites to the declared table
        n2 = tenv.execute_sql(
            "SELECT count(*) AS n FROM fl_t1, orders").collect()[0].n
        assert n2 == 27
    finally:
        tenv.execute_sql("USE CATALOG default_catalog")
        tenv.execute_sql("DROP TABLE flc.db1.orders")
        spark.catalog.dropTempView("fl_other")
        spark.catalog.dropTempView("fl_t1")


def test_restore_view_replays_mr_factor_view(spark):
    """CREATE VIEW over a MATCH_RECOGNIZE factor stores the
    PRE-expansion text; restore_view (the execute_script multi-sink
    cleanup path) must re-expand instead of referencing the dropped
    __mr_factor_N view."""
    from flink_1_11_1_spark.table_env import TableEnvironment

    tenv = TableEnvironment(spark)
    catalog.register(spark, SF_SMOKE, force=True)
    tenv.execute_sql("""
      CREATE VIEW mrv_restore AS
      SELECT user_id, n FROM events MATCH_RECOGNIZE (
        PARTITION BY user_id ORDER BY ts
        MEASURES count(A.*) AS n
        PATTERN (A{1})
        DEFINE A AS A.event_type = 'view'
      )""")
    try:
        before = tenv.ddl.spark.table("mrv_restore").count()
        # simulate the script-scoped checkpoint + restore cycle
        tenv.ddl.checkpoint_view("mrv_restore", sinks=2)
        tenv.ddl.restore_view("mrv_restore")
        after = spark.table("mrv_restore").count()
        assert after == before and after > 0
        # no leaked factor views either way
        names = [t.name for t in spark.catalog.listTables()]
        assert not any(n.startswith("__mr_factor_") for n in names)
    finally:
        tenv.execute_sql("DROP VIEW mrv_restore")


def test_mr_factor_cte_source_is_case_insensitive(spark):
    """A factor written SRC must find the CTE declared src (SQL
    identifiers are case-insensitive)."""
    from flink_1_11_1_spark.table_env import TableEnvironment

    tenv = TableEnvironment(spark)
    catalog.register(spark, SF_SMOKE, force=True)
    out = tenv.execute_sql("""
      WITH src AS (SELECT * FROM events WHERE event_type = 'view')
      SELECT count(*) AS n FROM SRC MATCH_RECOGNIZE (
        PARTITION BY user_id ORDER BY ts
        MEASURES count(A.*) AS cnt
        PATTERN (A{1})
        DEFINE A AS A.event_type = 'view'
      )""").collect()
    assert out[0].n > 0


def test_create_function_java_strip_tolerates_trailing_comment(spark):
    """The LANGUAGE JAVA strip must fire with a trailing '--' comment
    (the CREATE FUNCTION regex admits one) — no ParseException."""
    from pyspark.errors import AnalysisException

    from flink_1_11_1_spark.table_env import TableEnvironment

    tenv = TableEnvironment(spark)
    tenv.execute_sql(
        "CREATE TEMPORARY FUNCTION j_cmt AS "
        "'org.apache.hadoop.hive.ql.udf.generic.GenericUDFUpper' "
        "LANGUAGE JAVA -- loaded from classpath"
    )
    with pytest.raises(AnalysisException, match="GenericUDFUpper"):
        spark.sql("SELECT j_cmt('ab') v").collect()
    tenv.execute_sql("DROP TEMPORARY FUNCTION j_cmt")


def test_group_window_malformed_interval_raises_valueerror(spark):
    """Decimal.InvalidOperation from a malformed interval value must
    surface as the contextualized ValueError, not an ArithmeticError."""
    from flink_1_11_1_spark.group_windows import rewrite_group_windows

    with pytest.raises(ValueError, match="INTERVAL literal"):
        rewrite_group_windows(
            "SELECT count(*) FROM t GROUP BY TUMBLE(ts, INTERVAL '1 2' HOUR)")
    with pytest.raises(ValueError, match="does not match"):
        rewrite_group_windows(
            "SELECT count(*) FROM t "
            "GROUP BY TUMBLE(ts, INTERVAL '1:xx' HOUR TO SECOND)")


def test_group_window_auxiliary_mismatch_raises(spark):
    """Flink rejects an auxiliary whose arguments differ from the GROUP
    BY window declaration; the rewrite must too instead of silently
    emitting the declared window's bounds."""
    from flink_1_11_1_spark.group_windows import rewrite_group_windows

    with pytest.raises(ValueError, match="does not match any GROUP BY"):
        rewrite_group_windows(
            "SELECT TUMBLE_START(ts, INTERVAL '2' HOUR) AS s, count(*) "
            "FROM t GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)")
    # matching auxiliary (case/whitespace-insensitive) still rewrites
    out = rewrite_group_windows(
        "SELECT tumble_start(ts,  INTERVAL '1' HOUR) AS s, count(*) "
        "FROM t GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)")
    assert "window.start" in out and "TUMBLE" not in out


# ---------------- round-10 advisor findings (ADVICE.md r10) -----------


def test_fromlist_rewrite_reaches_nested_fromlist(spark, tmp_path):
    """ADVICE r10 (medium): FROM-list spans NEST — a declared-table
    comma member inside a derived table (``FROM t1, (SELECT ... FROM a,
    orders) sub``) sits at depth 1 of the OUTER span but depth 0 of the
    inner FROM's own span, and must still rewrite to its alias view."""
    from flink_1_11_1_spark.table_env import TableEnvironment

    tenv = TableEnvironment(spark)
    p = str(tmp_path / "nfl_orders")
    spark.range(4).selectExpr("id", "id * 3 AS v").write.parquet(p)
    tenv.execute_sql("CREATE CATALOG nflc WITH ('type'='generic_in_memory')")
    tenv.execute_sql("CREATE DATABASE nflc.db1")
    tenv.execute_sql(f"""CREATE TABLE nflc.db1.orders (id BIGINT, v BIGINT)
        WITH ('connector'='filesystem','path'='{p}','format'='parquet')""")
    tenv.execute_sql("USE CATALOG nflc")
    tenv.execute_sql("USE db1")
    try:
        spark.range(2).selectExpr("id AS aid").createOrReplaceTempView("nfl_a")
        spark.range(3).createOrReplaceTempView("nfl_t1")
        n = tenv.execute_sql(
            "SELECT count(*) AS n FROM nfl_t1, "
            "(SELECT aid, v FROM nfl_a, orders "
            "WHERE id = aid) sub").collect()[0].n
        assert n == 6  # 3 outer x (2 inner-join rows) — orders resolved
    finally:
        tenv.execute_sql("USE CATALOG default_catalog")
        tenv.execute_sql("DROP TABLE nflc.db1.orders")
        spark.catalog.dropTempView("nfl_a")
        spark.catalog.dropTempView("nfl_t1")


def test_fromlist_depth_scan_skips_comment_parens(spark, tmp_path):
    """ADVICE r10 (low): an unbalanced paren inside a comment within a
    FROM list must not skew the depth scan that gates the comma-member
    rewrite."""
    from flink_1_11_1_spark.table_env import TableEnvironment

    tenv = TableEnvironment(spark)
    p = str(tmp_path / "cfl_orders")
    spark.range(5).selectExpr("id").write.parquet(p)
    tenv.execute_sql("CREATE CATALOG cflc WITH ('type'='generic_in_memory')")
    tenv.execute_sql("CREATE DATABASE cflc.db1")
    tenv.execute_sql(f"""CREATE TABLE cflc.db1.orders (id BIGINT)
        WITH ('connector'='filesystem','path'='{p}','format'='parquet')""")
    tenv.execute_sql("USE CATALOG cflc")
    tenv.execute_sql("USE db1")
    try:
        spark.range(2).createOrReplaceTempView("cfl_t1")
        n = tenv.execute_sql(
            "SELECT count(*) AS n FROM cfl_t1 /* note ) stray */, orders"
        ).collect()[0].n
        assert n == 10
    finally:
        tenv.execute_sql("USE CATALOG default_catalog")
        tenv.execute_sql("DROP TABLE cflc.db1.orders")
        spark.catalog.dropTempView("cfl_t1")


def test_group_window_auxiliary_accepts_qualified_time_attr():
    """ADVICE r10 (low): Flink compares RESOLVED expressions, so an
    auxiliary that qualifies the time attribute (``TUMBLE_START(t.ts,
    ...)``) matches a bare ``GROUP BY TUMBLE(ts, ...)`` declaration —
    and vice versa, including backticks."""
    from flink_1_11_1_spark.group_windows import rewrite_group_windows

    out = rewrite_group_windows(
        "SELECT TUMBLE_START(t.ts, INTERVAL '1' HOUR) AS s, count(*) "
        "FROM ev t GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)")
    assert "window.start" in out and "TUMBLE" not in out
    out2 = rewrite_group_windows(
        "SELECT TUMBLE_START(`ts`, INTERVAL '1' HOUR) AS s, count(*) "
        "FROM ev t GROUP BY TUMBLE(t.`ts`, INTERVAL '1' HOUR)")
    assert "window.start" in out2 and "TUMBLE" not in out2
    # a genuinely different time attribute still raises
    with pytest.raises(ValueError, match="does not match any GROUP BY"):
        rewrite_group_windows(
            "SELECT TUMBLE_START(other, INTERVAL '1' HOUR) AS s, count(*) "
            "FROM ev t GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)")


# ---------------- round-11 review findings (all fixed same-session) ---


def test_unbounded_quantified_final_min2_is_greedy(spark):
    """Review finding 1: the deterministic fold truncated B{2,} at its
    min instead of extending greedily (the mn fallback of done_at)."""
    import datetime as dt2

    from flink_1_11_1_spark.streaming import nfa

    p = (nfa.PatternSeq.begin("A", "event_type = 'view'")
         .next_("B", "event_type = 'click'").times_or_more(2).consecutive()
         .within("2 days"))
    base = dt2.datetime(2026, 1, 1)
    rows = [(i, base + dt2.timedelta(minutes=i), 1, t, 1.0)
            for i, t in enumerate(
                ["view", "click", "click", "click", "click"])]
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double")
    got = [(tuple(r.labels), tuple(r.ids))
           for r in p.match_batch(ev, lowering=False).collect()]
    assert got == [(("A", "B", "B", "B", "B"), (0, 1, 2, 3, 4))]
    # branching fold agrees
    p2 = (nfa.PatternSeq.begin("A", "event_type = 'view'")
          .next_("B", "event_type = 'click'").times_or_more(2).consecutive()
          .with_backtracking().within("2 days"))
    got2 = [(tuple(r.labels), tuple(r.ids))
            for r in p2.match_batch(ev, lowering=False).collect()]
    assert got2 == got


def test_running_over_date_and_null_timestamp_columns(spark, tmp_path):
    """Review finding 2: a buffered DATE column / NULL timestamp must
    survive the JSON state round-trip (json.dumps crashed on
    datetime.date and pd.NaT)."""
    from pyspark.sql import functions as F

    from flink_1_11_1_spark.streaming import over, replay

    d = str(tmp_path / "rp_date")
    replay.write_replay(spark, SF_SMOKE, d, parts=3)
    stream = (replay.events_stream(spark, d)
              .select("user_id", "event_id", "ts", "value")
              .withColumn("d", F.to_date("ts"))
              .withColumn("maybe_ts",
                          F.when(F.col("event_id") % 3 == 0, F.col("ts"))))
    out = over.running_over(
        stream, ["user_id"], "ts", [("sum", "value", "rs")],
        ("rows", None))
    got, _ = replay.run_stream(out, "append", "ro_date")
    real = [r for r in got if r.user_id >= 0]
    assert len(real) > 0
    assert all(r.d is not None for r in real)
    assert any(r.maybe_ts is None for r in real)
    assert any(r.maybe_ts is not None for r in real)


def test_over_in_string_literal_does_not_route(spark, tmp_path):
    """Review finding 3: a streaming SELECT whose string literal
    contains 'OVER (' must pass through untouched (quote-aware
    detection)."""
    from flink_1_11_1_spark.streaming import replay
    from flink_1_11_1_spark.table_env import TableEnvironment

    tenv = TableEnvironment(spark)
    d = str(tmp_path / "rp_lit")
    replay.write_replay(spark, SF_SMOKE, d, parts=3)
    stream = replay.events_stream(spark, d).select("user_id", "ts")
    stream.createOrReplaceTempView("so_lit")
    out = tenv.execute_sql(
        "SELECT user_id, concat('x', ' OVER (late)') AS msg FROM so_lit")
    assert out.isStreaming and "msg" in out.columns


def test_streaming_topn_custom_rank_alias(spark, tmp_path):
    """Review finding 5: the user's ROW_NUMBER alias is the rank
    column's name end-to-end (snapshot selectExpr must resolve it)."""
    from pyspark.sql import functions as F

    from flink_1_11_1_spark import catalog as _catalog
    from flink_1_11_1_spark.operators.rank import top_n
    from flink_1_11_1_spark.streaming import replay
    from flink_1_11_1_spark.streaming.sql_over import StreamingTopN
    from flink_1_11_1_spark.table_env import TableEnvironment

    tenv = TableEnvironment(spark)
    d = str(tmp_path / "rp_rnk")
    replay.write_replay(spark, SF_SMOKE, d, parts=3)
    stream = replay.events_stream(spark, d, watermark=None).where(
        "user_id >= 0")
    stream.createOrReplaceTempView("so_rnk")
    h = tenv.execute_sql(
        "SELECT user_id, total, rnk FROM (SELECT user_id, "
        "sum(value) AS total, ROW_NUMBER() OVER (ORDER BY sum(value) DESC) "
        "AS rnk FROM so_rnk GROUP BY user_id) t WHERE rnk <= 3")
    assert isinstance(h, StreamingTopN) and h.rank_col == "rnk"
    q = h.start(str(tmp_path / "rnk_rec"),
                checkpoint_dir=str(tmp_path / "rnk_ckpt"))
    q.processAllAvailable()
    q.stop()
    got = sorted((r.user_id, round(r.total, 6), r.rnk)
                 for r in h.snapshot(spark).collect())
    ev = _catalog.load_table(spark, SF_SMOKE, "events").where("user_id >= 0")
    want = top_n(ev.groupBy("user_id").agg(F.sum("value").alias("total")),
                 [], [F.col("total").desc()], 3, rank_col="rnk")
    assert got == sorted(
        (r.user_id, round(r.total, 6), r.rnk) for r in want.collect())


def test_streaming_topn_inner_aggregate_behind_view(spark, tmp_path):
    """Review finding 6: the inner is classified from its ANALYZED PLAN
    — an aggregate hidden behind a view must route, not raise."""
    from flink_1_11_1_spark.streaming import replay
    from flink_1_11_1_spark.streaming.sql_over import StreamingTopN
    from flink_1_11_1_spark.table_env import TableEnvironment

    tenv = TableEnvironment(spark)
    d = str(tmp_path / "rp_vw")
    replay.write_replay(spark, SF_SMOKE, d, parts=3)
    stream = replay.events_stream(spark, d, watermark=None).where(
        "user_id >= 0")
    stream.createOrReplaceTempView("so_vw_src")
    spark.sql(
        "SELECT user_id, sum(value) AS total FROM so_vw_src GROUP BY user_id"
    ).createOrReplaceTempView("so_vw_agg")
    try:
        h = tenv.execute_sql(
            "SELECT user_id, total, rn FROM (SELECT user_id, total, "
            "ROW_NUMBER() OVER (ORDER BY total DESC) AS rn FROM so_vw_agg) "
            "WHERE rn <= 3")
        assert isinstance(h, StreamingTopN)
    finally:
        spark.catalog.dropTempView("so_vw_agg")


def test_group_window_auxiliary_qualifier_mismatch_raises():
    """Review finding 7: two DIFFERENT qualifiers on the same column
    name must NOT match (only unqualified-vs-qualified is resolution-
    equivalent)."""
    import pytest as _pytest

    from flink_1_11_1_spark.group_windows import rewrite_group_windows

    with _pytest.raises(ValueError, match="does not match any GROUP BY"):
        rewrite_group_windows(
            "SELECT TUMBLE_START(a.ts, INTERVAL '1' HOUR) s, count(*) "
            "FROM a JOIN b ON a.k = b.k "
            "GROUP BY TUMBLE(b.ts, INTERVAL '1' HOUR)")
    # unqualified-vs-qualified still matches (the advice-fix behavior)
    out = rewrite_group_windows(
        "SELECT TUMBLE_START(t.ts, INTERVAL '1' HOUR) s, count(*) "
        "FROM ev t GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)")
    assert "window.start" in out

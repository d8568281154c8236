"""TableEnvironment façade + declarative table specs (SURVEY.md §4).

Reference parity:
- ``TableEnvironment`` (flink-table-api-java api/TableEnvironment.java,
  FLIP-84 ``executeSql``/``TableResult``): the single entry object users
  hold.  Here it wraps a SparkSession — ``execute_sql`` IS ``spark.sql``
  plus the engine's function registrations and catalog bootstrap; the
  fluent Table API is ``table_api.Table`` — a thin façade whose calls
  delegate 1:1 to DataFrame ops (SURVEY.md §4.2: Spark's DataFrame
  *is* that layer); Flink expression strings are parsed by
  ``expr.ExprParser``.
- ``TableSpec`` mirrors Flink DDL ``CREATE TABLE`` surface the SQL
  parser stores in TableSchema: declared physical columns, COMPUTED
  COLUMNS (``c AS expr``), and a WATERMARK spec
  (``WATERMARK FOR ts AS ts - INTERVAL 'x'``).  ``load``/``stream``
  apply computed columns as a projection fused into the scan;
  ``stream`` additionally wires ``withWatermark`` — exactly how the
  reference's StreamExecTableSourceScan applies both after the scan.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import catalog as _catalog
from . import functions as _functions
from .session import configure, get_spark
from .sql_lex import lex


@dataclass
class TableSpec:
    """Declarative source table: path + format + computed columns +
    watermark (the Flink DDL triple Spark has no single home for)."""

    path: str
    fmt: str = "parquet"
    computed: dict[str, str] = field(default_factory=dict)  # name -> SQL expr
    watermark_col: str | None = None
    watermark_delay: str | None = None  # e.g. "10 minutes"
    schema: str | None = None  # DDL string, required for csv/json
    stream_options: dict = field(default_factory=dict)  # readStream options

    def _apply_computed(self, df: DataFrame) -> DataFrame:
        for name, expr in self.computed.items():
            df = df.withColumn(name, F.expr(expr))
        return df

    def load(self, spark: SparkSession) -> DataFrame:
        """Batch scan with computed columns projected."""
        configure(spark)
        r = spark.read.format(self.fmt)
        if self.fmt == "csv":
            r = r.option("header", True)  # engine convention (sources.files)
        if self.schema:
            r = r.schema(self.schema)
        return self._apply_computed(r.load(self.path))

    def stream(self, spark: SparkSession) -> DataFrame:
        """Streaming scan: computed columns + watermark applied
        (StreamExecTableSourceScan + StreamExecWatermarkAssigner)."""
        configure(spark)
        r = spark.readStream.format(self.fmt)
        if self.fmt == "csv":
            r = r.option("header", True)
        for k, v in self.stream_options.items():
            r = r.option(k, v)
        schema = self.schema or spark.read.format(self.fmt).load(self.path).schema
        df = self._apply_computed(r.schema(schema).load(self.path))
        if self.watermark_col and self.watermark_delay:
            df = df.withWatermark(self.watermark_col, self.watermark_delay)
        return df


def events_spec(sf_dir: str, watermark_delay: str = "10 minutes") -> TableSpec:
    """The canonical events table as a DDL spec: the ms-floored timestamp
    is a computed column, the watermark rides on it (FIXTURES.md).  The
    computed expr adapts to the parquet physical encoding (ns-as-long vs
    µs timestamp) by probing the file footer — no Spark session needed."""
    import pyarrow.parquet as pq

    path = f"{sf_dir}/events.parquet"
    phys = str(pq.read_schema(path).field("ts").type)
    # Spark under legacy.parquet.nanosAsLong=true reads BOTH a plain
    # INT64 column and an INT64 TIMESTAMP(NANOS) column (pyarrow:
    # "timestamp[ns]") as BIGINT nanos — either footer type must take
    # the ns-as-long branch.  Anything else (timestamp[us]/[ms]) is a
    # real Spark TimestampType.  catalog.ts_norm_sql branches on the
    # Spark-read LongType and is the authority; this probe mirrors it
    # for the session-free DDL path.
    expr = (
        "timestamp_millis(ts div 1000000)"
        if phys == "int64" or phys.startswith("timestamp[ns")
        else "date_trunc('MILLISECOND', cast(ts as timestamp))"
    )
    return TableSpec(
        path=path,
        computed={"ts": expr},
        watermark_col="ts",
        watermark_delay=watermark_delay,
    )


def events_ddl(sf_dir: str, name: str = "events_ddl",
               watermark_delay: str = "10 minutes") -> str:
    """The canonical events table as Flink DDL TEXT for the ddl.py front
    door — same encoding-adaptive computed ``ts`` as ``events_spec``
    (the driver has shipped events.parquet as both INT64 nanos and
    TIMESTAMP(MICROS); reading it with a naive declared schema is the
    round-3 trap, so the DDL route bakes the probe result in too).

    Convention: the computed column SHADOWS the physical ``ts`` (the
    parquet column keeps its name, the projection replaces it in
    place) — exactly how ``TableSpec.computed`` normalizes it; Flink
    proper would need a rename, Spark's withColumn replaces."""
    spec = events_spec(sf_dir, watermark_delay)
    ts_expr = spec.computed["ts"]
    raw_type = "BIGINT" if "div" in ts_expr else "TIMESTAMP(3)"
    n, unit = watermark_delay.split()
    return f"""
        CREATE TABLE {name} (
          event_id BIGINT, ts {raw_type}, user_id BIGINT,
          event_type STRING, value DOUBLE, props STRING,
          ts AS {ts_expr},
          WATERMARK FOR ts AS ts - INTERVAL '{n}' {unit.rstrip('s').upper()}
        ) WITH ('connector' = 'filesystem',
                'path' = '{sf_dir}/events.parquet', 'format' = 'parquet')
    """


class EnvironmentSettings:
    """PyFlink ``EnvironmentSettings`` shim: the builder shape parses,
    the mode is advisory (Spark's engine is unified — batch reads and
    streaming reads share one session; ``readStream`` vs ``read``
    decides boundedness per source, not a session-wide planner)."""

    def __init__(self, streaming: bool = True):
        self.streaming = streaming

    @classmethod
    def new_instance(cls) -> "EnvironmentSettings.Builder":
        return EnvironmentSettings.Builder()

    class Builder:
        def __init__(self):
            self._streaming = True

        def in_streaming_mode(self) -> "EnvironmentSettings.Builder":
            self._streaming = True
            return self

        def in_batch_mode(self) -> "EnvironmentSettings.Builder":
            self._streaming = False
            return self

        def use_blink_planner(self) -> "EnvironmentSettings.Builder":
            return self  # the only planner here IS Catalyst

        def build(self) -> "EnvironmentSettings":
            return EnvironmentSettings(self._streaming)


class TableEnvironment:
    """The engine's front door (Flink ``TableEnvironment`` shape)."""

    def __init__(self, spark: SparkSession):
        from .ddl import DdlCatalog

        self.spark = configure(spark)
        _functions.register_flink_functions(self.spark)
        self.ddl = DdlCatalog(self.spark)

    @classmethod
    def create(cls, settings=None, master: str | None = None,
               environment_settings=None) -> TableEnvironment:
        """Accepts an ``EnvironmentSettings``, a
        ``StreamExecutionEnvironment`` (PyFlink
        ``StreamTableEnvironment.create(env)`` — shares its session),
        or a Spark master string (engine-native shape)."""
        from .datastream import StreamExecutionEnvironment

        if isinstance(settings, StreamExecutionEnvironment):
            return cls(settings.spark)
        if isinstance(settings, str) and master is None:
            master = settings
        return cls(get_spark(master=master))

    # -- DataStream bridge (PyFlink StreamTableEnvironment) ------------

    def from_data_stream(self, ds):
        """``StreamTableEnvironment.from_data_stream``: wrap a
        DataStream's rows as a Table."""
        from .table_api import Table

        return Table(ds.df, tenv=self)

    def to_retract_stream(self, table, keys, workdir: str,
                          checkpoint: str | None = None):
        """``StreamTableEnvironment.toRetractStream`` parity.

        Streaming (update-mode) Table: starts the foreachBatch query
        rendering boolean-tagged records via
        ``streaming/changelog.RetractStreamWriter`` (retract-before-
        add, executor-side); returns the StreamingQuery — read the
        stream with ``read_retracts`` / reconstruct with
        ``fold_retracts``.  Bounded Table: returns the ``(add, …)``
        DataFrame directly — a bounded table's retract stream is
        all-adds (Flink's bounded case)."""
        from pyspark.sql import functions as _F

        from .streaming.changelog import RetractStreamWriter

        df = table.df
        if not df.isStreaming:
            return df.select(_F.lit(True).alias("add"), "*")
        writer = RetractStreamWriter(list(keys), workdir)
        # complete mode: the writer's contract is a full snapshot per
        # trigger (it renders the retract pairs from the snapshot DIFF
        # executor-side) — update mode would hand it partial tables
        return (df.writeStream.outputMode("complete")
                .foreachBatch(writer)
                .option("checkpointLocation",
                        checkpoint or f"{workdir}/__ckpt")
                .start())

    def to_append_stream(self, table):
        """``to_append_stream``: a Table's rows as a DataStream (valid
        for append-only results — Spark raises at execution on
        update-mode streaming plans, same constraint Flink enforces
        at translation).  The retract twin is
        ``streaming/changelog.RetractStreamWriter`` (+ ``read_retracts``
        / ``fold_retracts``)."""
        from .datastream import DataStream, StreamExecutionEnvironment

        return DataStream(table.df,
                          StreamExecutionEnvironment(self.spark))

    # -- catalog -------------------------------------------------------

    def register_fixture_catalog(self, sf_dir: str) -> None:
        _catalog.register(self.spark, sf_dir)

    def create_temporary_view(self, name: str, df: DataFrame) -> None:
        df.createOrReplaceTempView(name)

    def create_table(self, name: str, spec: TableSpec) -> None:
        spec.load(self.spark).createOrReplaceTempView(name)

    def from_path(self, name: str):
        """Table API entry (PyFlink ``t_env.from_path``): returns a
        fluent ``table_api.Table`` accepting Flink expression strings
        (``.select("a, b.sum as total")``); its ``.df`` is the
        underlying Spark DataFrame for direct DataFrame-API use."""
        from .table_api import Table

        return Table(self.spark.table(name), tenv=self)

    scan = from_path  # Flink 1.11's deprecated-but-present name

    def from_elements(self, elements, schema=None):
        """PyFlink ``from_elements``: an inline VALUES table."""
        from .table_api import Table

        df = self.spark.createDataFrame(elements, schema=schema)
        return Table(df, tenv=self)

    def from_dataframe(self, df: DataFrame):
        """Engine-native bridge: wrap an existing DataFrame as a Table."""
        from .table_api import Table

        return Table(df, tenv=self)

    def register_function(self, name: str, f) -> None:
        """PyFlink ``t_env.register_function``: a ``udf.udf``/``udtf``
        wrapper, or any plain Python callable + the wrapper types from
        ``flink_1_11_1_spark.udf``.  Registered names are callable
        from SQL and from Table API expression strings."""
        from .udf import UserDefinedFunction, UserDefinedTableFunction

        if isinstance(f, (UserDefinedFunction, UserDefinedTableFunction)):
            f.register(self.spark, name)
        else:
            self.spark.udf.register(name, f)

    create_temporary_function = register_function
    create_temporary_system_function = register_function

    # -- configuration -------------------------------------------------

    def get_config(self) -> "TableConfig":
        """PyFlink ``t_env.get_config()``: the returned object's
        ``get_configuration().set_string(k, v)`` maps Flink keys to
        their Spark twins through the same ``_FLINK_CONF_MAP`` the
        sql-client ``SET`` statement uses."""
        return TableConfig(self)

    # -- execution -----------------------------------------------------

    def sql_update(self, sql: str) -> None:
        """Flink 1.11's deprecated-but-present ``sqlUpdate``: DDL and
        INSERT statements (delta: runs eagerly — Spark actions execute
        per sink; Flink buffers until ``env.execute()``, which is a
        no-op here)."""
        self.execute_sql(sql)

    def execute_sql(self, sql: str) -> DataFrame | None:
        """FLIP-84 executeSql: Flink DDL statements (CREATE TABLE ...
        WITH, CREATE VIEW, DROP, INSERT INTO a declared sink) are
        routed through the DDL catalog (``ddl.py``); everything else is
        parsed/planned/executed by Catalyst directly."""
        return self.ddl.execute(sql)

    sql_query = execute_sql

    def execute_environment_file(self, path: str) -> list[str]:
        """Bootstrap a session from a Flink sql-client YAML environment
        file (flink-table/flink-sql-client
        conf/sql-client-defaults.yaml; Environment.java parses the
        same sections).  Supported sections:

        - ``configuration:`` — each key SET as a session property
        - ``catalogs:`` — ``name`` + ``type: generic_in_memory``
          (CREATE CATALOG); other types error loudly
        - ``tables:`` — ``type: source-table``/``source`` entries with
          ``connector.type: filesystem``, ``connector.path``,
          ``format.type`` and a ``schema:`` list of
          ``{name, data-type}`` — synthesized into the CREATE TABLE
          DDL front door (same code path as typed DDL)

        ``functions:`` entries (Java class UDFs) have no Python-side
        equivalent and raise — a loud delta, not a silent skip.
        Returns the executed statements (for tests/diagnostics)."""
        try:
            import yaml
        except ImportError as ex:  # pragma: no cover - baked-in here
            raise RuntimeError(
                "environment files need PyYAML (pip install pyyaml)"
            ) from ex
        with open(path) as fh:
            env = yaml.safe_load(fh) or {}
        # Validate EVERY section before executing ANY statement — a file
        # rejected halfway (e.g. a functions: section after valid
        # configuration keys) must not leave the session partially
        # bootstrapped.
        if env.get("functions"):
            names = [f.get("name") for f in env["functions"]]
            raise ValueError(
                f"environment functions {names} declare Java/Scala "
                "classes — register Python UDFs via "
                "register_function() instead (documented delta)")
        for t in env.get("tables") or []:
            ttype = t.get("type", "source-table")
            if ttype not in ("source-table", "source", "both"):
                raise ValueError(
                    f"table {t.get('name')}: unsupported type {ttype!r}")
            conn = t.get("connector") or {}
            if conn.get("type") != "filesystem":
                raise ValueError(
                    f"table {t.get('name')}: only filesystem connector "
                    f"entries are supported (got {conn.get('type')!r})")
        ran: list[str] = []
        for k, v in (env.get("configuration") or {}).items():
            stmt = f"SET '{k}' = '{v}'"
            self.execute_sql(stmt)
            ran.append(stmt)
        for c in env.get("catalogs") or []:
            ctype = c.get("type", "generic_in_memory")
            stmt = (f"CREATE CATALOG {c['name']} WITH "
                    f"('type'='{ctype}')")
            self.execute_sql(stmt)
            ran.append(stmt)
        for t in env.get("tables") or []:
            conn = t.get("connector") or {}
            fmt = (t.get("format") or {}).get("type", "parquet")
            cols = ", ".join(
                f"{c['name']} {c.get('data-type', c.get('type', 'STRING'))}"
                for c in t.get("schema") or []
            )
            stmt = (
                f"CREATE TABLE {t['name']} ({cols}) WITH ("
                f"'connector'='filesystem', "
                f"'path'='{conn['path']}', 'format'='{fmt}')"
            )
            self.execute_sql(stmt)
            ran.append(stmt)
        return ran

    def stream_table(self, name: str) -> DataFrame:
        """Streaming scan of a DDL-declared table (computed columns +
        watermark applied after the native readStream scan)."""
        return self.ddl.stream_table(name)

    def create_temporal_table_function(
        self, history: DataFrame, time_attr: str, primary_key: str | list[str]
    ):
        """``Table.createTemporalTableFunction(timeAttribute, primaryKey)``
        (Flink 1.11 flink-table-api-java ``table/Table.java`` — the
        Table-API front door to the temporal join, used as
        ``LATERAL TABLE (rates(o.rowtime))``).

        Returns a callable ``f(probe, probe_time_attr)``: for each probe
        row, the history version with the greatest
        ``time_attr <= probe.probe_time_attr`` per key — delegated to
        the batch as-of join (one keyed shuffle, no broadcast of the
        history side).  The streaming twin is
        ``streaming.temporal.streaming_temporal_rowtime_join``.
        """
        from .operators.joins import asof_join

        keys = [primary_key] if isinstance(primary_key, str) else list(primary_key)
        right_cols = [
            c for c in history.columns if c not in keys and c != time_attr
        ]

        def apply(probe: DataFrame, probe_time_attr: str) -> DataFrame:
            return asof_join(
                probe, history, on=keys,
                left_time=probe_time_attr, right_time=time_attr,
                right_cols=right_cols, how="inner",
            )

        return apply

    def create_statement_set(self) -> StatementSet:
        """FLIP-84 ``StatementSet``: buffer INSERT statements, run them
        together on ``execute()`` (Flink optimizes multi-sink DAGs
        jointly; Spark's equivalent leverage is one shared session —
        scans cached by the first INSERT serve the rest)."""
        return StatementSet(self)

    def execute_script(self, script: str) -> DataFrame | None:
        """Run a ``;``-separated Flink SQL script (the sql-client
        ``-f script.sql`` surface): statements execute in order through
        ``execute_sql``; the last statement's result (if any) is
        returned.  Statements are the top-level ``;`` split of the shared
        lexer (``sql_lex``), so a ``;`` inside a string literal, backtick
        identifier or comment does not end a statement; comments are
        dropped (sql-client convention), hints are kept.

        Dialect delta, deliberate and documented: the split treats a
        backslash before a quote as an escape UNCONDITIONALLY, because
        Spark's LEXER does — ``spark.sql.parser.escapedStringLiterals``
        only changes post-lex unescaping (verified: ``'a\\'b'`` lexes
        as ONE literal in both modes), so a literal ending in a lone
        backslash (legal in the Flink sql-client dialect, where
        backslash is an ordinary character) is not representable in ANY
        Spark mode — spell it ``'tail\\\\'``.  Splitting by the lexer's
        rule keeps the bracketing identical to what the downstream
        parser will see in both conf modes.  By the same lexer rule a
        ``--`` comment whose line ends in a backslash continues onto the
        next line (the sql-client ends it at the newline)."""
        stmts = lex(script).split(";")
        # Multi-sink common-subgraph reuse (Flink's
        # StreamCommonSubGraphBasedOptimizer, script-scoped): any view
        # referenced by >= 2 INSERT statements gets a LAZY
        # localCheckpoint registration so the first sink's action
        # materializes it once and later sinks scan the checkpointed
        # blocks — one source read feeding all sinks.  Restored to the
        # plain view afterwards (the reuse scope is the script, like
        # Flink's is the job).
        from .ddl import _CREATE_VIEW_RE, _strip_ticks

        shared, inscript = self.ddl.script_shared_views(stmts)
        self.ddl.last_script_reuse = {}
        checkpointed: list[str] = []
        for name, sinks in shared.items():
            if name not in inscript:  # already-registered view
                self.ddl.checkpoint_view(name, sinks)
                checkpointed.append(name)
        result: DataFrame | None = None
        try:
            for s in stmts:
                result = self.execute_sql(s)
                m = _CREATE_VIEW_RE.match(s.strip().rstrip(";").strip())
                if m and _strip_ticks(m.group(3)) in shared:
                    name = _strip_ticks(m.group(3))
                    self.ddl.checkpoint_view(name, shared[name])
                    checkpointed.append(name)
        finally:
            for name in checkpointed:
                self.ddl.restore_view(name)
        return result

    def explain_sql(self, sql: str) -> str:
        """``Table.explain()`` parity: the optimized logical and
        physical plan of a query as a string (Catalyst's rendering —
        the engine's equivalent of Flink's AST/logical/physical
        sections)."""
        df = self.execute_sql(sql)
        if df is None:
            raise ValueError("explain_sql needs a query, not a DDL statement")
        qe = df._jdf.queryExecution()
        return (
            "== Optimized Logical Plan ==\n"
            + qe.optimizedPlan().toString()
            + "\n== Physical Plan ==\n"
            + qe.executedPlan().toString()
        )


class TableConfig:
    """``pyflink.table.TableConfig`` shim (see
    ``TableEnvironment.get_config``)."""

    def __init__(self, tenv: TableEnvironment):
        self._tenv = tenv

    def get_configuration(self) -> "TableConfig":
        return self  # PyFlink nests Configuration inside TableConfig

    def set_string(self, key: str, value: str) -> "TableConfig":
        self._tenv.ddl._set_statement(key, value)
        return self

    def get_string(self, key: str, default: str | None = None) -> str | None:
        from .ddl import _FLINK_CONF_MAP

        return self._tenv.spark.conf.get(
            _FLINK_CONF_MAP.get(key, key), default)


class StatementSet:
    """Buffered multi-INSERT execution (TableEnvironment.createStatementSet
    in flink-table-api-java, FLIP-84)."""

    def __init__(self, tenv: TableEnvironment):
        self._tenv = tenv
        self._stmts: list[str] = []

    def add_insert_sql(self, sql: str) -> StatementSet:
        s = sql.strip().rstrip(";").strip()
        if not s.upper().startswith("INSERT"):
            raise ValueError(f"StatementSet accepts INSERT statements only: {s[:60]!r}")
        self._stmts.append(s)
        return self

    def execute(self) -> int:
        """Run all buffered INSERTs as ONE job; returns how many ran.

        Delegates to execute_script so the multi-sink common-subgraph
        reuse pass applies — a view feeding several buffered INSERTs is
        materialized once (Flink's StatementSet exists precisely to let
        StreamCommonSubGraphBasedOptimizer share subgraphs across the
        buffered sinks; this is that contract)."""
        n = len(self._stmts)
        if n:
            self._tenv.execute_script(";\n".join(self._stmts))
        self._stmts = []
        return n

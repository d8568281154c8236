"""The three workloads: their ops, inputs and reference checks.

An op is one call into the library's public surface, timed from the
call to the collected result.  ``module`` names the library module
that owns the runner; the traced run attributes layer numbers to it.
Batch results are checked against DuckDB runs of
``__spark_entry__.oracle_sql()`` (computed once per input set and
cached); streaming results against their batch twins.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time
from collections import Counter
from dataclasses import dataclass

import gen

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# sql_sf01: declared and extension SQL, sized so one pass fits the run
# budget on a 4-core host (about 9 s in a fresh process).
SQL_DECLARED = ["q01", "q03", "q13", "q14", "q20", "q22", "q34"]
SQL_EXTENSIONS = ["x_tpch_q1", "x_tpch_q19",
                  "x_sql_tumble", "x_sql_hop", "x_sql_session", "x_sql_lateral",
                  "x_tpcds_attr_filter"]
# filesystem-sink writes through TableEnvironment.execute_sql
INSERTS = {
    "insert_revenue": (
        "l_returnflag STRING, l_linestatus STRING, n BIGINT, rev DOUBLE",
        "SELECT l_returnflag, l_linestatus, count(*) AS n,"
        " sum(l_extendedprice * (1 - l_discount)) AS rev"
        " FROM lineitem GROUP BY l_returnflag, l_linestatus"),
    "insert_segments": (
        "c_mktsegment STRING, n BIGINT",
        "SELECT c_mktsegment, count(*) AS n FROM customer"
        " JOIN orders ON c_custkey = o_custkey WHERE o_orderstatus = 'F'"
        " GROUP BY c_mktsegment"),
    "insert_events": (
        "event_type STRING, n BIGINT, sv DOUBLE",
        "SELECT event_type, count(*) AS n, sum(value) AS sv FROM events"
        " GROUP BY event_type"),
}
SQL_WARMUP = "q12"

# curate_replica: one entry per cost the family is known for -- pair
# blocks on few-valued keys (semdedup), bucketed medians (MAD), the
# Arrow/pandas GEMM boundary (cosine), LSH + shuffle + delta_iterate
# rounds (clusters); four cold entries fill the run budget.
CURATE = ["x_semdedup", "x_mad_outliers", "x_dedup_cosine", "x_dedup_clusters"]
CURATE_WARMUP = "x_dedup_exact"
REPLICA_FILES_PER_CORE = 2

PIPELINES = ["window", "over", "cep", "ttl", "changelog"]
STREAM_USERS, STREAM_HOURS, STREAM_CHUNKS, STREAM_LATE = 10, 240, 2, 12

EVENTS_DDL = ("event_id long, ts timestamp, user_id long, event_type string,"
              " value double, props string")

WORKLOADS = ("sql_sf01", "curate_replica", "stream_replay")


def canon(cols, rows) -> list[tuple]:
    """Canonical values, the oracle contract's rule: columns sorted by name,
    floats to 6 significant digits."""
    from flink_1_11_1_spark.testing import canon_rows

    return canon_rows(list(cols), [tuple(r) for r in rows])


def value_hash(cols, rows) -> list:
    """Order-insensitive hash of canonical values, and the row count."""
    return _digest(canon(cols, rows))


def _digest(canon_rows: list[tuple]) -> list:
    c = sorted(canon_rows)
    return [hashlib.sha1(repr(c).encode()).hexdigest(), len(c)]


def table_rows(data_dir: str) -> dict[str, int]:
    import pyarrow.parquet as pq

    out = {}
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        files = ([os.path.join(p, f) for f in sorted(os.listdir(p))]
                 if os.path.isdir(p) else [p])
        out[t] = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return out


def tables_read(sql: str) -> set[str]:
    return {t for t in TABLES if re.search(rf"\b{t}\b", sql)}


# ----------------------------------------------------------- inputs

@dataclass
class Inputs:
    data_dir: str
    refs: dict  # op name -> [hash, rows]


def prepare(workload: str, work: str, seed: int, cpus: int) -> Inputs:
    """Build (or reuse) the workload's input files and batch references.
    Runs before the timed process starts."""
    base = gen.write_base(os.path.join(work, "base"))
    if workload == "sql_sf01":
        return Inputs(base, _duckdb_refs(work, base, SQL_DECLARED + SQL_EXTENSIONS, INSERTS))
    if workload == "curate_replica":
        for d in os.listdir(work):  # one replica on disk at a time
            if d.startswith("replica_") and d != f"replica_{seed}":
                _rmtree(os.path.join(work, d))
        rep = gen.write_replica(base, os.path.join(work, f"replica_{seed}"),
                                REPLICA_FILES_PER_CORE * cpus, seed)
        # the seed only shuffles rows across files: one reference set
        return Inputs(rep, _duckdb_refs(work, rep, CURATE, {}, key="replica"))
    return Inputs(base, {})


def _rmtree(path: str) -> None:
    import shutil

    shutil.rmtree(path, ignore_errors=True)


def _duckdb_refs(work, data_dir, names, inserts, key="base") -> dict:
    import __spark_entry__
    import duckdb

    oracle = __spark_entry__.oracle_sql()
    texts = {n: oracle[n] for n in names}
    texts.update({n: sel for n, (_, sel) in inserts.items()})
    digest = hashlib.sha1(json.dumps([key, texts], sort_keys=True).encode()).hexdigest()[:16]
    path = os.path.join(work, f"refs_{digest}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        glob = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')")
    refs = {}
    for n, sql in texts.items():
        cur = con.execute(sql)
        refs[n] = value_hash([d[0] for d in cur.description], cur.fetchall())
    con.close()
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(refs, f)
    os.replace(tmp, path)
    return refs


# ------------------------------------------------------------ timing

@dataclass
class Sample:
    """One timed op: a query (build + collect) or one trigger."""
    name: str
    seconds: float


@dataclass
class Span:
    """One batch op's wall interval, for the traced run's layer fold."""
    group: str
    module: str
    start: float
    end: float
    build_s: float = 0.0


class Batch:
    """Shared pass loop of the batch workloads."""

    def __init__(self, spark_ops, refs, order):
        self.ops = spark_ops  # name -> (module, build, finish)
        self.order = order
        self.refs = refs
        self.results: list[tuple[str, object]] = []
        self.spans: list[Span] = []
        self.sink_passes = 0

    def stage(self, spark) -> None:
        pass

    def run_pass(self, spark, idx: int, trace: bool) -> list[Sample]:
        sc = spark.sparkContext
        out = []
        for i, name in enumerate(self.order):
            module, build, finish = self.ops[name]
            group = f"pb{idx}:{i}:{name}"
            if trace:
                sc.setJobGroup(group, name)
            t0 = time.time()
            try:
                df = build()
                t1 = time.time()
                res = finish(df)
            except Exception as e:  # an op that raises counts as failed
                t1, res = time.time(), e
            t2 = time.time()
            out.append(Sample(name, t2 - t0))
            self.spans.append(Span(group, module, t0, t2, t1 - t0))
            self.results.append((name, res))
        if trace:
            sc.setLocalProperty("spark.jobGroup.id", None)
        self.sink_passes += 1
        return out

    def check(self, spark) -> tuple[int, int, list[str]]:
        failed = []
        for name, res in self.results:
            if isinstance(res, Exception):
                failed.append(f"{name}: {res!r}"[:300])
            elif res is not None and value_hash(*res) != self.refs[name]:
                failed.append(f"{name}: result differs from the DuckDB reference")
        return len(self.results), len(failed), failed


def _module(fn) -> str:
    return fn.__module__.rsplit(".", 1)[-1]


class SqlWorkload(Batch):
    # budgeted pass time: a run makes seconds // pass_s passes, at least one
    pass_s = 10

    def __init__(self, inputs: Inputs, work: str, seed: int):
        from flink_1_11_1_spark import declared
        from flink_1_11_1_spark.extensions import registry

        self.dir = inputs.data_dir
        self.sinks = os.path.join(work, "sinks")
        self.tenv = None
        reg = registry.queries()
        ops = {}
        for q in SQL_DECLARED:
            text = declared.spark_text(q)
            ops[q] = ("declared", lambda t=text: self.spark.sql(t), _collect)
        for n in SQL_EXTENSIONS:
            fn = reg[n]
            ops[n] = (_module(fn), lambda f=fn: f(self.spark, self.dir), _collect)
        for n in INSERTS:
            ops[n] = ("table_env",
                      lambda n=n: self.tenv.execute_sql(f"INSERT INTO pb_{n} {INSERTS[n][1]}"),
                      lambda _: None)
        super().__init__(ops, inputs.refs, gen.permute(sorted(ops), seed))
        rows = table_rows(self.dir)
        texts = [declared.oracle_text(declared.QUERIES[q]) for q in SQL_DECLARED]
        import __spark_entry__
        oracle = __spark_entry__.oracle_sql()
        texts += [oracle[n] for n in SQL_EXTENSIONS] + [s for _, s in INSERTS.values()]
        self.input_rows = sum(rows[t] for s in texts for t in tables_read(s))

    def register(self, spark) -> None:
        from flink_1_11_1_spark.table_env import TableEnvironment

        self.spark = spark
        self.tenv = TableEnvironment(spark)
        _rmtree(self.sinks)
        self.sink_passes = 0  # passes that wrote to the fresh sinks
        for n, (cols, _) in INSERTS.items():
            self.tenv.execute_sql(
                f"CREATE TABLE pb_{n} ({cols}) WITH ('connector'='filesystem',"
                f" 'path'='{os.path.join(self.sinks, n)}', 'format'='parquet')")

    def warmup(self, spark) -> None:
        from flink_1_11_1_spark import declared

        spark.sql(declared.spark_text(SQL_WARMUP)).collect()

    def check(self, spark):
        attempted, _, failed = super().check(spark)
        for n in INSERTS:
            # every pass appended the reference rows to the sink once
            df = spark.read.parquet(os.path.join(self.sinks, n))
            counts = Counter(canon(df.columns, df.collect()))
            if set(counts.values()) != {self.sink_passes} or _digest(list(counts)) != self.refs[n]:
                failed.append(f"{n}: sink rows differ from the DuckDB reference")
        return attempted + len(INSERTS), len(failed), failed


def _collect(df):
    return df.columns, df.collect()


class CurateWorkload(Batch):
    pass_s = 14

    def __init__(self, inputs: Inputs, work: str, seed: int):
        from flink_1_11_1_spark.extensions import registry
        import __spark_entry__

        self.dir = inputs.data_dir
        reg = registry.queries()
        self.warm = reg[CURATE_WARMUP]
        ops = {n: (_module(reg[n]), lambda f=reg[n]: f(self.spark, self.dir), _collect)
               for n in CURATE}
        # fixed order: the seed varies the replica's layout, not the ops
        super().__init__(ops, inputs.refs, CURATE)
        rows = table_rows(self.dir)
        oracle = __spark_entry__.oracle_sql()
        self.input_rows = sum(rows[t] for n in CURATE for t in tables_read(oracle[n]))

    def register(self, spark) -> None:
        self.spark = spark

    def warmup(self, spark) -> None:
        self.warm(spark, self.dir).collect()


class StreamWorkload:
    """Seeded replay chunks drained in turn through five pipelines.

    Each pipeline run is a fresh query over the same replay directory,
    one file per trigger; an op is one trigger, timed by Spark's
    ``triggerExecution``.
    """

    pass_s = 17

    def __init__(self, inputs: Inputs, work: str, seed: int):
        import pyarrow as pa
        import pyarrow.parquet as pq

        events = pq.read_table(os.path.join(inputs.data_dir, "events.parquet"))
        frames, late = gen.stream_frames(
            events, seed, STREAM_USERS, STREAM_HOURS, STREAM_CHUNKS, STREAM_LATE)
        # the late rows ride in the last trigger, with the flush row
        self.frames = frames + [pa.concat_tables([late, _sentinel(late.schema)])]
        self.late_ids = late["event_id"].to_pylist()
        self.work = work
        self.replay = os.path.join(work, "replay")
        self.runs: list[dict] = []
        self.input_rows = sum(f.num_rows for f in self.frames) * len(PIPELINES)

    def register(self, spark) -> None:
        self.spark = spark

    def stage(self, spark) -> None:
        from flink_1_11_1_spark.streaming import replay

        _rmtree(self.replay)
        replay.write_replay_frames(
            [spark.createDataFrame(f.to_pandas(), EVENTS_DDL) for f in self.frames], self.replay)

    def warmup(self, spark) -> None:
        from pyspark.sql import functions as F

        from flink_1_11_1_spark.streaming import replay

        df = replay.events_stream(spark, self.replay).groupBy("event_type").agg(
            F.count("*").alias("n"))
        q = (df.writeStream.outputMode("update").format("noop")  # one trigger
             .option("checkpointLocation", os.path.join(self.work, "ck_warmup"))
             .trigger(once=True).start())
        q.awaitTermination()
        _rmtree(os.path.join(self.work, "ck_warmup"))

    def _query(self, pipe: str, tag: str):
        """(streaming DataFrame, output mode, foreachBatch writer or None)."""
        from pyspark.sql import functions as F

        from flink_1_11_1_spark.streaming import cep, changelog, over, replay, ttl

        ev = replay.events_stream(self.spark, self.replay)
        if pipe == "window":
            return ev.groupBy(F.window("ts", "1 hour"), "event_type").agg(
                F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sv")), "append", None
        if pipe == "over":
            return over.running_sum(ev.select("user_id", "event_id", "ts", "value")), "append", None
        if pipe == "cep":
            return cep.match_stream(
                ev.select("user_id", "event_id", "event_type", "ts"), horizon_s=3600), "append", None
        if pipe == "ttl":
            return ttl.dedup_first_ttl(ev.withColumn("ts_ms", F.unix_millis("ts")),
                                       keys=["user_id"], ttl="1 hour", time_col="ts_ms"), "append", None
        agg = replay.events_stream(self.spark, self.replay, watermark=None).groupBy(
            "event_type").agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sv"))
        writer = changelog.RetractStreamWriter(
            keys=["event_type"], workdir=os.path.join(self.work, f"records_{tag}"))
        return agg, "complete", _TimedSink(writer)

    def run_pass(self, spark, idx: int, trace: bool) -> list[Sample]:
        out = []
        for pipe in PIPELINES:
            tag = f"{pipe}_{idx}_{len(self.runs)}"
            t0 = time.time()
            df, mode, sink = self._query(pipe, tag)
            w = df.writeStream.outputMode(mode).option(
                "checkpointLocation", os.path.join(self.work, f"ck_{tag}"))
            w = w.foreachBatch(sink) if sink else w.format("memory").queryName(f"pb_{tag}")
            q = w.start()
            try:
                q.processAllAvailable()
                progress = q.recentProgress
                err = None
            except Exception as e:  # a failed pipeline counts as failed
                progress, err = q.recentProgress, e
            finally:
                q.stop()
            rows = None
            if sink is None and err is None:  # the memory sink's table lives in this session
                rows = [tuple(r) for r in spark.table(f"pb_{tag}").collect()]
                spark.catalog.dropTempView(f"pb_{tag}")
            t1 = time.time()
            self.runs.append({"pipe": pipe, "tag": tag, "run_id": str(q.runId),
                              "start": t0, "end": t1, "progress": progress,
                              "sink": sink, "error": err, "rows": rows})
            for p in progress:
                out.append(Sample(pipe, p["durationMs"].get("triggerExecution", 0) / 1000))
        return out

    # ------------------------------------------------------ checks

    def check(self, spark) -> tuple[int, int, list[str]]:
        import pandas as pd
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        from flink_1_11_1_spark.operators import windows as W
        from flink_1_11_1_spark.streaming import cep, changelog

        late = set(self.late_ids)
        all_rows = pd.concat([f.to_pandas() for f in self.frames], ignore_index=True)
        on_time = all_rows[~all_rows.event_id.isin(late) & (all_rows.user_id >= 0)]
        ev = spark.createDataFrame(on_time)
        rs = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
            Window.unboundedPreceding, Window.currentRow)
        twins = {
            "window": (["window_start", "event_type", "n", "sv"], W.tumble_agg(
                ev, "ts", "1 hour", ["event_type"],
                [F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sv")]
            ).select("window_start", "event_type", "n", "sv").collect()),
            "over": (["user_id", "event_id", "running_sum"], ev.select(
                "user_id", "event_id", F.sum("value").over(rs).alias("running_sum")).collect()),
            "cep": (["user_id", "a_id", "b_id"],
                    cep.match_batch(ev, horizon_s=3600).select("user_id", "a_id", "b_id").collect()),
            "ttl": (["event_id"], [(i,) for i in _ttl_fold(self.frames, 3_600_000)]),
            "changelog": (["event_type", "n", "sv"], spark.createDataFrame(all_rows).groupBy(
                "event_type").agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sv")
                                  ).collect()),
        }
        want = {p: value_hash(*twins[p]) for p in PIPELINES}
        failed = []
        for run in self.runs:
            pipe = run["pipe"]
            if run["error"] is not None:
                failed.append(f"{pipe}: {run['error']!r}"[:300])
                continue
            if pipe == "changelog":
                recs = changelog.read_retracts(spark, run["sink"].writer.workdir).collect()
                rows = changelog.fold_retracts([(r.add, (r.event_type, r.n, r.sv)) for r in recs])
            else:
                rows = run["rows"]
                if pipe == "window":
                    rows = [(r[0].start, *r[1:]) for r in rows]
                elif pipe == "over":
                    rows = [(r[0], r[1], r[3]) for r in rows if r[0] >= 0]
                elif pipe == "cep":
                    rows = [r[:3] for r in rows]
                elif pipe == "ttl":
                    rows = [(r[0],) for r in rows]
            if value_hash(twins[pipe][0], rows) != want[pipe]:
                failed.append(f"{pipe}: stream result differs from its batch twin")
            dropped = sum(op.get("numRowsDroppedByWatermark", 0)
                          for p in run["progress"] for op in p["stateOperators"])
            if pipe in ("window", "over") and dropped != len(late):
                failed.append(f"{pipe}: dropped {dropped} rows, planted {len(late)} late rows")
        return len(self.runs), len(failed), failed


class _TimedSink:
    """The ``foreachBatch`` callable around a sink writer, timed."""

    def __init__(self, writer):
        self.writer = writer
        self.seconds: list[float] = []

    def __call__(self, batch_df, batch_id):
        t0 = time.time()
        self.writer(batch_df, batch_id)
        self.seconds.append(time.time() - t0)


def _sentinel(schema):
    """Far-future flush row (``replay.flush_sentinel``'s shape): its
    watermark closes every real window and drains buffered rows."""
    import numpy as np
    import pyarrow as pa

    return pa.table({
        "event_id": [-1], "ts": pa.array([np.datetime64("2024-03-15", "us")]),
        "user_id": [-1], "event_type": ["__flush__"], "value": [0.0],
        "props": pa.array([None], pa.string()),
    }).cast(schema)


def _ttl_fold(frames, ttl_ms: int) -> list[int]:
    """Reference for ``dedup_first_ttl`` on the event-time clock: per
    trigger, rows in ts order; a row passes when its key's state is
    absent or expired, and then re-arms the key for ``ttl_ms``."""
    import numpy as np
    import pyarrow as pa

    expire: dict[int, int] = {}
    kept = []
    for f in frames:
        ms = f["ts"].cast(pa.int64()).to_numpy() // 1000
        users, ids = f["user_id"].to_numpy(), f["event_id"].to_numpy()
        for i in np.argsort(ms, kind="stable"):
            e = expire.get(users[i])
            if e is None or ms[i] >= e:
                kept.append(int(ids[i]))
                expire[users[i]] = ms[i] + ttl_ms
    return kept


def make(workload: str, inputs: Inputs, work: str, seed: int):
    cls = {"sql_sf01": SqlWorkload, "curate_replica": CurateWorkload,
           "stream_replay": StreamWorkload}[workload]
    return cls(inputs, work, seed)

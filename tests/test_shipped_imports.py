"""Every Python function the library's operators ship to executors
imports this package when a worker unpickles it, so
``worker_imports.install()`` runs there before the next task's
``importlib.invalidate_caches()``.  (A user's own UDF, passed through
``udf.py`` or ``process_with_state``, ships as its author wrote it.)

Each operator is called on a tiny batch frame; the function it hands to
Spark is captured where the UDF is pickled, and a fresh interpreter
unpickles it exactly as a Python worker does.
"""

import os
import pickle
import subprocess
import sys

import pytest

from pyspark.serializers import CloudPickleSerializer
from pyspark.sql import functions as F

from flink_1_11_1_spark import datastream
from flink_1_11_1_spark.extensions import dedup, pipeline, stats
from flink_1_11_1_spark.operators import enrich
from flink_1_11_1_spark.streaming import (
    cep, connect, over, semi_anti, temporal, ttl)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _Captured(Exception):
    def __init__(self, payload: bytes):
        self.payload = payload


def _shipped_payload(monkeypatch, build) -> bytes:
    """The pickled ``(func, returnType)`` the first UDF ``build()``
    creates would send to a worker."""
    import pyspark.sql.udf as udf_mod

    def capture(sc, func, returnType=None):
        command = func if returnType is None else (func, returnType)
        raise _Captured(CloudPickleSerializer().dumps(command))

    monkeypatch.setattr(udf_mod, "_wrap_function", capture)
    with pytest.raises(_Captured) as caught:
        build()
    return caught.value.payload


_UNPICKLE = """
import pickle, sys, zipimport
pickle.loads(sys.stdin.buffer.read())
print("flink_1_11_1_spark" in sys.modules,
      zipimport.zipimporter.invalidate_caches.__module__)
"""


def _unpickle_in_fresh_worker(payload: bytes) -> str:
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", _UNPICKLE], input=payload, env=env,
        capture_output=True, timeout=120, check=True,
    )
    return out.stdout.decode().strip()


@pytest.fixture(scope="module")
def frames(spark):
    events = spark.createDataFrame(
        [(1, 10, "signup", "2020-01-01 00:00:00", 1.0)],
        "user_id long, event_id long, event_type string, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<float>")
    docs = spark.createDataFrame([("a b",)], "text string")
    return events, emb, docs


SHIPPED = {
    "over.running_sum": lambda ev, emb, docs: over.running_sum(
        ev.select("user_id", "event_id", "ts", "value")),
    "ttl.dedup_first_ttl": lambda ev, emb, docs: ttl.dedup_first_ttl(
        ev.withColumn("ts_ms", F.unix_millis("ts")), ["user_id"], "1 hour",
        time_col="ts_ms"),
    "cep.match_stream": lambda ev, emb, docs: cep.match_stream(ev),
    "dedup.gemm_scorer": lambda ev, emb, docs: dedup._cos_gemm_candidates(
        emb, 0.9),
    "dedup.band_codes": lambda ev, emb, docs: dedup._cos_band_candidates(
        emb, 2, 4),
    "stats.streaming_hll": lambda ev, emb, docs: stats.streaming_hll(ev),
    "stats.streaming_cm": lambda ev, emb, docs: stats.streaming_cm(docs),
    # the other shipping sites
    "over.running_over": lambda ev, emb, docs: over.running_over(
        ev, ["user_id"], "ts", [("sum", "value", "s")]),
    "connect.dynamic_threshold_filter": lambda ev, emb, docs:
        connect.dynamic_threshold_filter(
            ev.selectExpr("user_id AS key", "ts", "value AS threshold"),
            ev.selectExpr("user_id AS key", "ts", "event_id", "value")),
    "semi_anti.streaming_semi_anti_join": lambda ev, emb, docs:
        semi_anti.streaming_semi_anti_join(ev, ev),
    "temporal.streaming_temporal_rowtime_join": lambda ev, emb, docs:
        temporal.streaming_temporal_rowtime_join(
            ev.select("user_id", "ts", "value"),
            ev.select("user_id", "ts", "event_type")),
    "enrich.enrich": lambda ev, emb, docs: enrich.enrich(
        ev, "value", "v2", "double", lambda s: s),
    "enrich.async_enrich": lambda ev, emb, docs: enrich.async_enrich(
        ev, "value", "v2", "double", None),
    "pipeline.pack_batches": lambda ev, emb, docs: pipeline.pack_batches(
        docs.selectExpr("1L AS doc_id", "text")),
    "datastream.map": lambda ev, emb, docs: datastream.DataStream(
        ev, datastream.StreamExecutionEnvironment(ev.sparkSession)
    ).map(lambda r: (r.user_id,), "user_id long"),
}


@pytest.mark.parametrize("name", sorted(SHIPPED))
def test_shipped_function_imports_package(name, frames, monkeypatch):
    payload = _shipped_payload(monkeypatch, lambda: SHIPPED[name](*frames))
    assert _unpickle_in_fresh_worker(payload) == \
        "True flink_1_11_1_spark.worker_imports"


def test_capture_sees_a_function_that_does_not_import_package(spark, monkeypatch):
    """The check can fail: a plain lambda UDF leaves the package unimported."""
    payload = _shipped_payload(
        monkeypatch, lambda: F.udf(lambda x: x, "long")(F.col("x")))
    assert pickle.loads(payload)[0](3) == 3
    assert _unpickle_in_fresh_worker(payload).startswith("False")

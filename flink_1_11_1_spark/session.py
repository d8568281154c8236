"""SparkSession factory + configurer.

Mirrors the role of Flink's ``TableEnvironment.create(EnvironmentSettings)``
(reference: flink-table/flink-table-api-java/.../TableEnvironment.java):
one place that pins execution configuration.  On Spark the execution
engine itself is configuration, so this *is* the engine bootstrap.

Scale notes (100 TB design intent, SURVEY.md §7):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  broadcast-join demotion/promotion replace Flink's static
  ``table.optimizer.*`` knobs.
- ``shuffle.partitions`` here is the local-test value; on a real cluster
  AQE's ``advisoryPartitionSizeInBytes`` governs and the static number
  only seeds the first shuffle.
- ``maxPartitionBytes`` 128m keeps scan partitions executor-memory-sized
  at any input scale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Cores this process may run on: the local[N] default when
# $SPARK_GRAFT_CPUS is unset.
HOST_CPUS = len(os.sched_getaffinity(0))


def cpus() -> int:
    """Local worker threads (and shuffle partitions) for this process."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", HOST_CPUS))


# Confs that must be set before JVM start (builder-time).
BUILDER_CONFS: dict[str, str] = {
    "spark.sql.shuffle.partitions": str(cpus()),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": "33554432",
    "spark.driver.memory": "6g",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.ui.enabled": "false",
}

# Confs that are runtime-settable — applied even to a session we did not
# create (the correctness driver owns its own SparkSession).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # events.parquet stores INT64 TIMESTAMP(NANOS); Spark 4 refuses to
    # read it otherwise (FIXTURES.md "Canonical views").
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.shuffle.partitions": str(cpus()),
}


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor python workers.

    Functions shipped by the engine (keyed-state folds, pandas UDFs)
    refer to module-level helpers, which cloudpickle serializes *by
    reference* — the worker must import the module.  They must: that
    import runs the package init, which installs ``worker_imports`` so
    the worker stops re-reading pyspark.zip's import index before every
    task.  A self-contained nested closure is pickled by value and
    leaves the worker paying that cost.  On a real cluster this is the
    ``--py-files`` deployment; here we build the zip once (content-hashed
    name, so ``addPyFile`` stays idempotent) and attach it.
    """
    global _ZIP_PATH
    if _ZIP_PATH is None:
        # built once per process (round 14: the walk + md5 of every
        # package file cost ~15 ms and ran on EVERY load_table/configure
        # call — hundreds of times per bench suite).  Source files are
        # immutable within a process lifetime for every real surface
        # (bench CLI, driver, pytest); an edited file needs a fresh
        # process to re-import anyway, which resets this memo too.
        import hashlib
        import tempfile
        import zipfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        digest = hashlib.md5()
        files = []
        for dirpath, _, names in sorted(os.walk(pkg_dir)):
            for n in sorted(names):
                if n.endswith(".py"):
                    p = os.path.join(dirpath, n)
                    files.append(p)
                    digest.update(open(p, "rb").read())
        zpath = os.path.join(
            tempfile.gettempdir(), f"flink_1_11_1_spark_{digest.hexdigest()[:12]}.zip"
        )
        if not os.path.exists(zpath):
            with zipfile.ZipFile(zpath, "w") as z:
                for p in files:
                    z.write(
                        p,
                        os.path.join(
                            "flink_1_11_1_spark", os.path.relpath(p, pkg_dir)
                        ),
                    )
        _ZIP_PATH = zpath
    zpath = _ZIP_PATH
    if zpath in _SHIPPED:
        return
    try:
        spark.sparkContext.addPyFile(zpath)
        _SHIPPED.add(zpath)
    except Exception:
        pass  # already added under this name — content-hash makes that safe


_SHIPPED: set[str] = set()
_ZIP_PATH: str | None = None


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this session; builder-created sessions pin it
    ship_package(spark)
    return spark


def get_spark(app_name: str = "flink-1.11.1-spark", master: str | None = None) -> SparkSession:
    """Create (or fetch) the pinned engine session."""
    if master is None:
        master = f"local[{cpus()}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in {**BUILDER_CONFS, **RUNTIME_CONFS}.items():
        builder = builder.config(k, v)
    return configure(builder.getOrCreate())

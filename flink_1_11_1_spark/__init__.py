"""flink_1_11_1_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of the reference (eliasyaoyc/flink-1.11.1,
a fork of Apache Flink 1.11.1).

NOT a port: the reference's runtime (operator chaining, BinaryRowData,
Janino codegen, netty shuffle) maps onto Spark's equivalents (WholeStage
codegen, Tungsten UnsafeRow, ShuffleExchange) which Spark provides for
free — see SURVEY.md §5.3.  This package contains only what Spark does
NOT already give us:

- ``session``      pinned SparkSession factory / configurer
- ``catalog``      canonical fixture views (FIXTURES.md contract)
- ``declared``     the 42 declared correctness queries (SURVEY.md §3.13)
- ``functions``    Flink built-in scalar/agg functions absent from Spark
- ``operators``    joins (as-of / interval / lookup), windows (tumble /
                   hop / session batch equivalents), dedup, top-n, CDC
- ``extensions``   training-data-pipeline ops: dedup (exact / MinHash-LSH /
                   SimHash / n-gram Jaccard), embedding similarity search,
                   text analysis, multimodal column plumbing
- ``streaming``    file-stream replay harness, watermark wiring,
                   changelog capability matrix, CEP / NFA (deterministic
                   + branching backtracking folds, native lowerings)
- ``table_env``    TableEnvironment front door (FLIP-84), DDL router,
                   EnvironmentSettings / TableConfig / StatementSet
- ``table_api``    fluent Table API (PyFlink 1.11 shape) over the
                   expression-string DSL in ``expr``
- ``datastream``   DataStream API façade (env / keyed / windowed
                   streams, event-time + count windows, fluent joins)
- ``udf``          PyFlink udf/udtf/DataTypes shim
- ``pyflink_shim`` ``import …pyflink_shim`` → verbatim PyFlink 1.11
                   programs run unchanged (see examples/)
- ``worker_imports`` keeps Python workers from re-reading every zip's
                   import index before each task (installed on import)
"""

from . import worker_imports

__version__ = "0.1.0"

worker_imports.install()

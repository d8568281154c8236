"""Plan-shape smoke tests (SURVEY.md §6.2 item 4) — the Spark analogue
of Flink's golden XML plan tests, without golden-file brittleness.
Catches silent performance regressions: a lost broadcast, a lost
window-group-limit pushdown, a lost parquet filter pushdown would all
surface as plan-shape changes long before they surface as BENCH deltas.
"""

from pyspark.sql import functions as F

from flink_1_11_1_spark import catalog, declared

from .conftest import SF_SMOKE


def _plan(spark, sql: str) -> str:
    catalog.register(spark, SF_SMOKE)
    return spark.sql(sql)._jdf.queryExecution().executedPlan().toString()


def test_small_dim_join_broadcasts(spark):
    # Q06: nation/region are tiny dims — must broadcast, never shuffle.
    plan = _plan(spark, declared.QUERIES["q06"])
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topn_uses_window_group_limit(spark):
    # Q22: rn<=k must push into WindowGroupLimit (Flink's Rank/TopN node).
    plan = _plan(spark, declared.QUERIES["q22"])
    assert "WindowGroupLimit" in plan


def test_filter_pushdown_reaches_parquet_scan(spark):
    plan = _plan(spark, declared.QUERIES["q01"])
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_quantity)" in plan or "GreaterThan(l_quantity" in plan


def test_projection_pruning_reaches_scan(spark):
    # Q04 reads 2 of 6 orders columns; scan schema must be pruned.
    catalog.register(spark, SF_SMOKE)
    df = spark.sql(declared.QUERIES["q04"])
    scan = df._jdf.queryExecution().executedPlan().toString()
    assert "o_orderdate" not in scan.split("ReadSchema")[1].split("\n")[0]


def test_whole_stage_codegen_covers_agg(spark):
    # AQE finalizes the plan lazily — materialize, then read the final plan.
    catalog.register(spark, SF_SMOKE)
    df = spark.sql(declared.QUERIES["q03"])
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # "*(n)" prefixes mark WholeStageCodegen spans in the plan string.
    assert "*(1) HashAggregate" in plan or "*(1) Filter" in plan
    # two-phase aggregation: map-side combine before the shuffle.
    assert "partial_sum" in plan


def test_aqe_coalesces_shuffle_partitions(spark):
    # 32 static shuffle partitions on tiny data -> AQE must coalesce
    catalog.register(spark, SF_SMOKE)
    df = spark.sql(declared.QUERIES["q04"])
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead coalesced" in plan


def test_dynamic_partition_pruning(spark, tmp_path):
    """DPP: a selective dim filter prunes fact partitions at runtime —
    Spark's bonus over Flink's static partition pruning (SURVEY §5.2)."""
    catalog.register(spark, SF_SMOKE)
    fact = spark.table("orders")
    path = str(tmp_path / "orders_by_status")
    fact.write.partitionBy("o_orderstatus").parquet(path)
    # DPP needs a SELECTIVE predicate on the dim side; tiny fixtures also
    # need the stats-based benefit check relaxed
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", "10.0")
    dim = spark.createDataFrame(
        [("F", "final"), ("O", "open"), ("P", "pend")], ["st", "label"]
    ).where("label = 'final'")
    joined = spark.read.parquet(path).join(dim, F.col("o_orderstatus") == F.col("st"))
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower()
    assert joined.count() == fact.where("o_orderstatus = 'F'").count()


def test_tpch_battery_no_nested_loop_joins(spark):
    """Every TPC-H-shape plan must resolve to hash joins (broadcast or
    shuffled) — a BroadcastNestedLoopJoin or CartesianProduct in any of
    the 22 shapes means a predicate failed to become an equi-join key
    and would be quadratic at scale."""
    from flink_1_11_1_spark.extensions import tpch_extra

    catalog.register(spark, SF_SMOKE)
    for name, sql in tpch_extra._SHAPES.items():
        df = spark.sql(sql)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_tpch_q9_broadcasts_all_dims(spark):
    """The widest shape (5-way join) must broadcast its dimension sides;
    the lineitem fact side must never broadcast."""
    from flink_1_11_1_spark.extensions import tpch_extra

    catalog.register(spark, SF_SMOKE)
    df = spark.sql(tpch_extra._SHAPES["x_tpch_q9"])
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# ------------------------- curation battery plan shapes (round 5 late)


def _exec_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_quality_rules_is_map_only(spark):
    # the Gopher-rule gate must stay a single projection: the only
    # Exchange allowed is the presentation sort's range partitioning
    from flink_1_11_1_spark.extensions.curation import quality_rules

    docs = catalog.load_table(spark, SF_SMOKE, "documents")
    plan = _exec_plan(quality_rules(docs))
    assert plan.count("Exchange") == 1 and "rangepartitioning" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_pii_redact_is_shuffle_free(spark):
    from flink_1_11_1_spark.extensions.curation import pii_redact

    docs = catalog.load_table(spark, SF_SMOKE, "documents")
    assert "Exchange" not in _exec_plan(pii_redact(docs))


def test_kmeans_assignment_is_map_only(spark):
    # broadcast-centroid design: the final assignment never shuffles the
    # corpus (one Exchange = output sort only)
    from flink_1_11_1_spark.extensions.curation import kmeans_assign

    emb = catalog.load_table(spark, SF_SMOKE, "embeddings")
    plan = _exec_plan(kmeans_assign(emb))
    assert plan.count("Exchange") == 1 and "rangepartitioning" in plan


def test_decontaminate_broadcasts_eval_side(spark):
    # eval ids + eval grams are benchmark-sized: every join against them
    # must be broadcast; corpus-sized joins may merge-join
    from flink_1_11_1_spark.extensions.curation import decontaminate

    docs = catalog.load_table(spark, SF_SMOKE, "documents")
    plan = _exec_plan(decontaminate(docs))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "LeftAnti, BuildRight" in plan  # train-side filter stays broadcast


def test_dsir_and_temperature_broadcast_histograms(spark):
    # the accept predicate must join against broadcast feature/source
    # histograms — a shuffle of the corpus onto a histogram key would
    # be the 100 TB scale-killer
    from flink_1_11_1_spark.extensions.selection import dsir_sample, temperature_mix

    for fn in (dsir_sample, temperature_mix):
        plan = _exec_plan(fn(spark, SF_SMOKE))
        assert "BroadcastHashJoin" in plan, fn.__name__
        assert "SortMergeJoin" not in plan, fn.__name__


def test_heavy_hitters_aggregates_with_partial_combine(spark):
    # token counting must be two-phase (map-side combine): a partial_
    # aggregate before the exchange keeps the shuffle at vocabulary
    # cardinality instead of token-stream cardinality
    from flink_1_11_1_spark.extensions.stats import cm_heavy_hitters

    plan = _exec_plan(cm_heavy_hitters(spark, SF_SMOKE))
    assert "partial_count" in plan or "partial_sum" in plan


def test_quantiles_avoids_global_sort(spark):
    # the whole point of bucket refinement: no global Sort over orders
    # (rank selection happens inside per-bucket window partitions)
    from flink_1_11_1_spark.extensions.stats import dist_quantiles

    plan = _exec_plan(dist_quantiles(spark, SF_SMOKE))
    assert "Sort [o_totalprice" not in plan  # no global ORDER BY scan
    assert "rangepartitioning(o_totalprice" not in plan.lower()


def _entry_plan(spark, name: str) -> str:
    from flink_1_11_1_spark.extensions import registry

    df = registry.queries()[name](spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_cep_overlap_opt_is_native(spark):
    """The union-optional funnel must stay fully JVM-side: the tier-D
    uni1 lowering is windows + one hop join, never the Python fold."""
    plan = _entry_plan(spark, "x_cep_overlap_opt")
    assert "FlatMapGroupsInPandas" not in plan
    assert "ArrowEvalPython" not in plan


def test_repetition_is_map_only(spark):
    """Gopher repetition gates fuse into the scan projection: no join,
    no Python stage, no aggregate shuffle (only the ORDER BY sorts)."""
    plan = _entry_plan(spark, "x_repetition")
    assert "Join" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "HashAggregate" not in plan


def test_cosine_gemm_shape(spark):
    """The declared-threshold cosine path: vectors replicate via a
    BROADCAST of the block-pair table (never a shuffled corpus²), one
    Arrow GEMM stage scores, and the JVM fold verifies — exactly two
    pandas stages, no cartesian product."""
    plan = _entry_plan(spark, "x_dedup_cosine")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("FlatMapGroupsInPandas") == 1


def test_temporal_batch_asof_single_shuffle_family(spark):
    """The as-of join (the temporal join's batch twin) stays the
    union-then-window single-shuffle shape — no join node at all."""
    from flink_1_11_1_spark.operators.joins import asof_join

    ev = catalog.load_table(spark, SF_SMOKE, "events")
    out = asof_join(
        ev.where("event_type = 'view'").select("user_id", "event_id", "ts"),
        ev.where("event_type = 'purchase'").select(
            "user_id", "ts", F.col("value").alias("val")
        ),
        on=["user_id"], left_time="ts", right_time="ts",
        right_cols=["val"],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "Window" in plan


def test_cosine_lsh_entry_uses_band_join_not_gemm(spark):
    """The round-7 pruning-regime entry (x_dedup_cosine_lsh, t=0.95,
    explicit 8x12 layout) must run the BANDED path: a posexplode of
    per-band codes (Generate) feeding the candidate equi-join — and no
    grouped-GEMM Arrow stage (that is the permissive-threshold path).
    Since round 14 the bucket frame sits behind a lazy checkpoint (it
    feeds both self-join sides), so the banded stage is asserted on the
    bucket builder's plan and the entry plan on the join + scan shape."""
    plan = _entry_plan(spark, "x_dedup_cosine_lsh")
    assert "FlatMapGroupsInPandas" not in plan       # no GEMM stage
    assert "Scan ExistingRDD" in plan                # checkpointed buckets
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan               # (band, code) equi-join

    from flink_1_11_1_spark import catalog
    from flink_1_11_1_spark.extensions import dedup

    emb = catalog.load_table(spark, SF_SMOKE, "embeddings")
    bucket_plan = (
        dedup._cos_buckets(emb, 8, 12)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Generate" in bucket_plan                 # posexplode(band codes)
    assert "ArrowEvalPython" in bucket_plan          # vectorized code udf
    assert "FlatMapGroupsInPandas" not in bucket_plan


def test_tpcds_pivot_is_single_aggregate(spark):
    """Native pivot with explicit values compiles to ONE two-phase
    aggregate over the scan — no join, no per-value re-scan, no
    Python stage (q59/q66 idiom)."""
    plan = _entry_plan(spark, "x_tpcds_pivot")
    assert "Join" not in plan
    assert "Pandas" not in plan and "Python" not in plan
    # Spark's pivot-with-values: pre-aggregate on (yr, prio), then the
    # pivotfirst spread on yr — two agg shuffles + the ORDER BY range
    # partition, never a per-value re-scan (one FileScan only)
    assert "pivotfirst" in plan
    assert plan.count("Exchange") <= 3
    assert plan.count("FileScan") == 1


def test_table_api_entries_are_native(spark):
    """The fluent façade delegates 1:1 to DataFrame ops: every
    declared Table-API entry must be free of Python stages and keep
    whole-stage codegen on the agg paths."""
    for name in ("x_tapi_agg", "x_tapi_window", "x_tapi_over",
                 "x_tapi_join_setops"):
        plan = _entry_plan(spark, name)
        assert "Pandas" not in plan and "Python" not in plan, name


def test_tapi_window_groups_by_struct(spark):
    """The façade's tumble grouping must ride the window STRUCT (the
    event-time-metadata-preserving form), visible as the `window`
    struct in the aggregate's grouping key."""
    plan = _entry_plan(spark, "x_tapi_window")
    assert "window#" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_sql_group_windows_plan_single_native_aggregate(spark):
    """The group-window rewrite must land on ONE native hash aggregate
    pair (partial + final) over the static TimeWindow expansion — no
    Python stage, no extra exchange beyond the grouping shuffle."""
    from flink_1_11_1_spark.table_env import TableEnvironment

    catalog.register(spark, SF_SMOKE)
    tenv = TableEnvironment(spark)
    df = tenv.execute_sql(
        "SELECT TUMBLE_START(ts, INTERVAL '1' HOUR) ws, count(*) n "
        "FROM events GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan
    assert plan.count("Exchange") <= 1  # one grouping shuffle only
    for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert marker not in plan
    # hop: the per-row window explosion is the static Expand/generator,
    # still fully native
    df2 = tenv.execute_sql(
        "SELECT HOP_START(ts, INTERVAL '30' MINUTE, INTERVAL '1' HOUR) ws, "
        "count(*) n FROM events "
        "GROUP BY HOP(ts, INTERVAL '30' MINUTE, INTERVAL '1' HOUR)"
    )
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan2
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan2

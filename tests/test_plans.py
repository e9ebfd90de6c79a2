"""Physical-plan quality gates — the .explain() discipline as assertions.

These lock in the optimizations that matter at 100 TB: exchange counts,
broadcast dimension joins, parquet partition pruning and filter pushdown,
and bucketed co-located joins. A regression that silently adds a shuffle
fails here long before a benchmark would catch it.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from racing_telemetry_pipeline_spark.config import DEFAULTS
from racing_telemetry_pipeline_spark.operators.anomalies import add_time_flags
from racing_telemetry_pipeline_spark.operators.dedup import (
    add_ingest_ordinal,
    dedup_keep_last,
)
from racing_telemetry_pipeline_spark.operators.drift import monotonic_repair
from racing_telemetry_pipeline_spark.plans.pipeline import (
    _build_routed,
    enrich_route,
    run_pipeline,
)
from racing_telemetry_pipeline_spark.schemas import validate_raw


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _plain_routed(spark, raw_path, engine):
    """The unsalted reference chain: plain dedup -> flags -> repair, then
    the shared enrich_route."""
    df = add_ingest_ordinal(validate_raw(spark.read.parquet(raw_path)))
    df = dedup_keep_last(df, drop_ordinal=True)
    df = add_time_flags(
        df,
        gap_threshold_sec=DEFAULTS.gap_threshold_sec,
        backwards_tolerance_sec=DEFAULTS.backwards_tolerance_sec,
    )
    df = monotonic_repair(df)
    return enrich_route(spark, df, DEFAULTS, engine)


def test_routed_plan_exchange_budget(spark, raw_unit):
    """Exchange budget for the parse->sync->enrich->route chain.

    Unsalted operator chain: exactly ONE full-width hash exchange (dedup +
    all windows share the conv_id partitioning). Salted (the pipeline's
    only sync path): the bucket-summary branch adds a narrow column-pruned
    re-scan exchange, a tiny per-conv summary exchange, and a tiny
    exchange on the summary side of the stitch join — 4 total, only one
    carrying full rows. The
    stitch join is shuffle_hash, NOT a forced broadcast: the summary
    grows with conversation count and would blow the broadcast limit at
    the 10^12-turn design point (AQE still converts it to broadcast at
    runtime when it is actually small). Dimension joins must broadcast;
    nothing may sort-merge.
    """
    for engine in ("pandas_udf", "builtin"):
        plan = _plan(_plain_routed(spark, raw_unit, engine))
        assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
        assert "SortMergeJoin" not in plan

        plan_s = _plan(_build_routed(spark, raw_unit, DEFAULTS, engine))
        assert plan_s.count("Exchange hashpartitioning") <= 4, plan_s[:2000]
        assert plan_s.count("BroadcastExchange") >= 2  # role/tool dims
        assert "SortMergeJoin" not in plan_s


def test_grok_udf_single_eval(spark, raw_unit):
    """The Arrow grok UDF must evaluate once, after the windows (not
    between them, which would sever partitioning propagation)."""
    plan = _plan(_build_routed(spark, raw_unit, DEFAULTS, "pandas_udf"))
    assert plan.count("ArrowEvalPython") == 1
    # and the builtin engine has no Python at all
    plan_b = _plan(_build_routed(spark, raw_unit, DEFAULTS, "builtin"))
    assert "Python" not in plan_b


def test_partition_pruning_on_sink(spark, raw_unit, tmp_path):
    """Reading one sink from the fan-out table must prune to that
    partition (S6 analog: directory pruning for free via Catalyst)."""
    root = str(tmp_path / "lake")
    run_pipeline(spark, raw_unit, root)
    df = spark.read.parquet(f"{root}/routed").filter(F.col("route") == "valid")
    plan = _plan(df)
    assert "PartitionFilters" in plan
    assert "route" in plan.split("PartitionFilters")[1][:200]


def test_filter_and_column_pushdown(spark):
    """Predicate + projection must reach the parquet scan."""
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    df = li.filter(F.col("l_shipdate") <= "1998-09-02").select(
        "l_returnflag", "l_quantity"
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_returnflag" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema  # pruned


def test_broadcast_join_in_q5(spark):
    from racing_telemetry_pipeline_spark.queries.tpch import q5_region_revenue

    plan = _plan(q5_region_revenue(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """Bucketing co-locates a repeated join key: the join plans with NO
    exchange on either side (the 100 TB strategy for conv_id-keyed
    tables that join repeatedly)."""
    spark.sql("DROP TABLE IF EXISTS b_events")
    spark.sql("DROP TABLE IF EXISTS b_users")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    (
        ev.write.bucketBy(8, "user_id")
        .sortBy("user_id")
        .mode("overwrite")
        .saveAsTable("b_events")
    )
    users = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    (
        users.write.bucketBy(8, "user_id")
        .sortBy("user_id")
        .mode("overwrite")
        .saveAsTable("b_users")
    )
    joined = (
        spark.table("b_events")
        .hint("merge")
        .join(spark.table("b_users").hint("merge"), "user_id")
    )
    plan = _plan(joined)
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan, plan[:1500]
    spark.sql("DROP TABLE IF EXISTS b_events")
    spark.sql("DROP TABLE IF EXISTS b_users")


def test_dd2_no_self_join_single_scan(spark):
    """dd2 generates candidate pairs by exploding each shingle group's
    bounded doc-list — no equality self-join of the shingle table. With
    static planning (AQE off, so ReusedExchange is visible in the string;
    AQE's runtime stage cache reuses by the same canonical-plan key) the
    whole query reads the documents file ONCE; the df-count branch, join
    probe, and sizes branch all reuse the one shingle exchange. Round 7:
    the df-cap is a co-partitioned shuffle_hash semi-join, NOT a window
    count — the plan must be entirely sort-free (the window sorter was
    23% of dd2's wall at sf0.1)."""
    from racing_telemetry_pipeline_spark.queries.dedup_text import (
        dd2_ngram_jaccard_pairs,
    )

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(dd2_ngram_jaccard_pairs(spark, "/root/testdata/sf0.001"))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "Sort " not in plan, plan[:2000]
    assert "ShuffledHashJoin" in plan
    assert plan.count("FileScan parquet") == 1, plan[:2000]
    assert plan.count("ReusedExchange") >= 2


def test_small_aggregates_sort_in_one_partition(spark, raw_unit):
    """Role latency and tool frequency have one row per role / tool name
    at any scale, so they sort as one partition: no range exchange, whose
    sampling job would run the exact-percentile merge a second time."""
    from racing_telemetry_pipeline_spark.operators.aggregates import (
        role_latency_percentiles,
        tool_call_frequency,
    )

    routed = _build_routed(spark, raw_unit, DEFAULTS, "builtin")
    for df, key in (
        (role_latency_percentiles(routed), "role"),
        (tool_call_frequency(routed), "tool_name"),
    ):
        plan = _plan(df)
        assert "rangepartitioning" not in plan.lower(), plan[:2000]
        assert df.rdd.getNumPartitions() == 1
        keys = [r[key] for r in df.select(key).collect()]
        assert keys == sorted(keys)

"""End-to-end transcript pipeline plan:

  parse -> time-sync -> enrich -> route -> aggregate

Spark re-expression of the reference's canonical entry point
(/root/reference/examples/run_full_pipeline.py:196-419, traced in
SURVEY.md §3): the reference's sequential per-car loop becomes
``Window.partitionBy(conv_id)`` across executors; its per-stage parquet
materialization becomes coarse lake tables (resume points); its stats JSON
files become per-stage metrics + per-partition lineage tables.

Single-shuffle design note: dedup, time flags and monotonic repair all
window within (conv_id, turn-range bucket) (operators/skew.py), so ONE
exchange carries full rows through the whole sync chain; the stitch adds
only narrow summary exchanges (tests/test_plans.py asserts the budget).
Dimension joins are broadcast; no other exchange exists before the sink
write.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULTS, PipelineSettings
from ..datagen.dims import dim_roles_pdf, dim_tools_pdf
from ..functions.grok import parse_text
from ..operators.aggregates import (
    role_latency_percentiles,
    tool_call_frequency,
    turns_per_conversation,
)
from ..operators.dedup import add_ingest_ordinal
from ..operators.drift import drift_calibration
from ..operators.routing import apply_sentinels, route_rows
from ..operators.skew import salted_parse_sync
from ..sources.lake import Lake
from ..sources.parquet import path_version, read_parquet


@dataclass
class PipelineResult:
    lake_root: str
    stages_run: list[str] = field(default_factory=list)
    stages_skipped: list[str] = field(default_factory=list)
    timings: dict[str, float] = field(default_factory=dict)
    input_snapshot: str = ""
    observed_metrics: dict = field(default_factory=dict)


def _build_routed(
    spark: SparkSession,
    raw_path: str,
    settings: PipelineSettings,
    parse_engine: str,
) -> DataFrame:
    """The fused parse->sync->enrich->route logical plan (lazy)."""
    from ..schemas import validate_raw

    # the raw schema is inferred once per input snapshot (the fingerprint
    # run_pipeline records) and validated as inferred on every call
    raw = validate_raw(read_parquet(spark, raw_path, path_version(raw_path)))
    return routed_from_ordinal(spark, add_ingest_ordinal(raw), settings, parse_engine)


def routed_from_ordinal(
    spark: SparkSession,
    df: DataFrame,
    settings: PipelineSettings,
    parse_engine: str,
) -> DataFrame:
    """parse->sync->enrich->route over a DataFrame that already carries the
    ingest-ordinal columns. Shared by the batch plan (ordinal from the raw
    scan's ``_metadata``) and the stream compactor (ordinal captured at
    stream-read time and persisted in the bronze table) — byte-identical
    semantics on both paths is what makes stream-then-compact == batch.

    The sync stage (dedup, anomaly flags, monotonic repair) is the salted
    one: hot conversations are sub-bucketed by turn range and stitched
    (operators/skew.py), byte-identical to the plain operator chain. The
    grok parse (in ``enrich_route``) runs AFTER the windows as a pure
    projection — placing it between windows would sever the partitioning
    propagation through the ArrowEvalPython node and force a second full
    shuffle of every row (measured 6x slower at 10M turns)."""
    from ..schemas import validate_routed

    df = salted_parse_sync(
        df,
        bucket_turns=settings.salt_bucket_turns,
        gap_threshold_sec=settings.gap_threshold_sec,
        backwards_tolerance_sec=settings.backwards_tolerance_sec,
    )
    return validate_routed(enrich_route(spark, df, settings, parse_engine))


def enrich_route(
    spark: SparkSession,
    df: DataFrame,
    settings: PipelineSettings,
    parse_engine: str,
) -> DataFrame:
    """parse -> enrich -> route: grok parse, sentinel fixes, broadcast
    dimension joins (J1 analog) and the policy routing. Every step is a
    per-row projection or broadcast join, so the batch plan (after the
    sync windows) and the streaming plan (after watermark dedup) share
    this one implementation."""
    df = parse_text(df, engine=parse_engine)
    df = apply_sentinels(df, settings)
    dim_roles = F.broadcast(spark.createDataFrame(dim_roles_pdf()))
    dim_tools = F.broadcast(
        spark.createDataFrame(dim_tools_pdf()).withColumnRenamed("tool", "tool_key")
    )
    df = df.join(dim_roles, on="role", how="left")
    df = df.join(dim_tools, df.tool_name == dim_tools.tool_key, how="left").drop(
        "tool_key"
    )
    return route_rows(df, settings)


def run_pipeline(
    spark: SparkSession,
    raw_path: str,
    lake_root: str,
    settings: PipelineSettings = DEFAULTS,
    parse_engine: str = "pandas_udf",
    resume: bool = True,
    approx_percentiles: bool = False,
) -> PipelineResult:
    """Run (or resume) the full pipeline; each lake table is a resume point.

    ``resume=True`` skips any stage whose output manifest records the same
    input snapshot and whose tables all exist (Iceberg-snapshot semantics
    over the parquet lake). ``timings`` holds one wall per stage that ran.
    """
    lake = Lake(spark, lake_root)
    res = PipelineResult(lake_root=lake_root)
    res.input_snapshot = lake.fingerprint_input(raw_path)

    def stage(name: str, fn, input_snapshot: str, tables: list[str]) -> None:
        if resume and lake.stage_current(name, input_snapshot):
            res.stages_skipped.append(name)
            return
        t0 = time.perf_counter()
        fn()
        lake.mark_stage(name, input_snapshot, tables)
        res.timings[name] = time.perf_counter() - t0
        res.stages_run.append(name)

    # -- stage 1-4 fused: routed table (partitioned by route = the fan-out) --
    def build_routed():
        from pyspark.sql import Observation

        routed = _build_routed(spark, raw_path, settings, parse_engine)
        # observe(): ingest-stats metrics (A8 analog) captured DURING the
        # sink write — zero extra scans (reference spends a pass on these,
        # /root/reference/src/ingestion/ingest.py:268-299)
        obs = Observation("routed_stats")
        routed = routed.observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("is_backwards").cast("long")).alias("n_backwards_raw"),
            F.sum(F.col("is_gap").cast("long")).alias("n_gaps"),
            F.sum((F.col("route") == "quarantine").cast("long")).alias("n_quarantined"),
            F.sum(F.col("parse_ok").cast("long")).alias("n_tool_calls"),
        )
        lake.write(
            routed,
            "routed",
            partition_by=["route"],
            input_snapshot=res.input_snapshot,
            # NO in-task sort: with maxConcurrentOutputFileWriters set
            # (session.py) the dynamic-partition writer keeps one open
            # writer per route (3-5 sinks at any scale) and rows STREAM
            # from the parse/stitch stage into parquet. The previous
            # (route, conv, turn) sort materialized every row ~3x in the
            # task sorter — the pipeline's single largest memory-bandwidth
            # cost. Row order within each file is the deterministic stream
            # order of the upstream plan; consumers that need (conv, turn)
            # order sort at read (O2 equality is asserted under explicit
            # ordering in tests/test_pipeline_e2e.py).
            sort_within=None,
        )
        res.observed_metrics = dict(obs.get)
        lake.record_stage_metrics("routed", res.observed_metrics)
        lake.register_sink_aliases("routed", "route", list(settings.sinks))

    stage("routed", build_routed, res.input_snapshot, ["routed"])
    routed_snapshot = lake.snapshot_id("routed") or ""

    # -- drift-calibration audit table (A1-A3 analog) --
    # reads dt_sec off the routed table (column-pruned parquet scan, pure
    # aggregation) instead of re-running the dedup shuffle over raw
    def build_drift():
        routed = lake.read("routed")
        cal = drift_calibration(
            routed,
            window_sec=settings.drift_window_sec,
            step_std_factor=settings.step_std_factor,
            dt_col="dt_sec",
            approx=approx_percentiles,
        )
        lake.write(cal, "drift_calibration", input_snapshot=routed_snapshot)

    # -- aggregate stage: per-sink tables from the routed lake table --
    def build_aggs():
        routed = lake.read("routed")

        def build_tpc():
            import pandas as pd
            from pyspark.sql import Observation

            # sink counts ride along the tpc write via observe(): the
            # route set is fixed and tiny at ANY scale, so the rollup is
            # three conditional sums captured during the job already
            # scanning the data — not a separate read-back job (each extra
            # job is ~0.5-1s of plan/schedule/commit fixed cost)
            obs = Observation("tpc_sinks")
            tpc = turns_per_conversation(routed).observe(
                obs,
                *[
                    F.coalesce(
                        F.sum(F.when(F.col("route") == s, F.col("n_turns"))),
                        F.lit(0),
                    ).cast("long").alias(s)
                    for s in settings.sinks
                ],
                # guard: a route outside settings.sinks (possible via a
                # custom policy's routes.default) must not silently vanish
                # from the sink-count table
                F.coalesce(
                    F.sum(
                        F.when(~F.col("route").isin(*settings.sinks), F.col("n_turns"))
                    ),
                    F.lit(0),
                ).cast("long").alias("_unrouted"),
            )
            lake.write(
                tpc,
                "agg_turns_per_conversation",
                input_snapshot=routed_snapshot,
            )
            vals = dict(obs.get)
            if vals.pop("_unrouted"):
                raise ValueError(
                    "routed table contains route values outside "
                    f"settings.sinks={settings.sinks}; extend sinks or fix "
                    "the routing policy"
                )
            counts = (
                pd.DataFrame(
                    {
                        "route": list(settings.sinks),
                        "n_rows": [int(vals[s]) for s in settings.sinks],
                    }
                )
                .loc[lambda d: d["n_rows"] > 0]
                .sort_values("route")
                .reset_index(drop=True)
            )
            lake.write_small(counts, "agg_sink_counts", routed_snapshot)

        # role_latency FIRST: it has the longest sequential chain of the
        # post-routed jobs (exchange -> bucketed windows -> stitch join ->
        # agg; ~4 AQE stage boundaries), so it defines the post-block
        # critical path — submitting it before the single-agg tables lets
        # their tasks fill the cores while its chain advances instead of
        # its final stage running alone after everything else finished
        # (event-log measured: a ~4s one-job tail at 4 cores, ~9.5s at 1)
        _concurrently(
            lambda: lake.write(
                role_latency_percentiles(routed, approx=approx_percentiles),
                "agg_role_latency",
                input_snapshot=routed_snapshot,
            ),
            build_tpc,
            lambda: lake.write(
                tool_call_frequency(routed, approx=approx_percentiles),
                "agg_tool_frequency",
                input_snapshot=routed_snapshot,
            ),
        )

    # drift, lineage and the aggregates are independent scans of the routed
    # table; overlapping their jobs hides per-job scheduling latency (this
    # fixed serial cost was the scaling-efficiency ceiling at small inputs).
    # Each is its own resumable stage with its own wall, so the overlapping
    # walls do not add up to the block's. Aggregates go first: they hold the
    # critical-path role-latency chain.
    _concurrently(
        lambda: stage(
            "aggregates",
            build_aggs,
            routed_snapshot,
            [
                "agg_sink_counts",
                "agg_turns_per_conversation",
                "agg_tool_frequency",
                "agg_role_latency",
            ],
        ),
        lambda: stage(
            "drift_calibration", build_drift, routed_snapshot, ["drift_calibration"]
        ),
        lambda: stage(
            "lineage",
            lambda: _write_lineage(spark, lake, "routed", res.input_snapshot),
            routed_snapshot,
            ["lineage_routed", "metrics_routed"],
        ),
    )
    return res


def _concurrently(*fns) -> None:
    """Run driver-side thunks in parallel threads (Spark jobs overlap)."""
    import concurrent.futures as cf

    with cf.ThreadPoolExecutor(max_workers=len(fns)) as ex:
        futures = [ex.submit(fn) for fn in fns]
        for f in futures:
            f.result()


def _write_lineage(
    spark: SparkSession, lake: Lake, stage_name: str, input_snapshot: str
) -> None:
    """Per-partition lineage rows + stage metrics (north rule requirement).

    Reference analog: per-stage stats parquet/JSON
    (/root/reference/src/transform/sync.py:375-439,
     /root/reference/src/ingestion/ingest.py:268-299).

    One narrow scan computes (file, route)-grained counts; both the
    per-file lineage table and the per-route metrics table derive from
    that tiny intermediate on the driver — one job, not two. The lineage
    key is the written FILE PATH (``_metadata.file_path``), which is
    stable across re-reads — ``spark_partition_id()`` on a re-read table
    is the split-planning id and changes with maxPartitionBytes/executor
    count, so it cannot anchor lineage at scale.
    """
    df = lake.read(stage_name)
    fine = (
        df.groupBy(
            F.col("_metadata.file_path").alias("partition_id"), F.col("route")
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.min("conv_id").alias("min_conv_id"),
            F.max("conv_id").alias("max_conv_id"),
            F.sum(F.col("is_backwards").cast("int")).alias("n_backwards_raw"),
            F.sum(F.col("is_gap").cast("int")).alias("n_gaps"),
        )
        .toPandas()
    )
    # Committer-v2 duplication guard: v2 promotes files at TASK commit
    # (non-atomic — a task attempt killed mid-commit leaves partial files
    # that its retry's commit then duplicates). The manifest swap only
    # gives JOB-level atomicity, so compare the logical row count captured
    # by observe() during the write against the count read back from the
    # written files — this lineage scan already counts every row, so the
    # check is free. Failed-task metrics are excluded from observe()
    # (countFailedValues=false), making it the exact logical count.
    expected = lake.stage_metrics(stage_name).get("n_rows")
    read_back = int(fine["n_rows"].sum())
    if expected is not None and read_back != int(expected):
        raise RuntimeError(
            f"{stage_name}: read-back row count {read_back} != observed "
            f"{expected} — likely orphan files from a task-commit retry "
            "under committer v2; rewrite the stage"
        )
    lineage = (
        fine.groupby("partition_id")
        .agg(
            n_rows=("n_rows", "sum"),
            min_conv_id=("min_conv_id", "min"),
            max_conv_id=("max_conv_id", "max"),
        )
        .reset_index()
        .assign(stage=stage_name, input_snapshot=input_snapshot)
    )
    # one (file x route) row per written file — bounded at any scale, so
    # these audit tables write driver-side (no Spark job fixed cost)
    lake.write_small(lineage, f"lineage_{stage_name}", input_snapshot)
    metrics = (
        fine.groupby("route")
        .agg(
            n_rows=("n_rows", "sum"),
            n_backwards_raw=("n_backwards_raw", "sum"),
            n_gaps=("n_gaps", "sum"),
        )
        .reset_index()
    )
    lake.write_small(metrics, f"metrics_{stage_name}", input_snapshot)

"""The traced run: per-layer figures, measured from outside the package.

batch_hot runs each layer's public function in turn on the benchmark
thread, tags the layer's Spark jobs with ``setJobGroup`` and digests the
session's event log. The post-routed layers run one at a time on purpose:
``plans.pipeline._concurrently`` uses plain threads, which do not inherit
the caller's job group. stream_compact reads ``StreamingQuery.recentProgress``
and times ``Lake.compact``; queries_headline times each query.

A traced run reports every per-layer metric; a layer the workload does not
call reads 0.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time

from .catalog import LAYER_STATS, POST_LAYERS, PREFIX_LAYERS, per_layer
from .common import dir_bytes

UNTAGGED = "perfbench.untagged"
REPS = 3  # each layer of batch_hot is traced this often; medians are reported


# -- event log digester ------------------------------------------------------
def event_log_files(log_dir: str) -> list[str]:
    """The event-log files under ``log_dir``: single-file logs and Spark 4's
    rolling ``eventlog_v2_*/events_*`` parts, in write order."""
    files = []
    for p in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(p):
            parts = glob.glob(os.path.join(p, "events_*"))
            files += sorted(parts, key=lambda f: int(os.path.basename(f).split("_")[1]))
        elif not os.path.basename(p).startswith("."):
            files.append(p)
    for f in files:
        if f.endswith((".lz4", ".lzf", ".snappy", ".zstd", ".zst")):
            raise ValueError(f"{f}: compressed event log; set spark.eventLog.compress=false")
    return files


def digest(lines) -> dict[str, dict]:
    """Per job group: task CPU, GC, shuffle write, spill, input bytes, task
    count and straggler ratio (max / median task run time of the group's
    heaviest stage). ``lines`` are event-log JSON lines."""
    stage_group: dict[int, str] = {}
    tasks: dict[int, list[dict]] = {}
    for line in lines:
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue  # a partly flushed last line
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group or UNTAGGED)
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                stage_group[ev["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics") or {}
            tasks.setdefault(ev["Stage ID"], []).append({
                "run_ms": tm.get("Executor Run Time", 0),
                "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                "gc_s": tm.get("JVM GC Time", 0) / 1e3,
                "shuffle_write_mb": (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0) / 2**20,
                "spill_mb": tm.get("Disk Bytes Spilled", 0) / 2**20,
                "input_mb": (tm.get("Input Metrics") or {}).get("Bytes Read", 0) / 2**20,
            })
    out: dict[str, dict] = {}
    heaviest: dict[str, tuple[float, list[int]]] = {}
    for sid, ts in tasks.items():
        g = out.setdefault(stage_group.get(sid, UNTAGGED), {
            "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
            "input_mb": 0.0, "tasks": 0, "straggler": 1.0,
        })
        for t in ts:
            for k in ("cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "input_mb"):
                g[k] += t[k]
        g["tasks"] += len(ts)
        runs = [t["run_ms"] for t in ts]
        name = stage_group.get(sid, UNTAGGED)
        if sum(runs) > heaviest.get(name, (-1.0, []))[0]:
            heaviest[name] = (sum(runs), runs)
    for name, (_, runs) in heaviest.items():
        out[name]["straggler"] = max(runs) / max(statistics.median(runs), 1)
    return out


def digest_dir(log_dir: str) -> dict[str, dict]:
    def lines():
        for f in event_log_files(log_dir):
            with open(f) as fh:
                yield from fh

    return digest(lines())


# -- traced runs ---------------------------------------------------------------
def _tagged(sc, group: str, fn) -> float:
    sc.setJobGroup(group, group)
    t0 = time.perf_counter()
    try:
        fn()
    finally:
        sc.setJobGroup(UNTAGGED, UNTAGGED)
    return time.perf_counter() - t0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def trace_batch(spark, w, lake: str) -> tuple[list[dict], dict]:
    """Run the batch layers one at a time, ``REPS`` times over. Returns the
    python-measured walls of each repetition and the routed table's size;
    the event log is digested after the session stops. Repetition ``r`` of
    a layer runs in job group ``<layer>#<r>``."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from racing_telemetry_pipeline_spark.config import DEFAULTS as S
    from racing_telemetry_pipeline_spark.datagen.dims import dim_roles_pdf, dim_tools_pdf
    from racing_telemetry_pipeline_spark.functions.grok import parse_text
    from racing_telemetry_pipeline_spark.operators.aggregates import (
        role_latency_percentiles,
        tool_call_frequency,
        turns_per_conversation,
    )
    from racing_telemetry_pipeline_spark.operators.dedup import add_ingest_ordinal
    from racing_telemetry_pipeline_spark.operators.drift import drift_calibration
    from racing_telemetry_pipeline_spark.operators.routing import apply_sentinels, route_rows
    from racing_telemetry_pipeline_spark.operators.skew import salted_parse_sync
    from racing_telemetry_pipeline_spark.plans.pipeline import _write_lineage
    from racing_telemetry_pipeline_spark.schemas import validate_raw, validate_routed
    from racing_telemetry_pipeline_spark.sources.lake import Lake

    sc = spark.sparkContext
    shutil.rmtree(lake, ignore_errors=True)
    lk = Lake(spark, lake)
    snap = lk.fingerprint_input(w.raw)

    def enrich_route(df):
        roles = F.broadcast(spark.createDataFrame(dim_roles_pdf()))
        tools = F.broadcast(
            spark.createDataFrame(dim_tools_pdf()).withColumnRenamed("tool", "tool_key")
        )
        df = df.join(roles, on="role", how="left")
        df = df.join(tools, df.tool_name == tools.tool_key, how="left").drop("tool_key")
        return validate_routed(route_rows(df, S))

    steps = [
        lambda _: add_ingest_ordinal(validate_raw(spark.read.parquet(w.raw))),
        lambda df: salted_parse_sync(
            df, bucket_turns=S.salt_bucket_turns, gap_threshold_sec=S.gap_threshold_sec,
            backwards_tolerance_sec=S.backwards_tolerance_sec,
        ),
        lambda df: apply_sentinels(parse_text(df, engine="pandas_udf"), S),
        enrich_route,
    ]
    routed_mb = 0.0
    reps = []
    for r in range(REPS):
        walls: dict[str, float] = {}
        df = None
        for layer, step in zip(PREFIX_LAYERS, steps):
            df = step(df)
            walls[layer] = _tagged(sc, f"{layer}#{r}", lambda: _noop(df))

        def write_routed():
            obs = Observation("routed_stats")
            routed = df.observe(obs, F.count(F.lit(1)).alias("n_rows"))
            lk.write(routed, "routed", partition_by=["route"], input_snapshot=snap)
            lk.record_stage_metrics("routed", dict(obs.get))

        walls[PREFIX_LAYERS[-1]] = _tagged(sc, f"{PREFIX_LAYERS[-1]}#{r}", write_routed)
        routed_mb = dir_bytes(os.path.join(lake, "routed")) / 2**20
        routed = lk.read("routed")
        posts = [
            lambda: lk.write(drift_calibration(
                routed, window_sec=S.drift_window_sec, step_std_factor=S.step_std_factor,
                dt_col="dt_sec"), "drift_calibration"),
            lambda: lk.write(role_latency_percentiles(routed), "agg_role_latency"),
            lambda: lk.write(tool_call_frequency(routed), "agg_tool_frequency"),
            lambda: lk.write(turns_per_conversation(routed), "agg_turns_per_conversation"),
            lambda: _write_lineage(spark, lk, "routed", snap),
        ]
        for layer, fn in zip(POST_LAYERS, posts):
            walls[layer] = _tagged(sc, f"{layer}#{r}", fn)
        reps.append(walls)
    return reps, {"routed_mb": routed_mb}


def batch_layer_metrics(reps: list[dict], groups: dict, lake_facts: dict,
                        timings: dict, untraced_wall: float) -> dict[str, float]:
    """Per-layer metrics, each the median over the traced repetitions.
    Prefix layers report their difference to the previous prefix."""
    per_rep = [_rep_metrics(walls, {k.rsplit("#", 1)[0]: v for k, v in groups.items()
                                    if k.endswith(f"#{r}")}, lake_facts, timings)
               for r, walls in enumerate(reps)]
    out = {k: statistics.median(m[k] for m in per_rep) for k in per_rep[0]}
    # the traced pipeline: the full routed write plus the post layers, serially
    traced = statistics.median(
        walls[PREFIX_LAYERS[-1]] + sum(walls[p] for p in POST_LAYERS) for walls in reps
    )
    out["trace.overhead_s"] = traced - untraced_wall
    return out


def _rep_metrics(walls: dict, groups: dict, lake_facts: dict,
                 timings: dict) -> dict[str, float]:
    zero = {k: 0.0 for k in ("cpu_s", "gc_s", "shuffle_write_mb", "spill_mb",
                              "input_mb", "tasks")}
    out: dict[str, float] = {}
    prev = dict(zero, wall_s=0.0)
    for layer in PREFIX_LAYERS:
        cur = dict(groups.get(layer, dict(zero, straggler=1.0)), wall_s=walls[layer])
        for stat in LAYER_STATS:
            out[f"{layer}.{stat}"] = (
                cur[stat] if stat == "straggler" else cur[stat] - prev[stat]
            )
        prev = cur
    for layer in POST_LAYERS:
        cur = dict(groups.get(layer, dict(zero, straggler=1.0)), wall_s=walls[layer])
        for stat in LAYER_STATS:
            out[f"{layer}.{stat}"] = cur[stat]
    post_serial = sum(walls[p] for p in POST_LAYERS)
    post_block = timings["aggregates"]
    out["plans.pipeline.routed_stage_s"] = timings["routed"]
    out["plans.pipeline.post_block_s"] = post_block
    out["plans.pipeline.overlap_gain_s"] = post_serial - post_block
    out["plans.pipeline.routed_read_amplification"] = sum(
        groups.get(p, zero)["input_mb"] for p in POST_LAYERS
    ) / lake_facts["routed_mb"]
    return out


def stream_layer_metrics(w) -> dict[str, float]:
    """The last iteration's ``recentProgress`` and compaction (nothing is
    traced)."""
    prog = [p for p in w.progress if p.get("numInputRows", 0) > 0]

    def dur(key):
        return sum(p.get("durationMs", {}).get(key, 0) for p in prog) / 1e3

    state = (prog[-1].get("stateOperators") or [{}])[0] if prog else {}
    return {
        "streaming.batches": len(prog),
        "streaming.add_batch_s": dur("addBatch"),
        "streaming.planning_s": dur("queryPlanning"),
        "streaming.commit_s": dur("commitOffsets") + dur("walCommit"),
        "streaming.state_rows": state.get("numRowsTotal", 0),
        "streaming.state_mem_mb": state.get("memoryUsedBytes", 0) / 2**20,
        "sources.lake.compact_s": w.compact_s,
        "sources.lake.compact_files_in": w.files_in,
        "sources.lake.compact_files_out": w.files_out,
    }


def query_layer_metrics(passes: list[dict]) -> dict[str, float]:
    """Median time of each query over warm passes (nothing is traced)."""
    return {f"queries.{q}_s": statistics.median(p[q] for p in passes) for q in passes[0]}


def complete(measured: dict[str, float]) -> dict[str, float]:
    """Every per-layer metric: the measured ones, 0 for layers not called."""
    unknown = set(measured) - set(per_layer())
    if unknown:
        raise KeyError(f"not in the per-layer catalogue: {sorted(unknown)}")
    return {name: float(measured.get(name, 0.0)) for name in per_layer()}

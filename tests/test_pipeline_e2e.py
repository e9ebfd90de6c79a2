"""End-to-end pipeline vs oracle: routing counts, aggregates, per-turn text
equality, resume idempotence, skew salting (FIXTURES.md §5)."""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from racing_telemetry_pipeline_spark.plans.pipeline import run_pipeline
from racing_telemetry_pipeline_spark.sources.lake import Lake

from .conftest import assert_pdf_equal


@pytest.fixture(scope="module")
def lake_small(spark, raw_small, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("lake_small"))
    run_pipeline(spark, raw_small, root)
    return Lake(spark, root)


def test_routing_counts(lake_small, oracle_small):
    got = lake_small.read("agg_sink_counts")
    assert_pdf_equal(got, oracle_small["sink_counts"], ["route"])
    # all three sinks actually receive rows at sf-small
    routes = set(got.toPandas()["route"])
    assert routes == {"valid", "quarantine", "tool_events"}


def test_turns_per_conversation(lake_small, oracle_small):
    got = lake_small.read("agg_turns_per_conversation")
    assert_pdf_equal(got, oracle_small["turns_per_conversation"], ["route", "conv_id"])


def test_tool_frequency(lake_small, oracle_small):
    got = lake_small.read("agg_tool_frequency")
    assert_pdf_equal(got, oracle_small["tool_frequency"], ["tool_name"])


def test_role_latency_percentiles(lake_small, oracle_small):
    got = lake_small.read("agg_role_latency")
    assert_pdf_equal(got, oracle_small["role_latency"], ["role"])


def test_turn_text_equality(lake_small, oracle_small):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering —
    the north-star per-row invariant."""
    got = (
        lake_small.read("routed")
        .select("conv_id", "turn_idx", "text", "route")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    want = (
        oracle_small["routed"][["conv_id", "turn_idx", "text", "route"]]
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def test_quarantine_reasons(lake_small, oracle_small):
    got = (
        lake_small.read("routed")
        .filter(F.col("route") == "quarantine")
        .groupBy("reason")
        .count()
        .toPandas()
        .set_index("reason")["count"]
        .sort_index()
    )
    o = oracle_small["routed"]
    want = (
        o[o["route"] == "quarantine"].groupby("reason").size().sort_index()
    )
    assert got.to_dict() == want.to_dict()
    assert {"unknown_role", "malformed_tool_call", "negative_latency"} <= set(got.index)


def test_drift_calibration(lake_small, oracle_small):
    got = lake_small.read("drift_calibration")
    assert_pdf_equal(
        got, oracle_small["drift_calibration"], ["conv_id", "win_start"], atol=1e-9
    )


POST_ROUTED = {
    "drift_calibration": ["drift_calibration"],
    "lineage": ["lineage_routed", "metrics_routed"],
    "aggregates": [
        "agg_sink_counts",
        "agg_turns_per_conversation",
        "agg_tool_frequency",
        "agg_role_latency",
    ],
}


def _newest_mtime(path):
    return max(
        os.path.getmtime(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
    )


def test_resume_idempotent(spark, raw_unit, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("lake_resume"))
    r1 = run_pipeline(spark, raw_unit, root)
    assert set(r1.stages_run) == {"routed", *POST_ROUTED}
    assert set(r1.timings) == set(r1.stages_run)
    routed_dir = os.path.join(root, "routed")
    mtime_before = _newest_mtime(routed_dir)

    # crash after the routed stage: the post-routed tables never landed
    for tables in POST_ROUTED.values():
        for t in tables:
            shutil.rmtree(os.path.join(root, t))
    r2 = run_pipeline(spark, raw_unit, root)
    assert r2.stages_skipped == ["routed"]  # stage 1 NOT recomputed
    assert set(r2.stages_run) == set(POST_ROUTED)
    assert set(r2.timings) == set(r2.stages_run)
    assert _newest_mtime(routed_dir) == mtime_before

    # one lost table re-runs only the stage that owns it
    shutil.rmtree(os.path.join(root, "lineage_routed"))
    r3 = run_pipeline(spark, raw_unit, root)
    assert r3.stages_run == ["lineage"]
    assert set(r3.timings) == {"lineage"}

    # nothing changed: every stage skipped
    r4 = run_pipeline(spark, raw_unit, root)
    assert r4.stages_run == [] and r4.timings == {}
    assert set(r4.stages_skipped) == {"routed", *POST_ROUTED}
    assert _newest_mtime(routed_dir) == mtime_before

    # full fresh run produces identical sink contents
    root2 = str(tmp_path_factory.mktemp("lake_fresh"))
    run_pipeline(spark, raw_unit, root2)
    for t in ("routed", "agg_sink_counts", "agg_role_latency"):
        a = (
            spark.read.parquet(os.path.join(root, t))
            .orderBy(*spark.read.parquet(os.path.join(root, t)).columns)
            .toPandas()
        )
        b = (
            spark.read.parquet(os.path.join(root2, t))
            .orderBy(*spark.read.parquet(os.path.join(root2, t)).columns)
            .toPandas()
        )
        pd.testing.assert_frame_equal(a, b)


def test_lineage_and_metrics_emitted(lake_small):
    lineage = lake_small.read("lineage_routed").toPandas()
    assert (lineage["n_rows"] > 0).all()
    assert lineage["stage"].eq("routed").all()
    assert lineage["input_snapshot"].nunique() == 1
    metrics = lake_small.read("metrics_routed").toPandas()
    assert set(metrics["route"]) == {"valid", "quarantine", "tool_events"}


def test_lineage_guard_catches_duplicate_part_file(spark, lake_small, tmp_path):
    """Committer-v2 read-back guard, failure injected: a part file that a
    task-commit retry duplicated makes the rows read back from the routed
    table exceed the count observe() captured during the write, and the
    lineage stage must refuse it."""
    import glob

    from racing_telemetry_pipeline_spark.plans.pipeline import _write_lineage

    root = str(tmp_path / "lake")
    shutil.copytree(lake_small.root, root)
    valid = os.path.join(root, "routed", "route=valid")
    part = sorted(glob.glob(os.path.join(valid, "part-*")))[0]
    shutil.copy(part, os.path.join(valid, "retry-" + os.path.basename(part)))
    lake = Lake(spark, root)
    snap = lake._load_manifest()["tables"]["routed"]["input_snapshot"]
    with pytest.raises(RuntimeError, match="read-back row count"):
        _write_lineage(spark, lake, "routed", snap)


def test_parse_engines_agree_end_to_end(spark, raw_unit, tmp_path_factory):
    roots = {}
    for engine in ("pandas_udf", "builtin"):
        root = str(tmp_path_factory.mktemp(f"lake_{engine}"))
        run_pipeline(spark, raw_unit, root, parse_engine=engine)
        roots[engine] = root
    a = (
        spark.read.parquet(os.path.join(roots["pandas_udf"], "routed"))
        .select("conv_id", "turn_idx", "route", "reason", "tool_name", "latency_ms")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    b = (
        spark.read.parquet(os.path.join(roots["builtin"], "routed"))
        .select("conv_id", "turn_idx", "route", "reason", "tool_name", "latency_ms")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    pd.testing.assert_frame_equal(a, b)


def test_observed_metrics_match_data(lake_small, oracle_small):
    """observe()-captured write metrics equal oracle ground truth."""
    m = lake_small.stage_metrics("routed")
    o = oracle_small["routed"]
    assert m["n_rows"] == len(o)
    assert m["n_quarantined"] == (o["route"] == "quarantine").sum()
    assert m["n_tool_calls"] == o["parse_ok"].sum()
    assert m["n_backwards_raw"] == o["is_backwards"].sum()
    assert m["n_gaps"] == o["is_gap"].sum()

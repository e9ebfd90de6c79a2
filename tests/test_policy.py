"""Policy compiler: the yaml policy's warn checks become flag columns that
never route (V1-V4, reference validation_policy.yaml analog). Route and
reason themselves are checked against the independent pandas oracle in
tests/test_pipeline_e2e.py (test_routing_counts, test_quarantine_reasons)."""

from __future__ import annotations

from pyspark.sql import functions as F

from racing_telemetry_pipeline_spark.config import DEFAULTS
from racing_telemetry_pipeline_spark.operators.routing import (
    compile_policy,
    load_policy,
)
from racing_telemetry_pipeline_spark.plans.pipeline import _build_routed


def test_policy_warn_flags(spark, raw_unit):
    base = _build_routed(spark, raw_unit, DEFAULTS, "builtin").drop("route", "reason")
    pol = compile_policy(base, load_policy())
    assert "warn_slow_tool_call" in pol.columns
    assert "warn_long_gap" in pol.columns
    n_warn = pol.filter(F.col("warn_slow_tool_call")).count()
    assert n_warn > 0  # latency uniform 1..1999 => some > 1900
    # warn does not quarantine
    assert (
        pol.filter(F.col("warn_slow_tool_call") & (F.col("route") == "quarantine"))
        .filter(F.col("reason").isNull())
        .count()
        == 0
    )

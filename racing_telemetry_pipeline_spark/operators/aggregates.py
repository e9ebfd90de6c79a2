"""Per-sink aggregate tables (SURVEY.md §2.5 A4-A7 analogs).

- turns-per-conversation  <- per-signal baseline stats
  (/root/reference/tools/compute_baseline.py:31-76)
- tool-call frequency     <- per-lap feature rollups
  (/root/reference/src/schemas/features.py:8-78)
- per-role latency percentiles <- lap-time stats / robust estimators
  (/root/reference/src/transform/drift.py:197-264)

Percentiles are EXACT (``percentile``) so the oracle equality is bitwise at
test scale; at 10^12 rows swap to ``percentile_approx`` via the
``approx=True`` flag (documented tolerance, SURVEY.md §7.4 risk 4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _sorted_small(df: DataFrame, *cols: str) -> DataFrame:
    """Sort a result whose row count is bounded by a small fixed key set
    (roles, tool names) as ONE sorted partition. A global ``orderBy``
    plans a range exchange whose sampling job runs the final aggregation
    (for the exact percentiles, the per-group merge of every value) once
    to sample and again to shuffle, then sorts in a third stage; one sorted
    partition holds the same rows in the same order after one pass."""
    return df.coalesce(1).sortWithinPartitions(*cols)


def turns_per_conversation(routed: DataFrame) -> DataFrame:
    """Rows per (sink, conversation) — exact counts, two-level agg."""
    return (
        routed.groupBy("route", "conv_id")
        .agg(F.count("*").alias("n_turns"))
        .orderBy("route", "conv_id")
    )


def tool_call_frequency(
    routed: DataFrame, approx: bool = False, exact_sums: bool = False
) -> DataFrame:
    """``exact_sums=True`` swaps the rounded latency average for an exact
    BIGINT sum (avg = sum/n is recoverable) — the hash-gate form: a rounded
    quotient can terminate exactly on a round-half boundary where Spark's
    decimal HALF_UP and DuckDB's binary rounding disagree."""
    pct = (
        F.percentile_approx("latency_ms", 0.95)
        if approx
        else F.expr("percentile(latency_ms, 0.95)")
    )
    latency_stat = (
        F.sum("latency_ms").alias("sum_latency_ms")
        if exact_sums
        else F.round(F.avg("latency_ms"), 4).alias("avg_latency_ms")
    )
    per_tool = (
        routed.filter(F.col("route") == "tool_events")
        .groupBy("tool_name")
        .agg(
            F.count("*").alias("n_calls"),
            latency_stat,
            F.round(pct, 4).alias("p95_latency_ms"),
            F.sum("args_bytes").alias("total_args_bytes"),
        )
    )
    return _sorted_small(per_tool, "tool_name")


def role_latency_percentiles(
    routed: DataFrame, approx: bool = False, bucket_turns: int = 32768
) -> DataFrame:
    """Per-role inter-turn latency percentiles over non-quarantined rows.

    latency = ts_sync - previous non-quarantined turn's ts_sync within the
    conversation. The lag runs SKEW-SAFE (operators/skew.py
    ``salted_prev_ts_us``): windows execute within (conv, turn-range
    bucket) and bucket boundaries are stitched through a tiny per-bucket
    summary, so a hot conversation holding millions of turns never becomes
    a single straggler task — the same discipline the parse->sync chain
    applies, byte-identical to the plain conv-wide lag
    (tests/test_skew.py::test_salted_prev_us_matches_plain_lag).
    """
    from .skew import salted_prev_ts_us

    flow = (
        salted_prev_ts_us(
            routed.filter(F.col("route") != "quarantine"),
            ts_col="ts_sync",
            bucket_turns=bucket_turns,
        )
        .withColumn(
            "turn_latency_sec",
            (F.col("_us") - F.col("_prev_us")) / F.lit(1_000_000.0),
        )
        .drop("_us", "_prev_us")
        .filter(F.col("turn_latency_sec").isNotNull())
    )

    # ONE percentile sketch per group for all three quantiles — three
    # scalar percentile_approx calls would build three independent
    # QuantileSummaries over every row, tripling the dominant per-row cost
    # of this aggregation
    if approx:
        pcts = F.percentile_approx(
            "turn_latency_sec", F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99))
        )
    else:
        pcts = F.expr("percentile(turn_latency_sec, array(0.5, 0.95, 0.99))")

    per_role = (
        flow.groupBy("role")
        .agg(
            F.count("*").alias("n_turns"),
            pcts.alias("_pcts"),
        )
        .select(
            "role",
            "n_turns",
            F.round(F.col("_pcts")[0], 6).alias("p50_latency_sec"),
            F.round(F.col("_pcts")[1], 6).alias("p95_latency_sec"),
            F.round(F.col("_pcts")[2], 6).alias("p99_latency_sec"),
        )
    )
    return _sorted_small(per_role, "role")

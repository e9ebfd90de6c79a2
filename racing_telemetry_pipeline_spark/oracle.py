"""Single-process pandas oracle for the transcript pipeline.

Implements the EXACT same semantics as plans/pipeline.py but in plain
pandas with implicit file-order (the way the reference works natively —
/root/reference/src/ingestion/anomalies.py:39-95 relies on pandas row
order). Tests assert the distributed Spark results equal this oracle 100%:
per-sink routed-row counts, per-sink aggregates, and per-turn text equality
under stable (conv_id, turn_idx) ordering (FIXTURES.md §4).

No pyspark imports here — this must stay an independent implementation.
"""

from __future__ import annotations

import glob
import os
import re

import numpy as np
import pandas as pd

from .config import DEFAULTS, PipelineSettings
from .datagen.dims import dim_roles_pdf, dim_tools_pdf

TOOL_CALL_RE = r'<tool_call name="([a-z_]+)" args_bytes=(\d+) latency_ms=(-?\d+)/>'
EVENT_RE = r"\[event:([a-z]+)\]"


def _round_half_up(s: pd.Series, decimals: int) -> pd.Series:
    # Spark's ROUND is HALF_UP; numpy/python round are banker's.
    factor = 10.0**decimals
    return np.floor(s.astype(float) * factor + 0.5) / factor


def read_raw(raw_dir: str) -> pd.DataFrame:
    files = sorted(glob.glob(os.path.join(raw_dir, "*.parquet")))
    df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    return df


def run_oracle(
    raw_dir: str, settings: PipelineSettings = DEFAULTS
) -> dict[str, pd.DataFrame]:
    df = read_raw(raw_dir)

    # parse stage: keep-last dedup (file order) + regex extraction
    df = df.drop_duplicates(subset=["conv_id", "turn_idx"], keep="last").copy()
    tc = df["text"].str.extract(TOOL_CALL_RE)
    df["tool_name"] = tc[0]
    df["args_bytes"] = pd.to_numeric(tc[1], errors="coerce").astype("Int64")
    df["latency_ms"] = pd.to_numeric(tc[2], errors="coerce").astype("Int64")
    df["event_kind"] = df["text"].str.extract(EVENT_RE)[0]
    df["has_tool_markup"] = df["text"].str.contains("<tool_call ", regex=False)
    df["parse_ok"] = (
        tc[0].notna() & df["args_bytes"].notna() & df["latency_ms"].notna()
    )
    df.loc[df["latency_ms"] == settings.latency_sentinel_ms, "latency_ms"] = pd.NA

    # time-sync stage
    df = df.sort_values(["conv_id", "turn_idx"], kind="stable").reset_index(drop=True)
    g = df.groupby("conv_id", sort=False)
    dt = g["ts"].diff().dt.total_seconds()
    df["dt_sec"] = dt
    df["is_backwards"] = (dt < -settings.backwards_tolerance_sec).fillna(False)
    df["is_gap"] = (dt > settings.gap_threshold_sec).fillna(False)
    df["segment_id"] = (
        (df["is_backwards"] | df["is_gap"]).astype("int64").groupby(df["conv_id"]).cumsum()
    )
    df["ts_sync"] = g["ts"].cummax()

    # enrich stage
    df = df.merge(dim_roles_pdf(), on="role", how="left")
    dtools = dim_tools_pdf().rename(columns={"tool": "tool_name"})
    df = df.merge(dtools, on="tool_name", how="left")

    # route stage: the rules of conf/policy.yaml restated independently
    reason = pd.Series(pd.NA, index=df.index, dtype="object")
    checks = [
        (df["ts"].isna(), "null_ts"),
        (df["role_group"].isna(), "unknown_role"),
        (df["has_tool_markup"] & ~df["parse_ok"], "malformed_tool_call"),
        ((df["latency_ms"] < 0).fillna(False), "negative_latency"),
        ((df["args_bytes"] > 10_000_000).fillna(False), "args_too_large"),
    ]
    for cond, code in checks:
        reason = reason.where(~(cond & reason.isna()), code)
    df["reason"] = reason
    df["route"] = np.where(
        reason.notna(), "quarantine", np.where(df["parse_ok"], "tool_events", "valid")
    )

    out: dict[str, pd.DataFrame] = {"routed": df}

    # aggregates
    out["sink_counts"] = (
        df.groupby("route").size().rename("n_rows").reset_index().sort_values("route")
    )
    out["turns_per_conversation"] = (
        df.groupby(["route", "conv_id"])
        .size()
        .rename("n_turns")
        .reset_index()
        .sort_values(["route", "conv_id"])
    )

    te = df[df["route"] == "tool_events"]
    tf = (
        te.groupby("tool_name")
        .agg(
            n_calls=("tool_name", "size"),
            avg_latency_ms=("latency_ms", lambda s: s.astype(float).mean()),
            p95_latency_ms=("latency_ms", lambda s: np.percentile(s.dropna().astype(float), 95)),
            total_args_bytes=("args_bytes", "sum"),
        )
        .reset_index()
        .sort_values("tool_name")
    )
    tf["avg_latency_ms"] = _round_half_up(tf["avg_latency_ms"], 4)
    tf["p95_latency_ms"] = _round_half_up(tf["p95_latency_ms"], 4)
    out["tool_frequency"] = tf

    flow = df[df["route"] != "quarantine"].copy()
    flow = flow.sort_values(["conv_id", "turn_idx"], kind="stable")
    lat = flow.groupby("conv_id", sort=False)["ts_sync"].diff().dt.total_seconds()
    flow["turn_latency_sec"] = lat
    flow = flow[flow["turn_latency_sec"].notna()]
    rl = (
        flow.groupby("role")
        .agg(
            n_turns=("turn_latency_sec", "size"),
            p50_latency_sec=("turn_latency_sec", lambda s: np.percentile(s, 50)),
            p95_latency_sec=("turn_latency_sec", lambda s: np.percentile(s, 95)),
            p99_latency_sec=("turn_latency_sec", lambda s: np.percentile(s, 99)),
        )
        .reset_index()
        .sort_values("role")
    )
    for c in ("p50_latency_sec", "p95_latency_sec", "p99_latency_sec"):
        rl[c] = _round_half_up(rl[c], 6)
    out["role_latency"] = rl

    # drift calibration audit (operators/drift.py semantics)
    d = df.copy()
    d["_dt"] = d.groupby("conv_id", sort=False)["ts"].diff().dt.total_seconds()
    win = settings.drift_window_sec
    ts_us = d["ts"].astype("datetime64[us]").astype("int64")
    d["win_start"] = (ts_us // (win * 1_000_000)) * win
    d = d[d["_dt"].notna()]
    cal = (
        d.groupby(["conv_id", "win_start"])
        .agg(
            drift_median=("_dt", "median"),
            drift_mean=("_dt", "mean"),
            drift_std=("_dt", lambda s: s.std(ddof=1)),
            n_samples=("_dt", "size"),
        )
        .reset_index()
    )
    med_std = cal.groupby("conv_id")["drift_std"].transform("median")
    cal["step_detected"] = (cal["drift_std"] > settings.step_std_factor * med_std).fillna(
        False
    )
    out["drift_calibration"] = cal
    return out

from .dedup import add_ingest_ordinal, dedup_keep_last
from .anomalies import add_time_flags
from .drift import monotonic_repair, drift_calibration
from .routing import route_rows
from .aggregates import (
    turns_per_conversation,
    tool_call_frequency,
    role_latency_percentiles,
)

__all__ = [
    "add_ingest_ordinal",
    "dedup_keep_last",
    "add_time_flags",
    "monotonic_repair",
    "drift_calibration",
    "route_rows",
    "turns_per_conversation",
    "tool_call_frequency",
    "role_latency_percentiles",
]

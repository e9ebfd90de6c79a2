"""Pipeline settings.

Mirrors the role of the reference's settings module
(/root/reference/src/conf/settings.py:20-80): one place for thresholds,
window sizes, sentinels and seeds. Values transfer the reference's
telemetry thresholds onto the transcript domain (FIXTURES.md §3).
Routing predicates are not settings: they live in ``conf/policy.yaml``
(operators/routing.py).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class PipelineSettings:
    # determinism (reference: settings.py:59 seed)
    seed: int = 42

    # time-sync stage (reference: settings.py:32-33 — 5-min drift windows,
    # step detection at 3x median window std)
    drift_window_sec: int = 300
    step_std_factor: float = 3.0
    backwards_tolerance_sec: float = 0.0

    # gap / segmentation (reference: gap >2s, src/utils/time_utils.py:93-114)
    gap_threshold_sec: float = 2.0

    # sentinels (reference: lap sentinel 32768, src/transform/lap_repair.py:15)
    latency_sentinel_ms: int = 32768

    # skew handling (operators/skew.py): per-conv windows run within
    # turn-range buckets of this width, stitched across boundaries — no
    # task processes more than ~bucket rows of one conversation
    salt_bucket_turns: int = 32768

    # routing sink names (the predicates live in conf/policy.yaml)
    sinks: tuple[str, ...] = ("valid", "quarantine", "tool_events")


DEFAULTS = PipelineSettings()


@dataclass(frozen=True)
class Scale:
    """Synthetic-data scale presets (FIXTURES.md §1)."""

    name: str
    n_convs: int
    mean_turns: int
    n_hot: int  # hot conversations, each ~5% of all turns


SCALES: dict[str, Scale] = {
    "sf-unit": Scale("sf-unit", n_convs=50, mean_turns=40, n_hot=1),
    "sf-small": Scale("sf-small", n_convs=900, mean_turns=220, n_hot=2),
    "sf-bench": Scale("sf-bench", n_convs=9000, mean_turns=900, n_hot=3),
    # the wide (local[4] vs local[16]) bench pair input. Sizing is a
    # measured tradeoff (round 4): the ~10s/run fixed driver cost argues
    # for a BIGGER input (at 44M turns it caps the pair at ~0.76), but a
    # 48000-conv (~58M turn) variant pushed the 16-thread config into the
    # host's shared DRAM-bandwidth ceiling — its per-row cost rose 20%
    # while local[4]'s stayed flat, NET-WORSENING the ratio to ~0.63. A
    # real cluster adds memory channels with every node; one box cannot.
    # 36000 convs (~44M turns) is the sweet spot on this host.
    "sf-scaling": Scale("sf-scaling", n_convs=36000, mean_turns=900, n_hot=3),
}

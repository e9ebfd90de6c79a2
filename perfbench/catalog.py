"""Names the benchmark reports. Every name here is also a name in
BENCHMARK.json (workloads, end_to_end, per_layer);
``tests/test_plumbing.py`` keeps the two in step. README.md says which
end-to-end metric each layer metric should move, on which workload.
"""

from __future__ import annotations

WORKLOADS = ("batch_hot", "stream_compact", "queries_headline")

# The 12 headline registry queries (the list bench.py times).
HEADLINE = (
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_region_revenue",
    "v4_route_fanout",
    "w2_gaps_segments",
    "a1_hourly_stats",
    "w9_interpolate",
    "d1_dedup_keep_last",
    "dd2_ngram_jaccard_pairs",
    "dd3_minhash_signatures",
    "sim1_cosine_topk",
    "tx2_quality_score",
)

# name -> unit, better
END_TO_END = {
    "setup_s": ("s", "lower"),
    "first_iter_s": ("s", "lower"),
    "iter_s": ("s", "lower"),
    "turns_per_s": ("1/s", "higher"),
    "lake_bytes_per_turn": ("bytes", "lower"),
}

# Layers of batch_hot traced one after another. The first five are an
# incremental prefix plan (each adds one layer to the previous plan, and
# its figures are the difference to the previous prefix); the rest run
# whole over the routed table the fifth one writes.
PREFIX_LAYERS = (
    "sources.scan",
    "operators.skew.sync",
    "functions.grok.parse",
    "operators.routing.enrich_route",
    "sources.lake.write_routed",
)
POST_LAYERS = (
    "operators.drift.calibration",
    "operators.aggregates.role_latency",
    "operators.aggregates.tool_frequency",
    "operators.aggregates.turns_per_conversation",
    "plans.pipeline.lineage",
)
LAYER_STATS = {
    "wall_s": ("s", "lower"),
    "cpu_s": ("s", "lower"),
    "gc_s": ("s", "lower"),
    "shuffle_write_mb": ("MB", "lower"),
    "spill_mb": ("MB", "lower"),
    "tasks": ("count", "lower"),
    "straggler": ("ratio", "lower"),
}
PIPELINE_METRICS = {
    "plans.pipeline.routed_stage_s": ("s", "lower"),
    "plans.pipeline.post_block_s": ("s", "lower"),
    "plans.pipeline.overlap_gain_s": ("s", "higher"),
    "plans.pipeline.routed_read_amplification": ("ratio", "lower"),
}
STREAM_METRICS = {
    "streaming.batches": ("count", "lower"),
    "streaming.add_batch_s": ("s", "lower"),
    "streaming.planning_s": ("s", "lower"),
    "streaming.commit_s": ("s", "lower"),
    "streaming.state_rows": ("count", "lower"),
    "streaming.state_mem_mb": ("MB", "lower"),
    "sources.lake.compact_s": ("s", "lower"),
    "sources.lake.compact_files_in": ("count", "lower"),
    "sources.lake.compact_files_out": ("count", "lower"),
}
QUERY_METRICS = {f"queries.{q}_s": ("s", "lower") for q in HEADLINE}
TRACE_METRICS = {"trace.overhead_s": ("s", "lower")}


def per_layer() -> dict[str, tuple[str, str]]:
    """Every per-layer metric, in BENCHMARK.json order."""
    out: dict[str, tuple[str, str]] = {}
    for layer in PREFIX_LAYERS + POST_LAYERS:
        for stat, ub in LAYER_STATS.items():
            out[f"{layer}.{stat}"] = ub
    for group in (PIPELINE_METRICS, STREAM_METRICS, QUERY_METRICS, TRACE_METRICS):
        out.update(group)
    return out

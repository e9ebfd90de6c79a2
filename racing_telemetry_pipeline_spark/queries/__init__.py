"""Driver-contract query registry.

Each module exposes ``QUERIES: dict[name, (spark_fn, oracle_sql | None)]``
where ``spark_fn(spark, sf_dir) -> DataFrame`` and ``oracle_sql`` is the
equivalent DuckDB SQL over the pre-registered testdata views. Column names
and value rounding are kept identical on both sides (driver hashes values
after sorting columns by name).

CURATION (round 3): the driver records CORRECTNESS rows for the FIRST 50
``queries()`` entries only, so ``all_queries()`` returns an explicitly
curated 50-entry window covering every SURVEY.md §2 operator and every
LLM-pipeline op exactly once. The registry holds 57 entries; the seven
outside the window are building blocks that a curated entry consumes, or
a composition of them:

  dd3               -> MinHash signatures consumed (and hash-verified) by dd4
  dd5               -> SimHash signatures consumed and hash-verified by
                       dd8's band pairs
  sim2/sim3/sim4    -> LSH signatures/bucket-stats/norms consumed by sim5/sim7
  sim6              -> IVF assignment consumed by sim8 (same scored CTE)
  sim10             -> cc_bigstar over sim5's pairs (dd6's embedding twin)

Every entry stays implemented, importable, and verifiable via
``tools/check_oracle.py`` (which checks the FULL registry,
``all_queries_full()``).
"""

from __future__ import annotations

from . import (
    dedup_text,
    features,
    log_ops,
    multimodal_q,
    pipeline_queries,
    similarity,
    tpch,
)

# The curated driver window (<= 50 entries; the driver records exactly the
# first 50 of queries()). Order groups by module; every name must exist in
# exactly one module QUERIES dict.
CURATED = [
    # log_ops — the transcript/telemetry pipeline operator family (17)
    "p1_regex_parse",
    "d1_dedup_keep_last",
    "w1_monotonic_repair",
    "w2_gaps_segments",
    "a1_hourly_stats",
    "w5_step_detection",
    "j1_broadcast_enrich",
    "j2_asof_last_error",
    "r1_pivot_wide",
    "a6_hourly_active",
    "a9_gap_histogram",
    "v2_validation_stats",
    "v4_route_fanout",
    "w8_ffill_limit",
    "w7_hour_grid",
    "w9_interpolate",
    "w10_derived_rate",
    # tpch — relational coverage (4)
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_region_revenue",
    "a4_order_baseline_stats",
    # dedup + text analysis (10)
    "dd1_exact_dedup",
    "dd2_ngram_jaccard_pairs",
    "dd4_minhash_band_pairs",
    "dd8_simhash_hamming_pairs",
    "tx1_language_id",
    "tx2_quality_score",
    "tx3_token_stats",
    "tx4_fingerprint",
    "tx5_length_quantiles",
    "dd6_dedup_clusters",
    # similarity search (5)
    "sim1_cosine_topk",
    "sim5_embedding_neardup_pairs",
    "sim7_ann_topk",
    "sim8_ivf_topk",
    "sim9_kmeans_cells",
    # features — drift/baseline/coverage operator family (9)
    "r2_pivot_presence",
    "w6_boundary_confidence",
    "a7_segment_features",
    "a7_session_rollup",
    "j5_baseline_compare",
    "p3_unit_normalization",
    "p8_haversine_track",
    "a3_drift_rollup",
    "a5_coverage",
    # multimodal (1)
    "mm1_payload_features",
    # end-to-end pipeline invariants (4; rows-only where noted in module)
    "pipe1_routed",
    "pipe2_monotonic_invariant",
    "pipe3_tool_aggregates",
    "pipe4_drift_methods",
]

_MODULES = (
    log_ops,
    tpch,
    dedup_text,
    similarity,
    features,
    multimodal_q,
    pipeline_queries,
)


def all_queries_full():
    """Every implemented query, inside the curated window or not (tools/tests)."""
    out = {}
    for mod in _MODULES:
        out.update(mod.QUERIES)
    return out


def all_queries():
    """The curated driver window: first (and only) 50 entries recorded in
    CORRECTNESS_r{N}.json."""
    full = all_queries_full()
    missing = [n for n in CURATED if n not in full]
    assert not missing, f"curated names not implemented: {missing}"
    assert len(CURATED) <= 50, f"driver window is 50; curated={len(CURATED)}"
    return {name: full[name] for name in CURATED}


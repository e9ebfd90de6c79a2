"""Transcript-pipeline queries for the driver contract.

These run the actual north-star pipeline (plans/pipeline.py) over the
deterministic synthetic transcript table (FIXTURES.md §1), generated once
into a temp dir. pipe1-pipe3 carry full DuckDB oracles: the whole
parse->sync->enrich->route plan is re-expressed as one SQL chain over
``read_parquet(raw_dir, filename, file_row_number)`` (the ingest ordinal
DuckDB-side, mirroring Spark's ``_metadata`` ordinal), so the driver's
hash gate covers the pipeline end-to-end. pipe4 carries a full oracle
too since round 6: its Huber estimator is the FIXED-ITERATION IRLS
unroll (functions/robust.huber_fixed) — T reweight steps as plain CTEs,
the same trick sim9 uses for Lloyd iterations — so "iterative" no longer
means "not SQL-expressible". The convergence-based applyInPandas IRLS
remains value-asserted in tests/test_robust.py.
"""

from __future__ import annotations

import glob
import hashlib
import os
import tempfile

from pyspark.sql import functions as F

from ..config import DEFAULTS
from ..datagen import write_transcripts
from ..plans.pipeline import _build_routed
from ..sources.parquet import path_version, read_parquet

_CACHE: dict[str, str] = {}


def _raw_dir(scale: str = "sf-unit") -> str:
    if scale not in _CACHE:
        d = os.path.join(tempfile.gettempdir(), f"rtps_raw_{scale}")
        marker = os.path.join(d, "part-00000.parquet")
        if not os.path.exists(marker):
            write_transcripts(d, scale)
        _CACHE[scale] = d
    return _CACHE[scale]


def _code_fingerprint() -> str:
    """Hash of the sources that feed the routed build, so a cached routed
    table is invalidated the moment pipeline code or the routing policy
    (conf/*.yaml) changes (the cache lives in /tmp across runs). Scoped to
    the subpackages `_build_routed` actually imports — a touch to the query
    registry, streaming, or multimodal code must not rebuild the cache."""
    import racing_telemetry_pipeline_spark as pkg

    root = os.path.dirname(os.path.abspath(pkg.__file__))
    skip = {"queries", "streaming", "multimodal"}
    h = hashlib.md5()
    files = glob.glob(os.path.join(root, "**", "*.py"), recursive=True)
    files += glob.glob(os.path.join(root, "conf", "*.yaml"))
    for f in sorted(files):
        rel = os.path.relpath(f, root)
        if rel.split(os.sep)[0] in skip:
            continue
        st = os.stat(f)
        h.update(f"{rel}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:10]


def _routed_cached(spark, engine: str):
    """Materialize the routed table ONCE per (engine, code-version) and let
    pipe1/pipe2/pipe3 all read it — the driver calls each contract query
    separately, and rebuilding the full parse->sync->enrich->route plan
    three times cost round 1 its last two CORRECTNESS rows (driver budget
    ran out after pipe1)."""
    d = os.path.join(
        tempfile.gettempdir(), f"rtps_routed_{engine}_sfunit_{_code_fingerprint()}"
    )
    if not os.path.exists(os.path.join(d, "_SUCCESS")):
        routed = _build_routed(spark, _raw_dir(), DEFAULTS, parse_engine=engine)
        routed.write.mode("overwrite").parquet(d)
    return read_parquet(spark, d, path_version(d))


def pipe1_routed(spark, sf_dir):
    """Full parse->sync->enrich->route plan; per-sink counts + reasons."""
    routed = _routed_cached(spark, "pandas_udf")
    return routed.groupBy("route", "reason").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("conv_id").alias("n_convs"),
    )


def pipe2_monotonic_invariant(spark, sf_dir):
    """Post-repair backwards count must be 0 (north-star invariant W11)."""
    routed = _routed_cached(spark, "builtin")
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    flag = F.coalesce(F.col("ts_sync") < F.lag("ts_sync").over(w), F.lit(False))
    return routed.withColumn("_bw", flag.cast("int")).agg(
        F.sum("_bw").alias("n_backwards_after_repair"),
        F.sum(F.col("is_backwards").cast("int")).alias("n_backwards_raw"),
        F.count("*").alias("n_rows"),
    )


def pipe3_tool_aggregates(spark, sf_dir):
    """Per-sink aggregate stage over the routed plan (A4-A7 analog).

    Hash-gate form (``exact_sums=True``): latency is emitted as an exact
    BIGINT sum + count instead of ``round(avg, 4)`` — a rounded quotient
    can land exactly on a round-half boundary where Spark (decimal
    HALF_UP) and DuckDB (binary) disagree. p95 stays rounded: an
    interpolated quantile of integer latencies sits on a 2-dp grid, so
    round(·, 4) is identity on the shared double."""
    from ..operators.aggregates import tool_call_frequency

    routed = _routed_cached(spark, "pandas_udf")
    return tool_call_frequency(routed, exact_sums=True)


def pipe4_drift_methods(spark, sf_dir):
    """Per-conv drift estimated by mean vs median vs Huber side-by-side
    (reference compare_drift_methods analog). The Huber column uses the
    FIXED-ITERATION unrolled IRLS (functions/robust.huber_fixed,
    method="fixed"): T=8 reweight steps as pure Catalyst CTEs, mirrored
    step-for-step in the DuckDB oracle below — the same unrolling trick
    sim9 uses for its two Lloyd iterations, which upgrades this entry
    from rows-only to the full hash gate. The convergence-based
    applyInPandas IRLS (huber_by_group) stays value-asserted against an
    independent pandas oracle in tests/test_robust.py, which also pins
    fixed-T to converged-IRLS agreement. Rounding keeps the output
    hash-stable.

    ``exact_sums=True``: every order-dependent float aggregate in the
    chain (drift_mean, drift_std's sums, each IRLS step's weighted sums)
    accumulates through an exact decimal cast, so the doubles Spark
    produces are independent of partitioning/task order and the DuckDB
    twin computes the bit-identical values — round(·, 6) then never sits
    on a half-ulp knife edge between the engines (round-6 advice item)."""
    from pyspark.sql import functions as F

    from ..operators.drift import compare_drift_methods

    routed = _routed_cached(spark, "builtin")
    out = compare_drift_methods(
        routed, ts_col="ts_sync", dt_col="dt_sec", method="fixed",
        exact_sums=True,
    )
    return out.select(
        "conv_id",
        "n_samples",
        F.round("drift_mean", 6).alias("drift_mean"),
        F.round("drift_median", 6).alias("drift_median"),
        F.round("drift_std", 6).alias("drift_std"),
        F.round("drift_huber", 6).alias("drift_huber"),
    )


# --- DuckDB oracle: the routed table as ONE SQL chain -----------------------
# Semantics mirror plans/pipeline.py `_build_routed` stage by stage:
# keep-last dedup by (filename, file_row_number) ordinal == Spark's
# (_metadata.file_path, _metadata.row_index); µs-integer time math before
# the divide (memory: float64 ulp at 2025 epochs); routing CASE precedence
# identical to operators/routing.py. Dim tables are inlined VALUES — the
# same literals as datagen/dims.py.


def _routed_sql(raw_dir: str) -> str:
    from ..datagen.dims import TOOLS, _SENSITIVE, _TOOL_FAMILY
    from ..functions.grok import EVENT_PATTERN, TOOL_CALL_PATTERN

    # DuckDB single-quoted literals pass backslashes through untouched, so
    # the Python regex strings embed verbatim (\d stays \d for RE2)
    tc = TOOL_CALL_PATTERN
    ev = EVENT_PATTERN
    dim_tools = ", ".join(
        f"('{t}','{_TOOL_FAMILY[t]}',{'true' if t in _SENSITIVE else 'false'})"
        for t in TOOLS
    )
    return f"""
WITH raw AS (
  SELECT conv_id, turn_idx, role, text, tool, ts,
         filename AS _f, file_row_number AS _p
  FROM read_parquet('{raw_dir}/*.parquet', filename=true, file_row_number=true)
),
dedup AS (
  SELECT conv_id, turn_idx, role, text, tool, ts FROM raw
  QUALIFY row_number() OVER (PARTITION BY conv_id, turn_idx
                             ORDER BY _f DESC, _p DESC) = 1
),
flagged AS (
  SELECT *,
    (epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 1000000.0 AS dt_sec,
    max(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx
                  ROWS UNBOUNDED PRECEDING) AS ts_sync
  FROM dedup
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
),
flagged2 AS (
  SELECT *,
    coalesce(dt_sec < -0.0, FALSE) AS is_backwards,
    coalesce(dt_sec > 2.0, FALSE) AS is_gap
  FROM flagged
),
synced AS (
  SELECT *,
    sum(CASE WHEN is_backwards OR is_gap THEN 1 ELSE 0 END)
      OVER (PARTITION BY conv_id ORDER BY turn_idx
            ROWS UNBOUNDED PRECEDING) AS segment_id
  FROM flagged2
),
parsed0 AS (
  SELECT *,
    nullif(regexp_extract(text, '{tc}', 1), '') AS tool_name,
    try_cast(nullif(regexp_extract(text, '{tc}', 2), '') AS bigint) AS args_bytes,
    try_cast(nullif(regexp_extract(text, '{tc}', 3), '') AS bigint) AS latency_raw,
    nullif(regexp_extract(text, '{ev}', 1), '') AS event_kind,
    contains(text, '<tool_call ') AS has_tool_markup
  FROM synced
),
parsed AS (
  SELECT * EXCLUDE (latency_raw),
    CASE WHEN latency_raw = 32768 THEN NULL ELSE latency_raw END AS latency_ms,
    (tool_name IS NOT NULL AND args_bytes IS NOT NULL
     AND latency_raw IS NOT NULL) AS parse_ok
  FROM parsed0
),
dim_roles(role, role_group, priority) AS (VALUES
  ('user','human',1), ('assistant','model',2),
  ('tool','machine',3), ('system','control',0)),
dim_tools(tool_key, tool_family, is_sensitive) AS (VALUES {dim_tools}),
enriched AS (
  SELECT p.*, r.role_group, r.priority, t.tool_family, t.is_sensitive
  FROM parsed p
  LEFT JOIN dim_roles r USING (role)
  LEFT JOIN dim_tools t ON p.tool_name = t.tool_key
),
reasons AS (
  SELECT *,
    CASE
      WHEN ts IS NULL THEN 'null_ts'
      WHEN role_group IS NULL THEN 'unknown_role'
      WHEN coalesce(has_tool_markup AND NOT parse_ok, FALSE) THEN 'malformed_tool_call'
      WHEN coalesce(latency_ms < 0, FALSE) THEN 'negative_latency'
      WHEN coalesce(args_bytes > 10000000, FALSE) THEN 'args_too_large'
      ELSE NULL
    END AS reason
  FROM enriched
)
SELECT *,
  CASE WHEN reason IS NOT NULL THEN 'quarantine'
       WHEN parse_ok THEN 'tool_events'
       ELSE 'valid' END AS route
FROM reasons
"""


def _pipe_oracles() -> dict[str, str]:
    routed = _routed_sql(_raw_dir())
    pipe1 = f"""WITH routedT AS ({routed})
SELECT route, reason, count(*) AS n_rows, count(DISTINCT conv_id) AS n_convs
FROM routedT GROUP BY route, reason"""
    pipe2 = f"""WITH routedT AS ({routed}),
flags AS (
  SELECT is_backwards,
    coalesce(ts_sync < lag(ts_sync) OVER (PARTITION BY conv_id ORDER BY turn_idx),
             FALSE) AS bw
  FROM routedT
)
SELECT
  CAST(sum(CASE WHEN bw THEN 1 ELSE 0 END) AS BIGINT) AS n_backwards_after_repair,
  CAST(sum(CASE WHEN is_backwards THEN 1 ELSE 0 END) AS BIGINT) AS n_backwards_raw,
  count(*) AS n_rows
FROM flags"""
    # Parity rules (round-4 driver red): DuckDB integer sum() widens to
    # HUGEINT -> pandas float64 ("123.0" vs Spark's "123"), so every sum is
    # CAST to BIGINT; and never hash a rounded quotient -> exact latency
    # sum + count instead of round(avg, 4).
    pipe3 = f"""WITH routedT AS ({routed})
SELECT tool_name, count(*) AS n_calls,
  CAST(sum(latency_ms) AS BIGINT) AS sum_latency_ms,
  round(quantile_cont(latency_ms, 0.95), 4) AS p95_latency_ms,
  CAST(sum(args_bytes) AS BIGINT) AS total_args_bytes
FROM routedT WHERE route = 'tool_events'
GROUP BY tool_name ORDER BY tool_name"""
    # pipe4: the fixed-iteration Huber IRLS unrolled into CTEs — one CTE
    # per reweight step, mirroring functions/robust.huber_fixed exactly
    # (T=8, k=1.345, MAD*1.4826 scale, zero-scale pinned to the median).
    # Same technique as sim9's unrolled Lloyd iterations; it is what makes
    # the robust estimator hash-checkable instead of rows-only.
    # Every order-dependent float sum goes through an exact decimal
    # accumulate (mirroring compare_drift_methods(exact_sums=True) and
    # huber_fixed's decimal(38,18) step sums), so both engines produce
    # bit-identical doubles regardless of their internal aggregation
    # order — round(·, 6) is then deterministic, not a knife edge.
    k, t_iters = 1.345, 8
    its = []
    prev_mu = "sc.mu0"
    for i in range(1, t_iters + 1):
        w = f"least(1.0, {k} * sc.scale / greatest(abs(d.x - {prev_mu}), 1e-300))"
        prev_join = "" if i == 1 else f" JOIN it{i - 1} USING (conv_id)"
        its.append(f"""it{i} AS (
  SELECT conv_id,
    CASE WHEN max(sc.scale) = 0 THEN max(sc.mu0)
         ELSE CAST(sum(CAST(({w}) * d.x AS DECIMAL(38,18))) AS DOUBLE)
            / CAST(sum(CAST(({w}) AS DECIMAL(38,18))) AS DOUBLE) END AS mu
  FROM d JOIN sc USING (conv_id){prev_join}
  GROUP BY conv_id
)""")
        prev_mu = f"it{i}.mu"
    it_sql = ",\n".join(its)
    pipe4 = f"""WITH routedT AS ({routed}),
d AS (SELECT conv_id, dt_sec AS x FROM routedT
      WHERE dt_sec IS NOT NULL AND NOT isnan(dt_sec)),
base0 AS (
  SELECT conv_id, count(*) AS n_samples,
         CAST(sum(CAST(x AS DECIMAL(27,6))) AS DOUBLE) AS s1,
         CAST(sum(CAST(x AS DECIMAL(18,6)) * CAST(x AS DECIMAL(18,6)))
              AS DOUBLE) AS s2,
         quantile_cont(x, 0.5) AS drift_median
  FROM d GROUP BY conv_id
),
base AS (
  SELECT conv_id, n_samples, drift_median,
         s1 / n_samples AS drift_mean,
         CASE WHEN n_samples < 2 THEN NULL
              ELSE sqrt(greatest((s2 - s1 * s1 / n_samples)
                                 / (n_samples - 1), 0.0)) END AS drift_std
  FROM base0
),
sc AS (
  SELECT d.conv_id,
         quantile_cont(abs(d.x - b.drift_median), 0.5) * 1.4826 AS scale,
         max(b.drift_median) AS mu0
  FROM d JOIN base b USING (conv_id) GROUP BY d.conv_id
),
{it_sql}
SELECT b.conv_id, b.n_samples,
  round(b.drift_mean, 6) AS drift_mean,
  round(b.drift_median, 6) AS drift_median,
  round(b.drift_std, 6) AS drift_std,
  round(it{t_iters}.mu, 6) AS drift_huber
FROM base b JOIN it{t_iters} USING (conv_id)"""
    return {"pipe1_routed": pipe1, "pipe2_monotonic_invariant": pipe2,
            "pipe3_tool_aggregates": pipe3, "pipe4_drift_methods": pipe4}


_QUERIES: dict | None = None


def _build_queries() -> dict:
    oracles = _pipe_oracles()
    return {
        "pipe1_routed": (pipe1_routed, oracles["pipe1_routed"]),
        "pipe2_monotonic_invariant": (
            pipe2_monotonic_invariant, oracles["pipe2_monotonic_invariant"]),
        "pipe3_tool_aggregates": (
            pipe3_tool_aggregates, oracles["pipe3_tool_aggregates"]),
        "pipe4_drift_methods": (
            pipe4_drift_methods, oracles["pipe4_drift_methods"]),
    }


def __getattr__(name):
    """Lazy QUERIES (PEP 562): building the pipe oracles embeds the raw-dir
    path, which triggers write_transcripts datagen on first touch — that
    must happen when the registry is USED (driver/tools/tests), never as an
    import side effect of ``queries/__init__``."""
    if name == "QUERIES":
        global _QUERIES
        if _QUERIES is None:
            _QUERIES = _build_queries()
        return _QUERIES
    raise AttributeError(name)

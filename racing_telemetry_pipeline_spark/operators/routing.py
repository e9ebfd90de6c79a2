"""Policy-driven row routing: valid / quarantine / tool_events fan-out.

This converts the reference's halt-semantics validation
(/root/reference/src/validation/validators.py:54-132, FAIL/WARN policy
/root/reference/src/conf/validation_policy.yaml:7-80) into row-routing
semantics (SURVEY.md §2.9 V4): every row gets exactly one ``route`` and
quarantined rows carry a ``reason`` code (mirroring the reference's audit
enums, /root/reference/src/schemas/metadata.py:9-17).

``conf/policy.yaml`` is the single source of the routing predicates: its
``fail`` checks, in list order, give the quarantine precedence (first
match wins), then ``routes.tool_events``, then ``routes.default``. The
batch and streaming plans both route through ``route_rows``; only the
independent oracles (pandas ``oracle.py``, DuckDB ``pipeline_queries.py``)
restate the rules.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULTS, PipelineSettings


def apply_sentinels(df: DataFrame, settings: PipelineSettings = DEFAULTS) -> DataFrame:
    """Sentinel -> NULL (reference: lap 32768 -> NaN,
    /root/reference/src/transform/lap_repair.py:60-72)."""
    return df.withColumn(
        "latency_ms",
        F.when(F.col("latency_ms") == settings.latency_sentinel_ms, None).otherwise(
            F.col("latency_ms")
        ),
    )


def load_policy() -> dict:
    """Load the declarative routing policy (reference analog:
    /root/reference/src/conf/validation_policy.yaml:7-80).

    Read through the package loader, not the file system, so it also
    works when the package is imported from a ``--py-files`` zip."""
    import pkgutil

    import yaml

    pkg = __package__.rsplit(".", 1)[0]
    return yaml.safe_load(pkgutil.get_data(pkg, "conf/policy.yaml"))


def _pred(sql: str) -> Column:
    """A policy predicate; NULL counts as not matched."""
    return F.coalesce(F.expr(sql), F.lit(False))


def _with_route(df: DataFrame, policy: dict) -> DataFrame:
    """Add ``route`` and ``reason`` from the policy's ``fail`` checks and
    ``routes`` (a pure ``when`` chain, codegen'd — no Python per row)."""
    reason = F.lit(None).cast("string")
    for chk in reversed([c for c in policy["checks"] if c["severity"] == "fail"]):
        reason = F.when(_pred(chk["when"]), F.lit(chk["reason"])).otherwise(reason)
    routes = policy["routes"]
    # a NULL predicate falls through a CASE WHEN branch, as if coalesced
    route = (
        F.when(reason.isNotNull(), F.lit(routes["quarantine"]))
        .when(F.expr(routes["tool_events"]), F.lit("tool_events"))
        .otherwise(F.lit(routes["default"]))
    )
    return df.withColumn("route", route).withColumn("reason", reason)


def route_rows(df: DataFrame, settings: PipelineSettings = DEFAULTS) -> DataFrame:
    """Add ``route`` and ``reason`` columns compiled from ``conf/policy.yaml``.
    ``settings`` holds no routing rule; it keeps the operator signature
    uniform with the other pipeline stages."""
    return _with_route(df, load_policy())


def compile_policy(df: DataFrame, policy: dict) -> DataFrame:
    """``route_rows`` for an explicit policy dict, plus one boolean
    ``warn_<reason>`` column per ``warn`` check (warnings never route)."""
    for chk in [c for c in policy["checks"] if c["severity"] == "warn"]:
        df = df.withColumn(f"warn_{chk['reason']}", _pred(chk["when"]))
    return _with_route(df, policy)

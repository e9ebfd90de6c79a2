"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship log-pipeline query (route fan-out counts) at
sf0.001. ``queries()`` — the CURATED 50-entry window (the driver records
exactly 50 CORRECTNESS rows): one entry per implemented operator
(SURVEY.md §2) and per LLM-pipeline op; the building blocks outside it
are in ``all_queries_full()`` and verified by tools/check_oracle.py.
``oracle_sql()`` — matching DuckDB SQL with identical column names.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from racing_telemetry_pipeline_spark.queries import all_queries  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: parse -> route -> per-sink aggregate over events."""
    from racing_telemetry_pipeline_spark.queries.log_ops import v4_route_fanout

    return v4_route_fanout(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: sql for name, (_fn, sql) in all_queries().items() if sql is not None
    }

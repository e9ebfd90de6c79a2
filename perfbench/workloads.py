"""The three workloads. Each ``iteration`` calls the package's public entry
points and returns its wall time; ``check`` compares that iteration's
output with an independent oracle and returns the problems it found.
Checks run outside the timed interval.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from . import inputs
from .catalog import HEADLINE
from .common import count_files, dir_bytes


def _route_counts(table_dir: str) -> dict[str, int]:
    """Rows per ``route=`` partition, from parquet footers (no Spark)."""
    out: dict[str, int] = {}
    for f in glob.glob(os.path.join(table_dir, "**", "*.parquet"), recursive=True):
        route = next(p[6:] for p in f.split(os.sep) if p.startswith("route="))
        out[route] = out.get(route, 0) + pq.ParquetFile(f).metadata.num_rows
    return out


def frames_equal(got: pd.DataFrame, want: pd.DataFrame, key: str) -> bool:
    """Exact, order-insensitive equality; numbers compare by value, so an
    int64 column equals the oracle's nullable Int64 twin."""
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    g = got.sort_values(key).reset_index(drop=True)
    w = want.sort_values(key).reset_index(drop=True)
    for c in g.columns:
        if pd.api.types.is_numeric_dtype(g[c]) and pd.api.types.is_numeric_dtype(w[c]):
            a = g[c].astype("float64").to_numpy()
            b = w[c].astype("float64").to_numpy()
            if not np.array_equal(a, b, equal_nan=True):
                return False
        elif not g[c].astype(str).equals(w[c].astype(str)):
            return False
    return True


def compare_counts(name: str, got: dict, want: dict) -> list[str]:
    return [] if got == want else [f"{name}: {got} != oracle {want}"]


class Workload:
    """``ops`` operations per iteration; ``check`` follows each one.
    At least ``warm_min`` warm iterations are measured."""

    name = ""
    ops = 1
    warm_min = 1

    def check(self) -> list[str]:
        raise NotImplementedError

    def failed_ops(self, problems: list[str]) -> int:
        return min(len(problems), self.ops)


class BatchHot(Workload):
    """One ``run_pipeline(resume=False)`` into an empty lake."""

    name = "batch_hot"

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        d, self.expected = inputs.transcripts(seed)
        self.raw = os.path.join(d, "raw")
        self.input_rows = self.expected["raw_rows"]
        self.lake = os.path.join(work, "lake")
        self.timings: dict[str, float] = {}
        self.lake_bytes = 0

    def iteration(self) -> float:
        from racing_telemetry_pipeline_spark.plans.pipeline import run_pipeline

        shutil.rmtree(self.lake, ignore_errors=True)
        t0 = time.perf_counter()
        res = run_pipeline(self.spark, self.raw, self.lake, resume=False)
        wall = time.perf_counter() - t0
        self.timings = dict(res.timings)
        self.lake_bytes = dir_bytes(self.lake)
        return wall

    # lake table -> (sort key, oracle result)
    TABLES = {
        "agg_sink_counts": ("route", "sink_counts"),
        "agg_tool_frequency": ("tool_name", "tool_frequency"),
    }

    def check(self, tables=tuple(TABLES)) -> list[str]:
        problems = compare_counts(
            "routed", _route_counts(os.path.join(self.lake, "routed")),
            self.expected["routed_counts"],
        )
        for table in tables:
            key, oracle = self.TABLES[table]
            got = pq.read_table(os.path.join(self.lake, table)).to_pandas()
            if not frames_equal(got, self.expected[oracle], key):
                problems.append(f"{table} differs from the oracle")
        return problems


class StreamCompact(Workload):
    """The CLI's ``stream`` then ``compact`` over the batch input's rows."""

    name = "stream_compact"
    table = "routed_stream"

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        d, self.expected = inputs.transcripts(seed)
        self.raw = os.path.join(d, "stream")  # event-time order, see inputs.py
        self.input_rows = self.expected["raw_rows"]
        self.lake = os.path.join(work, "lake")
        self.progress: list[dict] = []
        self.lake_bytes = 0

    def iteration(self) -> float:
        from racing_telemetry_pipeline_spark.sources.lake import Lake
        from racing_telemetry_pipeline_spark.streaming.stream_pipeline import (
            streaming_to_lake,
        )

        shutil.rmtree(self.lake, ignore_errors=True)
        t0 = time.perf_counter()
        q = streaming_to_lake(self.spark, self.raw, self.lake)
        q.awaitTermination()
        t1 = time.perf_counter()
        table_dir = os.path.join(self.lake, self.table)
        self.files_in = count_files(table_dir)
        self.files_out = Lake(self.spark, self.lake).compact(self.table)
        wall = time.perf_counter() - t0
        self.compact_s = wall - (t1 - t0)
        self.progress = list(q.recentProgress)
        self.lake_bytes = dir_bytes(table_dir)
        return wall

    def check(self) -> list[str]:
        return compare_counts(
            "compacted routed_stream",
            _route_counts(os.path.join(self.lake, self.table)),
            self.expected["routed_counts"],
        )


class QueriesHeadline(Workload):
    """One pass of the 12 headline registry queries, each collected to the
    driver. Every pass is checked in full: the collected results are
    compared with their DuckDB oracles after the timed interval."""

    name = "queries_headline"
    ops = len(HEADLINE)  # an operation is a query
    # The second warm pass of a run is 5-30% faster than the first (JIT
    # compilation goes on after the cold pass), so iter_s is the median
    # of at least two.
    warm_min = 2

    def __init__(self, spark, seed: int, work: str):
        from racing_telemetry_pipeline_spark.queries import all_queries_full

        self.spark = spark
        self.sf_dir, self.expected = inputs.query_data(HEADLINE)  # seed unused
        self.input_rows = self.expected["rows"]
        # No lake is written, so this is a constant: the input tables'
        # bytes. Only batch_hot and stream_compact measure the lake.
        self.lake_bytes = self.expected["bytes"]
        self.fns = {q: all_queries_full()[q][0] for q in HEADLINE}
        self.per_query: dict[str, float] = {}
        self.results: dict[str, pd.DataFrame | str] = {}

    def iteration(self) -> float:
        self.per_query, self.results = {}, {}
        t0 = time.perf_counter()
        for q, fn in self.fns.items():
            a = time.perf_counter()
            try:
                self.results[q] = fn(self.spark, self.sf_dir).toPandas()
            except Exception as e:  # one failing query must not hide the rest
                self.results[q] = f"{type(e).__name__}: {e}"[:300]
            self.per_query[q] = time.perf_counter() - a
        return time.perf_counter() - t0

    def check(self) -> list[str]:
        """Each result of the last pass under ``tools/check_oracle.canon``
        against its DuckDB ``oracle_sql``."""
        from tools.check_oracle import canon

        problems = []
        for q, got in self.results.items():
            if isinstance(got, str):
                problems.append(f"{q}: {got}")
                continue
            got, want = canon(got), self.expected["results"][q]
            if list(got.columns) != list(want.columns) or not got.equals(want):
                problems.append(f"{q}: result differs from its DuckDB oracle")
        return problems

    def failed_ops(self, problems: list[str]) -> int:
        return len({p.split(":", 1)[0] for p in problems})


WORKLOADS = {w.name: w for w in (BatchHot, StreamCompact, QueriesHeadline)}

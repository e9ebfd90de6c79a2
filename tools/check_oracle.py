"""Local stand-in for the driver's correctness gate.

Runs every queries() entry on Spark and its oracle_sql() on DuckDB over the
same sf dir, compares row count, sorted column names, and values
(order-insensitive, stringified). Usage:

    python tools/check_oracle.py [sf_dir] [name_filter...]

It also prints the run's per-session fixed costs: the wall, the classes
Spark compiled and the parquet schema-inference jobs (jobs with a stage
named ``parquet at ...``), so a change that brings them back shows.
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

import duckdb
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if str(s.dtype).startswith("datetime"):
            try:
                s = s.dt.tz_localize(None)
            except TypeError:
                pass
            df[c] = s.astype("datetime64[us]").astype(str)
        elif s.dtype == object or str(s.dtype).startswith(("float", "Float")):
            df[c] = s.map(lambda v: "NULL" if pd.isna(v) else (f"{v:.10g}" if isinstance(v, float) else str(v)))
        else:
            df[c] = s.map(lambda v: "NULL" if pd.isna(v) else str(v))
    return df.sort_values(list(df.columns), kind="stable").reset_index(drop=True)


def _inference_jobs(sc, group: str) -> int:
    """Jobs of ``group`` that inferred a parquet schema."""
    tracker = sc.statusTracker()
    n = 0
    for job in filter(None, map(tracker.getJobInfo, tracker.getJobIdsForGroup(group))):
        stages = filter(None, map(tracker.getStageInfo, job.stageIds))
        n += any(st.name.startswith("parquet at") for st in stages)
    return n


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    filters = sys.argv[2:]

    # the FULL registry (the curated 50-entry window plus the entries
    # outside it), so leaving the window never loses local verification
    from racing_telemetry_pipeline_spark.queries import all_queries_full
    from racing_telemetry_pipeline_spark.session import compiled_classes, get_spark

    spark = get_spark("check_oracle")
    sc = spark.sparkContext
    t0, compiled0, inference_jobs = time.perf_counter(), compiled_classes(spark), 0
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{sf_dir}/{t}.parquet')"
        )

    full = all_queries_full()
    qs = {name: fn for name, (fn, _sql) in full.items()}
    oracles = {name: sql for name, (_fn, sql) in full.items() if sql is not None}
    fails, passes, skipped = [], [], []
    for name, fn in qs.items():
        if filters and not any(f in name for f in filters):
            continue
        if name not in oracles:
            skipped.append(name)
            continue
        # one job group per query: the status tracker retains only the
        # last 1,000 jobs, so count each query's jobs right after it
        sc.setJobGroup(f"check_oracle:{name}", name)
        try:
            got_raw = fn(spark, sf_dir).toPandas()
            want_raw = con.execute(oracles[name]).df()
            got, want = canon(got_raw), canon(want_raw)
        except Exception as e:
            fails.append((name, f"EXEC ERROR: {type(e).__name__}: {e}"))
            continue
        finally:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            inference_jobs += _inference_jobs(sc, f"check_oracle:{name}")
        # Driver-gate faithfulness: the driver hashes str(value), so an
        # int64-vs-float64 dtype split ("123" vs "123.0") fails there even
        # though the %.10g canon below equates them. DuckDB integer sum()
        # widening to HUGEINT -> pandas float64 is the classic cause
        # (round-4 pipe2/pipe3). Flag it whenever the float side carries no
        # NaN (NaN-bearing int columns legitimately widen on BOTH engines).
        dtype_bad = []
        for c in sorted(set(got_raw.columns) & set(want_raw.columns)):
            gk, wk = got_raw[c].dtype.kind, want_raw[c].dtype.kind
            if {gk, wk} == {"i", "f"}:
                fcol = got_raw[c] if gk == "f" else want_raw[c]
                if not fcol.isna().any():
                    dtype_bad.append(f"{c}(spark={gk},duck={wk})")
        if dtype_bad:
            fails.append((name, f"int/float dtype split -> driver hash red: {dtype_bad}"))
            continue
        if list(got.columns) != list(want.columns):
            fails.append((name, f"columns {list(got.columns)} != {list(want.columns)}"))
            continue
        if len(got) != len(want):
            fails.append((name, f"rows {len(got)} != {len(want)}"))
            continue
        if not got.equals(want):
            diff_cols = [c for c in got.columns if not got[c].equals(want[c])]
            n_bad = max((got[c] != want[c]).sum() for c in diff_cols)
            example = ""
            for c in diff_cols[:1]:
                m = got[c] != want[c]
                i = m.idxmax()
                example = f" e.g. {c}[{i}]: spark={got[c][i]!r} duck={want[c][i]!r}"
            fails.append((name, f"values differ in {diff_cols} ({n_bad} rows){example}"))
            continue
        passes.append(name)

    print(
        f"\nwall {time.perf_counter() - t0:.1f} s, "
        f"{compiled_classes(spark) - compiled0} classes compiled, "
        f"{inference_jobs} schema-inference jobs"
    )
    print(f"PASS ({len(passes)}): {' '.join(passes)}")
    if skipped:
        print(f"NO-ORACLE rows-only ({len(skipped)}): {' '.join(skipped)}")
    if fails:
        print(f"FAIL ({len(fails)}):")
        for n, msg in fails:
            print(f"  {n}: {msg}")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())

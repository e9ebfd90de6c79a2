"""Inputs and their expected results.

Generation and the oracles are the benchmark's own work: they run before
any timing starts and are cached under ``.perfbench_cache/inputs``, the
transcripts per seed and the query oracle once, so a repeated seed pays
for them once. The package only ever sees the files.
"""

from __future__ import annotations

import os
import pickle
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from .common import INPUTS

# Bump when a generator below changes, so stale caches are not reused.
VERSION = "v4"

# batch_hot / stream_compact input. The package's generator sizes each
# hot conversation at 5% of all turns, so 1000 conversations of mean 800
# turns give 3 hot conversations of ~40K turns: each spans 2 salt buckets
# of 32,768 turns, which keeps the stitch path of operators/skew.py busy.
# Cold conversations are thinned to fill a fixed row count, so the 3 hot
# keys hold about 80% of the rows (DS2's case: a few hot keys hold most
# of the work) and every seed gives the same input size.
TRANSCRIPT_SCALE = dict(n_convs=1000, mean_turns=800, n_hot=3)
KEEP_EVERY = 5
TARGET_ROWS = 180_000
N_FILES = 13  # 4 files per trigger -> 4 micro-batches in stream_compact

# queries_headline input: a copy of the project's sf0.01 test tables
# (TPC-H-like star schema plus events, documents and embeddings; 60K
# lineitem rows), the scale the CLI's ``query`` and tools/check_oracle.py
# default to. The benchmark reads only the directory it runs from, so the
# tables ship with it; they do not depend on the seed.
QUERY_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables", "sf0.01")


def _atomic_dir(final: str, build) -> str:
    """Build ``final`` through a temp dir and a rename, so a killed run
    never leaves a half-written cache entry behind."""
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.makedirs(os.path.dirname(final), exist_ok=True)
    try:
        os.rename(tmp, final)
    except OSError:  # another run finished the same entry first
        shutil.rmtree(tmp, ignore_errors=True)
    return final


# -- transcripts -----------------------------------------------------------
def _hot_subset(table: pa.Table, n_hot: int) -> pa.Table:
    """The hot conversations plus every ``KEEP_EVERY``-th cold one, in
    conversation order, until the table holds ``TARGET_ROWS`` rows (within
    one conversation): every seed gets the same amount of work."""
    num = pc.cast(pc.utf8_slice_codeunits(table["conv_id"], 5), pa.int64()).to_numpy()
    rows = np.bincount(num)
    cold = np.arange(n_hot, len(rows))
    cold = cold[cold % KEEP_EVERY == 0]
    room = TARGET_ROWS - int(rows[:n_hot].sum())
    taken = cold[np.cumsum(rows[cold]) - rows[cold] < room]
    if int(rows[taken].sum()) < room:
        raise RuntimeError(f"generated input is short of {TARGET_ROWS} rows")
    keep = np.concatenate([np.arange(n_hot), taken])
    return table.filter(pa.array(np.isin(num, keep)))


def _write_files(table: pa.Table, out: str) -> None:
    os.makedirs(out)
    per_file = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        pq.write_table(table.slice(i * per_file, per_file),
                       os.path.join(out, f"part-{i:05d}.parquet"))


def _build_transcripts(seed: int, out: str) -> None:
    from racing_telemetry_pipeline_spark.config import DEFAULTS, SCALES, Scale
    from racing_telemetry_pipeline_spark.datagen import generate_transcripts
    from racing_telemetry_pipeline_spark.oracle import run_oracle

    name = "perfbench-hot"
    SCALES[name] = Scale(name, **TRANSCRIPT_SCALE)
    table = _hot_subset(generate_transcripts(name, seed), TRANSCRIPT_SCALE["n_hot"])
    raw = os.path.join(out, "raw")
    _write_files(table, raw)
    # The stream reads the same rows in event-time order, as a live feed
    # delivers them: the watermark of streaming_route drops rows that are
    # more than 10 minutes behind the newest event seen, and the
    # conversation-ordered batch files put the hot conversations' 11 hours
    # of events first, so over them the stream loses ~40% of the rows.
    # That backfill loss is an open problem this workload does not show.
    _write_files(table.sort_by([("ts", "ascending")]), os.path.join(out, "stream"))
    o = run_oracle(raw)
    hot = o["routed"].groupby("conv_id").size().nlargest(TRANSCRIPT_SCALE["n_hot"])
    if int(hot.min()) <= DEFAULTS.salt_bucket_turns:
        raise RuntimeError(
            f"seed {seed}: hot conversation of {int(hot.min())} turns does not "
            f"exceed one salt bucket ({DEFAULTS.salt_bucket_turns})"
        )
    expected = {
        "raw_rows": table.num_rows,
        "routed_counts": {
            str(k): int(v) for k, v in o["routed"].groupby("route").size().items()
        },
        "sink_counts": o["sink_counts"].reset_index(drop=True),
        "tool_frequency": o["tool_frequency"].reset_index(drop=True),
    }
    with open(os.path.join(out, "expected.pkl"), "wb") as fh:
        pickle.dump(expected, fh)


def transcripts(seed: int) -> tuple[str, dict]:
    """(input dir holding ``raw/`` and ``stream/``, oracle expectations)."""
    d = _atomic_dir(
        os.path.join(INPUTS, f"transcripts-{VERSION}-{seed}"),
        lambda tmp: _build_transcripts(seed, tmp),
    )
    with open(os.path.join(d, "expected.pkl"), "rb") as fh:
        return d, pickle.load(fh)


# -- query tables ------------------------------------------------------------
def _build_query_oracle(out: str, names) -> None:
    import duckdb

    from racing_telemetry_pipeline_spark.queries import all_queries_full
    from tools.check_oracle import TABLES, canon

    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"parquet_scan('{os.path.join(QUERY_DIR, name)}.parquet')"
        )
    qs = all_queries_full()
    expected = {q: canon(con.execute(qs[q][1]).df()) for q in names}
    con.close()
    files = [os.path.join(QUERY_DIR, f"{name}.parquet") for name in TABLES]
    with open(os.path.join(out, "expected.pkl"), "wb") as fh:
        pickle.dump({"rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
                     "bytes": sum(map(os.path.getsize, files)),
                     "results": expected}, fh)


def query_data(names) -> tuple[str, dict]:
    """(table dir, DuckDB-oracle expectations). The tables are fixed, so
    the oracle is computed once and shared by every seed."""
    d = _atomic_dir(
        os.path.join(INPUTS, f"queries-{VERSION}-{os.path.basename(QUERY_DIR)}"),
        lambda tmp: _build_query_oracle(tmp, names),
    )
    with open(os.path.join(d, "expected.pkl"), "rb") as fh:
        return QUERY_DIR, pickle.load(fh)

"""N-vs-4N scaling benchmark. Prints JSON lines; the LAST line is a compact
summary with ``metric``, ``value``, ``unit``, ``sf``, ``queries`` and
``pairs{narrow,mid,wide}``. Full detail goes to BENCH_FULL.json and BENCH.md.

Phase A times each ``HEADLINE`` query (noop sink) in ``QUERY_PASSES``
passes over the sf tables at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) at local[nproc] and reports per-query medians.

Phase B measures the north rule's N-vs-4N criterion: the full transcript
pipeline (parse -> sync -> enrich -> route -> aggregate) at local[N] and
local[4N] on the same input, efficiency = (T_N / T_4N) / (4N / N). Only the
``PAIRS`` rows with 4N <= nproc run; the others stay in the result as
``{"skipped": ...}``. Each side runs in one fresh subprocess (own JVM, one
live session) started once; the orchestrator asks each for one timed
``run_pipeline`` per round, alternating which side goes first (ABBA), and
reports the median and interquartile range of the per-round efficiencies.

The orchestrator never imports pyspark. Usage: ``python bench.py``.
"""

from __future__ import annotations

import json
import os
import select
import shutil
import signal
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

HEADLINE = [
    "q1_pricing_summary", "q3_top_orders", "q5_region_revenue",
    "v4_route_fanout", "w2_gaps_segments", "a1_hourly_stats",
    "w9_interpolate", "d1_dedup_keep_last", "dd2_ngram_jaccard_pairs",
    "dd3_minhash_signatures", "sim1_cosine_topk", "tx2_quality_score",
]

# (N, 4N, input scale) per pair; a row runs only when the host has 4N cores,
# so no pair measures time-slicing of oversubscribed cores.
PAIRS = {
    "narrow": (1, 4, "sf-bench"),
    "mid": (2, 8, "sf-scaling"),
    "wide": (4, 16, "sf-scaling"),
}
ROUNDS = 3
QUERY_PASSES = 5
# Longest wait for one worker reply (its warm-up, or one timed run) before
# its process group is killed and the reason recorded.
REPLY_TIMEOUT = 1800.0
WARM_DIR = "/tmp/rtps_bench_warm_sf-unit"
MARK = "RTPS_BENCH_MARK"
COMPACT_KEYS = ("cores", "t_n_sec", "t_4n_sec", "turns_per_sec_4n", "eff",
                "eff_iqr", "n_rounds", "skipped", "error")


# ---- worker modes (fresh subprocesses; the only code that touches Spark) ----

def _reply_stream():
    """The worker's reply channel: the original stdout. Everything else
    written to fd 1 afterwards (the JVM started later inherits it) goes to
    stderr, so a stray print never breaks the one-JSON-line protocol."""
    out = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)
    return out


def _session_facts(spark) -> dict:
    # SPARK_LOCAL_DIRS overrides spark.local.dir; ask Spark which one won
    jvm, conf = spark.sparkContext._jvm, spark.sparkContext._jsc.sc().getConf()
    dirs = jvm.org.apache.spark.util.Utils.getConfiguredLocalDirs(conf)
    return {"spark": spark.version, "local_dir": dirs[0]}


def _stop_session(spark) -> None:
    """Stop the session, then let its JVM exit on stdin EOF and run the
    shutdown hook that removes its temp dirs before the orchestrator kills
    the process group."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=60)


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def worker_queries(sf_dir: str) -> None:
    """Time every headline query in each of ``QUERY_PASSES`` passes and
    reply once with the per-pass walls."""
    out = _reply_stream()
    from racing_telemetry_pipeline_spark.queries import all_queries_full
    from racing_telemetry_pipeline_spark.session import get_spark

    spark = get_spark("bench-queries", cores=len(os.sched_getaffinity(0)))
    qs = all_queries_full()
    walls: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _pass in range(QUERY_PASSES):
        for name in HEADLINE:
            df = qs[name][0](spark, sf_dir)
            t0 = time.perf_counter()
            _noop_write(df)
            walls[name].append(round(time.perf_counter() - t0, 3))
    out.write(json.dumps({**_session_facts(spark), "walls": walls}) + "\n")
    _stop_session(spark)


def worker_pipeline(cores: int, raw_dir: str) -> None:
    """One live session at local[cores]: warm up, reply once, then time
    one ``run_pipeline`` per stdin line, one JSON reply per run, until
    stdin closes. The lake goes to tmpfs: on a real cluster sink bandwidth
    scales with executors, the sandbox's single disk would serialize the
    fan-out write and mask compute scaling."""
    out = _reply_stream()
    from pyspark.sql import functions as F

    from racing_telemetry_pipeline_spark.plans.pipeline import run_pipeline
    from racing_telemetry_pipeline_spark.session import get_spark

    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    lake = f"{base}/rtps_bench_lake_{cores}_{os.getpid()}"
    with open(os.path.join(raw_dir, "_meta.json")) as fh:
        rows = json.load(fh)["rows"]
    # Shuffle partitions follow the data (~3M rows each, so the N side does
    # not spill where 4N does not) and are rounded up to a multiple of the
    # cores: 19 partitions on 16 cores run the big stages in 1.2 waves.
    k = max(8, rows // 3_000_000)
    spark = get_spark(
        f"bench-{cores}", cores=cores, shuffle_partitions=cores * -(-k // cores),
        # local[N,3]: a transient Python-worker death costs one task retry
        max_failures=3,
        extra_conf={
            # coalescing would merge the full-wave partitions back to a
            # 1.5-wave stage with idle cores
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
            "spark.python.worker.faulthandler.enabled": "true",
            # a worker whose output flush fails dies and its task retries,
            # instead of wedging the stage
            "spark.python.daemon.killWorkerOnFlushFailure": "true",
            # periodic Python stacks in the worker's stderr file
            "spark.python.worker.tracebackDumpIntervalSeconds": "120",
        },
    )
    t0 = time.perf_counter()
    _warm = F.pandas_udf(lambda s: s, "long")
    spark.range(100_000).select(F.sum(_warm(F.col("id")))).collect()
    run_pipeline(spark, WARM_DIR, lake, resume=False, approx_percentiles=True)
    shutil.rmtree(lake, ignore_errors=True)
    spark.read.parquet(raw_dir).limit(10).collect()
    out.write(json.dumps({**_session_facts(spark),
                          "warmup_sec": round(time.perf_counter() - t0, 1)})
              + "\n")
    for _request in sys.stdin:
        t0 = time.perf_counter()
        try:
            res = run_pipeline(spark, raw_dir, lake, resume=False,
                               approx_percentiles=True)
            reply = {"sec": round(time.perf_counter() - t0, 2),
                     "stages": {k: round(v, 1) for k, v in res.timings.items()}}
        except Exception as exc:  # reported to the orchestrator, which stops
            reply = {"error": f"{type(exc).__name__}: {exc}"[:300]}
        finally:
            shutil.rmtree(lake, ignore_errors=True)
            # shuffle files are freed only on driver GC; collect now so
            # tmpfs use stays flat from run to run
            spark.sparkContext._jvm.System.gc()
        out.write(json.dumps(reply) + "\n")
    _stop_session(spark)


# ---- pure helpers (no Spark, no subprocess) ----

def select_pairs(nproc: int) -> dict[str, dict | None]:
    """``None`` for each runnable row, ``{"skipped": why}`` otherwise."""
    return {
        tag: None if n4 <= nproc else
        {"skipped": f"needs {n4} cores, host has {nproc}"}
        for tag, (_n, n4, _scale) in PAIRS.items()
    }


def round_order(r: int) -> tuple[str, str]:
    """ABBA: the N side goes first in even rounds, the 4N side in odd."""
    return ("n", "4n") if r % 2 == 0 else ("4n", "n")


def _iqr(xs: list[float]) -> float | None:
    if len(xs) < 2:
        return None
    q1, _q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return round(q3 - q1, 3)


def pair_stats(rounds: list[dict], n: int, n4: int, turns: int) -> dict:
    """Summary of interleaved rounds, each ``{"n": reply, "4n": reply}``
    with ``reply = {"sec": ..., "stages": {...}}``: the median and IQR of
    the per-round efficiencies, each side's median wall, and the stage
    timings of each side's median run."""
    effs = [round((r["n"]["sec"] / r["4n"]["sec"]) / (n4 / n), 3)
            for r in rounds]
    out = {"n_rounds": len(rounds), "effs": effs,
           "eff": round(statistics.median(effs), 3), "eff_iqr": _iqr(effs)}
    for side in ("n", "4n"):
        walls = [r[side]["sec"] for r in rounds]
        med = statistics.median(walls)
        out[f"t_{side}_sec"] = round(med, 2)
        out[f"turns_per_sec_{side}"] = round(turns / med)
        out[f"runs_{side}_sec"] = walls
        out[f"stages_{side}"] = rounds[walls.index(
            statistics.median_low(walls))][side]["stages"]
    return out


def compact(result: dict) -> dict:
    """The last stdout line: headline numbers only, well under a tail
    capture's size."""
    pairs = {}
    for tag, block in result["pairs"].items():
        pairs[tag] = {k: block[k] for k in COMPACT_KEYS if k in block}
    return {
        "metric": result["metric"], "value": result["value"],
        "unit": result["unit"], "sf": result["sf"],
        "queries": {k: round(v, 2) for k, v in result["queries"].items()},
        "pairs": pairs,
    }


# ---- orchestrator (no pyspark imports; spawns the workers above) ----

class WorkerError(RuntimeError):
    pass


def _spawn(args: list[str], err_path: str) -> subprocess.Popen:
    """A worker in its own session (so a kill reaches its JVM and Python
    workers), carrying ``MARK`` in its environment for ``_sweep_orphans``."""
    with open(err_path, "w") as err:
        proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--worker", *args],
            cwd=REPO, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=err, text=True, start_new_session=True,
            env={**os.environ, MARK: REPO},
        )
    proc.err_path = err_path
    return proc


def _read_reply(proc: subprocess.Popen) -> dict:
    """One JSON line from the worker, or ``WorkerError`` with the reason;
    a worker silent for ``REPLY_TIMEOUT`` has its process group killed."""
    ready, _, _ = select.select([proc.stdout], [], [], REPLY_TIMEOUT)
    if not ready:
        _stop(proc, grace=0)
        raise WorkerError(f"no reply in {REPLY_TIMEOUT:.0f}s: killed the "
                          f"worker's process group")
    line = proc.stdout.readline()
    if not line:  # the worker died: its last stderr lines say why
        with open(proc.err_path, errors="replace") as fh:
            tail = [ln for ln in fh.read().splitlines()
                    if ln.strip() and not ln.startswith("[Stage")][-3:]
        raise WorkerError(f"worker exited rc={proc.wait()}: "
                          + " | ".join(tail)[-400:])
    reply = json.loads(line)
    if "error" in reply:
        raise WorkerError(reply["error"])
    return reply


def _stop(proc: subprocess.Popen, grace: float = 120.0) -> None:
    """Close stdin (the worker stops its session and exits), wait up to
    ``grace`` s, then kill the process group so nothing the worker started
    outlives it."""
    try:
        proc.stdin.close()
        proc.wait(timeout=grace)
    except (OSError, subprocess.TimeoutExpired):
        pass
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def _scale_dir(scale: str) -> str:
    """Raw input cache dir; keyed on the scale's parameters, so a re-sized
    scale regenerates instead of reusing stale data."""
    from racing_telemetry_pipeline_spark.config import SCALES

    sc = SCALES[scale]
    return f"/tmp/rtps_bench_raw_{scale}_{sc.n_convs}x{sc.mean_turns}"


def _purge_stale_inputs() -> list[str]:
    """Remove retired raw-input variants once, before any worker starts."""
    import glob

    keep = {_scale_dir(scale) for _n, _n4, scale in PAIRS.values()}
    purged = [d for d in glob.glob("/tmp/rtps_bench_raw_*") if d not in keep]
    for d in purged:
        shutil.rmtree(d, ignore_errors=True)
    return purged


def ensure_bench_raw(scale: str) -> tuple[str, int]:
    """Generate (or reuse) a phase-B raw input and the sf-unit warm-up
    input. Pure pyarrow/numpy: no JVM in the orchestrator."""
    import glob

    import pyarrow.parquet as pq

    from racing_telemetry_pipeline_spark.datagen import write_transcripts

    d = _scale_dir(scale)
    meta = os.path.join(d, "_meta.json")
    if not os.path.exists(meta):
        write_transcripts(d, scale, rows_per_file=500_000)
        rows = sum(pq.read_metadata(f).num_rows
                   for f in glob.glob(f"{d}/*.parquet"))
        with open(meta, "w") as fh:
            json.dump({"rows": rows}, fh)
    if not os.path.isdir(WARM_DIR) or not os.listdir(WARM_DIR):
        write_transcripts(WARM_DIR, "sf-unit", rows_per_file=500_000)
    with open(meta) as fh:
        return d, json.load(fh)["rows"]


def _sweep_orphans() -> list[int]:
    """Kill orphaned (ppid 1) processes carrying this repo's ``MARK``: an
    earlier killed run's JVM keeps executing its in-flight job and skews
    every timing taken while it lives. Live workers of a concurrent bench
    have a parent and are left alone."""
    marker = f"{MARK}={REPO}".encode()
    killed = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                if int(fh.read().rsplit(")", 1)[1].split()[1]) != 1:
                    continue
            with open(f"/proc/{pid}/environ", "rb") as fh:
                if marker not in fh.read().split(b"\0"):
                    continue
            os.kill(int(pid), signal.SIGKILL)
            killed.append(int(pid))
        except (OSError, ValueError, IndexError):
            continue
    return killed


def measure_queries(sf_dir: str) -> tuple[dict, dict]:
    proc = _spawn(["queries", sf_dir], "/tmp/rtps_bench_queries.err")
    try:
        reply = _read_reply(proc)
    finally:
        _stop(proc)
    walls = reply.pop("walls")
    return {q: statistics.median(ws) for q, ws in walls.items()}, reply


def measure_pair(tag: str, n: int, n4: int, scale: str, host: dict) -> dict:
    raw, turns = ensure_bench_raw(scale)
    block: dict = {"cores": [n, n4], "scale": scale, "turns": turns}
    procs = {side: _spawn(["pipeline", str(c), raw],
                          f"/tmp/rtps_bench_{tag}_{side}.err")
             for side, c in (("n", n), ("4n", n4))}
    rounds: list[dict] = []
    try:
        for side, proc in procs.items():  # both warm up before any timing
            ready = _read_reply(proc)
            block[f"warmup_{side}_sec"] = ready.pop("warmup_sec")
            host.update(ready)
        for r in range(ROUNDS):
            replies = {}
            for side in round_order(r):
                procs[side].stdin.write("run\n")
                procs[side].stdin.flush()
                replies[side] = _read_reply(procs[side])
            rounds.append(replies)
    except (WorkerError, OSError) as exc:
        block["error"] = f"round {len(rounds)}: {exc}"
    finally:
        for proc in procs.values():
            _stop(proc)
    if rounds:
        block.update(pair_stats(rounds, n, n4, turns))
    return block


def _fs_type(path: str) -> str:
    """Filesystem type of the longest /proc/mounts entry holding ``path``."""
    path, best, kind = os.path.realpath(path), "", "unknown"
    with open("/proc/mounts") as fh:
        for line in fh:
            mnt, fstype = line.split()[1:3]
            inside = path == mnt or path.startswith(mnt.rstrip("/") + "/")
            if inside and len(mnt) > len(best):
                best, kind = mnt, fstype
    return kind


def _mem_total_gb() -> float:
    with open("/proc/meminfo") as fh:
        kb = next(int(ln.split()[1]) for ln in fh
                  if ln.startswith("MemTotal:"))
    return round(kb / 2**20, 1)


def write_reports(result: dict) -> None:
    with open(os.path.join(REPO, "BENCH_FULL.json"), "w") as fh:
        json.dump(result, fh, indent=1)
    h = result["host"]
    lines = [
        "# BENCH — measured by `python bench.py` (targets: BASELINE.md)\n",
        f"- host: {h['nproc']} cores, {h['mem_total_gb']} GB RAM, Spark "
        f"{h.get('spark')}, shuffle dir {h.get('local_dir')} "
        f"({h.get('local_dir_fs')}); bench wall {result['wall_sec']} s",
        f"\n## Headline queries, sf={result['sf']}, local[{h['nproc']}], "
        f"median of {QUERY_PASSES} passes\n",
        f"- total: {result['value']} s",
    ]
    lines += [f"  - {k}: {v} s" for k, v in result["queries"].items()]
    if "queries_error" in result:
        lines.append(f"- error: {result['queries_error']}")
    for tag, (n, n4, scale) in PAIRS.items():
        p = result["pairs"][tag]
        lines.append(f"\n## Pipeline pair {tag}: local[{n}] vs local[{n4}] "
                     f"on {scale}\n")
        if "skipped" in p:
            lines.append(f"- skipped: {p['skipped']}")
            continue
        if "eff" in p:
            lines += [
                f"- input: {p['turns']} turns; {p['n_rounds']} interleaved "
                f"rounds (ABBA)", "",
                "| side | median wall s | runs s | turns/s |",
                "|---|---|---|---|",
                f"| local[{n}] | {p['t_n_sec']} | {p['runs_n_sec']} | "
                f"{p['turns_per_sec_n']} |",
                f"| local[{n4}] | {p['t_4n_sec']} | {p['runs_4n_sec']} | "
                f"{p['turns_per_sec_4n']} |",
                "",
                f"- efficiency (T_N / T_4N) / {n4 // n} per round: "
                f"{p['effs']}; median **{p['eff']}**, IQR {p['eff_iqr']}",
                f"- stages of the median local[{n}] run: {p['stages_n']}",
                f"- stages of the median local[{n4}] run: {p['stages_4n']}",
            ]
        if "error" in p:
            lines.append(f"- error: {p['error']}")
    with open(os.path.join(REPO, "BENCH.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")


def main() -> int:
    t_start = time.perf_counter()
    nproc = len(os.sched_getaffinity(0))
    print(json.dumps({"swept_orphan_pids": _sweep_orphans(),
                      "purged_stale_inputs": _purge_stale_inputs()}), flush=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    name = os.path.basename(sf_dir.rstrip("/"))
    host = {"nproc": nproc, "mem_total_gb": _mem_total_gb()}
    result: dict = {
        "metric": "headline_queries_total_sec", "value": None, "unit": "sec",
        "sf": float(name[2:]) if name.startswith("sf") else None,
        "queries": {}, "host": host, "pairs": select_pairs(nproc),
    }
    try:
        result["queries"], facts = measure_queries(sf_dir)
        result["value"] = round(sum(result["queries"].values()), 3)
        host.update(facts)
    except (WorkerError, OSError) as exc:
        result["queries_error"] = str(exc)
    print(json.dumps(result), flush=True)  # partial: survives a phase-B crash

    for tag, (n, n4, scale) in PAIRS.items():
        if result["pairs"][tag] is None:
            result["pairs"][tag] = measure_pair(tag, n, n4, scale, host)
            print(json.dumps({tag: result["pairs"][tag]}), flush=True)
    if "local_dir" in host:
        host["local_dir_fs"] = _fs_type(host["local_dir"])
    result["wall_sec"] = round(time.perf_counter() - t_start, 1)
    write_reports(result)
    print(json.dumps(compact(result)), flush=True)
    return 0


if __name__ == "__main__":
    if sys.argv[1:3] == ["--worker", "queries"]:
        worker_queries(sys.argv[3])
    elif sys.argv[1:3] == ["--worker", "pipeline"]:
        worker_pipeline(int(sys.argv[3]), sys.argv[4])
    else:
        sys.exit(main())

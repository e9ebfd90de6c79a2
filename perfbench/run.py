"""Host-sized benchmark of the transcript pipeline.

    python3 perfbench/run.py --workload batch_hot --seed 1 --seconds 5 --trace 0

Run it from the repository root. Workloads (see BENCHMARK.json for why
each was chosen):

- ``batch_hot``: ``plans.pipeline.run_pipeline(resume=False)`` into an
  empty lake, on seeded transcripts with 3 hot conversations;
- ``stream_compact``: ``streaming_to_lake`` (availableNow, 4 files per
  trigger) then ``Lake.compact("routed_stream")`` over the same files;
- ``queries_headline``: the 12 headline registry queries, each collected
  to the driver, over the sf0.01 tables under perfbench/tables.

One process at ``local[nproc]`` drives a closed loop: a cold first
iteration, then warm iterations until ``--seconds`` of warm wall time
have been measured. Each iteration's output is checked against an
independent oracle outside the timed interval. ``--trace 1`` makes the
per-layer run instead (perfbench/layers.py).

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
The host record and every sample also go to
``.perfbench_cache/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

def process_age() -> float:
    """Seconds since this process was started by the OS."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv=None):
    from perfbench.catalog import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Ledger:
    """Operations attempted and failed. An operation is an iteration (a
    query, for queries_headline); it fails if it raises or fails its
    correctness check, which runs outside the timed interval."""

    def __init__(self, w):
        self.w = w
        self.attempted = self.failed = 0
        self.problems: list[str] = []

    def run(self, iteration=None, check=None) -> float:
        t0 = time.perf_counter()
        try:
            wall = (iteration or self.w.iteration)()
        except Exception as e:
            wall = time.perf_counter() - t0
            problems, n_failed = [f"{type(e).__name__}: {e}"[:500]], self.w.ops
        else:
            problems = (check or self.w.check)()
            n_failed = self.w.failed_ops(problems)
        self.attempted += self.w.ops
        self.failed += n_failed
        self.problems += problems
        for msg in problems:
            print(f"perfbench: {self.w.name}: {msg}", file=sys.stderr, flush=True)
        return wall


def end_to_end(w, ledger: Ledger, setup_s: float, seconds: float) -> tuple[dict, dict]:
    first = ledger.run()
    warm: list[float] = []
    while len(warm) < w.warm_min or sum(warm) < seconds:
        warm.append(ledger.run())
    iter_s = statistics.median(warm)
    metrics = {
        "setup_s": setup_s,
        "first_iter_s": first,
        "iter_s": iter_s,
        "turns_per_s": w.input_rows / iter_s,
        "lake_bytes_per_turn": w.lake_bytes / w.input_rows,
    }
    return metrics, {"first_iter_s": first, "warm_iter_s": warm}


def traced(spark, w, ledger: Ledger, evlog: str) -> tuple[dict, dict]:
    from perfbench import layers

    ledger.run()  # cold first iteration
    if w.name == "queries_headline":
        passes = []
        for _ in range(3):
            ledger.run()
            passes.append(dict(w.per_query))
        return layers.query_layer_metrics(passes), {"passes": passes}
    untraced = ledger.run()
    if w.name == "stream_compact":
        return layers.stream_layer_metrics(w), {}
    timings = dict(w.timings)
    traced_run = {}

    def trace_pass() -> float:
        t0 = time.perf_counter()
        traced_run["walls"], traced_run["facts"] = layers.trace_batch(spark, w, w.lake)
        return time.perf_counter() - t0

    ledger.run(iteration=trace_pass, check=lambda: w.check(tables=("agg_tool_frequency",)))
    if "walls" not in traced_run:
        return {}, {}
    stop(spark)  # closes the event log
    groups = layers.digest_dir(evlog)
    metrics = layers.batch_layer_metrics(
        traced_run["walls"], groups, traced_run["facts"], timings, untraced
    )
    return metrics, {"walls": traced_run["walls"], "groups": groups,
                     "timings": timings, "untraced_s": untraced}


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    return True


def stop(spark) -> None:
    """Stop Spark, then wait for its JVM and the Python workers it forked."""
    import signal

    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    if SparkContext._active_spark_context is not None:
        spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while any(map(_alive, workers)) and time.monotonic() < deadline:
        time.sleep(0.05)
    for pid in filter(_alive, workers):
        os.kill(pid, signal.SIGKILL)


def main(argv=None) -> int:
    import importlib.util

    args = parse_args(argv)
    if not all(map(importlib.util.find_spec, ("racing_telemetry_pipeline_spark", "tools"))):
        print("perfbench: run from the repository root", file=sys.stderr)
        return 2
    from perfbench.common import CACHE, configure_env, session

    work = os.path.join(CACHE, "work", str(os.getpid()))
    local = configure_env(work)
    evlog = os.path.join(work, "evlog")
    conf = {}
    if args.trace and args.workload == "batch_hot":
        os.makedirs(evlog)
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evlog}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    spark = None
    try:
        spark = session(f"perfbench-{args.workload}", conf)
        spark.range(1).count()
        setup_s = process_age()
        # the benchmark's own imports come after the set-up it measures
        from perfbench import layers
        from perfbench.catalog import END_TO_END, per_layer
        from perfbench.common import RESULTS, host_record
        from perfbench.workloads import WORKLOADS

        host = host_record(spark, local)
        w = WORKLOADS[args.workload](spark, args.seed, work)
        ledger = Ledger(w)
        if args.trace:
            measured, samples = traced(spark, w, ledger, evlog)
            metrics, units = layers.complete(measured), per_layer()
        else:
            metrics, samples = end_to_end(w, ledger, setup_s, args.seconds)
            units = END_TO_END
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    result = {
        "correct": ledger.failed == 0 and ledger.attempted > 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": v, "unit": units[k][0]} for k, v in metrics.items()},
    }
    record = dict(result, workload=args.workload, seed=args.seed, seconds=args.seconds,
                  trace=args.trace, input_rows=w.input_rows, host=host,
                  samples=samples, problems=ledger.problems,
                  failed_share=ledger.failed / max(ledger.attempted, 1))
    os.makedirs(RESULTS, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}"
    with open(os.path.join(RESULTS, f"{name}-{os.getpid()}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps({"host": host}))
    for k, v in metrics.items():
        print(f"{k:48s} {v:14.6g} {units[k][0]}")
    print(f"{'failed_share':48s} {record['failed_share']:14.6g} share")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    # import perfbench as a package (not its files as top-level modules),
    # and the product package and tools/ from the repository root
    sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if os.getcwd() not in sys.path:
        sys.path.insert(1, os.getcwd())
    sys.exit(main())

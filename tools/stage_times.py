"""Parse a Spark event log into a per-stage timeline.

Run it on the event log of a pipeline run (``spark.eventLog.enabled``)
to pinpoint WHERE the non-scaling wall component of the run lives — a
stage whose max-task time ~= stage wall at every width is a straggler;
gaps between consecutive stages are driver/scheduling serial cost.

    python tools/stage_times.py /tmp/evlog/<app-id> [min_sec]
"""

from __future__ import annotations

import json
import sys


def main() -> None:
    path = sys.argv[1]
    min_sec = float(sys.argv[2]) if len(sys.argv) > 2 else 0.5
    stages: dict[int, dict] = {}
    tasks: dict[int, list[float]] = {}
    metrics: dict[int, dict] = {}
    app_start = None
    jobs: list[tuple[float, float, int]] = []
    job_start: dict[int, float] = {}
    with open(path) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerApplicationStart":
                app_start = ev["Timestamp"]
            elif e == "SparkListenerJobStart":
                job_start[ev["Job ID"]] = ev["Submission Time"]
            elif e == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_start:
                    jobs.append((job_start[jid], ev["Completion Time"], jid))
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stages[si["Stage ID"]] = {
                    "name": si["Stage Name"].split("\n")[0][:70],
                    "sub": si.get("Submission Time"),
                    "done": si.get("Completion Time"),
                    "n": si["Number of Tasks"],
                }
            elif e == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                ti = ev["Task Info"]
                tasks.setdefault(sid, []).append(
                    (ti["Finish Time"] - ti["Launch Time"]) / 1000.0
                )
                tm = ev.get("Task Metrics") or {}
                agg = metrics.setdefault(sid, {})
                srm = tm.get("Shuffle Read Metrics") or {}
                swm = tm.get("Shuffle Write Metrics") or {}
                for key, val in (
                    ("run", tm.get("Executor Run Time", 0) / 1000.0),
                    ("cpu", tm.get("Executor CPU Time", 0) / 1e9),
                    ("gc", tm.get("JVM GC Time", 0) / 1000.0),
                    ("fetch_wait", srm.get("Fetch Wait Time", 0) / 1000.0),
                    ("sh_read_gb", (srm.get("Local Bytes Read", 0)
                                    + srm.get("Remote Bytes Read", 0)) / 2**30),
                    ("sh_write", swm.get("Shuffle Write Time", 0) / 1e9),
                    ("sh_write_gb", swm.get("Shuffle Bytes Written", 0) / 2**30),
                    ("out_gb", (tm.get("Output Metrics") or {}).get(
                        "Bytes Written", 0) / 2**30),
                    ("spill_gb", (tm.get("Memory Bytes Spilled", 0)) / 2**30),
                ):
                    agg[key] = agg.get(key, 0.0) + val
    t0 = app_start or min(s["sub"] for s in stages.values() if s["sub"])
    print(f"{'stage':>5} {'start':>7} {'end':>7} {'wall':>6} {'tasks':>5} "
          f"{'max_t':>6} {'sum_t':>7}  name")
    prev_end = None
    for sid in sorted(stages):
        s = stages[sid]
        if not s["sub"] or not s["done"]:
            continue
        wall = (s["done"] - s["sub"]) / 1000.0
        if wall < min_sec:
            continue
        ts = tasks.get(sid, [])
        gap = ""
        if prev_end is not None and s["sub"] - prev_end > 500:
            gap = f"   <-- {(s['sub'] - prev_end) / 1000.0:.1f}s gap before"
        print(f"{sid:>5} {(s['sub'] - t0) / 1000.0:>7.1f} "
              f"{(s['done'] - t0) / 1000.0:>7.1f} {wall:>6.1f} {s['n']:>5} "
              f"{max(ts) if ts else 0:>6.1f} {sum(ts):>7.1f}  {s['name']}{gap}")
        m = metrics.get(sid)
        if m and wall >= 5.0:
            print("        " + "  ".join(
                f"{k}={v:.1f}" for k, v in sorted(m.items()) if v >= 0.05))
        prev_end = max(prev_end or 0, s["done"])
    print("\njobs (start, end, wall):")
    for st, en, jid in sorted(jobs):
        print(f"  job {jid}: {(st - t0) / 1000.0:>7.1f} -> "
              f"{(en - t0) / 1000.0:>7.1f}  ({(en - st) / 1000.0:.1f}s)")


if __name__ == "__main__":
    main()

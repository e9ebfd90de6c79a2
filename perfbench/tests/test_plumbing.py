"""Tests of the benchmark's own plumbing (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import catalog, layers  # noqa: E402
from perfbench.run import Ledger  # noqa: E402
from perfbench.workloads import BatchHot, QueriesHeadline  # noqa: E402

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
NAME = re.compile(r"[A-Za-z0-9_.-]+")


# -- event-log digester --------------------------------------------------------
def test_digest_recorded_log():
    """A log recorded from a 2-core session: job group layer.a ran one
    4-task stage without a shuffle; layer.b a 4-task map stage that
    shuffles plus a 1-task reduce stage; 3 more tasks ran untagged."""
    files = layers.event_log_files(FIXTURES)
    assert [os.path.basename(f) for f in files] == ["events_1_local-1"]
    got = layers.digest_dir(FIXTURES)
    assert set(got) == {"layer.a", "layer.b", layers.UNTAGGED}
    assert got["layer.a"]["tasks"] == 4
    assert got["layer.b"]["tasks"] == 5
    assert got[layers.UNTAGGED]["tasks"] == 3
    assert got["layer.a"]["shuffle_write_mb"] == 0
    assert got["layer.b"]["shuffle_write_mb"] > 0

    # CPU sums and the straggler ratio, recomputed straight from the file
    cpu = {}
    with open(files[0]) as fh:
        events = [json.loads(line) for line in fh]
    stage_group = {e["Stage Info"]["Stage ID"]: e["Properties"]["spark.jobGroup.id"]
                   for e in events if e["Event"] == "SparkListenerStageSubmitted"}
    runs_a = []
    for e in events:
        if e["Event"] == "SparkListenerTaskEnd":
            g = stage_group[e["Stage ID"]]
            cpu[g] = cpu.get(g, 0) + e["Task Metrics"]["Executor CPU Time"] / 1e9
            if g == "layer.a":
                runs_a.append(e["Task Metrics"]["Executor Run Time"])
    for g, v in cpu.items():
        assert got[g]["cpu_s"] == pytest.approx(v)
    runs_a.sort()
    median = (runs_a[1] + runs_a[2]) / 2
    assert got["layer.a"]["straggler"] == pytest.approx(max(runs_a) / max(median, 1))


def test_digest_tolerates_a_torn_last_line():
    lines = open(layers.event_log_files(FIXTURES)[0]).read().splitlines()
    torn = lines + ['{"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Me']
    assert layers.digest(torn) == layers.digest(lines)


def test_compressed_log_is_refused(tmp_path):
    (tmp_path / "local-1.zstd").write_bytes(b"")
    with pytest.raises(ValueError, match="compress"):
        layers.event_log_files(str(tmp_path))


def test_prefix_layers_report_differences():
    zero = dict(cpu_s=0.0, gc_s=0.0, shuffle_write_mb=0.0, spill_mb=0.0,
                input_mb=0.0, tasks=0, straggler=1.0)
    walls = {name: 1.0 + i for i, name in
             enumerate(catalog.PREFIX_LAYERS + catalog.POST_LAYERS)}
    groups = {f"{name}#0": dict(zero, cpu_s=10.0 * (i + 1), tasks=4 * (i + 1), input_mb=2.0)
              for i, name in enumerate(catalog.PREFIX_LAYERS + catalog.POST_LAYERS)}
    out = layers.batch_layer_metrics([walls], groups, {"routed_mb": 4.0},
                                     {"routed": 7.0, "aggregates": 3.0}, untraced_wall=2.0)
    assert out["sources.scan.wall_s"] == 1.0
    assert out["operators.skew.sync.wall_s"] == 1.0  # 2.0 - 1.0
    assert out["operators.skew.sync.cpu_s"] == 10.0
    assert out["functions.grok.parse.tasks"] == 4
    assert out["operators.drift.calibration.cpu_s"] == 60.0  # whole, not a difference
    post = sum(walls[p] for p in catalog.POST_LAYERS)
    assert out["plans.pipeline.overlap_gain_s"] == post - 3.0
    assert out["plans.pipeline.routed_read_amplification"] == 5 * 2.0 / 4.0
    assert out["trace.overhead_s"] == walls[catalog.PREFIX_LAYERS[-1]] + post - 2.0
    assert set(layers.complete(out)) == set(catalog.per_layer())


# -- correctness gate ------------------------------------------------------------
def _fake_lake(root, counts: dict[str, int]) -> None:
    for route, n in counts.items():
        d = root / "routed" / f"route={route}"
        d.mkdir(parents=True)
        pq.write_table(pa.table({"conv_id": ["c"] * n}), d / "part-0.parquet")
    for name, df in (("agg_sink_counts", _sinks(counts)), ("agg_tool_frequency", _tools())):
        (root / name).mkdir()
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                       root / name / "part-0.parquet")


def _sinks(counts):
    return pd.DataFrame({"route": sorted(counts), "n_rows": [counts[r] for r in sorted(counts)]})


def _tools():
    return pd.DataFrame({"tool_name": ["grep", "ls"], "n_calls": [3, 1],
                         "avg_latency_ms": [10.5, 2.0]})


def _batch(lake, counts):
    w = BatchHot.__new__(BatchHot)
    w.lake = str(lake)
    w.expected = {"routed_counts": dict(counts), "sink_counts": _sinks(counts),
                  "tool_frequency": _tools()}
    w.iteration = lambda: 1.0
    return w


def test_gate_passes_on_matching_output(tmp_path):
    counts = {"valid": 5, "quarantine": 2, "tool_events": 3}
    _fake_lake(tmp_path, counts)
    ledger = Ledger(_batch(tmp_path, counts))
    ledger.run()
    assert (ledger.attempted, ledger.failed) == (1, 0)


def test_planted_wrong_count_fails_the_operation(tmp_path):
    counts = {"valid": 5, "quarantine": 2, "tool_events": 3}
    _fake_lake(tmp_path, counts)
    w = _batch(tmp_path, counts)
    w.expected["routed_counts"]["valid"] += 1  # planted
    ledger = Ledger(w)
    ledger.run()
    ledger.run()
    assert ledger.attempted == 2 and ledger.failed == 2
    assert ledger.failed / ledger.attempted > 0
    assert "routed" in ledger.problems[0]


def test_an_iteration_that_raises_is_a_failed_operation(tmp_path):
    w = _batch(tmp_path, {})

    def boom():
        raise RuntimeError("executor lost")

    w.iteration = boom
    ledger = Ledger(w)
    ledger.run()
    assert (ledger.attempted, ledger.failed) == (1, 1)


def test_planted_wrong_query_result_fails_that_query_only():
    from tools.check_oracle import canon

    right = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    w = QueriesHeadline.__new__(QueriesHeadline)
    w.expected = {"results": {"qa": canon(right), "qb": canon(right), "qc": canon(right)}}
    w.per_query = {}
    results = {"qa": right.iloc[::-1], "qb": right.assign(v=[0.5, 9.0]),  # planted
               "qc": "AnalysisException: boom"}

    def iteration():
        w.results = dict(results)
        return 1.0

    w.iteration = iteration
    w.ops = 3
    ledger = Ledger(w)
    ledger.run()
    assert (ledger.attempted, ledger.failed) == (3, 2)
    assert sorted(p.split(":")[0] for p in ledger.problems) == ["qb", "qc"]


# -- names -------------------------------------------------------------------------
def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_names_are_well_formed_and_unique():
    b = _bench()
    names = [w["name"] for w in b["workloads"]]
    names += [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    names += list(catalog.WORKLOADS) + list(catalog.END_TO_END) + list(catalog.per_layer())
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    declared = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(declared) == len(set(declared))


def test_benchmark_json_matches_the_catalogue():
    b = _bench()
    assert [w["name"] for w in b["workloads"]] == list(catalog.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in b["end_to_end"]} == catalog.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]} == catalog.per_layer()
    assert len(b["per_layer"]) <= 128
    assert any(m["name"] == "setup_s" and m["bound"] == max(x["bound"] for x in b["end_to_end"])
               for m in b["end_to_end"])

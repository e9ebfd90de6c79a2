"""bench.py's pure helpers: which N-vs-4N pairs a host runs, the interleaved
efficiency statistic and the compact last line. Pure stdlib, no Spark."""

import json

import pytest

import bench


@pytest.mark.parametrize("nproc, runnable", [
    (2, set()),
    (4, {"narrow"}),
    (32, {"narrow", "mid", "wide"}),
])
def test_select_pairs_from_host_cores(nproc, runnable):
    sel = bench.select_pairs(nproc)
    assert set(sel) == {"narrow", "mid", "wide"}  # no row is dropped
    assert {tag for tag, v in sel.items() if v is None} == runnable
    for tag, v in sel.items():
        if v is not None:
            n4 = bench.PAIRS[tag][1]
            assert v == {"skipped": f"needs {n4} cores, host has {nproc}"}


def _run(sec):
    return {"sec": sec, "stages": {"routed": round(sec / 2, 1)}}


def test_pair_stats_median_and_iqr_of_interleaved_rounds():
    # per-round effs (t_n / t_4n) / 4: 0.8, 0.9, 0.7
    rounds = [
        {"n": _run(320.0), "4n": _run(100.0)},
        {"n": _run(360.0), "4n": _run(100.0)},
        {"n": _run(336.0), "4n": _run(120.0)},
    ]
    assert [bench.round_order(r) for r in range(3)] == [
        ("n", "4n"), ("4n", "n"), ("n", "4n")]
    s = bench.pair_stats(rounds, 1, 4, turns=1_000_000)
    assert s["effs"] == [0.8, 0.9, 0.7]
    assert s["eff"] == 0.8
    assert s["eff_iqr"] == 0.1  # inclusive quartiles 0.75 and 0.85
    assert s["n_rounds"] == 3
    assert (s["t_n_sec"], s["t_4n_sec"]) == (336.0, 100.0)
    assert s["turns_per_sec_4n"] == 10_000
    assert s["stages_n"] == {"routed": 168.0}  # the median N run's stages
    assert s["stages_4n"] == {"routed": 50.0}
    assert bench.pair_stats(rounds[:1], 1, 4, 1)["eff_iqr"] is None


def test_compact_line_with_one_run_pair_and_one_skipped_pair():
    run = {"cores": [1, 4], "scale": "sf-bench", "turns": 10,
           **bench.pair_stats([{"n": _run(4.0), "4n": _run(1.25)}] * 3,
                              1, 4, 10)}
    result = {
        "metric": "headline_queries_total_sec", "value": 1.5, "unit": "sec",
        "sf": 0.1, "queries": {"q1_pricing_summary": 1.234},
        "host": {"nproc": 4}, "pairs": {
            "narrow": run,
            "wide": {"skipped": "needs 16 cores, host has 4"},
        },
    }
    line = json.dumps(bench.compact(result))
    assert "\n" not in line
    out = json.loads(line)
    assert set(out) == {"metric", "value", "unit", "sf", "queries", "pairs"}
    assert out["queries"] == {"q1_pricing_summary": 1.23}
    assert out["pairs"]["narrow"] == {
        "cores": [1, 4], "t_n_sec": 4.0, "t_4n_sec": 1.25,
        "turns_per_sec_4n": 8, "eff": 0.8, "eff_iqr": 0.0, "n_rounds": 3,
    }
    assert out["pairs"]["wide"] == {"skipped": "needs 16 cores, host has 4"}

"""CLI surface tests (python -m racing_telemetry_pipeline_spark ...).

The `run` subcommand's cluster launch is exercised through real
spark-submit in tests/test_spark_submit.py; here the remaining argparse
wiring runs in-process (get_spark getOrCreate reuses the pytest session,
so these add no JVM spin-up).
"""

from __future__ import annotations

import glob
import json

import pandas as pd

from racing_telemetry_pipeline_spark.__main__ import main


def test_cli_gen_writes_deterministic_raw(tmp_path, capsys):
    out1 = tmp_path / "raw1"
    out2 = tmp_path / "raw2"
    assert main(["gen", "--out", str(out1)]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["scale"] == "sf-unit"

    files = sorted(glob.glob(str(out1 / "*.parquet")))
    assert files, "gen wrote no parquet files"
    df = pd.read_parquet(files[0])
    assert {"conv_id", "turn_idx", "role", "text", "tool", "ts"} <= set(df.columns)

    # same seed -> byte-identical content (the determinism the input_hint
    # demands of the synthesised table)
    assert main(["gen", "--out", str(out2)]) == 0
    capsys.readouterr()
    df2 = pd.read_parquet(sorted(glob.glob(str(out2 / "*.parquet")))[0])
    pd.testing.assert_frame_equal(df, df2)


def test_cli_query_runs_registry_entry(spark, capsys):
    rc = main(
        ["query", "q1_pricing_summary", "--sf-dir", "/root/testdata/sf0.001"]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "l_returnflag" in out  # df.show() rendered the result


def test_cli_query_unknown_name_lists_registry(spark, capsys):
    rc = main(["query", "no_such_query", "--sf-dir", "/root/testdata/sf0.001"])
    assert rc == 2
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["error"] == "unknown query"
    assert "q1_pricing_summary" in res["available"]
    assert len(res["available"]) == 57  # the full registry, not the 50-entry window

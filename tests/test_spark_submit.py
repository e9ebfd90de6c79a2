"""The north-rule launch surface: ``spark-submit --py-files rtps.zip``.

Runs the real ``spark-submit`` binary on ``jobs/run_pipeline.py`` from a
NEUTRAL working directory with the repo stripped from ``PYTHONPATH`` — the
package must import from the zip alone, exactly as on a cluster where the
driver and executors only receive the shipped artifact. Asserts the
pipeline completes, every stage runs, and the per-sink routed-row counts in
the written lake match the independent pandas oracle (read back with
pyarrow — no Spark in the test process, so nothing can leak from the
in-process session).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import zipfile

import pandas as pd
import pytest

from racing_telemetry_pipeline_spark.datagen import write_transcripts
from racing_telemetry_pipeline_spark.oracle import run_oracle

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


@pytest.fixture(scope="module")
def submit_workdir(tmp_path_factory):
    work = tmp_path_factory.mktemp("submit")
    raw_dir = write_transcripts(str(work / "raw"), "sf-unit", rows_per_file=1500)

    zpath = work / "rtps.zip"
    pkg = os.path.join(REPO, "racing_telemetry_pipeline_spark")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, dirs, files in os.walk(pkg):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for f in files:
                if f.endswith((".py", ".yaml")):  # conf/policy.yaml routes
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
    shutil.copy(os.path.join(REPO, "jobs", "run_pipeline.py"), work / "run_pipeline.py")
    return work, raw_dir


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not on this image"
)
def test_spark_submit_py_files_launch(submit_workdir):
    work, raw_dir = submit_workdir
    lake = work / "lake"

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # imports must come from the zip
    env["SPARK_DRIVER_MEMORY"] = "4g"  # tiny input; a fixed heap, not the MemTotal/4 default

    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[2]",
            "--py-files", str(work / "rtps.zip"),
            str(work / "run_pipeline.py"),
            "--raw", raw_dir,
            "--lake", str(lake),
            "--cores", "2",
        ],
        cwd=str(work),
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, f"spark-submit failed:\n{proc.stderr[-4000:]}"

    payload = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    assert payload, f"no JSON result line in stdout:\n{proc.stdout[-2000:]}"
    res = json.loads(payload[-1])
    assert res["lake"] == str(lake)
    ran = set(res["stages_run"]) | set(res["stages_skipped"])
    assert {"routed", "drift_calibration", "aggregates"} <= ran, res
    assert not res["stages_skipped"], "fresh lake must run every stage"

    # the fan-out write is partitioned by route — the per-sink directories
    # ARE the sinks
    for route in ("valid", "quarantine", "tool_events"):
        assert (lake / "routed" / f"route={route}").is_dir()

    # per-sink routed-row counts vs the independent pandas oracle, read
    # back with pyarrow only
    got = (
        pd.read_parquet(str(lake / "agg_sink_counts"))
        .sort_values("route")
        .reset_index(drop=True)
    )
    want = (
        run_oracle(raw_dir)["sink_counts"]
        .sort_values("route")
        .reset_index(drop=True)
    )
    assert list(got["route"]) == list(want["route"])
    count_col = [c for c in want.columns if c != "route"][0]
    assert list(got[count_col].astype(int)) == list(want[count_col].astype(int))

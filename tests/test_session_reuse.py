"""Per-session fixed costs are paid once: a warm pipeline run compiles no
class (session.py's codegen cache), and a second read of an unchanged
table launches no schema-inference job (sources/parquet.py) while a
rewritten table is inferred, and validated, again."""

from __future__ import annotations

import glob
import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from racing_telemetry_pipeline_spark.config import DEFAULTS
from racing_telemetry_pipeline_spark.plans.pipeline import _build_routed, run_pipeline
from racing_telemetry_pipeline_spark.queries.common import t
from racing_telemetry_pipeline_spark.schemas import SchemaContractError
from racing_telemetry_pipeline_spark.session import compiled_classes
from racing_telemetry_pipeline_spark.sources.lake import Lake


def _jobs(spark, fn):
    """``fn()``'s result and the number of Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rewrite(files, edit) -> None:
    for f in files:
        pq.write_table(edit(pq.read_table(f)), f)


def _add_column(tbl: pa.Table) -> pa.Table:
    return tbl.append_column("extra", pa.array([7] * tbl.num_rows, pa.int64()))


def test_second_pipeline_run_compiles_nothing(spark, raw_unit, tmp_path):
    """A second run over the same input, into a fresh lake, finds every
    generated class in the cache (Spark's default 100 entries do not hold
    one run's classes, so it recompiles them)."""
    run_pipeline(spark, raw_unit, str(tmp_path / "lake1"), resume=False)
    before = compiled_classes(spark)
    run_pipeline(spark, raw_unit, str(tmp_path / "lake2"), resume=False)
    assert compiled_classes(spark) - before == 0


def test_query_table_file_schema_reuse(spark, tmp_path):
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    path = os.path.join(sf, "tiny.parquet")
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}), path)

    _, n_first = _jobs(spark, lambda: t(spark, sf, "tiny"))
    df, n_again = _jobs(spark, lambda: t(spark, sf, "tiny"))
    assert n_first >= 1 and n_again == 0
    assert sorted(r.k for r in df.collect()) == [1, 2, 3]

    _rewrite([path], _add_column)
    df = t(spark, sf, "tiny")
    assert df.columns == ["k", "v", "extra"]
    assert [r.extra for r in df.collect()] == [7, 7, 7]


def test_lake_table_schema_reuse(spark, raw_unit, tmp_path):
    lake = Lake(spark, str(tmp_path / "lake"))
    raw = spark.read.parquet(raw_unit).select("conv_id", "turn_idx", "role")
    lake.write(raw, "turns", partition_by=["role"])
    lake.register_sink_aliases("turns", "role", ["user"], prefix="turns_")
    names = ("turns", "turns_user")  # table and alias (basePath) branch

    for name in names:
        _, n_first = _jobs(spark, lambda: lake.read(name))
        df, n_again = _jobs(spark, lambda: lake.read(name))
        assert n_first >= 1 and n_again == 0, name
        assert "role" in df.columns

    lake.write(raw.withColumnRenamed("turn_idx", "turn"), "turns",
               partition_by=["role"])
    for name in names:
        df = lake.read(name)
        assert "turn" in df.columns and "turn_idx" not in df.columns, name
        assert df.count() > 0


def test_raw_dir_schema_reuse(spark, raw_unit, tmp_path):
    raw = str(tmp_path / "raw")
    shutil.copytree(raw_unit, raw)

    _, n_first = _jobs(spark, lambda: _build_routed(spark, raw, DEFAULTS, "builtin"))
    _, n_again = _jobs(spark, lambda: _build_routed(spark, raw, DEFAULTS, "builtin"))
    assert n_first >= 1 and n_again == 0

    _rewrite(glob.glob(os.path.join(raw, "*.parquet")), _add_column)
    routed = _build_routed(spark, raw, DEFAULTS, "builtin")
    assert "extra" in routed.columns


def test_raw_missing_column_still_rejected(spark, raw_unit, tmp_path):
    """validate_raw checks the schema as inferred, also when the reader has
    already cached a valid schema for the same directory."""
    raw = str(tmp_path / "raw")
    shutil.copytree(raw_unit, raw)
    _build_routed(spark, raw, DEFAULTS, "builtin")
    _build_routed(spark, raw_unit, DEFAULTS, "builtin")

    _rewrite(glob.glob(os.path.join(raw, "*.parquet")),
             lambda tbl: tbl.drop_columns(["text"]))
    with pytest.raises(SchemaContractError, match="text"):
        _build_routed(spark, raw, DEFAULTS, "builtin")


def test_stream_table_changes_drop_snapshot_id(spark, raw_unit, tmp_path):
    """A foreachBatch append or a vacuum changes a stream table after
    compact() recorded its snapshot id; the id must go, so reads of the
    table infer its schema again."""
    lake = Lake(spark, str(tmp_path / "lake"))
    rows = spark.read.parquet(raw_unit).select("conv_id", "turn_idx").limit(50)

    def append(batch_id: int) -> None:
        rows.write.parquet(
            os.path.join(lake.table_path("s"), f"batch_id={batch_id}"))
        lake.mark_batch("s", batch_id, partition_by=["batch_id"])

    append(0)
    lake.compact("s")
    assert lake.snapshot_id("s")
    append(1)
    assert lake.snapshot_id("s") is None
    lake.compact("s")
    assert lake.snapshot_id("s")
    assert lake.vacuum_stream_batches("s", keep_batches=1) == 1
    assert lake.snapshot_id("s") is None


def test_concurrent_reads_infer_once(spark, raw_unit, tmp_path):
    """More threads than cores reading a new table version at once (as
    run_pipeline's post-routed stages read the routed snapshot) launch one
    inference job; the others wait for it and reuse its schema."""
    import sys
    import threading

    lake = Lake(spark, str(tmp_path / "lake"))
    raw = spark.read.parquet(raw_unit).select("conv_id", "turn_idx", "role")
    lake.write(raw, "turns", partition_by=["role"])
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    n = 2 * sc.defaultParallelism
    ready = threading.Barrier(n, timeout=60)
    columns = []

    def read() -> None:
        sc.setJobGroup(group, group)
        ready.wait()
        columns.append(lake.read("turns").columns)

    threads = [threading.Thread(target=read) for _ in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert columns == [["conv_id", "turn_idx", "role"]] * n

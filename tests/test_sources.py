"""Source/sink coverage (SURVEY.md §2.1): CSV scan with enforced schema
(S1/S2), JSON sink/scan (S7), per-sink table aliases, snapshot manifest."""

from __future__ import annotations

import os
import uuid

import pandas as pd
from pyspark.sql import functions as F

from racing_telemetry_pipeline_spark.sources.lake import Lake
from racing_telemetry_pipeline_spark.streaming.stream_pipeline import RAW_SCHEMA


def test_csv_roundtrip_with_schema(spark, raw_unit, tmp_path):
    """CSV scan replaces the reference's 110-LoC chunked reader
    (/root/reference/src/ingestion/ingest.py:45-152): schema enforced at
    read, partitioning automatic."""
    pq = spark.read.parquet(raw_unit)
    csv_dir = str(tmp_path / "csv")
    pq.write.option("header", True).option("timestampFormat",
        "yyyy-MM-dd HH:mm:ss.SSSSSS").csv(csv_dir)
    back = (
        spark.read.schema(RAW_SCHEMA)
        .option("header", True)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .csv(csv_dir)
    )
    assert back.count() == pq.count()
    assert back.schema == RAW_SCHEMA
    a = pq.agg(F.sum(F.unix_micros("ts")), F.sum("turn_idx")).collect()[0]
    b = back.agg(F.sum(F.unix_micros("ts")), F.sum("turn_idx")).collect()[0]
    assert tuple(a) == tuple(b)


def test_json_sink_scan(spark, raw_unit, tmp_path):
    pq = spark.read.parquet(raw_unit).limit(200)
    json_dir = str(tmp_path / "json")
    pq.select("conv_id", "turn_idx", "role").write.json(json_dir)
    back = spark.read.json(json_dir)
    assert back.count() == 200
    assert set(back.columns) == {"conv_id", "turn_idx", "role"}


def test_sink_aliases(spark, raw_unit, tmp_path):
    from racing_telemetry_pipeline_spark.plans.pipeline import run_pipeline

    root = str(tmp_path / "lake")
    run_pipeline(spark, raw_unit, root)
    lake = Lake(spark, root)
    total = 0
    for sink in ("sink_valid", "sink_quarantine", "sink_tool_events"):
        df = lake.read(sink)
        n = df.count()
        assert n > 0
        assert "conv_id" in df.columns
        # alias reads keep the partition column (basePath) so sink tables
        # satisfy the routed schema contract and route filters work
        assert "route" in df.columns
        assert df.filter(F.col("route").isNotNull()).count() == n
        total += n
    assert total == lake.read("routed").count()


def test_snapshot_ids_change_on_rewrite(spark, raw_unit, tmp_path):
    root = str(tmp_path / "lake2")
    lake = Lake(spark, root)
    df = spark.read.parquet(raw_unit).limit(10)
    lake.write(df, "t1", input_snapshot="a")
    s1 = lake.snapshot_id("t1")
    lake.write(df.limit(5), "t1", input_snapshot="b")
    s2 = lake.snapshot_id("t1")
    assert s1 and s2 and s1 != s2


def test_fingerprint_detects_content_rewrite(tmp_path):
    """Same file name + same size + different bytes => different snapshot
    id (resume must not skip stages on silently-changed data)."""
    from racing_telemetry_pipeline_spark.sources.lake import _fingerprint_dir

    d = tmp_path / "t"
    d.mkdir()
    f = d / "part-0.bin"
    f.write_bytes(b"aaaa")
    s1 = _fingerprint_dir(str(d))
    os.utime(f, ns=(1, 1))
    s_pinned = _fingerprint_dir(str(d))
    f.write_bytes(b"bbbb")  # same size, new mtime
    s2 = _fingerprint_dir(str(d))
    assert s1 != s2 and s_pinned != s2


def test_compaction(spark, raw_unit, tmp_path):
    lake = Lake(spark, str(tmp_path / "lakec"))
    df = spark.read.parquet(raw_unit).repartition(16)  # force many small files
    lake.write(df, "many_files", input_snapshot="x")
    before = lake.read("many_files").count()
    n_files = lake.compact("many_files", target_file_bytes=512 * 1024)
    assert n_files < 16
    after = lake.read("many_files")
    assert after.count() == before
    # manifest snapshot updated
    assert lake.snapshot_id("many_files")


def test_compact_crash_window_recovery(spark, raw_unit, tmp_path):
    """Crash BETWEEN compact()'s two renames: the table path is missing and
    the data survives only at '<path>__old'. Both read() and the next
    compact() must restore it (round-2 advice item)."""
    import shutil

    lake = Lake(spark, str(tmp_path / "lakecrash"))
    df = spark.read.parquet(raw_unit).repartition(8)
    lake.write(df, "tbl", input_snapshot="x")
    n = lake.read("tbl").count()

    # simulate the mid-swap crash state: path renamed aside, new copy
    # still at __compacting
    path = lake.table_path("tbl")
    os.replace(path, path + "__old")
    os.makedirs(path + "__compacting", exist_ok=True)
    assert not os.path.isdir(path)

    assert lake.read("tbl").count() == n  # read heals the window
    assert os.path.isdir(path)
    assert not os.path.isdir(path + "__old")

    # same crash state healed by the next compact() itself
    os.replace(path, path + "__old")
    n_files = lake.compact("tbl", target_file_bytes=1 << 20)
    assert n_files >= 1
    assert lake.read("tbl").count() == n
    assert not os.path.isdir(path + "__old")
    shutil.rmtree(path + "__compacting", ignore_errors=True)


def _write_stage_tasks(spark, fn):
    """``fn()``'s result and the task count of the last stage of the last
    Spark job it launched (a compaction's parquet write)."""
    sc = spark.sparkContext
    group = f"compact-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    job = tracker.getJobInfo(max(tracker.getJobIdsForGroup(group)))
    return out, tracker.getStageInfo(max(job.stageIds)).numTasks


def _value_files(lake, name, col):
    path = lake.table_path(name)
    return {
        d: sum(f.endswith(".parquet") for f in os.listdir(os.path.join(path, d)))
        for d in os.listdir(path)
        if d.startswith(f"{col}=")
    }


def _part_table(spark, raw_unit, n_values):
    return (
        spark.read.parquet(raw_unit)
        .select("conv_id", "turn_idx", "role")
        .withColumn("part", F.pmod(F.col("turn_idx"), F.lit(n_values)))
        .repartition(16)  # 16 small files per value
    )


def test_compact_partitioned_one_file_per_value(spark, raw_unit, tmp_path):
    """More partition values than cores: each value is written by one task
    (one file), and the write runs on more than one task."""
    n_values = 3 * spark.sparkContext.defaultParallelism
    lake = Lake(spark, str(tmp_path / "lakep"))
    lake.write(_part_table(spark, raw_unit, n_values), "parts",
               partition_by=["part"])
    before = lake.read("parts").toPandas()

    n_files, write_tasks = _write_stage_tasks(
        spark, lambda: lake.compact("parts"))

    files = _value_files(lake, "parts", "part")
    assert len(files) == n_values and set(files.values()) == {1}
    assert n_files == n_values
    assert write_tasks > 1
    after = lake.read("parts").toPandas()
    cols = ["conv_id", "turn_idx", "role", "part"]
    pd.testing.assert_frame_equal(
        before[cols].sort_values(cols).reset_index(drop=True),
        after[cols].sort_values(cols).reset_index(drop=True),
    )


def test_compact_splits_value_larger_than_target(spark, raw_unit, tmp_path):
    """A value larger than the target file size still lands in more than
    one file (the salt), and no row is lost or repeated."""
    lake = Lake(spark, str(tmp_path / "lakes"))
    df = _part_table(spark, raw_unit, 2)
    lake.write(df, "parts", partition_by=["part"])
    n_rows = df.count()
    total = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(lake.table_path("parts"))
        for f in fs
        if f.endswith(".parquet")
    )

    lake.compact("parts", target_file_bytes=total // 8)

    files = _value_files(lake, "parts", "part")
    assert len(files) == 2 and all(n > 1 for n in files.values()), files
    after = lake.read("parts").select(*df.columns)
    assert after.count() == n_rows
    assert after.exceptAll(df).count() == 0 and df.exceptAll(after).count() == 0

"""SparkSession factory tuned for the local[N] sandbox while keeping the
settings that matter on a real multi-executor cluster (AQE, skew join,
Arrow batching, UTC timestamps).

Reference analog: backend selection / settings module
(/root/reference/src/conf/settings.py:1-80) — here the "backend" is always
Spark; tuning knobs live in one place.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """A quarter of RAM, at least 1g: in local mode the driver heap also
    holds every executor's memory, and several sessions may share a host."""
    with open("/proc/meminfo") as fh:
        kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    return f"{max(1, kb // 4 // 2**20)}g"


def get_spark(
    app_name: str = "racing_telemetry_pipeline_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    max_failures: int = 1,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all local cores. On a real
    cluster the master/cores come from spark-submit and these local[] bits
    are ignored by Spark (master already set).

    ``max_failures`` > 1 switches to the ``local[N,M]`` master so a task
    survives M-1 attempts — local mode defaults to maxFailures=1, where a
    single transient Python-worker death kills the whole job. A real
    cluster defaults to 4; long-lived measurement loops (bench) opt in to
    the same resilience.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        # ~cores in local mode; a real cluster would size this to
        # total-cores * 2-3 (or rely on AQE coalescing from a higher value).
        shuffle_partitions = max(int(cores), 8)
    master = (
        f"local[{cores},{max_failures}]" if max_failures > 1 else f"local[{cores}]"
    )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # read parquet isAdjustedToUTC=false timestamps as TimestampType
        # (session tz = UTC), not TIMESTAMP_NTZ — keeps casts/arithmetic
        # uniform and matches DuckDB's naive-timestamp oracle semantics
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        # shuffle/spill files: tmpfs when available. The sandbox's lone
        # disk is a SHARED serial resource — shuffle I/O through it caps
        # multi-core scaling no matter how well the compute parallelizes.
        # A real cluster puts this on per-executor local NVMe (and sinks
        # on HDFS/S3), which scales with executor count.
        .config(
            "spark.local.dir",
            os.environ.get(
                "SPARK_GRAFT_LOCAL_DIR",
                "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp",
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Promote task outputs at TASK commit (committer v2), not in the
        # driver's serial job-commit rename loop (v1 default): a fan-out
        # write at 100 TB has O(10^5) task directories and v1's job commit
        # is minutes of single-threaded driver work; locally it is a fixed
        # per-job serial cost that caps scaling efficiency at small inputs.
        # Safe here: job-level atomicity comes from the lake's manifest
        # swap (a stage whose write dies never updates the manifest). v2's
        # task commit is NOT atomic under task retries (max_failures>1): a
        # task killed mid-commit leaves partial files its retry duplicates
        # — covered by the runtime guard in plans/pipeline._write_lineage,
        # which compares the observe() row count captured during the write
        # against the count read back from the written files (free: the
        # lineage scan counts every row anyway) and fails the run on
        # mismatch instead of silently double-counting.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # Dynamic-partition writes keep up to this many parquet writers
        # open per task instead of inserting a full in-task SORT by the
        # partition key. The fan-out write's sort was the single largest
        # memory-bandwidth consumer in the pipeline (it materializes every
        # row ~3x; event-log forensics showed the parse+sort+write stage
        # taking ~66% of the 16-thread wall, perfectly balanced, while
        # CPUs sat partly idle — bandwidth-bound, not compute-bound). The
        # route cardinality is tiny and fixed (3-5 sinks at any scale), so
        # concurrent writers stay far under this cap and the write streams.
        .config("spark.sql.maxConcurrentOutputFileWriters", "8")
        # Generated-class cache (JVM-wide, default 100 entries). Measured
        # working sets on a 4-core host: one run_pipeline on the batch_hot
        # input compiles 167-184 classes, one pass of the 12 headline
        # queries 181-187, one pass of the full 57-query registry
        # 1,000-1,130 (a second pass still compiles 76 at 2,000 entries).
        # At 100 the cache thrashes and every warm run recompiles what the
        # last one compiled; 2,000 holds a pipeline run plus a headline
        # pass several times over.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def compiled_classes(spark: SparkSession) -> int:
    """Classes Spark's code generator has compiled in this JVM so far (the
    count of ``CodegenMetrics.METRIC_COMPILATION_TIME``); a cache hit
    compiles nothing, so the difference across a run is its compile count."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics  # type: ignore[union-attr]
    return int(metrics.METRIC_COMPILATION_TIME().getCount())

"""Host record, host-fit session and file layout shared by the workloads.

Everything the benchmark writes lives under ``.perfbench_cache/`` in the
directory it is run from: generated inputs and their oracle results
(cached per seed), scratch lakes, Spark's local dir and event logs.
"""

from __future__ import annotations

import os
import platform
import subprocess

CACHE = os.path.abspath(".perfbench_cache")
INPUTS = os.path.join(CACHE, "inputs")
RESULTS = os.path.join(CACHE, "results")


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory() -> str:
    """A quarter of RAM, at least 1g: the product default (48g) does not
    fit a small host, and in local mode the driver heap holds every
    executor's memory as well."""
    return f"{max(1, mem_total_bytes() // 4 // 2**30)}g"


def _fs_type(path: str) -> str:
    """Type of the filesystem holding ``path`` (longest /proc/mounts match)."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    with open("/proc/mounts") as fh:
        for line in fh:
            parts = line.split()
            mnt, fstype = parts[1], parts[2]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, kind = mnt, fstype
    return kind


def configure_env(work: str) -> str:
    """Point every scratch location of Python and Spark into ``work``
    (the JVM inherits the environment) and size the driver heap from RAM.
    Returns the Spark local dir.

    The benchmark writes only inside the directory it runs from, so
    shuffle and spill go there too instead of the session's default of
    /dev/shm; the host record names the filesystem that holds them."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory()
    return local


def session(app: str, extra_conf: dict[str, str] | None = None):
    """The package's session at ``local[nproc]`` with a host-fit heap."""
    from racing_telemetry_pipeline_spark.session import get_spark

    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}"}
    conf.update(extra_conf or {})
    return get_spark(app, cores=nproc(), extra_conf=conf)


def host_record(spark, local_dir: str) -> dict:
    import pyspark

    commit = ""
    if os.path.isdir(".git"):  # never search parent directories for a repo
        try:
            commit = subprocess.run(
                ["git", "--git-dir=.git", "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    fs = _fs_type(local_dir)
    return {
        "nproc": nproc(),
        "mem_total_bytes": mem_total_bytes(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "spark": spark.version,
        "driver_memory": os.environ.get("SPARK_DRIVER_MEMORY"),
        "spark_local_dir_fs": fs,
        "spark_local_dir_tmpfs": fs == "tmpfs",
        "git_commit": commit or "unknown",
    }


def dir_bytes(path: str, suffix: str = ".parquet") -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(suffix)
    )


def count_files(path: str, suffix: str = ".parquet") -> int:
    return sum(1 for _, _, fs in os.walk(path) for f in fs if f.endswith(suffix))

"""Shared helpers for the driver-contract queries.

Oracle-parity rules used throughout (driver hashes values after sorting
columns by name):
- identical column aliases on both sides;
- float aggregates rounded the same on both sides (sum/avg -> 4 dp,
  percentile/ratio -> 6 dp); money-style sums go through an exact
  decimal(24,6) cast so the result is order-independent;
- DuckDB integer sums cast to BIGINT (DuckDB widens to HUGEINT);
- time arithmetic is wall-clock only (date_trunc / timestampdiff), never
  epoch, so results do not depend on the driver session's timezone or on
  TIMESTAMP vs TIMESTAMP_NTZ parquet inference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet import path_version, read_parquet


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    return read_parquet(spark, path, path_version(path))


def t_fanout(spark: SparkSession, sf_dir: str, name: str,
             max_bytes: int = 256 << 20) -> DataFrame:
    """Read a table, fanning a TINY input out across the session's cores.

    The bench/test parquet is one file with ONE row group — unsplittable,
    so a scan->project plan runs as a single task no matter how many cores
    the session has (measured: dd3's md5 chain spent ~0.8s on one of 32
    cores at sf0.1). A round-robin repartition costs one exchange of the
    tiny (< max_bytes on disk) input and unlocks every core for the
    compute-heavy projection that follows. At real scale the input is
    many splittable files, the size gate fails, and the scan keeps its
    natural shuffle-free parallelism — this is strictly a small-input
    mitigation, never part of the 100 TB plan shape. Only used by queries
    whose FIRST heavy operator is a narrow projection/partial-agg
    (dd3/dd5 hashing, sim1 scoring, q1's pre-shuffle partial agg);
    window- and join-first queries gain nothing (their own exchange
    already fans out) and would pay a second shuffle."""
    import os

    df = t(spark, sf_dir, name)
    path = f"{sf_dir}/{name}.parquet"
    # isfile, not getsize-raises: on a DIRECTORY-backed table getsize
    # returns the inode size (~4KB), which would sneak a large multi-file
    # table under the gate and add the full-table exchange the gate
    # exists to prevent. A directory of files is splittable by file count
    # — exactly the case that needs no fan-out.
    if not os.path.isfile(path):
        return df
    try:
        size = os.path.getsize(path)
    except OSError:
        return df
    if size < max_bytes:
        return df.repartition(spark.sparkContext.defaultParallelism)
    return df


def dsum(col: str, alias: str, scale: int = 4):
    """Order-independent float sum: exact decimal accumulate, then double."""
    return F.round(
        F.sum(F.col(col).cast("decimal(24,6)")).cast("double"), scale
    ).alias(alias)


def dsum_sql(col: str, alias: str, scale: int = 4) -> str:
    return (
        f"round(cast(sum(cast({col} as decimal(24,6))) as double), {scale}) as {alias}"
    )


def davg(col: str, alias: str, scale: int = 4):
    """Order-independent mean: exact decimal sum -> double -> / count.

    Both engines then round the bit-identical double the same way.
    """
    return F.round(
        F.sum(F.col(col).cast("decimal(24,6)")).cast("double") / F.count(F.col(col)),
        scale,
    ).alias(alias)


def davg_sql(col: str, alias: str, scale: int = 4) -> str:
    return (
        f"round(cast(sum(cast({col} as decimal(24,6))) as double) / count({col}),"
        f" {scale}) as {alias}"
    )

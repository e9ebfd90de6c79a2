"""Layered-lake sink/scan abstraction.

Design target is Iceberg (hidden partitioning, snapshot lineage, resume
from snapshot id — north rule). The sandbox image carries no Iceberg jars,
so the same interface is backed by partitioned Parquet plus a JSON snapshot
manifest that mimics snapshot ids; when ``iceberg_available()`` the writer
switches to ``writeTo(...).partitionedBy(...)`` DSv2 calls.

Reference analog: the manual hive-partitioned parquet sink
(/root/reference/src/ingestion/partitioning.py:75-208) and the layered lake
raw_curated -> refined -> ... (SURVEY.md §1.1).
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .parquet import _fingerprint_dir, read_parquet


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class Lake:
    """A directory of named tables with snapshot manifests + resume.

    Two storage modes share one interface:

    - path mode (default): partitioned parquet under ``root`` + JSON
      manifest standing in for Iceberg snapshots;
    - catalog mode (``catalog=`` set): DataSourceV2 ``writeTo(...)
      .partitionedBy(...)`` into a named catalog — the Iceberg deployment
      path. With Iceberg jars, ``catalog="iceberg_cat"`` +
      ``table_format="iceberg"`` gives hidden partitioning and real
      snapshot ids; the sandbox exercises the identical writeTo code path
      against the session catalog with parquet format
      (tests/test_iceberg_dsv2.py).
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        catalog: str | None = None,
        table_format: str = "parquet",
    ):
        self.spark = spark
        self.root = root
        self.catalog = catalog
        self.table_format = table_format
        os.makedirs(root, exist_ok=True)
        self._manifest_path = os.path.join(root, "_manifest.json")
        # stages/tables are written from concurrent driver threads
        # (plans/pipeline.py overlaps independent jobs); manifest updates
        # are read-modify-write and need the lock
        self._lock = threading.RLock()

    def _ident(self, name: str) -> str:
        return f"{self.catalog}.{name}"

    # -- manifest ---------------------------------------------------------
    def _load_manifest(self) -> dict:
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as fh:
                return json.load(fh)
        return {"tables": {}}

    def _save_manifest(self, m: dict) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(m, fh, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path)

    def table_path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def snapshot_id(self, name: str) -> str | None:
        return self._load_manifest()["tables"].get(name, {}).get("snapshot_id")

    def is_current(self, name: str, input_snapshot: str) -> bool:
        """True iff ``name`` was produced from ``input_snapshot`` (resume)."""
        entry = self._load_manifest()["tables"].get(name)
        if entry is None or entry.get("input_snapshot") != input_snapshot:
            return False
        if self.catalog:
            return self.spark.catalog.tableExists(self._ident(name))
        return os.path.isdir(self.table_path(name))

    def fingerprint_input(self, path: str) -> str:
        return _fingerprint_dir(path)

    def record_stage_metrics(self, stage: str, metrics: dict) -> None:
        """Persist observe()-captured stage metrics into the manifest."""
        with self._lock:
            m = self._load_manifest()
            m.setdefault("stage_metrics", {})[stage] = metrics
            self._save_manifest(m)

    def stage_metrics(self, stage: str) -> dict:
        return self._load_manifest().get("stage_metrics", {}).get(stage, {})

    # -- stage completion records (resume points) ---------------------------
    def mark_stage(self, stage: str, input_snapshot: str, tables: list[str]) -> None:
      with self._lock:
        m = self._load_manifest()
        m.setdefault("stages", {})[stage] = {
            "input_snapshot": input_snapshot,
            "tables": tables,
            "completed_at": time.time(),
        }
        self._save_manifest(m)

    def stage_current(self, stage: str, input_snapshot: str) -> bool:
        entry = self._load_manifest().get("stages", {}).get(stage)
        return (
            entry is not None
            and entry.get("input_snapshot") == input_snapshot
            and all(os.path.isdir(self.table_path(t)) for t in entry.get("tables", []))
        )

    # -- streaming batch ledger (exactly-once foreachBatch sink) -----------
    def batch_committed(self, table: str, batch_id: int) -> bool:
        ids = self._load_manifest().get("stream_batches", {}).get(table, [])
        return int(batch_id) in ids

    def mark_batch(self, table: str, batch_id: int,
                   partition_by: list[str] | None = None) -> None:
        """Record a committed micro-batch id AFTER its write succeeded.
        The sink writes each batch into its own batch_id partition with
        dynamic overwrite, so even a replay that raced this ledger (crash
        between write and mark) is idempotent — see
        streaming.stream_pipeline.make_lake_batch_sink.

        Also registers the table's partition layout in the manifest (once)
        so maintenance ops like ``compact()`` preserve the hive layout
        instead of flattening the partition columns into data files."""
        with self._lock:
            m = self._load_manifest()
            ids = m.setdefault("stream_batches", {}).setdefault(table, [])
            if int(batch_id) not in ids:
                ids.append(int(batch_id))
            entry = m["tables"].setdefault(table, {})
            # an appended batch changes the table, so a snapshot id left by
            # compact() no longer names its contents (read() keys schema
            # reuse on it)
            entry.pop("snapshot_id", None)
            if partition_by and not entry.get("partition_by"):
                entry["partition_by"] = partition_by
                entry["written_at"] = time.time()
            self._save_manifest(m)

    # -- io ---------------------------------------------------------------
    def write(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
        input_snapshot: str = "",
        sort_within: list[str] | None = None,
    ) -> str:
        """Write a table (overwrite) and record its layout in the manifest.

        ``sort_within`` controls in-file row order; it is recorded so
        compact() preserves it.
        """
        path = self.table_path(name)
        if sort_within:
            df = df.sortWithinPartitions(*sort_within)
        if self.catalog:
            self._write_dsv2(df, name, partition_by)
            snapshot = hashlib.sha256(
                f"{name}:{input_snapshot}:{time.time_ns()}".encode()
            ).hexdigest()[:16]
        else:
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(path)
            snapshot = _fingerprint_dir(path)
        with self._lock:
            m = self._load_manifest()
            m["tables"][name] = {
                "snapshot_id": snapshot,
                "input_snapshot": input_snapshot,
                "written_at": time.time(),
                "partition_by": partition_by or [],
                "sort_within": sort_within or [],
            }
            self._save_manifest(m)
        return path

    def _write_dsv2(self, df: DataFrame, name: str,
                    partition_by: list[str] | None) -> None:
        """DataSourceV2 writeTo path (the Iceberg deployment mode).

        Iceberg catalogs support atomic ``createOrReplace``; the plain
        session catalog (our jar-less stand-in) rejects REPLACE for v1
        formats, so that path drops + creates — same writeTo builder, same
        partitionedBy spec.
        """
        ident = self._ident(name)
        writer = df.writeTo(ident).using(self.table_format)
        if partition_by:
            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        if self.table_format == "iceberg":
            writer.createOrReplace()
        else:
            self.spark.sql(f"DROP TABLE IF EXISTS {ident}")
            writer.create()

    def write_small(self, pdf, name: str, input_snapshot: str = "") -> str:
        """Driver-side parquet write for TINY audit tables (lineage,
        metrics): a pandas frame of at most a few thousand rows does not
        justify a Spark job's fixed cost (plan + schedule + commit ~0.5-1s
        each — measurable against the scaling-efficiency target at bench
        scale, pure waste at any scale). The table stays a normal lake
        parquet dir, Spark-readable via read().

        Reference analog: driver-side stats JSON writes
        (/root/reference/src/ingestion/ingest.py:296-299)."""
        import shutil

        import pyarrow as pa
        import pyarrow.parquet as pq

        path = self.table_path(name)
        tmp = path + "__tmp"
        old = path + "__old"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            os.path.join(tmp, "part-00000.parquet"),
        )
        # same rename-aside swap as compact(): the previous copy survives
        # every crash point and _recover_compact() heals the window where
        # the table path is briefly absent (a rmtree-before-replace here
        # used to leave the table missing with data stranded at __tmp).
        # The whole swap holds self._lock: _recover_compact runs under the
        # same lock, so a concurrent reader can never "heal" (restore old
        # back to path) between the two renames and break the second one.
        with self._lock:
            shutil.rmtree(old, ignore_errors=True)
            if os.path.isdir(path):
                os.replace(path, old)
            os.replace(tmp, path)
            shutil.rmtree(old, ignore_errors=True)
            m = self._load_manifest()
            m["tables"][name] = {
                "snapshot_id": _fingerprint_dir(path),
                "input_snapshot": input_snapshot,
                "written_at": time.time(),
                "partition_by": [],
            }
            self._save_manifest(m)
        return path

    def _recover_compact(self, name: str) -> None:
        """Heal compact()'s crash window. Between its two renames the table
        path does not exist and the data survives only at ``<path>__old``;
        a crash there used to strand the table until the next compact()
        rmtree'd the old copy (round-2 advice). Roll BACK by restoring the
        old copy — the half-swapped ``__compacting`` output is left for the
        next compact() to clear. A leftover ``__old`` alongside an intact
        table means the swap completed and the copy is just debris."""
        path = self.table_path(name)
        old = path + "__old"
        if os.path.isdir(old) and not os.path.isdir(path):
            # concurrent readers can both pass the isdir checks (build_aggs
            # runs three readers); the lock serializes them and the
            # FileNotFoundError guard covers a racer that already healed
            with self._lock:
                try:
                    if os.path.isdir(old) and not os.path.isdir(path):
                        os.replace(old, path)
                except FileNotFoundError:
                    pass

    def read(self, name: str) -> DataFrame:
        if self.catalog:
            return self.spark.table(self._ident(name))
        m = self._load_manifest()
        alias = m.get("aliases", {}).get(name)
        table = alias["of_table"] if alias else name
        self._recover_compact(table)
        snapshot = m["tables"].get(table, {}).get("snapshot_id")
        if alias is not None:
            # basePath keeps the partition column (e.g. route) in the
            # alias's schema — sink_* tables must satisfy the same routed
            # schema contract as the parent table, and consumers filter on
            # route
            return read_parquet(
                self.spark, os.path.join(self.root, alias["path"]), snapshot,
                base_path=self.table_path(table),
            )
        return read_parquet(self.spark, self.table_path(name), snapshot)

    def compact(self, name: str, target_file_bytes: int = 128 * 1024 * 1024) -> int:
        """Rewrite a table into ~target-sized files (small-file compaction).

        At 10^12-row scale a streaming/fan-out sink accumulates thousands
        of small files per partition; compaction keeps scan parallelism
        aligned with file size (Iceberg's rewrite_data_files analog).
        Returns the new file count.
        """
        import shutil

        self._recover_compact(name)  # heal a previous run's crash window
        path = self.table_path(name)
        total = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(path)
            for f in fs
            if not f.startswith(("_", "."))
        )
        n_files = max(1, -(-total // target_file_bytes))
        entry = self._load_manifest()["tables"].get(name, {})
        df = read_parquet(self.spark, path, entry.get("snapshot_id"))
        partition_by = entry.get("partition_by") or None
        sort_within = entry.get("sort_within") or None
        tmp = path + "__compacting"
        old = path + "__old"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        # repartition, not coalesce: coalesce(n) also caps the READ
        # parallelism of the rewrite, so compacting a large table would run
        # on n tasks end-to-end. A partitioned table is hash-partitioned by
        # its partition values into at least one task per core: each value
        # is written by one task (one file), the write uses every core, and
        # no task holds more open writers than values (a task holding more
        # values than the session's concurrent-writer cap sorts its rows).
        # A deterministic salt in [0, n_files) still splits a value larger
        # than the target. The recorded sort order is re-applied —
        # compaction must not destroy the in-file order the original write
        # established (O2 contract).
        if partition_by:
            keys = [F.col(c) for c in partition_by]
            if n_files > 1:
                keys.append(F.pmod(
                    F.xxhash64("_metadata.file_path", "_metadata.row_index"),
                    F.lit(int(n_files)),
                ))
            slots = self.spark.sparkContext.defaultParallelism
            df = df.repartition(max(int(n_files), slots), *keys)
        else:
            df = df.repartition(int(n_files))
        if sort_within:
            df = df.sortWithinPartitions(*sort_within)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        # swap via rename-aside: the old copy survives every crash point,
        # and _recover_compact() (run on read and at compact start) rolls
        # the table back if a crash lands between the two renames. The swap
        # holds self._lock so an in-process concurrent reader's recovery
        # cannot restore ``old`` mid-swap (see write_small).
        with self._lock:
            os.replace(path, old)
            os.replace(tmp, path)
            shutil.rmtree(old, ignore_errors=True)
            m = self._load_manifest()
            if name in m["tables"]:
                m["tables"][name]["snapshot_id"] = _fingerprint_dir(path)
                m["tables"][name]["compacted_at"] = time.time()
            self._save_manifest(m)
        return sum(
            1
            for dp, _, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        )

    def vacuum_stream_batches(self, table: str, keep_batches: int) -> int:
        """Retention for an append-heavy streaming table: drop the oldest
        ``batch_id=<n>`` partitions beyond ``keep_batches`` and trim the
        ledger to match (Iceberg's expire_snapshots analog). Returns the
        number of batch partitions removed. Dropping oldest-first keeps
        the retained suffix contiguous, so a checkpoint replay can never
        hit a vacuumed batch id."""
        import shutil

        with self._lock:
            m = self._load_manifest()
            ids = sorted(m.get("stream_batches", {}).get(table, []))
            drop = ids[:-keep_batches] if keep_batches > 0 else ids
            path = self.table_path(table)
            for b in drop:
                shutil.rmtree(os.path.join(path, f"batch_id={b}"),
                              ignore_errors=True)
            if drop:
                m["stream_batches"][table] = ids[len(drop):]
                m["tables"].get(table, {}).pop("snapshot_id", None)
                self._save_manifest(m)
            return len(drop)

    def register_sink_aliases(
        self, table: str, partition_col: str, values: list[str], prefix: str = "sink_"
    ) -> None:
        """Expose each partition of a fan-out table as a logical sink table.

        ``sink_valid`` -> ``routed/route=valid`` etc. The partitioned write
        IS the fan-out (one pass, pruned reads); the aliases give each sink
        a first-class table name, matching the per-sink-table contract
        without writing the data three times.
        """
        with self._lock:
            m = self._load_manifest()
            aliases = m.setdefault("aliases", {})
            for v in values:
                aliases[f"{prefix}{v}"] = {
                    "path": f"{table}/{partition_col}={v}",
                    "of_table": table,
                }
            self._save_manifest(m)

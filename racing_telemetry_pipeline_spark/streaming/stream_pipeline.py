"""Structured Streaming variant of the transcript pipeline.

The reference is pure batch (SURVEY.md §2.11 — no watermarks/state), and
the north rule is batch-at-rest over lake snapshots; this module exists for
the continuous-ingest deployment mode: the same parse -> enrich -> route
logic bound to ``readStream`` with event-time watermarks, windowed
aggregates, and exactly-once fan-out via ``foreachBatch``.

Stateless stages (parse/enrich/route) are SHARED with the batch plan —
``plans.pipeline.enrich_route`` operates on any DataFrame, batch or
streaming. The order-dependent stages (keep-last dedup by ingest
ordinal, monotonic repair over full conversations) are inherently batch
semantics; streaming mode approximates dedup with
``dropDuplicatesWithinWatermark`` and defers exact repair to the batch
compactor (the reference's layered-lake model).

File-order hazard: the file source (``_read_raw_stream``) admits files
ordered by modification time in milliseconds, then by listing order. The
watermark assumes micro-batches arrive roughly in event-time order, so
files that share an mtime can enter out of event-time order and the
watermark then drops their older rows as late. Thirteen event-ordered
files set to one mtime routed 94,564 of their 153,616 rows. A copy of a
drop directory must keep the files' mtimes (``cp -a``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DEFAULTS, PipelineSettings
from ..plans.pipeline import enrich_route, routed_from_ordinal
from ..sources.lake import Lake

RAW_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def _read_raw_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """The raw parquet drop directory as a stream, 4 files per micro-batch."""
    return (
        spark.readStream.schema(RAW_SCHEMA)
        .option("maxFilesPerTrigger", "4")
        .parquet(source_dir)
    )


def streaming_route(
    spark: SparkSession,
    source_dir: str,
    settings: PipelineSettings = DEFAULTS,
    parse_engine: str = "builtin",
    watermark: str = "10 minutes",
):
    """readStream(parquet) -> dedup-within-watermark -> parse/enrich/route.

    Returns the streaming DataFrame (caller attaches the sink; tests use
    the memory sink, production would ``foreachBatch`` into the lake).
    """
    deduped = (
        _read_raw_stream(spark, source_dir)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["conv_id", "turn_idx"])
    )
    return enrich_route(spark, deduped, settings, parse_engine)


def conversation_tracker(raw: DataFrame) -> DataFrame:
    """Custom stateful operator: per-conversation running totals via
    ``applyInPandasWithState`` (the Structured Streaming escape hatch for
    operators Spark lacks natively — SURVEY.md §2.11).

    State per conv_id: turns seen, max event time, tool turns. Emits one
    updated row per conversation per micro-batch.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("n_turns", T.LongType()),
            T.StructField("n_tool_turns", T.LongType()),
            T.StructField("max_ts", T.TimestampType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n_turns", T.LongType()),
            T.StructField("n_tool_turns", T.LongType()),
            T.StructField("max_ts_us", T.LongType()),
        ]
    )

    def track(key, pdfs, state: GroupState):
        # max ts starts as None, NOT epoch 0: a conversation whose ts
        # values are all null must emit max_ts = null, not 1970-01-01
        n, n_tool, max_us = state.get if state.exists else (0, 0, None)
        for pdf in pdfs:
            n += len(pdf)
            n_tool += int((pdf["role"] == "tool").sum())
            batch_max = pdf["ts"].max()
            if pd.notna(batch_max):
                v = int(pd.Timestamp(batch_max).value // 1000)
                max_us = v if max_us is None else max(max_us, v)
        state.update((n, n_tool, max_us))
        yield pd.DataFrame(
            [
                {
                    "conv_id": key[0],
                    "n_turns": n,
                    "n_tool_turns": n_tool,
                    "max_ts": pd.Timestamp(max_us * 1000)
                    if max_us is not None
                    else pd.NaT,
                }
            ]
        )

    return raw.groupBy("conv_id").applyInPandasWithState(
        track, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def make_lake_batch_sink(
    lake, table: str = "routed_stream", partition_by: tuple[str, ...] = ("route",)
):
    """foreachBatch sink into the layered lake with idempotent batch-id
    dedup (exactly-once fan-out: Structured Streaming replays a micro-batch
    after a crash-before-commit, so the sink must tolerate seeing the same
    batch_id twice). Two layers make the replay safe:

    - committed ids are recorded in the lake manifest; a replayed id whose
      commit completed is skipped outright;
    - each micro-batch lands in its own ``batch_id=<n>`` partition via
      DYNAMIC partition overwrite, so a replay that raced the ledger
      (crash between write and mark) overwrites its own partition instead
      of double-appending — idempotent without Iceberg transactions.

    Reference analog: the layered-lake writer
    (/root/reference/src/ingestion/partitioning.py:75-208) — here each
    micro-batch is hive-partitioned by ``batch_id`` then ``partition_by``.
    """
    cols = ["batch_id", *partition_by]

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if lake.batch_committed(table, batch_id):
            return
        (
            batch_df.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*cols)
            .parquet(lake.table_path(table))
        )
        lake.mark_batch(table, batch_id, partition_by=cols)

    return sink


def _start_lake_sink(
    df: DataFrame,
    lake_root: str,
    table: str,
    partition_by: tuple[str, ...],
    checkpoint: str | None,
    available_now: bool,
):
    """Attach the exactly-once lake sink to a streaming DataFrame and start
    it. ``available_now=True`` drains everything currently in the source
    then stops (the test/backfill mode); production would run continuous
    triggers with the same checkpoint for exactly-once resume."""
    sink = make_lake_batch_sink(Lake(df.sparkSession, lake_root), table, partition_by)
    writer = (
        df.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option(
            "checkpointLocation", checkpoint or f"{lake_root}/_checkpoints/{table}"
        )
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _stream_session(spark: SparkSession) -> SparkSession:
    """A child of ``spark`` with one shuffle partition per task slot and
    every other SQL setting equal to the caller's.

    The watermark dedup is stateful: its partition count is frozen in the
    checkpoint when the query is first started and AQE never coalesces it.
    Each micro-batch then runs one task per state partition, and each task
    loads and commits a state store and opens a parquet writer per route:
    fixed costs that ``get_spark``'s ``max(cores, 8)`` batch oversplit
    would pay in two waves per micro-batch on a 4-core host. A restarted
    query keeps the count recorded in its checkpoint's offset log."""
    child = spark.newSession()
    inherited = child.conf.getAll
    for k, v in spark.conf.getAll.items():
        if inherited.get(k) != v:  # set on the caller's session at runtime
            child.conf.set(k, v)
    child.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    return child


def streaming_to_lake(
    spark: SparkSession,
    source_dir: str,
    lake_root: str,
    settings: PipelineSettings = DEFAULTS,
    parse_engine: str = "builtin",
    checkpoint: str | None = None,
    available_now: bool = True,
):
    """Wire the streaming route into the lake via foreachBatch (table
    ``routed_stream``, partitioned by batch and route). Returns the
    StreamingQuery (caller awaits termination).

    The query runs in a child session (``_stream_session``), so its state
    has one partition per task slot; the caller's session is unchanged."""
    routed = streaming_route(
        _stream_session(spark), source_dir, settings, parse_engine
    )
    return _start_lake_sink(
        routed, lake_root, "routed_stream", ("route",), checkpoint, available_now
    )


def streaming_raw_to_lake(
    spark: SparkSession,
    source_dir: str,
    lake_root: str,
    checkpoint: str | None = None,
    available_now: bool = True,
    table: str = "raw_stream",
):
    """Bronze layer: append raw micro-batches to the lake UNmodified, each
    row carrying its ingest ordinal (``_metadata.file_path`` / ``row_index``
    captured at stream-read time — the file-source metadata column works on
    ``readStream`` exactly as on batch scans). This is the layered-lake
    ingest mode the module docstring defers exact repair to: the stream
    lands data fast with per-batch exactly-once (the same sink as the
    routed stream, partitioned by batch only), and
    ``compact_stream_to_routed`` later re-runs the ORDER-DEPENDENT batch
    stages (keep-last dedup, monotonic repair) over the accumulated bronze
    rows.
    """
    from ..operators.dedup import INGEST_FILE, INGEST_POS

    raw = (
        _read_raw_stream(spark, source_dir)
        .withColumn(INGEST_FILE, F.col("_metadata.file_path"))
        .withColumn(INGEST_POS, F.col("_metadata.row_index"))
    )
    return _start_lake_sink(raw, lake_root, table, (), checkpoint, available_now)


def compact_stream_to_routed(
    spark: SparkSession,
    lake_root: str,
    settings: PipelineSettings = DEFAULTS,
    parse_engine: str = "builtin",
    bronze_table: str = "raw_stream",
    out_table: str = "routed_compacted",
) -> DataFrame:
    """The batch compactor over accumulated stream batches: re-runs the
    exact keep-last dedup + time flags + monotonic repair + parse + enrich
    + route chain (plans/pipeline.py `routed_from_ordinal`) on the bronze
    table, keyed by the SAME ingest ordinal the batch pipeline reads from
    ``_metadata`` — so the compacted output is byte-equal to running the
    pure-batch pipeline on the original raw files
    (tests/test_streaming.py::test_stream_then_compact_equals_batch).
    Writes the routed table and returns it."""
    lake = Lake(spark, lake_root)
    bronze = lake.read(bronze_table).drop("batch_id")
    routed = routed_from_ordinal(spark, bronze, settings, parse_engine)
    lake.write(
        routed,
        out_table,
        partition_by=["route"],
        sort_within=["route", "conv_id", "turn_idx"],
    )
    return lake.read(out_table)


def streaming_tool_stats(routed: DataFrame, window: str = "5 minutes") -> DataFrame:
    """Event-time tumbling-window tool-call stats (A1 analog, streaming)."""
    return (
        routed.filter(F.col("route") == "tool_events")
        .groupBy(F.window("ts", window).alias("win"), F.col("tool_name"))
        .agg(
            F.count("*").alias("n_calls"),
            F.avg("latency_ms").alias("avg_latency_ms"),
        )
    )

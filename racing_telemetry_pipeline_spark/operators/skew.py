"""Skew handling for hot conversations (north rule requirement).

``Window.partitionBy(conv_id)`` serializes each conversation into one
task; a hot conv with millions of turns becomes the straggler that caps
scaling (the reference has exactly this flaw as a sequential per-car loop,
/root/reference/examples/run_full_pipeline.py:238). Plain salting cannot
be applied to ordered windows (SURVEY.md §4 skew row), so this module
implements turn-range sub-segmentation with boundary stitching:

1. rows bucket by ``turn_idx div B`` -> ONE shuffle on (conv_id, bucket);
   every window below runs within the bucket, so no task exceeds ~B rows
   per conversation;
2. a per-(conv, bucket) summary (last/max ts, internal flag counts) is
   aggregated, cross-bucket state (previous bucket's last ts, prefix max
   ts, segment-id offsets) is stitched with tiny windows over the
   summary, and joined back.

Produces byte-identical results to the unsalted chain
(dedup_keep_last + add_time_flags + monotonic_repair); asserted in
tests/test_skew.py. Cost, with or without skew: column pruning gives the
summary branch its own narrow re-scan of the input and its own exchange
(in a ``batch_hot`` event log, two map stages each read every raw row),
plus a tiny summary exchange and the stitch join's summary-side exchange
(tests/test_plans.py::test_routed_plan_exchange_budget).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import INGEST_FILE, INGEST_POS

BUCKET_COL = "_bkt"


def salted_parse_sync(
    df: DataFrame,
    bucket_turns: int = 32768,
    gap_threshold_sec: float = 2.0,
    backwards_tolerance_sec: float = 0.0,
    ordinal_cols: Sequence[str] = (INGEST_FILE, INGEST_POS),
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    ts_col: str = "ts",
) -> DataFrame:
    """Keep-last dedup + anomaly flags + segment ids + monotonic repair,
    all windowed within (conv, turn-range bucket) and stitched across
    bucket boundaries. Output columns match the unsalted chain:
    dt_sec, is_backwards, is_gap, segment_id, ts_sync.
    """
    conv = F.col(conv_col)
    df = df.withColumn(BUCKET_COL, F.floor(F.col(order_col) / bucket_turns))

    # --- dedup keep-last within bucket (duplicate keys share a bucket) ---
    w_b = Window.partitionBy(conv_col, BUCKET_COL).orderBy(
        F.col(order_col), *[F.col(c) for c in ordinal_cols]
    )
    nxt = F.lead(order_col).over(w_b)
    df = (
        df.withColumn("_keep", nxt.isNull() | (nxt != F.col(order_col)))
        .filter(F.col("_keep"))
        .drop("_keep", *ordinal_cols)
    )

    # --- within-bucket window state (same exchange as the dedup) ---
    w_o = Window.partitionBy(conv_col, BUCKET_COL).orderBy(order_col)
    run = w_o.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    prev_us_in = F.lag(us).over(w_o)
    df = (
        df.withColumn("_us", us)
        .withColumn("_prev_us_in", prev_us_in)
        .withColumn("_runmax_in", F.max(ts_col).over(run))
        .withColumn("_rn_in", F.row_number().over(w_o))
    )

    # --- per-(conv, bucket) summary: column pruning plans this branch as
    # its own narrow re-scan of the input with its own exchange, not a
    # reuse of the full-row exchange above ---
    flag_in = _flag(F.col("_prev_us_in"), F.col("_us"), gap_threshold_sec,
                    backwards_tolerance_sec)
    summ = df.groupBy(conv_col, BUCKET_COL).agg(
        F.max_by("_us", F.col(order_col)).alias("last_us"),
        F.min_by("_us", F.col(order_col)).alias("first_us"),
        F.max(ts_col).alias("bkt_max_ts"),
        F.sum(flag_in.cast("int")).alias("flags_internal"),
    )

    # --- stitch across buckets (tiny windows over the summary) ---
    w_s = Window.partitionBy(conv_col).orderBy(BUCKET_COL)
    prev_last = F.lag("last_us").over(w_s)
    boundary_flag = _flag(prev_last, F.col("first_us"), gap_threshold_sec,
                          backwards_tolerance_sec)
    summ = (
        summ.withColumn("prev_last_us", prev_last)
        .withColumn("boundary_flag", boundary_flag)
        .withColumn("bkt_flags", F.col("flags_internal") + F.col("boundary_flag").cast("int"))
        .withColumn(
            "prefix_max_prev",
            F.max("bkt_max_ts").over(
                w_s.rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
        .withColumn(
            "seg_offset",
            F.coalesce(
                F.sum("bkt_flags").over(
                    w_s.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
    )

    # The summary grows with conversation count (one row per conv x bucket):
    # at the 10^12-turn design point it can exceed Spark's broadcast limit,
    # so do NOT force-broadcast it. shuffle_hash keeps the join sort-free;
    # the big side already carries hashpartitioning(conv, bucket) from the
    # windows above so only the tiny summary side re-shuffles, and AQE will
    # still convert to a broadcast join at runtime when the summary is
    # actually small.
    df = df.join(
        summ.select(
            conv_col, BUCKET_COL, "prev_last_us", "boundary_flag",
            "prefix_max_prev", "seg_offset",
        ).hint("shuffle_hash"),
        [conv_col, BUCKET_COL],
    )

    # --- final per-row columns, boundary-corrected ---
    first_in_bucket = F.col("_rn_in") == 1
    prev_us = F.when(first_in_bucket, F.col("prev_last_us")).otherwise(
        F.col("_prev_us_in")
    )
    dt = (F.col("_us") - prev_us) / F.lit(1_000_000.0)
    row_flag = F.when(first_in_bucket, F.col("boundary_flag")).otherwise(
        _flag(F.col("_prev_us_in"), F.col("_us"), gap_threshold_sec,
              backwards_tolerance_sec)
    )
    is_backwards = F.coalesce(dt < -backwards_tolerance_sec, F.lit(False))
    is_gap = F.coalesce(dt > gap_threshold_sec, F.lit(False))
    # cumsum of boundary-corrected flags within the bucket + bucket offset
    seg_in = F.sum(row_flag.cast("int")).over(
        Window.partitionBy(conv_col, BUCKET_COL)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ts_sync = F.greatest(F.col("_runmax_in"), F.col("prefix_max_prev"))
    return (
        df.withColumn("dt_sec", dt)
        .withColumn("is_backwards", is_backwards)
        .withColumn("is_gap", is_gap)
        .withColumn("segment_id", (seg_in + F.col("seg_offset")).cast("long"))
        .withColumn("ts_sync", ts_sync)
        .drop(
            BUCKET_COL, "_us", "_prev_us_in", "_runmax_in", "_rn_in",
            "prev_last_us", "boundary_flag", "prefix_max_prev", "seg_offset",
        )
    )


def _flag(prev_us, cur_us, gap_sec: float, tol_sec: float):
    dt = (cur_us - prev_us) / F.lit(1_000_000.0)
    return F.coalesce((dt < -tol_sec) | (dt > gap_sec), F.lit(False))


def salted_prev_ts_us(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    ts_col: str = "ts_sync",
    bucket_turns: int = 32768,
    out_col: str = "_prev_us",
    us_col: str = "_us",
) -> DataFrame:
    """Skew-safe ``lag(unix_micros(ts))`` over (conv, turn order).

    Same turn-range sub-segmentation + boundary stitch as
    ``salted_parse_sync``, reduced to the single lag value: rows window
    within (conv, bucket), a per-bucket summary carries each bucket's last
    timestamp, and the first row of every bucket takes the PREVIOUS
    EXISTING bucket's last value from a tiny window over the summary — so
    rows filtered out upstream (e.g. quarantined turns dropped before a
    latency lag) never break the chain, and no task ever sorts more than
    ~bucket_turns rows of one conversation. Byte-identical to the plain
    ``lag`` (asserted in tests/test_skew.py).

    Adds ``us_col`` (the row's own µs value) and ``out_col`` (the lag);
    caller computes deltas and drops both.
    """
    conv = F.col(conv_col)
    df = df.withColumn(BUCKET_COL, F.floor(F.col(order_col) / bucket_turns))
    w_o = Window.partitionBy(conv_col, BUCKET_COL).orderBy(order_col)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    df = (
        df.withColumn(us_col, us)
        .withColumn("_prev_us_in", F.lag(us_col).over(w_o))
        .withColumn("_rn_in", F.row_number().over(w_o))
    )
    summ = df.groupBy(conv_col, BUCKET_COL).agg(
        F.max_by(us_col, F.col(order_col)).alias("_last_us")
    )
    w_s = Window.partitionBy(conv_col).orderBy(BUCKET_COL)
    summ = summ.withColumn("_prev_last_us", F.lag("_last_us").over(w_s))
    # same non-broadcast discipline as salted_parse_sync: the summary grows
    # with conv count; shuffle_hash + AQE keeps the join safe at any scale
    df = df.join(
        summ.select(conv_col, BUCKET_COL, "_prev_last_us").hint("shuffle_hash"),
        [conv_col, BUCKET_COL],
    )
    prev = F.when(F.col("_rn_in") == 1, F.col("_prev_last_us")).otherwise(
        F.col("_prev_us_in")
    )
    return df.withColumn(out_col, prev).drop(
        BUCKET_COL, "_prev_us_in", "_rn_in", "_prev_last_us"
    )

"""Structured-Streaming incremental ingest (SURVEY.md §2 S2 streaming).

The reference's incremental contract was cron + mtime deltas with
at-least-once redelivery absorbed by upsert idempotence
(common.py:267-306; do_dicom.py:741-753).  The streaming twin:

* file-source stream with checkpoint ≙ the logfile-mtime watermark,
* ``foreachBatch`` + MERGE classification ≙ the idempotent upsert
  (``pipeline.incremental_import_stream``),
* day-window aggregation ≙ W3's sessionize-by-date.

At scale this runs continuously on the landing bucket; locally the
tests drive it with ``availableNow`` + ``processAllAvailable``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def stream_inventory(
    spark: SparkSession,
    root: str,
    schema: T.StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """S2 — "process only new files": the streaming file source tracks
    seen files in the checkpoint exactly as the reference tracked the
    last run's logfile mtime."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(root)


def windowed_daily_counts(
    events: DataFrame, ts_col: str = "ts", key_col: str = "user_id",
    watermark: str = "1 day",
) -> DataFrame:
    """W3 streaming analog — tumbling-day session counts with a
    watermark bounding late-data state."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, "1 day").alias("day_window"), F.col(key_col))
        .agg(
            F.count("*").alias("n_items"),
            F.min(ts_col).alias("first_ts"),
            F.max(ts_col).alias("last_ts"),
        )
    )


def slo_burn_stream(
    events: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    error_value: str = "error",
    slo_budget: float = 0.01,
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming twin of the ops_slo_burn_rate 1-day (fast-burn) path:
    tumbling-day windowed totals and error counts with a watermark
    bounding late-data state, burn = error_rate / budget computed per
    closed window.  The 7-day slow-burn rollup stays a batch query
    over this stream's sink (stacking a second window on a streaming
    agg needs another shuffle + complete-mode state; the day-grain
    sink table is tiny, so the batch rollup is the right split).

    At 100 TB/day this is the canonical always-on aggregation: state
    is one (day, counts) row per open window, the watermark evicts
    closed days, and the map-side combine happens before the single
    shuffle on the window key."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, "1 day").alias("day_window"))
        .agg(
            F.count("*").cast("long").alias("n_total"),
            F.sum(F.when(F.col(type_col) == error_value, 1).otherwise(0))
            .cast("long")
            .alias("n_err"),
        )
        .select(
            F.col("day_window.start").cast("date").alias("day"),
            "n_total",
            "n_err",
            (
                F.col("n_err").cast("double")
                / F.col("n_total").cast("double")
                / F.lit(slo_budget)
            ).alias("burn_1d"),
        )
    )


def error_budget_stream(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    bad_threshold: float = 450.0,
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming twin of ops_error_budget_burndown's per-day layer:
    watermarked tumbling-day event/bad-event counts (value > threshold
    = the bad-event proxy).  The BURNDOWN itself — cumulative errors
    against the fixed ⌊0.002·N⌋ month budget — stays a batch query
    over this stream's day-grain sink, for the same reason as the
    slo_burn split: a running total over all closed days would need
    complete-mode state for a table that is ~365 rows/year, while the
    per-day layer is the part that must absorb 100 TB/day of events
    with one map-side-combined shuffle and watermark-bounded state."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, "1 day").alias("day_window"))
        .agg(
            F.count("*").cast("long").alias("n_ev"),
            F.sum(F.when(F.col(value_col) > bad_threshold, 1).otherwise(0))
            .cast("long")
            .alias("n_err"),
        )
        .select(
            F.col("day_window.start").cast("date").alias("day"),
            "n_ev",
            "n_err",
        )
    )

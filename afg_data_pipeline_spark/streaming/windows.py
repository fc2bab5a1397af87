"""Structured Streaming layer (SURVEY.md §2.10).

The reference is batch-only; the north star adds streaming
equivalents of its aggregations over the events table: tumbling /
sliding windows, session windows, watermarked late-data handling,
and watermark-scoped dedup.

Design: each aggregation is ONE function usable on both batch and
streaming DataFrames (window()/session_window() are mode-agnostic),
so the batch oracle checks (plans/streaming_batch.py) pin the exact
semantics the stream produces, and the stream tests assert
stream-result == batch-result on the same files.

Scale notes: streaming state lives in the state store keyed by
(group, window); the watermark bounds state size — without it an
event-time agg accumulates windows forever. Dedup state likewise
needs dropDuplicatesWithinWatermark, not dropDuplicates, to stay
bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamReader

_DEC = "decimal(18,6)"


def _window_agg(grouped) -> DataFrame:
    return grouped.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast(_DEC)).cast("double").alias(
            "total_value"
        ),
    )


def tumbling_window_agg(
    df: DataFrame, width: str, keys: list[str], ts_col: str = "ts"
) -> DataFrame:
    """Tumbling event-time windows; works on batch and streams."""
    out = _window_agg(
        df.groupBy(*keys, F.window(ts_col, width).alias("w"))
    )
    return out.select(
        *keys,
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "n_events",
        "total_value",
    )


def sliding_window_agg(
    df: DataFrame,
    width: str,
    slide: str,
    keys: list[str],
    ts_col: str = "ts",
) -> DataFrame:
    """Sliding (hopping) event-time windows."""
    out = _window_agg(
        df.groupBy(*keys, F.window(ts_col, width, slide).alias("w"))
    )
    return out.select(
        *keys,
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "n_events",
        "total_value",
    )


def session_window_agg(
    df: DataFrame, gap: str, keys: list[str], ts_col: str = "ts"
) -> DataFrame:
    """Gap-based session windows (end = last event + gap)."""
    grouped = df.groupBy(
        *keys, F.session_window(ts_col, gap).alias("w")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return grouped.select(
        *keys,
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
    )


def read_events_stream(
    spark, source_dir: str, schema, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over event parquet drops.

    maxFilesPerTrigger bounds per-batch work — the knob that turns
    a backlog replay into steady micro-batches instead of one giant
    batch.
    """
    reader: DataStreamReader = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
    )
    return reader.parquet(source_dir)


def watermarked_tumbling_counts(
    stream: DataFrame,
    width: str = "1 hour",
    delay: str = "2 hours",
    keys: list[str] | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling agg with a watermark bounding late data AND state.

    Events later than `delay` behind the max seen event time are
    dropped; windows older than the watermark are finalized and
    evicted from the state store — the invariant that keeps a
    forever-running job's state finite.
    """
    keys = keys if keys is not None else ["event_type"]
    # Watermarks require TIMESTAMP (LTZ); NTZ -> LTZ is an identity
    # under the engine's pinned UTC session timezone.
    wm = stream.withColumn(
        ts_col, F.col(ts_col).cast("timestamp")
    ).withWatermark(ts_col, delay)
    return tumbling_window_agg(wm, width, keys, ts_col)


def dedup_within_watermark(
    stream: DataFrame,
    id_cols: list[str],
    delay: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming dedup with bounded state.

    dropDuplicatesWithinWatermark keeps only ids newer than the
    watermark in state — the streaming twin of the batch exact
    dedup (operators/dedup.py), and the only form that survives an
    unbounded stream.
    """
    return (
        stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, delay)
        .dropDuplicatesWithinWatermark(id_cols)
    )


def dedup_first_event(
    df: DataFrame,
    id_cols: list[str],
    ts_col: str = "ts",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Deterministic BATCH TWIN of dedup_within_watermark.

    dropDuplicatesWithinWatermark is stream-only (Spark raises on
    batch frames) and keeps the FIRST-ARRIVING row per key; for an
    event-time-ordered replay — the reproducible way to drive the
    stream — that is exactly the earliest (ts, tiebreak) row per
    key. This window form pins those semantics on batch data so the
    streaming operator has an oracle-checkable twin
    (tests/test_streaming.py asserts stream == this on an ordered
    feed with all duplicates inside the watermark delay)."""
    w = Window.partitionBy(*id_cols).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak).asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def run_to_memory_sink(
    df: DataFrame, query_name: str, output_mode: str
) -> DataFrame:
    """Execute a streaming DF with availableNow into a memory sink
    in ``output_mode`` ("complete" for aggregations, "append" for
    dedup/row streams) and return the materialized result
    (test/dev harness).

    availableNow processes the entire backlog in bounded
    micro-batches then stops — the deterministic way to drive a
    stream in tests and backfills.
    """
    (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return df.sparkSession.table(query_name)

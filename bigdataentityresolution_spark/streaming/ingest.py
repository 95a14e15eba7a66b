"""Streaming ingest: the batch operators' plans driven by readStream.

No reference analog (batch-only engine, SURVEY.md §2.11). Provides:

- stream_events_windowed: watermarked tumbling-window aggregate over the
  events relation — the streaming twin of queries.events_tumbling_window
  (same logical plan, readStream source, append mode).
- stream_exact_dedup: incremental exact-dedup of a growing source
  table — new files are checked against the seen-fingerprint state with
  dropDuplicates on the content digest + watermark.

Both run to completion on static parquet via the memory sink +
processAllAvailable() (the local smoke pattern); production swaps the
source for Kafka/files and the sink for a table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def stream_events_windowed(
    spark: SparkSession,
    path: str,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream(parquet) → watermark → tumbling-window count/sum.

    max_files_per_trigger forces one source file per micro-batch — the
    lever the late-data tests use to drive multiple watermark advances
    from static files (the default reads everything in one batch, so the
    watermark never moves mid-stream)."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    events = reader.parquet(path)
    # group on the window STRUCT itself — append mode requires the
    # watermark-linked window column in the grouping; project .start after
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .select(F.col("window.start").alias("win_start"), "event_type", "n", "total")
    )


def run_stream_to_memory(df: DataFrame, name: str, output_mode: str = "append"):
    """Drive a streaming DataFrame to completion against static input:
    memory sink + processAllAvailable() (synchronous local smoke)."""
    q = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def stream_exact_dedup(
    spark: SparkSession,
    path: str,
    schema: str,
    text_col: str = "content",
) -> DataFrame:
    """Incremental exact dedup: first-seen row per content digest wins.

    dropDuplicates on the md5 fingerprint keeps per-key state across
    micro-batches — the streaming analog of operators.dedup.exact_duplicates'
    keep-first semantics."""
    src = spark.readStream.schema(schema).parquet(path)
    return src.withColumn("fp", F.md5(F.col(text_col))).dropDuplicates(["fp"])

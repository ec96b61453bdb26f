"""Structured Streaming surface.

The reference has no true streaming dataflow (SURVEY.md §2.10) — its crawl
is bounded BFS and its 15s/30s tickers are observability loops. The crawl
therefore runs as iterative batch rounds. This module provides the
streaming-native equivalents of the metrics aggregations (A8) for deployments
that tail an event log: watermarked event-time windows over an append
stream, runnable to completion in tests with the available-now trigger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _event_stream(spark: SparkSession, events_path: str):
    """readStream over a single parquet file OR a directory of them (the
    directory form is the restart path: new files are consumed on the next
    run against the same checkpoint)."""
    import os

    schema = spark.read.parquet(events_path).schema
    if os.path.isdir(events_path) and not events_path.endswith(".parquet"):
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(events_path)
        )
    else:
        # FileStreamSource needs a directory; glob-filter to the one file
        base_dir, _, fname = events_path.rpartition("/")
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", fname)
            .parquet(base_dir)
        )
    # parquet NTZ timestamps → event-time watermarks need TIMESTAMP (session
    # TZ is pinned to UTC, so the wall-clock instant is unchanged)
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


def windowed_event_counts(
    spark: SparkSession,
    events_path: str,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    query_name: str = "goprowl_windowed_counts",
    checkpoint_dir: str | None = None,
    sink_dir: str | None = None,
) -> DataFrame:
    """Tumbling-window counts/sums per event_type over a parquet-backed
    stream, driven to completion synchronously (availableNow) and returned
    as a batch DataFrame.

    Two shapes:

    * demo/test harness (default): ``complete`` mode into a memory sink —
      every window, including ones the watermark hasn't finalized;
    * production (``checkpoint_dir`` + ``sink_dir``): **append** mode into
      a parquet table with a checkpoint — the shape a real deployment runs
      (readStream from Kafka/log-bucket, writeStream to an Iceberg metrics
      table). Append emits each window once, when the watermark passes its
      end; windows still open when the bounded input drains stay in state
      and flush on a later run against the same checkpoint (restart path —
      pinned in tests/test_streaming.py).
    """
    stream = _event_stream(spark, events_path)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    if sink_dir is not None:
        if checkpoint_dir is None:
            raise ValueError(
                "sink_dir requires checkpoint_dir: an append-mode parquet "
                "sink is only restartable (and exactly-once) through its "
                "checkpoint"
            )
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink_dir)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # explicit schema: the first availableNow run may finalize zero
        # windows (all events inside the watermark horizon) and leave the
        # sink without data files — schema inference would throw there,
        # but that state is a legitimate one for the restart design
        return spark.read.schema(agg.schema).parquet(sink_dir)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


def stream_distinct_keys(
    spark: SparkSession,
    events_path: str,
    keys: tuple[str, ...] = ("user_id", "event_type"),
    watermark: str = "10 minutes",
    query_name: str = "goprowl_stream_dedup",
) -> DataFrame:
    """Streaming exact dedup: ``dropDuplicatesWithinWatermark`` over an
    append stream — the streaming-native form of the exact-dedup operator.
    First occurrence per key passes through; duplicates arriving within the
    ``watermark`` horizon (event time) are suppressed, and expired keys are
    evicted from the state store once the watermark passes them. Plain
    ``dropDuplicates(keys)`` would keep every key forever (the watermark
    only bounds state when the event-time column is *in* the dedup subset),
    so the horizon is the price of bounded state: a duplicate arriving
    more than ``watermark`` after its first occurrence is re-emitted.

    Choose ``watermark`` ≥ the event-time span over which re-fetches of the
    same key must dedup (the crawl's revisit horizon). When it covers the
    whole bounded input, the result is exactly ``SELECT DISTINCT keys`` —
    the driver oracle verifies values, not just shape. Production:
    readStream from the log bus, writeStream append to an Iceberg table
    with checkpointing; identical plan."""
    stream = _event_stream(spark, events_path)
    deduped = (
        stream.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark([*keys])
        .select(*keys)
    )
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


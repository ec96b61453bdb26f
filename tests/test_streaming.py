"""Structured Streaming operators: the streaming dedup and watermarked
window counts must agree with their batch forms, and restart from their
checkpoints (§2.10)."""

from pyspark.sql import functions as F

from goprowl_spark import streaming

SF_DIR = "/root/testdata/sf0.001"


def test_stream_distinct_keys_equals_batch_distinct(spark):
    path = f"{SF_DIR}/events.parquet"
    got = {
        (r["user_id"], r["event_type"])
        for r in streaming.stream_distinct_keys(
            spark, path, query_name="t_stream_dedup"
        ).collect()
    }
    want = {
        (r["user_id"], r["event_type"])
        for r in spark.read.parquet(path)
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert got == want


def test_windowed_counts_append_mode_checkpoint_restart(spark, tmp_path):
    """The production shape of windowed_event_counts (append mode + parquet
    sink + checkpoint): each finalized window is emitted exactly once, its
    values equal the complete-mode/batch result, and windows still open at
    the end of one run flush on the next run against the same checkpoint."""
    src = spark.read.parquet(f"{SF_DIR}/events.parquet")
    lo, hi = src.agg(
        F.min(F.col("ts").cast("timestamp").cast("long")),
        F.max(F.col("ts").cast("timestamp").cast("long")),
    ).collect()[0]
    cut = (lo + hi) // 2
    events_dir = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    src.where(F.col("ts").cast("timestamp").cast("long") <= cut).write.parquet(
        events_dir
    )
    first = streaming.windowed_event_counts(
        spark, events_dir, checkpoint_dir=ckpt, sink_dir=sink
    )
    n_first = first.count()
    assert n_first > 0, "append mode emitted nothing on the first run"

    src.where(F.col("ts").cast("timestamp").cast("long") > cut).write.mode(
        "append"
    ).parquet(events_dir)
    got = streaming.windowed_event_counts(
        spark, events_dir, checkpoint_dir=ckpt, sink_dir=sink
    )
    rows = got.collect()
    assert len(rows) > n_first, "restart emitted no new windows"

    # exactly-once per (window, type): no duplicates across the two runs
    keys = [(r["window_start"], r["event_type"]) for r in rows]
    assert len(keys) == len(set(keys)), "append re-emitted a window"

    # every emitted window matches the batch aggregate exactly
    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in src.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
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
        .collect()
    }
    for r in rows:
        k = (r["window_start"], r["event_type"])
        assert k in batch, f"window {k} unknown to batch"
        assert batch[k] == (r["n_events"], r["sum_value"]), f"window {k} differs"

    # only the watermark tail may be missing: every batch window that ends
    # at least `watermark` before the max event time must have been emitted
    import datetime as _dt

    wm_cutoff = _dt.datetime.utcfromtimestamp(hi - 600 - 300)
    emitted = set(keys)
    for (ws, et) in batch:
        if _dt.datetime.strptime(ws, "%Y-%m-%d %H:%M:%S") < wm_cutoff - _dt.timedelta(minutes=5):
            assert (ws, et) in emitted, f"finalized window ({ws},{et}) never emitted"


def test_windowed_counts_sink_edge_cases(spark, tmp_path):
    """The sink contract's edge cases: a sink without a checkpoint raises
    immediately (an append parquet sink is only exactly-once through its
    checkpoint), and a first run whose events all sit inside the watermark
    horizon finalizes ZERO windows — the sink has no data files and the
    explicit-schema read must return an empty frame, not an inference
    error."""
    import pytest

    with pytest.raises(ValueError, match="checkpoint_dir"):
        streaming.windowed_event_counts(
            spark, f"{SF_DIR}/events.parquet", sink_dir=str(tmp_path / "s0")
        )

    # one tight burst of events << watermark horizon → nothing finalizes
    src = spark.read.parquet(f"{SF_DIR}/events.parquet")
    lo = src.agg(
        F.min(F.col("ts").cast("timestamp").cast("long"))
    ).collect()[0][0]
    events_dir = str(tmp_path / "events")
    src.where(
        F.col("ts").cast("timestamp").cast("long") < lo + 60
    ).write.parquet(events_dir)
    got = streaming.windowed_event_counts(
        spark,
        events_dir,
        watermark="10 minutes",
        checkpoint_dir=str(tmp_path / "ckpt"),
        sink_dir=str(tmp_path / "sink"),
    )
    assert got.count() == 0
    assert got.columns == [
        "window_start", "event_type", "n_events", "sum_value",
    ]

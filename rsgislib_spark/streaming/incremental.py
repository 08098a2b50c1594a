"""Incremental (resumable) ingestion with Structured Streaming.

``availableNow`` runs one micro-batch over everything not yet seen by the
checkpoint and stops — the streaming analogue of the reference's
block-iterator pull (``stdimgblockiter.py:214-286``) with the
resumability the reference lacks: the checkpoint directory records
processed files, so a re-run after new files land processes ONLY the new
files.

The transformation plan is the same Catalyst plan as the batch operators
(e.g. queries.q50_event_hour_windows) — batch/streaming parity by
construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def incremental_event_counts(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: str = "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
) -> None:
    """One availableNow pass: new parquet files in src_dir → per
    (hour, event_type) counts appended to out_dir. Safe to re-run; a run
    with no new files appends nothing."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(src_dir)
    )
    agg = stream.select(
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH").alias("hour"),
        "event_type",
        "value",
    )
    q = (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_image_features(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: str = "image_id string, bytes binary, w int, h int, fmt string",
) -> None:
    """Continuous decode ingest — the 100 TB shape where image payloads
    LAND over time and must be decoded + featurized as they arrive:
    new parquet files of (image_id, bytes, w, h, fmt) rows →
    operators.multimodal.image_features (stateless mapInArrow, so it
    runs unchanged under Structured Streaming) → features appended to
    out_dir. One availableNow pass per call; the checkpoint makes
    re-runs incremental (files already decoded are never re-decoded),
    i.e. a killed ingest restarts without recomputing finished files."""
    from rsgislib_spark.operators.multimodal import image_features

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(src_dir)
    )
    q = (
        image_features(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

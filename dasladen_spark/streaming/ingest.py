"""Streaming ingestion — the idiomatic-Spark upgrade of the
reference's capture-folder poller (processor.py:298-338): instead of
polling filenames on the driver, a Structured Streaming file source
tracks processed files transactionally, applies the same declarative
transforms, and writes exactly-once sinks with checkpointing.

`availableNow` triggers give batch-style runs over whatever has
arrived (what the tests use); `processingTime` gives the continuous
mode. Watermarked windowed aggregation covers the late-data cases a
100 TB event pipeline actually hits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from dasladen_spark.transforms.compiler import apply_transforms


def stream_csv_folder(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    delimiter: str = ";",
    header: bool = True,
    transform: dict | None = None,
) -> DataFrame:
    """readStream over a folder of CSV drops, with the same transform
    block the batch tasks use (streaming sources require an explicit
    schema — no inference pass)."""
    df = (
        spark.readStream.schema(schema)
        .option("header", header)
        .option("sep", delimiter)
        .csv(path)
    )
    if transform:
        df = apply_transforms(df, transform=transform)
    return df


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling/sliding windowed counts with a watermark bounding
    state for late data — works on both stream and batch frames."""
    win = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    df = events
    if events.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return df.groupBy(win.alias("win"), F.col(key_col)).agg(
        F.count(F.lit(1)).alias("n_events")
    )


def run_available_now(stream_df: DataFrame, out_path: str, checkpoint: str) -> None:
    """Drain everything currently in the source into a parquet sink
    exactly once, then stop (the batch-ish trigger)."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def drain_foreach_batch(stream: DataFrame, sink, checkpoint: str):
    """The one micro-batch driver behind every foreachBatch sink in
    streaming/: start ``stream`` through ``sink(batch_df, batch_id)``
    under ``checkpoint``, draining what is available now, and return
    the started query. Update mode is what a streaming aggregate
    needs; on a stream without one it is the same as append."""
    return (
        stream.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )

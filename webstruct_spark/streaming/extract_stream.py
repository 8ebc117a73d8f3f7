# -*- coding: utf-8 -*-
"""Streaming ingestion of transcript turns.

The reference is batch-only (SURVEY §2, "Windows/streaming"); this is
the additive streaming surface: the SAME narrow extraction operator
(the tokenize→encode→decode mapInArrow pass) applied to a file stream
— mention extraction is stateless per turn, so the batch operator
lifts to Structured Streaming unchanged.  ``mention_type_counts_stream`` adds
the stateful layer: watermarked sliding-window counts per entity type.

Tested with the availableNow trigger (process-everything-then-stop) so
the batch and streaming outputs are directly comparable.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.extract import mentions

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def read_turn_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )


def stream_mentions(
    turn_stream: DataFrame,
) -> DataFrame:
    """Stateless streaming mention extraction (same operator as
    batch)."""
    return mentions(turn_stream)


def mention_type_counts(
    turn_stream: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked sliding-window mention counts per entity type."""
    from ..operators.extract import extract_rows

    # watermark AFTER the map: event-time metadata does not survive
    # mapInArrow, the ts column does
    rows = (
        extract_rows(turn_stream, passthrough=["ts"])
        .where(F.col("mention_idx") >= 0)
        .withWatermark("ts", watermark)
    )
    return rows.groupBy(
        F.window("ts", window, slide).alias("w"),
        "entity_type",
    ).agg(F.count(F.lit(1)).alias("n_mentions"))


def run_available_now(stream_df: DataFrame, out_dir: str,
                      checkpoint_dir: str, output_mode: str = "append"):
    """Drain everything currently in the source, then stop — used by
    tests and backfills."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q

# -*- coding: utf-8 -*-
"""The trained-model inference path lifts to Structured Streaming
unchanged (crf_tagged_mentions is one narrow mapInArrow pass for batch
and streaming frames): availableNow over file arrivals must equal the
batch run row-for-row."""
import os

from pyspark.sql import functions as F

from webstruct_spark.operators.trained import (
    crf_tagged_mentions,
    train_crf,
)
from webstruct_spark.streaming.extract_stream import TRANSCRIPT_SCHEMA


def test_streaming_crf_equals_batch(spark, corpus_dir, tmp_path):
    full = spark.read.parquet(
        os.path.join(corpus_dir, "transcripts.parquet")
    )
    model = train_crf(full, sample=120, epochs=3)

    src = str(tmp_path / "arrivals")
    os.makedirs(src)
    full.where(F.col("turn_idx") % 2 == 0).coalesce(1).write.parquet(
        os.path.join(src, "f1")
    )
    full.where(F.col("turn_idx") % 2 == 1).coalesce(1).write.parquet(
        os.path.join(src, "f2")
    )

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*/")
    )
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = (
        crf_tagged_mentions(stream, model)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    cols = ["conv_id", "turn_idx", "mention_idx", "text", "entity_type"]
    got = {
        tuple(r[c] for c in cols)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        tuple(r[c] for c in cols)
        for r in crf_tagged_mentions(full, model).collect()
    }
    assert got == want and len(want) > 0

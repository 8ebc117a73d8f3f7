# -*- coding: utf-8 -*-
"""widen_scan (operators/spread.py): adaptive scan widening for heavy
Python passes — widens pathologically narrow scans, never touches
frames that already re-partition themselves (whose probe would also
double-execute exchanges under AQE), and passes streaming frames
through untouched."""
import os

from pyspark.sql import functions as F

from webstruct_spark.operators.spread import widen_scan


def test_widens_narrow_scan(spark, corpus_dir):
    t = spark.read.parquet(os.path.join(corpus_dir, "transcripts.parquet"))
    assert t.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    w = widen_scan(t)
    assert (
        w.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    )
    # values untouched (same rows, any order)
    assert w.count() == t.count()
    a = {tuple(r) for r in t.select("conv_id", "turn_idx").collect()}
    b = {tuple(r) for r in w.select("conv_id", "turn_idx").collect()}
    assert a == b


def test_shuffle_bearing_frames_pass_through(spark, corpus_dir):
    t = spark.read.parquet(os.path.join(corpus_dir, "transcripts.parquet"))
    agg = t.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n"))
    assert widen_scan(agg) is agg
    rep = t.repartition(2)
    assert widen_scan(rep) is rep


def test_broadcast_join_probe_still_widens(spark, corpus_dir):
    # the domain-CV fold shape: a broadcast-semi-join against a
    # CHECKPOINTED id table (production checkpoints the folds table)
    # is still as narrow as its probe side and must be widened.  A
    # build side carrying its own aggregate/distinct lineage instead
    # trips the conservative shuffle gate and passes through — that
    # is the contract (missed widening, never a double-executed
    # exchange).
    t = spark.read.parquet(os.path.join(corpus_dir, "transcripts.parquet"))
    ids = (
        t.select("conv_id").distinct().limit(5).localCheckpoint(eager=True)
    )
    joined = t.join(F.broadcast(ids), "conv_id", "left_semi")
    w = widen_scan(joined)
    assert (
        w.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    )
    assert w.count() == joined.count()
    lazy_ids = F.broadcast(t.select("conv_id").distinct().limit(5))
    lazy_join = t.join(lazy_ids, "conv_id", "left_semi")
    assert widen_scan(lazy_join) is lazy_join


def test_sort_merge_join_passes_through(spark, corpus_dir):
    # a join planned as a shuffle join re-partitions itself, and the
    # partition-count probe would run its shuffles under AQE: no Spark
    # job may run inside widen_scan
    t = spark.read.parquet(os.path.join(corpus_dir, "transcripts.parquet"))
    right = t.select("conv_id", F.col("turn_idx").alias("other_turn"))
    sc = spark.sparkContext
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        joined = t.join(right, "conv_id")
        sc.setJobGroup("widen_scan_smj", "sort-merge join probe")
        assert widen_scan(joined) is joined
        assert not sc.statusTracker().getJobIdsForGroup("widen_scan_smj")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set(key, old)


def test_streaming_passthrough(spark, tmp_path):
    src = spark.readStream.format("rate").option(
        "rowsPerSecond", "1"
    ).load()
    assert widen_scan(src) is src

# -*- coding: utf-8 -*-
"""Adaptive scan widening for heavy Python/Arrow passes.

The optimization guide's input-skew rule (§2.5: "one huge
unsplittable file ... repartition immediately after the read", §2.2
fewer-but-not-one map tasks): a parquet scan whose file count / row
groups give it far fewer partitions than the cluster has cores runs
every downstream *narrow* stage on those few tasks — a single-file
input serializes the whole tokenize/Viterbi/sketch pass no matter how
many cores exist.  Paying one round-robin exchange of the (small,
pre-extraction) input rows unlocks full-width execution of the
per-row Python work that dominates these operators.

Applied ONLY at sources feeding expensive per-row Python passes
(Viterbi inference, MinHash sketching, stream diffs, token
featurization): for those, the exchange (~bytes of raw text) is an
order of magnitude cheaper than the serialized compute it spreads.
Cheap JVM-only chains keep the source layout.

Scale posture: on a real corpus (many files >= cores) the partition
count is already >= the target and this is a NO-OP — the helper only
acts when the scan is pathologically narrow, so it cannot double-pay
an exchange at 100 TB.  The round-robin assignment is deterministic
under retry (sort-before-repartition, SPARK-23207) and every caller
is row-local or set-semantic, so results are partition-invariant.
"""
from __future__ import annotations

from pyspark.sql import DataFrame

# optimized-logical-plan nodes that re-partition their input
_SHUFFLING = frozenset((
    "Aggregate", "Window", "Sort", "Distinct", "Repartition",
    "RepartitionByExpression", "RebalancePartitions", "Deduplicate",
))
# join types whose right / left side a broadcast hash join can build
_BUILD_RIGHT = frozenset((
    "Inner", "Cross", "LeftOuter", "LeftSemi", "LeftAnti",
))
_BUILD_LEFT = frozenset(("Inner", "Cross", "RightOuter"))


def _broadcast(hint_info) -> bool:
    """Whether an ``Option[HintInfo]`` of a join asks for broadcast."""
    if not hint_info.isDefined():
        return False
    strategy = hint_info.get().strategy()
    return strategy.isDefined() and (
        strategy.get().displayName() == "broadcast"
    )


def _shuffles(node) -> bool:
    """Whether any node of an optimized logical plan re-partitions its
    input.  A join counts unless its hint marks the side a broadcast
    hash join builds as broadcast: any other join plans as a shuffle
    join."""
    name = node.getClass().getSimpleName()
    if name in _SHUFFLING:
        return True
    if name == "Join":
        kind = node.joinType().toString()
        hint = node.hint()
        if not (
            (kind in _BUILD_RIGHT and _broadcast(hint.rightHint()))
            or (kind in _BUILD_LEFT and _broadcast(hint.leftHint()))
        ):
            return True
    children = node.children()
    return any(_shuffles(children.apply(i)) for i in range(children.size()))


def widen_scan(df: DataFrame, min_ratio: int = 2) -> DataFrame:
    """Repartition ``df`` to ``defaultParallelism`` iff its current
    plan would execute on fewer than ``defaultParallelism /
    min_ratio`` partitions.  Streaming frames pass through untouched
    (their micro-batch sizing is the planner's job)."""
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        # AQE gotcha: with adaptive execution on, Dataset.rdd
        # materializes every upstream query stage (shuffles run
        # eagerly, then AGAIN when the widened frame executes).  The
        # probe below is therefore gated on the optimized logical
        # plan: any shuffle-inducing node means the frame already
        # re-partitions itself (post-shuffle parallelism is
        # spark.sql.shuffle.partitions) AND probing it would
        # double-execute the exchange — skip.  Broadcast-hinted joins
        # stay eligible (a broadcast-joined scan is still as narrow as
        # its probe side; re-running a tiny broadcast stage in the
        # probe is harmless by definition of broadcast).
        if _shuffles(df._jdf.queryExecution().optimizedPlan()):
            return df
        cur = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - exotic unplannable frames
        return df
    if cur * min_ratio <= target:
        return df.repartition(target)
    return df

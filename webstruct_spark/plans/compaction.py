# -*- coding: utf-8 -*-
"""Small-file compaction for the append-mode KG stages.

Every :func:`~webstruct_spark.plans.pipeline.append_kg_frames` call —
and therefore every streaming micro-batch
(:mod:`webstruct_spark.streaming.kg_ingest`) — adds one set of part
files to the per-conversation stages (``extracted mentions
group_entities groups triples``) and to the ``_conv_ids`` side table.
After weeks of periodic appends a stage dir holds thousands of tiny
files: scans pay per-file open/footer costs, the snapshot's file list
grows, and at 100 TB the NameNode/object-store load becomes the
bottleneck.  (The global stages ``links/nodes/edges`` are rewritten
whole on every append, so Spark already sizes them.)

:func:`compact_kg` rewrites each fragmented stage into
``ceil(bytes / target_bytes)`` new files via a shuffle-free
``coalesce`` of exactly the files the current snapshot lists —
compaction merges many small inputs, so reducing partitions is the
only direction needed — checks the new files' footer rows against the
snapshot's (the pass is :func:`.snapshots.compact`, shared with the
ANN index), and publishes all rewritten stages with one snapshot
commit, keeping each stage's source identity: it is a physical
rewrite.  Until that commit the new files are unreferenced and no
reader opens them; a crash anywhere leaves the old files current, and
the next writer's GC removes the rest.  Like every writer of the
store, compaction must not run concurrently with a
build/append/refresh on the same out_dir.

Cost honesty: a compaction run rewrites the WHOLE stage —
O(stage bytes), parallelism ``ceil(bytes/target)`` tasks each
reading ≈ one target-file of small inputs.  Amortize: schedule
compaction every K appends, and note the per-conversation stages
downstream of ``extracted`` are 5-10% of corpus bytes, so at 100 TB
the big rewrite is the ``extracted`` stage's alone and runs at full
cluster width.
"""
from __future__ import annotations

import time
from typing import Dict, List, Optional

from pyspark.sql import SparkSession

from . import snapshots

# stages that accumulate files on append — the global stages are
# rewritten whole each append and never fragment
APPEND_STAGES = [
    "extracted", "mentions", "group_entities", "groups", "triples",
]

# default target part-file size: 128 MiB keeps one file ≈ one HDFS
# block / one comfortable scan task at cluster scale
DEFAULT_TARGET_BYTES = 128 << 20


def compact_kg(
    spark: SparkSession,
    out_dir: str,
    stages: Optional[List[str]] = None,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    force: bool = False,
    include_conv_ids: bool = True,
) -> Dict[str, dict]:
    """Compact the append-mode stages of a committed KG build at
    ``out_dir``.  Idempotent and cheap when nothing is fragmented: the
    no-op decision per stage comes from the snapshot's file sizes, with
    no listing or footer read; safe to run on a schedule between
    appends.  ``force=True`` rewrites even already-compact stages (used
    by tests; also the escape hatch after changing ``target_bytes``).

    Returns ``{stage: {rows, n_files_before, n_files_after,
    compacted}}``.  Raises on a non-positive ``target_bytes`` before
    touching the store, if the base build is not fully committed, or
    if a rewrite's footer row total disagrees with the snapshot's
    (nothing is committed then).
    """
    from .pipeline import CONV_IDS, _base_snapshot, _files, _publish

    stages = list(APPEND_STAGES if stages is None else stages)
    unknown = [s for s in stages if s not in APPEND_STAGES]
    if unknown:
        raise ValueError(
            "compact_kg: %s are not append-mode stages (only %s "
            "fragment)" % (", ".join(unknown), ", ".join(APPEND_STAGES))
        )
    groups = stages + ([CONV_IDS] if include_conv_ids else [])
    walls: Dict[str, float] = {}

    def load():
        snap = _base_snapshot(spark, out_dir, "compact_kg")
        return out_dir, snap, {s: _files(snap, s) for s in groups}

    def rewrite(root: str, stage: str, df) -> List[dict]:
        t0 = time.time()
        files = snapshots.write(spark, root, df, "stage", stage)
        walls[stage] = time.time() - t0
        return files

    _, snap, new = snapshots.compact(
        spark, "compact_kg", target_bytes, force, load, rewrite,
        lambda stage: "%r at %r" % (stage, out_dir),
    )
    if new:
        # a physical rewrite: every stage keeps its identity and stamps
        _publish(spark, out_dir, snap, new, "compact", walls)
    return {
        s: {
            "rows": sum(f["rows"] for f in old),
            "n_files_before": len(old),
            "n_files_after": len(new.get(s, old)),
            "compacted": s in new,
        }
        for s, old in ((s, _files(snap, s)) for s in groups)
    }

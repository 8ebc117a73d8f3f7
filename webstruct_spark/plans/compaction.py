# -*- coding: utf-8 -*-
"""Small-file compaction for the append-mode KG stages.

Every :func:`~webstruct_spark.plans.pipeline.append_kg_frames` call —
and therefore every streaming micro-batch
(:mod:`webstruct_spark.streaming.kg_ingest`) — adds one set of part
files to the per-conversation stages (``extracted mentions
group_entities groups triples``) and to the ``_conv_ids`` side table.
After weeks of periodic appends a stage dir holds thousands of tiny
files: scans pay per-file open/footer costs, the driver's file
listing grows, and at 100 TB the NameNode/object-store listing itself
becomes the bottleneck.  (The overwrite stages ``links/nodes/edges``
are rewritten whole on every append, so Spark already sizes them.)

:func:`compact_kg` rewrites each oversized stage into
``ceil(bytes / target_bytes)`` files via a shuffle-free
``coalesce`` — compaction merges many small inputs, so reducing
partitions is the only direction needed — and swaps the result in
with a crash-safe rename protocol:

1. write ``<stage>.__compact_tmp__``  (Spark parquet, own _SUCCESS)
2. verify the tmp's footer row total equals the stage's committed
   ``rows_out`` — a compaction that changes row counts never swaps in
3. rename ``<stage>`` → ``<stage>.__compact_old__``
4. rename tmp → ``<stage>``
5. re-commit the stage's manifest record: same ``source_fp`` (the
   SOURCE identity is unchanged — compaction is a physical rewrite),
   fresh file lineage, ``inputs=["compact:<stage>"]``
6. delete the old dir

A crash at any point is repaired by the next :func:`compact_kg` call
(:func:`_repair`): tmp-orphan before step 3 → deleted; between 3 and
4 → roll FORWARD if the tmp carries Spark's ``_SUCCESS`` (it was
fully written and row-verified before any rename), else roll back;
after 4 → finish cleanup and re-commit.  Until repair runs, a torn
window (stage dir momentarily absent) fails
``Manifest.is_committed``'s ``_SUCCESS`` probe, so a concurrent
resume REBUILDS rather than reading a half-swapped table — safe, if
wasteful; like the append path, compaction assumes the
single-writer-per-out_dir discipline and must not run concurrently
with a build/append on the same out_dir.

All filesystem access goes through :mod:`.fsio`, so the same code
runs against HDFS/S3 paths.  On an object store, where a directory
rename is a non-atomic copy, a real deployment would do this as a
table format's rewrite-data-files + snapshot swap (Iceberg/Delta);
this module is that operation for the plain-parquet-dir layout the
sandbox uses.

Cost honesty: a compaction run rewrites the WHOLE stage —
O(stage bytes), parallelism ``ceil(bytes/target)`` tasks each
reading ≈ one target-file of small inputs.  Rewriting only the
fragmented tail isn't crash-safe on a plain parquet dir (a subset
swap has a window where readers see old+new files double-counted —
exactly what a table format's atomic file-list commit exists for),
so amortize instead: schedule compaction every K appends, and note
the per-conversation stages downstream of ``extracted`` are 5-10%
of corpus bytes, so at 100 TB the big rewrite is the ``extracted``
stage's alone and runs at full cluster width.

The persistent ANN index does not use this swap: it publishes
through the snapshot log (:mod:`.snapshots`), where a compaction
writes the new files and commits one record with the bucket's files
replaced, so no crash window is ever visible to a reader (:func:`webstruct_spark.operators.similarity.compact_ann_index`).
The KG stages are the next to move onto it.
"""
from __future__ import annotations

import math
import time
from typing import Dict, List, Optional

from pyspark.sql import SparkSession

from . import fsio
from .manifest import Manifest, table_fingerprint

# stages that accumulate files via mode("append") — the overwrite
# stages are rewritten whole each append and never fragment
APPEND_STAGES = [
    "extracted", "mentions", "group_entities", "groups", "triples",
]

SUF_TMP = ".__compact_tmp__"
SUF_OLD = ".__compact_old__"

# default target part-file size: 128 MiB keeps one file ≈ one HDFS
# block / one comfortable scan task at cluster scale
DEFAULT_TARGET_BYTES = 128 << 20


def _delta_provenance(rec: dict) -> dict:
    """The last-applied-delta annotations a compaction re-commit must
    carry forward: the append path's fully-applied plain-retry skip
    reads them off the LATEST record (pipeline's overlap guard), so a
    scheduled compact between an append and its at-least-once retry
    must not strip them."""
    return {
        k: rec[k]
        for k in ("delta_fp", "delta_batch_id", "delta_stream_id")
        if k in rec
    }


def _repair(spark, path: str) -> str:
    """Repair a crashed swap for ``path``.  Returns one of
    ``"clean"`` (nothing to do), ``"dropped_tmp"`` (pre-swap orphan
    removed), ``"rolled_forward"`` (stage is now the compacted data;
    caller must re-commit lineage), ``"finished_swap"`` (swap had
    completed but cleanup/commit may not have; caller must
    re-commit)."""
    tmp = path + SUF_TMP
    old = path + SUF_OLD
    if fsio.exists(spark, old):
        if fsio.exists(spark, path):
            # crashed after step 4: swap done, cleanup/commit unknown.
            # The old dir is NOT deleted here — it is the marker that
            # routes the next run back into this branch, and the
            # caller must re-commit the manifest BEFORE dropping it
            # (deleting first would make a crash between the delete
            # and the re-commit unrepairable: the next run would see
            # "clean" and never refresh the stale file lineage).
            fsio.delete(spark, tmp)
            return "finished_swap"
        if fsio.exists(spark, fsio.join(tmp, "_SUCCESS")):
            # crashed between 3 and 4: tmp was fully written AND
            # row-verified before any rename — roll forward.  Same
            # rule: the old dir outlives the caller's re-commit.
            fsio.rename(spark, tmp, path)
            return "rolled_forward"
        # tmp missing/partial with the stage already moved aside can
        # only mean a rename raced something it shouldn't — roll back
        fsio.delete(spark, tmp)
        fsio.rename(spark, old, path)
        return "clean"
    if fsio.exists(spark, tmp):
        # crashed before step 3: stage untouched, tmp is an orphan
        fsio.delete(spark, tmp)
        return "dropped_tmp"
    return "clean"


def _compact_dir(
    spark: SparkSession,
    path: str,
    expected_rows: Optional[int],
    target_bytes: int,
    force: bool,
    expected_n_files: Optional[int] = None,
    expected_bytes: Optional[int] = None,
) -> dict:
    """Compact one parquet dir in place (swap protocol steps 1-4
    ONLY).  Returns ``{rows, n_files_before, n_files_after,
    compacted}``.  Steps 5 and 6 are the caller's job, in that order:
    re-commit the manifest record, THEN delete the ``__compact_old__``
    marker (the ``_conv_ids`` side table has no record, so its caller
    just deletes the marker).

    The no-op decision needs only file count + bytes — ONE dir
    listing, never per-file footer reads.  That matters at the
    module's own design point: a scheduled compact over an
    already-compact 100 TB stage (~40-80k files of 128 MiB) must not
    pay 40-80k footer round trips to conclude "nothing to do".  The
    listing is still checked against the manifest's recorded
    ``n_files``/``bytes`` (``expected_n_files``/``expected_bytes``),
    so out-of-band corruption refuses on the no-op path too; the
    row-exact fingerprint runs only when a rewrite actually happens."""
    listing = fsio.listdir(spark, path)
    pq = [(n, b) for n, b in listing if n.endswith(".parquet")]
    n_files = len(pq)
    total_bytes = sum(b for _, b in pq)
    if (
        (expected_n_files is not None and n_files != expected_n_files)
        or (expected_bytes is not None and total_bytes != expected_bytes)
    ):
        raise ValueError(
            "compact: %r holds %d files / %d bytes but the manifest "
            "says %s / %s — out_dir corrupted or concurrently "
            "modified; refusing to rewrite"
            % (path, n_files, total_bytes, expected_n_files,
               expected_bytes)
        )
    n_target = max(1, math.ceil(total_bytes / float(target_bytes)))
    out = {
        # the listing-vs-record check above makes the record's row
        # total trustworthy on the no-op path without footer reads
        "rows": expected_rows,
        "n_files_before": n_files,
        "n_files_after": n_files,
        "compacted": False,
    }
    if n_files <= n_target and not force:
        if out["rows"] is None:
            # no manifest record to trust (the _conv_ids side table):
            # footer-count so the caller's report keeps the real row
            # total the pre-fast-path code reported.  This never
            # touches the 100 TB stages — they all pass expected_rows
            # from the manifest — and the side table is one slim dir.
            out["rows"] = table_fingerprint(path, spark=spark)["rows"]
        return out
    fp = table_fingerprint(path, spark=spark)
    out["rows"] = fp["rows"]
    if expected_rows is not None and fp["rows"] != expected_rows:
        raise ValueError(
            "compact: %r holds %d rows but the manifest says %d — "
            "out_dir corrupted or concurrently modified; refusing to "
            "rewrite" % (path, fp["rows"], expected_rows)
        )
    tmp = path + SUF_TMP
    old = path + SUF_OLD
    spark.read.parquet(path).coalesce(n_target).write.mode(
        "overwrite"
    ).parquet(tmp)
    tmp_fp = table_fingerprint(tmp, spark=spark)
    if tmp_fp["rows"] != fp["rows"]:
        fsio.delete(spark, tmp)
        raise RuntimeError(
            "compact: rewrite of %r produced %d rows, expected %d — "
            "tmp discarded, stage untouched"
            % (path, tmp_fp["rows"], fp["rows"])
        )
    fsio.rename(spark, path, old)
    fsio.rename(spark, tmp, path)
    # the old dir is NOT deleted here: the caller deletes it AFTER
    # the manifest re-commit (protocol step 6 after step 5), so a
    # crash in between is detectable by _repair as "finished_swap"
    # and the re-commit is retried — deleting first would leave an
    # unrepairable window with permanently stale file lineage
    out["n_files_after"] = tmp_fp["n_files"]
    out["compacted"] = True
    return out


def _recommit_and_drop_marker(spark, man: Manifest, stage: str,
                              rec: dict, wall: float) -> None:
    """Protocol step 5 then 6, in THAT order — the crash-safety-
    critical invariant, expressed once for the crashed-swap retry
    (both the :func:`compact_kg` branch and the entry-time
    :func:`repair_crashed_compactions`) and the fresh compaction:
    re-commit the lineage FIRST (same source identity, fresh physical
    file list, delta provenance carried forward), and only then drop
    the ``__compact_old__`` marker.  A crash between the two leaves
    the marker, so the next run lands back in the retry branch and
    repeats the re-commit; drop-first would strand the stale record
    forever (the following run would see "clean" + already-compact
    and skip the commit)."""
    from .pipeline import STAGE_INPUTS

    man.commit(
        stage, wall,
        inputs=["compact:%s" % i
                for i in STAGE_INPUTS.get(stage, [stage])],
        source_fp=rec.get("source_fp"),
        extra=_delta_provenance(rec),
    )
    fsio.delete(spark, man.stage_path(stage) + SUF_OLD)


def repair_crashed_compactions(spark, man: Manifest) -> Dict[str, str]:
    """Settle crashed :func:`compact_kg` swaps at a NON-compact entry
    (build resume / append / refresh-gazetteer call this right after
    ``reconcile_intents``).  Without it, a kill between the swap's two
    renames leaves the stage dir absent and every other entry
    misdiagnoses the repairable state: append/refresh refuse with
    "missing stages", ``build_kg(resume=True)`` destructively
    recomputes the corpus-scale stage, and the link audit blames
    out-of-band deletion — while the row-verified compacted data sits
    one rename away in ``<stage>.__compact_tmp__``.  A kill after the
    swap but before the re-commit (marker still present) is equally
    wrong to ignore: the stage reads committed, so an append would
    roll the record's STALE ``n_files``/``bytes`` totals forward and
    the manifest would permanently disagree with disk.

    ONE out_dir listing decides the happy path (no marker names → no
    per-stage probes — entries run per append at the 100 TB design
    point, they must not pay 2 exists() hops × 6 stages for a state
    that almost never exists).  For flagged stages this replays
    :func:`_repair` plus protocol steps 5-6 exactly as ``compact_kg``
    would (re-commit same source identity + fresh physical lineage +
    delta provenance, THEN drop the marker).  Returns
    ``{stage_or_side_table: repair_state}`` for non-clean states."""
    from .pipeline import CONV_IDS

    listing = fsio.listdir_if_exists(spark, man.out_dir)
    if listing is None:
        return {}
    names = {n for n, _ in listing}
    out: Dict[str, str] = {}
    committed: Optional[Dict[str, dict]] = None
    for stage in APPEND_STAGES:
        if (stage + SUF_TMP) not in names and \
                (stage + SUF_OLD) not in names:
            continue
        path = man.stage_path(stage)
        state = _repair(spark, path)
        if state in ("rolled_forward", "finished_swap"):
            if committed is None:
                committed = man.committed()
            rec = committed.get(stage)
            if rec is not None and \
                    rec.get("layout", "1") == man.layout_version:
                _recommit_and_drop_marker(spark, man, stage, rec, 0.0)
            else:
                # no record, or a record from an OLDER table layout:
                # re-committing would stamp the current layout onto
                # old-layout data, laundering it past is_committed's
                # layout-bump refusal (compact_kg refuses this state
                # outright).  Settle the dir, drop the marker, and
                # leave the record as-is — the stage reads
                # uncommitted/stale and the calling entry rebuilds or
                # refuses exactly as it would for any stale stage.
                fsio.delete(spark, path + SUF_OLD)
        if state != "clean":
            out[stage] = state
    conv_path = fsio.join(man.out_dir, CONV_IDS)
    if (CONV_IDS + SUF_TMP) in names or (CONV_IDS + SUF_OLD) in names:
        state = _repair(spark, conv_path)
        # the side table has no manifest record to re-sync — the
        # marker drops as soon as the repair settles the dir
        fsio.delete(spark, conv_path + SUF_OLD)
        if state != "clean":
            out[CONV_IDS] = state
    return out


def compact_kg(
    spark: SparkSession,
    out_dir: str,
    stages: Optional[List[str]] = None,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    force: bool = False,
    include_conv_ids: bool = True,
    compact_manifest: bool = True,
) -> Dict[str, dict]:
    """Compact the append-mode stages of a committed KG build at
    ``out_dir``.  Idempotent and cheap when nothing is fragmented
    (footer-only inspection per stage); safe to run on a schedule
    between appends.  ``force=True`` rewrites even already-compact
    stages (used by tests; also the escape hatch after changing
    ``target_bytes``).

    Returns ``{stage: {rows, n_files_before, n_files_after,
    compacted}}``.  Raises if the base build is not fully committed,
    or if a stage's on-disk row total disagrees with its manifest
    record (refusing to launder corruption into a "compacted" table).
    """
    from .pipeline import CONV_IDS, LAYOUT_VERSION

    # read-only handle until the preamble proves a committed base —
    # a compact against a typo'd out_dir must refuse without leaving
    # a fresh manifest.d behind (same hygiene as append/refresh; see
    # Manifest.ensure_dirs)
    man = Manifest(out_dir, layout_version=LAYOUT_VERSION, spark=spark,
                   create=False)
    # settle crashed-append strays first: compaction verifies each
    # stage's on-disk rows against the manifest, and an uncommitted
    # stray write would read as corruption when it is repairable
    man.reconcile_intents()
    stages = list(APPEND_STAGES if stages is None else stages)
    unknown = [s for s in stages if s not in APPEND_STAGES]
    if unknown:
        raise ValueError(
            "compact_kg: %s are not append-mode stages (only %s "
            "fragment)" % (", ".join(unknown), ", ".join(APPEND_STAGES))
        )

    results: Dict[str, dict] = {}
    base = man.committed()
    if not base:
        raise ValueError(
            "compact_kg: nothing is committed at %r — compact only "
            "fully built KGs" % out_dir
        )
    man.ensure_dirs()

    for stage in stages:
        path = man.stage_path(stage)
        state = _repair(spark, path)
        rec = base.get(stage)
        if not man.is_committed(stage, rec=rec or {}):
            raise ValueError(
                "compact_kg: stage %r is not committed at %r — "
                "compact only fully built KGs" % (stage, out_dir)
            )
        if state in ("rolled_forward", "finished_swap"):
            # step 5 retry for the crashed swap _repair just finished
            _recommit_and_drop_marker(spark, man, stage, rec, 0.0)
            # the retry's re-commit refreshed the record's physical
            # lineage — reload it so the listing-vs-record check in
            # _compact_dir judges the repaired dir against its OWN
            # record, not the pre-crash one
            rec = man.committed()[stage]
        t0 = time.time()
        res = _compact_dir(
            spark, path, rec["rows_out"], target_bytes, force,
            expected_n_files=rec.get("n_files"),
            expected_bytes=rec.get("bytes"),
        )
        if res["compacted"]:
            _recommit_and_drop_marker(spark, man, stage, rec,
                                      time.time() - t0)
        res["repair"] = state
        results[stage] = res

    if include_conv_ids:
        conv_path = fsio.join(out_dir, CONV_IDS)
        state = _repair(spark, conv_path)
        # no manifest record to re-sync for the side table, so the
        # marker can be dropped as soon as the repair settles the dir
        fsio.delete(spark, conv_path + SUF_OLD)
        if fsio.exists(spark, fsio.join(conv_path, "_SUCCESS")):
            res = _compact_dir(spark, conv_path, None, target_bytes,
                               force)
            fsio.delete(spark, conv_path + SUF_OLD)
            res["repair"] = state
            results[CONV_IDS] = res
    if compact_manifest:
        # same pathology, metadata edition: manifest.d gains files
        # per append forever and every append preamble re-reads all
        # of them — fold the history into one snapshot record
        man.compact_records()
    return results

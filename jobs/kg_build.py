#!/usr/bin/env python
# -*- coding: utf-8 -*-
"""spark-submit entry point for the full KG build.

Usage:
    zip -qr /tmp/ws.zip webstruct_spark
    spark-submit --py-files /tmp/ws.zip jobs/kg_build.py \
        --corpus-dir data/transcripts/sf0.001 --out /tmp/kgout

Re-running with the same --out resumes at the first stage not yet
written; --force restarts from scratch.  The --out dir is a
snapshot-logged store: its live files are those the newest
``_snapshots/snap-<N>.json`` lists (see webstruct_spark/plans/pipeline.py).
"""
from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def check_links_rc(report: dict) -> int:
    """Exit code for ``--check-links`` from its report — factored out
    so it is unit-testable without a subprocess JVM:

    * 0 — audited and fully covered.
    * 3 — coverage violated (``uncovered > 0``) OR un-auditable
      (``audited`` False: a triples/links stage is not committed, so
      coverage is unknowable).  Alert and read ``probable_cause``.

    3 is ≠ the 1/2 that tracebacks/argparse produce, so "audit found a
    problem" is always distinguishable from "audit itself crashed"."""
    if not report["audited"] or report["uncovered"]:
        return 3
    return 0


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--corpus-dir",
                   help="dir with transcripts.parquet + gazetteer.parquet"
                        " (not used with --compact)")
    p.add_argument("--out", required=True, help="output dir for KG tables")
    p.add_argument("--cores", type=int,
                   default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    p.add_argument("--force", action="store_true",
                   help="ignore committed stages and rebuild everything")
    p.add_argument("--stage-concurrency", type=int, default=4,
                   help="independent DAG stages run as this many "
                        "concurrent Spark jobs (1 = strict sequential)")
    p.add_argument("--append", action="store_true",
                   help="treat --corpus-dir as a DELTA of new "
                        "conversations appended to the existing build "
                        "at --out (per-conversation stages file-append; "
                        "links/nodes/edges recompute over the union)")
    p.add_argument("--compact", action="store_true",
                   help="maintenance mode: rewrite the append-mode "
                        "stages of the build at --out into "
                        "target-sized files (run between appends; "
                        "idempotent, crash-safe, no corpus needed)")
    p.add_argument("--compact-target-mb", type=int, default=128,
                   help="target part-file size for --compact (MiB)")
    p.add_argument("--refresh-gazetteer", action="store_true",
                   help="re-link the build at --out against "
                        "--corpus-dir's gazetteer.parquet: recomputes "
                        "ONLY links/nodes/edges from the committed "
                        "mentions/triples tables — the corpus-scale "
                        "stages are untouched (idempotent, "
                        "crash-recoverable by re-running)")
    p.add_argument("--status", action="store_true",
                   help="read-only inspection of the build at --out "
                        "from its current snapshot record: per-stage "
                        "lineage + counters, stages a build has staged "
                        "but not published, the _conv_ids side table, "
                        "the last streamed batch id (stream_batch_id); "
                        "mutates nothing")
    p.add_argument("--check-links", action="store_true",
                   help="read-only DATA audit of the build at --out: "
                        "report every triple endpoint the edges "
                        "stage's inner joins would drop; exits 3 when "
                        "endpoints are uncovered or the stages are "
                        "un-auditable, so a scheduler can alert on rc "
                        "alone; heavier than --status — two table "
                        "scans, run scheduled, not per query")
    args = p.parse_args()
    if args.append and args.force:
        p.error("--append and --force are mutually exclusive")
    if args.compact and (args.append or args.force):
        p.error("--compact is a standalone maintenance mode")
    if args.status and (args.append or args.force or args.compact):
        p.error("--status is a standalone read-only mode")
    if args.check_links and (args.append or args.force or args.compact
                             or args.status or args.refresh_gazetteer):
        p.error("--check-links is a standalone read-only mode")
    if args.refresh_gazetteer and (args.append or args.force
                                   or args.compact or args.status):
        p.error("--refresh-gazetteer is a standalone mode")
    if not (args.compact or args.status or args.check_links) \
            and not args.corpus_dir:
        p.error("--corpus-dir is required unless "
                "--compact/--status/--check-links")
    if args.compact_target_mb <= 0:
        # 0 would divide-by-zero deep inside compaction; a negative
        # value would silently coalesce every stage to ONE file
        p.error("--compact-target-mb must be a positive integer")

    from webstruct_spark.plans.pipeline import append_kg, build_kg
    from webstruct_spark.session import get_spark

    spark = get_spark("kg_build", cores=args.cores)
    try:
        if args.status:
            from webstruct_spark.plans.pipeline import kg_status

            print(json.dumps(kg_status(spark, args.out)))
            return
        if args.check_links:
            from webstruct_spark.plans.pipeline import check_kg_links

            report = check_kg_links(spark, args.out)
            print(json.dumps(report))
            # the mode exists so a SCHEDULED run can alert; an
            # rc-based monitor (cron/Airflow) never parses stdout —
            # see check_links_rc
            rc = check_links_rc(report)
            if rc:
                sys.exit(rc)
            return
        if args.compact:
            from webstruct_spark.plans.compaction import compact_kg

            res = compact_kg(spark, args.out,
                             target_bytes=args.compact_target_mb << 20)
            print(json.dumps({"out": args.out, "compact": res}))
            return
        if args.force:
            # fsio routes URI out dirs (hdfs://, s3a://, file:) through
            # the JVM Hadoop FS — a driver-local rmtree would silently
            # miss them and the build would RESUME instead of force
            from webstruct_spark.plans import fsio

            fsio.delete(spark, args.out)
        if args.refresh_gazetteer:
            from webstruct_spark.plans import fsio
            from webstruct_spark.plans.manifest import table_fingerprint
            from webstruct_spark.plans.pipeline import refresh_gazetteer

            gaz_path = fsio.join(args.corpus_dir, "gazetteer.parquet")
            paths = refresh_gazetteer(
                spark, spark.read.parquet(gaz_path),
                table_fingerprint(gaz_path, spark=spark), args.out,
            )
        elif args.append:
            paths = append_kg(spark, args.corpus_dir, args.out,
                              stage_concurrency=args.stage_concurrency)
        else:
            paths = build_kg(spark, args.corpus_dir, args.out,
                             resume=not args.force,
                             stage_concurrency=args.stage_concurrency)
        summary = {
            stage: spark.read.parquet(path).count()
            for stage, path in paths.items()
        }
        print(json.dumps({"out": args.out, "rows": summary}))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()

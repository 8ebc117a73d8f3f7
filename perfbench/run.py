#!/usr/bin/env python3
# -*- coding: utf-8 -*-
"""Benchmark entry point.  Run from the repository root:

    python3 perfbench/run.py --workload build --seed 1 --seconds 15 --trace 0

Generates (or reuses) the seed's inputs, then ``SETUP_REPS`` times starts
a local Spark session on every core and runs its first Python-worker pass
(the median is ``setup_s``), then, in the last session, warms up once and
runs the workload's closed loop for ``--seconds``, checks every operation's output and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` every span is
harvested and the metrics are the per-layer ones (spans are written to
``perfbench/_work/trace-<workload>-<seed>.jsonl``).  See README.md.
"""
from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "_work")
TMP = os.path.join(WORK, "tmp")
MIN_OPS = {"build": 3, "ingest": 3, "train_cv": 1}
SETUP_REPS = 3  # the first starts the JVM; the others restart the session
DRIVER_MEM = "3g"
PR_SET_CHILD_SUBREAPER = 36


def _children() -> dict:
    """Map of parent pid -> child pids, read from /proc."""
    children = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % pid) as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(pid))
    return children


def descendants(root: int) -> list:
    """Pids of every process below ``root``."""
    children, found, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        kids = children.get(pid, ())
        found.extend(kids)
        todo.extend(kids)
    return found


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_evt = threading.Event()

    def _sample(self) -> int:
        total = 0
        for pid in [os.getpid()] + descendants(os.getpid()):
            try:
                with open("/proc/%d/statm" % pid) as f:
                    total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
            except (OSError, IndexError, ValueError):
                continue
        return total

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            self.peak = max(self.peak, self._sample())

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return self.peak


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts, so that
    processes orphaned by the JVM (its launcher, Python worker daemons)
    are re-parented here and ``stop_jvm`` can wait for them."""
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_jvm(timeout: float = 60.0) -> None:
    """Stop the Spark gateway JVM and wait until it and every process it
    started have ended.  ``SparkSession.stop`` leaves the JVM running
    until this process exits, so without this the JVM would outlive the
    run.  The JVM exits when its stdin closes; anything still alive after
    ``timeout`` is killed."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        # not gw.close(): it joins the callback-server threads that a
        # streaming foreachBatch leaves blocked on their sockets; they end
        # when the JVM does
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + timeout
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no child left, running or not yet reaped
        if pid:
            continue
        if time.time() > deadline:
            for pid in descendants(os.getpid()):
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.05)


def _env() -> None:
    """Worker and scratch settings for this host, set before the JVM
    starts: Python workers import the package from the checkout, and
    shuffle scratch and temp files stay inside the checkout (not in
    /dev/shm or /tmp)."""
    os.makedirs(TMP, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, BENCH] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(MIN_OPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "webstruct_spark")):
        print("perfbench: webstruct_spark/ not found beside perfbench/ — run "
              "from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, BENCH]
    _env()
    # a termination signal unwinds through the finally below, which stops
    # the JVM and its workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    adopt_orphans()

    import gen
    from harvest import median
    from kernels import replay
    from spans import Tracer
    from webstruct_spark.session import get_spark
    from workloads import WORKLOADS

    data = gen.ensure_seed(WORK, args.seed)
    scratch = os.path.join(WORK, "run-%d" % os.getpid())
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    cores = os.cpu_count() or 1
    rss = RssSampler()
    if args.trace:  # its /proc scans would compete with the measured work
        rss.start()
    spark = None
    tracer = Tracer(bool(args.trace))
    wl = WORKLOADS[args.workload](tracer, data, scratch)
    try:
        setups = []
        for _ in range(SETUP_REPS):
            t0 = time.time()
            if spark is not None:
                spark.stop()
            spark = get_spark("perfbench", cores=cores, extra={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
                "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + TMP,
            })
            tracer.bind(spark)
            wl.spark = spark
            with tracer.span("setup", harvest=False):
                wl.setup()
            setups.append(time.time() - t0)
        setup_s = median(setups)
        with tracer.span("prepare", harvest=False):
            wl.prepare()
        with tracer.span("measure", harvest=False):
            wl.measure(args.seconds, MIN_OPS[args.workload])
        with tracer.span("verify", harvest=False):
            wl.verify()
        op_s = median(wl.op_s)
        turns_per_s = median([n / t for n, t in zip(wl.op_turns, wl.op_s)])
        if args.trace:
            with tracer.span("kernel", harvest=False):
                kern = replay(tracer, wl.replay_sample())
            metrics = layer_metrics(tracer, wl, kern, op_s, turns_per_s, rss)
            tracer.write(os.path.join(
                WORK, "trace-%s-%d.jsonl" % (args.workload, args.seed)))
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "op_s_p50": (op_s, "s"),
                "turns_per_s": (turns_per_s, "1/s"),
            }
    finally:
        if args.trace:
            rss.stop()
        try:
            if spark is not None:
                spark.stop()
        finally:
            stop_jvm()
            shutil.rmtree(scratch, ignore_errors=True)
    print("perfbench: %s seed=%d cores=%d ops=%d samples=%d setups=%s"
          % (args.workload, args.seed, cores, wl.attempted, len(wl.op_s),
             " ".join("%.2f" % t for t in setups)), file=sys.stderr)
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


LAYER_UNITS = {
    "kernel.extract_us_per_turn": "us",
    "kernel.featurize_us_per_turn": "us",
    "kernel.crf_fit_us_per_turn": "us",
    "kernel.crf_predict_us_per_turn": "us",
    "operators.udf_python_s": "s",
    "operators.udf_python_init_s": "s",
    "operators.udf_to_python_mb": "MB",
    "operators.udf_from_python_mb": "MB",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.task_skew": "ratio",
    "spark.core_busy": "ratio",
    "spark.jobs_status": "count",
    "spark.jobs_compact": "count",
    "spark.jobs_refresh": "count",
    "plans.status_s_p50": "s",
    "plans.driver_gap_s": "s",
    "plans.files_written": "count",
    "plans.write_amp": "ratio",
    "plans.manifest_records": "count",
    "streaming.batches_per_drop": "count",
    "streaming.add_batch_s": "s",
    "streaming.trigger_overhead_s": "s",
    "ingest.compact_s": "s",
    "ingest.refresh_s": "s",
    "trace.op_s_p50": "s",
    "trace.turns_per_s": "1/s",
    "trace.harvest_s_per_op": "s",
    "trace.spans": "count",
    "run.peak_rss_mb": "MB",
}


def layer_metrics(tracer, wl, kern, op_s, turns_per_s, rss) -> dict:
    """Per-layer metrics: the median over the measured primary-operation
    spans of each harvested number (0 where the workload does not
    exercise that layer), the kernel replays, and the traced run's own
    end-to-end numbers beside the harvest cost."""
    from harvest import median

    prim = tracer.of(wl.primary, phase="measure")
    vals = {}
    for key in LAYER_UNITS:
        vals[key] = median([s.metrics[key] for s in prim if key in s.metrics])
    vals.update(kern)
    for key, name in (("spark.jobs_status", "kg_status+check_kg_links"),
                      ("spark.jobs_compact", "compact_kg"),
                      ("spark.jobs_refresh", "refresh_gazetteer")):
        vals[key] = median([s.metrics["spark.jobs"]
                            for s in tracer.of(name, phase="measure")])
    vals["plans.status_s_p50"] = median(wl.read_s)
    vals.update(wl.extra)
    vals["trace.op_s_p50"] = op_s
    vals["trace.turns_per_s"] = turns_per_s
    vals["trace.harvest_s_per_op"] = tracer.harvest_s / max(1, wl.attempted)
    vals["trace.spans"] = float(len(tracer.spans))
    vals["run.peak_rss_mb"] = rss.peak / 1e6
    return {k: (vals[k], u) for k, u in LAYER_UNITS.items()}


if __name__ == "__main__":
    sys.exit(main())

# -*- coding: utf-8 -*-
"""Per-layer numbers read from Spark's own status stores and from the
files the program writes.  Nothing here changes what the program does.

Jobs are attributed to a span by the job-id window the span covers
(``DAGScheduler.nextJobId`` at entry and at exit), never by job group:
``concurrency.run_concurrent_jobs`` sets its own ``wsjobs-<pid>-<n>``
groups, so a group set by the caller sees only a few of a build's jobs.
SQL executions are attributed the same way, by execution id.  Stages are
read with ``statusStore().lastStageAttempt(id)``.  Python-worker time and
bytes come from the SQL status store, because ``executorCpuTime`` does
not include the CPU of Python workers.  The stores keep only the most
recent ~1000 jobs and executions, so a span is harvested at its exit.
"""
from __future__ import annotations

import os
import re
import statistics
from typing import Dict, Iterable, List, Optional, Tuple

# SQL metric name -> (harvest key, kind)
PY_METRICS = {
    "time to run Python workers": "udf_python_s",
    "time to initialize Python workers": "udf_python_init_s",
    "data sent to Python workers": "udf_to_python_mb",
    "data returned from Python workers": "udf_from_python_mb",
}
_UNIT = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1e-6, "KiB": 1024 / 1e6, "MiB": 1024 ** 2 / 1e6,
    "GiB": 1024 ** 3 / 1e6, "TiB": 1024 ** 4 / 1e6,
}
_TOTAL = re.compile(r"^\s*([0-9.]+)\s*([A-Za-z]+)")
_METRIC = re.compile(r"SQLPlanMetric\((.*),(\d+),(\w+)\)")


def parse_total(text: str) -> float:
    """The total of a formatted SQL metric value, in s or MB.  A value
    with task statistics reads ``total (min, med, max ...)\\n<total> (...)``;
    a single-task one is just ``<total>``."""
    line = text.strip().splitlines()[-1]
    m = _TOTAL.match(line)
    if not m or m.group(2) not in _UNIT:
        raise ValueError("unparsed SQL metric value %r" % text)
    return float(m.group(1)) * _UNIT[m.group(2)]


class Mark:
    """Store positions at a span's entry."""

    def __init__(self, next_job: int, next_exec: int):
        self.next_job = next_job
        self.next_exec = next_exec


class StatusStores:
    """Reads the application (job/stage) and SQL status stores of one
    SparkSession through py4j."""

    def __init__(self, spark):
        self.spark = spark
        self._jsc = spark.sparkContext._jsc.sc()
        self._gw = spark.sparkContext._gateway
        self.cores = spark.sparkContext.defaultParallelism

    def _store(self):
        return self._jsc.statusStore()

    def _sql(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def _last_exec_id(self) -> int:
        sql = self._sql()
        n = sql.executionsCount()
        if n == 0:
            return -1
        return int(sql.executionsList(n - 1, 1).head().executionId())

    def mark(self) -> Mark:
        return Mark(self.next_job_id(), self._last_exec_id() + 1)

    # -- jobs and stages ------------------------------------------------
    def _stage_ids(self, mark: Mark, end_job: int) -> Tuple[int, List[int]]:
        store = self._store()
        n_jobs = 0
        ids = set()
        for jid in range(mark.next_job, end_job):
            try:
                job = store.job(jid)
            except Exception:  # evicted from the store before harvest
                continue
            n_jobs += 1
            s = job.stageIds().mkString(",")
            ids.update(int(x) for x in s.split(",") if x)
        return n_jobs, sorted(ids)

    def _stage(self, sid: int) -> Optional[dict]:
        try:
            s = self._store().lastStageAttempt(sid)
        except Exception:  # never submitted (skipped) or evicted
            return None
        if s.status().toString() == "SKIPPED" or s.numCompleteTasks() == 0:
            return None
        launched, done = s.firstTaskLaunchedTime(), s.completionTime()
        q = self._gw.new_array(self._gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summ = self._store().taskSummary(sid, s.attemptId(), q)
        skew = 1.0
        if summ.isDefined():
            rt = summ.get().executorRunTime()
            med, top = float(rt.apply(0)), float(rt.apply(1))
            skew = top / med if med > 0 else 1.0
        return {
            "tasks": s.numCompleteTasks() + s.numFailedTasks(),
            "run_ms": s.executorRunTime(),
            "cpu_ns": s.executorCpuTime(),
            "gc_ms": s.jvmGcTime(),
            "shuffle_write_b": s.shuffleWriteBytes(),
            "spill_b": s.diskBytesSpilled(),
            "skew": skew,
            "busy": (
                (launched.get().getTime(), done.get().getTime())
                if launched.isDefined() and done.isDefined() else None
            ),
        }

    # -- SQL executions (Python UDF boundary) ----------------------------
    def _py_metrics(self, mark: Mark) -> Dict[str, float]:
        out = {k: 0.0 for k in PY_METRICS.values()}
        sql = self._sql()
        n = sql.executionsCount()
        lo = max(0, n - 1)
        # walk back from the newest execution to the span's first one
        while lo > 0 and sql.executionsList(lo, 1).head().executionId() > mark.next_exec:
            lo = max(0, lo - 32)
        for e in _iterate(sql.executionsList(lo, n - lo)):
            eid = e.executionId()
            if eid < mark.next_exec:
                continue
            wanted = {}
            for name, acc, _kind in _METRIC.findall(e.metrics().mkString("\n")):
                if name in PY_METRICS:
                    wanted[acc] = PY_METRICS[name]
            if not wanted:
                continue
            # one py4j call for the whole accumulator-id -> text map
            for entry in sql.executionMetrics(eid).mkString("\x01").split("\x01"):
                acc, _sep, text = entry.partition(" -> ")
                if acc in wanted:
                    out[wanted[acc]] += parse_total(text)
        return out

    def harvest(self, mark: Mark, t0: float, t1: float) -> Dict[str, float]:
        """Layer metrics for the span that ran from ``t0`` to ``t1``
        (epoch seconds) and began at ``mark``."""
        n_jobs, sids = self._stage_ids(mark, self.next_job_id())
        stages = [s for s in (self._stage(i) for i in sids) if s]
        wall = max(t1 - t0, 1e-9)
        run_s = sum(s["run_ms"] for s in stages) / 1e3
        heaviest = max(stages, key=lambda s: s["run_ms"], default=None)
        out = {
            "spark.jobs": float(n_jobs),
            "spark.stages": float(len(stages)),
            "spark.tasks": float(sum(s["tasks"] for s in stages)),
            "spark.executor_run_s": run_s,
            "spark.executor_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
            "spark.gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
            "spark.shuffle_write_mb": sum(s["shuffle_write_b"] for s in stages) / 1e6,
            "spark.spill_mb": sum(s["spill_b"] for s in stages) / 1e6,
            "spark.task_skew": heaviest["skew"] if heaviest else 1.0,
            "spark.core_busy": run_s / (wall * self.cores),
            "plans.driver_gap_s": wall - _covered(
                [s["busy"] for s in stages if s["busy"]], t0 * 1e3, t1 * 1e3
            ) / 1e3,
        }
        for k, v in self._py_metrics(mark).items():
            out["operators." + k] = v
        return out


def _iterate(seq) -> Iterable:
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def dir_writes(out_dir: str, since: float) -> Tuple[int, int, int]:
    """(files written since ``since``, their bytes, manifest records) of
    a KG output dir."""
    files = nbytes = 0
    for root, _dirs, names in os.walk(out_dir):
        for n in names:
            st = os.stat(os.path.join(root, n))
            if st.st_mtime >= since:
                files += 1
                nbytes += st.st_size
    man = os.path.join(out_dir, "manifest.d")
    records = len(os.listdir(man)) if os.path.isdir(man) else 0
    return files, nbytes, records


def stream_progress(query) -> Dict[str, float]:
    """Micro-batch counts and times from a finished StreamingQuery."""
    progs = [p for p in (query.recentProgress if query else [])
             if p.get("numInputRows", 0) > 0]
    add = sum(p["durationMs"].get("addBatch", 0) for p in progs) / 1e3
    trig = sum(p["durationMs"].get("triggerExecution", 0) for p in progs) / 1e3
    return {
        "streaming.batches_per_drop": float(len(progs)),
        "streaming.add_batch_s": add,
        "streaming.trigger_overhead_s": trig - add,
        "streaming.input_rows": float(sum(p["numInputRows"] for p in progs)),
    }


def median(values: List[float]) -> float:
    return statistics.median(values) if values else 0.0

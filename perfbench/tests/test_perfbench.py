# -*- coding: utf-8 -*-
"""Tests of the benchmark itself (not of the program it measures).

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""
import filecmp
import os
import shutil
import sys
import time

import pyarrow.parquet as pq
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import gen  # noqa: E402
from harvest import StatusStores, parse_total  # noqa: E402


@pytest.fixture(autouse=True)
def small_sizes(monkeypatch):
    """Shrink the generated inputs so the tests stay quick."""
    for name, value in (("BUILD_CONVS", 12), ("BASE_CONVS", 20),
                        ("N_DROPS", 3)):
        monkeypatch.setattr(gen, name, value)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, BENCH])
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp_path_factory.mktemp("local"))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    from webstruct_spark.session import get_spark

    s = get_spark("perfbench-tests", cores=2, extra={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("wh")),
    })
    yield s
    s.stop()


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = gen.ensure_seed(str(tmp_path / "a"), 7)
    b = gen.ensure_seed(str(tmp_path / "b"), 7)
    c = gen.ensure_seed(str(tmp_path / "c"), 8)

    def files(root):
        return sorted(os.path.relpath(os.path.join(d, n), root)
                      for d, _s, names in os.walk(root) for n in names)

    assert files(a) == files(b) and files(a)
    for rel in files(a):
        assert filecmp.cmp(os.path.join(a, rel), os.path.join(b, rel),
                           shallow=False), rel
    assert not filecmp.cmp(os.path.join(a, "build", "transcripts.parquet"),
                           os.path.join(c, "build", "transcripts.parquet"),
                           shallow=False)


def test_every_drop_is_accepted_by_append_kg(spark, tmp_path):
    from webstruct_spark.plans.pipeline import append_kg, build_kg

    data = gen.ensure_seed(str(tmp_path / "w"), 3)
    base = os.path.join(data, "base")
    out = str(tmp_path / "kg")
    build_kg(spark, base, out)
    for k in range(gen.N_DROPS):
        delta = tmp_path / ("delta%d" % k)
        delta.mkdir()
        shutil.copyfile(gen.drop_path(data, k), delta / "transcripts.parquet")
        shutil.copyfile(os.path.join(base, "gazetteer.parquet"),
                        delta / "gazetteer.parquet")
        append_kg(spark, str(delta), out)  # raises on a refused drop
    n_convs = spark.read.parquet(os.path.join(out, "extracted")) \
        .select("conv_id").distinct().count()
    drop_convs = {c for k in range(gen.N_DROPS) for c in pq.read_table(
        gen.drop_path(data, k), columns=["conv_id"]).column(0).to_pylist()}
    assert n_convs == gen.BASE_CONVS + len(drop_convs)


def _tracker_next_job(sc) -> int:
    """First job id the status tracker does not know: job ids are
    assigned consecutively from 0."""
    tracker, j = sc.statusTracker(), 0
    while tracker.getJobInfo(j) is not None:
        j += 1
    return j


def test_harvest_counts_every_job_of_a_concurrent_build(spark, tmp_path):
    """Job-id windows catch the jobs run_concurrent_jobs starts under its
    own job groups, which a caller-set group would miss."""
    from webstruct_spark.plans.pipeline import build_kg

    data = gen.ensure_seed(str(tmp_path / "w"), 5)
    sc = spark.sparkContext
    stores = StatusStores(spark)
    before = _tracker_next_job(sc)
    sc.setJobGroup("perfbench-caller", "caller group")
    try:
        mark, t0 = stores.mark(), time.time()
        build_kg(spark, os.path.join(data, "build"), str(tmp_path / "kg"),
                 stage_concurrency=4)
        got = stores.harvest(mark, t0, time.time())
    finally:
        sc.setJobGroup(None, None)
    delta = _tracker_next_job(sc) - before
    assert got["spark.jobs"] == delta > 0
    assert len(sc.statusTracker().getJobIdsForGroup("perfbench-caller")) < delta
    assert got["spark.stages"] > 0 and got["spark.tasks"] >= got["spark.stages"]
    assert got["operators.udf_python_s"] > 0  # the extract UDF ran


def test_parse_total_reads_spark_metric_text():
    assert parse_total("total (min, med, max (stageId: taskId))\n"
                       "5.8 MiB (1470.6 KiB, 1489.5 KiB, 1493.5 KiB "
                       "(stage 3.0: task 4))") == pytest.approx(5.8 * 1.048576)
    assert parse_total("350 ms") == pytest.approx(0.35)
    assert parse_total("total (min, med, max (stageId: taskId))\n"
                       "1.5 m (1 s, 2 s, 3 s (stage 1.0: task 2))") == 90.0

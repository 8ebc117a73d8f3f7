# -*- coding: utf-8 -*-
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The session's 48g default heap lets one long-lived test JVM grow past
# the RAM of a 15 GB host (the kernel then kills it mid-suite); the
# suite's live data is far smaller.  Subprocess JVMs inherit the cap.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    from webstruct_spark.session import get_spark

    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


def arm_fs_tripwire(monkeypatch, marker="TRIPWIRE_OUT_DIR"):
    """Arm Python-side local-FS entry points to raise on any path
    containing ``marker``.  Catches driver-local access to a path
    that, on a real deployment, only the Hadoop FS can reach.  Tests
    that must first STAGE data under the marked path call this
    directly after staging; the ``fs_tripwire`` fixture arms it
    before the test body."""

    def guard(fn):
        def wrapped(path, *a, **kw):
            if marker in str(path):
                raise AssertionError(
                    "driver-local fs call %s(%r) on a cluster-only "
                    "path" % (getattr(fn, "__name__", fn), path)
                )
            return fn(path, *a, **kw)

        return wrapped

    import builtins

    for mod, name in (
        (builtins, "open"),
        (os, "listdir"),
        (os, "makedirs"),
        (os, "replace"),
        (os, "remove"),
        (os, "rename"),
        (os.path, "exists"),
        (os.path, "isfile"),
        (os.path, "isdir"),
        (os.path, "getsize"),
        (os.path, "getmtime"),
    ):
        monkeypatch.setattr(mod, name, guard(getattr(mod, name)))
    return marker


@pytest.fixture()
def fs_tripwire(monkeypatch):
    return arm_fs_tripwire(monkeypatch)


@pytest.fixture(scope="session")
def corpus_dir():
    """sf0.001 synthetic corpus + gold tables (generated once)."""
    from webstruct_spark.sources.goldbuild import build_gold
    from webstruct_spark.sources.transcripts import ensure_corpus_for_sf

    d = ensure_corpus_for_sf(0.001)
    build_gold(d)
    return d


class SimulatedKill(BaseException):
    """Raised in place of a write point.  A BaseException, so no
    ``except Exception`` on the way up can absorb it: the operation
    stops there the way a killed process would."""


def _run_with_write_points(monkeypatch, op, kill_at):
    """Run ``op()`` with its write points counted: each
    ``DataFrameWriter.parquet`` call, each ``fsio.write_text_atomic``
    and each ``fsio.delete``.  The ``kill_at``-th one (0-based) raises
    :class:`SimulatedKill` instead of writing."""
    from pyspark.sql.readwriter import DataFrameWriter

    from webstruct_spark.plans import fsio

    seen = [0]

    def point(fn):
        def wrapped(*a, **kw):
            i = seen[0]
            seen[0] += 1
            if i == kill_at:
                raise SimulatedKill(
                    "killed at write point %d (%s)" % (i, fn.__name__)
                )
            return fn(*a, **kw)

        return wrapped

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet",
                  point(DataFrameWriter.parquet))
        for name in ("write_text_atomic", "delete"):
            m.setattr(fsio, name, point(getattr(fsio, name)))
        op()
    return seen[0]


def count_write_points(monkeypatch, op) -> int:
    """Dry run: perform ``op()`` in full and return how many write
    points it passed."""
    return _run_with_write_points(monkeypatch, op, None)


def kill_at_write_point(monkeypatch, op, i) -> None:
    """Run ``op()`` until its ``i``-th write point (0-based) and stop
    there, leaving on disk exactly what a kill at that point would."""
    with pytest.raises(SimulatedKill):
        _run_with_write_points(monkeypatch, op, i)


def kill_kg_at(monkeypatch, call, at) -> None:
    """Run ``call`` and stop it the way a killed process would: when it
    starts writing the KG stage named ``at``, at its snapshot commit
    (``at="commit"``), or in the GC after a commit it made
    (``at="gc"``)."""
    from webstruct_spark.plans import snapshots

    write, commit, gc = snapshots.write, snapshots.commit, snapshots.gc
    committed = []

    def dying_write(spark, root, df, key, value=None, dirs=None):
        if key == "stage" and value == at:
            raise SimulatedKill("killed writing %s" % value)
        return write(spark, root, df, key, value, dirs)

    def dying_commit(*a, **kw):
        if at == "commit":
            raise SimulatedKill("killed at the commit")
        rec = commit(*a, **kw)
        committed.append(rec["id"])
        return rec

    def dying_gc(spark, root, snap):
        if at == "gc" and snap["id"] in committed:
            raise SimulatedKill("killed in the GC after the commit")
        gc(spark, root, snap)

    with monkeypatch.context() as m:
        m.setattr(snapshots, "write", dying_write)
        m.setattr(snapshots, "commit", dying_commit)
        m.setattr(snapshots, "gc", dying_gc)
        with pytest.raises(SimulatedKill):
            call()


def current_snapshot(root):
    """The newest snapshot record of a local snapshot-logged root, or
    None when it has none."""
    import json

    d = os.path.join(str(root), "_snapshots")
    n = max((
        int(f[len("snap-"):-len(".json")])
        for f in (os.listdir(d) if os.path.isdir(d) else [])
        if f.startswith("snap-") and f.endswith(".json")
    ), default=None)
    if n is None:
        return None
    with open(os.path.join(d, "snap-%d.json" % n)) as f:
        return json.load(f)


def unreferenced_files(root) -> list:
    """Files under a local snapshot-logged ``root`` that its current
    snapshot does not reference (a Hadoop ``.<name>.crc`` sibling counts
    as part of its file)."""
    snap = current_snapshot(root)
    keep = {f["path"] for f in snap["files"]}
    keep |= set(snap.get("sidecars", {}).values())
    keep.add("_snapshots/snap-%d.json" % snap["id"])
    left = []
    for d, _dirs, names in os.walk(str(root)):
        for n in names:
            owner = n[1:-len(".crc")] if (
                n.startswith(".") and n.endswith(".crc")) else n
            rel = os.path.relpath(os.path.join(d, owner), str(root))
            if rel not in keep:
                left.append(os.path.relpath(os.path.join(d, n), str(root)))
    return sorted(left)

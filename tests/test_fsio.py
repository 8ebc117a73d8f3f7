# -*- coding: utf-8 -*-
"""Contract tests for the persistence layer's filesystem routing
(:mod:`webstruct_spark.plans.fsio`).

The point of fsio is that build/append/resume work when the output
lives on a CLUSTER filesystem the driver cannot `open()` — the defect
class VERDICT round 4 flagged on the ANN sidecar.  No HDFS exists in
the sandbox, so the Hadoop branch is proven two ways:

* ``file:`` URIs force every fsio call through the JVM Hadoop
  ``FileSystem`` API against local disk (route equivalence + an
  end-to-end build/resume/append);
* a *tripwire* test monkeypatches the Python-side local-FS entry
  points (``open``, ``os.listdir``, ...) to RAISE on any path naming
  the output dir — if any pipeline/manifest code still touched the
  out_dir driver-locally, the build would crash.  Spark's own JVM
  writers never pass through Python, so a green run means the only
  driver-local access left is the one fsio's scheme-less fast path
  makes deliberately.
"""
import json
import os

from webstruct_spark.plans import fsio


def test_route_equivalence_file_uri(spark, tmp_path):
    """Every fsio primitive must agree between the plain-os route and
    the Hadoop route over the same local directory."""
    d = tmp_path / "box"
    d.mkdir()
    (d / "a.txt").write_text("alpha")
    (d / "b.parquet").write_bytes(b"\x00" * 10)  # size only, not parsed
    (d / "sub").mkdir()
    plain = str(d)
    uri = "file:" + plain

    assert fsio.is_uri(uri) and not fsio.is_uri(plain)
    assert fsio.exists(spark, uri) and fsio.exists(spark, plain)
    assert not fsio.exists(spark, uri + "/nope")
    assert fsio.is_file(spark, uri + "/a.txt")
    assert not fsio.is_file(spark, uri + "/sub")
    assert sorted(fsio.listdir(spark, uri)) == sorted(
        fsio.listdir(spark, plain)
    )
    assert fsio.getsize(spark, uri + "/b.parquet") == 10
    assert fsio.read_text(spark, uri + "/a.txt") == "alpha"

    fsio.write_text_atomic(spark, uri + "/w1.json", '{"x": 1}')
    assert json.loads((d / "w1.json").read_text()) == {"x": 1}
    # no .tmp orphan left behind on success.  Hadoop's local
    # ChecksumFileSystem adds hidden `.<name>.crc` sidecars — every
    # snapshot reader filters on the .json/.parquet suffix, so they
    # are invisible there; ignore them here too.
    assert sorted(
        n for n in fsio.listdir_names(spark, plain)
        if not n.startswith(".")
    ) == ["a.txt", "b.parquet", "sub", "w1.json"]
    fsio.mkdirs(spark, uri + "/made/nested")
    assert (d / "made" / "nested").is_dir()


def test_parquet_footer_read_over_hadoop_route(spark, tmp_path):
    """parquet_num_rows on a ``file:`` URI must parse the footer via
    the seekable FSDataInputStream wrapper and agree with the local
    pyarrow read."""
    df = spark.range(1234).selectExpr("id", "id * 2 AS v")
    out = str(tmp_path / "t.parquet")
    df.coalesce(1).write.parquet(out)
    part = next(
        n for n in os.listdir(out) if n.endswith(".parquet")
    )
    local = os.path.join(out, part)
    assert fsio.parquet_num_rows(spark, local) == 1234
    assert fsio.parquet_num_rows(spark, "file:" + local) == 1234


# fs_tripwire fixture lives in conftest.py (shared with
# tests/test_compaction.py)


def test_build_resume_append_via_file_uri(
    spark, corpus_dir, tmp_path, fs_tripwire
):
    """End-to-end over a ``file:`` URI out_dir with the Python-side
    local-FS tripwire armed: build, resume (must skip every stage),
    and append must all run without one driver-local touch of the
    output — and produce tables row-identical to a scheme-less build.
    """
    from pyspark.sql import functions as F

    from webstruct_spark.plans import snapshots
    from webstruct_spark.plans.manifest import table_fingerprint
    from webstruct_spark.plans.pipeline import (
        STAGES, append_kg_frames, build_kg,
    )

    # conversation-complete split: base build on A, append B
    t = spark.read.parquet(
        os.path.join(corpus_dir, "transcripts.parquet")
    )
    convs = sorted(r[0] for r in t.select("conv_id").distinct().collect())
    half = set(convs[: len(convs) // 2])
    df_a = t.where(F.col("conv_id").isin(half))
    df_b = t.where(~F.col("conv_id").isin(half))
    corpus_a = str(tmp_path / "corpus_a")
    os.makedirs(corpus_a)
    df_a.write.parquet(os.path.join(corpus_a, "transcripts.parquet"))
    gaz_src = os.path.join(corpus_dir, "gazetteer.parquet")
    spark.read.parquet(gaz_src).write.parquet(
        os.path.join(corpus_a, "gazetteer.parquet")
    )

    plain_out = str(tmp_path / "kg_plain")
    build_kg(spark, corpus_a, plain_out)

    # the out_dir name carries the tripwire marker: ANY Python-side
    # local-FS call on it raises.  Parent dirs are created by the
    # Hadoop route (Spark's writers, fsio's mkdirs), never
    # driver-locally.
    uri_out = "file:" + str(tmp_path / ("uri_" + fs_tripwire) / "kg")

    build_kg(spark, corpus_a, uri_out)
    for stage in STAGES:
        a = spark.read.parquet(os.path.join(plain_out, stage))
        b = spark.read.parquet(uri_out + "/" + stage)
        ra = sorted(map(repr, a.collect()))
        rb = sorted(map(repr, b.collect()))
        assert ra == rb, stage

    # resume: every stage skipped, no new snapshot
    n_before = snapshots.current(spark, uri_out)["id"]
    build_kg(spark, corpus_a, uri_out)
    assert snapshots.current(spark, uri_out)["id"] == n_before

    # append corpus B through the same URI (exercises the Hadoop
    # listdir-based discovery of the new files and the conv-id side
    # table)
    gaz = spark.read.parquet(gaz_src)
    append_kg_frames(
        spark, df_b, gaz,
        gazetteer_fp=table_fingerprint(
            os.path.join(corpus_a, "gazetteer.parquet"), spark=spark
        ),
        out_dir=uri_out,
    )
    got = spark.read.parquet(uri_out + "/extracted")
    assert got.select("conv_id").distinct().count() == len(convs)


def test_manifest_commit_and_read_via_file_uri(spark, tmp_path,
                                               fs_tripwire):
    """Snapshot records round-trip over the Hadoop route, a crashed
    commit (.tmp orphan) is invisible to readers, and GC removes it
    together with the files no snapshot lists."""
    from webstruct_spark.plans import snapshots

    base = tmp_path / ("m_" + fs_tripwire)
    uri = "file:" + str(base / "kg")
    assert snapshots.current(spark, uri) is None

    files = snapshots.write(spark, uri, spark.range(7), "stage", "stage_x")
    assert sum(f["rows"] for f in files) == 7
    snap = snapshots.commit(spark, uri, None, {"files": files})
    assert snapshots.current(spark, uri) == snap

    # simulate a crash mid-commit: a .tmp orphan must be ignored, and
    # a write nothing committed is not listed
    fsio.write_text_atomic(
        spark, uri + "/_snapshots/snap-2.json.0.deadbeef.tmp", "garbage",
    )
    spark.range(3).write.parquet(uri + "/stage_y")
    assert snapshots.current(spark, uri) == snap
    snapshots.gc(spark, uri, snap)
    left = sorted(
        n for n in fsio.listdir_names(spark, uri + "/_snapshots")
        if not n.endswith(".crc")
    )
    assert left == ["snap-1.json"]
    assert not fsio.exists(spark, uri + "/stage_y")
    assert spark.read.parquet(
        *(uri + "/" + f["path"] for f in files)
    ).count() == 7


def test_write_text_atomic_refuses_clobber_both_routes(spark, tmp_path):
    """Both routes must refuse an existing target with IOError — two
    writers committing the same snapshot number (snapshots.commit) must
    not both succeed, which only holds if the loser is TOLD it lost
    (os.replace would silently overwrite the winner's record)."""
    import pytest

    p = str(tmp_path / "one.txt")
    fsio.write_text_atomic(None, p, "first")
    with pytest.raises(IOError):
        fsio.write_text_atomic(None, p, "second")
    assert fsio.read_text(None, p) == "first"
    assert not os.path.exists(p + ".tmp")  # loser's tmp cleaned up

    uri = "file:" + str(tmp_path / "two.txt")
    fsio.write_text_atomic(spark, uri, "first")
    with pytest.raises(IOError):
        fsio.write_text_atomic(spark, uri, "second")
    assert fsio.read_text(spark, uri) == "first"


def test_listdir_if_exists_tolerates_vanish(spark, tmp_path):
    """listdir_if_exists: a present dir lists, an absent one returns
    None (both routes) — the vanish-tolerant primitive kg_status uses
    to race live compactions without crashing."""
    d = str(tmp_path / "d")
    os.makedirs(d)
    with open(os.path.join(d, "a.parquet"), "wb") as fh:
        fh.write(b"x" * 7)
    assert fsio.listdir_if_exists(None, d) == [("a.parquet", 7)]
    assert fsio.listdir_if_exists(None, str(tmp_path / "gone")) is None
    uri = "file:" + d
    assert fsio.listdir_if_exists(spark, uri) == [("a.parquet", 7)]
    assert (
        fsio.listdir_if_exists(spark, "file:" + str(tmp_path / "gone"))
        is None
    )

# -*- coding: utf-8 -*-
"""Small-file compaction (:mod:`webstruct_spark.plans.compaction`):
row-identity, snapshot lineage, resume/append compatibility, crashes
settled by the next writer, and the Hadoop-route (file: URI)
deployment shape with the driver-local FS tripwire armed."""
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from tests.conftest import (
    current_snapshot,
    kill_kg_at,
    unreferenced_files,
)
from webstruct_spark.plans import snapshots
from webstruct_spark.plans.compaction import APPEND_STAGES, compact_kg
from webstruct_spark.plans.manifest import table_fingerprint
from webstruct_spark.plans.pipeline import (
    CONV_IDS, STAGES, append_kg, build_kg,
)


@pytest.fixture(scope="module")
def kg_built(spark, corpus_dir, tmp_path_factory):
    """One base-build + one append (so every append-mode stage holds
    at least two writes' part files).  Mutating tests copy the dir."""
    base = tmp_path_factory.mktemp("compact")
    t = spark.read.parquet(os.path.join(corpus_dir, "transcripts.parquet"))
    convs = sorted(r[0] for r in t.select("conv_id").distinct().collect())
    half = set(convs[: len(convs) // 2])
    # corpus_c: a DISJOINT post-compaction delta (conv_ids remapped so
    # they overlap neither half)
    df_c = t.where(F.col("conv_id").isin(set(convs[:4]))).withColumn(
        "conv_id", F.concat(F.lit("zz_"), F.col("conv_id"))
    )
    for name, df in (
        ("corpus_a", t.where(F.col("conv_id").isin(half))),
        ("corpus_b", t.where(~F.col("conv_id").isin(half))),
        ("corpus_c", df_c),
    ):
        d = base / name
        os.makedirs(str(d))
        df.write.parquet(str(d / "transcripts.parquet"))
        # byte-identical gazetteer copies: the append guard compares
        # footer fingerprints, so don't re-encode via Spark
        src = os.path.join(corpus_dir, "gazetteer.parquet")
        dst = str(d / "gazetteer.parquet")
        if os.path.isdir(src):
            shutil.copytree(src, dst)
        else:
            shutil.copy(src, dst)
    out = str(base / "kg")
    build_kg(spark, str(base / "corpus_a"), out)
    append_kg(spark, str(base / "corpus_b"), out)
    return {"out": out, "base": str(base), "corpus_dir": corpus_dir}


def _stage_rows(spark, out, stage):
    return sorted(map(repr, spark.read.parquet(out + "/" + stage).collect()))


def _copy_kg(kg_built, tmp_path):
    out = os.path.join(str(tmp_path), "kg")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    shutil.copytree(kg_built["out"], out)
    return out


def _listed(snap, stage):
    return sorted(
        f["path"] for f in snap["files"]
        if f["stage"] == stage and not f.get("building")
    )


def _on_disk(out, stage):
    return sorted(
        stage + "/" + n for n in os.listdir(os.path.join(out, stage))
        if n.endswith(".parquet")
    )


def test_compact_preserves_rows_and_lineage(spark, kg_built, tmp_path):
    out = _copy_kg(kg_built, tmp_path)
    before = {s: _stage_rows(spark, out, s) for s in STAGES}
    snap0 = current_snapshot(out)
    # the append guarantees ≥ 2 writes' files per append-mode stage
    assert all(snap0["stages"][s]["n_files"] >= 2 for s in APPEND_STAGES)

    res = compact_kg(spark, out, force=True)
    for s in APPEND_STAGES:
        assert res[s]["compacted"], s
        assert res[s]["rows"] == snap0["stages"][s]["rows_out"], s
        assert res[s]["n_files_after"] <= res[s]["n_files_before"], s
        assert _stage_rows(spark, out, s) == before[s], s
    # global stages untouched
    for s in ("links", "nodes", "edges"):
        assert _stage_rows(spark, out, s) == before[s], s
    # side table compacted too, distinct convs preserved
    assert res[CONV_IDS]["compacted"]
    n_convs = spark.read.parquet(out + "/" + CONV_IDS).distinct().count()
    assert res[CONV_IDS]["rows"] == n_convs

    # ONE snapshot commit: fresh physical lineage, unchanged source
    # identity, the stage dirs hold exactly the listed files
    snap = current_snapshot(out)
    assert snap["id"] == snap0["id"] + 1
    for s in APPEND_STAGES:
        ent = snap["stages"][s]
        assert ent["inputs"][0].startswith("compact:"), s
        assert ent["rows_out"] == snap0["stages"][s]["rows_out"], s
        assert ent["source_fp"] == snap0["stages"][s]["source_fp"], s
        assert _listed(snap, s) == _on_disk(out, s), s
    assert unreferenced_files(out) == []

    # idempotent: nothing left to do, no new commit
    res2 = compact_kg(spark, out)
    assert not any(v["compacted"] for v in res2.values())
    assert current_snapshot(out)["id"] == snap["id"]


def test_resume_and_append_after_compaction(spark, kg_built, tmp_path):
    out = _copy_kg(kg_built, tmp_path)
    compact_kg(spark, out, force=True)
    n_snap = current_snapshot(out)["id"]
    build_kg(spark, kg_built["base"] + "/corpus_a", out)
    # NOTE resume identity is the BASE corpus only for a never-
    # appended build; this one was appended, so resume must REFUSE to
    # skip (union fingerprint ≠ corpus_a's) — compaction must not have
    # weakened that guard into a false skip.
    assert current_snapshot(out)["id"] > n_snap

    # the real post-compaction contract: a further (disjoint) append
    # still works
    out2 = _copy_kg(kg_built, str(tmp_path / "again"))
    compact_kg(spark, out2, force=True)
    append_kg(spark, kg_built["base"] + "/corpus_c", out2)


def test_append_then_compact_round_trip(spark, kg_built, tmp_path):
    """compact → append → compact keeps every stage row-identical to
    the never-compacted twin."""
    out = _copy_kg(kg_built, tmp_path)
    compact_kg(spark, out, force=True)
    append_kg(spark, kg_built["base"] + "/corpus_c", out)
    compact_kg(spark, out, force=True)

    twin = _copy_kg(kg_built, str(tmp_path / "twin"))
    append_kg(spark, kg_built["base"] + "/corpus_c", twin)
    for s in STAGES:
        assert _stage_rows(spark, out, s) == _stage_rows(spark, twin, s), s


def test_non_compact_entries_repair_crashed_swap(spark, kg_built,
                                                 tmp_path, monkeypatch):
    """A compaction killed after its rewrite, before its commit, is
    invisible: the read-only paths report the store as it was (audit
    rc 0), and the next append removes the rewrite's files and appends
    normally."""
    from jobs.kg_build import check_links_rc
    from webstruct_spark.plans.pipeline import check_kg_links, kg_status

    out = _copy_kg(kg_built, tmp_path)
    snap0 = current_snapshot(out)
    kill_kg_at(monkeypatch, lambda: compact_kg(spark, out, force=True),
               "commit")
    assert unreferenced_files(out)  # the unpublished rewrite
    assert current_snapshot(out) == snap0
    st = kg_status(spark, out)
    assert all(i["committed"] for i in st["stages"].values())
    assert st["stages"]["triples"]["n_files"] == (
        snap0["stages"]["triples"]["n_files"]
    )
    rep = check_kg_links(spark, out)
    assert rep["audited"] and rep["uncovered"] == 0
    assert check_links_rc(rep) == 0

    append_kg(spark, kg_built["base"] + "/corpus_c", out)
    assert unreferenced_files(out) == []
    twin = _copy_kg(kg_built, str(tmp_path / "twin"))
    append_kg(spark, kg_built["base"] + "/corpus_c", twin)
    snap = current_snapshot(out)
    for s in STAGES:
        assert _stage_rows(spark, out, s) == _stage_rows(spark, twin, s), s
        assert snap["stages"][s]["n_files"] == len(_on_disk(out, s)), s


def test_entry_repair_does_not_launder_stale_layout(spark, kg_built,
                                                    tmp_path, corpus_dir):
    """A store the maintenance entries cannot vouch for is refused
    before anything is written, never re-stamped: stage entries of an
    older layout read as not committed, and a root without a snapshot
    (a store from before the snapshot log) is refused with a message
    naming build_kg.  build_kg rebuilds such a root, and its GC removes
    the old layout."""
    from webstruct_spark.plans.pipeline import refresh_gazetteer

    gaz_path = os.path.join(kg_built["base"], "corpus_c",
                            "gazetteer.parquet")
    gaz = spark.read.parquet(gaz_path)
    gaz_fp = table_fingerprint(gaz_path)
    calls = (
        lambda o: append_kg(spark, kg_built["base"] + "/corpus_c", o),
        lambda o: refresh_gazetteer(spark, gaz, gaz_fp, o),
        lambda o: compact_kg(spark, o),
    )

    out = _copy_kg(kg_built, tmp_path)
    snap = current_snapshot(out)
    path = os.path.join(out, "_snapshots", "snap-%d.json" % snap["id"])
    snap["stages"]["mentions"]["layout"] = "~older-layout~"
    with open(path, "w") as f:
        json.dump(snap, f)
    for call in calls:
        with pytest.raises(ValueError, match="missing stages: mentions"):
            call(out)
    assert current_snapshot(out) == snap

    # a pre-snapshot store: stage dirs and a manifest.d, no _snapshots
    old = _copy_kg(kg_built, str(tmp_path / "old"))
    shutil.rmtree(os.path.join(old, "_snapshots"))
    os.makedirs(os.path.join(old, "manifest.d"))
    with open(os.path.join(old, "manifest.d", "rec-1-mentions.json"),
              "w") as f:
        f.write("{}")
    for call in calls:
        with pytest.raises(ValueError, match="build_kg"):
            call(old)
    assert not os.path.exists(os.path.join(old, "_snapshots"))
    build_kg(spark, corpus_dir, old)
    assert not os.path.exists(os.path.join(old, "manifest.d"))
    assert unreferenced_files(old) == []


def test_refuses_row_mismatch_and_unknown_stage(spark, kg_built, tmp_path):
    """A rewrite whose footer rows disagree with the snapshot's is not
    committed: corruption is never laundered into a compacted table."""
    out = _copy_kg(kg_built, tmp_path)
    snap = current_snapshot(out)
    path = os.path.join(out, "_snapshots", "snap-%d.json" % snap["id"])
    f0 = next(f for f in snap["files"] if f["stage"] == "mentions")
    f0["rows"] += 1
    with open(path, "w") as f:
        json.dump(snap, f)
    with pytest.raises(RuntimeError, match="nothing committed"):
        compact_kg(spark, out, stages=["mentions"],
                   include_conv_ids=False, force=True)
    assert current_snapshot(out) == snap
    with pytest.raises(ValueError, match="not append-mode"):
        compact_kg(spark, out, stages=["links"])


def test_compact_via_file_uri_tripwire(spark, kg_built, tmp_path,
                                       monkeypatch):
    """The whole compaction (inspect, rewrite, commit, GC) over a
    ``file:`` URI with the driver-local FS tripwire armed — the
    HDFS/S3 deployment shape.  The KG copy is staged under the marked
    path FIRST, then the tripwire is armed, so every access after this
    line must go through fsio's Hadoop route or Spark itself."""
    from conftest import arm_fs_tripwire

    marked = tmp_path / "uri_TRIPWIRE_OUT_DIR"
    shutil.copytree(kg_built["out"], str(marked / "kg"))
    arm_fs_tripwire(monkeypatch)
    out = "file:" + str(marked / "kg")
    before = {s: _stage_rows(spark, out, s) for s in APPEND_STAGES}
    res = compact_kg(spark, out, force=True)
    for s in APPEND_STAGES:
        assert res[s]["compacted"], s
        assert _stage_rows(spark, out, s) == before[s], s
    snap = snapshots.current(spark, out)
    assert snap["stages"]["mentions"]["inputs"][0].startswith("compact:")


def test_repair_recommit_survives_second_crash(spark, kg_built, tmp_path,
                                               monkeypatch):
    """A compaction killed before its commit, and its re-run killed
    again inside the GC after its own commit: the third run settles
    both, and the snapshot's lineage matches the stage dirs."""
    stage = "mentions"
    out = _copy_kg(kg_built, tmp_path)
    rows = _stage_rows(spark, out, stage)

    def compact():
        compact_kg(spark, out, force=True)

    kill_kg_at(monkeypatch, compact, "commit")
    n_snap = current_snapshot(out)["id"]
    kill_kg_at(monkeypatch, compact, "gc")
    assert current_snapshot(out)["id"] == n_snap + 1
    assert unreferenced_files(out)
    res = compact_kg(spark, out, stages=[stage], include_conv_ids=False)
    assert not res[stage]["compacted"]
    assert unreferenced_files(out) == []
    snap = current_snapshot(out)
    assert _listed(snap, stage) == _on_disk(out, stage)
    assert _stage_rows(spark, out, stage) == rows
    assert snap["stages"][stage]["rows_out"] == len(rows)


def test_compact_preserves_delta_provenance(spark, kg_built, tmp_path):
    """A scheduled compact between a plain append and its
    at-least-once retry must not strip the snapshot's delta_fp — the
    fully-applied retry skip reads it, and losing it turns the
    documented no-op retry into the 'de-duplicate first' refusal."""
    from webstruct_spark.plans.pipeline import append_kg_frames

    out = _copy_kg(kg_built, tmp_path)
    corpus_c = os.path.join(kg_built["base"], "corpus_c")
    delta = spark.read.parquet(
        os.path.join(corpus_c, "transcripts.parquet")
    )
    gaz_path = os.path.join(corpus_c, "gazetteer.parquet")
    gaz = spark.read.parquet(gaz_path)
    gaz_fp = table_fingerprint(gaz_path)
    delta_fp = table_fingerprint(
        os.path.join(corpus_c, "transcripts.parquet")
    )

    append_kg_frames(
        spark, delta, gaz, gaz_fp, out, delta_transcripts_fp=delta_fp
    )
    compact_kg(spark, out)
    assert current_snapshot(out)["delta_fp"] == delta_fp

    # the at-least-once retry after the compact: a provable no-op
    n_before = spark.read.parquet(os.path.join(out, "extracted")).count()
    append_kg_frames(
        spark, delta, gaz, gaz_fp, out, delta_transcripts_fp=delta_fp
    )
    assert spark.read.parquet(
        os.path.join(out, "extracted")
    ).count() == n_before


def test_compact_rejects_nonpositive_target_bytes(tmp_path):
    """0 would divide by zero and a negative value would silently
    coalesce every stage to one file; both are refused before the store
    is touched (spark=None proves the ordering: any store access would
    fail differently)."""
    for bad in (0, -1):
        with pytest.raises(ValueError, match="target_bytes"):
            compact_kg(None, str(tmp_path / "kg"), target_bytes=bad)


def test_refused_compact_leaves_no_manifest_dir(spark, tmp_path):
    """compact_kg against a typo'd / never-built out_dir must refuse
    WITHOUT creating anything there (same entry-point hygiene as
    append/refresh)."""
    typo = str(tmp_path / "kg_nope")
    with pytest.raises(ValueError, match="no KG snapshot"):
        compact_kg(spark, typo)
    assert not os.path.exists(typo)


def test_noop_compact_reads_no_footers(spark, kg_built, tmp_path,
                                       monkeypatch):
    """A scheduled compact over an already-compact build must decide
    "nothing to do" from the snapshot record alone — at the design
    point (40-80k x 128 MiB files) per-file footer reads on the no-op
    path are the exact pathology the module exists to remove — and
    still report every stage's real row total."""
    from webstruct_spark.plans import fsio

    out = _copy_kg(kg_built, tmp_path)
    first = compact_kg(spark, out)
    assert any(r["compacted"] for r in first.values())
    n_convs = spark.read.parquet(out + "/" + CONV_IDS).count()

    def forbidden(*a, **k):
        raise AssertionError("footer read on the no-op compact path")

    monkeypatch.setattr(fsio, "parquet_num_rows", forbidden)
    second = compact_kg(spark, out)
    assert not any(r["compacted"] for r in second.values())
    snap = current_snapshot(out)
    for s in APPEND_STAGES:
        assert second[s]["rows"] == snap["stages"][s]["rows_out"], s
    assert second[CONV_IDS]["rows"] == n_convs

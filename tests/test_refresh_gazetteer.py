# -*- coding: utf-8 -*-
"""refresh_gazetteer: re-link an existing build against a NEW
gazetteer by recomputing only links/nodes/edges — never the corpus."""
import os
import shutil

import pytest
from pyspark.sql import functions as F


def _rows(df):
    cols = sorted(df.columns)
    return sorted(
        repr(tuple(r[c] for c in cols))
        for r in df.select(*cols).collect()
    )


def _manifest_state(out):
    """The snapshot records — unchanged by a no-op."""
    d = os.path.join(out, "_snapshots")
    return sorted(os.listdir(d)) if os.path.isdir(d) else []


def _corpus_with_gaz(spark, corpus_dir, tmp_path, name, gaz_df):
    """A corpus dir sharing corpus_dir's transcripts but carrying
    ``gaz_df`` as its gazetteer (for fresh-build twins)."""
    d = str(tmp_path / name)
    os.makedirs(d)
    os.symlink(
        os.path.join(corpus_dir, "transcripts.parquet"),
        os.path.join(d, "transcripts.parquet"),
    )
    gaz_df.write.parquet(os.path.join(d, "gazetteer.parquet"))
    return d


@pytest.fixture()
def new_gaz(spark, corpus_dir):
    """A deterministically SHRUNK gazetteer (drops every alias whose
    canonical id ends in an odd digit) — changes real link/node/edge
    rows without touching the corpus."""
    from webstruct_spark.sources.gazshrink import shrink_gazetteer

    gaz = spark.read.parquet(os.path.join(corpus_dir, "gazetteer.parquet"))
    return shrink_gazetteer(gaz)


def test_refresh_equals_fresh_build_and_skips_corpus(
        spark, corpus_dir, tmp_path, new_gaz):
    """links/nodes/edges after a refresh must equal a fresh build_kg
    over the same corpus with the new gazetteer; the corpus-scale
    stage tables and their manifest records must be byte-untouched;
    re-running the refresh (and refreshing with the now-current
    gazetteer) must be a manifest-level no-op."""
    from webstruct_spark.plans.manifest import table_fingerprint
    from webstruct_spark.plans.pipeline import (
        STAGES, build_kg, refresh_gazetteer,
    )

    out = str(tmp_path / "kg")
    build_kg(spark, corpus_dir, out)
    corpus_stage_files = {
        s: sorted(os.listdir(os.path.join(out, s)))
        for s in ("extracted", "mentions", "group_entities",
                  "groups", "triples")
    }

    gaz2_dir = _corpus_with_gaz(spark, corpus_dir, tmp_path, "c2", new_gaz)
    gaz2_path = os.path.join(gaz2_dir, "gazetteer.parquet")
    gaz2 = spark.read.parquet(gaz2_path)
    gaz2_fp = table_fingerprint(gaz2_path)

    refresh_gazetteer(spark, gaz2, gaz2_fp, out)

    fresh = build_kg(spark, gaz2_dir, str(tmp_path / "fresh"))
    for stage in ("links", "nodes", "edges"):
        got = spark.read.parquet(os.path.join(out, stage))
        want = spark.read.parquet(fresh[stage])
        assert _rows(got) == _rows(want), stage
    for s, files in corpus_stage_files.items():
        assert sorted(os.listdir(os.path.join(out, s))) == files, s

    # idempotent: a second refresh with the same gazetteer is a no-op
    state = _manifest_state(out)
    refresh_gazetteer(spark, gaz2, gaz2_fp, out)
    assert _manifest_state(out) == state


def test_refresh_changes_output(spark, corpus_dir, tmp_path, new_gaz):
    """The shrunk gazetteer must actually change the nodes table —
    guards the twin test against a vacuous fixture."""
    from webstruct_spark.plans.manifest import table_fingerprint
    from webstruct_spark.plans.pipeline import build_kg, refresh_gazetteer

    out = str(tmp_path / "kg")
    build_kg(spark, corpus_dir, out)
    before = _rows(spark.read.parquet(os.path.join(out, "nodes")))

    gaz2_dir = _corpus_with_gaz(spark, corpus_dir, tmp_path, "c2", new_gaz)
    gaz2_path = os.path.join(gaz2_dir, "gazetteer.parquet")
    refresh_gazetteer(
        spark, spark.read.parquet(gaz2_path),
        table_fingerprint(gaz2_path), out,
    )
    after = _rows(spark.read.parquet(os.path.join(out, "nodes")))
    assert before != after


def test_refresh_after_append(spark, corpus_dir, tmp_path, new_gaz):
    """Refresh over an APPENDED base (the case build_kg(resume=True)
    cannot cover: the union fingerprint matches no corpus dir) must
    equal a fresh union build with the new gazetteer."""
    from webstruct_spark.plans.manifest import table_fingerprint
    from webstruct_spark.plans.pipeline import (
        append_kg, build_kg, refresh_gazetteer,
    )

    t = spark.read.parquet(os.path.join(corpus_dir, "transcripts.parquet"))
    convs = sorted(r[0] for r in t.select("conv_id").distinct().collect())
    half = set(convs[: len(convs) // 2])
    dirs = {}
    for name, pred in (("a", F.col("conv_id").isin(half)),
                       ("b", ~F.col("conv_id").isin(half))):
        d = str(tmp_path / name)
        os.makedirs(d)
        t.where(pred).write.parquet(os.path.join(d, "transcripts.parquet"))
        shutil.copy(os.path.join(corpus_dir, "gazetteer.parquet"),
                    os.path.join(d, "gazetteer.parquet"))
        dirs[name] = d

    out = str(tmp_path / "kg")
    build_kg(spark, dirs["a"], out)
    append_kg(spark, dirs["b"], out)

    gaz2_dir = _corpus_with_gaz(spark, corpus_dir, tmp_path, "c2", new_gaz)
    gaz2_path = os.path.join(gaz2_dir, "gazetteer.parquet")
    refresh_gazetteer(
        spark, spark.read.parquet(gaz2_path),
        table_fingerprint(gaz2_path), out,
    )

    fresh = build_kg(spark, gaz2_dir, str(tmp_path / "fresh"))
    for stage in ("links", "nodes", "edges"):
        got = spark.read.parquet(os.path.join(out, stage))
        want = spark.read.parquet(fresh[stage])
        assert _rows(got) == _rows(want), stage

    # ...and the refreshed base still accepts future appends (the
    # union identity it committed is coherent)
    from webstruct_spark.plans.pipeline import kg_status

    st = kg_status(spark, out)
    assert not st["torn"]


def _gaz2(spark, corpus_dir, tmp_path, new_gaz):
    from webstruct_spark.plans.manifest import table_fingerprint

    gaz2_dir = _corpus_with_gaz(spark, corpus_dir, tmp_path, "c2", new_gaz)
    gaz2_path = os.path.join(gaz2_dir, "gazetteer.parquet")
    return gaz2_dir, spark.read.parquet(gaz2_path), table_fingerprint(
        gaz2_path
    )


def _kill_refresh(spark, out, gaz2, gaz2_fp, monkeypatch, at):
    from tests.conftest import kill_kg_at
    from webstruct_spark.plans.pipeline import refresh_gazetteer

    kill_kg_at(monkeypatch,
               lambda: refresh_gazetteer(spark, gaz2, gaz2_fp, out), at)


def test_refresh_crash_is_resumable(
        spark, corpus_dir, tmp_path, new_gaz, monkeypatch):
    """A refresh killed after writing links, before its commit, leaves
    the store as it was: kg_status reports every stage at the original
    gazetteer, and re-running the SAME refresh reaches the
    never-crashed twin."""
    from tests.conftest import unreferenced_files
    from webstruct_spark.plans.pipeline import (
        build_kg, kg_status, refresh_gazetteer,
    )

    out = str(tmp_path / "kg")
    build_kg(spark, corpus_dir, out)
    st0 = kg_status(spark, out)
    gaz2_dir, gaz2, gaz2_fp = _gaz2(spark, corpus_dir, tmp_path, new_gaz)

    _kill_refresh(spark, out, gaz2, gaz2_fp, monkeypatch, "nodes")
    assert unreferenced_files(out)  # the unpublished links files
    st = kg_status(spark, out)
    assert not st["torn"] and st["stages"] == st0["stages"]

    refresh_gazetteer(spark, gaz2, gaz2_fp, out)  # the recovery
    assert unreferenced_files(out) == []

    fresh = build_kg(spark, gaz2_dir, str(tmp_path / "fresh"))
    for stage in ("links", "nodes", "edges"):
        got = spark.read.parquet(os.path.join(out, stage))
        want = spark.read.parquet(fresh[stage])
        assert _rows(got) == _rows(want), stage


def test_refresh_repairs_mid_overwrite_crash(
        spark, corpus_dir, tmp_path, new_gaz):
    """A refresh killed in the middle of writing a global stage leaves
    part of that write in the stage dir beside the published files.
    Readers never see it, and re-running the refresh recomputes the
    global stages and removes it."""
    from tests.conftest import unreferenced_files
    from webstruct_spark.plans.pipeline import (
        build_kg, check_kg_links, kg_status, refresh_gazetteer,
    )

    out = str(tmp_path / "kg")
    build_kg(spark, corpus_dir, out)
    st0 = kg_status(spark, out)
    gaz2_dir, gaz2, gaz2_fp = _gaz2(spark, corpus_dir, tmp_path, new_gaz)

    # the part of a links write that landed before the kill
    links = os.path.join(out, "links")
    part = sorted(n for n in os.listdir(links) if n.endswith(".parquet"))[0]
    shutil.copy(os.path.join(links, part),
                os.path.join(links, "part-99999-killed.snappy.parquet"))
    assert kg_status(spark, out)["stages"] == st0["stages"]
    assert check_kg_links(spark, out)["uncovered"] == 0

    refresh_gazetteer(spark, gaz2, gaz2_fp, out)  # must not refuse
    assert unreferenced_files(out) == []

    fresh = build_kg(spark, gaz2_dir, str(tmp_path / "fresh"))
    for stage in ("links", "nodes", "edges"):
        got = spark.read.parquet(os.path.join(out, stage))
        want = spark.read.parquet(fresh[stage])
        assert _rows(got) == _rows(want), stage


def test_landed_uncommitted_overwrite_not_served_by_resume(
        spark, corpus_dir, tmp_path, new_gaz, monkeypatch):
    """A refresh that dies AFTER all its files landed but BEFORE its
    snapshot commit: an operator who recovers with
    build_kg(resume=True) instead of re-running the refresh is served
    the CONSISTENT original-gazetteer graph — the landed files are
    referenced by no snapshot, so nothing serves them, and the
    resume's GC removes them."""
    from tests.conftest import unreferenced_files
    from webstruct_spark.plans.pipeline import build_kg, kg_status

    out = str(tmp_path / "kg")
    build_kg(spark, corpus_dir, out)
    original = {
        s: _rows(spark.read.parquet(os.path.join(out, s)))
        for s in ("links", "nodes", "edges")
    }
    _gaz2_dir, gaz2, gaz2_fp = _gaz2(spark, corpus_dir, tmp_path, new_gaz)
    _kill_refresh(spark, out, gaz2, gaz2_fp, monkeypatch, "commit")
    assert unreferenced_files(out)  # every refreshed file landed

    # the WRONG (but plausible) recovery: plain resume over the
    # original corpus — nothing to rebuild, and never the gaz2 bytes
    build_kg(spark, corpus_dir, out, resume=True)

    st = kg_status(spark, out)
    assert all(i["committed"] for i in st["stages"].values())
    assert unreferenced_files(out) == []
    for stage in ("links", "nodes", "edges"):
        got = _rows(spark.read.parquet(os.path.join(out, stage)))
        assert got == original[stage], stage


def test_shrink_twin_parity_on_malformed_ids(spark):
    """Spark filter vs Python twin on adversarial canonical ids:
    non-digit tails, the EMPTY string, non-ASCII digits ('²' '٤') —
    both sides must DROP them (try_cast NULL / guarded twin), never
    raise.  Pins the ANSI-mode behavior: a plain cast would throw
    under Spark 4's default ANSI instead of NULLing."""
    from webstruct_spark.sources.gazshrink import keep_alias, shrink_gazetteer

    ids = ["c0", "c1", "c2", "cX", "", "c²", "c٤", "6", "x8"]
    df = spark.createDataFrame(
        [(i, "a%d" % n) for n, i in enumerate(ids)],
        "canonical_id string, alias string",
    )
    kept_spark = sorted(
        r["canonical_id"] for r in shrink_gazetteer(df).collect()
    )
    kept_twin = sorted(i for i in ids if keep_alias(i))
    assert kept_spark == kept_twin == ["6", "c0", "c2", "x8"]

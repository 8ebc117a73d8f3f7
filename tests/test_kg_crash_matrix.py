# -*- coding: utf-8 -*-
"""KG store crash matrix: every writer of the store (a fresh build, a
rebuild over a live store, a plain append, a streamed micro-batch, a
gazetteer refresh, a compaction) is killed at each of its write points
(conftest's count_write_points / kill_at_write_point).  After every
kill the readers — kg_status, check_kg_links and a snapshot read of
every stage — answer exactly as the never-crashed twin did before the
operation or after it; re-running the same call then reaches the
twin's after-state, leaves no file the current snapshot does not
reference, and each stage dir read as plain parquet holds exactly the
stage's listed files."""
import os
import shutil

import pandas as pd
import pyarrow.dataset as pads
import pytest
from pyspark.sql import functions as F

from tests.conftest import (
    count_write_points,
    current_snapshot,
    kill_at_write_point,
    unreferenced_files,
)
from webstruct_spark.plans.compaction import compact_kg
from webstruct_spark.plans.manifest import table_fingerprint
from webstruct_spark.plans.pipeline import (
    STAGES,
    append_kg,
    append_kg_frames,
    build_kg,
    check_kg_links,
    kg_status,
    refresh_gazetteer,
)


@pytest.fixture(scope="module")
def corpora(spark, corpus_dir, tmp_path_factory):
    """Corpus dirs: ``a`` (two conversations), ``b`` (a third), ``a2``
    (a's transcripts with a shrunk gazetteer); and the live stores the
    operations start from: ``built`` (a) and ``appended`` (a, then b)."""
    from webstruct_spark.sources.gazshrink import shrink_gazetteer

    root = tmp_path_factory.mktemp("kg_matrix")
    t = spark.read.parquet(os.path.join(corpus_dir, "transcripts.parquet"))
    convs = sorted(r[0] for r in t.select("conv_id").distinct().collect())
    gaz = os.path.join(corpus_dir, "gazetteer.parquet")
    out = {}
    for name, ids in (("a", convs[:2]), ("b", convs[2:3])):
        d = out[name] = str(root / name)
        os.makedirs(d)
        t.where(F.col("conv_id").isin(ids)).repartition(1).write.parquet(
            os.path.join(d, "transcripts.parquet")
        )
        (shutil.copytree if os.path.isdir(gaz) else shutil.copy)(
            gaz, os.path.join(d, "gazetteer.parquet")
        )
    a2 = out["a2"] = str(root / "a2")
    shutil.copytree(out["a"], a2)
    shutil.rmtree(os.path.join(a2, "gazetteer.parquet"), ignore_errors=True)
    if os.path.exists(os.path.join(a2, "gazetteer.parquet")):
        os.remove(os.path.join(a2, "gazetteer.parquet"))
    shrink_gazetteer(spark.read.parquet(gaz)).repartition(1).write.parquet(
        os.path.join(a2, "gazetteer.parquet")
    )
    out["built"] = str(root / "built")
    build_kg(spark, out["a"], out["built"])
    out["appended"] = str(root / "appended")
    shutil.copytree(out["built"], out["appended"])
    append_kg(spark, out["b"], out["appended"])
    return out


def _operation(spark, c, name):
    """(the store it starts from or None, the call on a store dir)."""
    def gaz(d):
        path = os.path.join(c[d], "gazetteer.parquet")
        return spark.read.parquet(path), table_fingerprint(path)

    def stream(p):
        df, fp = gaz("b")
        append_kg_frames(
            spark,
            spark.read.parquet(os.path.join(c["b"], "transcripts.parquet")),
            df, fp, p, stage_concurrency=1, batch_id=0,
        )

    return {
        "build": (None, lambda p: build_kg(
            spark, c["a"], p, stage_concurrency=1)),
        "rebuild": ("built", lambda p: build_kg(
            spark, c["a2"], p, stage_concurrency=1)),
        "append": ("built", lambda p: append_kg(
            spark, c["b"], p, stage_concurrency=1)),
        "stream": ("built", stream),
        "refresh": ("built", lambda p: refresh_gazetteer(
            spark, *gaz("a2"), p)),
        "compact": ("appended", lambda p: compact_kg(spark, p, force=True)),
    }[name]


def _listed(snap, stage):
    return sorted(
        f["path"] for f in (snap or {"files": []})["files"]
        if f["stage"] == stage and not f.get("building")
    )


def _stage_hash(p, paths):
    """(rows, order-free hash) of the rows of ``paths``."""
    if not paths:
        return None
    df = pads.dataset(
        [os.path.join(p, x) for x in paths], format="parquet"
    ).to_table().to_pandas()
    df = df[sorted(df.columns)].astype(str)
    return len(df), int(pd.util.hash_pandas_object(df, index=False).sum())


def _observe(spark, p):
    """What the readers answer: kg_status per stage, the link audit,
    and every stage read through the snapshot."""
    st = kg_status(spark, p)
    snap = current_snapshot(p)
    status = {
        s: (i["committed"], i.get("rows_out"),
            snap["stages"][s]["source_fp"] if i["committed"] else None)
        for s, i in st["stages"].items()
    }
    links = check_kg_links(spark, p)
    return (
        status, st["stream_batch_id"], st["torn"], st["pending_intents"],
        (links["audited"], links["uncovered"]),
        {s: _stage_hash(p, _listed(snap, s)) for s in STAGES},
    )


@pytest.mark.parametrize(
    "name", ["build", "rebuild", "append", "stream", "refresh", "compact"]
)
def test_kg_crash_matrix(spark, corpora, tmp_path, monkeypatch, name):
    base, op = _operation(spark, corpora, name)

    def fresh(tag):
        p = str(tmp_path / tag)
        if base is not None:
            shutil.copytree(corpora[base], p)
        return p

    twin = fresh("twin")
    before = _observe(spark, twin)
    n = count_write_points(monkeypatch, lambda: op(twin))
    after = _observe(spark, twin)
    assert n >= 2
    if name != "compact":  # compaction keeps every answer
        assert after != before
    for i in range(n):
        p = fresh("kill%d" % i)
        kill_at_write_point(monkeypatch, lambda: op(p), i)
        assert _observe(spark, p) in (before, after), i
        snap = current_snapshot(p)
        staged = {
            f["path"] for f in (snap or {"files": []})["files"]
            if f.get("building")
        }
        op(p)
        assert _observe(spark, p) == after, i
        assert unreferenced_files(p) == [], i
        snap = current_snapshot(p)
        assert snap["building"] == {}, i
        # stages staged before the kill were not rewritten
        assert staged <= {f["path"] for f in snap["files"]}, i
        for s in STAGES:
            on_disk = sorted(
                s + "/" + x for x in os.listdir(os.path.join(p, s))
                if x.endswith(".parquet")
            )
            assert on_disk == _listed(snap, s), (i, s)

# -*- coding: utf-8 -*-
"""ANN index maintenance over its snapshot log: compaction of the part
files appends leave behind, and a crash matrix that kills every
maintenance operation at each of its write points — readers must see
exactly the index before the operation or exactly the one after it."""
import shutil
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import (
    arm_fs_tripwire,
    count_write_points,
    kill_at_write_point,
    unreferenced_files,
)
from webstruct_spark.operators.similarity import (
    ann_index_cell_skew,
    ann_index_topk,
    append_to_ann_index,
    compact_ann_index,
    lsh_topk,
    read_ann_meta,
    rebuild_ann_index,
    write_ann_index,
)
from webstruct_spark.plans import fsio, snapshots


def _embeddings(spark, n=400, dim=16):
    rng = np.random.RandomState(3)
    rows = [
        (int(i), [float(x) for x in rng.randn(dim)]) for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _queries(emb, every=37):
    rows = emb.where(F.col("vec_id") % every == 0).collect()
    return [(int(r["vec_id"]), list(r["embedding"])) for r in rows]


def _as_set(df):
    return {
        (r["query_id"], r["rank"], r["neighbor_id"], r["sim"])
        for r in df.collect()
    }


def _fragmented_index(spark, tmp_path, kind="lsh", name="idx"):
    """Build over a third of the corpus, then two appended batches —
    the bucket dirs end up holding several part-file generations."""
    emb = _embeddings(spark)
    path = str(tmp_path / name)
    kw = {"n_planes": 6} if kind == "lsh" else {"n_centroids": 8}
    write_ann_index(emb.where(F.col("vec_id") < 150), path, kind=kind, **kw)
    append_to_ann_index(
        emb.where((F.col("vec_id") >= 150) & (F.col("vec_id") < 300)), path
    )
    append_to_ann_index(emb.where(F.col("vec_id") >= 300), path)
    return emb, path


def test_compact_reduces_files_probe_identical(spark, tmp_path):
    emb, path = _fragmented_index(spark, tmp_path)
    qs = _queries(emb)
    before = _as_set(ann_index_topk(spark, path, qs, k=5, multiprobe=1))
    out = compact_ann_index(spark, path)
    assert out["buckets_compacted"] > 0
    assert out["n_files_after"] < out["n_files_before"]
    # every rewritten bucket was footer-verified row-exact
    assert out["rows_verified"] > 0
    after = _as_set(ann_index_topk(spark, path, qs, k=5, multiprobe=1))
    assert after == before
    # idempotent: a second scheduled compact is a pure-listing no-op
    again = compact_ann_index(spark, path)
    assert again["buckets_compacted"] == 0
    assert again["n_files_after"] == out["n_files_after"]


def test_compact_ivf_sidecars_untouched(spark, tmp_path):
    emb, path = _fragmented_index(spark, tmp_path, kind="ivf", name="ivf")
    qs = _queries(emb)
    before = _as_set(ann_index_topk(spark, path, qs, k=5, n_probe=3))
    sidecars = snapshots.current(spark, path)["sidecars"]
    out = compact_ann_index(spark, path)
    assert out["buckets_compacted"] > 0
    assert snapshots.current(spark, path)["sidecars"] == sidecars
    assert (tmp_path / "ivf" / sidecars["centroids"]).is_file()
    after = _as_set(ann_index_topk(spark, path, qs, k=5, n_probe=3))
    assert after == before


def test_crashed_tmp_invisible_to_probes(spark, tmp_path):
    """Files no snapshot lists — a crashed write's extra part file in
    a live bucket dir, and the swap dirs of the pre-snapshot compaction
    protocol — are never read by probes, and the next commit's GC
    removes them."""
    emb = _embeddings(spark)
    qs = _queries(emb)
    path = str(tmp_path / "dirty")
    write_ann_index(emb, path, kind="lsh", n_planes=6)
    want = _as_set(ann_index_topk(spark, path, qs, k=5, multiprobe=1))
    root = tmp_path / "dirty"
    b = sorted(
        d.name for d in root.iterdir() if d.name.startswith("bucket=")
    )[0]
    part = sorted((root / b).glob("*.parquet"))[0]
    shutil.copy(part, root / b / ("part-99999-stray" + part.name[10:]))
    shutil.copytree(root / b, root / ("_compact_tmp_b" + b[len("bucket="):]))
    got = _as_set(ann_index_topk(spark, path, qs, k=5, multiprobe=1))
    assert got == want
    rebuild_ann_index(spark, path)  # any commit; same-shape rebuild
    assert unreferenced_files(root) == []
    got = _as_set(ann_index_topk(spark, path, qs, k=5, multiprobe=1))
    assert got == want


def test_compact_uri_route(spark, tmp_path, monkeypatch):
    """Build + append + compact + probe over a file: URI with the
    driver-local-FS tripwire armed: the whole maintenance cycle works
    against an index the driver cannot open() (the HDFS/S3 shape)."""
    emb = _embeddings(spark)
    qs = _queries(emb)
    marker = "TRIPWIRE_OUT_DIR"
    path = "file:" + str(tmp_path / ("uri_" + marker) / "idx")
    arm_fs_tripwire(monkeypatch, marker)
    write_ann_index(emb.where(F.col("vec_id") < 300), path, kind="lsh",
                    n_planes=6)
    append_to_ann_index(emb.where(F.col("vec_id") >= 300), path)
    before = _as_set(ann_index_topk(spark, path, qs, k=5, multiprobe=1))
    out = compact_ann_index(spark, path)
    assert out["buckets_compacted"] > 0
    after = _as_set(ann_index_topk(spark, path, qs, k=5, multiprobe=1))
    assert after == before


def test_compact_rejects_nonpositive_target_bytes(tmp_path):
    """0 would divide by zero mid-maintenance and a negative value
    would silently coalesce every bucket to one file; both must be
    refused BEFORE repair touches anything (no SparkSession needed:
    the guard fires first, so spark=None proves the ordering too)."""
    import pytest

    for bad in (0, -1):
        with pytest.raises(ValueError, match="target_bytes"):
            compact_ann_index(None, str(tmp_path / "idx"),
                              target_bytes=bad)


def test_rebuild_settles_crashed_append_then_crashed_compact(
    spark, tmp_path, monkeypatch
):
    """A rebuild reads its input from the snapshot's file list, so
    neither a crashed append's part files nor a crashed compaction's
    rewrite of a bucket — both sitting in the bucket dirs a directory
    listing would read — reach the rebuilt index."""
    emb = _embeddings(spark, n=160, dim=8)
    base = emb.where(F.col("vec_id") < 100)
    path = str(tmp_path / "idx")
    write_ann_index(base, path, kind="lsh", n_planes=3)
    # append killed at its commit (its part files are written)
    kill_at_write_point(
        monkeypatch,
        lambda: append_to_ann_index(emb.where(F.col("vec_id") >= 100), path),
        1,
    )
    # compaction killed after rewriting its first bucket
    kill_at_write_point(
        monkeypatch, lambda: compact_ann_index(spark, path, force=True), 1
    )
    rebuild_ann_index(spark, path, n_planes=4)
    stored = spark.read.parquet(
        *(str(tmp_path / "idx" / f["path"])
          for f in snapshots.current(spark, path)["files"])
    )
    assert stored.count() == 100
    assert {r["vec_id"] for r in stored.select("vec_id").collect()} == {
        r["vec_id"] for r in base.select("vec_id").collect()
    }
    assert unreferenced_files(tmp_path / "idx") == []
    qs = _queries(base, every=23)
    got = _as_set(ann_index_topk(spark, path, qs, k=5, multiprobe=1))
    want = _as_set(lsh_topk(base, qs, k=5, n_planes=4, multiprobe=1))
    assert got == want


def test_rebuild_refuses_kind_param_mismatch(spark, tmp_path):
    """A quantizer parameter that does not match the RESOLVED kind
    must raise, not be silently dropped: rebuild(..., n_centroids=32)
    on an LSH index is a caller who meant to migrate to IVF but
    forgot kind='ivf' — handing back a same-shape LSH rebuild leaves
    their skew problem in place with no warning."""
    import pytest

    from webstruct_spark.operators.similarity import rebuild_ann_index

    emb = _embeddings(spark, n=120)
    lsh = str(tmp_path / "mm_lsh")
    write_ann_index(emb, lsh, kind="lsh", n_planes=6)
    with pytest.raises(ValueError, match="kind='lsh'.*n_centroids"):
        rebuild_ann_index(spark, lsh, n_centroids=32)
    with pytest.raises(ValueError, match="kind='lsh'.*centroids"):
        rebuild_ann_index(
            spark, lsh, centroids=np.zeros((4, 16), dtype=np.float32)
        )
    ivf = str(tmp_path / "mm_ivf")
    write_ann_index(emb, ivf, kind="ivf", n_centroids=8)
    with pytest.raises(ValueError, match="kind='ivf'.*n_planes"):
        rebuild_ann_index(spark, ivf, n_planes=8)
    # the explicit-migration spellings still work
    meta = rebuild_ann_index(spark, lsh, kind="ivf", n_centroids=4)
    assert meta["kind"] == "ivf" and meta["n_centroids"] == 4


def test_root_without_snapshot_refused_then_migrated(spark, tmp_path):
    """A root without ``_snapshots/`` — here the layout of an index
    written before the snapshot log — is refused by probe, append and
    compact with a message naming write_ann_index.  write_ann_index
    over it commits a snapshot, and its GC removes the old files."""
    emb = _embeddings(spark, n=120)
    path = str(tmp_path / "old")
    root = tmp_path / "old"
    emb.select(
        "vec_id", F.col("embedding").alias("vec"),
        (F.col("vec_id") % 4).alias("bucket"),
    ).write.partitionBy("bucket").parquet(path)
    spark.createDataFrame(
        [("lsh", 2, None, 16)],
        "kind string, n_planes int, n_centroids int, dim int",
    ).write.parquet(path + "/_ann_meta.parquet")
    qs = _queries(emb)
    for call in (
        lambda: ann_index_topk(spark, path, qs),
        lambda: append_to_ann_index(emb, path),
        lambda: compact_ann_index(spark, path),
    ):
        with pytest.raises(ValueError, match="write_ann_index"):
            call()
    write_ann_index(emb, path, kind="lsh", n_planes=4)
    assert not (root / "_ann_meta.parquet").exists()
    assert unreferenced_files(root) == []
    got = _as_set(ann_index_topk(spark, path, qs, k=5, multiprobe=1))
    want = _as_set(lsh_topk(emb, qs, k=5, n_planes=4, multiprobe=1))
    assert got == want


def test_second_commit_of_a_snapshot_number_raises(spark, tmp_path):
    """Commits are create-if-absent: a writer that read a stale parent
    loses with IOError, and the current snapshot stays readable and
    unchanged."""
    emb = _embeddings(spark, n=60, dim=8)
    path = str(tmp_path / "idx")
    meta = write_ann_index(emb, path, kind="lsh", n_planes=2)
    root = fsio.qualify(spark, path)
    snap = snapshots.current(spark, root)
    with pytest.raises(IOError):
        snapshots.commit(spark, root, None, {"files": [], "sidecars": {}})
    assert snapshots.current(spark, root) == snap
    assert read_ann_meta(spark, path) == meta
    # the loser's temporary record is gone too
    left = sorted(p.name for p in (tmp_path / "idx" / "_snapshots").iterdir())
    assert left == [".snap-1.json.crc", "snap-1.json"]


# -- crash matrix -------------------------------------------------------------


def _answers(spark, path, qs):
    """What the three readers return: (meta, skew, probe rows), or
    "refused" for a root without a snapshot."""
    try:
        meta = read_ann_meta(spark, path)
    except ValueError as exc:
        assert "write_ann_index" in str(exc)
        return "refused"
    probe = ann_index_topk(spark, path, qs, k=5, multiprobe=1, n_probe=2)
    return meta, ann_index_cell_skew(spark, path), _as_set(probe)


@pytest.mark.parametrize(
    "name", ["build", "append", "rebuild", "write_over_live", "compact"]
)
def test_crash_matrix(spark, tmp_path, monkeypatch, name):
    """Kill the operation at each of its write points (conftest's
    count_write_points / kill_at_write_point).  After every kill the
    readers answer exactly as the never-crashed twin did before the
    operation or after it; a re-run then matches the twin's after
    state, and leaves no file that a retained snapshot does not list."""
    emb = _embeddings(spark, n=160, dim=8)
    qs = _queries(emb, every=23)
    a = emb.where(F.col("vec_id") < 100)
    b = emb.where(F.col("vec_id") >= 100)

    def build_a(p):
        write_ann_index(a, p, kind="lsh", n_planes=3)

    def build_a_append(p):
        # two snapshots, so the operation's GC expires the first
        build_a(p)
        append_to_ann_index(b.where(F.col("vec_id") < 130), p)

    base, op, rerun = {
        "build": (
            None, lambda p: write_ann_index(a, p, kind="ivf", n_centroids=4),
            None,
        ),
        # the retry of an append that may have committed skips ids the
        # index already holds
        "append": (
            build_a, lambda p: append_to_ann_index(b, p),
            lambda p: append_to_ann_index(b, p, skip_existing_ids=True),
        ),
        "rebuild": (
            build_a_append, lambda p: rebuild_ann_index(spark, p, n_planes=4),
            None,
        ),
        "write_over_live": (
            build_a_append,
            lambda p: write_ann_index(emb, p, kind="lsh", n_planes=3), None,
        ),
        # a write wider than the bucket count leaves several files per
        # bucket for the compaction to merge
        "compact": (
            lambda p: write_ann_index(emb, p, kind="lsh", n_planes=2),
            lambda p: compact_ann_index(spark, p), None,
        ),
    }[name]
    rerun = rerun or op

    def fresh(tag):
        p = tmp_path / tag
        if base is not None:
            shutil.copytree(tmp_path / "base", p)
        return str(p)

    if base is not None:
        base(str(tmp_path / "base"))
        before = _answers(spark, str(tmp_path / "base"), qs)
    else:
        before = "refused"
    twin = fresh("twin")
    n = count_write_points(monkeypatch, lambda: op(twin))
    after = _answers(spark, twin, qs)
    assert n >= 2
    if name != "compact":  # compaction keeps every answer
        assert after != before
    for i in range(n):
        p = fresh("kill%d" % i)
        kill_at_write_point(monkeypatch, lambda: op(p), i)
        assert _answers(spark, p, qs) in (before, after), i
        rerun(p)
        assert _answers(spark, p, qs) == after, i
        assert unreferenced_files(Path(p)) == [], i

# -*- coding: utf-8 -*-
"""Bucket-partitioned ANN index: probe results equal the in-flight
LSH/IVF variants, and the probe scans only the probed buckets' files."""
import numpy as np
from pyspark.sql import functions as F

from webstruct_spark.operators.similarity import (
    ann_index_topk,
    ivf_topk,
    lsh_topk,
    write_ann_index,
)


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


def test_lsh_index_equals_inflight(spark, tmp_path):
    emb = _embeddings(spark)
    qs = _queries(emb)
    path = str(tmp_path / "lsh_idx")
    write_ann_index(emb, path, kind="lsh", n_planes=6)
    got = ann_index_topk(spark, path, qs, k=5, multiprobe=1)
    want = lsh_topk(emb, qs, k=5, n_planes=6, multiprobe=1)
    assert _as_set(got) == _as_set(want)


def test_ivf_index_equals_inflight(spark, tmp_path):
    emb = _embeddings(spark)
    qs = _queries(emb)
    path = str(tmp_path / "ivf_idx")
    write_ann_index(emb, path, kind="ivf", n_centroids=8)
    got = ann_index_topk(spark, path, qs, k=5, n_probe=3)
    # in-flight variant with the same centroids (reread from the index)
    cent = (
        spark.read.parquet(path + "/_ann_centroids.parquet")
        .orderBy("cell")
        .collect()
    )
    centroids = np.array(
        [list(r["centroid"]) for r in cent], dtype=np.float32
    )
    want = ivf_topk(emb, qs, k=5, n_probe=3, centroids=centroids)
    assert _as_set(got) == _as_set(want)


def test_probe_reads_only_probed_partitions(spark, tmp_path):
    """The 100-TB property, on what ann_index_topk actually scans: no
    file outside the probed buckets is opened, and fewer buckets are
    read than the index holds."""
    emb = _embeddings(spark)
    qs = _queries(emb, every=97)  # few queries -> few probed buckets
    path = str(tmp_path / "lsh_idx2")
    write_ann_index(emb, path, kind="lsh", n_planes=6)

    # reproduce the probe set (bucket dirs the query is allowed to read)
    from webstruct_spark.operators.similarity import (
        _bucket_of,
        _normalize_rows,
        _planes,
    )
    from itertools import combinations

    from webstruct_spark.plans import snapshots

    planes = _planes(6, 16)
    q_mat = _normalize_rows(
        np.array([q[1] for q in qs], dtype=np.float32)
    )
    allowed = set()
    for b in _bucket_of(q_mat, planes):
        allowed.add(int(b))
        for r in range(1, 2):
            for bits in combinations(range(6), r):
                m = 0
                for bb in bits:
                    m |= 1 << bb
                allowed.add(int(b) ^ m)

    n_total_buckets = len(
        {f["bucket"] for f in snapshots.current(spark, path)["files"]}
    )
    files = ann_index_topk(spark, path, qs, k=5, multiprobe=1).inputFiles()
    assert files
    # every scanned file lives under an allowed bucket directory
    read_buckets = set()
    for f in files:
        assert "/bucket=" in f
        b = int(f.split("/bucket=")[1].split("/")[0])
        assert b in allowed, f
        read_buckets.add(b)
    # and pruning is real: fewer bucket dirs read than exist
    assert len(read_buckets) < n_total_buckets


def test_probe_starts_no_job(spark, tmp_path):
    """Constructing a probe reads the index files with the schema from
    a footer: no schema-inference Spark job starts.  (The probe reads
    few files: past 32, spark.sql.sources.parallelPartitionDiscovery.
    threshold, Spark lists them in a job of its own.)"""
    emb = _embeddings(spark)
    qs = _queries(emb, every=97)
    path = str(tmp_path / "lsh_idx3")
    write_ann_index(emb, path, kind="lsh", n_planes=6)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    job = int(dag.nextJobId())
    ann_index_topk(spark, path, qs, k=5, multiprobe=0)
    assert int(dag.nextJobId()) == job


def test_probe_of_empty_buckets_returns_no_rows(spark, tmp_path):
    """A probe whose buckets hold no file of the snapshot scans nothing
    and answers with no rows."""
    from webstruct_spark.operators.similarity import (
        _bucket_of,
        _normalize_rows,
        _planes,
    )

    emb = _embeddings(spark, n=4)
    path = str(tmp_path / "sparse_idx")
    write_ann_index(emb, path, kind="lsh", n_planes=8)
    vecs = np.array([r["embedding"] for r in emb.collect()], np.float32)
    q = -vecs[0]
    planes = _planes(8, 16)
    held = set(_bucket_of(_normalize_rows(vecs), planes).tolist())
    assert int(_bucket_of(_normalize_rows(q[None]), planes)[0]) not in held
    got = ann_index_topk(spark, path, [(99, q.tolist())], k=5, multiprobe=0)
    assert got.collect() == []


def test_index_io_never_opens_driver_local(spark, tmp_path, monkeypatch):
    """Filesystem-agnostic contract: build + probe touch the index
    path ONLY through Spark (JVM Hadoop FS) — never a driver-local
    ``open()``.  Monkeypatches builtins.open to explode on any path
    under the index dir; worker processes are separate, so only
    driver-side opens can trip it."""
    import builtins

    emb = _embeddings(spark)
    qs = _queries(emb)
    path = str(tmp_path / "nofs_idx")
    real_open = builtins.open

    def guarded(file, *a, **kw):
        if isinstance(file, (str, bytes)) and str(file).startswith(path):
            raise AssertionError(
                "driver-local open() of index path: %r" % (file,)
            )
        return real_open(file, *a, **kw)

    monkeypatch.setattr(builtins, "open", guarded)
    meta = write_ann_index(emb, path, kind="ivf", n_centroids=8)
    assert meta["kind"] == "ivf"
    got = ann_index_topk(spark, path, qs, k=5, n_probe=3)
    assert got.count() > 0
    from webstruct_spark.operators.similarity import read_ann_meta

    assert read_ann_meta(spark, path) == meta


# -- recall floors vs brute force (gated settings of the driver
# queries: lsh n_planes=8/multiprobe=1, ivf n_centroids=16/n_probe=4).
# Corpus + planes + centroids are all deterministic, so these recalls
# are exact reproducible numbers, floored just beneath.
#
# FINDING (kept honest, not relaxed): hyperplane LSH recall@5 is only
# ~0.31 here because the gaussian test corpus has NO cluster
# structure — the worst case for LSH: true top-5 cosines sit around
# 0.6-0.8, i.e. 2-3 of 8 sign bits differ, while multiprobe=1 only
# reaches Hamming distance 1 (9 of 256 buckets ≈ 3.5% of the
# corpus scanned).  IVF at n_probe=4/16 (25% of cells) reaches ~0.74
# on the same corpus.  Raising multiprobe/n_probe trades scan
# fraction for recall; the floors pin the gated operating point.


def _recall_vs_brute(emb, qs, approx_df, k=5):
    from webstruct_spark.operators.similarity import brute_force_topk

    def tops(df):
        d = {}
        for r in df.collect():
            d.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return d

    bf = tops(brute_force_topk(emb, qs, k=k))
    got = tops(approx_df)
    num = sum(len(got.get(q, set()) & bf[q]) for q in bf)
    den = sum(len(bf[q]) for q in bf)
    return num / den


def test_recall_floor_lsh_topk(spark):
    emb = _embeddings(spark)
    qs = _queries(emb)
    r = _recall_vs_brute(
        emb, qs, lsh_topk(emb, qs, k=5, n_planes=8, multiprobe=1)
    )
    assert r >= 0.30, r


def test_recall_floor_ivf_topk(spark):
    emb = _embeddings(spark)
    qs = _queries(emb)
    r = _recall_vs_brute(
        emb, qs, ivf_topk(emb, qs, k=5, n_centroids=16, n_probe=4)
    )
    assert r >= 0.70, r


def test_recall_floor_ann_index_lsh(spark, tmp_path):
    emb = _embeddings(spark)
    qs = _queries(emb)
    path = str(tmp_path / "rl_idx")
    write_ann_index(emb, path, kind="lsh", n_planes=8)
    r = _recall_vs_brute(
        emb, qs, ann_index_topk(spark, path, qs, k=5, multiprobe=1)
    )
    assert r >= 0.30, r


def test_recall_floor_ann_index_ivf(spark, tmp_path):
    emb = _embeddings(spark)
    qs = _queries(emb)
    path = str(tmp_path / "rv_idx")
    write_ann_index(emb, path, kind="ivf", n_centroids=16)
    r = _recall_vs_brute(
        emb, qs, ann_index_topk(spark, path, qs, k=5, n_probe=4)
    )
    assert r >= 0.70, r


# -- incremental append: frozen-state appends must equal a fresh
# build over the union under the same frozen state


def test_append_lsh_equals_fresh_union(spark, tmp_path):
    """LSH planes are a pure function of (n_planes, dim), so append
    (build A, append B) must probe IDENTICALLY to a fresh build over
    A∪B — ranks and sims byte-equal."""
    from webstruct_spark.operators.similarity import append_to_ann_index

    emb = _embeddings(spark)
    qs = _queries(emb)
    a = emb.where(F.col("vec_id") < 300)
    b = emb.where(F.col("vec_id") >= 300)
    p_app = str(tmp_path / "app_idx")
    p_full = str(tmp_path / "full_idx")
    write_ann_index(a, p_app, kind="lsh", n_planes=8)
    meta = append_to_ann_index(b, p_app)
    assert meta == {"kind": "lsh", "n_planes": 8, "dim": 16}
    write_ann_index(emb, p_full, kind="lsh", n_planes=8)
    got = ann_index_topk(spark, p_app, qs, k=5, multiprobe=1)
    want = ann_index_topk(spark, p_full, qs, k=5, multiprobe=1)
    assert _as_set(got) == _as_set(want)


def test_append_ivf_frozen_centroids_equals_fresh_union(spark, tmp_path):
    """IVF appends NEVER move centroids (documented drift policy), so
    append must equal a fresh build over A∪B with A's centroids
    passed in frozen (``centroids=``) — and the skew monitor (the
    rebuild trigger) stays computable on the appended index."""
    from webstruct_spark.operators.similarity import (
        _read_centroids,
        ann_index_cell_skew,
        append_to_ann_index,
    )

    emb = _embeddings(spark)
    qs = _queries(emb)
    a = emb.where(F.col("vec_id") < 300)
    b = emb.where(F.col("vec_id") >= 300)
    p_app = str(tmp_path / "vapp_idx")
    p_full = str(tmp_path / "vfull_idx")
    write_ann_index(a, p_app, kind="ivf", n_centroids=8)
    frozen = _read_centroids(spark, p_app)
    append_to_ann_index(b, p_app)
    # centroids untouched by the append
    assert np.array_equal(_read_centroids(spark, p_app), frozen)
    write_ann_index(emb, p_full, kind="ivf", centroids=frozen)
    got = ann_index_topk(spark, p_app, qs, k=5, n_probe=3)
    want = ann_index_topk(spark, p_full, qs, k=5, n_probe=3)
    assert _as_set(got) == _as_set(want)
    skew = ann_index_cell_skew(spark, p_app)
    assert skew >= 1.0


def test_append_validates_dim_and_can_skip_existing(spark, tmp_path):
    from webstruct_spark.operators.similarity import append_to_ann_index

    emb = _embeddings(spark)
    path = str(tmp_path / "val_idx")
    write_ann_index(emb, path, kind="lsh", n_planes=6)
    wrong = spark.createDataFrame(
        [(9999, [1.0, 2.0])], "vec_id long, embedding array<float>"
    )
    import pytest

    with pytest.raises(ValueError, match="dimension"):
        append_to_ann_index(wrong, path)
    # retried append of an already-present batch: skip_existing_ids
    # anti-joins it away, leaving counts unchanged
    batch = emb.where(F.col("vec_id") < 50)
    n0 = spark.read.parquet(path).count()
    append_to_ann_index(batch, path, skip_existing_ids=True)
    assert spark.read.parquet(path).count() == n0


def test_embedding_neardup_recall(spark):
    """Candidates from banded hyperplane LSH must recover most true
    high-cosine pairs; found pairs are exact (verified cosine)."""
    import numpy as np
    from webstruct_spark.operators.similarity import (
        _pair_cosine,
        embedding_neardup_pairs,
    )

    rng = np.random.RandomState(21)
    dim, n = 16, 150
    base = rng.randn(n, dim).astype(np.float32)
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(n)]
    # plant 30 true near-dups: slightly perturbed copies
    for j in range(30):
        v = base[j] + 0.05 * rng.randn(dim).astype(np.float32)
        rows.append((1000 + j, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_neardup_pairs(emb, threshold=0.9).collect()
    }
    # ground truth via brute force
    ids = np.array([r[0] for r in rows])
    mat = np.array([r[1] for r in rows], dtype=np.float32)
    truth = set()
    for i in range(len(ids)):
        sims = _pair_cosine(np.repeat(mat[i][None], len(ids), 0), mat)
        for j in range(len(ids)):
            if ids[i] < ids[j] and round(sims[j], 4) >= 0.9:
                truth.add((int(ids[i]), int(ids[j])))
    assert truth, "test setup must plant true pairs"
    assert got <= truth  # verified pairs are never false positives
    recall = len(got & truth) / len(truth)
    assert recall >= 0.8, recall

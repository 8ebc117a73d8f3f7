# -*- coding: utf-8 -*-
"""Similarity search over an embedding column (array<float>).

Two paths:

* :func:`brute_force_topk` — exact cosine top-k.  Distributed as
  two-stage top-k: the (small) query matrix is broadcast, each
  partition computes its LOCAL top-k per query with one numpy matmul
  inside ``mapInPandas`` (Arrow batches), then a single shuffle of
  k·|queries| candidate rows merges to the global top-k with a window.
  The full corpus is never shuffled.
* :func:`lsh_topk` — random-hyperplane LSH bucketing (deterministic
  planes derived from blake2b, no RNG state), probing each query's
  bucket ± multiprobe flips, exact rerank inside candidate buckets.
  Approximate: recall < 1 by design; gauged against brute force in
  tests.  :func:`ivf_topk` probes k-means cells instead, and
  :func:`ann_index_topk` runs either probe over a persistent
  bucket-partitioned index; all three share one probe-set builder
  (:func:`_probe_sets`) and one rerank mapper (:func:`_rerank`).

Similarities are computed in float32 numpy (then rounded) in BOTH the
distributed and the single-node gold path, so comparisons are exact.
"""
from __future__ import annotations

import hashlib
import math
from itertools import combinations
from typing import Iterator, List, Tuple

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans import fsio, snapshots

TOPK_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType()),
        T.StructField("neighbor_id", T.LongType()),
        T.StructField("sim", T.DoubleType()),
    ]
)


def _normalize_rows(m: np.ndarray) -> np.ndarray:
    m = m.astype(np.float32, copy=False)
    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return m / n


def topk_merge(cands: DataFrame, k: int) -> DataFrame:
    """Global top-k per query from candidate rows; deterministic
    tie-break (sim desc, neighbor_id asc)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"),
                "neighbor_id", F.round("sim", 4).alias("sim"))
    )


def _query_matrix(
    queries: List[Tuple[int, List[float]]]
) -> Tuple[np.ndarray, np.ndarray]:
    """(query ids, normalized f32 query matrix)."""
    q_ids = np.array([q[0] for q in queries], dtype=np.int64)
    q_mat = _normalize_rows(np.array([q[1] for q in queries], dtype=np.float32))
    return q_ids, q_mat


def brute_force_topk(
    embeddings: DataFrame,
    queries: List[Tuple[int, List[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k of each query vector against the corpus.

    ``queries``: [(query_id, vector)] — small, broadcast to executors.
    Output: (query_id, rank, neighbor_id, sim[rounded 4dp]).
    """
    spark = embeddings.sparkSession
    bc = spark.sparkContext.broadcast(_query_matrix(queries))

    src = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vec")
    )

    def local_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, mat = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            corpus = _normalize_rows(np.vstack(pdf["vec"].to_numpy()))
            nids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            # float64 matmul over float32-normalized rows: products are
            # exact, so results are stable across batch shapes
            sims = mat.astype(np.float64) @ corpus.T.astype(np.float64)
            # +1 slot when excluding self: the query's own vector may
            # occupy one local top-k slot
            kk = min(k + (1 if exclude_self else 0), sims.shape[1])
            out_q, out_n, out_s = [], [], []
            for qi in range(sims.shape[0]):
                # deterministic local cut: (sim desc, neighbor_id asc)
                # tie-break — a bare argpartition drops arbitrary
                # members of a tie straddling the kk boundary, which
                # would make results depend on batch shape
                order = np.lexsort((nids, -sims[qi]))[:kk]
                for j in order:
                    if exclude_self and nids[j] == ids[qi]:
                        continue
                    out_q.append(ids[qi])
                    out_n.append(nids[j])
                    out_s.append(float(sims[qi, j]))
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "sim": out_s}
            )

    cands = src.mapInPandas(local_topk, TOPK_SCHEMA)
    return topk_merge(cands, k)


# --------------------------------------------------------------------------
# Probe-and-rerank: the one kernel behind lsh_topk, ivf_topk and
# ann_index_topk.  A bucket is a vector's LSH sign code (kind 'lsh',
# state = hyperplanes) or its nearest IVF cell (kind 'ivf', state =
# centroids); each query probes a set of buckets, and only corpus rows
# in a probed bucket are reranked exactly against it.


def _buckets(mat: np.ndarray, kind: str, state: np.ndarray) -> np.ndarray:
    """Bucket of each row of an already-normalized f32 matrix."""
    if kind == "lsh":
        return _bucket_of(mat, state)
    return np.argmax(
        mat.astype(np.float64) @ state.T.astype(np.float64), axis=1
    ).astype(np.int64)


def _probe_sets(
    q_mat: np.ndarray, kind: str, state: np.ndarray,
    multiprobe: int = 1, n_probe: int = 4,
) -> dict:
    """bucket -> [query index] over every probed bucket: a query's own
    LSH bucket plus all buckets within ``multiprobe`` sign-bit flips,
    or its ``n_probe`` nearest IVF cells."""
    probe: dict = {}
    if kind == "lsh":
        flip_masks = [0]
        for r in range(1, max(0, multiprobe) + 1):
            for bits in combinations(range(state.shape[0]), r):
                flip_masks.append(sum(1 << b for b in bits))
        for qi, b in enumerate(_buckets(q_mat, kind, state)):
            for m in flip_masks:
                probe.setdefault(int(b) ^ m, []).append(qi)
    else:
        q_sims = q_mat.astype(np.float64) @ state.T.astype(np.float64)
        for qi in range(q_mat.shape[0]):
            for c in np.argsort(-q_sims[qi])[:n_probe]:
                probe.setdefault(int(c), []).append(qi)
    return probe


def _rerank(
    src: DataFrame, q_ids: np.ndarray, q_mat: np.ndarray, probe: dict,
    k: int, exclude_self: bool,
    kind: str | None = None, state: np.ndarray | None = None,
) -> DataFrame:
    """Exact top-k of each query over the ``src`` rows (neighbor_id,
    vec[, bucket]) in its probed buckets.  A persistent index supplies
    each row's stored ``bucket``; otherwise (``kind`` given) the bucket
    is computed under ``state`` inside the same Python pass."""
    bc = src.sparkSession.sparkContext.broadcast(
        (q_ids, q_mat, probe, kind, state)
    )

    def local(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, mat, pr, knd, st = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            corpus = _normalize_rows(np.vstack(pdf["vec"].to_numpy()))
            nids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            bks = (
                _buckets(corpus, knd, st) if knd is not None
                else pdf["bucket"].to_numpy(dtype=np.int64)
            )
            out_q, out_n, out_s = [], [], []
            for j in range(corpus.shape[0]):
                qis = pr.get(int(bks[j]))
                if not qis:
                    continue
                sims = mat[qis].astype(np.float64) @ corpus[j].astype(np.float64)
                for t, qi in enumerate(qis):
                    if exclude_self and nids[j] == ids[qi]:
                        continue
                    out_q.append(ids[qi])
                    out_n.append(nids[j])
                    out_s.append(float(sims[t]))
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "sim": out_s}
            )

    return topk_merge(src.mapInPandas(local, TOPK_SCHEMA), k)


def _inflight_topk(
    embeddings: DataFrame, queries: List[Tuple[int, List[float]]],
    kind: str, state: np.ndarray, k: int, id_col: str, vec_col: str,
    exclude_self: bool, **probe_kw,
) -> DataFrame:
    """Probe-and-rerank over a whole embeddings table (no index);
    ``probe_kw`` are :func:`_probe_sets`' multiprobe / n_probe."""
    q_ids, q_mat = _query_matrix(queries)
    probe = _probe_sets(q_mat, kind, state, **probe_kw)
    src = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vec")
    )
    return _rerank(src, q_ids, q_mat, probe, k, exclude_self, kind, state)


# --------------------------------------------------------------------------
# IVF variant: deterministic k-means coarse quantizer + cell probing


def lloyd_centroids(
    mat: np.ndarray, n_centroids: int, iters: int = 10
) -> np.ndarray:
    """Deterministic Lloyd k-means over an already-normalized f32
    matrix — the single shared kernel of :func:`train_centroids` AND
    the single-node gold twin (sources/docgold.py), so both paths run
    bit-identical math.  Centroid init = evenly spaced rows; empty
    cells re-seed from the farthest point (deterministic argmax)."""
    n = mat.shape[0]
    k = min(n_centroids, n)
    idx = np.linspace(0, n - 1, k).astype(int)
    cent = mat[idx].copy()
    for _ in range(iters):
        sims = mat.astype(np.float64) @ cent.T.astype(np.float64)
        assign = np.argmax(sims, axis=1)
        for c in range(k):
            members = mat[assign == c]
            if len(members):
                m = members.mean(axis=0)
                norm = np.linalg.norm(m)
                cent[c] = (m / norm if norm else cent[c]).astype(np.float32)
            else:
                # deterministic re-seed: farthest point from its centroid
                d = 1.0 - sims[np.arange(n), assign]
                cent[c] = mat[int(np.argmax(d))]
    return cent


def train_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    sample: int = 2048,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic Lloyd k-means on a fixed sample (the ``sample``
    smallest ids — order-free), driver-side numpy via
    :func:`lloyd_centroids`."""
    rows = (
        embeddings.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(sample)
        .collect()
    )
    mat = _normalize_rows(
        np.array([list(r[vec_col]) for r in rows], dtype=np.float32)
    )
    return lloyd_centroids(mat, n_centroids, iters)


def ivf_topk(
    embeddings: DataFrame,
    queries: List[Tuple[int, List[float]]],
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Approximate cosine top-k via an IVF coarse quantizer: corpus
    vectors are bucketed by nearest centroid; each query probes its
    ``n_probe`` nearest cells and reranks exactly inside them.

    recall/latency dial = (n_centroids, n_probe); recall gauged vs
    brute force in tests."""
    if centroids is None:
        centroids = train_centroids(
            embeddings, n_centroids, id_col=id_col, vec_col=vec_col
        )
    return _inflight_topk(
        embeddings, queries, "ivf", centroids, k, id_col, vec_col,
        exclude_self, n_probe=n_probe,
    )


# --------------------------------------------------------------------------
# Persistent bucket-partitioned index: the 100-TB path.  The in-flight
# lsh_topk/ivf_topk variants above filter executor-side but still SCAN
# the whole corpus; at scale the scan dominates.  write_ann_index
# materializes the embeddings parquet under one ``bucket=N`` dir per
# LSH bucket or IVF cell, and ann_index_topk reads only the probed
# buckets' files.
#
# The index's file set is its snapshot log (plans/snapshots.py): every
# operation writes new part files beside the live ones, commits one
# snapshot record listing the live files (bucket, rows, bytes) and the
# meta, then GCs what the new snapshot does not reference.  Readers
# open only the files the current snapshot lists, so a crash anywhere
# leaves the last committed snapshot serving; every writer also GCs at
# entry, which removes the crashed operation's files.  Maintenance
# (build, append, rebuild, compact) stays serialized; a second writer
# that read the same snapshot loses at the create-if-absent commit.
#
# The root is qualified to a Hadoop URI first, so all I/O goes through
# Spark or the Hadoop FileSystem, never a driver-local ``open()`` — the
# index may live on HDFS/S3 where the driver has no POSIX view of it.

_CENTROIDS = "_ann_centroids.parquet"

_NO_INDEX = (
    "no ANN index snapshot at %r (nothing built there, or an index "
    "written before the snapshot log) — build it with write_ann_index"
)


def read_ann_meta(spark: SparkSession, path: str) -> dict:
    """The index meta (kind, n_planes or n_centroids, dim) from the
    current snapshot record."""
    root = fsio.qualify(spark, path)
    return snapshots.require(spark, root, _NO_INDEX % root)["meta"]


def _index_state(spark: SparkSession, root: str, snap: dict) -> np.ndarray:
    """The frozen bucketing state of an index: LSH planes re-derived
    from the stored n_planes+dim, or the stored IVF centroids."""
    meta = snap["meta"]
    if meta["kind"] == "lsh":
        return _planes(meta["n_planes"], meta["dim"])
    cent_rows = snapshots.read(
        spark, root, [{"path": snap["sidecars"]["centroids"]}]
    ).orderBy("cell").collect()
    return np.array(
        [list(r["centroid"]) for r in cent_rows], dtype=np.float32
    )


def _read_centroids(spark: SparkSession, path: str) -> np.ndarray:
    root = fsio.qualify(spark, path)
    return _index_state(
        spark, root, snapshots.require(spark, root, _NO_INDEX % root)
    )


def _bucketized(
    embeddings: DataFrame,
    kind: str,
    state: np.ndarray,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(vec_id, vec, bucket) rows: each vector tagged with its LSH
    bucket / IVF cell under the given frozen state — the single
    bucketing kernel shared by build and append."""
    spark = embeddings.sparkSession
    bc = spark.sparkContext.broadcast((kind, state))

    def bucketize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        knd, st = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            mat = _normalize_rows(np.vstack(pdf["vec"].to_numpy()))
            if mat.shape[1] != st.shape[1]:
                raise ValueError(
                    "embedding dimension %d != index dimension %d"
                    % (mat.shape[1], st.shape[1])
                )
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "vec": pdf["vec"],
                    "bucket": _buckets(mat, knd, st),
                }
            )

    src = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
    )
    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("vec", src.schema["vec"].dataType),
            T.StructField("bucket", T.LongType()),
        ]
    )
    return src.mapInPandas(bucketize, out_schema)


def write_ann_index(
    embeddings: DataFrame,
    path: str,
    kind: str = "lsh",
    n_planes: int = 8,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> dict:
    """Materialize a bucket-partitioned ANN index at ``path``.

    ``kind='lsh'``: deterministic hyperplane buckets (reproducible
    from n_planes+dim, no stored state).  ``kind='ivf'``: k-means
    cells; centroids are stored beside the data under
    ``_ann_centroids.parquet``; pass ``centroids=`` to build with a
    FROZEN pre-trained quantizer instead of training one (the rebuild
    path of the append policy — see :func:`append_to_ann_index`).
    Returns the metadata dict, which the snapshot record carries.

    The new files land beside whatever the root already holds, and one
    snapshot commit that lists only them makes the new index current.
    Over a live index (the append policy's skew-triggered retrain)
    probes therefore keep reading the old index until that commit, and
    a crash anywhere leaves it serving; re-running the build is the
    recovery.  Over a root without a snapshot (an index written before
    the snapshot log, or any other leftovers) the first commit's GC
    removes everything the root held."""
    spark = embeddings.sparkSession
    root = fsio.qualify(spark, path)
    parent = snapshots.current(spark, root)
    if parent is not None:
        snapshots.gc(spark, root, parent)
    first = embeddings.select(vec_col).first()
    if first is None:
        raise ValueError("cannot build an ANN index over an empty table")
    dim = len(first[vec_col])
    if kind == "lsh":
        state = _planes(n_planes, dim)
        meta = {"kind": "lsh", "n_planes": n_planes, "dim": dim}
    elif kind == "ivf":
        if centroids is None:
            centroids = train_centroids(
                embeddings, n_centroids, id_col=id_col, vec_col=vec_col
            )
        state = np.asarray(centroids, dtype=np.float32)
        meta = {"kind": "ivf", "n_centroids": int(state.shape[0]),
                "dim": dim}
    else:
        raise ValueError("kind must be 'lsh' or 'ivf'")
    sc = spark.sparkContext
    n_buckets = int(state.shape[0]) if kind == "ivf" else (1 << n_planes)
    # Cluster rows by bucket BEFORE the partitioned write, into an
    # EXPLICIT task count.  Without this, each write task opens one
    # file per distinct bucket it holds — measured at sf0.1: the scan
    # is one partition, so ONE task serially creates all 256 bucket
    # files (~5.6 s of executorRunTime, the whole build cost); an
    # AQE-coalescible keyed repartition collapses right back to that
    # single task (the post-shuffle partitions are tiny), which is why
    # the explicit numPartitions matters — AQE does not coalesce a
    # user-specified count.  The key is (bucket, salt): with
    # n_tasks <= n_buckets the salt is constant (pure bucket hash, one
    # file per bucket); on a big cluster (n_tasks >> n_buckets) the
    # deterministic vec_id salt splits each bucket over ~n_tasks/
    # n_buckets writers so a 100 TB bucket never lands whole in one
    # task (guide §2.5: derive synthetic keys deterministically, never
    # from rand()).
    n_tasks = max(1, sc.defaultParallelism)
    salt_slots = max(1, -(-n_tasks // n_buckets))
    rows = _bucketized(embeddings, kind, state, id_col, vec_col).repartition(
        n_tasks,
        F.col("bucket"),
        F.pmod(F.xxhash64("vec_id"), F.lit(salt_slots)),
    )
    sidecars: dict = {}
    if kind == "ivf":
        cent_rows = [
            (int(i), [float(x) for x in row])
            for i, row in enumerate(state)
        ]
        # one explicit slice: createDataFrame of a local list would
        # parallelize into defaultParallelism mostly-empty slices —
        # coalesce(1) evaluates them SERIALLY through one task (≈ 5 s
        # of Python-worker round-trips) and repartition(1) pays a
        # shuffle job (~0.5 s); parallelize(row, 1) is one task, no
        # shuffle, no extra job, one part file.
        cent = spark.createDataFrame(
            sc.parallelize(cent_rows, 1), "cell int, centroid array<float>"
        )
        (cent_file,) = snapshots.write(
            spark, root, cent, "sidecar", _CENTROIDS
        )
        sidecars["centroids"] = cent_file["path"]
    files = snapshots.write(spark, root, rows, "bucket")
    snapshots.publish(spark, root, parent, {
        "meta": meta, "sidecars": sidecars, "files": files,
    })
    return meta


def rebuild_ann_index(
    spark: SparkSession,
    path: str,
    kind: str | None = None,
    n_planes: int | None = None,
    n_centroids: int | None = None,
    centroids: np.ndarray | None = None,
) -> dict:
    """Retrain a live index FROM ITS OWN stored vectors — the
    skew-trigger's natural shape (:func:`ann_index_cell_skew` crossed
    the threshold; re-bucket with a fresh or bigger quantizer).

    The input is exactly the current snapshot's files.  A hand-rolled
    ``write_ann_index(spark.read.parquet(path), path)`` is wrong: a
    directory listing also holds the files of crashed writes and, while
    a write is in flight, its new files, so the rebuilt index would
    carry duplicates.

    Defaults (``kind``/``n_planes``/``n_centroids`` = None) re-use
    the live meta's values — a same-shape rebalance; override to grow
    the quantizer.  ``centroids`` passes a frozen pre-trained IVF
    quantizer through (else one is retrained on the current vectors —
    the drift policy's retrain step)."""
    root = fsio.qualify(spark, path)
    snap = snapshots.require(spark, root, _NO_INDEX % root)
    meta = snap["meta"]
    kind_src = (
        "explicit kind= argument" if kind else "stored meta"
    )
    kind = kind or meta["kind"]
    # cross-check quantizer params against the RESOLVED kind before
    # anything runs: silently dropping a mismatched one (n_centroids=
    # on what resolves to an LSH rebuild — the caller who meant to
    # migrate to IVF but forgot kind='ivf') would hand back a
    # same-shape rebuild with no warning and leave their skew problem
    # in place
    if kind == "lsh" and (
        n_centroids is not None or centroids is not None
    ):
        raise ValueError(
            "rebuild of %r resolves to kind='lsh' (from %s) but "
            "got IVF parameter(s) %s — pass kind='ivf' to migrate the "
            "index, or drop them" % (
                path, kind_src,
                ", ".join(
                    p for p, v in (
                        ("n_centroids", n_centroids),
                        ("centroids", centroids),
                    ) if v is not None
                ),
            )
        )
    if kind == "ivf" and n_planes is not None:
        raise ValueError(
            "rebuild of %r resolves to kind='ivf' (from %s) but "
            "got LSH parameter n_planes — pass kind='lsh' to migrate "
            "the index, or drop it" % (path, kind_src)
        )
    kw: dict = {"kind": kind, "id_col": "vec_id", "vec_col": "vec"}
    if kind == "lsh":
        kw["n_planes"] = (
            n_planes if n_planes is not None
            else meta.get("n_planes", 8)
        )
    else:
        kw["n_centroids"] = (
            n_centroids if n_centroids is not None
            else meta.get("n_centroids", 16)
        )
        kw["centroids"] = centroids
    stored = snapshots.read(spark, root, snap["files"]).select(
        "vec_id", "vec"
    )
    return write_ann_index(stored, path, **kw)


def append_to_ann_index(
    new_embeddings: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    skip_existing_ids: bool = False,
) -> dict:
    """Append new vectors to an existing :func:`write_ann_index`
    index WITHOUT rebuilding: bucketize only the new rows under the
    index's FROZEN state (LSH planes re-derived from stored
    n_planes+dim; IVF centroids read from the stored sidecar —
    appends never move centroids), write them as new part files in
    the touched bucket dirs, and commit a snapshot listing the
    previous files plus the new ones.

    IVF centroid-drift policy: the quantizer stays frozen across
    appends, so cells only ever gain members; if the appended
    distribution drifts, some cells grow hot and probe cost rises —
    recall is unaffected (probes and data use the same frozen
    centroids).  Rebuild trigger: monitor
    :func:`ann_index_cell_skew`; when max/mean cell size exceeds the
    deployment threshold (≈8 is a reasonable default), retrain with
    :func:`rebuild_ann_index` (optionally seeding ``centroids=`` from
    the old quantizer's cells).  Returns the (unchanged) meta dict.

    A crash before the commit leaves no part of the batch visible; a
    crash after it leaves the whole batch visible.  A caller that saw
    the append fail cannot tell which, so its retry should pass
    ``skip_existing_ids=True``: the new batch is anti-joined against
    the index's current ids first — exact, but it costs a full
    id-column scan of the index, so it is opt-in rather than the
    default at 100 TB."""
    spark = new_embeddings.sparkSession
    root = fsio.qualify(spark, path)
    snap = snapshots.require(spark, root, _NO_INDEX % root)
    snapshots.gc(spark, root, snap)
    meta = snap["meta"]
    # fail-fast dim check on the first non-null vector; ragged or
    # null vectors deeper in the batch are caught executor-side by
    # _bucketized's per-batch dimension guard with the same message
    first = (
        new_embeddings.where(F.col(vec_col).isNotNull())
        .select(vec_col)
        .first()
    )
    if first is None:
        return meta  # empty append: nothing to write
    dim = len(first[vec_col])
    if dim != meta["dim"]:
        raise ValueError(
            "append dimension %d != index dimension %d at %s"
            % (dim, meta["dim"], path)
        )
    if skip_existing_ids:
        existing = snapshots.read(spark, root, snap["files"]).select(
            F.col("vec_id").alias(id_col)
        )
        new_embeddings = new_embeddings.join(
            existing, id_col, "left_anti"
        )
    bucketized = _bucketized(
        new_embeddings, meta["kind"], _index_state(spark, root, snap),
        id_col, vec_col,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # only the touched bucket dirs are listed around the write;
        # persisting the bucketized delta means the bucket-set agg
        # and the write share one bucketize pass over the batch
        touched = sorted(
            r["bucket"]
            for r in bucketized.select("bucket").distinct().collect()
        )
        if not touched:
            return meta  # all rows filtered (skip_existing_ids)
        added = snapshots.write(
            spark, root, bucketized, "bucket",
            dirs=["bucket=%d" % b for b in touched],
        )
    finally:
        bucketized.unpersist()
    snapshots.publish(spark, root, snap, {
        "meta": meta, "sidecars": snap["sidecars"],
        "files": snap["files"] + added,
    })
    return meta


def ann_index_cell_skew(spark: SparkSession, path: str) -> float:
    """max/mean bucket size of a persistent index — the rebuild
    trigger of the append policy.  Computed from the row counts the
    current snapshot records per file, so it reads no data."""
    root = fsio.qualify(spark, path)
    sizes: dict = {}
    for f in snapshots.require(spark, root, _NO_INDEX % root)["files"]:
        sizes[f["bucket"]] = sizes.get(f["bucket"], 0) + f["rows"]
    counts = [n for n in sizes.values() if n]
    return float(max(counts)) / (float(sum(counts)) / len(counts))


# -- ANN index small-file compaction ---------------------------------------
# Every append_to_ann_index adds part files to the touched bucket
# dirs, so a week of appended batches turns each hot bucket into
# dozens of tiny files — per-file open/footer cost on every probe, the
# same pathology plans/compaction.py fixes for the KG stages.
# compact_ann_index runs the snapshot log's one compaction pass
# (plans/snapshots.py compact, shared with the KG store) with one group
# per bucket: each fragmented bucket (never the whole index) is
# rewritten shuffle-free into ceil(bytes/target) new files in the same
# bucket dir, their footer rows are checked against the snapshot's, and
# one snapshot commit replaces those buckets' files.  Until that commit
# the rewrites are unreferenced files no reader opens.


def compact_ann_index(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    force: bool = False,
) -> dict:
    """Rewrite fragmented bucket partitions of a
    :func:`write_ann_index` index into ~``target_bytes`` files.

    Idempotent and cheap when nothing is fragmented: the no-op
    decision per bucket comes from the snapshot's file sizes (file
    count vs ``ceil(bytes/target)``) with no listing or footer read.
    A rewritten bucket's new files must hold exactly the snapshot's
    row count for it, else nothing is committed.  A non-positive
    ``target_bytes`` is refused before the index is touched.  The
    centroid sidecar is never touched.

    Do not run concurrently with :func:`append_to_ann_index` over the
    same path (same maintenance-window contract as
    ``plans.compaction.compact_kg``).  Returns ``{buckets_total,
    buckets_compacted, n_files_before, n_files_after,
    rows_verified}``."""
    def load():
        root = fsio.qualify(spark, path)
        snap = snapshots.require(spark, root, _NO_INDEX % root)
        snapshots.gc(spark, root, snap)
        by_bucket: dict = {}
        for f in snap["files"]:
            by_bucket.setdefault(f["bucket"], []).append(f)
        return root, snap, dict(sorted(by_bucket.items()))

    # reading the listed files with the root as basePath yields
    # (vec_id, vec, bucket), so the partitioned write lands the
    # rewrite in the same bucket dir
    root, snap, new = snapshots.compact(
        spark, "compact_ann_index", target_bytes, force, load,
        lambda root, b, df: snapshots.write(
            spark, root, df, "bucket", dirs=["bucket=%d" % b]
        ),
        lambda b: "bucket %d at %r" % (b, path),
    )
    files = [
        f for f in snap["files"] if f["bucket"] not in new
    ] + [f for fs in new.values() for f in fs]
    if new:
        snapshots.publish(spark, root, snap, {
            "meta": snap["meta"], "sidecars": snap["sidecars"],
            "files": files,
        })
    return {
        "buckets_total": len({f["bucket"] for f in snap["files"]}),
        "buckets_compacted": len(new),
        "n_files_before": len(snap["files"]),
        "n_files_after": len(files),
        "rows_verified": sum(f["rows"] for fs in new.values() for f in fs),
    }


def ann_index_topk(
    spark: SparkSession,
    path: str,
    queries: List[Tuple[int, List[float]]],
    k: int = 5,
    multiprobe: int = 1,
    n_probe: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """Top-k probe over a :func:`write_ann_index` index.  Reads ONLY
    the current snapshot's files in the probed buckets and reranks
    exactly inside them — same results as lsh_topk/ivf_topk with the
    same probe settings, without the full-corpus scan.

    Snapshot and centroid reads go through the Hadoop FileSystem and
    Spark, so the probe works against an index on any Hadoop-visible
    filesystem — no driver-local ``open()`` of ``path``."""
    root = fsio.qualify(spark, path)
    snap = snapshots.require(spark, root, _NO_INDEX % root)
    q_ids, q_mat = _query_matrix(queries)
    probe = _probe_sets(
        q_mat, snap["meta"]["kind"], _index_state(spark, root, snap),
        multiprobe, n_probe,
    )
    files = [f for f in snap["files"] if f["bucket"] in probe]
    if not files:
        return topk_merge(spark.createDataFrame([], TOPK_SCHEMA), k)
    src = snapshots.read(spark, root, files).select(
        F.col("vec_id").alias("neighbor_id"), "vec", "bucket"
    )
    return _rerank(src, q_ids, q_mat, probe, k, exclude_self)


# --------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs (the dense-vector analog of
# minhash_lsh_pairs): banded hyperplane-LSH candidates + exact float64
# verification of candidates only — never an n² cartesian.


def _emb_band_keys(
    normed: np.ndarray, planes: np.ndarray, n_bands: int, n_planes: int
) -> List[List[str]]:
    """Per-row list of band-key strings ('band:hexcode')."""
    bits = (normed @ planes.T) >= 0  # (n, n_bands*n_planes)
    keys: List[List[str]] = []
    for r in range(normed.shape[0]):
        row = []
        for b in range(n_bands):
            code = 0
            for p in range(n_planes):
                if bits[r, b * n_planes + p]:
                    code |= 1 << p
            row.append("%d:%x" % (b, code))
        keys.append(row)
    return keys


def _pair_cosine(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise cosine of two already-f32 matrices: normalize f32,
    multiply-sum in float64 — the single shared definition used by the
    distributed verify UDF AND the single-node gold builder, so both
    paths run bit-identical math."""
    an = _normalize_rows(a).astype(np.float64)
    bn = _normalize_rows(b).astype(np.float64)
    return np.einsum("ij,ij->i", an, bn)


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.35,
    n_bands: int = 8,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_a, vec_b, sim) pairs with cosine >= threshold.

    Scale shape mirrors minhash_lsh_pairs: one narrow pass emits
    deterministic hyperplane band keys, candidates come from the
    banded self-join (AQE skew-join splits hot buckets), and the exact
    cosine runs only on candidate pairs.  Approximate: recall < 1 by
    design (gauged vs brute force in tests); the driver query checks
    distributed == single-node of the same banding."""
    import pandas as pd_  # local alias; module already imports pandas

    spark = embeddings.sparkSession
    first = embeddings.select(vec_col).first()
    if first is None:  # empty corpus -> no pairs, correct schema
        return spark.createDataFrame(
            [], "vec_a long, vec_b long, sim double"
        )
    dim = len(first[vec_col])
    planes = _planes(n_bands * n_planes, dim)
    bc = spark.sparkContext.broadcast((planes, n_bands, n_planes))

    src = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
    )

    def bandize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pl, nb, npl = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            normed = _normalize_rows(np.vstack(pdf["vec"].to_numpy()))
            yield pd_.DataFrame(
                {
                    "doc_id": pdf["vec_id"],
                    "bucket_list": _emb_band_keys(normed, pl, nb, npl),
                }
            )

    band_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("bucket_list", T.ArrayType(T.StringType())),
        ]
    )
    banded = src.mapInPandas(bandize, band_schema).select(
        "doc_id", F.explode("bucket_list").alias("bucket")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(b, F.col("a.bucket") == F.col("b.bucket"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("vec_a"),
            F.col("b.doc_id").alias("vec_b"),
        )
        .distinct()
    )
    vecs = src
    joined = (
        pairs.join(
            vecs.withColumnRenamed("vec_id", "vec_a")
            .withColumnRenamed("vec", "va"),
            "vec_a",
        ).join(
            vecs.withColumnRenamed("vec_id", "vec_b")
            .withColumnRenamed("vec", "vb"),
            "vec_b",
        )
    )

    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.DoubleType())
    def _cosine_udf(va: pd.Series, vb: pd.Series) -> pd.Series:
        if len(va) == 0:
            return pd_.Series([], dtype="float64")
        ma = np.vstack(va.to_numpy()).astype(np.float32)
        mb = np.vstack(vb.to_numpy()).astype(np.float32)
        return pd_.Series(_pair_cosine(ma, mb))

    return (
        joined.withColumn("sim", F.round(_cosine_udf("va", "vb"), 4))
        .where(F.col("sim") >= threshold)
        .select("vec_a", "vec_b", "sim")
    )


# --------------------------------------------------------------------------
# LSH variant


def _planes(n_planes: int, dim: int) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes from blake2b bytes."""
    need = n_planes * dim * 4
    buf = bytearray()
    i = 0
    while len(buf) < need:
        buf += hashlib.blake2b(b"ann-plane-%d" % i, digest_size=64).digest()
        i += 1
    raw = np.frombuffer(bytes(buf[:need]), dtype="<u4").astype(np.float64)
    m = (raw / 2**32) * 2.0 - 1.0  # uniform [-1, 1)
    return m.reshape(n_planes, dim).astype(np.float32)


def _bucket_of(mat: np.ndarray, planes: np.ndarray) -> np.ndarray:
    bits = (mat @ planes.T) >= 0
    out = np.zeros(mat.shape[0], dtype=np.int64)
    for b in range(planes.shape[0]):
        out |= bits[:, b].astype(np.int64) << b
    return out


def lsh_topk(
    embeddings: DataFrame,
    queries: List[Tuple[int, List[float]]],
    k: int = 5,
    n_planes: int = 8,
    multiprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate cosine top-k: hyperplane-LSH bucket filter + exact
    rerank.  ``multiprobe`` additionally probes buckets reachable by
    flipping that many sign bits (recall/latency dial)."""
    planes = _planes(n_planes, len(queries[0][1]))
    return _inflight_topk(
        embeddings, queries, "lsh", planes, k, id_col, vec_col,
        exclude_self, multiprobe=multiprobe,
    )

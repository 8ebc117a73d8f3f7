# -*- coding: utf-8 -*-
"""Single-node gold tables for the document-pipeline operators
(MinHash-LSH pairs, SimHash pairs, language id, ANN top-k) over the
driver-provided parquet tables.

Same pattern as goldbuild.py: plain-python/numpy execution of the SAME
pinned kernel math, written once per (table, sf); the driver oracle
then compares distributed output against this single-node run.
"""
from __future__ import annotations

import os
from decimal import ROUND_HALF_UP, Decimal
from typing import List, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ..functions.text_quality import lang_id_py
from ..kernel.dedup import (
    hamming64,
    jaccard,
    lsh_band_keys,
    minhash_signature,
    simhash64,
    simhash_band_keys,
    word_shingles,
)


def _round_half_up(x: float, n: int) -> float:
    """Spark F.round parity: Spark's Round on a double goes through
    ``BigDecimal.valueOf`` = HALF_UP on the SHORTEST-round-trip
    decimal rendering (Double.toString), which Python's ``repr``
    reproduces — so quantize ``Decimal(repr(x))``, not the exact
    binary expansion ``Decimal(x)`` (those differ when the shortest
    rendering is an n-dp midpoint but the binary value sits below it).
    Python's bare round() is banker's and would diverge on dyadic
    midpoints like 1/128 either way."""
    q = Decimal(1).scaleb(-n)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


DOC_GOLD_VERSION = "7-ivf"


class UnverifiedGoldDir(str):
    """Returned by :func:`build_doc_gold`'s unreadable-corpus
    fallback instead of a plain ``str``: the gold at this path passed
    the VERSION check, but the corpus could not be read so the input
    FINGERPRINTS were never compared.  Equal to (and usable as) the
    plain path everywhere; the marker exists so memoizing callers
    (``__spark_entry__._doc_gold_for``) can serve it for THIS call
    without pinning it — caching a fallback would keep serving gold
    built from the OLD corpus for the whole driver-process lifetime
    after the corpus at the same path is regenerated and readable
    again (the fingerprint mismatch that forces a rebuild would
    never be rechecked).  Same attribute-on-return-value convention
    as ``ngram_jaccard_pairs._dropped_shingles`` in operators/dedup.py."""

    fingerprint_verified = False


def _done_tag(sf_dir: str) -> str:
    """Reuse sentinel content: the gold version PLUS the input
    tables' footer fingerprints.  A version-only sentinel served
    stale gold when the corpus at the same path was regenerated —
    every file-backed oracle would then compare distributed output
    on the new data against gold computed from the old."""
    import json

    from ..plans.manifest import table_fingerprint

    fps = {
        name: table_fingerprint(os.path.join(sf_dir, name))
        for name in ("documents.parquet", "embeddings.parquet")
    }
    return json.dumps({"v": DOC_GOLD_VERSION, "inputs": fps},
                      sort_keys=True)


def build_doc_gold(sf_dir: str, out_dir: str, force: bool = False) -> str:
    done = os.path.join(out_dir, "_DONE")
    tag = None
    if not force and os.path.exists(done):
        try:
            tag = _done_tag(sf_dir)
        except (FileNotFoundError, ValueError):
            # corpus dir absent or mid-regeneration (dir gone, no
            # .parquet written yet, or a torn footer — pyarrow's
            # ArrowInvalid is a ValueError subclass): the INPUT
            # fingerprints cannot be recomputed, so fall back to
            # trusting the sentinel — but still hold it to the
            # VERSION check, which needs no corpus access: gold
            # built by older math must never be served silently.
            import json

            with open(done) as f:
                raw = f.read().strip()
            try:
                v = json.loads(raw).get("v")
            except (ValueError, AttributeError):
                v = None  # pre-JSON or corrupt sentinel
            if v != DOC_GOLD_VERSION:
                raise RuntimeError(
                    "build_doc_gold: corpus %r is unreadable and the "
                    "cached gold at %r carries version %r (current "
                    "%r) — cannot rebuild without the corpus and "
                    "refusing to serve stale-version gold"
                    % (sf_dir, out_dir, v, DOC_GOLD_VERSION)
                )
            # version matches: anything that actually READS the
            # absent corpus fails on its own, while a query over a
            # DIFFERENT sf_dir keeps its cached gold instead of
            # crashing here.  Marked unverified so callers don't
            # memoize a fingerprint-unchecked answer (see
            # UnverifiedGoldDir).
            return UnverifiedGoldDir(out_dir)
        with open(done) as f:
            if f.read().strip() == tag:
                return out_dir
    if tag is None:
        tag = _done_tag(sf_dir)
    # invalidate BEFORE the first table write: a force=True rebuild
    # over an UNCHANGED corpus would otherwise leave a still-matching
    # sentinel over a mixed old/new gold dir if it crashes mid-write
    # (non-force rebuilds are only safe because their tag mismatches)
    if os.path.exists(done):
        os.unlink(done)
    os.makedirs(out_dir, exist_ok=True)

    docs = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    ).to_pylist()

    # --- minhash LSH pairs: two-tier scoring, the exact twin of
    # operators/dedup.py:minhash_lsh_pairs — signature-slot estimate
    # decides clear accepts/rejects, exact Jaccard over the 64-bit
    # HASHED shingle sets only inside the +-0.2 gray band.
    from ..kernel.dedup import _h64

    threshold, band = 0.5, 0.2
    lo, hi = threshold - band, threshold + band
    buckets: dict = {}
    sig_cache = {}
    hashed_cache = {}
    for d in docs:
        sh = word_shingles(d["text"])
        sig = minhash_signature(sh)
        sig_cache[d["doc_id"]] = sig
        hashed_cache[d["doc_id"]] = {_h64(s) for s in sh}
        for key in lsh_band_keys(sig):
            buckets.setdefault(key, []).append(d["doc_id"])
    cand = set()
    for ids in buckets.values():
        ids.sort()
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cand.add((ids[i], ids[j]))
    mh_rows = []
    for a, b in sorted(cand):
        sa, sb = sig_cache[a], sig_cache[b]
        est = sum(x == y for x, y in zip(sa, sb)) / len(sa)
        if est >= hi:
            mh_rows.append(
                dict(doc_a=a, doc_b=b,
                     jaccard=_round_half_up(est, 6), verified=False)
            )
        elif est >= lo:
            jac = jaccard(hashed_cache[a], hashed_cache[b])
            if jac >= threshold:
                mh_rows.append(
                    dict(doc_a=a, doc_b=b,
                         jaccard=_round_half_up(jac, 6), verified=True)
                )
    pq.write_table(
        pa.Table.from_pylist(
            mh_rows,
            schema=pa.schema(
                [("doc_a", pa.int64()), ("doc_b", pa.int64()),
                 ("jaccard", pa.float64()), ("verified", pa.bool_())]
            ),
        ),
        os.path.join(out_dir, "gold_minhash_pairs.parquet"),
    )

    # --- simhash pairs (hamming <= 3 via banding)
    sims = {d["doc_id"]: simhash64(d["text"]) for d in docs}
    sbuckets: dict = {}
    for did, s in sims.items():
        for key in simhash_band_keys(s):
            sbuckets.setdefault(key, []).append(did)
    scand = set()
    for ids in sbuckets.values():
        ids.sort()
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                scand.add((ids[i], ids[j]))
    sh_rows = [
        dict(doc_a=a, doc_b=b, hamming=hamming64(sims[a], sims[b]))
        for a, b in sorted(scand)
        if hamming64(sims[a], sims[b]) <= 3
    ]
    pq.write_table(
        pa.Table.from_pylist(
            sh_rows,
            schema=pa.schema(
                [("doc_a", pa.int64()), ("doc_b", pa.int64()),
                 ("hamming", pa.int32())]
            ),
        ),
        os.path.join(out_dir, "gold_simhash_pairs.parquet"),
    )

    # --- language id
    lid_rows = [
        dict(doc_id=d["doc_id"], lang_pred=lang_id_py(d["text"]))
        for d in docs
    ]
    pq.write_table(
        pa.Table.from_pylist(
            lid_rows,
            schema=pa.schema([("doc_id", pa.int64()),
                              ("lang_pred", pa.string())]),
        ),
        os.path.join(out_dir, "gold_langid.parquet"),
    )

    # --- ANN brute-force top-5 for query ids (vec_id % 199 == 0)
    emb = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"),
                        columns=["vec_id", "embedding"])
    ids = np.array(emb["vec_id"].to_pylist(), dtype=np.int64)
    mat = np.array(emb["embedding"].to_pylist(), dtype=np.float32)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    normed = mat / norms
    q_mask = ids % 199 == 0
    q_ids = ids[q_mask]
    q_mat = normed[q_mask]
    sims_all = q_mat.astype(np.float64) @ normed.T.astype(np.float64)
    ann_rows: List[dict] = []
    for qi, qid in enumerate(q_ids):
        s = sims_all[qi]
        order = sorted(range(len(ids)), key=lambda j: (-s[j], ids[j]))
        rank = 0
        for j in order:
            if ids[j] == qid:
                continue
            rank += 1
            ann_rows.append(
                dict(query_id=int(qid), rank=rank, neighbor_id=int(ids[j]),
                     sim=_round_half_up(float(s[j]), 4))
            )
            if rank == 5:
                break
    pq.write_table(
        pa.Table.from_pylist(
            ann_rows,
            schema=pa.schema(
                [("query_id", pa.int64()), ("rank", pa.int32()),
                 ("neighbor_id", pa.int64()), ("sim", pa.float64())]
            ),
        ),
        os.path.join(out_dir, "gold_ann_topk.parquet"),
    )

    # --- ANN bucket-partitioned index probe (the 100-TB path): exact
    # single-node twin of operators/similarity.ann_index_topk over a
    # write_ann_index(kind='lsh', n_planes=8) index with multiprobe=1 —
    # same deterministic planes, same f32 normalization, same probe-set
    # insertion order, same (Q,D)@(D,) matvec rerank, same
    # (sim desc, id asc) cut and HALF_UP rounding.
    from itertools import combinations

    from ..operators.similarity import _bucket_of as _sim_bucket_of
    from ..operators.similarity import _normalize_rows as _sim_normalize
    from ..operators.similarity import _planes as _sim_planes

    n_idx_planes, multiprobe, k_idx = 8, 1, 5
    planes_idx = _sim_planes(n_idx_planes, mat.shape[1])
    corpus_n = _sim_normalize(mat)
    corpus_buckets = _sim_bucket_of(corpus_n, planes_idx)
    qn = _sim_normalize(mat[q_mask])
    q_buckets = _sim_bucket_of(qn, planes_idx)
    flip_masks = [0]
    for r in range(1, max(0, multiprobe) + 1):
        for bits in combinations(range(n_idx_planes), r):
            mval = 0
            for b in bits:
                mval |= 1 << b
            flip_masks.append(mval)
    probe: dict = {}
    for qi, b in enumerate(q_buckets):
        for mval in flip_masks:
            probe.setdefault(int(b) ^ mval, []).append(qi)
    cand: dict = {}  # qi -> [(sim, neighbor_id)]
    for j in range(corpus_n.shape[0]):
        qis = probe.get(int(corpus_buckets[j]))
        if not qis:
            continue
        sims = qn[qis].astype(np.float64) @ corpus_n[j].astype(np.float64)
        for t, qi in enumerate(qis):
            if int(ids[j]) == int(q_ids[qi]):
                continue  # exclude_self
            cand.setdefault(qi, []).append((float(sims[t]), int(ids[j])))
    ann_idx_rows: List[dict] = []
    for qi in range(len(q_ids)):
        got = sorted(cand.get(qi, []), key=lambda sn: (-sn[0], sn[1]))
        for rank, (s, nid) in enumerate(got[:k_idx], start=1):
            ann_idx_rows.append(
                dict(query_id=int(q_ids[qi]), rank=rank, neighbor_id=nid,
                     sim=_round_half_up(s, 4))
            )
    pq.write_table(
        pa.Table.from_pylist(
            ann_idx_rows,
            schema=pa.schema(
                [("query_id", pa.int64()), ("rank", pa.int32()),
                 ("neighbor_id", pa.int64()), ("sim", pa.float64())]
            ),
        ),
        os.path.join(out_dir, "gold_ann_index_topk.parquet"),
    )

    # --- ANN IVF bucket-partitioned index probe: exact single-node
    # twin of write_ann_index(kind='ivf', n_centroids=16) +
    # ann_index_topk(n_probe=4) — shared lloyd_centroids kernel (same
    # id-sorted 2048-row sample, same f32 normalization), same per-row
    # argmax cell assignment, same argsort probe order, same matvec
    # rerank / cut / rounding as the LSH twin above.
    from ..operators.similarity import lloyd_centroids

    n_cells, n_probe_ivf, k_ivf = 16, 4, 5
    order_by_id = np.argsort(ids, kind="stable")
    sample_idx = order_by_id[:2048]
    centroids = lloyd_centroids(
        _sim_normalize(mat[sample_idx]), n_cells
    )
    cells_all = np.argmax(
        corpus_n.astype(np.float64) @ centroids.T.astype(np.float64),
        axis=1,
    ).astype(np.int64)
    q_sims_ivf = qn.astype(np.float64) @ centroids.T.astype(np.float64)
    npb = min(n_probe_ivf, centroids.shape[0])
    probe_ivf: dict = {}
    for qi in range(len(q_ids)):
        for c in np.argsort(-q_sims_ivf[qi])[:npb]:
            probe_ivf.setdefault(int(c), []).append(qi)
    cand_ivf: dict = {}
    for j in range(corpus_n.shape[0]):
        qis = probe_ivf.get(int(cells_all[j]))
        if not qis:
            continue
        sims = qn[qis].astype(np.float64) @ corpus_n[j].astype(np.float64)
        for t, qi in enumerate(qis):
            if int(ids[j]) == int(q_ids[qi]):
                continue  # exclude_self
            cand_ivf.setdefault(qi, []).append(
                (float(sims[t]), int(ids[j]))
            )
    ivf_rows: List[dict] = []
    for qi in range(len(q_ids)):
        got = sorted(cand_ivf.get(qi, []), key=lambda sn: (-sn[0], sn[1]))
        for rank, (s, nid) in enumerate(got[:k_ivf], start=1):
            ivf_rows.append(
                dict(query_id=int(q_ids[qi]), rank=rank, neighbor_id=nid,
                     sim=_round_half_up(s, 4))
            )
    pq.write_table(
        pa.Table.from_pylist(
            ivf_rows,
            schema=pa.schema(
                [("query_id", pa.int64()), ("rank", pa.int32()),
                 ("neighbor_id", pa.int64()), ("sim", pa.float64())]
            ),
        ),
        os.path.join(out_dir, "gold_ann_ivf_topk.parquet"),
    )

    # --- embedding-cosine near-dup pairs: SAME banding + SAME cosine
    # helper as the distributed operator (shared functions), single node
    from ..operators.similarity import (
        _emb_band_keys,
        _normalize_rows,
        _pair_cosine,
        _planes,
    )

    n_bands, n_planes, thr = 8, 4, 0.35
    planes = _planes(n_bands * n_planes, mat.shape[1])
    normed32 = normed.astype(np.float32)
    keys = _emb_band_keys(normed32, planes, n_bands, n_planes)
    buckets: dict = {}
    for r, row in enumerate(keys):
        for kk in row:
            buckets.setdefault(kk, []).append(r)
    cand = set()
    for members in buckets.values():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                i, j = members[x], members[y]
                if ids[i] < ids[j]:
                    cand.add((i, j))
                elif ids[j] < ids[i]:
                    cand.add((j, i))
    nd_rows: List[dict] = []
    if cand:
        cl = sorted(cand)
        ai = np.array([c[0] for c in cl])
        bi = np.array([c[1] for c in cl])
        sims = _pair_cosine(mat[ai], mat[bi])
        for (i, j), s in zip(cl, sims):
            s4 = _round_half_up(float(s), 4)
            if s4 >= thr:
                nd_rows.append(
                    dict(vec_a=int(ids[i]), vec_b=int(ids[j]), sim=s4)
                )
    pq.write_table(
        pa.Table.from_pylist(
            nd_rows,
            schema=pa.schema(
                [("vec_a", pa.int64()), ("vec_b", pa.int64()),
                 ("sim", pa.float64())]
            ),
        ),
        os.path.join(out_dir, "gold_emb_neardup.parquet"),
    )

    with open(done, "w") as f:
        f.write(tag)
    return out_dir

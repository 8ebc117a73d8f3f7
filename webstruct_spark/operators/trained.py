# -*- coding: utf-8 -*-
"""Trained-model tagging path (closes SURVEY M1): fit the averaged-
perceptron CRF of :mod:`webstruct_spark.kernel.crf` on labeled turns,
broadcast its weights, tag by distributed batched-Viterbi inference.

Mirrors the reference train→predict workflow
(/root/reference/webstruct/crfsuite.py:49-97,
/root/reference/webstruct/wapiti.py:178-246): the labeled turns are
what the reference would load from annotated trees; the predict
(:func:`crf_tagged_mentions`) is the same flat-row mapInArrow pass as
the rule tagger, fully distributed and narrow.

Two fits:

* :func:`train_crf` — driver-side, on a bounded order-deterministic
  head (``sample`` turns), the reference CI's posture (it trains on a
  handful of pages).  That collect is its only driver materialization.
* :func:`train_crf_distributed` — the FULL corpus by iterated
  parameter mixing, stated as three steps whose only contract is the
  compact per-shard record of :func:`_compact_shard`:

  1. :func:`prepare_fit_rows` — turns → one compact record per shard
     (sorted, tokenized, gold-encoded, featurized, int-interned); the
     only way rows enter a fit;
  2. :func:`min_df_whitelists` — the one document-frequency counter:
     per held-out tag, the features that reach ``min_df`` sequences
     among the other rows (``None`` holds nothing out);
  3. :func:`fit_prepared` — one executor pass cuts the held-out rows,
     applies the whitelist and the hash remap, is persisted once, and
     the mixing rounds run over it.

  :func:`train_crf_distributed` runs the three on one corpus;
  :mod:`webstruct_spark.operators.domain_cv` prepares once and runs
  whitelist → fit per fold.  Each has a single-node twin
  (:func:`train_crf_local`, :func:`train_crf_mixed_local`) with
  byte-identical weights.
"""
from __future__ import annotations

import uuid
from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel.bilou import encode_tokens
from ..kernel.crf import CRFTagger
from ..kernel.tokenize import default_segment_words
from .tagger import DEFAULT_TYPES

_CRF_CACHE: Dict[str, CRFTagger] = {}


def labeled_sequences(text: str) -> Tuple[List[str], List[str]]:
    """(clean_tokens, gold_iob2_tags) from one marker-bearing turn."""
    toks = default_segment_words(text or "")
    chars = [t[0] for t in toks]
    idx_tags = encode_tokens(chars)
    return [chars[i] for i, _ in idx_tags], [t for _, t in idx_tags]


def _fit_texts_compact(
    model: CRFTagger, texts, epochs: int
) -> CRFTagger:
    """Fit ``model`` over ``texts`` (in the given order) through the
    COMPACT path (:func:`_compact_shard` + :meth:`CRFTagger.
    fit_compact`, native epoch loop) — byte-identical to
    ``model.fit([labeled_sequences(t) for t in texts], epochs=...)``
    (pinned by tests/test_trained_crf.py::test_train_crf_compact_
    equals_fit) at ~10x less driver time.  The hashed feature space
    pre-maps the vocab exactly like the distributed trainer's
    transform pass (fit_compact vocab entries are FINAL names)."""
    import numpy as np

    rec = _compact_shard(0, 1, [((None, 0, t), 0) for t in texts])
    (_pid, _n, _rt, tag_vocab, rtc, gid, tfc, fid, vocab) = rec
    if model.feat_hash_dim:
        fid, vocab = _hash_remap(vocab, fid, model._fx)
    return model.fit_compact(
        tag_vocab, rtc, gid, tfc, fid, vocab, epochs=epochs
    )


def _hash_remap(vocab, fid, fx):
    """Map a compact record's vocab through the feature-space hash
    ``fx``, re-interning duplicate buckets in old-vocab scan order —
    the ONE bucket-remap used by both the driver-side compact fit and
    the distributed trainer's transform pass (interning order is
    numerically irrelevant: the weight dict is keyed by name).
    Returns (new_fid, new_vocab)."""
    import numpy as np

    lut = np.empty(len(vocab), dtype=np.int32)
    new_vocab: list = []
    bix: dict = {}
    for j, f in enumerate(vocab):
        b = fx(f)
        k = bix.get(b)
        if k is None:
            k = bix[b] = len(new_vocab)
            new_vocab.append(b)
        lut[j] = k
    return lut[fid], new_vocab


def train_crf(
    turns: DataFrame,
    entity_types=DEFAULT_TYPES,
    sample: int = 1500,
    epochs: int = 4,
    text_col: str = "text",
    feat_hash_dim: int | None = None,
) -> CRFTagger:
    """Fit the averaged-perceptron CRF on the first ``sample`` labeled
    turns in stable (conv_id, turn_idx) order — deterministic, so a
    single-node fit on the same rows yields identical weights."""
    rows = (
        turns.select("conv_id", "turn_idx", F.col(text_col).alias("text"))
        .orderBy("conv_id", "turn_idx")
        .limit(sample)
        .collect()
    )
    return _fit_texts_compact(
        CRFTagger(entity_types, feat_hash_dim=feat_hash_dim),
        [r["text"] for r in rows],
        epochs,
    )


def train_crf_local(
    texts, entity_types=DEFAULT_TYPES, sample: int = 1500, epochs: int = 4,
    feat_hash_dim: int | None = None,
) -> CRFTagger:
    """Single-node twin of :func:`train_crf` over an already-ordered
    text iterable (the gold builder path).  Must stay in lockstep."""
    return _fit_texts_compact(
        CRFTagger(entity_types, feat_hash_dim=feat_hash_dim),
        list(texts)[:sample],
        epochs,
    )


# -- distributed training (iterated parameter mixing) -------------------


def _compact_shard(pid, n_parts, rows):
    """One COMPACT per-shard record from ``rows`` = [( (conv_id,
    turn_idx, text), tag )] ALREADY in full-triple sorted order:

    ``(pid, n_parts, row_tags, tag_vocab, row_tok_counts, gold_ids,
    tok_feat_counts, feat_ids, vocab)``

    with int32 id arrays into the per-shard ``tag_vocab`` /  ``vocab``
    string lists (first-occurrence interning).  ``n_parts`` is the
    shard modulus of ``pid = crc32(conv_id) % n_parts``; it rides in
    the record so the trainer can check it after any RDD
    transformation.  This is the ONE compaction every distributed
    fit caches (and the driver-side compact fit reuses), so a full fit
    and a CV fold's cut see byte-identical inputs BY CONSTRUCTION
    (pytest-pinned vs the single-node twin).  Why compact: the cached
    RDD is re-deserialized by EVERY mixing round and every CV fold —
    as per-token feature-string lists that unpickle cost ~1 s/round at
    sf0.1 (it was the dominant trainer cost, >4x the actual perceptron
    epochs); as flat int arrays it is ~20x smaller and near-free to
    load.  Feature ORDER per token and row order are exactly the
    string path's, so :meth:`CRFTagger.fit_compact` replays the
    identical float-op sequence."""
    import numpy as np

    from ..kernel.crf import token_features

    row_tags = []
    tag_vocab: list = []
    tag_ix: dict = {}
    vocab: list = []
    vocab_ix: dict = {}
    row_tok_counts = []
    gold_ids = []
    tok_feat_counts = []
    feat_ids = []
    for key, tag in rows:
        row_tags.append(tag)
        toks, gtags = labeled_sequences(key[2])
        row_tok_counts.append(len(toks))
        for t in gtags:
            gi = tag_ix.get(t)
            if gi is None:
                gi = tag_ix[t] = len(tag_vocab)
                tag_vocab.append(t)
            gold_ids.append(gi)
        for i in range(len(toks)):
            fl = token_features(toks, i)
            tok_feat_counts.append(len(fl))
            for f in fl:
                fi = vocab_ix.get(f)
                if fi is None:
                    fi = vocab_ix[f] = len(vocab)
                    vocab.append(f)
                feat_ids.append(fi)
    return (
        pid,
        n_parts,
        row_tags,
        tag_vocab,
        np.asarray(row_tok_counts, dtype=np.int32),
        np.asarray(gold_ids, dtype=np.int32),
        np.asarray(tok_feat_counts, dtype=np.int32),
        np.asarray(feat_ids, dtype=np.int32),
        vocab,
    )


def _murmur3_int(x: int, seed: int = 42) -> int:
    """Murmur3 x86_32 of one little-endian int32 — the exact hash
    Spark's ``HashPartitioning`` applies to an IntegerType column
    (seed 42), re-expressed in Python so the driver can pick hash
    PREIMAGES (public algorithm; pinned against ``F.hash`` in
    tests/test_trained_crf.py).  Returns the signed int32 value."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    k = (x & 0xFFFFFFFF) * c1 & 0xFFFFFFFF
    k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
    k = k * c2 & 0xFFFFFFFF
    h = seed
    h ^= k
    h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
    h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    h ^= 4  # total bytes hashed
    h ^= h >> 16
    h = h * 0x85EBCA6B & 0xFFFFFFFF
    h ^= h >> 13
    h = h * 0xC2B2AE35 & 0xFFFFFFFF
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def _identity_slots(n: int) -> List[int]:
    """``slots[p]`` = smallest non-negative int whose Spark hash
    partition (``pmod(murmur3_int(k), n)``) is ``p`` — the preimage
    table that lets a DataFrame ``repartition(n, slot_col)`` place
    each shard on its own partition (identity layout) while the
    shuffle stays entirely JVM-side.  Pure function of ``n``."""
    slots: List[Optional[int]] = [None] * n
    left = n
    k = 0
    while left:
        p = _murmur3_int(k) % n
        if slots[p] is None:
            slots[p] = k
            left -= 1
        k += 1
    return slots  # type: ignore[return-value]


def prepare_fit_rows(
    turns: DataFrame,
    n_parts: int = 8,
    text_col: str = "text",
    tag_col: str | None = None,
):
    """Fit inputs for :func:`min_df_whitelists` and
    :func:`fit_prepared`: an RDD with ONE compact record per shard
    (see :func:`_compact_shard`), identity-partitioned by ``pid =
    crc32(conv_id) % n_parts``, with the per-shard full-triple sort,
    tokenization, gold BILOU encoding, and token-feature extraction
    already done.

    Tokenize/featurize are the expensive, ROW-LOCAL, split-invariant
    part of every fit, so a k-fold caller (:func:`webstruct_spark.
    operators.domain_cv.domain_group_kfold_eval`) prepares the corpus
    ONCE and fits each fold's training cut from it with
    ``fit_prepared(..., held_out=fold)`` — the cut runs executor-side
    on the per-row tag (no driver-held id sets).  Filtering rows
    AFTER the sort preserves order, so a fold's cut is byte-identical
    to sorting the cut itself (pytest-gated in test_trained_crf).

    ``tag_col`` names an int/str column carried per row (e.g. the CV
    fold) for ``held_out`` to match; None stores 0.

    The caller owns persistence: ``rdd.persist(...)`` before the
    first fit, ``unpersist()`` after the last.
    """
    import pickle

    import pandas as pd
    from pyspark.sql import functions as F

    cols = ["conv_id", "turn_idx", F.col(text_col).alias("text")]
    if tag_col is not None:
        cols.append(F.col(tag_col).alias("_tag"))
    src = turns.select(*cols).withColumn(
        "pid",
        (F.crc32(F.col("conv_id").cast("binary")) % n_parts).cast("int"),
    )
    has_tag = tag_col is not None

    # Shard assembly rides groupBy(pid).applyInPandas — the Arrow/JVM
    # shuffle — instead of df.rdd + partitionBy, whose row-at-a-time
    # JVM→pickle conversion alone cost ~2 s at sf0.1.  Each pid group
    # IS a shard regardless of which task it lands on; the compact
    # record travels as one pickled blob, and a hash-preimage slot
    # column places one shard per partition via a JVM repartition
    # (see below) so the fit rounds stay balanced.  Memory
    # posture unchanged from the sort-based path: one shard's rows
    # were always materialized per task (n_parts scales with corpus).
    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        pid = int(pdf["pid"].iloc[0])
        tags = pdf["_tag"].tolist() if has_tag else None
        rows = [
            ((cid, int(ti), tx), tags[i] if tags is not None else 0)
            for i, (cid, ti, tx) in enumerate(
                zip(
                    pdf["conv_id"].tolist(),
                    pdf["turn_idx"].tolist(),
                    pdf["text"].tolist(),
                )
            )
        ]
        # per-shard FULL-TRIPLE sort: a (conv_id, turn_idx)-only key
        # would leave duplicate-key order to arrival order
        rows.sort(key=lambda r: r[0])
        rec = _compact_shard(pid, n_parts, rows)
        return pd.DataFrame(
            {"pid": [pid], "blob": [pickle.dumps(rec, protocol=4)]}
        )

    # explicit-count repartition on pid BEFORE the groupBy: the
    # groups' OUTPUT is tiny (one blob per shard), so AQE would
    # coalesce the groupBy exchange to 1-2 tasks and run the whole
    # featurization on 1-2 cores (measured: 2 tasks / 4.3 s of
    # execRun at sf0.1).  A user-specified partition count is exempt
    # from AQE coalescing, and groupBy reuses the compatible
    # partitioning; 4x n_parts keeps the balls-in-bins max load near
    # one shard per task.
    compact_df = (
        src.repartition(4 * n_parts, F.col("pid"))
        .groupBy("pid")
        .applyInPandas(_build, "pid int, blob binary")
    )
    # one-shard-per-partition layout WITHOUT the Python-level
    # partitionBy: map each pid to a Murmur3 hash PREIMAGE whose
    # Spark hash partition is exactly pid, so a plain DataFrame
    # repartition places every blob identically — the shuffle of the
    # ~MB blobs stays JVM-side and the DF→RDD pickle conversion runs
    # once on the already-placed rows (measured 3x cheaper than
    # .rdd + partitionBy at sf0.1; placement only affects balance,
    # never results — fit records are self-contained and the mix
    # averages in explicit ascending-pid order).
    slots = _identity_slots(n_parts)
    slot_col = F.element_at(
        F.array(*[F.lit(int(k)) for k in slots]), F.col("pid") + 1
    ).cast("int")
    return (
        compact_df.withColumn("_slot", slot_col)
        .repartition(n_parts, F.col("_slot"))
        .rdd.mapPartitions(
            lambda it: (pickle.loads(bytes(r["blob"])) for r in it)
        )
    )


def _check_rounds(rounds: int) -> None:
    """Zero mixing rounds would return the untrained initial model
    without ever looking at the data, so refuse them up front."""
    if rounds < 1:
        raise ValueError(
            "CRF mixing needs rounds >= 1, got %r" % (rounds,)
        )


def min_df_whitelists(prepared, min_df: int, held_out=(None,)):
    """``{h: frozenset}``: for each held-out tag ``h``, the feature
    names whose document frequency (number of training sequences
    containing them) over the rows NOT tagged ``h`` is at least
    ``min_df`` — ``None`` holds nothing out, so its whitelist is
    ``total >= min_df``; a tag ``f`` gives ``total - count_in_f >=
    min_df``.  The ONE document-frequency counter of the package:
    the single-corpus fit asks for ``[None]``, k-fold CV for every
    fold at once, so k df jobs collapse into one pass over the
    prepared records.

    This is the reference's min_df posture (/root/reference/
    webstruct/feature_extraction.py:147-163 prunes rare features the
    same way) applied to the perceptron feature space: the ``w=``/
    ``p=``/``n=`` lexical features are Zipf-distributed, so df>=2
    alone removes the hapax majority, and the per-round weight blobs,
    the mix shuffle and the broadcast model then scale with the
    SHARED vocabulary.  Counts are per-sequence unique features — the
    integers :func:`train_crf_mixed_local` counts in Python.  The
    collect is filtered on ``total >= min_df`` first: a feature below
    it is below it in every cut too, so the hapax majority never
    reaches the driver."""
    from operator import add as _add

    held = list(held_out)
    tags = dict.fromkeys(h for h in held if h is not None)
    pos = {h: i for i, h in enumerate(tags)}
    k = len(pos)

    def _df_pairs(rec, _pos=pos, _k=k):
        import numpy as np

        (_pid, _n, row_tags, _tv, rtc, _gid, tfc, fid, vocab) = rec
        # column _k counts every sequence; column i only those tagged
        # with the i-th held-out value
        counts = np.zeros((len(vocab), _k + 1), dtype=np.int64)
        feat_off = np.zeros(len(tfc) + 1, dtype=np.int64)
        np.cumsum(tfc, out=feat_off[1:])
        row_tok_off = np.zeros(len(rtc) + 1, dtype=np.int64)
        np.cumsum(rtc, out=row_tok_off[1:])
        row_feat_off = feat_off[row_tok_off]
        for r in range(len(rtc)):
            seg = fid[row_feat_off[r] : row_feat_off[r + 1]]
            if len(seg):
                u = np.unique(seg)
                col = _pos.get(row_tags[r])
                if col is not None:
                    counts[u, col] += 1
                counts[u, _k] += 1
        nz = np.nonzero(counts[:, _k])[0]
        for j, c in zip(nz.tolist(), counts[nz].tolist()):
            yield vocab[j], tuple(c)

    pairs = (
        prepared.flatMap(_df_pairs)
        .reduceByKey(lambda a, b: tuple(map(_add, a, b)))
        .filter(lambda kv, _k=k, _m=min_df: kv[1][_k] >= _m)
        .collect()
    )
    return {
        h: frozenset(
            f
            for f, c in pairs
            if c[k] - (0 if h is None else c[pos[h]]) >= min_df
        )
        for h in held
    }


def _fit_rows(it, held_out, bc_wl, fx):
    """The one executor pass of :func:`fit_prepared` over compact
    records: drop the rows tagged ``held_out``, keep only whitelisted
    features (on raw names), then remap them to hash buckets — each
    step optional.  Rows were sorted BEFORE compaction and filtering
    preserves order, so a cut equals compacting the filtered rows
    directly; a record left with no rows is dropped."""
    import numpy as np

    wl = bc_wl.value if bc_wl is not None else None
    for rec in it:
        (pid, n, row_tags, tv, rtc, gid, tfc, fid, vocab) = rec
        if held_out is not None:
            rmask = np.fromiter(
                (t != held_out for t in row_tags),
                dtype=bool, count=len(row_tags),
            )
            if not rmask.any():
                continue
            if not rmask.all():
                tmask = np.repeat(rmask, rtc)
                fmask = np.repeat(tmask, tfc)
                row_tags = [t for t, k in zip(row_tags, rmask) if k]
                rtc, gid, tfc = rtc[rmask], gid[tmask], tfc[tmask]
                fid = fid[fmask]
        if wl is not None:
            vmask = np.fromiter(
                (f in wl for f in vocab), dtype=bool, count=len(vocab)
            )
            fkeep = vmask[fid]
            cum = np.zeros(len(fkeep) + 1, dtype=np.int64)
            np.cumsum(fkeep, out=cum[1:])
            feat_off = np.zeros(len(tfc) + 1, dtype=np.int64)
            np.cumsum(tfc, out=feat_off[1:])
            tfc = (cum[feat_off[1:]] - cum[feat_off[:-1]]).astype(np.int32)
            fid = fid[fkeep]
        if fx is not None:
            fid, vocab = _hash_remap(vocab, fid, fx)
        yield pid, n, row_tags, tv, rtc, gid, tfc, fid, vocab


def fit_prepared(
    prepared,
    n_parts: int = 8,
    rounds: int = 4,
    entity_types=DEFAULT_TYPES,
    whitelist=None,
    feat_hash_dim: int | None = None,
    held_out=None,
) -> CRFTagger:
    """Iterated-parameter-mixing fit (McDonald, Hall & Mann, NAACL
    2010) over a :func:`prepare_fit_rows` RDD: each mixing round
    broadcasts the current weights, every shard runs one deterministic
    averaged-perceptron epoch from them, and the per-feature parameter
    average is computed EXECUTOR-SIDE in ascending pid order.

    ``held_out`` drops the rows whose tag equals it (a CV fold's
    training cut); ``whitelist`` keeps only those feature names (from
    :func:`min_df_whitelists`, computed for the same ``held_out``);
    ``feat_hash_dim`` hashes every feature into a FIXED number of
    buckets (the hashing trick, Weinberger et al. 2009) — a corpus-
    independent model bound; the model owns the map, so broadcast
    inference applies it transparently.  One ``mapPartitions`` pass
    (:func:`_fit_rows`) applies all three and is persisted once
    (MEMORY_AND_DISK — spills, never OOMs); with none of them set the
    rounds run on ``prepared`` as is, whose persistence the caller
    owns.

    Determinism (load-bearing for the driver hash oracle vs the
    single-node twin :func:`train_crf_mixed_local`): shards are
    ``crc32(conv_id) % n_parts``, every shard fit is input-order
    deterministic with no RNG, and every per-feature average sums its
    shard vectors in ascending pid order from a zero accumulator —
    the float-op sequence of :meth:`CRFTagger.average_exports`, so the
    weights are byte-identical to the twin's.  Records are self-
    contained (each carries its pid, its shard modulus and its whole
    shard), so any placement of intact records gives the same weights;
    placement only affects balance.  The modulus every record carries
    must equal ``n_parts``, else round 0 raises; a fit that sees no
    record raises "no training data".

    Each round is a shuffle-free ``mapPartitions`` epoch (native C
    inner loop, kernel/_crf_native.c) followed by a small feature-
    BLOCK ``groupByKey`` whose averaged output — exactly ONE model —
    is what the driver collects and broadcasts; the driver never holds
    n_parts weight blobs at once."""
    _check_rounds(rounds)
    import functools

    from pyspark import StorageLevel

    # broadcasts must go through the context that owns the fit rows
    # (not a thread-local "active" session, which can differ in
    # multi-session drivers)
    sc = prepared.context
    model = CRFTagger(entity_types, feat_hash_dim=feat_hash_dim)
    bc_wl = None
    if whitelist is not None:
        bc_wl = sc.broadcast(frozenset(whitelist))
    if held_out is None and bc_wl is None and not feat_hash_dim:
        rows = prepared
    else:
        # lazy persist: round 0 materializes the cache while it fits
        rows = prepared.mapPartitions(
            functools.partial(
                _fit_rows, held_out=held_out, bc_wl=bc_wl,
                fx=model._fx if feat_hash_dim else None,
            ),
            preservesPartitioning=True,
        ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        blocks = model.to_blocks()
        for _round in range(rounds):
            blocks = _mix_round(rows, blocks, n_parts)
        return CRFTagger.from_blocks(blocks)
    finally:
        if rows is not prepared:
            rows.unpersist()
        if bc_wl is not None:
            # safe only after the filtered RDD is unpersisted: nothing
            # can recompute it once its whitelist broadcast is gone
            bc_wl.destroy()


def _mix_round(rows, blocks, n_parts: int) -> tuple:
    """One mixing round of :func:`fit_prepared`: broadcast ``blocks``
    (:meth:`CRFTagger.to_blocks` form), fit one epoch per shard,
    average executor-side, and return the mixed model's blocks."""
    import numpy as np

    sc = rows.context
    tags, feat_hash_dim = blocks[0], blocks[5]
    T = len(tags)
    # weights travel in MATRIX form between driver and executors
    # (to_blocks/from_blocks): one contiguous ndarray instead of a
    # per-feature list dict — ~10x cheaper to (un)pickle at the
    # unpruned vocabulary (the per-round driver rebuild + export +
    # broadcast was ~0.5 s/round at sf0.1).  Values are
    # bit-identical; only the transport changed.
    bc = sc.broadcast(blocks)

    def fit_part(it, _bc=bc):
        for rec in it:
            m = CRFTagger.from_blocks(_bc.value)
            m.fit_compact(*rec[3:], epochs=1)
            yield rec[0], rec[1], m.w, m.trans, m.init

    # The executor-side mix ships feature BLOCKS, not single
    # features: per (shard, block) one (keys, stacked-matrix)
    # record — crc32(f) % n_blocks is deterministic, so every
    # shard blocks identically.  Per-feature records (vocab ×
    # n_parts tiny pickled tuples; ~116k at sf0.1/32 shards)
    # made the mix shuffle the dominant per-round cost; blocks
    # cut the record count ~50x at identical math: inside a
    # block each feature still averages as zero-accumulator +
    # ascending-pid adds + /P — the float-op sequence of
    # average_exports exactly (np.stack copies values
    # bit-exactly).  Sentinel blocks can't collide with real
    # ones: ints for features, strings for trans/init.
    n_blocks = 4 * max(8, n_parts)

    def expand(rec, _nb=n_blocks):
        import zlib as _zlib

        pid, n, w, trans, init = rec
        # the trans sentinel is keyed by the record's shard
        # modulus, so its collected keys are every n_parts the
        # fit saw
        yield "\x00trans", (pid, ([n], trans.reshape(1, -1)))
        yield "\x00init", (pid, ([0], init.reshape(1, -1)))
        blocks: dict = {}
        for f, v in w.items():
            b = _zlib.crc32(f.encode("utf-8")) % _nb
            blk = blocks.get(b)
            if blk is None:
                blk = blocks[b] = ([], [])
            blk[0].append(f)
            blk[1].append(v)
        for b, (keys, vs) in blocks.items():
            yield b, (pid, (keys, np.stack(vs)))

    def avg(vals):
        # zero accumulator + ascending-pid adds per key — the
        # float-op sequence of average_exports; the /P divide
        # happens ONCE on the driver (elementwise over the
        # assembled matrix — the same per-element sum/P op in
        # the same order, bit-equal).  n_contribs rides along:
        # for the trans/init sentinel blocks it equals the
        # live record count, which is exactly P.
        vl = sorted(vals, key=lambda kv: kv[0])
        accs: dict = {}
        for _pid, (keys, mat) in vl:
            for k, row in zip(keys, mat):
                a = accs.get(k)
                if a is None:
                    a = accs[k] = np.zeros_like(row)
                a += row
        ks = list(accs.keys())
        return len(vl), ks, np.stack([accs[k] for k in ks])

    items = (
        rows.mapPartitions(fit_part)
        .flatMap(expand)
        .groupByKey(numPartitions=max(8, n_parts))
        .mapValues(avg)
        .collect()
    )
    bc.destroy()
    if not items:
        raise ValueError("fit_prepared: no training data")
    P = None
    trans = init = None
    keys_all: list = []
    mats: list = []
    for blk, (n_contribs, ks, mat) in items:
        if blk == "\x00trans":
            if ks != [n_parts]:
                # a prepared RDD built with another shard
                # modulus would fit a different shard split
                # than the caller (and the twin) believe
                raise ValueError(
                    "fit_prepared: prepared RDD was "
                    "built with %s shards but n_parts=%d — "
                    "prepare_fit_rows must be built with the "
                    "same n_parts"
                    % ("/".join(map(str, sorted(ks))), n_parts)
                )
            P = float(n_contribs)
            trans = mat[0].reshape(T, T)
        elif blk == "\x00init":
            init = mat[0].reshape(T)
        else:
            keys_all.extend(ks)
            mats.append(mat)
    wmat = (
        np.vstack(mats) / P
        if mats
        else np.zeros((0, T), dtype=np.float64)
    )
    return (tags, keys_all, wmat, trans / P, init / P, feat_hash_dim)


def train_crf_distributed(
    turns: DataFrame,
    entity_types=DEFAULT_TYPES,
    n_parts: int = 8,
    rounds: int = 4,
    text_col: str = "text",
    min_feat_df: int | None = 2,
    feat_hash_dim: int | None = None,
) -> CRFTagger:
    """Distributed CRF training over the FULL labeled corpus — the
    reference's ``WapitiCRF.fit`` (/root/reference/webstruct/
    wapiti.py:178-246) trains on the whole annotated corpus, and so
    does this, without collecting it to the driver: prepare →
    whitelist → fit (:func:`prepare_fit_rows`,
    :func:`min_df_whitelists`, :func:`fit_prepared`).  ``min_feat_df``
    prunes features seen in fewer sequences (None or 1 disables);
    ``feat_hash_dim`` then hashes the survivors into fixed buckets.
    Byte-identical to :func:`train_crf_mixed_local`."""
    _check_rounds(rounds)
    from pyspark import StorageLevel

    prepared = prepare_fit_rows(
        turns, n_parts=n_parts, text_col=text_col
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        whitelist = None
        if min_feat_df is not None and min_feat_df > 1:
            whitelist = min_df_whitelists(prepared, min_feat_df)[None]
        return fit_prepared(
            prepared, n_parts, rounds, entity_types,
            whitelist=whitelist, feat_hash_dim=feat_hash_dim,
        )
    finally:
        prepared.unpersist()


def train_crf_mixed_local(
    rows,
    entity_types=DEFAULT_TYPES,
    n_parts: int = 8,
    rounds: int = 4,
    min_feat_df: int | None = 2,
    feat_hash_dim: int | None = None,
) -> CRFTagger:
    """Single-node twin of :func:`train_crf_distributed` over
    (conv_id, turn_idx, text) triples — identical shard assignment,
    global min-df feature pruning, per-shard fit, and ascending-pid
    mixing order, so the weights are byte-identical to the distributed
    fit (the gold-builder path).  Must stay in lockstep."""
    _check_rounds(rounds)
    import zlib
    from itertools import chain

    from ..kernel.crf import token_features

    rows = sorted(rows)
    shards: dict[int, list] = {}
    for cid, ti, tx in rows:
        pid = zlib.crc32(cid.encode("utf-8")) % n_parts
        shards.setdefault(pid, []).append((cid, ti, tx))
    # fit-ready inputs once per shard (the distributed _prep twin)
    shard_data: dict[int, tuple] = {}
    for pid in sorted(shards):
        seqs = [labeled_sequences(tx) for _cid, _ti, tx in shards[pid]]
        feats = [
            [token_features(toks, i) for i in range(len(toks))]
            for toks, _tags in seqs
        ]
        shard_data[pid] = (seqs, feats)
    if min_feat_df is not None and min_feat_df > 1:
        df_counts: dict[str, int] = {}
        for _seqs, feats in shard_data.values():
            for sf in feats:
                for f in set(chain.from_iterable(sf)):
                    df_counts[f] = df_counts.get(f, 0) + 1
        wl = frozenset(
            f for f, c in df_counts.items() if c >= min_feat_df
        )
        for pid, (seqs, feats) in shard_data.items():
            shard_data[pid] = (
                seqs,
                [[[f for f in fl if f in wl] for fl in sf] for sf in feats],
            )
    model = CRFTagger(entity_types, feat_hash_dim=feat_hash_dim)
    if feat_hash_dim:
        # hash once (round-invariant), mirroring the distributed cache
        for pid, (seqs, feats) in shard_data.items():
            shard_data[pid] = (
                seqs, [[model._fx_list(fl) for fl in sf] for sf in feats]
            )
    for _round in range(rounds):
        blob = model.export()
        blobs = []
        for pid in sorted(shard_data):
            seqs, feats = shard_data[pid]
            m = CRFTagger.from_export(blob)
            m.fit(
                seqs, epochs=1, feats_per_seq=feats, feats_prehashed=True
            )
            blobs.append(m.export())
        model = CRFTagger.average_exports(blobs)
    return model


def crf_tagged_mentions(
    turns: DataFrame,
    model: CRFTagger,
    text_col: str = "text",
) -> DataFrame:
    """Distributed inference with broadcast trained weights: flat
    mention rows (conv_id, turn_idx, mention_idx, text, entity_type,
    tok_start, tok_end) from plain (marker-stripped) token streams.
    Shares the one mapInArrow inference pass (batch and streaming
    frames alike) with the rule tagger
    (operators/tagger.py:_tagged_rows_df)."""
    from .tagger import _tagged_rows_df

    spark = turns.sparkSession
    bc = spark.sparkContext.broadcast(model.export())
    cache_key = uuid.uuid4().hex

    def get_model() -> CRFTagger:
        m = _CRF_CACHE.get(cache_key)
        if m is None:
            m = CRFTagger.from_export(bc.value)
            # small LRU, not clear-all: concurrent jobs (e.g. the CV
            # workflow's parallel folds) interleave tasks with
            # DIFFERENT models on reused worker processes — a single
            # slot would rebuild from the broadcast on every switch
            while len(_CRF_CACHE) >= 4:
                _CRF_CACHE.pop(next(iter(_CRF_CACHE)))
            _CRF_CACHE[cache_key] = m
        return m

    return _tagged_rows_df(turns, text_col, get_model)

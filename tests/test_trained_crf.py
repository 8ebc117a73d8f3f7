# -*- coding: utf-8 -*-
"""Trained-model path (M1): deterministic fit, distributed ==
single-node inference, and the reference CI quality gate (F1 > 0.3
after training — /root/reference/webstruct/tests/test_crfsuite.py:46-60)."""
import duckdb
import pytest
from pyspark.sql import functions as F

from webstruct_spark.kernel.crf import CRFTagger
from webstruct_spark.operators.trained import (
    crf_tagged_mentions,
    labeled_sequences,
    train_crf,
    train_crf_local,
)

CORPUS = "/root/repo/data/transcripts/sf0.001/transcripts.parquet"


def _texts():
    return [
        r[0]
        for r in duckdb.sql(
            "select text from read_parquet('%s') "
            "order by conv_id, turn_idx" % CORPUS
        ).fetchall()
    ]


def test_fit_is_deterministic():
    texts = _texts()
    m1 = train_crf_local(texts, sample=120, epochs=3)
    m2 = train_crf_local(texts, sample=120, epochs=3)
    assert m1.export() == m2.export()


def test_f1_gate_exceeds_reference_ci():
    """Reference CI trains and asserts F1 > 0.3; same gate here,
    segment-level vs marker-derived gold on held-out turns."""
    texts = _texts()
    m = train_crf_local(texts, sample=120, epochs=3)
    tp = fp = fn = 0
    from webstruct_spark.kernel.bilou import decode_mentions
    from webstruct_spark.kernel.smartjoin import smart_join

    held_out = texts[120:400]
    toks_all, gold_all = [], []
    for t in held_out:
        toks, gtags = labeled_sequences(t)
        toks_all.append(toks)
        gold_all.append(gtags)
    pred_all = m.predict_batch(toks_all)
    for toks, gt, pt in zip(toks_all, gold_all, pred_all):
        g = {
            (smart_join(toks[i] for i in it), ty)
            for it, ty in decode_mentions(list(range(len(toks))), gt)
        }
        p = {
            (smart_join(toks[i] for i in it), ty)
            for it, ty in decode_mentions(list(range(len(toks))), pt)
        }
        tp += len(g & p)
        fp += len(p - g)
        fn += len(g - p)
    f1 = 2 * tp / (2 * tp + fp + fn) if tp else 0.0
    assert f1 > 0.3, f1  # reference gate; in practice ~0.99 here


def test_distributed_equals_single_node(spark):
    turns = spark.read.parquet(CORPUS)
    model = train_crf(turns, sample=120, epochs=3)
    # identical weights from the single-node twin
    local = train_crf_local(_texts(), sample=120, epochs=3)
    assert model.export() == local.export()
    got = {
        (
            r["conv_id"], r["turn_idx"], r["mention_idx"],
            r["text"], r["entity_type"],
        )
        for r in crf_tagged_mentions(turns, model).collect()
    }
    # single-node predict over every turn
    from webstruct_spark.kernel.bilou import decode_mentions
    from webstruct_spark.kernel.smartjoin import smart_join
    from webstruct_spark.operators.tagger import plain_tokens

    rows = duckdb.sql(
        "select conv_id, turn_idx, text from read_parquet('%s') "
        "order by conv_id, turn_idx" % CORPUS
    ).fetchall()
    want = set()
    toks_all = [plain_tokens(t) for _c, _i, t in rows]
    tags_all = local.predict_batch(toks_all)
    for (cid, ti, _t), toks, tags in zip(rows, toks_all, tags_all):
        mi = 0
        for items, etype in decode_mentions(list(range(len(toks))), tags):
            want.add(
                (cid, ti, mi, smart_join(toks[i] for i in items), etype)
            )
            mi += 1
    assert got == want


def test_export_roundtrip():
    texts = _texts()
    m = train_crf_local(texts, sample=60, epochs=2)
    m2 = CRFTagger.from_export(m.export())
    toks = [labeled_sequences(t)[0] for t in texts[:50]]
    assert m2.predict_batch(toks) == m.predict_batch(toks)


def test_emissions_batch_bit_exact():
    """The vectorized emissions_batch must be float-bit-identical to
    the scalar _emissions oracle (same base + p-context + n-context add
    order), including empty turns, 1-token turns, unseen tokens, and
    repeated calls (interned-row cache reuse)."""
    import numpy as np

    texts = _texts()
    m = train_crf_local(texts, sample=120, epochs=3)
    token_lists = [labeled_sequences(t)[0] for t in texts[:300]]
    token_lists += [
        [],
        ["Zzq@unseen.example"],
        ["FAX:", "555-123-4567"],
        ["lone"],
        ["A"] * 200,
    ]
    for _pass in range(2):  # second pass exercises the warm cache
        batched = m.emissions_batch(token_lists)
        for toks, em in zip(token_lists, batched):
            ref = m._emissions(toks)
            assert em.shape == ref.shape
            assert np.array_equal(em, ref), toks[:5]


def test_predict_batch_matches_scalar_path():
    texts = _texts()
    m = train_crf_local(texts, sample=120, epochs=3)
    token_lists = [labeled_sequences(t)[0] for t in texts[:200]]
    from webstruct_spark.kernel.viterbi import viterbi_decode_batch

    ems = [m._emissions(t) for t in token_lists]
    want_paths = viterbi_decode_batch(ems, m.trans, init=m.init)
    want = [[m.tags[i] for i in p] for p in want_paths]
    assert m.predict_batch(token_lists) == want


def test_distributed_mixing_equals_local_twin(spark):
    """Iterated-parameter-mixing fit: Spark (identity-partitioned
    shard epochs + executor-side per-feature averaging in ascending
    pid order) == single-node twin, byte-identical weights — with the
    default min_feat_df=2 pruning on both sides."""
    from webstruct_spark.operators.trained import (
        train_crf_distributed,
        train_crf_mixed_local,
    )

    turns = spark.read.parquet(CORPUS)
    m_dist = train_crf_distributed(turns, n_parts=4, rounds=2)
    rows = duckdb.sql(
        "select conv_id, turn_idx, text from read_parquet('%s')" % CORPUS
    ).fetchall()
    m_loc = train_crf_mixed_local(rows, n_parts=4, rounds=2)
    assert m_dist.export() == m_loc.export()
    # warm-start correctness: second mixing round trains FROM the mixed
    # weights (not from zero) — rounds=2 must differ from rounds=1
    m_r1 = train_crf_mixed_local(rows, n_parts=4, rounds=1)
    assert m_r1.export() != m_loc.export()


def test_zero_rounds_refused_before_any_job(spark):
    """rounds=0 would hand back the untrained initial model without
    reading the corpus: the distributed trainer and its single-node
    twin both refuse it, the distributed one before any Spark job."""
    from webstruct_spark.operators.trained import (
        train_crf_distributed,
        train_crf_mixed_local,
    )

    turns = spark.read.parquet(CORPUS)
    sc = spark.sparkContext
    sc.setJobGroup("crf_rounds0", "rounds=0 refusal")
    try:
        with pytest.raises(ValueError, match="rounds"):
            train_crf_distributed(turns, n_parts=4, rounds=0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("crf_rounds0")) == []
    with pytest.raises(ValueError, match="rounds"):
        train_crf_mixed_local([("c1", 0, "hello world")], rounds=0)


def test_distributed_mixing_unpruned_path(spark):
    """min_feat_df=None disables pruning on both sides and the
    byte-identity contract still holds (pins the pre-round-4
    semantics as a reachable configuration)."""
    from webstruct_spark.operators.trained import (
        train_crf_distributed,
        train_crf_mixed_local,
    )

    turns = spark.read.parquet(CORPUS)
    m_dist = train_crf_distributed(
        turns, n_parts=4, rounds=1, min_feat_df=None
    )
    rows = duckdb.sql(
        "select conv_id, turn_idx, text from read_parquet('%s')" % CORPUS
    ).fetchall()
    m_loc = train_crf_mixed_local(
        rows, n_parts=4, rounds=1, min_feat_df=None
    )
    assert m_dist.export() == m_loc.export()
    # pruning must actually change (shrink) the fitted feature space
    m_pruned = train_crf_mixed_local(rows, n_parts=4, rounds=1)
    assert len(m_pruned.w) < len(m_loc.w)


def test_min_df_bounds_model_size_high_vocab(spark):
    """The round-3 scale caveat: on a corpus whose vocabulary grows
    with the row count (every turn carries unique tokens), the weight
    blobs must NOT — min_feat_df=2 prunes the hapax features, so the
    model is bounded by the shared vocabulary."""
    from itertools import chain

    from webstruct_spark.kernel.crf import token_features
    from webstruct_spark.operators.trained import (
        labeled_sequences,
        train_crf_distributed,
        train_crf_mixed_local,
    )

    # deterministic high-vocab corpus: each turn has a unique ticket
    # token (hapax by construction) INSIDE an entity span whose type
    # conflicts across conversations (same shared context labeled ORG
    # in even convs, PER in odd ones) — the perceptron keeps erring,
    # so the hapax w= features keep entering the unpruned weight dict
    # exactly the way a growing real-corpus vocabulary would
    rows = [
        (
            "c%03d" % (i % 40),
            i // 40,
            "Contact __START_%s__ UNIQ%06dX Office __END_%s__ today"
            % (("ORG", i, "ORG") if i % 2 == 0 else ("PER", i, "PER")),
        )
        for i in range(400)
    ]
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string"
    )
    m = train_crf_distributed(turns, n_parts=4, rounds=1)
    m_loc = train_crf_mixed_local(rows, n_parts=4, rounds=1)
    assert m.export() == m_loc.export()
    # no fitted feature may have df < 2 over the training sequences
    df_counts: dict = {}
    for _c, _t, tx in rows:
        toks, _tags = labeled_sequences(tx)
        feats = set(
            chain.from_iterable(
                token_features(toks, i) for i in range(len(toks))
            )
        )
        for f in feats:
            df_counts[f] = df_counts.get(f, 0) + 1
    for f in m.w:
        assert df_counts.get(f, 0) >= 2, f
    # and the hapax ticket features are really gone while the model
    # still learned: the unpruned fit keeps absorbing hapax vocabulary
    m_unpruned = train_crf_mixed_local(
        rows, n_parts=4, rounds=1, min_feat_df=None
    )
    assert not any(f.startswith("w=uniq") for f in m.w)
    assert any(f.startswith("w=uniq") for f in m_unpruned.w)
    assert len(m_unpruned.w) - len(m.w) > 30
    assert len(m.w) > 0


def test_mixed_model_f1_gate():
    texts_rows = duckdb.sql(
        "select conv_id, turn_idx, text from read_parquet('%s')" % CORPUS
    ).fetchall()
    from webstruct_spark.kernel.bilou import decode_mentions
    from webstruct_spark.kernel.smartjoin import smart_join
    from webstruct_spark.operators.trained import train_crf_mixed_local

    m = train_crf_mixed_local(texts_rows, n_parts=4, rounds=2)
    tp = fp = fn = 0
    toks_all, gold_all = [], []
    for _c, _i, t in texts_rows[:400]:
        toks, gtags = labeled_sequences(t)
        toks_all.append(toks)
        gold_all.append(gtags)
    pred_all = m.predict_batch(toks_all)
    for toks, gt, pt in zip(toks_all, gold_all, pred_all):
        g = {
            (smart_join(toks[i] for i in it), ty)
            for it, ty in decode_mentions(list(range(len(toks))), gt)
        }
        p = {
            (smart_join(toks[i] for i in it), ty)
            for it, ty in decode_mentions(list(range(len(toks))), pt)
        }
        tp += len(g & p)
        fp += len(p - g)
        fn += len(g - p)
    f1 = 2 * tp / (2 * tp + fp + fn) if tp else 0.0
    assert f1 > 0.3, f1  # reference CI gate; in practice ~0.99 here


def test_predict_top_n_trained():
    """E5 applied to the TRAINED model: rank-1 of the N-best decode
    equals plain predict exactly; merged output overlays lower-ranked
    entities only into 'O' slots of the best chain."""
    texts = _texts()
    m = train_crf_local(texts, sample=120, epochs=3)
    checked_equal = 0
    checked_merge = 0
    for t in texts[120:180]:
        toks, _tags = labeled_sequences(t)
        if not toks:
            continue
        plain = m.predict(toks)
        chains = m.predict_top_n(toks, n=3, merge=False)
        assert chains[0] == plain
        checked_equal += 1
        merged = m.predict_top_n(toks, n=3, merge=True)
        from webstruct_spark.kernel.viterbi import merge_top_n

        # merged must equal the kernel overlay of the raw chains —
        # exercises the merge wiring even when the overlay is a no-op
        assert merged == merge_top_n(chains)
        for got, best in zip(merged, plain):
            # merge never overwrites a non-'O' best-chain tag
            if best != "O":
                assert got == best
            if got != best:
                checked_merge += 1
    assert checked_equal > 20  # the loop really ran
    # the overlay branch itself is pinned deterministically: chain 2
    # fills an 'O' gap of chain 1
    assert merge_top_n([
        ["B-ORG", "O", "O", "O"],
        ["B-ORG", "O", "B-CITY", "I-CITY"],
    ]) == ["B-ORG", "O", "B-CITY", "I-CITY"]


def test_feature_hashing_bounds_and_matches_twin(spark):
    """feat_hash_dim: fixed corpus-independent model bound — every
    weight key is a hash bucket, the bucket count never exceeds the
    dimension, the distributed fit stays byte-identical to the twin,
    and the hashed model still clears the reference F1 gate."""
    from webstruct_spark.operators.trained import (
        crf_tagged_mentions,
        train_crf_distributed,
        train_crf_mixed_local,
    )

    turns = spark.read.parquet(CORPUS)
    dim = 512
    m_dist = train_crf_distributed(
        turns, n_parts=4, rounds=2, feat_hash_dim=dim
    )
    rows = duckdb.sql(
        "select conv_id, turn_idx, text from read_parquet('%s')" % CORPUS
    ).fetchall()
    m_loc = train_crf_mixed_local(
        rows, n_parts=4, rounds=2, feat_hash_dim=dim
    )
    assert m_dist.export() == m_loc.export()
    assert len(m_dist.w) <= dim
    assert all(f.startswith("#") and int(f[1:]) < dim for f in m_dist.w)
    # broadcast inference round-trips the hash dim through export
    got = crf_tagged_mentions(turns, m_dist)
    assert got.count() > 0
    # quality: hashed model still clears the reference CI gate by far
    texts = _texts()
    tp = fp = fn = 0
    from webstruct_spark.kernel.bilou import decode_mentions
    from webstruct_spark.kernel.smartjoin import smart_join

    toks_all, gold_all = [], []
    for t in texts[:300]:
        toks, gtags = labeled_sequences(t)
        toks_all.append(toks)
        gold_all.append(gtags)
    pred_all = m_loc.predict_batch(toks_all)
    for toks, gt, pt in zip(toks_all, gold_all, pred_all):
        g = {
            (smart_join(toks[i] for i in it), ty)
            for it, ty in decode_mentions(list(range(len(toks))), gt)
        }
        p = {
            (smart_join(toks[i] for i in it), ty)
            for it, ty in decode_mentions(list(range(len(toks))), pt)
        }
        tp += len(g & p)
        fp += len(p - g)
        fn += len(g - p)
    f1 = 2 * tp / (2 * tp + fp + fn) if tp else 0.0
    assert f1 > 0.3, f1


def test_hashed_emissions_batch_bit_exact():
    """The packed-code batch path must stay bit-identical to the
    scalar oracle under feature hashing (bucket collisions make some
    tokens share weight rows — both paths must resolve them through
    the same map)."""
    import numpy as np

    from webstruct_spark.operators.trained import train_crf_local

    texts = _texts()
    m = train_crf_local(texts, sample=120, epochs=3, feat_hash_dim=256)
    token_lists = [labeled_sequences(t)[0] for t in texts[:200]]
    token_lists += [[], ["Zzq@unseen.example"], ["lone"]]
    for _pass in range(2):
        batched = m.emissions_batch(token_lists)
        for toks, em in zip(token_lists, batched):
            assert np.array_equal(em, m._emissions(toks)), toks[:5]


def test_packed_code_capacity_guard():
    """The packed (base_row<<21)|low_row code space must fail loudly,
    never wrap around into wrong emission rows."""
    m = CRFTagger(["ORG"])
    m._n_tok = 1 << 21  # simulate an exhausted batch window
    with pytest.raises(RuntimeError, match="packed emission-code"):
        m._intern_token("overflow-token")


def test_prepared_rows_byte_identical(spark):
    """prepare_fit_rows + fit_prepared (the k-fold reuse path:
    featurize once, cut per fold executor-side) must be byte-identical
    to train_crf_distributed on the turns — same shards, same
    full-triple sort, same features — for both a full fit and a
    held-out cut, pruned and unpruned."""
    from pyspark import StorageLevel

    from webstruct_spark.operators.trained import (
        fit_prepared,
        min_df_whitelists,
        prepare_fit_rows,
        train_crf_distributed,
    )

    turns = spark.read.parquet(CORPUS)
    # tag = parity of crc32(conv_id): a stand-in for a CV fold column
    tagged = turns.withColumn(
        "tag", (F.crc32(F.col("conv_id").cast("binary")) % 2).cast("int")
    )
    prepared = prepare_fit_rows(
        tagged, n_parts=4, tag_col="tag"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # full fit (no cut), default pruning
        m_pre = fit_prepared(
            prepared, n_parts=4, rounds=2,
            whitelist=min_df_whitelists(prepared, 2)[None],
        )
        m_df = train_crf_distributed(turns, n_parts=4, rounds=2)
        assert m_pre.export() == m_df.export()
        # held-out cut == explicit subset DataFrame, unpruned
        sub = tagged.where(F.col("tag") != 0)
        m_cut = fit_prepared(prepared, n_parts=4, rounds=1, held_out=0)
        m_sub = train_crf_distributed(
            sub, n_parts=4, rounds=1, min_feat_df=None
        )
        assert m_cut.export() == m_sub.export()
        assert m_cut.export() != m_pre.export()
        # held-out cut == explicit subset DataFrame, pruned: the cut's
        # whitelist is total df minus the held-out rows' df
        m_cut_pruned = fit_prepared(
            prepared, n_parts=4, rounds=1, held_out=0,
            whitelist=min_df_whitelists(prepared, 2, [0])[0],
        )
        m_sub_pruned = train_crf_distributed(sub, n_parts=4, rounds=1)
        assert m_cut_pruned.export() == m_sub_pruned.export()
        assert m_cut_pruned.export() != m_cut.export()
    finally:
        prepared.unpersist()


def test_empty_corpus_rejected(spark):
    """A fit that sees no training rows raises instead of returning
    the untrained initial model: an empty turns frame, and a held-out
    tag that removes every prepared row."""
    from webstruct_spark.operators.trained import (
        fit_prepared,
        prepare_fit_rows,
        train_crf_distributed,
    )

    empty = spark.read.parquet(CORPUS).limit(0)
    with pytest.raises(ValueError, match="no training data"):
        train_crf_distributed(empty, n_parts=4, rounds=1)
    # tag_col=None stores tag 0 on every row
    prepared = prepare_fit_rows(spark.read.parquet(CORPUS), n_parts=4)
    with pytest.raises(ValueError, match="no training data"):
        fit_prepared(prepared, n_parts=4, rounds=1, held_out=0)


def test_fit_compact_bit_identical():
    """fit_compact (dense int-id arrays) must produce byte-identical
    weights to fit(seqs, feats_per_seq=..., feats_prehashed=True) —
    warm starts, empty sequences, duplicate features, multi-epoch,
    and unknown-tag raising included."""
    import random as _random

    import numpy as _np

    from webstruct_spark.kernel.crf import CRFTagger, token_features

    rng = _random.Random(13)
    words = ["Acme", "visit", "us", "at", "Springfield", "TX", "77", "@x",
             "Corp", "on", "Main", "street", "zip", "02134"]
    types = ("ORG", "CITY", "STATE")
    tagset = ["O"]
    for t in types:
        tagset += ["B-" + t, "I-" + t]

    def mk_seqs(n):
        seqs = []
        for _ in range(n):
            L = rng.randrange(0, 9)  # includes empty sequences
            toks = [rng.choice(words) for _ in range(L)]
            tags = []
            prev = "O"
            for _i in range(L):
                if prev == "O":
                    tags.append(rng.choice(
                        ["O", "O", "B-ORG", "B-CITY", "B-STATE"]))
                else:
                    tags.append(rng.choice(["O", "I" + prev[1:], "B-ORG"]))
                prev = tags[-1]
            seqs.append((toks, tags))
        return seqs

    def compact(seqs, feats):
        tag_vocab, tag_ix, vocab, vocab_ix = [], {}, [], {}
        rtc, gid, tfc, fid = [], [], [], []
        for (toks, tags), sf in zip(seqs, feats):
            rtc.append(len(toks))
            for t in tags:
                if t not in tag_ix:
                    tag_ix[t] = len(tag_vocab)
                    tag_vocab.append(t)
                gid.append(tag_ix[t])
            for fl in sf:
                tfc.append(len(fl))
                for f in fl:
                    if f not in vocab_ix:
                        vocab_ix[f] = len(vocab)
                        vocab.append(f)
                    fid.append(vocab_ix[f])
        return (tag_vocab, _np.asarray(rtc, _np.int32),
                _np.asarray(gid, _np.int32), _np.asarray(tfc, _np.int32),
                _np.asarray(fid, _np.int32), vocab)

    # warm-start model (one prior fit) -> both paths resume from it,
    # exercising the untouched-feature passthrough
    warm = CRFTagger(types).fit(mk_seqs(30), epochs=1)
    blob = warm.export()
    for epochs in (1, 2):
        seqs = mk_seqs(40)
        feats = [
            [token_features(toks, i) for i in range(len(toks))]
            for toks, _t in seqs
        ]
        a = CRFTagger.from_export(blob).fit(
            seqs, epochs=epochs, feats_per_seq=feats, feats_prehashed=True
        )
        b = CRFTagger.from_export(blob).fit_compact(
            *compact(seqs, feats), epochs=epochs
        )
        assert a.export() == b.export()

    # unknown gold tag raises on both paths
    bad = [(["x"], ["B-NOPE"])]
    bad_feats = [[token_features(["x"], 0)]]
    import pytest as _pytest
    with _pytest.raises(KeyError):
        CRFTagger(types).fit(bad, feats_per_seq=bad_feats)
    with _pytest.raises(KeyError):
        CRFTagger(types).fit_compact(*compact(bad, bad_feats))


def test_fit_epoch_native_bit_identical():
    """The C epoch loop (kernel/_crf_native.c) must be bit-identical
    to the pure-Python loop it replaces, across random corpora, warm
    starts and multi-epoch runs."""
    import random as _random

    import webstruct_spark.kernel.crf as crf_mod
    from webstruct_spark.kernel.crf import CRFTagger, token_features

    if crf_mod._ccrf() is None:
        import pytest as _pytest

        _pytest.skip("no C compiler for the native kernel")

    import numpy as _np

    types = ("ORG", "CITY", "TEL")
    words = ["Acme", "visit", "Main", "St", "77", "tel", "555-0100",
             "Springfield", "and", "the", "office", "x", "Y"]

    def compact(seqs, feats):
        tag_vocab, tag_ix, vocab, vocab_ix = [], {}, [], {}
        rtc, gid, tfc, fid = [], [], [], []
        for (toks, tags), sf in zip(seqs, feats):
            rtc.append(len(toks))
            for t in tags:
                if t not in tag_ix:
                    tag_ix[t] = len(tag_vocab)
                    tag_vocab.append(t)
                gid.append(tag_ix[t])
            for fl in sf:
                tfc.append(len(fl))
                for f in fl:
                    if f not in vocab_ix:
                        vocab_ix[f] = len(vocab)
                        vocab.append(f)
                    fid.append(vocab_ix[f])
        return (tag_vocab, _np.asarray(rtc, _np.int32),
                _np.asarray(gid, _np.int32), _np.asarray(tfc, _np.int32),
                _np.asarray(fid, _np.int32), vocab)

    for seed in range(6):
        rng = _random.Random(100 + seed)
        seqs = []
        for _ in range(25):
            L = rng.randrange(0, 12)
            toks = [rng.choice(words) for _ in range(L)]
            tags, prev = [], "O"
            for _i in range(L):
                if prev == "O":
                    tags.append(rng.choice(["O", "O", "B-ORG", "B-CITY"]))
                else:
                    tags.append(rng.choice(["O", "I" + prev[1:], "B-TEL"]))
                prev = tags[-1]
            seqs.append((toks, tags))
        feats = [
            [token_features(toks, i) for i in range(len(toks))]
            for toks, _t in seqs
        ]
        blob = CRFTagger(types).fit(seqs[:10], epochs=1).export()
        epochs = 1 + (seed % 3)
        native = CRFTagger.from_export(blob).fit_compact(
            *compact(seqs, feats), epochs=epochs
        )
        saved = crf_mod._CCRF_MOD
        crf_mod._CCRF_MOD = None  # force the Python oracle loop
        try:
            pure = CRFTagger.from_export(blob).fit_compact(
                *compact(seqs, feats), epochs=epochs
            )
        finally:
            crf_mod._CCRF_MOD = saved
        assert native.export() == pure.export(), "seed %d" % seed


def test_murmur_preimage_slots_match_spark_hash(spark):
    """_identity_slots relies on a Python re-expression of Spark's
    Murmur3 int32 hash (HashPartitioning, seed 42); pin it against
    F.hash over a value range plus the actual preimages, so a Spark
    hash change can never silently degrade the one-shard-per-
    partition layout into collisions."""
    from pyspark.sql import functions as F

    from webstruct_spark.operators.trained import (
        _identity_slots,
        _murmur3_int,
    )

    vals = list(range(0, 200)) + [2**31 - 1, -1, -2**31]
    for n in (4, 8, 32):
        vals += _identity_slots(n)
    rows = (
        spark.createDataFrame([(v,) for v in vals], "v int")
        .select("v", F.hash("v").alias("h"))
        .collect()
    )
    for r in rows:
        assert _murmur3_int(r["v"]) == r["h"], (r["v"], r["h"])
    for n in (4, 8, 32):
        slots = _identity_slots(n)
        assert sorted(_murmur3_int(k) % n for k in slots) == list(range(n))


def test_train_crf_compact_equals_fit():
    """train_crf_local (now routed through _compact_shard +
    fit_compact's native loop) must stay byte-identical to the
    original scalar fit over labeled_sequences — plain AND hashed
    feature spaces, multiple epochs, empty turns included."""
    import random as _random

    from webstruct_spark.kernel.crf import CRFTagger
    from webstruct_spark.operators.tagger import DEFAULT_TYPES
    from webstruct_spark.operators.trained import (
        labeled_sequences,
        train_crf_local,
    )

    rng = _random.Random(7)
    words = ["Acme", "Corp", "visit", "Springfield", "TX", "02134",
             "call", "555", "x@y.z", "__START_ORG__", "__END_ORG__",
             "__START_CITY__", "__END_CITY__", ""]

    def mk_text():
        n = rng.randrange(0, 12)
        parts = []
        open_t = None
        for _ in range(n):
            w = rng.choice(words)
            if w.startswith("__START_"):
                if open_t:
                    parts.append("__END_%s__" % open_t)
                open_t = w[8:-2]
                parts.append(w)
            elif w.startswith("__END_"):
                continue  # only close what we opened
            else:
                parts.append(w)
        if open_t:
            parts.append("__END_%s__" % open_t)
        return " ".join(p for p in parts if p)

    texts = [mk_text() for _ in range(120)]
    for fh in (None, 512):
        for epochs in (1, 3):
            want = CRFTagger(DEFAULT_TYPES, feat_hash_dim=fh).fit(
                [labeled_sequences(t) for t in texts], epochs=epochs
            )
            got = train_crf_local(
                texts, sample=len(texts), epochs=epochs,
                feat_hash_dim=fh,
            )
            assert got.export() == want.export(), (fh, epochs)

# -*- coding: utf-8 -*-
"""Kernel replay: the per-turn native and Python kernels, called in the
benchmark's own process through their public entry points on a sample of
the workload's own turns.  Each replay is a span; the reported number is
the median per-turn time over ``REPEAT`` passes."""
from __future__ import annotations

import time
from typing import Dict, List

import numpy as np

from webstruct_spark.kernel.crf import CRFTagger, token_features
from webstruct_spark.kernel.tokenize import ctok
from webstruct_spark.operators.tagger import DEFAULT_TYPES
from webstruct_spark.operators.trained import labeled_sequences

SAMPLE_TURNS = 2000
REPEAT = 3


def _best_of(fn, n_turns: int) -> float:
    times = []
    for _ in range(REPEAT):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return sorted(times)[REPEAT // 2] / n_turns * 1e6


def _compact(seqs):
    """The compact trainer record ``fit_compact`` takes: per-turn token
    counts, gold tag ids, per-token feature counts and feature ids."""
    tag_vocab: List[str] = []
    tag_ix: Dict[str, int] = {}
    vocab: List[str] = []
    vocab_ix: Dict[str, int] = {}
    row_tok, gold, tok_feat, feat = [], [], [], []
    for toks, tags, feats in seqs:
        row_tok.append(len(toks))
        for t in tags:
            gold.append(tag_ix.setdefault(t, len(tag_ix)))
            if len(tag_vocab) < len(tag_ix):
                tag_vocab.append(t)
        for fl in feats:
            tok_feat.append(len(fl))
            for f in fl:
                fi = vocab_ix.setdefault(f, len(vocab_ix))
                if len(vocab) < len(vocab_ix):
                    vocab.append(f)
                feat.append(fi)
    i32 = np.int32
    return (tag_vocab, np.asarray(row_tok, i32), np.asarray(gold, i32),
            np.asarray(tok_feat, i32), np.asarray(feat, i32), vocab)


def replay(tracer, texts: List[str]) -> Dict[str, float]:
    texts = texts[:SAMPLE_TURNS]
    n = max(1, len(texts))
    out: Dict[str, float] = {}
    with tracer.span("kernel.extract", harvest=False):
        out["kernel.extract_us_per_turn"] = _best_of(
            lambda: [ctok.extract_turn(t) for t in texts], n)
    labeled = [labeled_sequences(t) for t in texts]
    with tracer.span("kernel.featurize", harvest=False):
        out["kernel.featurize_us_per_turn"] = _best_of(
            lambda: [[token_features(toks, i) for i in range(len(toks))]
                     for toks, _tags in labeled], n)
    rec = _compact([(toks, tags,
                     [token_features(toks, i) for i in range(len(toks))])
                    for toks, tags in labeled])
    models = []
    with tracer.span("kernel.crf_fit", harvest=False):
        out["kernel.crf_fit_us_per_turn"] = _best_of(
            lambda: models.append(
                CRFTagger(DEFAULT_TYPES).fit_compact(*rec, epochs=1)), n)
    toks = [t for t, _ in labeled]
    with tracer.span("kernel.crf_predict", harvest=False):
        out["kernel.crf_predict_us_per_turn"] = _best_of(
            lambda: models[-1].predict_batch(toks), n)
    return out

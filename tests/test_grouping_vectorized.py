# -*- coding: utf-8 -*-
"""Vectorized bucket grouper vs the scalar per-conversation oracle:
identical rows (as multisets) on randomized extraction-row frames,
both called directly and through group_entities' streamed
per-partition pass; and the numpy threshold-argmax kernel vs the
Python kernel."""
import random

import numpy as np
import pandas as pd

from webstruct_spark.kernel.grouping import (
    best_clustering_entities,
    best_clustering_ids,
)
from webstruct_spark.operators.grouping_op import (
    DEFAULT_DONT_PENALIZE,
    _make_bucket_grouper,
    _make_bucket_grouper_scalar,
)

TYPES = ["ORG", "PER", "CITY", "STATE", "TEL", "FAX", "STREET"]


def test_best_clustering_ids_fuzz():
    rng = random.Random(13)
    dp = {"TEL", "FAX"}
    for _ in range(400):
        E = rng.randint(0, 40)
        tags = [rng.choice(TYPES) for _ in range(E)]
        dists = [rng.randint(0, 12) for _ in range(E)]
        uniq = sorted(set(tags))
        tag_ids = np.array([uniq.index(t) for t in tags], dtype=np.int64)
        exempt = np.array([t in dp for t in uniq], dtype=bool)
        # scalar oracle wants entities + spans; reconstruct spans so
        # span_distances() reproduces exactly these distances
        spans = []
        pos = 0
        for d in dists:
            start = pos + d
            end = start + rng.randint(0, 5)
            spans.append((start, end))
            pos = end
        ents = [((("t%d" % i,), tags[i])) for i in range(E)]
        thr_w, score_w, clusters_w = best_clustering_entities(
            ents, spans, dont_penalize=dp
        )
        got_thr, got_score, got_cids = best_clustering_ids(
            tag_ids, np.array(dists, dtype=np.int64), exempt
        )
        assert (got_thr, got_score) == (thr_w, score_w), (dists, tags)
        # cluster sizes must match the oracle's clusters
        want_sizes = [len(c) for c in clusters_w]
        got_sizes = np.bincount(got_cids).tolist() if E else []
        assert got_sizes == want_sizes


def _random_frame(rng, n_convs, turns=(1, 8), prefix="conv"):
    rows = dict(
        conv_id=[], turn_idx=[], mention_idx=[], text=[], entity_type=[],
        tok_start=[], tok_end=[], n_tokens=[],
    )
    for c in range(n_convs):
        cid = "%s-%03d" % (prefix, c)
        for t in range(rng.randint(*turns)):
            n_tok = rng.randint(0, 20)
            n_ments = 0 if n_tok == 0 else rng.randint(0, 4)
            if n_ments == 0:
                rows["conv_id"].append(cid)
                rows["turn_idx"].append(t)
                rows["mention_idx"].append(-1)
                rows["text"].append(None)
                rows["entity_type"].append(None)
                rows["tok_start"].append(-1)
                rows["tok_end"].append(-1)
                rows["n_tokens"].append(n_tok)
                continue
            cur = 0
            for m in range(n_ments):
                if cur >= n_tok:
                    break
                s = rng.randint(cur, n_tok - 1)
                e = rng.randint(s, n_tok - 1)
                cur = e + 1
                rows["conv_id"].append(cid)
                rows["turn_idx"].append(t)
                rows["mention_idx"].append(m)
                rows["text"].append("e%d-%d-%d" % (c, t, m))
                rows["entity_type"].append(rng.choice(TYPES))
                rows["tok_start"].append(s)
                rows["tok_end"].append(e)
                rows["n_tokens"].append(n_tok)
    return pd.DataFrame(rows)


def _rowset(df):
    cols = sorted(df.columns)
    return sorted(
        tuple(None if pd.isna(v) else v for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )


def test_vectorized_bucket_equals_scalar():
    rng = random.Random(17)
    vec = _make_bucket_grouper(DEFAULT_DONT_PENALIZE)
    sca = _make_bucket_grouper_scalar(DEFAULT_DONT_PENALIZE)
    for trial in range(6):
        pdf = _random_frame(rng, n_convs=rng.randint(1, 25))
        # shuffle row order: the grouper must sort internally
        pdf = pdf.sample(frac=1.0, random_state=trial).reset_index(drop=True)
        got = vec(pdf.copy())
        # group_id now gets built JVM-side by group_entities; mirror it
        got = got.assign(
            group_id=[
                "%s:g%04d" % (c, g)
                for c, g in zip(got["conv_id"], got["group_idx"])
            ]
        )
        want = sca(pdf.copy())
        assert _rowset(got) == _rowset(want), trial


def test_vectorized_bucket_empty():
    vec = _make_bucket_grouper(DEFAULT_DONT_PENALIZE)
    out = vec(
        pd.DataFrame(
            dict(
                conv_id=pd.Series(dtype=object),
                turn_idx=pd.Series(dtype="int64"),
                mention_idx=pd.Series(dtype="int64"),
                text=pd.Series(dtype=object),
                entity_type=pd.Series(dtype=object),
                tok_start=pd.Series(dtype="int64"),
                tok_end=pd.Series(dtype="int64"),
                n_tokens=pd.Series(dtype="int64"),
            )
        )
    )
    assert len(out) == 0


def test_group_entities_across_arrow_batches(spark):
    """group_entities streams each partition through the grouper in
    Arrow batches of 3 rows: a conversation cut by batch boundaries
    (one spans many batches) and partitions holding no row must give
    the scalar oracle's rows."""
    from webstruct_spark.operators.grouping_op import group_entities

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    schema = (
        "conv_id string, turn_idx int, mention_idx int, text string, "
        "entity_type string, tok_start int, tok_end int, n_tokens int"
    )
    sca = _make_bucket_grouper_scalar(DEFAULT_DONT_PENALIZE)
    rng = random.Random(29)
    n_parts = spark.sparkContext.defaultParallelism
    spark.conf.set(key, "3")
    try:
        for trial, n_convs in enumerate((2, 9, 25)):
            long = _random_frame(rng, 1, turns=(30, 30), prefix="long")
            assert len(long) >= 9  # at least 3 batches of 3 rows
            pdf = pd.concat(
                [_random_frame(rng, n_convs), long], ignore_index=True
            ).sample(frac=1.0, random_state=trial)
            if trial == 0:
                assert n_convs + 1 < n_parts  # some partitions are empty
            got = group_entities(
                spark.createDataFrame(pdf, schema)
            ).toPandas()
            assert _rowset(got) == _rowset(sca(pdf.copy())), trial
    finally:
        spark.conf.set(key, old)

# -*- coding: utf-8 -*-
"""Model-based tagging path: Viterbi decode per turn over plain
(marker-stripped) text, with the rule/gazetteer score model broadcast
to executors — the distributed form of ``model.predict([html_tokens])``
(/root/reference/webstruct/model.py:60-68), one Arrow batch at a time.

The marker path (operators/extract.py) is the parity tagger; this path
exists for unlabeled data and is gated by segment F1 against gold
(like the reference CI gate, tests/test_crfsuite.py:46-60) rather than
exact parity.

Scale design: the whole chain is narrow (scan → mapInArrow → done, one
mapper for batch and streaming frames); the decode runs the batched
padded-numpy Viterbi (kernel/viterbi.py:viterbi_decode_batch) instead
of a per-turn DP loop, emission features come from a worker-lifetime
token cache, and the UDF emits FLAT primitive rows (the 3x-cheaper
Arrow shape) — token_confusion even pre-aggregates (gold, pred) counts
inside the worker so only per-batch partial counts shuffle.
"""
from __future__ import annotations

import uuid
from typing import Dict, Iterator, List, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernel.bilou import classify_token, decode_mentions, encode_tokens
from ..kernel.smartjoin import smart_join
from ..kernel.tokenize import default_segment_words
from ..kernel.viterbi import RuleModel

DEFAULT_TYPES = (
    "ORG", "PER", "CITY", "STATE", "ZIPCODE", "COUNTRY",
    "STREET", "TEL", "FAX", "EMAIL",
)

TAGGED_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("mention_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("entity_type", T.StringType()),
        T.StructField("tok_start", T.IntegerType()),
        T.StructField("tok_end", T.IntegerType()),
    ]
)

CONFUSION_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("tag_gold", T.StringType()),
        T.StructField("tag_pred", T.StringType()),
        T.StructField("n", T.LongType()),
    ]
)


# worker-level model cache: RuleModel compilation (LongestMatcher
# prefilter over the whole gazetteer) happens once per executor per
# broadcast, not once per Arrow batch.  Keyed by a driver-side uuid
# minted per broadcast — NOT id(): CPython reuses object ids after GC,
# which could silently serve a stale model for a different gazetteer.
_MODEL_CACHE: Dict[str, RuleModel] = {}


def _model_for(bc, key: str) -> RuleModel:
    model = _MODEL_CACHE.get(key)
    if model is None:
        amap, types = bc.value
        model = RuleModel(amap, types)
        _MODEL_CACHE.clear()  # old broadcasts are dead weight
        _MODEL_CACHE[key] = model
    return model


def _broadcast_model(
    turns: DataFrame, gazetteer: DataFrame, entity_types: Sequence[str]
) -> Tuple[object, str]:
    """Collect the (small) gazetteer, broadcast (alias_map, types),
    return (broadcast, worker-cache key)."""
    spark = turns.sparkSession
    alias_map: Dict[str, str] = {}
    for r in gazetteer.select("alias", "entity_type").collect():
        # deterministic on collisions: keep lexicographically smaller type
        a = r["alias"]
        if a not in alias_map or r["entity_type"] < alias_map[a]:
            alias_map[a] = r["entity_type"]
    bc = spark.sparkContext.broadcast((alias_map, tuple(entity_types)))
    return bc, uuid.uuid4().hex


def plain_tokens_py(text: str) -> List[str]:
    """Marker-free token stream (what an unlabeled turn looks like).
    Pure-Python twin of the native fast path — kept as the
    differential oracle (tests/test_ctok_differential.py)."""
    out = []
    for chars, _pos, _len in default_segment_words(text or ""):
        kind, _val = classify_token(chars)
        if kind == "token":
            out.append(chars)
    return out


from ..kernel.tokenize import ctok as _ctok  # noqa: E402

if _ctok is not None and hasattr(_ctok, "plain_tokens"):
    _c_plain = _ctok.plain_tokens

    def plain_tokens(text: str) -> List[str]:
        """Marker-free token stream (native kernel)."""
        return _c_plain(text or "")

else:  # pragma: no cover - build environment without gcc
    plain_tokens = plain_tokens_py


def tagged_mentions(
    turns: DataFrame,
    gazetteer: DataFrame,
    entity_types: Sequence[str] = DEFAULT_TYPES,
    text_col: str = "text",
) -> DataFrame:
    """Predict mentions on plain text via the broadcast rule model.

    Output: (conv_id, turn_idx, mention_idx, text, entity_type,
    tok_start, tok_end).
    """
    bc, cache_key = _broadcast_model(turns, gazetteer, entity_types)

    def get_model():
        return _model_for(bc, cache_key)

    return _tagged_rows_df(turns, text_col, get_model)


def _predict_rows(cids, tis, texts, model) -> dict:
    """Shared text → flat mention-row columns for any model exposing
    ``predict_batch`` (rule tagger + trained CRF)."""
    tok_lists = [plain_tokens(t) for t in texts]
    tag_lists = model.predict_batch(tok_lists)
    o = {k: [] for k in (
        "conv_id", "turn_idx", "mention_idx", "text",
        "entity_type", "tok_start", "tok_end",
    )}
    for cid, ti, toks, tags in zip(cids, tis, tok_lists, tag_lists):
        mi = 0
        for items, etype in decode_mentions(list(range(len(toks))), tags):
            o["conv_id"].append(cid)
            o["turn_idx"].append(ti)
            o["mention_idx"].append(mi)
            o["text"].append(smart_join(toks[i] for i in items))
            o["entity_type"].append(etype)
            o["tok_start"].append(items[0])
            o["tok_end"].append(items[-1])
            mi += 1
    return o


def _tagged_rows_df(turns: DataFrame, text_col: str, get_model) -> DataFrame:
    """Narrow inference pass: one mapInArrow mapper for batch and
    streaming frames (the stage is transfer-bound with the batched
    Viterbi)."""
    import pyarrow as pa

    from .spread import widen_scan

    src = widen_scan(
        turns.select("conv_id", "turn_idx", F.col(text_col).alias("text"))
    )

    def run_arrow(batches):
        model = get_model()
        for batch in batches:
            o = _predict_rows(
                batch.column(0).to_pylist(), batch.column(1).to_pylist(),
                batch.column(2).to_pylist(), model,
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(o["conv_id"], pa.string()),
                    pa.array(o["turn_idx"], pa.int32()),
                    pa.array(o["mention_idx"], pa.int32()),
                    pa.array(o["text"], pa.string()),
                    pa.array(o["entity_type"], pa.string()),
                    pa.array(o["tok_start"], pa.int32()),
                    pa.array(o["tok_end"], pa.int32()),
                ],
                names=list(o.keys()),
            )

    return src.mapInArrow(run_arrow, TAGGED_SCHEMA)


def token_confusion(
    turns: DataFrame,
    gazetteer: DataFrame,
    entity_types: Sequence[str] = DEFAULT_TYPES,
    text_col: str = "text",
) -> DataFrame:
    """M8 analog (reference metrics.py:97-109): token-level
    (gold_tag, pred_tag) confusion counts.  The marker-derived gold
    tags and the model-predicted tags align token-for-token because
    both tag the marker-free clean token stream.

    Counts are pre-aggregated inside the worker (one partial row per
    (gold, pred) per batch) — only ~tagset² rows ever shuffle, not one
    row per token."""
    bc, cache_key = _broadcast_model(turns, gazetteer, entity_types)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = _model_for(bc, cache_key)
        for pdf in batches:
            counts: Dict[Tuple[str, str], int] = {}
            tok_lists = []
            gold_lists = []
            for t in pdf["text"].tolist():
                toks = default_segment_words(t or "")
                chars = [x[0] for x in toks]
                idx_tags = encode_tokens(chars)
                tok_lists.append([chars[i] for i, _ in idx_tags])
                gold_lists.append([tag for _, tag in idx_tags])
            pred_lists = model.predict_batch(tok_lists)
            for gold, pred in zip(gold_lists, pred_lists):
                for g, p in zip(gold, pred):
                    key = (g, p)
                    counts[key] = counts.get(key, 0) + 1
            yield pd.DataFrame(
                {
                    "tag_gold": [k[0] for k in counts],
                    "tag_pred": [k[1] for k in counts],
                    "n": list(counts.values()),
                }
            )

    from .spread import widen_scan

    src = widen_scan(turns.select(F.col(text_col).alias("text")))
    partial = src.mapInPandas(run, CONFUSION_PARTIAL_SCHEMA)
    return partial.groupBy("tag_gold", "tag_pred").agg(
        F.sum("n").alias("n_tokens")
    )

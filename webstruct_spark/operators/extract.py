# -*- coding: utf-8 -*-
"""Mention extraction: the distributed form of the reference inference
chain tokenize → IOB2-encode → decode → smart_join
(/root/reference/webstruct/model.py:40-50 ``NER.extract``), run per
turn inside ONE ``mapInArrow`` pass — the same mapper for batch and
streaming frames.

Scale design:

* The whole chain is narrow (no shuffle): parquet scan → mapInArrow →
  filter.  Catalyst prunes the scan to (conv_id, turn_idx, text).
* The UDF emits FLAT primitive columns (one row per extracted entity,
  plus one ``mention_idx = -1`` marker row per entity-less turn so
  downstream grouping still sees every turn's token count).  Flat
  primitives serialize ~3x faster than list<struct> columns through
  Arrow and keep the exchange at ~5-10% of the token volume — token
  arrays never leave the Python worker on the hot path.
* A separate debug/parity UDF (:func:`tokenize_tags_udf`) exposes the
  full (tokens, tags) arrays for round-trip tests and the detokenize
  sink.
"""
from __future__ import annotations

from typing import List, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..kernel.bilou import (
    _MARKER_RE,
    decode_mentions,
    encode_tokens,
    limit_tags,
)
from ..kernel.smartjoin import smart_join
from ..kernel.tokenize import default_segment_words

# one row per entity; mention_idx = -1 marks an entity-less turn
# (carries that turn's n_tokens for grouping-position arithmetic)
EXTRACT_ROWS_FIELDS = [
    ("conv_id", T.StringType()),
    ("turn_idx", T.IntegerType()),
    ("mention_idx", T.IntegerType()),
    ("text", T.StringType()),
    ("entity_type", T.StringType()),
    ("tok_start", T.IntegerType()),
    ("tok_end", T.IntegerType()),
    ("first_char", T.IntegerType()),
    ("last_char", T.IntegerType()),
    ("n_tokens", T.IntegerType()),
]

TOKEN_STRUCT = T.StructType(
    [
        T.StructField("chars", T.StringType()),
        T.StructField("position", T.IntegerType()),
        T.StructField("length", T.IntegerType()),
    ]
)
TOKENS_TYPE = T.StructType(
    [
        T.StructField("tokens", T.ArrayType(TOKEN_STRUCT)),
        T.StructField("tags", T.ArrayType(T.StringType())),
    ]
)


def _extract_turn_entities_twopass(text: str, tagset=None) -> tuple:
    """Reference composition (encode → decode → join); kept as the
    differential oracle for the fused single-pass version below.

    Returns ``(n_clean_tokens, [(text, entity_type, tok_start,
    tok_end, first_char, last_char), ...])`` — entity_idx is the list
    position.  ``tagset`` applies the P3 projection (markers of other
    types dropped pre-encode, text kept)."""
    text = text or ""
    toks = default_segment_words(text)
    if tagset is not None:
        toks = limit_tags(toks, tagset, chars_of=lambda t: t[0])
    chars = [t[0] for t in toks]
    idx_tags = encode_tokens(chars)
    clean_chars = [chars[i] for i, _ in idx_tags]
    clean_first = [toks[i][1] for i, _ in idx_tags]
    clean_last = [toks[i][1] + toks[i][2] - 1 for i, _ in idx_tags]
    tags = [t for _, t in idx_tags]
    ents: List[tuple] = []
    for items, etype in decode_mentions(list(range(len(clean_chars))), tags):
        text_joined = smart_join(clean_chars[i] for i in items)
        if not text_joined:  # _drop_empty parity (model.py:131-132)
            continue
        ents.append(
            (
                text_joined,
                etype,
                items[0],
                items[-1],
                clean_first[items[0]],
                clean_last[items[-1]],
            )
        )
    return len(clean_chars), ents


def extract_turn_entities_py(text: str, tagset=None) -> tuple:
    """(n_clean_tokens, [entity dicts]) for one marker-bearing turn.

    Single fused scan: entity spans are built directly while markers
    are consumed (equivalent to encode→group for well-formed marker
    streams — the only kind the encoder accepts; malformed close
    markers raise exactly like the reference encoder).  Differentially
    gated against the two-pass composition in tests.
    """
    text = text or ""
    toks = default_segment_words(text)
    if "__" not in text:
        # fast path: no markers possible -> every token is clean 'O'
        return len(toks), []
    ents: List[tuple] = []
    clean_idx = 0
    open_type = None  # entity type currently open
    cur_tag = "O"  # reference-format tag for error messages
    pieces: List[str] = []
    tok_start = first_char = last_char = 0
    prev_end = 0

    def close_entity() -> None:
        nonlocal pieces
        if pieces:
            joined = smart_join(pieces)
            if joined:
                ents.append(
                    (
                        joined,
                        open_type,
                        tok_start,
                        clean_idx - 1,
                        first_char,
                        last_char,
                    )
                )
        pieces = []

    for chars, pos, ln in toks:
        if chars.startswith("__"):
            m = _MARKER_RE.match(chars)
            if m is not None:
                kind, value = m.group(1), m.group(2)
                if tagset is not None and value not in tagset:
                    continue  # P3 projection: drop the marker entirely
                if kind == "START":
                    if open_type is not None:
                        close_entity()  # adjacent START: B- starts anew
                    open_type = value
                    cur_tag = "B-" + value
                else:  # END
                    if value != cur_tag[2:]:
                        raise ValueError(
                            "Invalid tag sequence: close tag %r doesn't "
                            "match open tag %r." % (value, cur_tag)
                        )
                    close_entity()
                    open_type = None
                    cur_tag = "O"
                continue
        # clean token
        if open_type is not None:
            if not pieces:
                tok_start = clean_idx
                first_char = pos
            pieces.append(chars)
            last_char = pos + ln - 1
            if cur_tag[0] == "B":
                cur_tag = "I" + cur_tag[1:]
        clean_idx += 1
    if open_type is not None:
        close_entity()  # unclosed marker at turn end: run ends with turn
    return clean_idx, ents


# Native fused kernel (same contract, ~10x faster); differentially
# fuzzed vs the Python path in tests/test_ctok_differential.py.
from ..kernel.tokenize import ctok as _ctok  # noqa: E402

if _ctok is not None:
    extract_turn_entities_c = _ctok.extract_turn
    extract_turn_entities = _ctok.extract_turn
else:  # pragma: no cover - build environment without gcc
    extract_turn_entities_c = None
    extract_turn_entities = extract_turn_entities_py


def extract_rows_schema(passthrough: Sequence[tuple] = ()) -> T.StructType:
    return T.StructType(
        [T.StructField(n, t) for n, t in EXTRACT_ROWS_FIELDS]
        + [T.StructField(n, t) for n, t in passthrough]
    )


def _kernel_for(tagset):
    if tagset is None:
        return extract_turn_entities
    frozen = frozenset(tagset)
    if extract_turn_entities_c is not None:
        # native kernel handles the P3 projection directly (markers of
        # out-of-tagset types dropped pre-encode, text kept)
        def extract(tx):
            return extract_turn_entities_c(tx, frozen)

        return extract

    def extract(tx):
        return extract_turn_entities_py(tx, tagset=frozen)

    return extract


def _arrow_flat_mapper(passthrough_cols: Sequence[str], tagset=None):
    """The extraction mapper, for batch and streaming frames alike: with
    the C kernel the stage is Arrow-transfer-bound, and staying in Arrow
    (RecordBatch.to_pylist in, pa.array out) instead of a pandas
    round-trip is ~1.5x at 32 cores."""
    import pyarrow as pa

    extract = _kernel_for(tagset)
    names = [n for n, _t in EXTRACT_ROWS_FIELDS] + list(passthrough_cols)

    def run(batches):
        for batch in batches:
            cids = batch.column(0).to_pylist()
            tis = batch.column(1).to_pylist()
            txts = batch.column(2).to_pylist()
            o_cid: list = []
            o_ti: list = []
            o_mi: list = []
            o_text: list = []
            o_type: list = []
            o_ts: list = []
            o_te: list = []
            o_fc: list = []
            o_lc: list = []
            o_nt: list = []
            extra_src = [
                batch.column(3 + j).to_pylist()
                for j in range(len(passthrough_cols))
            ]
            extra_out: list = [[] for _ in passthrough_cols]
            for i, (cid, ti, tx) in enumerate(zip(cids, tis, txts)):
                n_tok, ents = extract(tx)
                n_emit = len(ents) if ents else 1
                o_cid.extend([cid] * n_emit)
                o_ti.extend([ti] * n_emit)
                o_nt.extend([n_tok] * n_emit)
                for j, srcl in enumerate(extra_src):
                    extra_out[j].extend([srcl[i]] * n_emit)
                if not ents:
                    o_mi.append(-1)
                    o_text.append(None)
                    o_type.append(None)
                    o_ts.append(-1)
                    o_te.append(-1)
                    o_fc.append(-1)
                    o_lc.append(-1)
                else:
                    for mi, (txt, etype, ts_, te_, fc_, lc_) in enumerate(
                        ents
                    ):
                        o_mi.append(mi)
                        o_text.append(txt)
                        o_type.append(etype)
                        o_ts.append(ts_)
                        o_te.append(te_)
                        o_fc.append(fc_)
                        o_lc.append(lc_)
            arrays = [
                pa.array(o_cid, pa.string()),
                pa.array(o_ti, pa.int32()),
                pa.array(o_mi, pa.int32()),
                pa.array(o_text, pa.string()),
                pa.array(o_type, pa.string()),
                pa.array(o_ts, pa.int32()),
                pa.array(o_te, pa.int32()),
                pa.array(o_fc, pa.int32()),
                pa.array(o_lc, pa.int32()),
                pa.array(o_nt, pa.int32()),
            ]
            for j, col in enumerate(extra_out):
                arrays.append(
                    pa.array(col, batch.schema.field(3 + j).type)
                )
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return run


def extract_rows(
    turns: DataFrame,
    text_col: str = "text",
    passthrough: Sequence[str] = (),
    tagset=None,
) -> DataFrame:
    """Flat extraction rows (narrow, no shuffle): one row per entity +
    one marker row (mention_idx = -1) per entity-less turn.

    ``passthrough`` carries extra input columns (e.g. ``ts`` for
    streaming windows) onto every emitted row.  ``tagset`` applies the
    P3 tagset projection (out-of-tagset markers dropped, text kept —
    reference html_tokenizer.py:323-332).
    """
    src = turns.select(
        "conv_id", "turn_idx", F.col(text_col).alias("text"), *passthrough
    )
    pass_fields = [
        (c, turns.schema[c].dataType) for c in passthrough
    ]
    schema = extract_rows_schema(pass_fields)
    from .spread import widen_scan

    return widen_scan(src).mapInArrow(
        _arrow_flat_mapper(list(passthrough), tagset=tagset), schema
    )


def mentions(
    turns: DataFrame, text_col: str = "text", tagset=None
) -> DataFrame:
    """Mentions table: one row per extracted entity occurrence.

    Columns: conv_id, turn_idx, mention_idx, text, entity_type,
    tok_start, tok_end, first_char, last_char.
    """
    return (
        extract_rows(turns, text_col, tagset=tagset)
        .where(F.col("mention_idx") >= 0)
        .drop("n_tokens")
    )


def mentions_from_rows(rows: DataFrame) -> DataFrame:
    """Mentions view over already-materialized extraction rows."""
    return rows.where(F.col("mention_idx") >= 0).drop("n_tokens")


@pandas_udf(TOKENS_TYPE)
def tokenize_tags_udf(texts: pd.Series) -> pd.DataFrame:
    """Parity/debug path: full aligned (tokens, tags) arrays per turn."""
    all_tokens, all_tags = [], []
    for t in texts:
        toks = default_segment_words(t or "")
        chars = [x[0] for x in toks]
        idx_tags = encode_tokens(chars)
        all_tokens.append(
            [
                dict(chars=toks[i][0], position=toks[i][1], length=toks[i][2])
                for i, _ in idx_tags
            ]
        )
        all_tags.append([tag for _, tag in idx_tags])
    return pd.DataFrame({"tokens": all_tokens, "tags": all_tags})

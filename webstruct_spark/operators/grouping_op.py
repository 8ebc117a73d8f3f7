# -*- coding: utf-8 -*-
"""Distributed entity grouping (record assembly).

Implements the reference webstruct grouping algorithm
(``webstruct/grouping.py:46-137``) per conversation with
ONE shuffle, and that shuffle carries only flat entity rows + per-turn
token counts — never token arrays:

1. narrow stage (extract.py) emits per-entity rows with turn-local
   token spans and each turn's clean-token count (entity-less turns
   contribute a single ``mention_idx = -1`` marker row);
2. the rows are hash-partitioned by conv_id into one partition per
   core and sorted by conv_id within each partition;
3. one streamed ``mapInArrow`` pass per partition hands the vectorized
   grouper conversation-complete slices of many conversations at a
   time.  The grouper reconstructs global token positions with the
   closed form ``pos = 2*g + 3*k`` (g = clean tokens before, k = rank
   among token-bearing turns — a turn that produced no tokens does not
   bump the element counter, matching the reference's element-change
   rule), then runs the pinned threshold-argmax kernel.

Skew note: a mega-conversation stays whole in one partition; its cost
is O(#entities x #thresholds) worst case — numpy work on
already-decoded entities; the heavy token processing stayed in the
narrow stage.  The mapper holds at most one Arrow batch plus the one
conversation still open at its end, so a long conversation costs
memory proportional to itself, not to its partition.
"""
from __future__ import annotations

from typing import Iterable, Iterator, List, Optional, Set

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame

from ..kernel.grouping import best_clustering_entities, token_position

GROUP_ENTITIES_SCHEMA = (
    "conv_id string, group_id string, group_idx int, entity_idx int, "
    "text string, entity_type string, turn_idx int, threshold int, "
    "score int, n_entities int"
)

# the UDF emits no group_id: the "%s:g%04d" id string is built
# JVM-side afterwards (F.format_string, exact printf semantics) —
# one codegen'd expression instead of millions of Python formats
_GROUP_UDF_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("group_idx", pa.int32()),
    ("entity_idx", pa.int32()), ("text", pa.string()),
    ("entity_type", pa.string()), ("turn_idx", pa.int32()),
    ("threshold", pa.int32()), ("score", pa.int32()),
    ("n_entities", pa.int32()),
])

# re-exported from the pyspark-free kernel (the one definition —
# see kernel/grouping.py) for the existing DataFrame-side importers
from ..kernel.grouping import DEFAULT_DONT_PENALIZE  # noqa: F401


def _group_one_conversation(conv_id, pdf: pd.DataFrame, dp: Set[str], out: dict):
    """Grouping for one (already turn/mention-sorted) conversation;
    appends member rows to ``out``."""
    entities = []  # ((text, turn_idx), entity_type) kernel infos
    spans = []
    g = 0  # clean tokens so far in conversation
    k = -1  # rank among token-bearing turns
    prev_turn = None
    prev_n_tok = 0
    for turn_idx, mention_idx, text, etype, ts, te, n_tok in zip(
        pdf["turn_idx"], pdf["mention_idx"], pdf["text"],
        pdf["entity_type"], pdf["tok_start"], pdf["tok_end"],
        pdf["n_tokens"],
    ):
        if turn_idx != prev_turn:
            if prev_turn is not None:
                g += prev_n_tok
            prev_turn = turn_idx
            prev_n_tok = int(n_tok)
            if n_tok > 0:
                k += 1
        if mention_idx >= 0:
            entities.append(((text, int(turn_idx)), etype))
            spans.append(
                (token_position(g + ts, k), token_position(g + te, k))
            )
    if not entities:
        return
    thr, score, clusters = best_clustering_entities(
        entities, spans, dont_penalize=dp
    )
    for gi, cluster in enumerate(clusters):
        members = [
            (info[0], etype, info[1])
            for info, etype, _dist in cluster
            if info[0]  # _drop_empty parity
        ]
        if not members:
            continue
        group_id = "%s:g%04d" % (conv_id, gi)
        for ei, (text, etype, turn_idx) in enumerate(members):
            out["conv_id"].append(conv_id)
            out["group_id"].append(group_id)
            out["group_idx"].append(gi)
            out["entity_idx"].append(ei)
            out["text"].append(text)
            out["entity_type"].append(etype)
            out["turn_idx"].append(turn_idx)
            out["threshold"].append(int(thr))
            out["score"].append(int(score))
            out["n_entities"].append(len(members))


def _make_bucket_grouper_scalar(dont_penalize: Optional[Set[str]]):
    """Per-conversation Python path — kept as the differential oracle
    for the vectorized bucket grouper below."""
    dp = set(dont_penalize or ())

    def group_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        out = dict(
            conv_id=[], group_id=[], group_idx=[], entity_idx=[], text=[],
            entity_type=[], turn_idx=[], threshold=[], score=[], n_entities=[],
        )
        pdf = pdf.sort_values(["conv_id", "turn_idx", "mention_idx"])
        for conv_id, sub in pdf.groupby("conv_id", sort=False):
            _group_one_conversation(conv_id, sub, dp, out)
        return pd.DataFrame(out)

    return group_bucket


def _make_bucket_grouper(dont_penalize: Optional[Set[str]]):
    """Vectorized bucket grouper: position reconstruction (the
    ``pos = 2g + 3k`` closed form) runs as cumulative sums over the
    whole bucket; the threshold argmax is the numpy kernel
    (kernel/grouping.py:best_clustering_ids).  Python touches each
    conversation only to slice arrays and format group ids.  Exact
    integer parity with the scalar path (fuzz-gated)."""
    import numpy as np

    dp = set(dont_penalize or ())

    def group_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        from ..kernel.grouping import best_clustering_ids

        empty = dict(
            conv_id=[], group_idx=[], entity_idx=[], text=[],
            entity_type=[], turn_idx=[], threshold=[], score=[],
            n_entities=[],
        )
        if len(pdf) == 0:
            return pd.DataFrame(empty)
        # conversations are independent, so inter-conv order is free:
        # sort by FACTORIZE codes (appearance order) via an integer
        # lexsort instead of pandas' object-dtype string sort — the
        # per-bucket sort was the biggest non-kernel cost.  Within a
        # conversation the (turn_idx, mention_idx) order is exact.
        conv_codes, _ = pd.factorize(pdf["conv_id"], sort=False)
        order = np.lexsort(
            (
                pdf["mention_idx"].to_numpy(dtype=np.int64),
                pdf["turn_idx"].to_numpy(dtype=np.int64),
                conv_codes,
            )
        )
        pdf = pdf.take(order)
        conv = pdf["conv_id"].to_numpy()
        turn = pdf["turn_idx"].to_numpy(dtype=np.int64)
        mi = pdf["mention_idx"].to_numpy(dtype=np.int64)
        ts = pdf["tok_start"].to_numpy(dtype=np.int64)
        te = pdf["tok_end"].to_numpy(dtype=np.int64)
        n_tok = pdf["n_tokens"].to_numpy(dtype=np.int64)
        n = conv.shape[0]
        new_conv = np.ones(n, dtype=bool)
        new_conv[1:] = conv[1:] != conv[:-1]
        new_turn = new_conv.copy()
        new_turn[1:] |= turn[1:] != turn[:-1]
        rows = np.arange(n, dtype=np.int64)
        # tokens before the current turn within the conversation:
        # C = inclusive per-turn cumsum; conv_base = C just before the
        # conversation started (forward-filled from each conv head)
        tok_inc = np.where(new_turn, n_tok, 0)
        C = np.cumsum(tok_inc)
        head = np.where(new_conv, rows, 0)
        head = np.maximum.accumulate(head)
        conv_base = (C - n_tok)[head]
        g = C - n_tok - conv_base
        # rank among token-bearing turns (k)
        k_inc = (new_turn & (n_tok > 0)).astype(np.int64)
        K = np.cumsum(k_inc)
        k_base = (K - k_inc)[head]
        k = K - 1 - k_base
        # entity rows only
        m = mi >= 0
        if not m.any():
            return pd.DataFrame(empty)
        start_pos = 2 * (g[m] + ts[m]) + 3 * k[m]
        end_pos = 2 * (g[m] + te[m]) + 3 * k[m]
        conv_m = conv[m]
        turn_m = turn[m]
        text_m = pdf["text"].to_numpy()[m]
        etype_m = pdf["entity_type"].to_numpy()[m]
        tag_codes, tag_uniques = pd.factorize(etype_m)
        exempt = np.array([t in dp for t in tag_uniques], dtype=bool)
        new_conv_m = np.ones(conv_m.shape[0], dtype=bool)
        new_conv_m[1:] = conv_m[1:] != conv_m[:-1]
        seg_starts = np.flatnonzero(new_conv_m)
        seg_ends = np.append(seg_starts[1:], conv_m.shape[0])
        o_conv, o_gidx, o_eidx = [], [], []
        o_text, o_type, o_turn = [], [], []
        o_thr, o_score, o_nent = [], [], []
        for s, e in zip(seg_starts, seg_ends):
            E = e - s
            d = np.empty(E, dtype=np.int64)
            d[0] = start_pos[s]
            d[1:] = start_pos[s + 1 : e] - end_pos[s : e - 1]
            thr, score, cids = best_clustering_ids(
                tag_codes[s:e], d, exempt
            )
            gstarts = np.flatnonzero(
                np.diff(cids, prepend=np.int64(-1))
            )
            sizes = np.diff(gstarts, append=np.int64(E))
            cid = conv_m[s]
            o_conv.append(np.repeat(cid, E))
            o_gidx.append(cids)
            o_eidx.append(np.arange(E) - np.repeat(gstarts, sizes))
            o_text.append(text_m[s:e])
            o_type.append(etype_m[s:e])
            o_turn.append(turn_m[s:e])
            o_thr.append(np.repeat(np.int64(thr), E))
            o_score.append(np.repeat(np.int64(score), E))
            o_nent.append(np.repeat(sizes, sizes))
        return pd.DataFrame(
            dict(
                conv_id=np.concatenate(o_conv),
                group_idx=np.concatenate(o_gidx).astype("int32"),
                entity_idx=np.concatenate(o_eidx).astype("int32"),
                text=np.concatenate(o_text),
                entity_type=np.concatenate(o_type),
                turn_idx=np.concatenate(o_turn).astype("int32"),
                threshold=np.concatenate(o_thr).astype("int32"),
                score=np.concatenate(o_score).astype("int32"),
                n_entities=np.concatenate(o_nent).astype("int32"),
            )
        )

    return group_bucket


def _make_partition_grouper(dont_penalize: Optional[Set[str]]):
    """``mapInArrow`` body over one partition sorted by conv_id: feeds
    the vectorized grouper conversation-complete slices.  The trailing
    conversation of each Arrow batch may continue in the next batch, so
    it is held back until a later conversation starts or the partition
    ends; its batches are kept in a list and concatenated once."""
    import pyarrow.compute as pc

    group = _make_bucket_grouper(dont_penalize)

    def grouped(batches: List[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        rows = pa.Table.from_batches(batches, schema=batches[0].schema)
        if rows.num_rows == 0:
            return
        out = group(rows.to_pandas())
        if len(out):
            yield from pa.Table.from_pandas(
                out, schema=_GROUP_UDF_SCHEMA, preserve_index=False
            ).to_batches()

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        held: List[pa.RecordBatch] = []  # the open conversation's rows
        for batch in batches:
            if batch.num_rows == 0:
                continue
            conv = batch.column("conv_id")
            last = conv[-1].as_py()
            if held and held[-1].column("conv_id")[-1].as_py() == last:
                held.append(batch)  # one conversation fills the batch
                continue
            # nulls sort first, so a null tail is the whole batch
            # (index -1): everything before the tail is complete
            cut = max(0, pc.index(conv, last).as_py())
            yield from grouped(held + [batch.slice(0, cut)])
            held = [batch.slice(cut)]
        if held:
            yield from grouped(held)

    return run


def group_entities(
    extraction_rows: DataFrame,
    dont_penalize: Optional[Iterable[str]] = DEFAULT_DONT_PENALIZE,
) -> DataFrame:
    """Per-conversation grouping.

    Input: flat extraction rows from
    :func:`webstruct_spark.operators.extract.extract_rows`.
    Output: one row per (group, member entity) —
    ``GROUP_ENTITIES_SCHEMA``.

    The rows are hash-partitioned by conv_id into
    ``defaultParallelism`` partitions (one task per core, the target
    :func:`..operators.spread.widen_scan` uses; AQE does not coalesce
    an explicit partition count) and sorted by conv_id within each.
    One streamed ``mapInArrow`` pass per partition then groups many
    conversations per Python call, so the Arrow/Python crossing is paid
    per batch, not per conversation.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import from_arrow_schema

    n_parts = extraction_rows.sparkSession.sparkContext.defaultParallelism
    grouped = extraction_rows.select(
        "conv_id", "turn_idx", "mention_idx", "text", "entity_type",
        "tok_start", "tok_end", "n_tokens",
    ).repartition(n_parts, "conv_id").sortWithinPartitions(
        "conv_id"
    ).mapInArrow(
        _make_partition_grouper(set(dont_penalize or ())),
        from_arrow_schema(_GROUP_UDF_SCHEMA),
    )
    return grouped.select(
        "conv_id",
        F.format_string("%s:g%04d", "conv_id", "group_idx").alias(
            "group_id"
        ),
        "group_idx", "entity_idx", "text", "entity_type", "turn_idx",
        "threshold", "score", "n_entities",
    )

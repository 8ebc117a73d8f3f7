# -*- coding: utf-8 -*-
"""Domain-grouped cross-validation of the trained CRF — the composed
evaluation workflow of the reference's training example
(/root/reference/example/ner/train.py: ``GroupKFold(
groups=[get_tree_domain(tree) for tree in trees])`` so pages from one
site never straddle the train/test split;
/root/reference/webstruct/infer_domain.py:29-38 derives the group).

Composition (every ingredient is an already-gated operator):

* ``infer_domain`` gives each source page its registered domain
  (A10/A11) — :func:`conv_domains_from_pages` maps conversations to
  their source page's domain;
* fold assignment is ``crc32(domain) % k`` — deterministic, and by
  construction GROUPED: every conversation of one domain lands in the
  same fold, which is exactly GroupKFold's contract (no RNG, no
  driver-side shuffling);
* the distributed trainer's prepare → whitelist → fit contract
  (:mod:`webstruct_spark.operators.trained`): the corpus is prepared
  ONCE with the fold carried per row (``prepare_fit_rows``), ONE
  ``min_df_whitelists`` pass yields every fold's min-df whitelist,
  and each fold is ``fit_prepared(..., held_out=fold)`` (iterated
  parameter mixing on the other k-1 folds) — byte-identical to
  ``train_crf_distributed`` on the fold's training turns;
* per fold: distributed inference on the held-out fold, segment
  P/R/F1 vs the injected gold mentions (``set_prf``'s exact
  integer-scaled ratios).

Scale shape: the folds DataFrame is a tiny (conv_id, domain, fold)
table — every test cut is a broadcast semi-join against it and every
training cut an executor-side tag filter; the k fits' mixing rounds
dominate.

``domain_group_kfold_local`` is the single-node twin the gold builder
and the pytest gate both run — it must stay in lockstep with
``domain_group_kfold_eval``.  The spark-submit CLI lives in
jobs/domain_cv.py.
"""
from __future__ import annotations

import zlib
from typing import Dict, List, Tuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def conv_domains_from_pages(
    transcripts: DataFrame, pages: DataFrame
) -> DataFrame:
    """(conv_id, domain): each conversation's source-page domain.

    The synthetic corpus has no explicit conversation→page link, so
    the pairing is the deterministic rank join: the i-th conversation
    (by conv_id order) maps to page ``i % n_pages`` — a stand-in for
    the reference's ``get_tree_domain(tree)`` where the tree IS the
    page the sample came from.  Both rankings are total orders, so the
    assignment is reproducible anywhere.

    Scale note: the unpartitioned rank windows make this helper
    test-corpus-only BY DESIGN (a real corpus carries its source URL,
    so the domain join is a plain column expression with no global
    sort); :func:`domain_group_kfold_eval` itself only ever sees the
    tiny (conv_id, domain) table."""
    from webstruct_spark.operators.domains import infer_domain

    convs = transcripts.select("conv_id").distinct()
    convs = convs.withColumn(
        "rk",
        F.row_number().over(Window.orderBy("conv_id")) - 1,
    )
    doms = infer_domain(pages)
    doms = doms.withColumn(
        "prk",
        F.row_number().over(Window.orderBy("page_id")) - 1,
    )
    # infer_domain emits exactly one row per page, so the page count
    # comes from the INPUT table's parquet metadata for ~free —
    # counting `doms` instead would execute the whole vote/window DAG
    # once for the count and then AGAIN for the join below
    n_pages = pages.count()
    return (
        convs.withColumn("prk", F.col("rk") % n_pages)
        .join(F.broadcast(doms), "prk")
        .select("conv_id", "domain")
    )


def with_fold(conv_domains: DataFrame, k: int) -> DataFrame:
    """Add the deterministic GroupKFold fold: crc32(domain) % k —
    all conversations of one domain share a fold."""
    return conv_domains.withColumn(
        "fold",
        (F.crc32(F.col("domain").cast("binary")) % k).cast("int"),
    )


def domain_group_kfold_eval(
    turns: DataFrame,
    conv_domains: DataFrame,
    k: int = 3,
    n_parts: int = 8,
    rounds: int = 4,
    min_feat_df: int | None = 2,
    fold_concurrency: int = 4,
) -> DataFrame:
    """Per-fold segment P/R/F1 of the distributed-trained CRF with
    domain-grouped folds.  Returns (fold, n_convs, tp, n_pred, n_gold,
    precision_x1e6, recall_x1e6, f1_x1e6) — one row per non-empty
    fold, ascending.

    ``fold_concurrency``: folds are independent computations over the
    shared prepared RDD, so up to this many run as CONCURRENT Spark
    jobs from driver threads (1 = sequential).  Results are identical
    either way (pytest-gated); the win is wall-clock — each fit's
    per-mixing-round driver barrier (weight collect + broadcast) and
    Python-worker spin-up leave executor gaps that another fold's
    stages fill.  Measured at sf0.1/32 cores: 3 folds 25-27 s
    sequential vs 14.7-14.9 s concurrent (−42%).  On a cluster the
    same holds via the scheduler's FIFO interleave of independent
    jobs.

    Memory trade: each in-flight fold persists its own compact
    (k-1)/k training cut (one cache per fold fit) on top of the
    shared prepared RDD, so
    steady-state cache is ~1 + concurrency*(k-1)/k compact-featurized
    copies (all MEMORY_AND_DISK — spills, never OOMs; the compact
    int-array form is ~20x smaller than the round-4 feature-string
    cache).  On memory-tight clusters set fold_concurrency=1 (CLI:
    ``--fold-concurrency``) to restore the sequential ~1 + (k-1)/k
    bound."""
    from pyspark import StorageLevel

    from webstruct_spark.operators.trained import prepare_fit_rows

    spark = turns.sparkSession
    # checkpoint the tiny fold table once: its lineage (infer_domain
    # regex parse + rank windows in the synthetic pairing) would
    # otherwise re-execute for every train/test cut of every fold
    folds = (
        with_fold(
            # one row per conversation, like the twin's conv_id->domain
            # dict: a duplicated conv_id in conv_domains would otherwise
            # duplicate its turns through the inner join below (the old
            # left_semi cut was idempotent) and inflate n_convs.  The
            # collapse is min(domain) — DETERMINISTIC, unlike
            # dropDuplicates' arbitrary row pick, so a conv listed with
            # two CONFLICTING domains always lands in the same fold
            # (a twin caller must apply the same min rule to its dict)
            conv_domains.groupBy("conv_id").agg(
                F.min("domain").alias("domain")
            ),
            k,
        )
        .select("conv_id", "fold")
        .localCheckpoint(eager=True)
    )
    fold_sizes = {
        r["fold"]: r["n"]
        for r in folds.groupBy("fold").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    if len(fold_sizes) < 2:
        # GroupKFold's n_groups >= n_splits validation, adapted: with
        # every domain hashing into one fold there is no train/test
        # cut at all — fail with the real cause, not an empty-corpus
        # error out of the trainer
        raise ValueError(
            "domain_group_kfold_eval: fewer than 2 populated folds "
            "(%d of k=%d) — GroupKFold needs conversations in >= 2 "
            "distinct crc32(domain) %% k buckets"
            % (len(fold_sizes), k)
        )
    # featurize the corpus ONCE: tokenization + gold encoding + token
    # features are row-local and split-invariant, so the k-1 redundant
    # passes a per-fold train_crf_distributed(train_turns) would run
    # collapse into one prepared RDD; each fold's training cut is an
    # executor-side tag filter over it (fold carried per row via the
    # broadcast join — no driver-held id sets).  The inner join also
    # reproduces the old left_semi drop of conv_ids absent from the
    # folds table.
    tagged = turns.join(F.broadcast(folds), "conv_id")
    prepared = prepare_fit_rows(
        tagged, n_parts=n_parts, tag_col="fold"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    out_rows: List[tuple] = []
    try:
        _kfold_run(
            out_rows, turns, folds, fold_sizes, prepared,
            n_parts, rounds, min_feat_df, fold_concurrency,
        )
    finally:
        prepared.unpersist()
    return spark.createDataFrame(
        out_rows,
        "fold int, n_convs long, tp long, n_pred long, n_gold long, "
        "precision_x1e6 long, recall_x1e6 long, f1_x1e6 long",
    )


def _kfold_run(
    out_rows, turns, folds, fold_sizes, prepared,
    n_parts, rounds, min_feat_df, fold_concurrency=1,
) -> None:
    """Fold loop of :func:`domain_group_kfold_eval` (split out so the
    prepared-RDD unpersist wraps it in one finally): ONE
    ``min_df_whitelists(prepared, min_feat_df, fold_ids)`` pass gives
    every fold's whitelist (a fold's cut excludes exactly the rows
    tagged with it, so its df is total minus the fold's own count),
    then each fold fits ``fit_prepared(prepared, ...,
    whitelist=wl[fold], held_out=fold)`` and scores the held-out
    turns.  Folds share only read-only state (the persisted prepared
    RDD, the whitelists, the checkpointed folds table), so they are
    safe to run as concurrent Spark jobs via
    :func:`webstruct_spark.concurrency.run_concurrent_jobs` — the
    first fold failure cancels every still-QUEUED fold AND interrupts
    the in-flight folds' Spark jobs (shared job group,
    ``interruptOnCancel``), then re-raises.  Output rows are ascending
    by fold either way."""
    import functools

    from webstruct_spark.concurrency import run_concurrent_jobs
    from webstruct_spark.operators.extract import mentions
    from webstruct_spark.operators.metrics import set_prf
    from webstruct_spark.operators.trained import (
        crf_tagged_mentions,
        fit_prepared,
        min_df_whitelists,
    )

    fold_ids = sorted(fold_sizes)
    wl_by_fold: Dict[int, frozenset] = {}
    if min_feat_df is not None and min_feat_df > 1:
        wl_by_fold = min_df_whitelists(prepared, min_feat_df, fold_ids)

    def run_fold(fold):
        test_ids = F.broadcast(
            folds.where(F.col("fold") == fold).select("conv_id")
        )
        test_turns = turns.join(test_ids, "conv_id", "left_semi")
        model = fit_prepared(
            prepared, n_parts=n_parts, rounds=rounds,
            whitelist=wl_by_fold.get(fold), held_out=fold,
        )
        # set_prf is a SINGLE full-outer-join job now, so the fold's
        # inference and gold extraction each execute exactly once —
        # persisting them would only add a materialization pass
        pred = crf_tagged_mentions(test_turns, model)
        gold = mentions(test_turns)
        row = set_prf(
            pred, gold,
            ["conv_id", "turn_idx", "text", "entity_type"],
        ).collect()[0]
        return (
            fold, fold_sizes[fold], row["tp"], row["n_pred"],
            row["n_gold"], row["precision_x1e6"], row["recall_x1e6"],
            row["f1_x1e6"],
        )

    workers = max(1, min(int(fold_concurrency), len(fold_ids)))
    results = run_concurrent_jobs(
        turns.sparkSession,
        [(str(f), functools.partial(run_fold, f)) for f in fold_ids],
        workers,
    )
    out_rows.extend(results[str(f)] for f in fold_ids)


# -- single-node twin (pytest gate) ------------------------------------


def domain_group_kfold_local(
    rows: List[Tuple[str, int, str]],
    domains: Dict[str, str],
    k: int = 3,
    n_parts: int = 8,
    rounds: int = 4,
    min_feat_df: int | None = 2,
) -> List[tuple]:
    """Single-node twin of :func:`domain_group_kfold_eval` over
    (conv_id, turn_idx, text) triples and a conv_id→domain dict:
    identical folds, byte-identical per-fold fits
    (train_crf_mixed_local), identical metric arithmetic.  Must stay
    in lockstep.  If the source table lists one conv under several
    domains, build the dict with the eval side's min(domain) rule —
    ``domains[cid] = min(candidate_domains)`` — or folds diverge."""
    from webstruct_spark.kernel.bilou import decode_mentions
    from webstruct_spark.kernel.smartjoin import smart_join
    from webstruct_spark.operators.tagger import plain_tokens
    from webstruct_spark.operators.trained import train_crf_mixed_local
    from webstruct_spark.sources.goldbuild import extract_mentions_for_turn

    fold_of = {
        cid: zlib.crc32(domains[cid].encode("utf-8")) % k
        for cid in domains
    }
    # lockstep with the Spark side's left_semi join on the folds
    # table: a conv_id absent from `domains` is silently dropped
    # there, so drop it here too instead of raising KeyError below
    rows = [r for r in rows if r[0] in fold_of]
    # fold population mirrors the eval side exactly: counted over the
    # FULL conv→domain table (a conv with no turns still populates its
    # fold there), not just convs present in rows
    fold_counts: Dict[int, int] = {}
    for cid in domains:
        f = fold_of[cid]
        fold_counts[f] = fold_counts.get(f, 0) + 1
    if len(fold_counts) < 2:
        # lockstep with domain_group_kfold_eval's GroupKFold guard
        raise ValueError(
            "domain_group_kfold_local: fewer than 2 populated folds "
            "(%d of k=%d) — GroupKFold needs conversations in >= 2 "
            "distinct crc32(domain) %% k buckets"
            % (len(fold_counts), k)
        )
    out: List[tuple] = []
    for fold in sorted(fold_counts):
        train_rows = [r for r in rows if fold_of[r[0]] != fold]
        test_rows = [r for r in rows if fold_of[r[0]] == fold]
        model = train_crf_mixed_local(
            train_rows, n_parts=n_parts, rounds=rounds,
            min_feat_df=min_feat_df,
        )
        toks_all = [plain_tokens(tx) for _c, _t, tx in test_rows]
        tags_all = model.predict_batch(toks_all)
        pred = set()
        gold = set()
        for (cid, ti, tx), toks, tags in zip(
            test_rows, toks_all, tags_all
        ):
            for items, etype in decode_mentions(
                list(range(len(toks))), tags
            ):
                pred.add(
                    (cid, ti, smart_join(toks[i] for i in items), etype)
                )
            # gold decode shared with the gold builder (single source
            # of truth for the marker→mention chain)
            for text, etype in extract_mentions_for_turn(tx):
                gold.add((cid, ti, text, etype))
        tp = len(pred & gold)
        np_, ng = len(pred), len(gold)
        out.append(
            (
                fold, fold_counts[fold], tp, np_, ng,
                (1_000_000 * tp) // np_ if np_ else 0,
                (1_000_000 * tp) // ng if ng else 0,
                (2_000_000 * tp) // (np_ + ng) if (np_ + ng) else 0,
            )
        )
    return out

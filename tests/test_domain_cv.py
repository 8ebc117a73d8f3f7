# -*- coding: utf-8 -*-
"""Domain-grouped cross-validation workflow (the reference training
example's GroupKFold-by-domain — example/ner/train.py): deterministic
grouped folds, per-fold distributed training == single-node twin."""
import os
import zlib

import duckdb

CORPUS = "/root/repo/data/transcripts/sf0.001"


def _conv_domains(spark):
    from jobs.domain_cv import conv_domains_from_pages
    from webstruct_spark.sources.html_pages import ensure_html_pages

    turns = spark.read.parquet(os.path.join(CORPUS, "transcripts.parquet"))
    pages = spark.read.parquet(ensure_html_pages(CORPUS, n_pages=60))
    return turns, conv_domains_from_pages(turns, pages)


def test_fold_assignment_is_grouped_and_deterministic(spark):
    from jobs.domain_cv import with_fold

    _turns, cd = _conv_domains(spark)
    rows = with_fold(cd, 3).collect()
    assert len(rows) == len({r["conv_id"] for r in rows})  # one per conv
    # GroupKFold property: a domain never straddles folds, and the
    # fold is the pinned crc32(domain) % k
    for r in rows:
        assert r["fold"] == zlib.crc32(r["domain"].encode("utf-8")) % 3
    by_domain = {}
    for r in rows:
        by_domain.setdefault(r["domain"], set()).add(r["fold"])
    assert all(len(fs) == 1 for fs in by_domain.values())
    # more than one fold is populated (the split is real)
    assert len({r["fold"] for r in rows}) > 1


def test_domain_cv_matches_single_node_twin(spark):
    """Per-fold (counts + integer metrics) of the composed distributed
    workflow equal the single-node twin exactly — every fold's IPM fit
    is byte-identical, so inference and the set metric must agree."""
    from jobs.domain_cv import (
        domain_group_kfold_eval,
        domain_group_kfold_local,
    )

    turns, cd = _conv_domains(spark)
    got = [
        tuple(r)
        for r in domain_group_kfold_eval(
            turns, cd, k=3, n_parts=4, rounds=1
        ).collect()
    ]
    rows = duckdb.sql(
        "select conv_id, turn_idx, text from read_parquet('%s')"
        % os.path.join(CORPUS, "transcripts.parquet")
    ).fetchall()
    domains = {r["conv_id"]: r["domain"] for r in cd.collect()}
    want = domain_group_kfold_local(
        rows, domains, k=3, n_parts=4, rounds=1
    )
    assert got == want
    # the evaluation is non-degenerate: every fold scored real data
    # and the held-out F1 clears the reference CI gate (0.3)
    for _f, n_convs, tp, np_, ng, _p, _r, f1 in got:
        assert n_convs > 0 and ng > 0
        assert f1 > 300_000


def test_gold_domain_cv_matches_eval(spark, corpus_dir):
    """The gold builder's gold_domain_cv.parquet (single-node twin at
    the pinned params k=3/n_parts=8/rounds=4/min_df=2 — the same rows
    the driver's domain_cv_f1 oracle reads) equals the distributed
    eval run fresh at those params."""
    import pyarrow.parquet as pq

    from webstruct_spark.operators.domain_cv import (
        conv_domains_from_pages,
        domain_group_kfold_eval,
    )
    from webstruct_spark.sources.html_pages import (
        default_n_pages,
        ensure_html_pages,
        sf_of_dir,
    )

    turns = spark.read.parquet(
        os.path.join(corpus_dir, "transcripts.parquet")
    )
    pages = spark.read.parquet(
        ensure_html_pages(
            corpus_dir, n_pages=default_n_pages(sf_of_dir(corpus_dir))
        )
    )
    cd = conv_domains_from_pages(turns, pages)
    got = sorted(
        tuple(r)
        for r in domain_group_kfold_eval(
            turns, cd, k=3, n_parts=8, rounds=4, min_feat_df=2
        ).collect()
    )
    want = sorted(
        (
            r["fold"], r["n_convs"], r["tp"], r["n_pred"], r["n_gold"],
            r["precision_x1e6"], r["recall_x1e6"], r["f1_x1e6"],
        )
        for r in pq.read_table(
            os.path.join(corpus_dir, "gold_domain_cv.parquet")
        ).to_pylist()
    )
    assert got == want


def test_duplicate_conv_domain_rows_are_idempotent(spark):
    """A conv_domains table that lists a conv_id twice (the API never
    requires uniqueness) must not double that conversation's training
    rows or inflate n_convs — the folds table dedups per conv, like
    the twin's conv_id->domain dict."""
    from webstruct_spark.operators.domain_cv import domain_group_kfold_eval

    turns, cd = _conv_domains(spark)
    doubled = cd.union(cd.limit(5))
    base = sorted(
        tuple(r)
        for r in domain_group_kfold_eval(
            turns, cd, k=3, n_parts=4, rounds=1
        ).collect()
    )
    dup = sorted(
        tuple(r)
        for r in domain_group_kfold_eval(
            turns, doubled, k=3, n_parts=4, rounds=1
        ).collect()
    )
    assert dup == base


def test_prepared_shard_mismatch_rejected(spark):
    """prepare_fit_rows(n_parts=A) handed to the fit with n_parts=B
    must raise — shard layout comes from the prepared RDD, so a
    silent mismatch would break the twin contract."""
    import pytest

    from webstruct_spark.operators.trained import (
        fit_prepared,
        prepare_fit_rows,
    )

    turns = spark.read.parquet(os.path.join(CORPUS, "transcripts.parquet"))
    prepared = prepare_fit_rows(turns, n_parts=4)
    with pytest.raises(ValueError, match="shards"):
        fit_prepared(prepared, n_parts=8)


def test_conflicting_domain_rows_deterministic_min(spark):
    """A conv listed under TWO different domains must land in the
    fold of min(domain) — deterministically — not whichever row a
    dropDuplicates happens to keep."""
    from pyspark.sql import functions as F

    from webstruct_spark.operators.domain_cv import with_fold
    from webstruct_spark.operators.domain_cv import domain_group_kfold_eval

    turns, cd = _conv_domains(spark)
    one = cd.orderBy("conv_id").limit(1).collect()[0]
    conflict = spark.createDataFrame(
        [(one["conv_id"], "aaa-first.example")], "conv_id string, domain string"
    )
    got = sorted(
        tuple(r)
        for r in domain_group_kfold_eval(
            turns, cd.union(conflict), k=3, n_parts=4, rounds=1
        ).collect()
    )
    # min-collapsed explicitly == the conflicted table, run twice
    collapsed = cd.union(conflict).groupBy("conv_id").agg(
        F.min("domain").alias("domain")
    )
    want = sorted(
        tuple(r)
        for r in domain_group_kfold_eval(
            turns, collapsed, k=3, n_parts=4, rounds=1
        ).collect()
    )
    assert got == want
    # and the conflicted conv's fold is pinned by the min domain
    f = (
        with_fold(collapsed, 3)
        .where(F.col("conv_id") == one["conv_id"])
        .collect()[0]
    )
    assert f["domain"] == min(one["domain"], "aaa-first.example")
    assert f["fold"] == zlib.crc32(f["domain"].encode("utf-8")) % 3


def test_prepared_placement_invariant(spark):
    """Compact fit records are self-contained (each carries its pid
    and full shard) and the mix averages in explicit ascending-pid
    order, so ANY placement of intact records — even a repartition()
    that mixes shards within partitions — must yield byte-identical
    weights.  (The n_parts each record carries still guards a shard
    modulus mismatch.)"""
    import pytest

    from webstruct_spark.operators.trained import (
        fit_prepared,
        prepare_fit_rows,
    )

    turns = spark.read.parquet(os.path.join(CORPUS, "transcripts.parquet"))
    prepared = prepare_fit_rows(turns, n_parts=4)
    want = fit_prepared(prepared, n_parts=4).export()
    shuffled = prepare_fit_rows(turns, n_parts=4).repartition(4)
    got = fit_prepared(shuffled, n_parts=4).export()
    assert got == want
    # shard-count mismatch still rejected (wrong crc32 modulus)
    with pytest.raises(ValueError, match="n_parts"):
        fit_prepared(prepare_fit_rows(turns, n_parts=4), n_parts=8)


def test_prepared_modulus_survives_repartition(spark):
    """The shard modulus rides inside each compact record, so a
    prepared RDD repartitioned to the trainer's n_parts is still
    refused when it was built with another one — a partition count
    can match by accident, the records' crc32 modulus cannot."""
    import pytest

    from webstruct_spark.operators.trained import (
        fit_prepared,
        prepare_fit_rows,
    )

    turns = spark.read.parquet(os.path.join(CORPUS, "transcripts.parquet"))
    spoofed = prepare_fit_rows(turns, n_parts=4).repartition(8)
    with pytest.raises(ValueError, match=r"built with 4 shards but n_parts=8"):
        fit_prepared(spoofed, n_parts=8)


def test_fold_concurrency_identical(spark):
    """Concurrent fold jobs (default fold_concurrency=4) must produce
    exactly the sequential results — folds share only read-only
    state, so this pins the thread path against regressions."""
    from webstruct_spark.operators.domain_cv import domain_group_kfold_eval

    turns, cd = _conv_domains(spark)
    seq = sorted(
        tuple(r)
        for r in domain_group_kfold_eval(
            turns, cd, k=3, n_parts=4, rounds=2, fold_concurrency=1
        ).collect()
    )
    par = sorted(
        tuple(r)
        for r in domain_group_kfold_eval(
            turns, cd, k=3, n_parts=4, rounds=2
        ).collect()
    )
    assert par == seq

#!/usr/bin/env python
# -*- coding: utf-8 -*-
"""Headline benchmark: runs the flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

{"metric": "total_sec", "value": N, "unit": "sec",
 "queries": {...per-query seconds...}, "sf": ..., "turns": ...,
 "turns_per_sec": ...}

The KG queries run over the deterministic synthetic transcript corpus
matching the sf (generated on first use under data/transcripts/); the
dedup/ANN/relational queries run over the provided parquet tables.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    import __spark_entry__ as entry
    from webstruct_spark.operators.canon import canonicalize
    from webstruct_spark.operators.dedup import (
        exact_duplicate_groups,
        minhash_lsh_pairs,
    )
    from webstruct_spark.operators.extract import extract_rows, mentions
    from webstruct_spark.operators.grouping_op import group_entities
    from webstruct_spark.operators.similarity import brute_force_topk
    from webstruct_spark.operators.triples_op import triples
    from webstruct_spark.session import get_spark

    sf = entry._sf_of(sf_dir)
    corpus = entry._corpus_for(sf)
    spark = get_spark("bench", cores=cpus)

    timings: dict[str, float] = {}
    counts: dict[str, int] = {}

    def timed(name: str, fn) -> None:
        t0 = time.time()
        counts[name] = fn()
        timings[name] = round(time.time() - t0, 3)

    transcripts = spark.read.parquet(
        os.path.join(corpus, "transcripts.parquet")
    )
    transcripts.cache()
    n_turns = transcripts.count()
    gazetteer = spark.read.parquet(os.path.join(corpus, "gazetteer.parquet"))

    # warm every python worker once (full pass) so q1 measures steady
    # state, not worker spin-up
    mentions(transcripts).count()

    # q1: mention extraction (the tokenize->encode->decode hot path)
    timed("q1_mentions", lambda: mentions(transcripts).count())

    # q2: full KG chain -> triples
    def q2() -> int:
        ge = group_entities(extract_rows(transcripts))
        return triples(ge).count()

    timed("q2_triples", q2)

    # q3: linking + per-surface canonicalization
    def q3() -> int:
        _links, nodes = canonicalize(mentions(transcripts), gazetteer)
        return nodes.count()

    timed("q3_canonicalize", q3)

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    docs.cache()
    docs.count()

    # q4: exact dedup groups
    timed(
        "q4_dedup_exact",
        lambda: exact_duplicate_groups(docs)
        .where(F.col("doc_id") != F.col("canonical_doc_id"))
        .count(),
    )

    # q5: minhash-LSH near-dup pairs (unpersist the internal sketch
    # after materializing — caller-owned lifecycle)
    def q5() -> int:
        res = minhash_lsh_pairs(docs)
        n = res.count()
        res._sketch_handle.unpersist()
        return n

    timed("q5_dedup_minhash", q5)

    # q6: brute-force cosine top-k over embeddings
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    q_rows = emb.where(F.col("vec_id") % 199 == 0).select(
        "vec_id", "embedding"
    ).collect()
    queries_vec = [(int(r["vec_id"]), list(r["embedding"])) for r in q_rows]
    timed(
        "q6_ann_topk",
        lambda: brute_force_topk(emb, queries_vec, k=5).count(),
    )

    # q6b/q6c: the PERSISTENT bucket-partitioned ANN index — the path
    # that survives 100x (probes read only the probed bucket
    # directories, PartitionFilters at the source).  Build (one-time,
    # amortized over every probe) and probe timed separately.
    from webstruct_spark.operators.similarity import (
        ann_index_topk,
        write_ann_index,
    )

    idx_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "data", "ann_index",
        "bench_" + os.path.basename(os.path.normpath(sf_dir)),
    )
    timed(
        "q6b_ann_index_build",
        lambda: len(write_ann_index(emb, idx_path, kind="lsh", n_planes=8)),
    )
    qs_sorted = sorted(queries_vec, key=lambda q: q[0])
    timed(
        "q6c_ann_index_probe",
        lambda: ann_index_topk(
            spark, idx_path, qs_sorted, k=5, multiprobe=1
        ).count(),
    )

    # q7/q8: relational analogs over events
    timed(
        "q7_mode_event",
        lambda: entry._q_mode_event_type(spark, sf_dir).count(),
    )
    timed(
        "q8_sessionize",
        lambda: entry._q_sessionize_events(spark, sf_dir).count(),
    )

    # q9: Viterbi tagger path (plain-text decode with broadcast model)
    from webstruct_spark.operators.tagger import tagged_mentions

    timed(
        "q9_tagger",
        lambda: tagged_mentions(transcripts, gazetteer).count(),
    )

    # q10: text-quality profile over documents (pure Column exprs)
    timed(
        "q10_text_profile",
        lambda: entry._q_text_profile(spark, sf_dir).count(),
    )

    # q11: trained-model path, fit and inference timed SEPARATELY —
    # the fit is a one-time deterministic driver-side cost (amortized
    # over every later inference run); the distributed inference is
    # the recurring per-corpus cost that scales with the cluster.
    from webstruct_spark.operators.trained import (
        crf_tagged_mentions,
        train_crf,
    )

    fitted: dict = {}

    def q11_fit() -> int:
        fitted["model"] = train_crf(transcripts)
        return len(fitted["model"].w)

    timed("q11_crf_fit", q11_fit)
    timed(
        "q11_crf_infer",
        lambda: crf_tagged_mentions(transcripts, fitted["model"]).count(),
    )

    # q12: DISTRIBUTED CRF training (iterated parameter mixing over the
    # full corpus — the fit that scales with the cluster; executors run
    # the per-shard epochs, only n_parts weight blobs reach the driver).
    # Three rows decompose the feature-bounding strategies so the
    # "min-df costs ~0.7 s, executor-mix free" analysis in BENCH.md is
    # reproduced by the harness every round: unpruned (no vocabulary
    # bound), min-df pruned (the gated default), feature-hashed (fixed
    # 4096-dim model regardless of vocabulary).
    from webstruct_spark.operators.trained import train_crf_distributed

    # shards scale with cores (one fit task per core) — the same knob a
    # real cluster turns; the driver correctness gate pins n_parts=8
    # against the byte-identical single-node twin separately.
    timed(
        "q12_unpruned",
        lambda: len(
            train_crf_distributed(
                transcripts, n_parts=cpus, min_feat_df=None
            ).w
        ),
    )
    timed(
        "q12_pruned",
        lambda: len(train_crf_distributed(transcripts, n_parts=cpus).w),
    )
    timed(
        "q12_hashed",
        lambda: len(
            train_crf_distributed(
                transcripts, n_parts=cpus, feat_hash_dim=4096
            ).w
        ),
    )

    # q13: the composed domain-grouped k-fold CV workflow (k=3 folds,
    # each = distributed IPM fit on 2/3 of the corpus + distributed
    # held-out inference + exact set-P/R/F1) — the end-to-end
    # evaluation job a production retrain would run; dominated by the
    # k fits, so expect ~2-3x one q12 row.
    from webstruct_spark.operators.domain_cv import (
        conv_domains_from_pages,
        domain_group_kfold_eval,
    )
    from webstruct_spark.sources.html_pages import (
        default_n_pages,
        ensure_html_pages,
    )

    def q13() -> int:
        pages = spark.read.parquet(
            ensure_html_pages(corpus, n_pages=default_n_pages(sf))
        )
        cd = conv_domains_from_pages(transcripts, pages)
        return domain_group_kfold_eval(
            transcripts, cd, k=3, n_parts=cpus
        ).count()

    timed("q13_domain_cv", q13)

    # q14: corpus-wide annotation verification (one Arrow-batched
    # scan emitting only divergent rows — the QA pass a training-data
    # pipeline runs after any annotation format conversion)
    timed(
        "q14_annotation_verify",
        lambda: entry._q_annotation_verify(spark, sf_dir).count(),
    )

    # q15: the persistent-build pair — full staged build (the
    # rebuild cost a dimension change USED to require) vs
    # refresh_gazetteer (links/nodes/edges recomputed from the
    # committed slim mentions/triples tables; the corpus stages are
    # never touched).  The ratio is the point: at 100 TB the build
    # re-extracts the corpus while the refresh reads tables orders of
    # magnitude smaller.  Fresh temp dir each run so both rows
    # measure real work every round.
    import shutil as _shutil
    import tempfile as _tempfile

    from webstruct_spark.plans.manifest import table_fingerprint
    from webstruct_spark.plans.pipeline import build_kg, refresh_gazetteer

    kg_out = _tempfile.mkdtemp(prefix="bench_kg_")
    try:

        def q15_build() -> int:
            paths = build_kg(spark, corpus, kg_out)
            return spark.read.parquet(paths["nodes"]).count()

        timed("q15_kg_build", q15_build)

        from webstruct_spark.sources.gazshrink import shrink_gazetteer

        gaz2 = shrink_gazetteer(gazetteer)
        gaz2_dir = os.path.join(kg_out, "_gaz2.parquet")
        gaz2.write.parquet(gaz2_dir)
        gaz2_fp = table_fingerprint(gaz2_dir, spark=spark)

        def q15_refresh() -> int:
            paths = refresh_gazetteer(
                spark, spark.read.parquet(gaz2_dir), gaz2_fp, kg_out
            )
            return spark.read.parquet(paths["nodes"]).count()

        timed("q15_gazetteer_refresh", q15_refresh)
    finally:
        _shutil.rmtree(kg_out, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    extract_sec = timings["q1_mentions"]
    print(
        json.dumps(
            {
                "metric": "total_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "counts": counts,
                "sf": sf,
                "cpus": cpus,
                "turns": n_turns,
                "turns_per_sec": round(n_turns / extract_sec, 1)
                if extract_sec
                else None,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

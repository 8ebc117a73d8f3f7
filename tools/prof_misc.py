# -*- coding: utf-8 -*-
"""Phase-isolated profile of q2/q3/q5/q6b/q6c/q9/q15 at sf0.1 (guide
§1: decide where each query's time goes before touching it).  Uses the
noop sink for intermediate materializations.
"""
from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    import __spark_entry__ as entry
    from webstruct_spark.operators.canon import (
        canonicalize,
        connected_components_df,
        surface_key_col,
    )
    from webstruct_spark.operators.extract import extract_rows, mentions
    from webstruct_spark.operators.grouping_op import group_entities
    from webstruct_spark.operators.linking import link_surfaces, mention_surfaces
    from webstruct_spark.operators.triples_op import triples
    from webstruct_spark.session import get_spark

    corpus = entry._corpus_for(entry._sf_of(sf_dir))
    spark = get_spark("prof_misc", cores=cpus)
    t = spark.read.parquet(os.path.join(corpus, "transcripts.parquet"))
    t.cache()
    t.count()
    gaz = spark.read.parquet(os.path.join(corpus, "gazetteer.parquet"))
    mentions(t).count()  # warm workers

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def timed(name, fn):
        t0 = time.time()
        r = fn()
        print("%-34s %7.3f s" % (name, time.time() - t0), flush=True)
        return r

    sc = spark.sparkContext

    # ---- q2 decomposition ----
    sc.setJobDescription("q2: extract_rows only")
    timed("q2a extract_rows noop", lambda: noop(extract_rows(t)))
    sc.setJobDescription("q2: extract+group")
    timed("q2b group_entities noop", lambda: noop(group_entities(extract_rows(t))))
    sc.setJobDescription("q2: full")
    timed("q2c triples count", lambda: triples(group_entities(extract_rows(t))).count())

    # ---- q3 decomposition ----
    sc.setJobDescription("q3: surfaces")
    timed("q3a mention_surfaces noop", lambda: noop(mention_surfaces(mentions(t))))
    sc.setJobDescription("q3: linked")
    linked = link_surfaces(mention_surfaces(mentions(t)), gaz).withColumn(
        "skey", surface_key_col(F.col("entity_type"), F.col("norm_text"))
    )
    timed("q3b linked localCheckpoint", lambda: linked.localCheckpoint(eager=True))
    lc = linked.localCheckpoint(eager=True)
    edges = lc.where(F.col("canonical_id").isNotNull()).select(
        F.col("skey").alias("src"),
        F.concat(F.lit("g:"), "canonical_id").alias("dst"),
    )
    vertices = lc.select(F.col("skey").alias("node")).union(
        edges.select(F.col("dst").alias("node"))
    ).distinct()
    sc.setJobDescription("q3: CC loop")
    labels, rounds = timed(
        "q3c connected_components_df",
        lambda: connected_components_df(vertices, edges, return_rounds=True),
    )
    print("   CC rounds: %d" % rounds, flush=True)
    sc.setJobDescription("q3: label join + nodes agg")
    timed("q3d full canonicalize nodes", lambda: canonicalize(mentions(t), gaz)[1].count())

    # ---- q9 decomposition ----
    from webstruct_spark.operators.tagger import tagged_mentions

    sc.setJobDescription("q9 tagger")
    timed("q9 tagged_mentions count", lambda: tagged_mentions(t, gaz).count())

    # ---- q5 ----
    from webstruct_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    docs.cache()
    docs.count()

    def q5():
        res = minhash_lsh_pairs(docs)
        n = res.count()
        res._sketch_handle.unpersist()
        return n

    sc.setJobDescription("q5 sketch only")
    sk = minhash_lsh_pairs(docs)
    timed("q5a sketch noop", lambda: noop(sk._sketch_handle))
    sk._sketch_handle.unpersist()
    sc.setJobDescription("q5 full")
    timed("q5b full minhash pairs", q5)

    # ---- q6b/q6c ----
    from webstruct_spark.operators.similarity import ann_index_topk, write_ann_index

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    q_rows = emb.where(F.col("vec_id") % 199 == 0).select(
        "vec_id", "embedding"
    ).collect()
    qs = sorted(
        ((int(r["vec_id"]), list(r["embedding"])) for r in q_rows),
        key=lambda q: q[0],
    )
    tmp = tempfile.mkdtemp(prefix="prof_ann_")
    idx = os.path.join(tmp, "idx")
    sc.setJobDescription("q6b fresh build")
    timed("q6b write_ann_index FRESH", lambda: write_ann_index(emb, idx, kind="lsh", n_planes=8))
    sc.setJobDescription("q6b rebuild over live")
    timed("q6b write_ann_index LIVE", lambda: write_ann_index(emb, idx, kind="lsh", n_planes=8))
    sc.setJobDescription("q6c probe")
    timed("q6c probe", lambda: ann_index_topk(spark, idx, qs, k=5, multiprobe=1).count())
    timed("q6c probe again", lambda: ann_index_topk(spark, idx, qs, k=5, multiprobe=1).count())
    n_files = sum(len(fs) for _d, _s, fs in os.walk(idx))
    print("   index file count: %d" % n_files, flush=True)
    shutil.rmtree(tmp, ignore_errors=True)

    # ---- q15 ----
    from webstruct_spark.plans.pipeline import build_kg, kg_status

    kg_out = tempfile.mkdtemp(prefix="prof_kg_")
    sc.setJobDescription("q15 build_kg")
    timed("q15 build_kg", lambda: build_kg(spark, corpus, kg_out))
    for stage, info in sorted(kg_status(spark, kg_out)["stages"].items()):
        print("   stage %-16s %7.3f s" % (stage, info.get("wall_sec", -1)), flush=True)
    shutil.rmtree(kg_out, ignore_errors=True)

    spark.stop()


if __name__ == "__main__":
    main()

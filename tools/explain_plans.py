#!/usr/bin/env python
# -*- coding: utf-8 -*-
"""Capture .explain('formatted') for the headline operators into
PLANS.md — the plan-shape evidence (column pruning, broadcast joins,
whole-stage codegen spans, single-shuffle grouping) that the tuning
claims in BENCH.md rest on."""
from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def explain(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _read_manual_tail(plans_path: str) -> str:
    """Hand-curated sections below the marker survive regeneration.
    Checked BEFORE the (minutes-long) plan capture so a mangled
    marker fails fast instead of erasing the narrative at write
    time."""
    marker = "<!-- MANUAL SECTIONS BELOW"
    if not os.path.exists(plans_path):
        return ""
    old = open(plans_path).read()
    i = old.find(marker)
    if i == -1:
        # refuse to silently drop the hand-curated narrative: a
        # mangled marker line would otherwise erase it with no error.
        # Delete PLANS.md first if a clean regen without the manual
        # tail is genuinely intended.
        raise SystemExit(
            "PLANS.md exists but the manual-tail marker "
            f"({marker!r}) was not found — refusing to overwrite and "
            "lose hand-curated sections. Restore the marker line or "
            "remove PLANS.md to regenerate from scratch."
        )
    return "\n" + old[i:]


def main() -> None:
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from webstruct_spark.operators.canon import canonicalize
    from webstruct_spark.operators.dedup import ngram_jaccard_pairs
    from webstruct_spark.operators.extract import extract_rows, mentions
    from webstruct_spark.operators.grouping_op import group_entities
    from webstruct_spark.operators.triples_op import triples
    from webstruct_spark.session import get_spark

    plans_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "PLANS.md",
    )
    manual_tail = _read_manual_tail(plans_path)

    spark = get_spark("plans", cores=8, shuffle_partitions=8)
    corpus = entry._corpus_for(0.001)
    turns = spark.read.parquet(os.path.join(corpus, "transcripts.parquet"))
    gaz = spark.read.parquet(os.path.join(corpus, "gazetteer.parquet"))
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    sections = []

    def add(title: str, df, notes: str) -> None:
        sections.append((title, notes, explain(df)))

    add(
        "mentions (narrow extraction)",
        mentions(turns),
        "Expect: Scan parquet with ReadSchema limited to "
        "conv_id/turn_idx/text (column pruning through mapInArrow), "
        "one MapInArrow node, a Filter, and one Exchange: "
        "extract_rows' scan widening, a RoundRobinPartitioning below "
        "the MapInArrow (the one-file corpus scans narrower than the "
        "cores; a scan already that wide gets no Exchange).",
    )
    add(
        "group_entities (single shuffle)",
        group_entities(extract_rows(turns)),
        "Expect: one Exchange of its own (hashpartitioning on "
        "conv_id, one partition per core) feeding a Sort and one "
        "MapInArrow, no FlatMapGroupsInPandas — token arrays never "
        "shuffle (a RoundRobin Exchange below the extract MapInArrow "
        "is extract_rows' scan widening).",
    )
    add(
        "triples (windows over group entities)",
        triples(group_entities(extract_rows(turns))),
        "Expect: Window + WindowGroupLimit-free row_number plan over "
        "the same single-shuffle grouping output.",
    )
    add(
        "linking+nodes (broadcast gazetteer join)",
        canonicalize(mentions(turns), gaz)[1],
        "Expect: BroadcastHashJoin with BroadcastExchange on the "
        "normalized-gazetteer side; a HashAggregate partial/final pair "
        "for the surface counts and a SortAggregate pair (string "
        "mins) for the per-node rollup; no Window (a surface's "
        "node_id is a per-row expression).",
    )
    from webstruct_spark.operators.graph import materialize_edges
    from webstruct_spark.operators.triples_op import triples as triples_fn

    links_df, _nodes = canonicalize(mentions(turns), gaz)
    edges_df = materialize_edges(
        triples_fn(group_entities(extract_rows(turns))), links_df
    )
    add(
        "edges (graph materialization)",
        edges_df,
        "Expect: two joins against the links side (endpoint "
        "resolution) with the strategy left to AQE — broadcast here "
        "(links is tiny at this sf), shuffle join past the broadcast "
        "cap (near-unique TEL/EMAIL surfaces make links grow with "
        "corpus cardinality, so a forced-broadcast hint would "
        "hard-fail at the 100 TB design point); no extra shuffle of "
        "the triples beyond what the chosen strategy needs.",
    )
    from webstruct_spark.operators.graph import edge_weights, node_degrees

    add(
        "node_degrees (graph-consumer aggregate)",
        node_degrees(edges_df),
        "Expect: a Union of two narrow per-endpoint projections "
        "feeding ONE HashAggregate partial/final pair (map-side "
        "combine bounds hub-node skew) — a single Exchange on "
        "node_id, vs the two-aggregate + outer-join shape's three.",
    )
    add(
        "edge_weights (weighted edge collapse)",
        edge_weights(edges_df),
        "Expect: partial_count + partial distinct expansion then one "
        "Exchange on (subj_node, pred, obj_node) — the multi-edge "
        "collapse happens map-side first.",
    )
    add(
        "ngram_jaccard (relational dedup)",
        ngram_jaccard_pairs(docs, threshold=0.2),
        "Expect: whole-stage codegen for shingling (no Python), "
        "shuffle joins with AQE, HashAggregates.",
    )

    # persistent ANN index probes: the 100-TB property — the scan's
    # file index holds only the probed buckets' files
    import tempfile

    from webstruct_spark.operators.similarity import (
        ann_index_topk,
        write_ann_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = sorted(
        (
            (int(r["vec_id"]), list(r["embedding"]))
            for r in emb.where(F.col("vec_id") % 199 == 0).collect()
        ),
        key=lambda q: q[0],
    )
    idx_root = tempfile.mkdtemp(prefix="plans_ann_")
    try:
        write_ann_index(emb, idx_root + "/lsh", kind="lsh", n_planes=8)
        add(
            "ann_index_topk probe (LSH index, probed buckets' files only)",
            ann_index_topk(
                spark, idx_root + "/lsh", qs, k=5, multiprobe=1
            ),
            "Expect: Scan parquet whose Location is an InMemoryFileIndex "
            "of only the probed buckets' files, taken from the current "
            "snapshot record (read volume bucket-bounded, not "
            "corpus-bounded; no directory listing); MapInPandas exact "
            "rerank; Sort+Window(row_number) global top-k merge.",
        )
        write_ann_index(emb, idx_root + "/ivf", kind="ivf", n_centroids=16)
        add(
            "ann_index_topk probe (IVF index, probed cells' files only)",
            ann_index_topk(spark, idx_root + "/ivf", qs, k=5, n_probe=4),
            "Expect: same shape as the LSH probe, its file index holding "
            "the n_probe nearest cells' files (centroids read from the "
            "centroid file the snapshot names — no driver-local file "
            "I/O anywhere in the path).",
        )
    finally:
        # the plans are captured from .explain() strings; the two
        # materialized index trees have no further use — don't leave
        # orphaned parquet under /tmp on every regeneration
        import shutil

        shutil.rmtree(idx_root, ignore_errors=True)

    out = ["# PLANS — captured physical plans (sf0.001, local[8])\n"]
    out.append(
        "Generated by tools/explain_plans.py. The 'Expect' notes state\n"
        "the plan property each operator is designed around; regenerate\n"
        "after operator changes and re-check.\n"
        "\n"
        "The KG sections capture each operator over the corpus file.\n"
        "Inside build_kg / append_kg_frames / refresh_gazetteer every\n"
        "stage read names the files the store's current snapshot lists\n"
        "(plans/pipeline.py), so there a Scan's Location is an\n"
        "InMemoryFileIndex of those files, never a stage directory; past\n"
        "32 files (spark.sql.sources.parallelPartitionDiscovery.threshold)\n"
        "the read adds one listing job.\n"
    )
    for title, notes, plan in sections:
        out.append(f"\n## {title}\n\n{notes}\n\n```\n{plan}```\n")
    # manual_tail was read (and the marker validated) before the
    # plan capture started — see _read_manual_tail
    with open(plans_path, "w") as f:
        f.write("".join(out) + manual_tail)
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()

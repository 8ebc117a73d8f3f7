# -*- coding: utf-8 -*-
"""Graph materialization: resolve triple endpoints to canonical node
ids — the final "graph materialize" stage of the north rule (triple
extraction → entity linking → canonicalization → graph).

``materialize_edges`` joins the (subj, pred, obj) triples against the
canonicalization links on (entity_type, normalized text) for both
endpoints, producing an edge table whose endpoints are stable node
ids.  The links side is the distinct-surface table — usually much
smaller than triples, but it grows with corpus cardinality
(near-unique surfaces like TEL/EMAIL make it linear in corpus size),
so the join strategy is left to AQE: it broadcasts when the table is
ACTUALLY under the threshold and shuffle-joins when it is not, instead
of a forced-broadcast hint that would hard-fail past Spark's 8 GB
broadcast cap at the 100 TB design point.  Provenance (conv_id,
group_id, triple_idx) is preserved per edge.
"""
from __future__ import annotations

from typing import Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .linking import norm_text_col


def _endpoint_join_parts(
    triples: DataFrame, links: DataFrame
) -> Tuple[DataFrame, DataFrame, DataFrame, Column, Column]:
    """Shared construction for :func:`materialize_edges` and
    :func:`unmatched_triple_endpoints`: the normalized triples table,
    the two per-endpoint projections of ``links``, and the two join
    conditions — ONE definition so the monitoring check can never
    drift from the join it monitors."""
    l_subj = links.select(
        F.col("entity_type").alias("_st"),
        F.col("norm_text").alias("_sn"),
        F.col("node_id").alias("subj_node"),
    )
    l_obj = links.select(
        F.col("entity_type").alias("_ot"),
        F.col("norm_text").alias("_on"),
        F.col("node_id").alias("obj_node"),
    )
    t = triples.withColumn("_sn", norm_text_col(F.col("subj"))).withColumn(
        "_on", norm_text_col(F.col("obj"))
    )
    subj_cond = (t["subj_type"] == l_subj["_st"]) & (t["_sn"] == l_subj["_sn"])
    obj_cond = (t["obj_type"] == l_obj["_ot"]) & (t["_on"] == l_obj["_on"])
    return t, l_subj, l_obj, subj_cond, obj_cond


def materialize_edges(triples: DataFrame, links: DataFrame) -> DataFrame:
    """(subj_node, pred, obj_node, subj, obj, conv_id, group_id,
    triple_idx) — endpoints resolved through the canonical links;
    unlinked surfaces keep their deterministic surface node id, so the
    join is inner and lossless WHEN links covers the triples'
    surfaces.  In the pipeline that holds by construction (links is
    recomputed from the same mentions the triples came from, and the
    append tear-guards keep the two in lockstep); a caller joining a
    links table from a DIFFERENT corpus state silently loses the
    uncovered edges — run :func:`unmatched_triple_endpoints` beside
    any out-of-pipeline call to make that loss loud."""
    t, l_subj, l_obj, subj_cond, obj_cond = _endpoint_join_parts(
        triples, links
    )
    out = t.join(l_subj, subj_cond, "inner").join(l_obj, obj_cond, "inner")
    return out.select(
        "subj_node",
        "pred",
        "obj_node",
        "subj",
        "obj",
        "conv_id",
        "group_id",
        "triple_idx",
    )


def unmatched_triple_endpoints(
    triples: DataFrame, links: DataFrame
) -> DataFrame:
    """The rows :func:`materialize_edges`' inner joins would DROP:
    ``(conv_id, group_id, triple_idx, endpoint, entity_type, text)``
    with one row per uncovered endpoint (``endpoint`` ∈ subj/obj).
    Empty on every in-pipeline path; non-empty means the links table
    is from a different corpus state than the triples.  An explicit
    check a scheduled job can alert on, not a hot-path assert the
    100 TB run pays for."""
    t, l_subj, l_obj, subj_cond, obj_cond = _endpoint_join_parts(
        triples, links
    )
    subj_missing = t.join(l_subj, subj_cond, "left_anti").select(
        "conv_id",
        "group_id",
        "triple_idx",
        F.lit("subj").alias("endpoint"),
        F.col("subj_type").alias("entity_type"),
        F.col("subj").alias("text"),
    )
    obj_missing = t.join(l_obj, obj_cond, "left_anti").select(
        "conv_id",
        "group_id",
        "triple_idx",
        F.lit("obj").alias("endpoint"),
        F.col("obj_type").alias("entity_type"),
        F.col("obj").alias("text"),
    )
    return subj_missing.unionByName(obj_missing)


def node_degrees(edges: DataFrame) -> DataFrame:
    """Per-node degree summary over the materialized edge table:
    ``(node_id, out_degree, in_degree, degree)`` — the first query a
    KG consumer runs (hub detection, join-fanout estimation, skew
    diagnosis before a traversal).  Two narrow column-pruned
    projections of the edge table unioned into ONE hash aggregate on
    the node id — a single shuffle, vs the two-aggregate + outer-join
    shape which shuffles three times; map-side partial aggregation
    absorbs the head-entity (hub) skew before the exchange and AQE
    coalesces the rest."""
    contrib = edges.select(
        F.col("subj_node").alias("node_id"),
        F.lit(1).alias("_out"),
        F.lit(0).alias("_in"),
    ).unionAll(
        edges.select(
            F.col("obj_node").alias("node_id"),
            F.lit(0).alias("_out"),
            F.lit(1).alias("_in"),
        )
    )
    agg = contrib.groupBy("node_id").agg(
        F.sum("_out").alias("out_degree"),
        F.sum("_in").alias("in_degree"),
    )
    return agg.select(
        "node_id",
        "out_degree",
        "in_degree",
        (F.col("out_degree") + F.col("in_degree")).alias("degree"),
    )


def edge_weights(edges: DataFrame) -> DataFrame:
    """Collapse multi-edges into weighted canonical edges:
    ``(subj_node, pred, obj_node, n_triples, n_convs)`` — the
    aggregated graph a downstream embedding/traversal consumes
    (n_convs = distinct supporting conversations, the provenance
    weight).  One hash aggregate keyed on the edge triple; skew on
    hub-to-hub edges is bounded by map-side partial aggregation +
    AQE."""
    return edges.groupBy("subj_node", "pred", "obj_node").agg(
        F.count("*").alias("n_triples"),
        F.countDistinct("conv_id").alias("n_convs"),
    )

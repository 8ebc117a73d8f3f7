# -*- coding: utf-8 -*-
"""Canonicalization: every mention surface gets one node id by a
per-surface rule.

    node_id = "g:" + canonical_id   if the surface links to the gazetteer
            = its own surface key   otherwise ("t:<TYPE>:<norm_text>")

This equals the gold builder's label (``kernel.canon.link_edges`` +
``connected_components``: the lexicographic MIN member key of each
component of the surface↔canonical graph).  :func:`link_surfaces`
emits at most one ``canonical_id`` per surface, so every edge is
``t:… → g:<cid>`` and every component is a star around one ``g:`` node
(or an unlinked surface alone).  Every surface key starts with ``"t:"``
and ``"g:" < "t:"``, so a star's min member is its ``g:`` centre.

A surface's node depends on that surface alone: adding surfaces never
changes the node of a stored one (tests/test_connected_components.py).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .linking import link_surfaces, mention_surfaces


def surface_key_col(entity_type, norm_text):
    return F.concat(F.lit("t:"), entity_type, F.lit(":"), norm_text)


def canonicalize(
    mentions: DataFrame,
    gazetteer: DataFrame,
    checkpoint: bool = False,
):
    """Full linking + canonicalization.

    ``checkpoint=True`` localCheckpoints the per-surface table before
    links/nodes fork from it — for callers that MATERIALIZE BOTH
    outputs (the staged build writes two tables) the upstream
    extract+aggregate+join chain then runs once instead of twice.
    Single-output callers keep the default: the checkpoint would only
    add a materialization.  Value-transparent either way.

    Returns (links_df, nodes_df):
      links: (entity_type, norm_text, node_id)
      nodes: (node_id, entity_type, canonical_text, n_surfaces,
              n_mentions)
    """
    linked = link_surfaces(mention_surfaces(mentions), gazetteer)
    links = linked.select(
        "entity_type",
        "norm_text",
        F.coalesce(
            F.concat(F.lit("g:"), "canonical_id"),
            surface_key_col(F.col("entity_type"), F.col("norm_text")),
        ).alias("node_id"),
        "n_mentions",
    )
    if checkpoint:
        links = links.localCheckpoint(eager=True)
    nodes = links.groupBy("node_id").agg(
        F.min(F.struct("entity_type", "norm_text"))["entity_type"].alias(
            "entity_type"
        ),
        F.min("norm_text").alias("canonical_text"),
        F.count(F.lit(1)).cast("int").alias("n_surfaces"),
        F.sum("n_mentions").alias("n_mentions"),
    )
    return links.select("entity_type", "norm_text", "node_id"), nodes

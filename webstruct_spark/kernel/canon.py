# -*- coding: utf-8 -*-
"""Entity linking + canonicalization rules, shared by the single-node
gold builder and the distributed implementation.

Model
-----
* ``norm_text``: lowercase + whitespace-collapse of a mention's text —
  the blocking/join key.
* every distinct ``(entity_type, norm_text)`` pair is a *surface node*
  with key ``t:<TYPE>:<norm_text>``;
* a gazetteer alias whose type matches links its surface node to a
  *canonical node* ``g:<canonical_id>`` — so alias variants of the
  same canonical entity (e.g. "Acme" / "Acme Systems") land in one
  connected component;
* canonical node id of a component = lexicographic MIN member key
  (deterministic, order-free).

The distributed version (webstruct_spark/operators/canon.py) computes
the same labels per surface: each surface links to at most one
canonical id, so every component is a star around its ``g:`` node,
whose key is the min member.  :func:`connected_components` here is a
plain union-find used for gold tables and tests.

Gazetteer-as-broadcast-join per the reference's longest-match lexicon
feature (/root/reference/webstruct/features/global_features.py:7-39),
re-expressed relationally.
"""
from __future__ import annotations

import re
from typing import Dict, Iterable, List, Sequence, Tuple

_WS = re.compile(r"\s+")


def norm_text(text: str) -> str:
    return _WS.sub(" ", text.strip().lower())


def surface_key(entity_type: str, text: str) -> str:
    return "t:%s:%s" % (entity_type, norm_text(text))


def canonical_key(canonical_id: str) -> str:
    return "g:%s" % canonical_id


def link_edges(
    surface_pairs: Iterable[Tuple[str, str]],
    gazetteer: Iterable[Tuple[str, str, str]],
) -> List[Tuple[str, str]]:
    """Edges (surface_key, canonical_key) for surfaces whose normalized
    text equals a same-typed gazetteer alias.

    ``surface_pairs``: (entity_type, text) distinct mention surfaces.
    ``gazetteer``: (alias, canonical_id, entity_type) rows.
    """
    # min(canonical_id) on duplicate normalized aliases: deterministic
    # and input-order-free, so the distributed groupBy-min agrees.
    alias_map: Dict[Tuple[str, str], str] = {}
    for alias, cid, etype in gazetteer:
        key = (etype, norm_text(alias))
        if key not in alias_map or cid < alias_map[key]:
            alias_map[key] = cid
    edges = []
    for etype, text in surface_pairs:
        cid = alias_map.get((etype, norm_text(text)))
        if cid is not None:
            edges.append((surface_key(etype, text), canonical_key(cid)))
    return edges


def connected_components(
    nodes: Sequence[str], edges: Iterable[Tuple[str, str]]
) -> Dict[str, str]:
    """Union-find; returns node -> component id (lexicographic min
    member)."""
    parent: Dict[str, str] = {n: n for n in nodes}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    def union(a: str, b: str) -> None:
        for n in (a, b):
            if n not in parent:
                parent[n] = n
        ra, rb = find(a), find(b)
        if ra != rb:
            # keep the lexicographically smaller root
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra

    for a, b in edges:
        union(a, b)
    # min-member invariant holds because unions always keep the smaller
    # root; a final sweep normalizes path compression results
    return {n: find(n) for n in parent}

# -*- coding: utf-8 -*-
"""canonicalize's per-surface node rule against the single-node
union-find reference (kernel.canon, what the gold builder runs), and
the append invariant: adding surfaces never relabels a stored one."""
import random
from collections import defaultdict

from webstruct_spark.kernel.canon import (
    connected_components,
    link_edges,
    norm_text,
    surface_key,
)
from webstruct_spark.operators.canon import canonicalize

TYPES = ["ORG", "PER", "CITY"]
M_SCHEMA = "conv_id string, turn_idx int, text string, entity_type string"
G_SCHEMA = "alias string, entity_type string, canonical_id string"


def _gaz_rows():
    # some aliases shared by several canonical ids (normalized_gazetteer
    # collapses those via min), one cid spanning two entity types (its
    # component spans types)
    rows = []
    for i in range(40):
        rows.append(("alias %d" % (i % 25), TYPES[i % 3], "C%03d" % (i % 12)))
    rows.append(("shared alias", "ORG", "C900"))
    rows.append(("shared alias b", "PER", "C900"))
    return rows


def _mention_rows(seed, n):
    # surface collisions across types, case/space noise, and repeats
    # (n_mentions > 1)
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        t = TYPES[i % 3]
        if rng.random() < 0.6:
            txt = "Alias %d" % rng.randrange(30)  # some link, some don't
        elif rng.random() < 0.5:
            txt = "shared   alias" if t == "ORG" else "Shared Alias B"
        else:
            txt = "unlinked surface %d" % rng.randrange(50)
        rows.append(("conv%d" % (i % 7), i % 11, txt, t))
    return rows


def _reference(m_rows, gaz_rows):
    """links/nodes rows as sources/goldbuild.py:_link_canon_rows
    builds them: link_edges + union-find min-member labels."""
    counts = defaultdict(int)
    for _c, _t, text, etype in m_rows:
        counts[(etype, norm_text(text))] += 1
    surfaces = sorted(counts)
    edges = link_edges(surfaces, [(a, cid, t) for a, t, cid in gaz_rows])
    comp = connected_components([surface_key(t, x) for t, x in surfaces], edges)
    links = sorted((t, x, comp[surface_key(t, x)]) for t, x in surfaces)
    members = defaultdict(list)
    for t, x, node in links:
        members[node].append((t, x))
    nodes = sorted(
        (
            node,
            min(ms)[0],
            min(x for _t, x in ms),
            len(ms),
            sum(counts[s] for s in ms),
        )
        for node, ms in members.items()
    )
    return links, nodes


def test_labels_match_union_find(spark):
    """canonicalize's links and nodes equal the union-find reference
    over the same surfaces and gazetteer, row for row."""
    gaz_rows = _gaz_rows()
    m_rows = _mention_rows(7, 300)
    links, nodes = canonicalize(
        spark.createDataFrame(m_rows, M_SCHEMA),
        spark.createDataFrame(gaz_rows, G_SCHEMA),
    )
    want_links, want_nodes = _reference(m_rows, gaz_rows)
    assert sorted(map(tuple, links.collect())) == want_links
    assert sorted(map(tuple, nodes.collect())) == want_nodes
    # the sample exercises both kinds of node and a multi-surface star
    assert any(n.startswith("g:") for n, *_r in want_nodes)
    assert any(n.startswith("t:") for n, *_r in want_nodes)
    assert any(r[3] > 1 for r in want_nodes)


def test_stored_labels_survive_new_surfaces(spark):
    """canonicalize(m1 ∪ m2) gives every surface of m1 the node_id that
    canonicalize(m1) gave it, when m2 adds surfaces that link to cids
    already in m1 and surfaces that link to nothing."""
    gaz = spark.createDataFrame(_gaz_rows(), G_SCHEMA)
    # m2 holds the aliases 13-24 (their cids are also reached by the
    # aliases 0-11 in m1) and the unlinked surfaces numbered 25 and up
    rows = _mention_rows(11, 400)

    def in_m2(text):
        words = norm_text(text).split(" ")
        return (words[0] == "alias" and int(words[1]) >= 13) or (
            words[0] == "unlinked" and int(words[2]) >= 25
        )

    m1 = spark.createDataFrame([r for r in rows if not in_m2(r[2])], M_SCHEMA)
    m2 = spark.createDataFrame([r for r in rows if in_m2(r[2])], M_SCHEMA)

    def labels(df):
        links, _nodes = canonicalize(df, gaz)
        return {(r[0], r[1]): r[2] for r in links.collect()}

    before = labels(m1)
    after = labels(m1.unionByName(m2))
    assert {s: after[s] for s in before} == before
    new = set(after) - set(before)
    # m2 really adds both kinds: new surfaces joining a cid m1 already
    # holds, and new unlinked ones
    old_g = {n for n in before.values() if n.startswith("g:")}
    assert any(after[s] in old_g for s in new)
    assert any(after[s].startswith("t:") for s in new)

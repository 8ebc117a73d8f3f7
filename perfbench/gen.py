# -*- coding: utf-8 -*-
"""Seeded workload generator for the benchmark (single process, no Spark).

Everything a workload reads is derived from the ``--seed`` argument and
cached per seed under ``<work>/data/s<seed>/``, so generation never
counts toward a measured number:

* ``build/``   the batch corpus: default skew (every 37th conversation is
  15x longer, Zipf head entities), plus ``html_pages.parquet`` for the
  CV runs' conversation -> domain join;
* ``base/``    the small corpus every set-up builds: the warm-up of the
  build workload and the KG the ingest drops go into;
* ``drops/dNNNN.parquet``  conversation-complete drops of uniform
  conversations (``mega_every=0``) of 400-460 turns, each under its own
  ``conv_id`` prefix so no drop overlaps the base or another drop;
* ``gaz_shrunk/gazetteer.parquet``  the base gazetteer filtered by
  ``sources.gazshrink.keep_alias`` (the single-node twin of
  ``shrink_gazetteer``) for the refresh step.

Drops carry no gazetteer of their own: the ingest path must be given the
*base* gazetteer file, because ``append_kg`` refuses a delta whose
gazetteer fingerprint differs from the base build's.
"""
from __future__ import annotations

import os
import shutil
from typing import Dict, List

import pyarrow as pa
import pyarrow.parquet as pq

from webstruct_spark.sources import transcripts as tx
from webstruct_spark.sources.gazshrink import keep_alias
from webstruct_spark.sources.html_pages import ensure_html_pages

# corpus sizes (conversations); see perfbench/README.md for the sizing
BUILD_CONVS = 300
BASE_CONVS = 40
DROP_TURNS = 400  # ~10 conversations of 20-60 turns
N_DROPS = 16
N_PAGES = 60
KEEP_SEEDS = 3  # per-seed caches kept in the work dir


def _write(rows: List[dict], schema: pa.Schema, path: str) -> None:
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


def _write_corpus(out: str, turns, gold, gaz_rows) -> None:
    os.makedirs(out)
    _write(turns, tx.TRANSCRIPT_SCHEMA, os.path.join(out, "transcripts.parquet"))
    _write(gold, tx.GOLD_MENTION_SCHEMA, os.path.join(out, "gold_mentions.parquet"))
    _write(gaz_rows, tx.GAZETTEER_SCHEMA, os.path.join(out, "gazetteer.parquet"))


def _generate(tmp: str, seed: int) -> None:
    turns, gold, gaz = tx.generate_corpus(BUILD_CONVS, seed=seed)
    gaz_rows = [e.__dict__ for e in gaz]
    _write_corpus(os.path.join(tmp, "build"), turns, gold, gaz_rows)
    ensure_html_pages(os.path.join(tmp, "build"), n_pages=N_PAGES, seed=seed)

    base = os.path.join(tmp, "base")
    turns, gold, gaz = tx.generate_corpus(BASE_CONVS, seed=seed + 1)
    base_gaz = [e.__dict__ for e in gaz]
    _write_corpus(base, turns, gold, base_gaz)

    shrunk = os.path.join(tmp, "gaz_shrunk")
    os.makedirs(shrunk)
    _write([g for g in base_gaz if keep_alias(g["canonical_id"])],
           tx.GAZETTEER_SCHEMA, os.path.join(shrunk, "gazetteer.parquet"))

    # one generator stream for all drops, cut into conversation-complete
    # files of at least DROP_TURNS turns, each under its own conv_id
    # prefix.  Cutting by turns, not conversations, keeps every drop the
    # same size to within one conversation, whatever the seed.
    # twice the conversations the drops need (20-60 turns, 40 on average)
    turns, _gold, _gaz = tx.generate_corpus(
        2 * N_DROPS * DROP_TURNS // 40, seed=seed + 2, mega_every=0
    )
    convs: Dict[str, List[dict]] = {}
    for t in turns:
        convs.setdefault(t["conv_id"], []).append(t)
    drops: List[List[dict]] = [[]]
    for rows in convs.values():
        if len(drops[-1]) >= DROP_TURNS:
            if len(drops) == N_DROPS:
                break
            drops.append([])
        prefix = "d%04d-" % (len(drops) - 1)
        drops[-1] += [dict(t, conv_id=prefix + t["conv_id"]) for t in rows]
    assert len(drops) == N_DROPS and len(drops[-1]) >= DROP_TURNS
    os.makedirs(os.path.join(tmp, "drops"))
    for k, rows in enumerate(drops):
        _write(rows, tx.TRANSCRIPT_SCHEMA, drop_path(tmp, k))


def ensure_seed(work: str, seed: int) -> str:
    """Generate-if-missing the inputs for ``seed``; returns their dir.
    Written to a temp dir and renamed, so a killed run never leaves a
    half-written cache behind."""
    root = os.path.join(work, "data")
    # the sizes are part of the key: changing them regenerates
    out = os.path.join(root, "s%d-%d-%d-%dx%d" % (
        seed, BUILD_CONVS, BASE_CONVS, N_DROPS, DROP_TURNS))
    if os.path.isdir(out):
        os.utime(out)
        return out
    os.makedirs(root, exist_ok=True)
    tmp = "%s.tmp%d" % (out, os.getpid())
    shutil.rmtree(tmp, ignore_errors=True)
    _generate(tmp, seed)
    os.rename(tmp, out)
    # bound the cache: keep the most recently used seeds only
    seeds = sorted(
        (os.path.getmtime(os.path.join(root, n)), n)
        for n in os.listdir(root) if n.startswith("s") and ".tmp" not in n
    )
    for _mtime, name in seeds[:-KEEP_SEEDS]:
        shutil.rmtree(os.path.join(root, name), ignore_errors=True)
    return out


def drop_path(data: str, k: int) -> str:
    return os.path.join(data, "drops", "d%04d.parquet" % k)


def write_union(data: str, n_drops: int, gazetteer: str, out: str) -> str:
    """A corpus dir holding the base transcripts plus drops ``0..n_drops-1``
    and the given gazetteer: the input of the fresh reference build the
    ingest check compares against."""
    os.makedirs(out)
    tables = [pq.read_table(os.path.join(data, "base", "transcripts.parquet"))]
    tables += [pq.read_table(drop_path(data, k)) for k in range(n_drops)]
    pq.write_table(pa.concat_tables(tables),
                   os.path.join(out, "transcripts.parquet"))
    shutil.copyfile(gazetteer, os.path.join(out, "gazetteer.parquet"))
    return out

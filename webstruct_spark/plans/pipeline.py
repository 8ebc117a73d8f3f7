# -*- coding: utf-8 -*-
"""The full KG-construction pipeline: transcripts → extracted turns →
mentions → group entities → groups/triples → links/nodes → edges, each
stage a parquet table of the KG store at ``out_dir``.

Stage graph (``_GRAPH``, declared once; every task reads only the
files its upstream tasks gave their stages, so a resumed run never
recomputes upstream work):

  extracted   narrow scan+UDF over transcripts (tokenize+encode+decode)
  mentions    explode of extracted entities (narrow)
  group_entities  ONE shuffle by conv_id (entities + token counts only)
  groups      hash aggregate over group_entities
  triples     window ops over group_entities
  links,nodes broadcast gazetteer join + per-surface node id
  edges       triples joined to links
  _conv_ids   distinct conv_ids of extracted (the side table; no
              stage reads it, so it runs off the critical path)

Each stage is readable as soon as its files are written: a task waits
on its input stages, not on the tasks that write them (``edges`` reads
``links`` without waiting for ``nodes``).

One runner (:func:`_run_graph`) executes the graph for ``build_kg``,
``append_kg_frames`` and ``refresh_gazetteer``.  They differ only in
the delta it runs over (the corpus, the new conversations, or none),
in the kept files the global stages (links, nodes, edges) read beside
the new ones (none for a build, the base snapshot's per-conversation
files otherwise), and in the commit policy.

At 100 TB: `extracted` is the dominant stage and is embarrassingly
parallel; its output is ~5-10% of input bytes (entities only).  The
single wide dependency is group_entities' shuffle keyed by conv_id,
whose payload is the already-slim entity structs.  Everything after
operates on mention/entity tables that are orders of magnitude smaller
than the corpus.

The store is a snapshot-logged root (:mod:`.snapshots`).  Every write
lands under fresh part names in ``<out_dir>/<stage>/`` and becomes
visible only through one create-if-absent record,
``<out_dir>/_snapshots/snap-<N>.json``, which holds:

* ``files`` — every live part file of every stage and of the
  ``_conv_ids`` side table (path ``<stage>/<name>``, stage, rows,
  bytes); files a build has staged but not published carry
  ``building: true``;
* ``stages`` — per stage its identity (``source_fp``), ``inputs``
  (``<operation>:<input>``), ``wall_sec``, ``layout`` and
  row/file/byte totals;
* ``building`` — the same per-stage entries for the stages (and the
  side table) a build has staged but not yet published;
* the store's stamps: ``stream_batch_id`` of the last streamed
  micro-batch (reported, never compared) and ``delta_fp`` of the last
  applied delta.

``append_kg_frames``, ``refresh_gazetteer`` and ``compact_kg`` write
everything first and then commit once, so a crash leaves the store
exactly as before the call.  ``build_kg`` commits each stage into
``building`` as it lands, so a killed build resumes at stage
granularity, and its last commit publishes them all at once.  Every
read opens only the files the current snapshot lists.  After its last
commit, and at its entry, every writer GCs the files the current
snapshot does not reference, so each stage dir read as plain parquet
holds exactly the stage's live files.
"""
from __future__ import annotations

import threading
import time
from concurrent.futures import FIRST_COMPLETED, Future, wait
from typing import Callable, Dict, List, Optional

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from ..concurrency import run_concurrent_jobs
from ..operators.canon import canonicalize
from ..operators.extract import extract_rows, mentions_from_rows
from ..operators.graph import materialize_edges
from ..operators.grouping_op import DEFAULT_DONT_PENALIZE, group_entities
from ..operators.triples_op import groups_summary, triples as triples_op
from . import fsio, snapshots
from .manifest import table_fingerprint

# bump when any stage table's schema/layout changes: resuming into an
# older layout rebuilds instead of serving stale outputs
LAYOUT_VERSION = "4-snapshots"

# what the graph starts from: two tables and the grouping params
SOURCES = ("transcripts", "params", "gazetteer")

# side table of every ingested conv_id (tiny: one row per
# conversation), written from extracted — lets the append-path
# disjointness guards run O(delta) instead of re-scanning the full
# extracted table per append.  Not a stage: it has no ``stages``
# entry, and is published exactly when extracted is.
CONV_IDS = "_conv_ids"

# the stage graph in topological order: per task, the stages it
# writes, what it reads (upstream stages or sources), and its output
# frames from those inputs.  canonicalize() yields links and nodes
# from one computation, so they are one task.
_GRAPH = [
    (("extracted",), ("transcripts",),
     lambda t: [extract_rows(t["transcripts"])]),
    (("mentions",), ("extracted",),
     lambda t: [mentions_from_rows(t["extracted"])]),
    (("group_entities",), ("extracted", "params"),
     lambda t: [group_entities(t["extracted"], dont_penalize=t["params"])]),
    (("groups",), ("group_entities",),
     lambda t: [groups_summary(t["group_entities"])]),
    (("triples",), ("group_entities",),
     lambda t: [triples_op(t["group_entities"])]),
    (("links", "nodes"), ("mentions", "gazetteer"),
     lambda t: canonicalize(t["mentions"], t["gazetteer"], checkpoint=True)),
    (("edges",), ("triples", "links"),
     lambda t: [materialize_edges(t["triples"], t["links"])]),
    ((CONV_IDS,), ("extracted",),
     lambda t: [t["extracted"].select("conv_id").distinct()]),
]

# the task that writes each table, by the name of its first table
_PRODUCER = {s: outs[0] for outs, _ins, _f in _GRAPH for s in outs}
STAGES = [s for s in _PRODUCER if s != CONV_IDS]
STAGE_INPUTS = {s: list(ins) for outs, ins, _f in _GRAPH for s in outs}


def _sources_of(stage: str) -> set:
    return set().union(*(
        {i} if i in SOURCES else _sources_of(i) for i in STAGE_INPUTS[stage]
    ))


# which parts of the run identity each stage's output depends on (the
# sources it reaches through STAGE_INPUTS): a resume after ONLY the
# gazetteer changed keeps the corpus-scale extracted/mentions stages
# and rebuilds just the canonicalization family — re-linking against
# a refreshed gazetteer must not re-extract 100 TB of history
STAGE_IDENTITY_KEYS = {
    s: tuple(k for k in SOURCES if k in _sources_of(s)) for s in _PRODUCER
}

# the stages recomputed globally (over kept and new files, replacing
# their old files) by every append and refresh
GLOBAL_STAGES = ("links", "nodes", "edges")

# the store's stamps, carried from snapshot to snapshot
_STAMPS = ("stream_batch_id", "delta_fp")


def _stage_identity(stage: str, full_fp: dict) -> dict:
    return {k: full_fp[k] for k in STAGE_IDENTITY_KEYS[stage]}


def _committed(entry: Optional[dict], ident: Optional[dict] = None) -> bool:
    """A stage entry of the current layout, and of identity ``ident``
    when one is given."""
    return (
        entry is not None
        and entry.get("layout") == LAYOUT_VERSION
        and (ident is None or entry.get("source_fp") == ident)
    )


def _files(snap: dict, stage: str) -> List[dict]:
    """The published files of ``stage`` in ``snap``."""
    return [
        f for f in snap["files"]
        if f["stage"] == stage and not f.get("building")
    ]


def _entry(stage: str, files: List[dict], ident: dict, op: str,
           wall_sec: float) -> dict:
    """A ``stages``/``building`` entry: identity, lineage (the stage's
    inputs, as written by ``op``) and the totals over ``stage``'s files
    among ``files``."""
    own = [f for f in files if f["stage"] == stage]
    return {
        "layout": LAYOUT_VERSION,
        "source_fp": ident,
        "inputs": ["%s:%s" % (op, i) for i in STAGE_INPUTS[stage]],
        "wall_sec": round(wall_sec, 3),
        "rows_out": sum(f["rows"] for f in own),
        "n_files": len(own),
        "bytes": sum(f["bytes"] for f in own),
        "committed_utc_ns": time.time_ns(),
    }


def _stamps(snap: dict) -> dict:
    return {k: snap[k] for k in _STAMPS if k in snap}


def _base_snapshot(spark, out_dir: str, who: str) -> dict:
    """The current snapshot of a fully built store, for an operation
    that needs one (append, refresh, compact); GCs what it does not
    reference, which settles an earlier run killed before or inside its
    commit.  Refuses a root without a snapshot and a store with a stage
    not committed, before anything is written."""
    snap = snapshots.require(
        spark, out_dir,
        "%s: no KG snapshot at %r (nothing built there, or a store "
        "written before the snapshot log) — build it with build_kg"
        % (who, out_dir),
    )
    missing = [s for s in STAGES if not _committed(snap["stages"].get(s))]
    if missing:
        raise ValueError(
            "%s needs a fully committed base build; missing stages: %s"
            % (who, ", ".join(missing))
        )
    snapshots.gc(spark, out_dir, snap)
    return snap


def _publish(spark, out_dir: str, snap: dict, new: Dict[str, List[dict]],
             op: str, walls: Dict[str, float], fp: Optional[dict] = None,
             stamps: Optional[dict] = None) -> None:
    """Commit the snapshot after ``snap`` in which every stage of
    ``new`` holds exactly ``new``'s files and every other stage keeps
    its published files and entry, then GC.  Each stage of ``new`` gets
    a fresh entry written by ``op``: identity from ``fp`` (None keeps
    the stage's own), wall from ``walls``.  ``stamps`` None keeps
    ``snap``'s."""
    files = [
        f for f in snap["files"]
        if not f.get("building") and f["stage"] not in new
    ] + [
        {k: v for k, v in f.items() if k != "building"}
        for fs in new.values() for f in fs
    ]
    stages = dict(snap["stages"])
    for s in new:
        if s != CONV_IDS:
            stages[s] = _entry(
                s, new[s],
                stages[s]["source_fp"] if fp is None
                else _stage_identity(s, fp),
                op, walls[s],
            )
    snapshots.publish(spark, out_dir, snap, dict(
        _stamps(snap) if stamps is None else stamps,
        files=files, stages=stages, building={},
    ))


def _run_graph(
    spark, out_dir: str, sources: dict, base: Optional[dict], workers: int,
    reuse: Optional[Callable] = None, on_written: Optional[Callable] = None,
):
    """Run the stage graph over ``sources`` (frames, and the grouping
    params, by :data:`SOURCES` name).  Returns ``({table: files},
    {table: wall})`` for the tables (stages and ``_conv_ids``) of every
    task that ran.

    ``sources["transcripts"]`` is the delta; None (no new conversation)
    makes every per-conversation task a no-op.  A per-conversation task
    reads only this run's files of its upstream stages.  A global task
    also reads the files ``base`` (a snapshot, or None) publishes for
    them; a stage of ``base`` ends with those kept files plus this
    run's.  ``reuse(tables)`` returns files of a task's tables this run
    need not write, or None; ``on_written(written, wall)`` runs after
    each task's writes.  Independent tasks run as up to ``workers``
    concurrent Spark jobs (:func:`..concurrency.run_concurrent_jobs`;
    tasks are submitted in topological order).

    A task reads an input stage as soon as its files are written, not
    when the task writing it ends.  Its wait also ends when that task
    fails, or is cancelled or aborted before it ran: the wait then
    raises that task's error, so no task blocks forever on a stage that
    will never be written."""
    kept = {} if base is None else {
        s: _files(base, s) for s in _PRODUCER if s not in GLOBAL_STAGES
    }
    futs: Dict[str, object] = {}
    ready: Dict[str, Future] = {s: Future() for s in _PRODUCER}
    walls: Dict[str, float] = {}

    def files(stage: str, with_kept: bool) -> List[dict]:
        task = futs[_PRODUCER[stage]]
        if isinstance(task, Future):  # a concurrent run
            wait([ready[stage], task], return_when=FIRST_COMPLETED)
            if not ready[stage].done():
                task.result()  # raises why the stage was never written
        new = ready[stage].result()
        return kept.get(stage, []) + new if with_kept else new

    def task(outs, ins, compute):
        is_global = outs[0] in GLOBAL_STAGES

        def run() -> Dict[str, List[dict]]:
            if not is_global and sources["transcripts"] is None:
                done = {}
            else:
                done = reuse(outs) if reuse else None
            if done is not None:
                for s in outs:
                    ready[s].set_result(done.get(s, []))
                return done
            t0 = time.time()
            frames = compute({
                i: sources[i] if i in SOURCES
                else snapshots.read(spark, out_dir, files(i, is_global))
                for i in ins
            })
            written = {}
            for s, df in zip(outs, frames):
                written[s] = snapshots.write(spark, out_dir, df, "stage", s)
                ready[s].set_result(written[s])
            wall = time.time() - t0
            walls.update((s, wall) for s in written)
            if on_written is not None:
                on_written(written, wall)
            return written

        return run

    done = run_concurrent_jobs(
        spark, [(node[0][0], task(*node)) for node in _GRAPH],
        max(1, int(workers)), futs=futs,
    )
    new = {
        s: kept.get(s, []) + fs
        for written in done.values() for s, fs in written.items()
    }
    return new, walls


def kg_status(spark: SparkSession, out_dir: str) -> dict:
    """Read-only inspection of a KG store (``jobs/kg_build.py
    --status``) from its current snapshot: per stage whether it is
    committed at the current layout, its lineage and counters; the
    stages a build has staged but not published; the ``_conv_ids``
    side table; the ``stream_batch_id`` stamp.  Reads one JSON record
    and never mutates anything, so inspecting a typo'd out_dir leaves
    no directory behind.

    ``torn`` is always False and ``pending_intents`` always empty: a
    snapshot commit publishes a whole operation at once, so stages
    never disagree.  The keys stay for readers of the older report."""
    return _status(out_dir, snapshots.current(spark, out_dir))


def _status(out_dir: str, snap: Optional[dict]) -> dict:
    snap = snap or {"files": [], "stages": {}, "building": {}}
    stages: Dict[str, dict] = {}
    for s in STAGES:
        ent = snap["stages"].get(s)
        info: Dict[str, object] = {"committed": _committed(ent)}
        if ent:
            info.update(
                layout=ent.get("layout"),
                rows_out=ent.get("rows_out"),
                n_files=ent.get("n_files"),
                bytes=ent.get("bytes"),
                wall_sec=ent.get("wall_sec"),
                committed_utc_ns=ent.get("committed_utc_ns"),
            )
        stages[s] = info
    conv = _files(snap, CONV_IDS)
    return {
        "out": out_dir,
        "snapshot": snap.get("id"),
        "stages": stages,
        "building": sorted(snap["building"]),
        "conv_ids": {
            "n_files": len(conv),
            "rows": sum(f["rows"] for f in conv),
        },
        "stream_batch_id": snap.get("stream_batch_id"),
        "pending_intents": [],
        "torn": False,
    }


def check_kg_links(
    spark: SparkSession, out_dir: str, sample: int = 20
) -> dict:
    """Read-only link-coverage audit of a built KG
    (``jobs/kg_build.py --check-links``): runs
    :func:`~..operators.graph.unmatched_triple_endpoints` over the
    committed triples and links files and reports every triple
    endpoint the edges stage's inner joins would have dropped.

    In-pipeline this is zero by construction: links are recomputed
    from the same mentions the triples came from, and every operation
    publishes all its stages in one snapshot.  Non-zero therefore means
    out-of-band modification of the files (a hand-rolled links write,
    a partial restore).  This is the scheduled-health-job companion of
    :func:`kg_status`: that one reads the snapshot record alone; this
    one audits the DATA relationship, so it pays two anti-join passes
    over the triples table (join strategy left to AQE, same as
    :func:`materialize_edges`) — run it after out-of-band surgery or on
    a schedule, not per query.

    Returns ``{audited, uncovered, by_endpoint, sample, not_committed,
    probable_cause}`` with at most ``sample`` offending rows.  An
    uncommitted triples/links stage does not raise: the report says
    ``audited=False``, ``uncovered=None`` and names the stages."""
    from ..operators.graph import unmatched_triple_endpoints

    snap = snapshots.current(spark, out_dir)
    st = _status(out_dir, snap)
    out: dict = {
        "out": out_dir,
        "audited": False,
        "uncovered": None,
        "by_endpoint": {},
        "sample": [],
        "not_committed": [
            s for s in ("triples", "links")
            if not st["stages"][s]["committed"]
        ],
        "probable_cause": None,
    }
    if out["not_committed"]:
        out["probable_cause"] = (
            "stage(s) %s not committed — never built, or built before "
            "the snapshot log; run build_kg"
            % ",".join(out["not_committed"])
        )
        return out
    # persist across the two passes (count, then sample): without it
    # the sample pass would re-run both anti-joins
    missing = unmatched_triple_endpoints(
        snapshots.read(spark, out_dir, _files(snap, "triples")),
        snapshots.read(spark, out_dir, _files(snap, "links")),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        by_ep = {
            r["endpoint"]: r["n"]
            for r in missing.groupBy("endpoint").count()
            .withColumnRenamed("count", "n").collect()
        }
        out.update(audited=True, uncovered=sum(by_ep.values()),
                   by_endpoint=by_ep)
        if out["uncovered"]:
            out["sample"] = [
                row.asDict() for row in missing.orderBy(
                    "conv_id", "group_id", "triple_idx", "endpoint"
                ).limit(sample).collect()
            ]
            out["probable_cause"] = (
                "out-of-band table modification — the committed links "
                "table does not cover the committed triples"
            )
        return out
    finally:
        missing.unpersist()


def build_kg(
    spark: SparkSession,
    corpus_dir: str,
    out_dir: str,
    resume: bool = True,
    dont_penalize=DEFAULT_DONT_PENALIZE,
    stage_concurrency: int = 4,
) -> Dict[str, str]:
    """Run (or resume) the staged build. Returns stage -> output path.

    The stage graph runs over the whole corpus with nothing kept.  Each
    task's stages are written under fresh part names and committed into
    the snapshot's ``building`` set; the last commit publishes every
    staged stage at once, so a rebuild over a live store is never
    visible half done.  With ``resume``, a task whose stages' identity
    (the source tables' footer fingerprints and the grouping params
    they depend on, see STAGE_IDENTITY_KEYS) matches a published or
    staged entry is not rerun: a killed build resumes at its first
    unstaged task, and a rebuild after only the gazetteer changed keeps
    the corpus-scale stages.  A root without a snapshot (nothing there,
    or a store from before the snapshot log) is built from scratch, and
    the final GC removes whatever else it held.

    ``stage_concurrency``: independent tasks of the graph run as
    concurrent Spark jobs from driver threads (1 = strict sequential).
    mentions ∥ group_entities once `extracted` lands, then
    groups ∥ triples ∥ canonicalize — safe because every task reads
    only its upstream stages' written files, writes its own
    directories, and the ``building`` commits are serialized by a
    driver lock.  On the first task failure
    :func:`..concurrency.run_concurrent_jobs` cancels queued tasks and
    interrupts in-flight sibling Spark jobs.  GC runs only at
    entry and after the last commit, never between stage commits, while
    sibling tasks' files are still in flight."""
    snap = snapshots.current(spark, out_dir)
    if snap is not None:
        snapshots.gc(spark, out_dir, snap)
    source_fp = {
        "transcripts": table_fingerprint(
            fsio.join(corpus_dir, "transcripts.parquet"), spark=spark
        ),
        "gazetteer": table_fingerprint(
            fsio.join(corpus_dir, "gazetteer.parquet"), spark=spark
        ),
        "params": {"dont_penalize": sorted(dont_penalize or [])},
    }

    lock = threading.Lock()
    latest = [snap]
    staged = set()  # stages whose `building` entry this run publishes

    def reuse(outs) -> Optional[Dict[str, List[dict]]]:
        """Files of a task's tables this run need not write: for every
        table, the published or staged version whose identity matches.
        The side table is published with extracted, so extracted's
        published entry speaks for it; a build stages it with its own
        entry, since a kill can fall between the two tasks' commits."""
        if not resume or snap is None:
            return None
        found, from_building = {}, set()
        for stage in outs:
            ident = _stage_identity(stage, source_fp)
            published = snap["stages"].get(
                "extracted" if stage == CONV_IDS else stage)
            if not _committed(published, ident):
                if not _committed(snap["building"].get(stage), ident):
                    return None
                from_building.add(stage)
            found[stage] = [
                f for f in snap["files"] if f["stage"] == stage
                and bool(f.get("building")) == (stage in from_building)
            ]
        with lock:
            staged.update(from_building)
        return found

    def stage_commit(written: Dict[str, List[dict]], wall: float) -> None:
        """Commit freshly written tables into ``building``; their
        earlier staged files leave the record."""
        new = [dict(f, building=True) for fs in written.values() for f in fs]
        with lock:
            p = latest[0]
            files = [
                f for f in (p["files"] if p else [])
                if not (f.get("building") and f["stage"] in written)
            ] + new
            building = dict(p["building"] if p else {})
            for stage in written:
                building[stage] = _entry(
                    stage, new, _stage_identity(stage, source_fp),
                    "build", wall,
                )
                staged.add(stage)
            latest[0] = snapshots.commit(spark, out_dir, p, dict(
                _stamps(p) if p else {}, files=files,
                stages=p["stages"] if p else {}, building=building,
            ))

    new, _walls = _run_graph(spark, out_dir, {
        "transcripts": spark.read.parquet(
            fsio.join(corpus_dir, "transcripts.parquet")),
        "gazetteer": spark.read.parquet(
            fsio.join(corpus_dir, "gazetteer.parquet")),
        "params": dont_penalize,
    }, None, stage_concurrency, reuse, stage_commit)

    p = latest[0]
    if p is not None and (staged or p["building"]):
        # publish: the staged tables replace their published files;
        # staged entries this run did not use are dropped.  A build is
        # not a streamed or appended delta: no stamps.
        _publish(spark, out_dir, p, {s: new[s] for s in staged}, "build",
                 {s: p["building"][s]["wall_sec"] for s in staged},
                 fp=source_fp, stamps={})
    return {s: fsio.join(out_dir, s) for s in STAGES}


def append_kg(
    spark: SparkSession,
    new_corpus_dir: str,
    out_dir: str,
    dont_penalize=DEFAULT_DONT_PENALIZE,
    stage_concurrency: int = 4,
) -> Dict[str, str]:
    """Append NEW conversations to an existing KG build — the
    incremental path for a corpus that grows after the initial build
    (counterpart of similarity.append_to_ann_index for the flagship
    pipeline).  Output is row-identical to a fresh :func:`build_kg`
    over the union corpus (pytest-gated), because the same stage graph
    runs over the delta:

    * extracted/mentions/group_entities/groups/triples are strictly
      per-conversation (ids are ``conv_id:gNNNN``; every window is
      partitioned by conv_id), so for DISJOINT conv_ids the delta's
      rows are exactly the union's new rows — new part files beside
      the old ones; the 100 TB history is never re-extracted or
      re-shuffled.
    * links/nodes/edges are GLOBAL: a stored surface's link never
      changes (its node_id is its gazetteer id or its own key), but a
      node's counters (n_surfaces, n_mentions, canonical_text) grow
      with the new surfaces and mentions.  So they are recomputed over
      the kept and new files of their inputs and replace the old
      files.  That recompute scans only the slim union
      mentions/triples tables — orders of magnitude smaller than the
      corpus — so the expensive corpus-scale work stays append-only.

    Guards: the base build must be fully committed; the gazetteer and
    the grouping params must match the base build's (gazetteer by
    footer fingerprint — rows+bytes+file count, not a content hash,
    see :func:`.manifest.table_fingerprint` — node identity depends on
    it); overlapping conv_ids raise (appending already-ingested
    conversations would silently double every per-conversation table
    — de-duplicate the delta first).  A delta with no rows is a no-op.

    Every file is written first and one snapshot commit publishes the
    whole append, so a crashed append leaves the store as it was and
    re-running the same call applies it.  A run killed AFTER its
    commit is a no-op retry: the snapshot's ``delta_fp`` proves the
    last applied delta was exactly this file-backed one, so the re-run
    returns the paths instead of raising the double-append error.

    Each stage's new identity carries the element-wise SUM of the
    base's and the delta's transcript fingerprints (the union
    identity), so a later ``build_kg(resume=True)`` against either
    original corpus alone correctly refuses to resume into the
    appended output.
    """
    transcripts_b = spark.read.parquet(
        fsio.join(new_corpus_dir, "transcripts.parquet")
    )
    gazetteer = spark.read.parquet(
        fsio.join(new_corpus_dir, "gazetteer.parquet")
    )
    return append_kg_frames(
        spark, transcripts_b, gazetteer,
        gazetteer_fp=table_fingerprint(
            fsio.join(new_corpus_dir, "gazetteer.parquet"), spark=spark
        ),
        out_dir=out_dir,
        dont_penalize=dont_penalize,
        stage_concurrency=stage_concurrency,
        delta_transcripts_fp=table_fingerprint(
            fsio.join(new_corpus_dir, "transcripts.parquet"), spark=spark
        ),
    )


def _fp_add(a: dict, b: dict) -> dict:
    """Element-wise fingerprint sum; -1 (not file-backed, e.g. a
    streaming micro-batch) is absorbing."""
    return {
        k: (a[k] + b[k] if a[k] >= 0 and b[k] >= 0 else -1)
        for k in ("rows", "bytes", "n_files")
    }


def append_kg_frames(
    spark: SparkSession,
    transcripts_b: DataFrame,
    gazetteer: DataFrame,
    gazetteer_fp: dict,
    out_dir: str,
    dont_penalize=DEFAULT_DONT_PENALIZE,
    stage_concurrency: int = 4,
    delta_transcripts_fp: Optional[dict] = None,
    batch_id: Optional[int] = None,
) -> Dict[str, str]:
    """DataFrame-based core of :func:`append_kg` — also the
    foreachBatch body for streaming ingestion
    (:mod:`webstruct_spark.streaming.kg_ingest`).

    The delta is persisted for the duration of the call: the guards
    (row count, conv-id overlap) and the extract each take an action
    over it, and without the cache every action re-reads the delta's
    input files.  Every later stage reads the files its upstream stage
    wrote.

    ``delta_transcripts_fp``: footer fingerprint of the delta when it
    is file-backed; None means a frame-only delta (streaming batch) —
    its row count is measured and bytes/n_files recorded as the -1
    "not file-backed" sentinel (after which build_kg can never
    resume-match this out_dir against a corpus dir, which is correct:
    it no longer corresponds to one).  A delta of 0 rows, either way,
    returns without writing anything.

    Exactly-once rests on the one key the store owns: the ``_conv_ids``
    side table, which holds exactly the committed conversations.  Under
    the conversation-complete drop contract a delta with none of its
    conversations stored is applied, and one with all of them stored
    was applied before.  That is a no-op for a streamed micro-batch
    (``batch_id`` set: foreachBatch is at-least-once, and a fresh
    checkpoint re-draining an unchanged input dir replays too) and for
    a file-backed delta whose fingerprint is the snapshot's
    ``delta_fp`` (the retry of a run killed after its commit).  Any
    other delta sharing conversations with the store raises: skipping
    would drop its new ones, appending would double its stored ones.
    ``batch_id`` is stamped into the snapshot as ``stream_batch_id``,
    for reporting only.

    A run killed before its commit left nothing visible, so re-running
    the same call applies it in full.
    """
    transcripts_b = transcripts_b.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        snap = _base_snapshot(spark, out_dir, "append_kg")
        base = snap["stages"]
        base_gazetteer = base["links"]["source_fp"]["gazetteer"]
        base_params = base["group_entities"]["source_fp"]["params"]
        if base_gazetteer != gazetteer_fp:
            raise ValueError(
                "append_kg: gazetteer differs from the base build's "
                "(%r vs %r) — node identity depends on it; rebuild"
                % (base_gazetteer, gazetteer_fp)
            )
        params = {"dont_penalize": sorted(dont_penalize or [])}
        if base_params != params:
            raise ValueError(
                "append_kg: grouping params differ from the base build's "
                "(%r vs %r) — the delta's groups/triples would not match "
                "a fresh union build; pass the base's params or rebuild"
                % (base_params, params)
            )
        paths = {s: fsio.join(out_dir, s) for s in STAGES}

        if delta_transcripts_fp is None:
            delta_transcripts_fp = {
                "rows": transcripts_b.count(), "bytes": -1, "n_files": -1
            }
        if delta_transcripts_fp["rows"] == 0:
            return paths  # an empty micro-batch or corpus dir

        # the _conv_ids side table keeps this rule O(delta)
        stored = snapshots.read(spark, out_dir, _files(snap, CONV_IDS))
        delta_convs = transcripts_b.select("conv_id").distinct()
        if stored.join(delta_convs, "conv_id").limit(1).count():
            # the snapshot's last delta was this file-backed one: the
            # retry of a run killed after its commit
            retry = snap.get("delta_fp") == delta_transcripts_fp and min(
                delta_transcripts_fp.get("bytes", -1),
                delta_transcripts_fp.get("n_files", -1),
            ) >= 0
            if (batch_id is not None or retry) and not delta_convs.join(
                stored, "conv_id", "left_anti"
            ).limit(1).count():
                return paths  # every conversation stored: already applied
            raise ValueError(
                "append_kg: delta shares conv_ids with the base build — "
                "appending would double their rows; de-duplicate first "
                "(a streaming ingest recovers with a FRESH checkpoint dir "
                "over an input dir holding only the un-ingested files)"
            )

        new, walls = _run_graph(spark, out_dir, {
            "transcripts": transcripts_b,
            "gazetteer": gazetteer,
            "params": dont_penalize,
        }, snap, stage_concurrency)
        # a plain append into a streamed store keeps its batch stamp
        stamps = dict(_stamps(snap), delta_fp=delta_transcripts_fp)
        if batch_id is not None:
            stamps["stream_batch_id"] = batch_id
        # one commit publishes the whole append
        _publish(spark, out_dir, snap, new, "append", walls, fp={
            "transcripts": _fp_add(
                base["extracted"]["source_fp"]["transcripts"],
                delta_transcripts_fp),
            "gazetteer": base_gazetteer,
            "params": params,
        }, stamps=stamps)
        return paths
    finally:
        transcripts_b.unpersist()


def refresh_gazetteer(
    spark: SparkSession,
    gazetteer: DataFrame,
    gazetteer_fp: dict,
    out_dir: str,
) -> Dict[str, str]:
    """Re-link an existing KG build against a NEW gazetteer by running
    the stage graph with no delta: only the global stages are
    recomputed (links + nodes from the committed mentions, then edges
    from triples × links) — never the corpus.  The gazetteer is the
    small dimension table of this pipeline; it changes on its own
    cadence (new aliases, new canonical entities), and without this
    operation a refreshed gazetteer forces ``build_kg`` to re-extract
    the full corpus for a change that only shapes the linking family
    (STAGE_IDENTITY_KEYS: only links/nodes/edges carry the gazetteer
    component).  At 100 TB the recompute reads the slim
    mentions/triples tables — orders of magnitude smaller than the
    corpus — and the corpus-scale stages are untouched, byte-for-byte.

    Works on ANY committed base: freshly built, plain-appended, or
    streamed (``build_kg(resume=True)`` covers the gazetteer-refresh
    case only for a never-appended base, because an appended base's
    union fingerprint can never match a corpus dir on disk).

    The three stages are written first and published by one snapshot
    commit, so a crashed refresh leaves the old links/nodes/edges
    current and re-running it is the recovery.  Refreshing with the
    base's OWN gazetteer is a complete no-op (no writes, no commit).
    """
    snap = _base_snapshot(spark, out_dir, "refresh_gazetteer")
    ex_fp = snap["stages"]["extracted"]["source_fp"]
    # target identity: the base's corpus lineage + the NEW gazetteer
    union_fp = dict(
        ex_fp, gazetteer=gazetteer_fp,
        params=snap["stages"]["group_entities"]["source_fp"]["params"],
    )
    paths = {s: fsio.join(out_dir, s) for s in STAGES}
    if all(
        _committed(snap["stages"][s], _stage_identity(s, union_fp))
        for s in GLOBAL_STAGES
    ):
        return paths
    new, walls = _run_graph(spark, out_dir, {
        "transcripts": None,
        "gazetteer": gazetteer,
        "params": union_fp["params"]["dont_penalize"],
    }, snap, 1)
    _publish(spark, out_dir, snap, new, "refresh", walls, fp=union_fp)
    return paths

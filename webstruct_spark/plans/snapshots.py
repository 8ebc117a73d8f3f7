# -*- coding: utf-8 -*-
"""Snapshot log: one commit protocol for a table root.

The live file set of a root is whatever its newest snapshot record
lists.  Snapshot N is one JSON record, ``<root>/_snapshots/snap-<N>.json``,
published with :func:`.fsio.write_text_atomic`, which is
create-if-absent: of two writers that both read snapshot N-1, exactly
one publishes N and the other gets ``IOError`` before anything it
wrote becomes visible.

A writer puts its data files under fresh names first and commits
after; readers open only the files the current record lists, never a
directory listing.  A crash at any point therefore leaves either the
old snapshot or the new one current, plus files no snapshot references,
which the next :func:`gc` removes.  Writers (build, append, compact)
are serialized by contract; readers may run at any time, but a reader
still on an older snapshot may find its files removed by a newer
snapshot's GC, and then re-reads the current one.  Two tables live on
the log: the ANN index (:mod:`webstruct_spark.operators.similarity`)
and the KG store (:mod:`.pipeline`).

Writers add files with :func:`append_writer` (append mode, no
``_SUCCESS`` marker) and find the names they added with
:func:`added_files`.

Record shape: ``{"id": N, "files": [{"path": ..., ...}, ...],
"sidecars": {role: path}, ...}``.  Paths are relative to the root, so
a root can be copied or moved whole.  Every other key, and every other
field of a ``files`` entry, belongs to the table that owns the root.
"""
from __future__ import annotations

import json
import re
from typing import Callable, Dict, List, Optional, Set

from . import fsio

SNAP_DIR = "_snapshots"
_SNAP_RE = re.compile(r"snap-(\d+)\.json")


def _record(n: int) -> str:
    return "%s/snap-%d.json" % (SNAP_DIR, n)


def _read(spark, root: str, n: int) -> dict:
    return json.loads(fsio.read_text(spark, fsio.join(root, _record(n))))


def current(spark, root: str) -> Optional[dict]:
    """The newest snapshot record under ``root``, or None when the root
    has none (absent, empty, or written before the snapshot log)."""
    listing = fsio.listdir_if_exists(spark, fsio.join(root, SNAP_DIR))
    ids = [
        int(m.group(1))
        for m in (_SNAP_RE.fullmatch(n) for n, _ in listing or [])
        if m
    ]
    return _read(spark, root, max(ids)) if ids else None


def commit(spark, root: str, parent: Optional[dict], record: dict) -> dict:
    """Publish ``record`` as the snapshot after ``parent`` — the one the
    writer read before it wrote anything; None for a root without one.
    Raises ``IOError`` when that number is already taken (another writer
    committed since ``parent`` was read); the winner's snapshot stays
    current.  Returns the record as published, with its ``id``."""
    rec = dict(record, id=(parent["id"] if parent else 0) + 1)
    fsio.mkdirs(spark, fsio.join(root, SNAP_DIR))
    fsio.write_text_atomic(
        spark, fsio.join(root, _record(rec["id"])),
        json.dumps(rec, sort_keys=True),
    )
    return rec


def append_writer(df):
    """``df.write`` in append mode and without a ``_SUCCESS`` marker:
    the snapshot commit is what publishes the files."""
    return df.write.mode("append").option(
        "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false"
    )


def added_files(
    spark, root: str, dirs: Optional[List[str]], write: Callable[[], None]
) -> Dict[str, int]:
    """Run ``write`` and return ``{path relative to root: bytes}`` of
    the parquet files it added under ``dirs`` — every directory of the
    root when None.  Found by listing
    before and after: Spark names part files after the write job's
    UUID, so they never collide with files already there."""
    def listing() -> dict:
        ds = dirs
        if ds is None:
            ds = [
                n for n, _, is_dir in (
                    fsio.entries(spark, root)
                    if fsio.exists(spark, root) else []
                )
                if is_dir
            ]
        return {
            d + "/" + n: size
            for d in ds
            for n, size in fsio.listdir_if_exists(
                spark, fsio.join(root, d)
            ) or []
            if n.endswith(".parquet")
        }

    before = listing()
    write()
    return {p: size for p, size in listing().items() if p not in before}


def _paths(rec: dict) -> Set[str]:
    out = {f["path"] for f in rec["files"]}
    out.update(rec.get("sidecars", {}).values())
    out.add(_record(rec["id"]))
    return out


def gc(spark, root: str, snap: dict) -> None:
    """Delete every file under ``root`` that ``snap`` does not
    reference, and every directory holding no referenced file, so each
    data dir holds exactly the live files and plain directory readers
    see what snapshot readers see.  ``snap`` must be the current
    snapshot, and no other writer may be in flight: its files are
    unreferenced too, which is why writers are serialized.  A reader
    still on an older snapshot may lose its files; it re-reads the
    current one."""
    keep = _paths(snap)
    dirs = set()
    for p in keep:
        parts = p.split("/")
        dirs.update("/".join(parts[:i]) for i in range(1, len(parts)))
    _sweep(spark, root, "", keep, dirs)


def _sweep(spark, root: str, rel: str, keep: Set[str], dirs: Set[str]):
    entries = fsio.entries(spark, fsio.join(root, rel) if rel else root)
    names = {name for name, _size, _is_dir in entries}
    for name, _size, is_dir in entries:
        p = rel + "/" + name if rel else name
        if is_dir and p in dirs:
            _sweep(spark, root, p, keep, dirs)
            continue
        owner = _checksum_owner(rel, name)
        # a checksum sibling is kept with its file, or deleted with it
        if p not in keep and owner not in keep and (
            owner is None or owner.rsplit("/", 1)[-1] not in names
        ):
            fsio.delete(spark, fsio.join(root, p))


def _checksum_owner(rel: str, name: str) -> Optional[str]:
    """The file a Hadoop checksum sibling ``.<name>.crc`` belongs to."""
    if not (name.startswith(".") and name.endswith(".crc")):
        return None
    return rel + "/" + name[1:-4] if rel else name[1:-4]

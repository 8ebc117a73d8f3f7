# -*- coding: utf-8 -*-
"""Snapshot log: one commit protocol, and one file layer, for a table
root.

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

Beside the log itself (:func:`current`, :func:`require`,
:func:`commit`, :func:`publish`, :func:`gc`) this module owns the
table-level file operations both tables share: :func:`read` opens
exactly the listed files, :func:`write` adds files and returns their
entries, and :func:`compact` rewrites fragmented groups of files.

Record shape: ``{"id": N, "files": [{"path": ..., "rows": ...,
"bytes": ..., <key>: ...}, ...], "sidecars": {role: path}, ...}``.
Paths are relative to the root, so a root can be copied or moved
whole.  ``<key>`` is the table's grouping of its files (``stage`` for
the KG store, ``bucket`` for the ANN index).  Every other key, and
every other field of a ``files`` entry, belongs to the table that owns
the root.
"""
from __future__ import annotations

import json
import math
import re
from typing import Callable, Dict, Hashable, List, Optional, Set, Tuple

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from . import fsio

SNAP_DIR = "_snapshots"
_SNAP_RE = re.compile(r"snap-(\d+)\.json")

# where Spark's parquet writer stores the table schema in each footer
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


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


def require(spark, root: str, missing: str) -> dict:
    """The newest snapshot record under ``root``; raises
    ``ValueError(missing)`` when the root has none."""
    snap = current(spark, root)
    if snap is None:
        raise ValueError(missing)
    return snap


def publish(spark, root: str, parent: Optional[dict], record: dict) -> dict:
    """:func:`commit` ``record`` after ``parent``, then :func:`gc` what
    the new snapshot does not reference.  Returns the published
    record."""
    snap = commit(spark, root, parent, record)
    gc(spark, root, snap)
    return snap


def read(spark, root: str, files: List[dict]) -> DataFrame:
    """The rows of exactly ``files`` (snapshot entries of ``root``),
    read with the schema Spark stored in the first file's footer, so
    the read starts no schema-inference job; a file without that key
    (written by another parquet writer) is read with an inferred
    schema.  ``basePath`` is the root: a file under a partition dir
    (``bucket=N/``) gets that partition column, one under a plain dir
    (``<stage>/``) gets none."""
    paths = [fsio.join(root, f["path"]) for f in files]
    reader = spark.read.option("basePath", root)
    if paths:
        meta = fsio.parquet_metadata(spark, paths[0]).metadata or {}
        if _SPARK_SCHEMA_KEY in meta:
            reader = reader.schema(
                StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
            )
    return reader.parquet(*paths)


def write(
    spark, root: str, df: DataFrame, key: str, value=None,
    dirs: Optional[List[str]] = None,
) -> List[dict]:
    """Add ``df``'s rows to ``root`` as new parquet files and return
    their entries ``{path, rows, bytes, <key>}``, sorted by path, with
    rows from the footers.

    With ``value`` the files land in ``<root>/<value>/`` and each entry
    gets ``key: value``.  Without, ``df`` is partitioned by its integer
    column ``key`` into ``<root>/<key>=N/`` dirs and each entry gets
    ``key: N``; ``dirs`` names the partition dirs the write can touch
    (all of them when None), and only those are listed.

    The write is in append mode with no ``_SUCCESS`` marker: the
    snapshot commit is what publishes the files.  The new ones are
    found by listing before and after: Spark names part files after the
    write job's UUID, so they never collide with files already there."""
    if value is not None:
        dirs = [value]

    def listing() -> Dict[str, int]:
        ds = dirs
        if ds is None:
            ds = [
                n for n, _, is_dir in (
                    fsio.entries(spark, root)
                    if fsio.exists(spark, root) else []
                )
                if is_dir and n.startswith(key + "=")
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
    writer = df.write.mode("append").option(
        "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false"
    )
    if value is None:
        writer.partitionBy(key).parquet(root)
    else:
        writer.parquet(fsio.join(root, value))
    return [
        {
            "path": p,
            key: value if value is not None
            else int(p.split("/", 1)[0][len(key) + 1:]),
            "rows": fsio.parquet_num_rows(spark, fsio.join(root, p)),
            "bytes": size,
        }
        for p, size in sorted(listing().items())
        if p not in before
    ]


def compact(
    spark, who: str, target_bytes: int, force: bool,
    load: Callable[[], Tuple[str, dict, Dict[Hashable, List[dict]]]],
    rewrite: Callable[[str, Hashable, DataFrame], List[dict]],
    name: Callable[[Hashable], str],
) -> Tuple[str, dict, Dict[Hashable, List[dict]]]:
    """One small-file compaction pass over a table's groups of files.

    Refuses a non-positive ``target_bytes`` first, then calls
    ``load()`` — the pass's first access to the store — for ``(root,
    snapshot, {group: files})``.  A group of F files and B bytes is
    left alone when F <= ceil(B / target_bytes), decided from the
    snapshot's sizes alone, with no listing or footer read, unless
    ``force``.  Otherwise ``rewrite(root, group, df)`` writes its rows,
    coalesced (no shuffle) to that many partitions, and returns the new
    entries, whose footer rows must equal the snapshot's, else the pass
    raises naming ``name(group)`` and nothing is committed.

    Returns ``(root, snapshot, {group: new files})`` for the rewritten
    groups; the table commits them."""
    if target_bytes <= 0:
        raise ValueError(
            "%s: target_bytes must be positive, got %r" % (who, target_bytes)
        )
    root, snap, groups = load()
    new: Dict[Hashable, List[dict]] = {}
    for group, old in groups.items():
        n = max(1, math.ceil(sum(f["bytes"] for f in old) / target_bytes))
        if len(old) <= n and not force:
            continue
        new[group] = rewrite(root, group, read(spark, root, old).coalesce(n))
        got, want = (sum(f["rows"] for f in fs) for fs in (new[group], old))
        if got != want:
            raise RuntimeError(
                "%s: rewrite of %s produced %d rows, the snapshot lists "
                "%d — nothing committed" % (who, name(group), got, want)
            )
    return root, snap, new


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

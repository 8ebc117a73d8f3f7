# -*- coding: utf-8 -*-
"""Source-table fingerprints for the KG store's stage identities.

Each stage entry of a KG snapshot (:mod:`.pipeline`, :mod:`.snapshots`)
records the fingerprints of the source tables it was built from, so a
resumed or appended run can tell whether the store was built from the
tables it is pointed at.  Footer reads only: no data scan on either
:mod:`.fsio` route.
"""
from __future__ import annotations

from . import fsio


def table_fingerprint(path: str, spark=None) -> dict:
    """(row count, total bytes, file count) of a parquet table (single
    file or flat Spark-written part-file dir) from the footers — no
    data scan.  This is the source identity every stage of the KG
    store records (``build_kg``'s resume check, the append and refresh
    guards): a swapped or regenerated table virtually never keeps all
    three identical.  NOT a content hash — a
    same-size, same-row-count in-place edit passes; the guard's job is
    catching pointed-at-the-wrong-corpus and regenerated-corpus
    mistakes, not adversarial substitution.  Raises on a dir with no
    top-level .parquet files (nested/Hive-partitioned layouts are
    unsupported) rather than returning an all-zero fingerprint every
    such dir would share.  ``spark`` is required for URI paths (see
    :mod:`.fsio`)."""
    if fsio.is_file(spark, path):
        return {
            "rows": fsio.parquet_num_rows(spark, path),
            "bytes": fsio.getsize(spark, path),
            "n_files": 1,
        }
    files = sorted(
        (n, size)
        for n, size in fsio.listdir(spark, path)
        if n.endswith(".parquet")
    )
    if not files:
        raise ValueError(
            "table_fingerprint: no .parquet files at %r (nested/"
            "partitioned layouts are not supported)" % path
        )
    rows = 0
    nbytes = 0
    for name, size in files:
        rows += fsio.parquet_num_rows(spark, fsio.join(path, name))
        nbytes += size
    return {"rows": rows, "bytes": nbytes, "n_files": len(files)}

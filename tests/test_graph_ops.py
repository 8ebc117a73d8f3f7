# -*- coding: utf-8 -*-
"""Graph-consumer operators over the materialized edge table
(operators/graph.py): degree summary and weighted edge collapse."""
from webstruct_spark.operators.graph import edge_weights, node_degrees


def _edges(spark):
    rows = [
        # (subj_node, pred, obj_node, subj, obj, conv_id, group_id, ti)
        ("A", "has_tel", "B", "Acme", "555", "c1", "c1:g0", 0),
        ("A", "has_tel", "B", "Acme", "555", "c2", "c2:g0", 0),
        ("A", "has_tel", "B", "Acme", "555-0", "c2", "c2:g1", 1),
        ("A", "has_email", "C", "Acme", "a@x", "c1", "c1:g0", 1),
        ("B", "has_org", "A", "555", "Acme", "c3", "c3:g0", 0),
        ("D", "has_tel", "B", "Dyn", "555", "c3", "c3:g0", 1),
    ]
    return spark.createDataFrame(
        rows,
        "subj_node string, pred string, obj_node string, subj string,"
        " obj string, conv_id string, group_id string, triple_idx int",
    )


def test_node_degrees(spark):
    got = {
        r["node_id"]: (r["out_degree"], r["in_degree"], r["degree"])
        for r in node_degrees(_edges(spark)).collect()
    }
    # C appears only as an object, D only as a subject — both must
    # still get a row (full-outer with zero fill)
    assert got == {
        "A": (4, 1, 5),
        "B": (1, 4, 5),
        "C": (0, 1, 1),
        "D": (1, 0, 1),
    }


def test_edge_weights(spark):
    got = {
        (r["subj_node"], r["pred"], r["obj_node"]):
            (r["n_triples"], r["n_convs"])
        for r in edge_weights(_edges(spark)).collect()
    }
    # the A-has_tel-B multi-edge: 3 triples across 2 conversations
    assert got[("A", "has_tel", "B")] == (3, 2)
    assert got[("A", "has_email", "C")] == (1, 1)
    assert got[("B", "has_org", "A")] == (1, 1)
    assert got[("D", "has_tel", "B")] == (1, 1)
    assert len(got) == 4


def test_unmatched_triple_endpoints(spark):
    """The monitoring companion of materialize_edges: links from a
    DIFFERENT corpus state -> the inner joins drop edges silently,
    and this check names exactly the dropped endpoints; links in
    lockstep -> empty."""
    from webstruct_spark.operators.graph import (
        materialize_edges,
        unmatched_triple_endpoints,
    )
    from webstruct_spark.operators.linking import norm_text_col
    from pyspark.sql import functions as F

    triples = spark.createDataFrame(
        [
            ("c1", "c1:g0", 0, "Acme Corp", "ORG", "has_tel",
             "555-0100", "TEL"),
            ("c1", "c1:g0", 1, "Acme Corp", "ORG", "has_city",
             "Austin", "CITY"),
        ],
        "conv_id string, group_id string, triple_idx int, subj string,"
        " subj_type string, pred string, obj string, obj_type string",
    )
    surfaces = triples.select(
        F.col("subj_type").alias("entity_type"),
        norm_text_col(F.col("subj")).alias("norm_text"),
    ).unionByName(
        triples.select(
            F.col("obj_type").alias("entity_type"),
            norm_text_col(F.col("obj")).alias("norm_text"),
        )
    ).distinct()
    links_full = surfaces.withColumn(
        "node_id", F.concat_ws(":", "entity_type", "norm_text")
    )
    # lockstep links: no drops, edges cover every triple
    assert unmatched_triple_endpoints(triples, links_full).count() == 0
    assert materialize_edges(triples, links_full).count() == 2
    # stale links missing the CITY surface: the edge silently drops
    # from materialize_edges, and the check names it
    links_stale = links_full.where(F.col("entity_type") != "CITY")
    assert materialize_edges(triples, links_stale).count() == 1
    missing = unmatched_triple_endpoints(triples, links_stale).collect()
    assert [(r["endpoint"], r["entity_type"], r["text"], r["triple_idx"])
            for r in missing] == [("obj", "CITY", "Austin", 1)]


def test_check_kg_links_audit(spark, corpus_dir, tmp_path):
    """check_kg_links over a real build: zero uncovered endpoints on
    the in-pipeline tables; after an out-of-band links overwrite that
    drops one entity type, the audit counts and names the dropped
    endpoints; an uncommitted stage yields a structured refusal
    report (auditing it would prove nothing); the exit codes
    (0 healthy / 3 dirty-or-unauditable) are pinned via the factored
    check_links_rc."""
    import json
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from tests.conftest import current_snapshot
    from webstruct_spark.plans.pipeline import build_kg, check_kg_links

    out = str(tmp_path / "kg")
    paths = build_kg(spark, corpus_dir, out)
    clean = check_kg_links(spark, out)
    assert clean["uncovered"] == 0
    assert clean["by_endpoint"] == {}
    assert clean["sample"] == []

    # a healthy report still carries the full diagnosis schema (a
    # consumer must never KeyError on the common all-clear case)
    assert clean["probable_cause"] is None
    assert clean["audited"] is True and clean["not_committed"] == []

    from jobs.kg_build import check_links_rc

    assert check_links_rc(clean) == 0

    # out-of-band surgery: rewrite links without one entity type —
    # exactly the stale-links shape the audit exists to make loud.
    # Pick the type DETERMINISTICALLY from the triples' own endpoint
    # types (min over distinct), not links.first(): first() on an
    # unordered scan is partition-order-dependent and could select a
    # type that never appears as a triple endpoint, making the prune
    # a no-op
    triples = spark.read.parquet(paths["triples"])
    etype = min(
        r["t"]
        for r in triples.select(F.col("subj_type").alias("t"))
        .unionAll(triples.select(F.col("obj_type").alias("t")))
        .distinct()
        .collect()
    )
    # independent expected count: the join keys are (entity_type,
    # norm_text), so pruning every etype link uncovers exactly the
    # triple endpoints of that type — computed here from the triples
    # table alone, NOT from the audit's own groupBy
    expected = (
        triples.where(F.col("subj_type") == etype).count()
        + triples.where(F.col("obj_type") == etype).count()
    )
    assert expected > 0
    # the surgery rewrites the files the snapshot lists in place, so
    # the snapshot still vouches for them — this is a pure DATA tear
    listed = [
        os.path.join(out, f["path"]) for f in current_snapshot(out)["files"]
        if f["stage"] == "links"
    ]
    for path in listed:
        tbl = pq.read_table(path)
        pq.write_table(
            tbl.filter(pc.not_equal(tbl["entity_type"], etype)), path
        )
        head, name = os.path.split(path)
        os.remove(os.path.join(head, "." + name + ".crc"))
    got = check_kg_links(spark, out)
    assert got["uncovered"] == expected
    assert set(got["by_endpoint"]) <= {"subj", "obj"}
    assert 0 < len(got["sample"]) <= 20
    assert all(r["entity_type"] == etype for r in got["sample"])
    assert got["probable_cause"].startswith("out-of-band")
    assert check_links_rc(got) == 3

    # the CLI contract a scheduler alerts on: a dirty audit must FAIL
    # the process (exit 3 — distinguishable from argparse's 2 and a
    # crash's 1), not just print JSON; rc-based monitors never parse
    # stdout.  One subprocess (own JVM) — the only way to observe the
    # real exit code without stopping the shared fixture session
    import subprocess
    import sys as _sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [_sys.executable, os.path.join(repo, "jobs", "kg_build.py"),
         "--out", out, "--check-links", "--cores", "2"],
        capture_output=True, text=True, timeout=600, cwd=repo,
    )
    assert proc.returncode == 3, proc.stderr[-2000:]
    cli_report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert cli_report["uncovered"] == expected

    # an uncommitted stage yields a structured REFUSAL report (not a
    # traceback): audited=False, uncovered unknown (None), the stage
    # named.  rc 3: un-auditable is alert-worthy, and "the audit code
    # broke" (rc 1) it is not
    snap = current_snapshot(out)
    del snap["stages"]["links"]
    with open(os.path.join(out, "_snapshots",
                           "snap-%d.json" % snap["id"]), "w") as f:
        json.dump(snap, f)
    refused = check_kg_links(spark, out)
    assert refused["audited"] is False and refused["uncovered"] is None
    assert refused["not_committed"] == ["links"]
    assert refused["sample"] == [] and refused["by_endpoint"] == {}
    assert "not committed" in refused["probable_cause"]
    assert check_links_rc(refused) == 3

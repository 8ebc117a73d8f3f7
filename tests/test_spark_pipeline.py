# -*- coding: utf-8 -*-
"""Distributed pipeline parity + invariants at sf0.001.

Gates (BASELINE.json): per-turn text equality under stable ordering,
triple-set P/R vs the reference extractor, canonicalization
fixed-point, kill-and-resume equivalence.
"""
import os

import pytest
from pyspark.sql import functions as F


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def _gold(spark, corpus_dir, name):
    return spark.read.parquet(os.path.join(corpus_dir, name))


@pytest.fixture(scope="module")
def transcripts(spark, corpus_dir):
    return spark.read.parquet(os.path.join(corpus_dir, "transcripts.parquet"))


def test_mentions_match_injected_gold(spark, corpus_dir, transcripts):
    """End-to-end: Spark mention extraction == generation-time injected
    mentions (independent of the kernels) — P/R = 1.0."""
    from webstruct_spark.operators.extract import mentions

    cols = ["conv_id", "turn_idx", "mention_idx", "text", "entity_type"]
    got = _rows(mentions(transcripts), cols)
    want = _rows(_gold(spark, corpus_dir, "gold_mentions.parquet"), cols)
    assert got == want


def test_triples_match_reference_extractor(spark, corpus_dir, transcripts):
    from webstruct_spark.operators.extract import extract_rows
    from webstruct_spark.operators.grouping_op import group_entities
    from webstruct_spark.operators.triples_op import triples

    cols = ["conv_id", "group_id", "triple_idx", "subj", "pred", "obj"]
    got = _rows(triples(group_entities(extract_rows(transcripts))), cols)
    want = _rows(_gold(spark, corpus_dir, "gold_triples.parquet"), cols)
    assert got == want
    # triple-set P/R (the BASELINE metric; equality implies 1.0/1.0)
    tp = len(set(got) & set(want))
    assert tp / len(got) >= 0.95 and tp / len(want) >= 0.95


def test_per_turn_text_equality_invariant(spark, transcripts):
    """Token (position, length) offsets must slice the original turn
    text exactly (quote replacements excepted by the tokenizer
    contract: `` / '' / ... map from differing raw chars)."""
    from webstruct_spark.operators.extract import tokenize_tags_udf

    sample = transcripts.orderBy("conv_id", "turn_idx").limit(200)
    rows = sample.select(
        "text", tokenize_tags_udf("text").alias("x")
    ).collect()
    checked = 0
    for r in rows:
        text = r["text"]
        for tok in r["x"]["tokens"]:
            sliced = text[tok["position"] : tok["position"] + tok["length"]]
            if tok["chars"] in ("``", "''", "..."):
                continue
            assert sliced == tok["chars"], (sliced, tok)
            checked += 1
    assert checked > 1000


def test_grouping_stable_under_ordering(spark, transcripts):
    """Shuffling input row order must not change grouping output
    (stable (conv_id, turn_idx) semantics)."""
    from webstruct_spark.operators.extract import extract_rows
    from webstruct_spark.operators.grouping_op import group_entities

    cols = ["conv_id", "group_id", "entity_idx", "text", "entity_type"]
    a = _rows(group_entities(extract_rows(transcripts)), cols)
    shuffled = transcripts.orderBy(F.md5(F.concat("conv_id", "text")))
    b = _rows(group_entities(extract_rows(shuffled)), cols)
    assert a == b


def test_canonicalization_matches_gold_and_fixed_point(
    spark, corpus_dir, transcripts
):
    from webstruct_spark.operators.canon import canonicalize
    from webstruct_spark.operators.extract import mentions

    gaz = spark.read.parquet(os.path.join(corpus_dir, "gazetteer.parquet"))
    m = mentions(transcripts).cache()
    links, nodes = canonicalize(m, gaz)
    got = _rows(links, ["entity_type", "norm_text", "node_id"])
    want = _rows(
        _gold(spark, corpus_dir, "gold_links.parquet"),
        ["entity_type", "norm_text", "node_id"],
    )
    assert got == want
    # fixed point: re-canonicalizing the canonical surface forms maps
    # every node onto itself (no new merges, no splits)
    nodes_df = nodes.cache()
    remention = nodes_df.select(
        F.col("canonical_text").alias("text"),
        "entity_type",
    )
    links2, nodes2 = canonicalize(remention, gaz)
    n1 = nodes_df.count()
    n2 = nodes2.count()
    assert n2 == n1


def _killed_at_group_entities(spark, corpus_dir, out, monkeypatch):
    """A build killed as it starts writing group_entities: extracted
    and mentions are staged, nothing is published."""
    from tests.conftest import kill_kg_at
    from webstruct_spark.plans.pipeline import build_kg

    kill_kg_at(monkeypatch, lambda: build_kg(
        spark, corpus_dir, out, stage_concurrency=1), "group_entities")


def test_pipeline_resume_equivalence(spark, corpus_dir, tmp_path,
                                     monkeypatch):
    """Kill-and-resume: a build killed after its early stages resumes
    from the snapshot's staged stages without rewriting them and ends
    with the same outputs as an uninterrupted build."""
    from tests.conftest import current_snapshot
    from webstruct_spark.plans.pipeline import build_kg

    full_dir = str(tmp_path / "full")
    build_kg(spark, corpus_dir, full_dir)

    partial_dir = str(tmp_path / "partial")
    _killed_at_group_entities(spark, corpus_dir, partial_dir, monkeypatch)
    killed = current_snapshot(partial_dir)
    assert killed["stages"] == {}
    assert set(killed["building"]) == {"extracted", "mentions"}
    staged = {f["path"] for f in killed["files"]}

    build_kg(spark, corpus_dir, partial_dir)  # resume

    for stage in ["mentions", "triples", "nodes"]:
        a = spark.read.parquet(os.path.join(full_dir, stage))
        b = spark.read.parquet(os.path.join(partial_dir, stage))
        ca = sorted(map(tuple, a.collect()))
        cb = sorted(map(tuple, b.collect()))
        assert ca == cb, stage
    # the staged stages (and the side table) were published as written
    snap = current_snapshot(partial_dir)
    assert staged <= {f["path"] for f in snap["files"]}
    assert snap["building"] == {}


def test_manifest_lineage_counters(spark, corpus_dir, tmp_path):
    """Each stage's snapshot entry counts the rows, files and bytes of
    the files the snapshot lists for it, and those are the stage dir's
    files."""
    from tests.conftest import current_snapshot
    from webstruct_spark.plans.pipeline import build_kg

    out = str(tmp_path / "kg")
    paths = build_kg(spark, corpus_dir, out)
    snap = current_snapshot(out)
    for stage, path in paths.items():
        ent = snap["stages"][stage]
        files = [f for f in snap["files"] if f["stage"] == stage]
        assert ent["rows_out"] == spark.read.parquet(path).count()
        assert ent["rows_out"] == sum(f["rows"] for f in files)
        assert ent["n_files"] == len(files) >= 1
        assert ent["bytes"] == sum(
            os.path.getsize(os.path.join(out, f["path"])) for f in files
        )
        assert sorted(os.path.basename(f["path"]) for f in files) == sorted(
            n for n in os.listdir(path) if n.endswith(".parquet")
        )


@pytest.mark.parametrize("at", ["links", "_conv_ids"])
def test_killed_concurrent_build_ends_and_resumes(
        spark, corpus_dir, tmp_path, monkeypatch, at):
    """A concurrent build killed while writing ``links`` (an input of
    edges) or the side table stops within a bounded time: no task
    waits forever on a stage that will never be written.  Its re-run
    equals a fresh build, side table included."""
    import threading

    from tests.conftest import kill_kg_at
    from webstruct_spark.plans.pipeline import CONV_IDS, STAGES, build_kg

    out = str(tmp_path / "killed")
    errors = []

    def killed_build():
        try:
            kill_kg_at(monkeypatch, lambda: build_kg(
                spark, corpus_dir, out, stage_concurrency=4), at)
        except BaseException as e:  # reported by the assert below
            errors.append(e)

    t = threading.Thread(target=killed_build, daemon=True)
    t.start()
    t.join(timeout=300)
    assert not t.is_alive(), "the killed build did not end"
    assert errors == []
    build_kg(spark, corpus_dir, out, stage_concurrency=4)
    fresh = str(tmp_path / "fresh")
    build_kg(spark, corpus_dir, fresh)
    for stage in STAGES + [CONV_IDS]:
        got, want = (
            sorted(map(repr, spark.read.parquet(
                os.path.join(d, stage)).collect()))
            for d in (out, fresh)
        )
        assert got == want, stage


def test_read_files_starts_no_job(spark, corpus_dir, tmp_path):
    """Every table of a built store reads with the schema from its
    first file's footer: no Spark job starts, and the schema is the one
    Spark infers.  A file without Spark's footer key (rewritten by
    pyarrow) still reads the same rows."""
    import pyarrow.parquet as pq

    from tests.conftest import current_snapshot
    from webstruct_spark.plans.pipeline import (
        CONV_IDS, STAGES, _files, build_kg,
    )
    from webstruct_spark.plans.snapshots import read

    out = str(tmp_path / "kg")
    build_kg(spark, corpus_dir, out)
    snap = current_snapshot(out)
    dag = spark.sparkContext._jsc.sc().dagScheduler()

    def paths(stage):
        return [os.path.join(out, f["path"]) for f in _files(snap, stage)]

    for stage in STAGES + [CONV_IDS]:
        job = int(dag.nextJobId())
        df = read(spark, out, _files(snap, stage))
        assert int(dag.nextJobId()) == job, stage
        assert df.schema == spark.read.parquet(*paths(stage)).schema, stage

    first = paths("triples")[0]
    want = sorted(map(repr, spark.read.parquet(*paths("triples")).collect()))
    table = pq.read_table(first)
    pq.write_table(table.replace_schema_metadata(None), first)
    head, name = os.path.split(first)
    os.remove(os.path.join(head, "." + name + ".crc"))  # now stale
    assert b"org.apache.spark.sql.parquet.row.metadata" not in (
        pq.read_metadata(first).metadata or {}
    )
    got = read(spark, out, _files(snap, "triples"))
    assert sorted(map(repr, got.collect())) == want


@pytest.mark.parametrize("op", ["build", "append"])
def test_concurrent_stages_equal_sequential(spark, corpus_dir, tmp_path, op):
    """stage_concurrency > 1 runs independent DAG stages as concurrent
    Spark jobs; every stage table must equal the strict-sequential run
    row-for-row.  Both builds commit one snapshot per staged task
    (completion order is free) plus the one that publishes; both
    appends add one commit to the same base."""
    import shutil

    from tests.conftest import current_snapshot
    from webstruct_spark.plans.pipeline import STAGES, append_kg, build_kg

    if op == "build":
        def run(d, workers):
            return build_kg(spark, corpus_dir, d, stage_concurrency=workers)
    else:
        corpus_a, corpus_b, _ = _split_corpus(spark, corpus_dir, tmp_path)
        base = str(tmp_path / "base")
        build_kg(spark, corpus_a, base)

        def run(d, workers):
            shutil.copytree(base, d)
            return append_kg(spark, corpus_b, d, stage_concurrency=workers)

    seq_dir = str(tmp_path / "seq")
    con_dir = str(tmp_path / "con")
    seq = run(seq_dir, 1)
    con = run(con_dir, 4)
    assert set(seq) == set(con) == set(STAGES)
    for stage in STAGES:
        a = spark.read.parquet(seq[stage])
        b = spark.read.parquet(con[stage])
        assert _rows(a, a.columns) == _rows(b, b.columns), stage
    for d in (seq_dir, con_dir):
        snap = current_snapshot(d)
        # build: 8 tasks (links+nodes commit together; the _conv_ids
        # side table is its own task) + the publish; append: that
        # build's 9 + its one commit
        assert snap["id"] == (9 if op == "build" else 10)
        assert set(snap["stages"]) == set(STAGES)
        assert snap["building"] == {}


def _split_corpus(spark, corpus_dir, tmp_path):
    """corpus_dir split by conv_id into (corpus_a, corpus_b, union)."""
    import shutil

    t = spark.read.parquet(os.path.join(corpus_dir, "transcripts.parquet"))
    convs = sorted(r[0] for r in t.select("conv_id").distinct().collect())
    half = set(convs[: len(convs) // 2])
    out = []
    for name, pred in (
        ("corpus_a", F.col("conv_id").isin(half)),
        ("corpus_b", ~F.col("conv_id").isin(half)),
        ("corpus_u", F.lit(True)),
    ):
        d = str(tmp_path / name)
        os.makedirs(d)
        t.where(pred).write.parquet(os.path.join(d, "transcripts.parquet"))
        gaz_src = os.path.join(corpus_dir, "gazetteer.parquet")
        gaz_dst = os.path.join(d, "gazetteer.parquet")
        if os.path.isdir(gaz_src):
            shutil.copytree(gaz_src, gaz_dst)
        else:
            shutil.copy(gaz_src, gaz_dst)
        out.append(d)
    return out


def test_resume_refuses_changed_corpus(spark, corpus_dir, tmp_path):
    """resume=True against a DIFFERENT corpus must rebuild every
    stage from the new source, not serve the old corpus's committed
    outputs (source fingerprints are recorded per commit)."""
    from webstruct_spark.plans.pipeline import build_kg

    corpus_a, _corpus_b, _ = _split_corpus(spark, corpus_dir, tmp_path)
    keep = {
        r[0]
        for r in spark.read.parquet(
            os.path.join(corpus_a, "transcripts.parquet")
        ).select("conv_id").distinct().collect()
    }

    out = str(tmp_path / "kg")
    build_kg(spark, corpus_dir, out)
    stale_mentions = _rows(
        spark.read.parquet(os.path.join(out, "mentions")),
        ["conv_id", "turn_idx", "mention_idx", "text"],
    )

    paths = build_kg(spark, corpus_a, out)  # resume=True (default)
    fresh = _rows(
        spark.read.parquet(paths["mentions"]),
        ["conv_id", "turn_idx", "mention_idx", "text"],
    )
    assert fresh != stale_mentions
    assert {r[0] for r in fresh} <= keep


def test_append_kg_equals_fresh_union_build(spark, corpus_dir, tmp_path):
    """build on corpus A, append corpus B: every stage table must be
    row-identical to a fresh build over A∪B — including the GLOBAL
    tables (links/nodes/edges), where B's surfaces can merge A's
    components and relabel node ids."""
    from webstruct_spark.plans.pipeline import STAGES, append_kg, build_kg

    corpus_a, corpus_b, corpus_u = _split_corpus(spark, corpus_dir, tmp_path)

    inc_dir = str(tmp_path / "inc")
    build_kg(spark, corpus_a, inc_dir)
    inc = append_kg(spark, corpus_b, inc_dir)

    fresh_dir = str(tmp_path / "fresh")
    fresh = build_kg(spark, corpus_u, fresh_dir)

    def none_safe_rows(df):
        cols = sorted(df.columns)
        return sorted(
            repr(tuple(r[c] for c in cols))
            for r in df.select(*cols).collect()
        )

    for stage in STAGES:
        a = spark.read.parquet(inc[stage])
        b = spark.read.parquet(fresh[stage])
        assert none_safe_rows(a) == none_safe_rows(b), stage


def test_append_of_empty_corpus_is_noop(spark, corpus_dir, tmp_path):
    """append_kg over a corpus dir whose transcripts table has no rows
    commits nothing: the snapshot id and every stage's file list are
    those of the base build."""
    import shutil

    from tests.conftest import current_snapshot
    from webstruct_spark.plans.pipeline import (
        CONV_IDS, STAGES, append_kg, build_kg,
    )

    out = str(tmp_path / "kg")
    build_kg(spark, corpus_dir, out)
    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    spark.read.parquet(
        os.path.join(corpus_dir, "transcripts.parquet")
    ).limit(0).write.parquet(os.path.join(empty, "transcripts.parquet"))
    gaz = os.path.join(corpus_dir, "gazetteer.parquet")
    (shutil.copytree if os.path.isdir(gaz) else shutil.copy)(
        gaz, os.path.join(empty, "gazetteer.parquet")
    )

    def listed(snap, stage):
        return sorted(f["path"] for f in snap["files"] if f["stage"] == stage)

    before = current_snapshot(out)
    append_kg(spark, empty, out)
    after = current_snapshot(out)
    assert after["id"] == before["id"]
    for stage in STAGES + [CONV_IDS]:
        assert listed(after, stage) == listed(before, stage), stage


def test_append_retry_after_precommit_crash(spark, corpus_dir, tmp_path,
                                           monkeypatch):
    """An append killed after writing every file but before its
    snapshot commit leaves the store as it was: the files it wrote are
    unreferenced.  The retry applies the delta in full and the side
    table stays exact, while a true double-append still raises."""
    from tests.conftest import kill_kg_at
    from webstruct_spark.plans.pipeline import (
        CONV_IDS, append_kg, build_kg,
    )

    corpus_a, corpus_b, corpus_u = _split_corpus(spark, corpus_dir, tmp_path)
    out = str(tmp_path / "kg")
    build_kg(spark, corpus_a, out)
    base_rows = spark.read.parquet(os.path.join(out, "extracted")).count()
    kill_kg_at(monkeypatch, lambda: append_kg(spark, corpus_b, out),
               "commit")
    delta = spark.read.parquet(
        os.path.join(corpus_b, "transcripts.parquet")
    )

    append_kg(spark, corpus_b, out)  # the retry — must recover

    fresh = build_kg(spark, corpus_u, str(tmp_path / "fresh"))
    got = spark.read.parquet(os.path.join(out, "extracted"))
    want = spark.read.parquet(fresh["extracted"])
    assert sorted(map(repr, got.collect())) == sorted(
        map(repr, want.collect())
    )
    assert got.count() > base_rows
    # the side table holds each conversation once
    side = spark.read.parquet(os.path.join(out, CONV_IDS))
    assert side.count() == side.distinct().count() == (
        want.select("conv_id").distinct().count()
    )
    # re-running the SAME delta dir is the documented
    # crash-after-final-commit recovery: a provable no-op (the
    # snapshot's delta_fp matches), never a double-append
    n_before = got.count()
    append_kg(spark, corpus_b, out)
    assert spark.read.parquet(
        os.path.join(out, "extracted")
    ).count() == n_before
    # a DIFFERENT file-backed delta with the same conversations is a
    # true double-append hazard and still raises (same rows, but the
    # footer fingerprint — bytes/n_files — no longer matches what the
    # base last applied)
    import shutil

    corpus_b2 = str(tmp_path / "corpus_b2")
    os.makedirs(corpus_b2)
    delta.repartition(3).write.parquet(
        os.path.join(corpus_b2, "transcripts.parquet")
    )
    gaz_src = os.path.join(corpus_b, "gazetteer.parquet")
    gaz_dst = os.path.join(corpus_b2, "gazetteer.parquet")
    if os.path.isdir(gaz_src):
        shutil.copytree(gaz_src, gaz_dst)
    else:
        shutil.copy(gaz_src, gaz_dst)
    with pytest.raises(ValueError, match="conv_ids"):
        append_kg(spark, corpus_b2, out)


def test_append_kg_guards(spark, corpus_dir, tmp_path, monkeypatch):
    """Overlapping conv_ids and a changed gazetteer must raise; so
    must an incomplete base build."""
    import pyarrow as pa
    import pyarrow.parquet as pq_mod

    from webstruct_spark.plans.pipeline import append_kg, build_kg

    corpus_a, corpus_b, _ = _split_corpus(spark, corpus_dir, tmp_path)
    out = str(tmp_path / "kg")
    build_kg(spark, corpus_a, out)

    # same conv_ids again -> at-least-once double-append hazard
    with pytest.raises(ValueError, match="conv_ids"):
        append_kg(spark, corpus_a, out)

    # different grouping params than the base -> delta's groups/triples
    # would not match a fresh union build
    with pytest.raises(ValueError, match="params"):
        append_kg(spark, corpus_b, out, dont_penalize={"TEL"})

    # a base whose build was killed before it published anything
    killed = str(tmp_path / "killed")
    _killed_at_group_entities(spark, corpus_a, killed, monkeypatch)
    with pytest.raises(ValueError, match="missing stages"):
        append_kg(spark, corpus_b, killed)

    # changed gazetteer -> node identity would silently shift
    import shutil

    corpus_c = str(tmp_path / "corpus_c")
    shutil.copytree(corpus_b, corpus_c)
    gaz = os.path.join(corpus_c, "gazetteer.parquet")
    if os.path.isdir(gaz):
        tbl_file = sorted(
            f for f in os.listdir(gaz) if f.endswith(".parquet")
        )[0]
        tbl_path = os.path.join(gaz, tbl_file)
    else:
        tbl_path = gaz
    tbl = pq_mod.read_table(tbl_path)
    pq_mod.write_table(tbl.slice(0, max(1, tbl.num_rows - 1)), tbl_path)
    with pytest.raises(ValueError, match="gazetteer"):
        append_kg(spark, corpus_c, out)


def test_table_fingerprint_raises_on_empty_dir(tmp_path):
    """An all-zero fingerprint would compare equal across every
    unsupported layout — fail loudly instead."""
    from webstruct_spark.plans.manifest import table_fingerprint

    d = str(tmp_path / "empty")
    os.makedirs(d)
    with pytest.raises(ValueError, match="no .parquet files"):
        table_fingerprint(d)


def test_gazetteer_refresh_resume_keeps_corpus_stages(
    spark, corpus_dir, tmp_path
):
    """Per-stage source identity: after ONLY the gazetteer changes, a
    resume must keep the corpus-scale stages (extracted..triples) and
    rebuild just the canonicalization family (links/nodes/edges) —
    re-linking against a refreshed gazetteer must not re-extract the
    history."""
    import shutil

    import pyarrow.parquet as pq_mod

    from tests.conftest import current_snapshot
    from webstruct_spark.plans.pipeline import build_kg

    def paths_of(snap, stage):
        return {f["path"] for f in snap["files"] if f["stage"] == stage}

    corpus = str(tmp_path / "corpus")
    shutil.copytree(corpus_dir, corpus)
    out = str(tmp_path / "kg")
    build_kg(spark, corpus, out)
    before = current_snapshot(out)

    # refresh the gazetteer (drop one row)
    gaz = os.path.join(corpus, "gazetteer.parquet")
    if os.path.isdir(gaz):
        part = sorted(
            f for f in os.listdir(gaz) if f.endswith(".parquet")
        )[0]
        gaz_file = os.path.join(gaz, part)
    else:
        gaz_file = gaz
    tbl = pq_mod.read_table(gaz_file)
    pq_mod.write_table(tbl.slice(0, tbl.num_rows - 1), gaz_file)

    build_kg(spark, corpus, out)  # resume
    after = current_snapshot(out)
    for stage in ("extracted", "mentions", "group_entities",
                  "groups", "triples"):
        assert paths_of(after, stage) == paths_of(before, stage), stage
    for stage in ("links", "nodes", "edges"):
        assert not paths_of(after, stage) & paths_of(before, stage), stage

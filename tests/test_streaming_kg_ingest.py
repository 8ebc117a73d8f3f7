# -*- coding: utf-8 -*-
"""Streaming KG ingestion: file-drop micro-batches folded into an
existing build via foreachBatch + append_kg_frames, exactly-once."""
import os
import shutil

import pytest
from pyspark.sql import functions as F

from tests.conftest import kill_kg_at


def _none_safe_rows(df):
    cols = sorted(df.columns)
    return sorted(
        repr(tuple(r[c] for c in cols))
        for r in df.select(*cols).collect()
    )


def _manifest_state(out):
    """Sorted snapshot-record file names — a no-op append leaves this
    exactly unchanged (one record per commit, never rewritten)."""
    d = os.path.join(out, "_snapshots")
    return sorted(os.listdir(d)) if os.path.isdir(d) else []


def _assert_equal_stores(spark, out, twin):
    from webstruct_spark.plans.pipeline import STAGES

    for stage in STAGES:
        got = spark.read.parquet(os.path.join(out, stage))
        want = spark.read.parquet(os.path.join(twin, stage))
        assert _none_safe_rows(got) == _none_safe_rows(want), stage


@pytest.fixture(scope="module")
def thirds(spark, corpus_dir, tmp_path_factory):
    """Corpus split by conv_id into three conversation-complete
    parts: A (base build corpus dir), B and C (delta DataFrames)."""
    t = spark.read.parquet(os.path.join(corpus_dir, "transcripts.parquet"))
    convs = sorted(r[0] for r in t.select("conv_id").distinct().collect())
    third = len(convs) // 3
    a, b = set(convs[:third]), set(convs[third : 2 * third])

    corpus_a = str(tmp_path_factory.mktemp("thirds") / "corpus_a")
    os.makedirs(corpus_a)
    t.where(F.col("conv_id").isin(a)).write.parquet(
        os.path.join(corpus_a, "transcripts.parquet")
    )
    gaz_src = os.path.join(corpus_dir, "gazetteer.parquet")
    gaz_dst = os.path.join(corpus_a, "gazetteer.parquet")
    if os.path.isdir(gaz_src):
        shutil.copytree(gaz_src, gaz_dst)
    else:
        shutil.copy(gaz_src, gaz_dst)
    df_b = t.where(F.col("conv_id").isin(b))
    df_c = t.where(~F.col("conv_id").isin(a | b))
    return corpus_a, df_b, df_c, gaz_dst


@pytest.fixture(scope="module")
def base_kg(spark, thirds):
    """The store built from corpus A, once for the module.  No test
    writes to it: each works on copies (:func:`_copy`)."""
    from webstruct_spark.plans.pipeline import build_kg

    out = os.path.join(os.path.dirname(thirds[0]), "base_kg")
    build_kg(spark, thirds[0], out)
    return out


def _copy(base_kg, tmp_path, name="kg"):
    """A copy of the base store at ``tmp_path/name``: snapshot records
    list root-relative paths, so the copy is a store of its own."""
    out = str(tmp_path / name)
    shutil.copytree(base_kg, out)
    return out


def test_stream_ingest_equals_fresh_union(spark, corpus_dir, tmp_path, thirds,
                                          base_kg):
    """Two conversation-complete file drops consumed as separate
    micro-batches (maxFilesPerTrigger=1) must leave every stage table
    row-identical to a fresh batch build over the full corpus, and a
    second availableNow run over the same input dir must be a no-op
    (checkpoint remembers consumed files)."""
    from tests.conftest import current_snapshot
    from webstruct_spark.plans.pipeline import STAGES, build_kg
    from webstruct_spark.streaming.kg_ingest import ingest_transcripts_stream

    _corpus_a, df_b, df_c, gaz_path = thirds

    out = _copy(base_kg, tmp_path)

    # two file drops, one part file each (conversation-complete)
    input_dir = str(tmp_path / "drops")
    for df in (df_b, df_c):
        df.repartition(1).write.mode("append").parquet(input_dir)

    ckpt = str(tmp_path / "ckpt")
    ingest_transcripts_stream(
        spark, input_dir, out, gaz_path, ckpt, max_files_per_trigger=1
    )

    fresh_dir = str(tmp_path / "fresh")
    fresh = build_kg(spark, corpus_dir, fresh_dir)
    for stage in STAGES:
        got = spark.read.parquet(os.path.join(out, stage))
        want = spark.read.parquet(fresh[stage])
        assert _none_safe_rows(got) == _none_safe_rows(want), stage

    # the id of the last micro-batch was stamped into the snapshot
    snap = current_snapshot(out)
    assert snap["stream_batch_id"] == 1
    last_fp = snap["stages"]["edges"]["source_fp"]
    assert last_fp["transcripts"]["bytes"] == -1  # not file-backed
    # each append added files beside the base's: the totals count them
    ex = snap["stages"]["extracted"]
    assert ex["rows_out"] == spark.read.parquet(
        os.path.join(out, "extracted")
    ).count()
    assert ex["n_files"] == sum(
        1 for f in snap["files"] if f["stage"] == "extracted"
    ) >= 3

    # re-run over the same input: checkpoint yields no new files
    before = _manifest_state(out)
    ingest_transcripts_stream(
        spark, input_dir, out, gaz_path, ckpt, max_files_per_trigger=1
    )
    assert _manifest_state(out) == before


def test_replayed_batch_is_noop(spark, tmp_path, thirds, base_kg):
    """foreachBatch is at-least-once: re-applying an already-committed
    batch must not write anything (exactly-once via the _conv_ids side
    table: every conversation of the replay is already stored)."""
    from webstruct_spark.plans.manifest import table_fingerprint
    from webstruct_spark.plans.pipeline import append_kg_frames

    _corpus_a, df_b, _df_c, gaz_path = thirds
    out = _copy(base_kg, tmp_path)
    gaz = spark.read.parquet(gaz_path)
    gaz_fp = table_fingerprint(gaz_path)

    append_kg_frames(spark, df_b, gaz, gaz_fp, out, batch_id=0)
    recs_before = _manifest_state(out)
    rows_before = spark.read.parquet(
        os.path.join(out, "extracted")
    ).count()

    # replay of batch 0 — and an empty later batch — are both no-ops
    append_kg_frames(spark, df_b, gaz, gaz_fp, out, batch_id=0)
    append_kg_frames(
        spark, df_b.limit(0), gaz, gaz_fp, out, batch_id=1
    )
    assert _manifest_state(out) == recs_before
    assert (
        spark.read.parquet(os.path.join(out, "extracted")).count()
        == rows_before
    )


def test_reset_checkpoint_with_new_files_raises(spark, tmp_path, thirds,
                                                base_kg):
    """A lost checkpoint replays batch ids from 0 over the whole input
    dir; if new conversations landed meanwhile, the mixed batch must
    RAISE (skipping would drop the new data, appending would double
    the old)."""
    from webstruct_spark.plans.manifest import table_fingerprint
    from webstruct_spark.plans.pipeline import append_kg_frames

    _corpus_a, df_b, df_c, gaz_path = thirds
    out = _copy(base_kg, tmp_path)
    gaz = spark.read.parquet(gaz_path)
    gaz_fp = table_fingerprint(gaz_path)

    append_kg_frames(spark, df_b, gaz, gaz_fp, out, batch_id=0)
    # checkpoint reset: "batch 0" now carries consumed B plus new C
    with pytest.raises(ValueError, match="checkpoint"):
        append_kg_frames(
            spark, df_b.unionByName(df_c), gaz, gaz_fp, out, batch_id=0
        )
    # a true replay of just B stays a no-op
    append_kg_frames(spark, df_b, gaz, gaz_fp, out, batch_id=0)


def test_fresh_checkpoint_after_loss_recovers(spark, corpus_dir,
                                              tmp_path, thirds, base_kg):
    """Checkpoint loss is recoverable exactly as the guard's error
    advises: a FRESH checkpoint dir (its batch ids restart at 0, which
    the store never compares) pointed at an input dir holding only the
    un-ingested drop appends normally — while a fresh checkpoint over
    the ORIGINAL mixed input dir still fails safe on the overlap guard
    instead of double-appending."""
    from webstruct_spark.plans.pipeline import STAGES, build_kg
    from webstruct_spark.streaming.kg_ingest import ingest_transcripts_stream

    _corpus_a, df_b, df_c, gaz_path = thirds
    out = _copy(base_kg, tmp_path)

    drops1 = str(tmp_path / "drops1")
    df_b.repartition(1).write.mode("append").parquet(drops1)
    ckpt1 = str(tmp_path / "ckpt1")
    ingest_transcripts_stream(spark, drops1, out, gaz_path, ckpt1)

    # checkpoint lost; a new drop lands in the original input dir
    shutil.rmtree(ckpt1)
    df_c.repartition(1).write.mode("append").parquet(drops1)

    # fresh checkpoint over the mixed dir: its batch mixes consumed B
    # with new C -> overlap guard raises (wrapped by the stream)
    before = _manifest_state(out)
    with pytest.raises(Exception, match="shares conv_ids"):
        ingest_transcripts_stream(
            spark, drops1, out, gaz_path, str(tmp_path / "ckpt2")
        )
    assert _manifest_state(out) == before  # nothing landed

    # the documented recovery: fresh checkpoint + an input dir holding
    # ONLY the un-ingested files
    drops2 = str(tmp_path / "drops2")
    df_c.repartition(1).write.mode("append").parquet(drops2)
    ingest_transcripts_stream(
        spark, drops2, out, gaz_path, str(tmp_path / "ckpt3")
    )

    fresh = build_kg(spark, corpus_dir, str(tmp_path / "fresh"))
    for stage in STAGES:
        got = spark.read.parquet(os.path.join(out, stage))
        want = spark.read.parquet(fresh[stage])
        assert _none_safe_rows(got) == _none_safe_rows(want), stage

    # losing the checkpoint over an input dir that did NOT gain files
    # stays a no-op: the fresh stream's full-replay batch is skipped,
    # not crash-looped
    state = _manifest_state(out)
    ingest_transcripts_stream(
        spark, drops2, out, gaz_path, str(tmp_path / "ckpt4")
    )
    assert _manifest_state(out) == state


def test_ingest_before_first_drop_is_noop(spark, tmp_path, thirds, base_kg):
    """A scheduled ingest run that starts before any file landed must
    return without error."""
    from webstruct_spark.streaming.kg_ingest import ingest_transcripts_stream

    _corpus_a, _b, _c, gaz_path = thirds
    out = _copy(base_kg, tmp_path)
    q = ingest_transcripts_stream(
        spark, str(tmp_path / "no_drops_yet"), out, gaz_path,
        str(tmp_path / "ckpt"),
    )
    assert q is None


def test_ingest_input_dir_vanishing_mid_setup_is_noop(
    spark, tmp_path, thirds, base_kg, monkeypatch
):
    """A retention job can remove input_dir AFTER the existence
    listing but BEFORE the static schema peek; the scheduled ingest
    must take the same documented no-op path as the dir never having
    existed, not crash on the race."""
    from webstruct_spark.streaming import kg_ingest as KI

    _corpus_a, df_b, _c, gaz_path = thirds
    out = _copy(base_kg, tmp_path)
    input_dir = str(tmp_path / "drops")
    df_b.repartition(1).write.parquet(input_dir)

    real = KI.fsio.listdir_if_exists
    calls = {"n": 0}

    def racy(spark_, d):
        listing = real(spark_, d)
        calls["n"] += 1
        if calls["n"] == 1 and d == input_dir:
            shutil.rmtree(input_dir)  # retention wins the race
        return listing

    monkeypatch.setattr(KI.fsio, "listdir_if_exists", racy)
    q = KI.ingest_transcripts_stream(
        spark, input_dir, out, gaz_path, str(tmp_path / "ckpt")
    )
    assert q is None
    assert calls["n"] >= 2  # the no-op path re-checked, not guessed


def test_crashed_append_commit_is_replay_safe(spark, tmp_path, thirds, base_kg,
                                              monkeypatch):
    """The window where every stage's files have landed but the driver
    dies before the snapshot commit.  Nothing is visible: the base
    reads as before, and the stream's replay of the same batch applies
    it fully, matching a never-crashed twin row-for-row."""
    from tests.conftest import current_snapshot, unreferenced_files
    from webstruct_spark.plans.manifest import table_fingerprint
    from webstruct_spark.plans.pipeline import append_kg_frames

    _corpus_a, df_b, _df_c, gaz_path = thirds
    out = _copy(base_kg, tmp_path)
    gaz = spark.read.parquet(gaz_path)
    gaz_fp = table_fingerprint(gaz_path)
    snap0 = current_snapshot(out)

    def batch():
        append_kg_frames(spark, df_b, gaz, gaz_fp, out, batch_id=0)

    kill_kg_at(monkeypatch, batch, "commit")
    assert current_snapshot(out) == snap0
    assert unreferenced_files(out)  # the landed, unpublished files

    batch()  # the replay applies it

    twin = _copy(base_kg, tmp_path, "twin")
    append_kg_frames(spark, df_b, gaz, gaz_fp, twin, batch_id=0)
    _assert_equal_stores(spark, out, twin)
    assert unreferenced_files(out) == []
    assert current_snapshot(out)["stages"]["extracted"]["rows_out"] == (
        spark.read.parquet(os.path.join(out, "extracted")).count()
    )


@pytest.mark.parametrize("die_at", ["mentions", "nodes", "edges"])
def test_mid_dag_crash_resumes_on_replay(spark, tmp_path, thirds, base_kg,
                                         monkeypatch, die_at):
    """A run killed in the middle of its DAG, after some stages' files
    landed, leaves the base as it was; replaying the exact batch
    applies it in full (row-identity with a never-crashed twin), and a
    further replay is a pure no-op."""
    from tests.conftest import current_snapshot
    from webstruct_spark.plans.manifest import table_fingerprint
    from webstruct_spark.plans.pipeline import append_kg_frames

    _corpus_a, df_b, _df_c, gaz_path = thirds
    out = _copy(base_kg, tmp_path)
    gaz = spark.read.parquet(gaz_path)
    gaz_fp = table_fingerprint(gaz_path)
    snap0 = current_snapshot(out)

    def batch():
        append_kg_frames(spark, df_b, gaz, gaz_fp, out, batch_id=0)

    kill_kg_at(monkeypatch, batch, die_at)
    assert current_snapshot(out) == snap0

    batch()

    twin = _copy(base_kg, tmp_path, "twin")
    append_kg_frames(spark, df_b, gaz, gaz_fp, twin, batch_id=0)
    _assert_equal_stores(spark, out, twin)

    # and the batch is now sealed: a further replay is a pure no-op
    state = _manifest_state(out)
    batch()
    assert _manifest_state(out) == state


def test_reused_batch_number_with_new_conversations_applies(
        spark, tmp_path, thirds, base_kg, monkeypatch):
    """Batch numbers say nothing about what the store holds: every new
    checkpoint restarts them at 0.  After B was streamed as batch 0, a
    batch 0 of another checkpoint carrying only new conversations (C)
    is appended — and when it is killed mid-DAG, replaying it applies
    it in full, equal to a never-crashed twin."""
    from tests.conftest import current_snapshot
    from webstruct_spark.plans.manifest import table_fingerprint
    from webstruct_spark.plans.pipeline import append_kg_frames

    _corpus_a, df_b, df_c, gaz_path = thirds
    out = _copy(base_kg, tmp_path)
    gaz = spark.read.parquet(gaz_path)
    gaz_fp = table_fingerprint(gaz_path)

    append_kg_frames(spark, df_b, gaz, gaz_fp, out, batch_id=0)

    def batch():
        append_kg_frames(spark, df_c, gaz, gaz_fp, out, batch_id=0)

    kill_kg_at(monkeypatch, batch, "groups")
    batch()

    twin = _copy(base_kg, tmp_path, "twin")
    append_kg_frames(spark, df_b, gaz, gaz_fp, twin, batch_id=0)
    append_kg_frames(spark, df_c, gaz, gaz_fp, twin, batch_id=0)
    _assert_equal_stores(spark, out, twin)
    assert current_snapshot(out)["stream_batch_id"] == 0


def test_torn_resume_rejects_already_ingested_convs(spark, tmp_path,
                                                    thirds, base_kg,
                                                    monkeypatch):
    """A wrong "replay" of a crashed batch whose ROW COUNT matches but
    whose conversations are already-ingested base ones must not
    duplicate base rows: every conversation is already ingested, so
    the streamed batch is skipped without a write."""
    from webstruct_spark.plans.manifest import table_fingerprint
    from webstruct_spark.plans.pipeline import append_kg_frames

    corpus_a, df_b, _df_c, gaz_path = thirds
    out = _copy(base_kg, tmp_path)
    gaz = spark.read.parquet(gaz_path)
    gaz_fp = table_fingerprint(gaz_path)
    rows = spark.read.parquet(os.path.join(out, "extracted")).count()

    kill_kg_at(monkeypatch, lambda: append_kg_frames(
        spark, df_b, gaz, gaz_fp, out, batch_id=0
    ), "mentions")

    # same row count as the crashed batch, but base conversations
    n = df_b.count()
    base_rows = spark.read.parquet(
        os.path.join(corpus_a, "transcripts.parquet")
    ).orderBy("conv_id", "turn_idx").limit(n)
    assert base_rows.count() == n
    state = _manifest_state(out)
    append_kg_frames(spark, base_rows, gaz, gaz_fp, out, batch_id=0)
    assert _manifest_state(out) == state
    assert spark.read.parquet(
        os.path.join(out, "extracted")
    ).count() == rows


def test_kg_status_healthy_and_crashed(spark, tmp_path, thirds, base_kg,
                                       monkeypatch):
    """kg_status reports a healthy build as committed/untorn, reports
    a crashed append's store exactly as before the append WITHOUT
    mutating anything, and shows the batch's stamps after the replay
    applies it."""
    from tests.conftest import unreferenced_files
    from webstruct_spark.plans.manifest import table_fingerprint
    from webstruct_spark.plans.pipeline import (
        STAGES, append_kg_frames, kg_status,
    )

    _corpus_a, df_b, _df_c, gaz_path = thirds
    out = _copy(base_kg, tmp_path)

    healthy = kg_status(spark, out)
    assert not healthy["torn"] and not healthy["pending_intents"]
    assert healthy["building"] == []
    for s in STAGES:
        assert healthy["stages"][s]["committed"], s

    gaz = spark.read.parquet(gaz_path)
    gaz_fp = table_fingerprint(gaz_path)

    def batch():
        append_kg_frames(spark, df_b, gaz, gaz_fp, out, batch_id=0)

    kill_kg_at(monkeypatch, batch, "mentions")
    left = unreferenced_files(out)
    assert left  # the crashed batch's extracted files
    assert kg_status(spark, out) == healthy
    assert unreferenced_files(out) == left  # read-only

    batch()
    st = kg_status(spark, out)
    assert not st["torn"] and not st["pending_intents"]
    assert st["stream_batch_id"] == 0
    assert all(st["stages"][s]["committed"] for s in STAGES)


def _file_backed(tmp_path, name, df, gaz_path):
    d = str(tmp_path / name)
    os.makedirs(d)
    df.write.parquet(os.path.join(d, "transcripts.parquet"))
    dst = os.path.join(d, "gazetteer.parquet")
    if os.path.isdir(gaz_path):
        shutil.copytree(gaz_path, dst)
    else:
        shutil.copy(gaz_path, dst)
    return d


def test_plain_append_crash_resumes_on_rerun(spark, tmp_path, thirds, base_kg,
                                             monkeypatch):
    """A crashed PLAIN append (append_kg / --append: no batch id) is
    recovered by re-running the SAME call."""
    from webstruct_spark.plans.pipeline import append_kg

    _corpus_a, df_b, _df_c, gaz_path = thirds
    corpus_b = _file_backed(tmp_path, "corpus_b", df_b, gaz_path)

    out = _copy(base_kg, tmp_path)
    kill_kg_at(monkeypatch, lambda: append_kg(spark, corpus_b, out),
                 "group_entities")
    append_kg(spark, corpus_b, out)  # the documented recovery

    twin = _copy(base_kg, tmp_path, "twin")
    append_kg(spark, corpus_b, twin)
    _assert_equal_stores(spark, out, twin)


def test_plain_append_crash_after_final_commit_is_noop_retry(
        spark, tmp_path, thirds, base_kg, monkeypatch):
    """A plain --append that crashed AFTER its commit (in the GC that
    follows it) must be recoverable by the documented re-run: the
    snapshot's delta_fp proves the last applied delta was exactly this
    one, so the retry is a no-op — not the 'de-duplicate the delta
    first' error — and its entry GC finishes the interrupted one.  A
    retry with a DIFFERENT file-backed fp must still raise."""
    from tests.conftest import current_snapshot, unreferenced_files
    from webstruct_spark.plans.manifest import table_fingerprint
    from webstruct_spark.plans.pipeline import STAGES, append_kg_frames

    _corpus_a, df_b, _df_c, gaz_path = thirds
    out = _copy(base_kg, tmp_path)
    gaz = spark.read.parquet(gaz_path)
    gaz_fp = table_fingerprint(gaz_path)

    delta_fp = {"rows": df_b.count(), "bytes": 4242, "n_files": 2}
    kill_kg_at(monkeypatch, lambda: append_kg_frames(
        spark, df_b, gaz, gaz_fp, out, delta_transcripts_fp=delta_fp
    ), "gc")
    committed = current_snapshot(out)

    # the crash-after-commit retry: same call, same delta
    append_kg_frames(
        spark, df_b, gaz, gaz_fp, out, delta_transcripts_fp=delta_fp
    )
    assert current_snapshot(out) == committed  # true no-op
    assert unreferenced_files(out) == []
    twin = _copy(base_kg, tmp_path, "twin")
    append_kg_frames(
        spark, df_b, gaz, gaz_fp, twin, delta_transcripts_fp=delta_fp
    )
    for s in STAGES:
        assert spark.read.parquet(os.path.join(out, s)).count() == (
            spark.read.parquet(os.path.join(twin, s)).count()
        ), s

    # a different delta fp (not what the base last applied) with the
    # same conversations is NOT provably applied — still refused
    other_fp = {"rows": df_b.count(), "bytes": 9999, "n_files": 5}
    with pytest.raises(ValueError, match="de-duplicate"):
        append_kg_frames(
            spark, df_b, gaz, gaz_fp, out, delta_transcripts_fp=other_fp
        )


def test_kg_status_uses_guard_committed_predicate(spark, tmp_path, thirds,
                                                  base_kg,
                                                  monkeypatch):
    """--status classifies stages with the SAME predicate the append
    guard uses: a stage entry of another layout is not committed, and
    the next --append refuses it as missing.  A build killed before it
    published anything reports every stage uncommitted and names the
    stages it staged."""
    import json

    from tests.conftest import current_snapshot
    from webstruct_spark.plans import pipeline
    from webstruct_spark.plans.manifest import table_fingerprint
    from webstruct_spark.plans.pipeline import (
        STAGES, append_kg_frames, kg_status,
    )

    corpus_a, df_b, _df_c, gaz_path = thirds
    out = _copy(base_kg, tmp_path)
    snap = current_snapshot(out)
    snap["stages"]["nodes"]["layout"] = "~older-layout~"
    with open(os.path.join(out, "_snapshots",
                           "snap-%d.json" % snap["id"]), "w") as f:
        json.dump(snap, f)
    info = kg_status(spark, out)["stages"]["nodes"]
    assert not info["committed"] and info["layout"] == "~older-layout~"
    gaz = spark.read.parquet(gaz_path)
    with pytest.raises(ValueError, match="missing stages: nodes"):
        append_kg_frames(spark, df_b, gaz, table_fingerprint(gaz_path),
                         out)

    killed = str(tmp_path / "kg2")
    kill_kg_at(monkeypatch, lambda: pipeline.build_kg(
        spark, corpus_a, killed, stage_concurrency=1), "group_entities")
    st = kg_status(spark, killed)
    assert not any(st["stages"][s]["committed"] for s in STAGES)
    assert st["building"] == ["extracted", "mentions"]


def test_append_retry_after_mid_overwrite_crash(
        spark, tmp_path, thirds, base_kg, monkeypatch):
    """An append killed while links was being rewritten (a partial
    links write beside the published files) is recovered by the
    documented re-run."""
    from webstruct_spark.plans.manifest import table_fingerprint
    from webstruct_spark.plans.pipeline import append_kg_frames

    _corpus_a, df_b, _df_c, gaz_path = thirds
    out = _copy(base_kg, tmp_path)
    twin = _copy(base_kg, tmp_path, "twin")
    gaz = spark.read.parquet(gaz_path)
    gaz_fp = table_fingerprint(gaz_path)
    delta_fp = {"rows": df_b.count(), "bytes": 555, "n_files": 1}

    def append(d):
        append_kg_frames(
            spark, df_b, gaz, gaz_fp, d, delta_transcripts_fp=delta_fp
        )

    kill_kg_at(monkeypatch, lambda: append(out), "links")
    links = os.path.join(out, "links")
    part = sorted(n for n in os.listdir(links) if n.endswith(".parquet"))[0]
    shutil.copy(os.path.join(links, part),
                os.path.join(links, "part-99999-killed.snappy.parquet"))

    append(out)  # the documented recovery: same call, same delta
    append(twin)
    _assert_equal_stores(spark, out, twin)


def test_kg_status_legacy_fpless_record_not_torn(spark, tmp_path, thirds,
                                                 base_kg):
    """A store written before the snapshot log (manifest.d records,
    stage dirs, no _snapshots) reads as never built — every stage
    uncommitted, nothing torn or pending — and the append refusal
    names build_kg, so the status tool and the guard agree."""
    from webstruct_spark.plans.manifest import table_fingerprint
    from webstruct_spark.plans.pipeline import (
        STAGES, append_kg_frames, kg_status,
    )

    _corpus_a, df_b, _df_c, gaz_path = thirds
    out = _copy(base_kg, tmp_path)
    shutil.rmtree(os.path.join(out, "_snapshots"))
    os.makedirs(os.path.join(out, "manifest.d"))

    st = kg_status(spark, out)
    assert not st["torn"] and not st["pending_intents"]
    assert st["snapshot"] is None
    assert not any(st["stages"][s]["committed"] for s in STAGES)
    gaz = spark.read.parquet(gaz_path)
    with pytest.raises(ValueError, match="build_kg"):
        append_kg_frames(spark, df_b, gaz, table_fingerprint(gaz_path),
                         out)


def test_kg_status_reports_conv_ids_side_table(spark, tmp_path, thirds,
                                               base_kg):
    """--status surfaces the _conv_ids side table: one row per
    ingested conversation after a build, nothing on a never-built
    dir."""
    from webstruct_spark.plans.pipeline import kg_status

    corpus_a, _df_b, _df_c, _gaz = thirds
    out = _copy(base_kg, tmp_path)

    side = kg_status(spark, out)["conv_ids"]
    assert side["n_files"] > 0
    assert side["rows"] == spark.read.parquet(
        os.path.join(corpus_a, "transcripts.parquet")
    ).select("conv_id").distinct().count()

    missing = kg_status(spark, str(tmp_path / "nope"))["conv_ids"]
    assert missing == {"n_files": 0, "rows": 0}


def test_noop_retry_rebuilds_missing_global_stage(spark, tmp_path, thirds,
                                                  base_kg,
                                                  monkeypatch):
    """A fully-applied retry that exits through a no-op fast path must
    still settle the store: after an append killed in the GC that
    follows its commit, the global stage dirs hold the old and the new
    files; the retry's entry GC leaves exactly the listed ones."""
    from tests.conftest import unreferenced_files
    from webstruct_spark.plans.manifest import table_fingerprint
    from webstruct_spark.plans.pipeline import append_kg_frames

    _corpus_a, df_b, _df_c, gaz_path = thirds
    out = _copy(base_kg, tmp_path)
    twin = _copy(base_kg, tmp_path, "twin")
    gaz = spark.read.parquet(gaz_path)
    gaz_fp = table_fingerprint(gaz_path)
    delta_fp = {"rows": df_b.count(), "bytes": 321, "n_files": 1}

    def append(d):
        append_kg_frames(
            spark, df_b, gaz, gaz_fp, d, delta_transcripts_fp=delta_fp
        )

    kill_kg_at(monkeypatch, lambda: append(out), "gc")
    assert any(p.startswith("edges/") for p in unreferenced_files(out))

    append(out)  # the fully-applied fast path
    append(twin)
    assert unreferenced_files(out) == []
    _assert_equal_stores(spark, out, twin)


def test_streamed_replay_skip_rebuilds_missing_global(spark, tmp_path,
                                                      thirds, base_kg,
                                                      monkeypatch):
    """The streamed twin of the same window: a replayed
    already-committed batch is skipped as applied, and its entry GC
    removes the files the killed GC left behind."""
    from tests.conftest import current_snapshot, unreferenced_files
    from webstruct_spark.plans.manifest import table_fingerprint
    from webstruct_spark.plans.pipeline import append_kg_frames

    _corpus_a, df_b, _df_c, gaz_path = thirds
    out = _copy(base_kg, tmp_path)
    twin = _copy(base_kg, tmp_path, "twin")
    gaz = spark.read.parquet(gaz_path)
    gaz_fp = table_fingerprint(gaz_path)

    def batch(d):
        append_kg_frames(spark, df_b, gaz, gaz_fp, d, batch_id=0)

    kill_kg_at(monkeypatch, lambda: batch(out), "gc")
    assert any(p.startswith("links/") for p in unreferenced_files(out))
    committed = current_snapshot(out)
    batch(out)  # skipped as applied
    assert current_snapshot(out) == committed
    assert unreferenced_files(out) == []
    batch(twin)
    _assert_equal_stores(spark, out, twin)


def test_kg_status_never_creates_dirs(spark, tmp_path):
    """--status on a nonexistent / typo'd out_dir must not leave a
    plausible-looking empty build dir behind."""
    from webstruct_spark.plans.pipeline import STAGES, kg_status

    missing = str(tmp_path / "no_such_build")
    st = kg_status(spark, missing)
    assert not os.path.exists(missing)
    assert not st["torn"] and not st["pending_intents"]
    assert all(not st["stages"][s]["committed"] for s in STAGES)


def test_overwrite_intent_pre_write_crash_keeps_stage(spark, tmp_path,
                                                      thirds, base_kg,
                                                      monkeypatch):
    """A rebuild over a live store killed before its first stage write
    leaves every published stage as it was: kg_status, the stage
    files and the data are unchanged."""
    from tests.conftest import current_snapshot
    from webstruct_spark.plans import pipeline
    from webstruct_spark.plans.pipeline import STAGES, kg_status

    corpus_a, _df_b, _df_c, _gaz = thirds
    out = _copy(base_kg, tmp_path)
    st0 = kg_status(spark, out)
    snap0 = current_snapshot(out)
    rows0 = {
        s: _none_safe_rows(spark.read.parquet(os.path.join(out, s)))
        for s in STAGES
    }
    kill_kg_at(monkeypatch, lambda: pipeline.build_kg(
        spark, corpus_a, out, resume=False, stage_concurrency=1),
        "extracted")
    assert kg_status(spark, out) == st0
    assert current_snapshot(out) == snap0
    for s in STAGES:
        got = spark.read.parquet(os.path.join(out, s))
        assert _none_safe_rows(got) == rows0[s], s


def test_pre_write_overwrite_crash_does_not_destroy_base(
        spark, tmp_path, thirds, base_kg, monkeypatch):
    """A rebuild over a DIFFERENT corpus dies after staging its first
    stages.  The out_dir still serves the fully intact corpus-A build;
    abandoning the rebuild and appending to the corpus-A base works,
    and drops the abandoned staged stages."""
    from tests.conftest import current_snapshot, unreferenced_files
    from webstruct_spark.plans import pipeline
    from webstruct_spark.plans.manifest import table_fingerprint
    from webstruct_spark.plans.pipeline import append_kg_frames

    _corpus_a, df_b, df_c, gaz_path = thirds
    corpus_c = _file_backed(tmp_path, "corpus_c", df_c, gaz_path)
    out = _copy(base_kg, tmp_path)
    twin = _copy(base_kg, tmp_path, "twin")
    gaz = spark.read.parquet(gaz_path)
    gaz_fp = table_fingerprint(gaz_path)
    delta_fp = {"rows": df_b.count(), "bytes": 777, "n_files": 1}

    kill_kg_at(monkeypatch, lambda: pipeline.build_kg(
        spark, corpus_c, out, stage_concurrency=1), "group_entities")
    assert set(current_snapshot(out)["building"]) == {
        "extracted", "mentions"
    }

    for d in (out, twin):
        append_kg_frames(
            spark, df_b, gaz, gaz_fp, d, delta_transcripts_fp=delta_fp
        )
    _assert_equal_stores(spark, out, twin)
    assert current_snapshot(out)["building"] == {}
    assert unreferenced_files(out) == []


def test_append_refuses_drifted_gazetteer_when_all_globals_missing(
        spark, tmp_path, thirds, base_kg, monkeypatch):
    """After an append killed while it rewrote the global stages, the
    gazetteer-drift refusal still anchors on the base's committed
    identity — a retry with a drifted gazetteer is refused before
    anything is written.  With the base's own gazetteer the same
    append succeeds."""
    from tests.conftest import current_snapshot
    from webstruct_spark.plans.manifest import table_fingerprint
    from webstruct_spark.plans.pipeline import append_kg_frames
    from webstruct_spark.sources.gazshrink import shrink_gazetteer

    _corpus_a, df_b, _df_c, gaz_path = thirds
    out = _copy(base_kg, tmp_path)
    twin = _copy(base_kg, tmp_path, "twin")
    gaz = spark.read.parquet(gaz_path)
    gaz_fp = table_fingerprint(gaz_path)

    def append(d, g, fp):
        append_kg_frames(spark, df_b, g, fp, d, batch_id=0)

    kill_kg_at(monkeypatch, lambda: append(out, gaz, gaz_fp), "edges")
    drifted = str(tmp_path / "gaz_drifted.parquet")
    shrink_gazetteer(gaz).repartition(1).write.parquet(drifted)
    snap = current_snapshot(out)
    with pytest.raises(ValueError, match="gazetteer differs"):
        append(out, spark.read.parquet(drifted),
               table_fingerprint(drifted))
    assert current_snapshot(out) == snap

    append(out, gaz, gaz_fp)
    append(twin, gaz, gaz_fp)
    _assert_equal_stores(spark, out, twin)


def test_refused_append_leaves_no_manifest_dir(spark, tmp_path, thirds):
    """An append or refresh against a typo'd / never-built out_dir
    must refuse WITHOUT creating anything there — otherwise the bogus
    path later inspects as a plausible empty build."""
    from webstruct_spark.plans.manifest import table_fingerprint
    from webstruct_spark.plans.pipeline import (
        append_kg_frames, refresh_gazetteer,
    )

    _corpus_a, df_b, _df_c, gaz_path = thirds
    gaz = spark.read.parquet(gaz_path)
    gaz_fp = table_fingerprint(gaz_path)

    typo = str(tmp_path / "kg_buidl")
    with pytest.raises(ValueError, match="build_kg"):
        append_kg_frames(spark, df_b, gaz, gaz_fp, typo)
    assert not os.path.exists(typo)

    with pytest.raises(ValueError, match="build_kg"):
        refresh_gazetteer(spark, gaz, gaz_fp, typo)
    assert not os.path.exists(typo)


def test_ingest_input_dir_emptied_mid_setup_is_noop(
    spark, tmp_path, thirds, base_kg, monkeypatch
):
    """The other retention shape: the job deletes the parquet FILES
    but leaves input_dir in place.  The schema peek then raises
    UNABLE_TO_INFER_SCHEMA with the dir still present, and recovery
    must mirror the ENTRY condition (dir absent OR no *.parquet), not
    just dir-gone — otherwise exactly the race the guard documents
    still crashes the scheduled ingest."""
    from webstruct_spark.streaming import kg_ingest as KI

    _corpus_a, df_b, _c, gaz_path = thirds
    out = _copy(base_kg, tmp_path)
    input_dir = str(tmp_path / "drops")
    df_b.repartition(1).write.parquet(input_dir)

    real = KI.fsio.listdir_if_exists
    calls = {"n": 0}

    def racy(spark_, d):
        listing = real(spark_, d)
        calls["n"] += 1
        if calls["n"] == 1 and d == input_dir:
            for name in os.listdir(input_dir):  # files only, dir stays
                os.unlink(os.path.join(input_dir, name))
        return listing

    monkeypatch.setattr(KI.fsio, "listdir_if_exists", racy)
    q = KI.ingest_transcripts_stream(
        spark, input_dir, out, gaz_path, str(tmp_path / "ckpt")
    )
    assert q is None
    assert calls["n"] >= 2  # recovery re-listed and saw no parquet

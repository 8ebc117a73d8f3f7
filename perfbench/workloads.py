# -*- coding: utf-8 -*-
"""The three workloads.  Each is a closed loop with one client: an
operation starts only after the previous one finished.  ``setup`` is
the first Python-worker pass of a new session (run.py repeats session
start + ``setup`` and reports the median as ``setup_s``); ``prepare``
then warms up once and builds the state the measured operations need,
``measure`` repeats the workload's
operations until the run's time is up, ``verify`` runs the checks that
must stay outside the timed region.  Every operation's output is
checked; an operation that raises or fails its check counts as failed.
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import time
import traceback
from typing import Callable, Dict, List, Optional

import pandas as pd
import pyarrow.parquet as pq

from webstruct_spark.operators.domain_cv import (
    conv_domains_from_pages,
    domain_group_kfold_eval,
    with_fold,
)
from webstruct_spark.operators.extract import mentions
from webstruct_spark.plans.compaction import compact_kg
from webstruct_spark.plans.manifest import table_fingerprint
from webstruct_spark.plans.pipeline import (
    build_kg,
    check_kg_links,
    kg_status,
    refresh_gazetteer,
)
from webstruct_spark.streaming.kg_ingest import ingest_transcripts_stream

import gen
from harvest import median

GOLD_COLS = ["conv_id", "turn_idx", "mention_idx", "text", "entity_type"]
CV_K = 3
COMPACT_EVERY = 3  # compact after every 3rd drop
FIRST_PASS_TURNS = 2  # turns per base conversation the set-up extracts
MAX_FAILED = 3  # a run stops measuring after this many failed operations


class CheckFailed(Exception):
    pass


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def table_hash(path: str, cols: Optional[List[str]] = None) -> tuple:
    """(rows, wrapping sum of per-row hashes) of a parquet table or a
    Spark output dir, read in this process: equal for equal row
    multisets, whatever the file layout or row order."""
    df = pq.read_table(path, columns=cols).to_pandas()
    df = df[sorted(df.columns)].astype(str)
    return len(df), int(pd.util.hash_pandas_object(df, index=False).sum())


def n_rows(path: str) -> int:
    return pq.read_metadata(path).num_rows


class Workload:
    """Shared closed-loop bookkeeping."""

    primary = ""  # span name of the operation op_s_p50 is the median of

    def __init__(self, tracer, data: str, scratch: str):
        self.spark = None  # set by run.py before each set-up
        self.tracer = tracer
        self.data = data
        self.scratch = scratch
        self.attempted = 0
        self.failed = 0
        self.op_s: List[float] = []  # primary operation times
        self.op_turns: List[int] = []  # turns through each of them
        self.read_s: List[float] = []  # status reads after each of them
        self.extra: Dict[str, float] = {}
        self.base = os.path.join(data, "base")
        self._gold: Dict[str, tuple] = {}

    def run_op(self, fn: Callable[[], None]) -> bool:
        """Run one checked operation; count it, and its failure."""
        self.attempted += 1
        try:
            fn()
            return True
        except Exception:  # reported and counted; the loop goes on
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return False

    def timed(self, name: str, fn, **span_kw) -> float:
        with self.tracer.span(name, **span_kw) as sp:
            sp.result = fn(sp)
        self.last = sp
        return sp.wall

    def _build(self, corpus: str, out: str) -> float:
        """One fresh ``build_kg`` of ``corpus`` into ``out``; its mentions
        must equal the generator's gold mentions."""
        shutil.rmtree(out, ignore_errors=True)  # the previous build
        tx_path = os.path.join(corpus, "transcripts.parquet")
        dt = self.timed("build_kg", lambda sp: build_kg(self.spark, corpus, out),
                        out_dir=out, input_bytes=os.path.getsize(tx_path))
        if corpus not in self._gold:
            self._gold[corpus] = table_hash(os.path.join(
                corpus, "gold_mentions.parquet"), GOLD_COLS)
        check(table_hash(os.path.join(out, "mentions"), GOLD_COLS)
              == self._gold[corpus], "mentions differ from the generator's gold")
        return dt

    def _status(self, out: str) -> None:
        """The read a user runs after a write: ``kg_status`` and
        ``check_kg_links``; healthy means every stage committed, nothing
        torn or pending, and no uncovered triple endpoint."""
        def read(sp):
            return kg_status(self.spark, out), check_kg_links(self.spark, out)

        dt = self.timed("kg_status+check_kg_links", read, out_dir=out)
        st, links = self.last.result
        check(all(s["committed"] for s in st["stages"].values()), "uncommitted stage")
        check(not st["torn"] and not st["pending_intents"], "torn or pending state")
        check(links["audited"] and links["uncovered"] == 0, "uncovered triple endpoints")
        self.read_s.append(dt)

    def setup(self) -> None:
        """The first Python-worker pass of a new session: extract over the
        first turns of each base conversation, which must find every gold
        mention there."""
        def first_pass() -> None:
            tx = self.spark.read.parquet(os.path.join(self.base, "transcripts.parquet"))
            self.timed("first_pass", lambda sp: mentions(
                tx.where(tx.turn_idx < FIRST_PASS_TURNS)).count())
            gold = pq.read_table(os.path.join(self.base, "gold_mentions.parquet"),
                                 columns=["turn_idx"]).column(0).to_pylist()
            check(self.last.result == sum(t < FIRST_PASS_TURNS for t in gold),
                  "first pass missed mentions")

        check(self.run_op(first_pass), "set-up failed")

    def prepare(self) -> None:
        """Warm-up, once per run, outside every metric: a checked build of
        the base corpus into ``base-kg``, which warms every stage of
        ``build_kg``; the ingest drops go into it."""
        self.base_out = os.path.join(self.scratch, "base-kg")
        check(self.run_op(lambda: self._build(self.base, self.base_out)),
              "warm-up build failed")

    def step(self) -> None:
        raise NotImplementedError

    def replay_sample(self) -> List[str]:
        """The turns the kernel replays run on: the workload's own."""
        return pq.read_table(self.tx_path, columns=["text"]).column(0).to_pylist()

    def finish(self) -> None:
        """Last measured operations, after the time is up."""

    def verify(self) -> None:
        """Checks kept outside the timed region."""

    def measure(self, seconds: float, min_ops: int) -> None:
        deadline = time.time() + seconds
        while (time.time() < deadline or len(self.op_s) < min_ops) \
                and self.failed < MAX_FAILED:
            self.step()
        self.finish()


class Build(Workload):
    """One fresh ``build_kg`` per repetition, each into a new output dir,
    each followed by a status read."""

    primary = "build_kg"

    def __init__(self, *args):
        super().__init__(*args)
        self.corpus = os.path.join(self.data, "build")
        self.tx_path = os.path.join(self.corpus, "transcripts.parquet")
        self.n_turns = n_rows(self.tx_path)
        self.out = os.path.join(self.scratch, "kg")
        self.ref = None

    def _build_step(self) -> None:
        dt = self._build(self.corpus, self.out)
        hashes = {s: table_hash(os.path.join(self.out, s))
                  for s in ("triples", "nodes", "edges")}
        self.ref = self.ref or hashes
        check(hashes == self.ref, "triples/nodes/edges changed between builds")
        self.op_s.append(dt)
        self.op_turns.append(self.n_turns)

    def step(self) -> None:
        if self.run_op(self._build_step):
            self.run_op(lambda: self._status(self.out))


class Ingest(Workload):
    """A base build, then conversation-complete drops through the
    availableNow stream, each followed by a status read; a compaction
    after every ``COMPACT_EVERY``-th drop; one gazetteer refresh last."""

    primary = "ingest_transcripts_stream"

    def __init__(self, *args):
        super().__init__(*args)
        self.gaz = os.path.join(self.base, "gazetteer.parquet")
        self.inbox = os.path.join(self.scratch, "inbox")
        self.ckpt = os.path.join(self.scratch, "ckpt")
        self.compact_s: List[float] = []
        self.refresh_s: List[float] = []
        self.drops = 0
        self.replay_texts: List[str] = []

    def prepare(self) -> None:
        os.makedirs(self.inbox)
        super().prepare()
        self.out = self.base_out

    def _drop(self) -> None:
        src = gen.drop_path(self.data, self.drops)
        dst = os.path.join(self.inbox, os.path.basename(src))
        shutil.copyfile(src, os.path.join(self.inbox, ".landing"))
        os.rename(os.path.join(self.inbox, ".landing"), dst)  # the drop lands
        self.drops += 1
        n = n_rows(dst)

        def ingest(sp):
            sp.query = ingest_transcripts_stream(
                self.spark, self.inbox, self.out, self.gaz, self.ckpt)
            return sp.query

        dt = self.timed("ingest_transcripts_stream", ingest,
                        out_dir=self.out, input_bytes=os.path.getsize(dst))
        q = self.last.result
        check(q is not None and q.exception() is None, "stream did not run")
        rows = sum(p.get("numInputRows", 0) for p in q.recentProgress)
        check(rows == n, "stream consumed %d rows of a %d-row drop" % (rows, n))
        self.op_s.append(dt)
        self.op_turns.append(n)
        self.replay_texts += pq.read_table(dst, columns=["text"]).column(0).to_pylist()

    def _compact(self) -> None:
        dt = self.timed("compact_kg", lambda sp: compact_kg(self.spark, self.out),
                        out_dir=self.out)
        res = self.last.result
        check(all(r["n_files_after"] <= r["n_files_before"] for r in res.values()),
              "compaction added files")
        self.compact_s.append(dt)

    def _refresh(self) -> None:
        shrunk = os.path.join(self.data, "gaz_shrunk", "gazetteer.parquet")
        dt = self.timed("refresh_gazetteer", lambda sp: refresh_gazetteer(
            self.spark, self.spark.read.parquet(shrunk),
            table_fingerprint(shrunk), self.out), out_dir=self.out)
        self.refresh_s.append(dt)

    def step(self) -> None:
        if self.run_op(self._drop):
            self.run_op(lambda: self._status(self.out))
            if self.drops % COMPACT_EVERY == 0:
                self.run_op(self._compact)

    def finish(self) -> None:
        self.run_op(self._refresh)
        self.extra = {
            "ingest.compact_s": median(self.compact_s),
            "ingest.refresh_s": median(self.refresh_s),
        }

    def verify(self) -> None:
        """append_kg's contract: the ingested KG is row-identical to a
        fresh build over the union corpus (here with the refreshed
        gazetteer, so the refresh is checked too)."""
        def union_equal() -> None:
            union = gen.write_union(
                self.data, self.drops,
                os.path.join(self.data, "gaz_shrunk", "gazetteer.parquet"),
                os.path.join(self.scratch, "union"))
            fresh = os.path.join(self.scratch, "fresh")
            build_kg(self.spark, union, fresh)
            for s in ("mentions", "triples", "links", "nodes", "edges"):
                check(table_hash(os.path.join(self.out, s))
                      == table_hash(os.path.join(fresh, s)),
                      "stage %s differs from a fresh build of the union" % s)

        self.run_op(union_equal)

    def replay_sample(self) -> List[str]:
        return self.replay_texts


class TrainCV(Workload):
    """Domain-grouped k-fold CV of the distributed CRF trainer."""

    primary = "domain_group_kfold_eval"

    def __init__(self, *args):
        super().__init__(*args)
        self.corpus = os.path.join(self.data, "build")
        self.tx_path = os.path.join(self.corpus, "transcripts.parquet")
        self.n_turns = n_rows(self.tx_path)
        self.ref = None

    def prepare(self) -> None:
        super().prepare()
        self.turns_df = self.spark.read.parquet(self.tx_path)
        self.pages = self.spark.read.parquet(
            os.path.join(self.corpus, "html_pages.parquet"))

    def expected(self) -> Dict[int, tuple]:
        """fold -> (n_convs, n_gold) from the generator's gold mentions and
        the grouped fold of each conversation's domain."""
        cd = conv_domains_from_pages(self.turns_df, self.pages)
        fold_of = {r["conv_id"]: r["fold"] for r in with_fold(cd, CV_K).collect()}
        n_convs: Dict[int, int] = {}
        for f in fold_of.values():
            n_convs[f] = n_convs.get(f, 0) + 1
        gold = {
            (fold_of[r["conv_id"]], r["conv_id"], r["turn_idx"], r["text"],
             r["entity_type"])
            for r in pq.read_table(os.path.join(
                self.corpus, "gold_mentions.parquet")).to_pylist()
            if r["conv_id"] in fold_of
        }
        n_gold: Dict[int, int] = {}
        for g in gold:
            n_gold[g[0]] = n_gold.get(g[0], 0) + 1
        return {f: (n_convs[f], n_gold.get(f, 0)) for f in n_convs}

    def _cv(self) -> None:
        def cv(sp):
            cd = conv_domains_from_pages(self.turns_df, self.pages)
            return domain_group_kfold_eval(
                self.turns_df, cd, k=CV_K,
                n_parts=self.spark.sparkContext.defaultParallelism,
            ).collect()

        dt = self.timed("domain_group_kfold_eval", cv)
        rows = [tuple(r) for r in self.last.result]
        if self.ref is None:
            exp = self.expected()
            check(sorted(exp) == [r[0] for r in rows], "populated folds differ")
            for fold, n_convs, tp, n_pred, n_gold, _p, _r, f1 in rows:
                check((n_convs, n_gold) == exp[fold],
                      "fold %d: conversations or gold mentions differ" % fold)
                check(tp <= min(n_pred, n_gold) and f1 >= 900_000,
                      "fold %d: implausible scores" % fold)
            self.ref = rows
            self._pin_expected(rows)
        check(rows == self.ref, "fold scores changed between repetitions")
        self.op_s.append(dt)
        self.op_turns.append(self.n_turns)

    def _pin_expected(self, rows) -> None:
        """Fold scores are a pure function of the seed and the core count:
        the first run on a seed records them beside the cached inputs, and
        later runs on that seed must reproduce them."""
        path = os.path.join(self.corpus, "cv_expected_%d.json"
                            % self.spark.sparkContext.defaultParallelism)
        if os.path.exists(path):
            with open(path) as f:
                check([tuple(r) for r in json.load(f)] == rows,
                      "fold scores differ from the seed's recorded scores")
        else:
            with open(path + ".tmp", "w") as f:
                json.dump(rows, f)
            os.rename(path + ".tmp", path)

    def step(self) -> None:
        self.run_op(self._cv)


WORKLOADS = {"build": Build, "ingest": Ingest, "train_cv": TrainCV}

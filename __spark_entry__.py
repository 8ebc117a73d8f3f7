"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG query (triples) on the sf0.001
synthetic transcript corpus.  ``queries()`` exposes each implemented
operator from SURVEY.md §2 as (spark, sf_dir) -> DataFrame;
``oracle_sql()`` gives the DuckDB-runnable equivalent.  For the KG
stages the oracle reads the single-node reference-extractor gold
tables (built by webstruct_spark/sources/goldbuild.py, kernels pinned
by the reference's own doctest goldens) — so the driver check is a
genuine distributed-vs-single-node end-to-end comparison.  Relational
analog queries run over the driver-provided TPC-H-ish tables with pure
SQL oracles.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

_CORPUS_CACHE: dict[float, str] = {}


def _corpus_for(sf: float) -> str:
    """Generate-if-missing the synthetic transcript corpus + gold
    tables for a scale factor; returns its directory."""
    if sf not in _CORPUS_CACHE:
        from webstruct_spark.sources.goldbuild import build_gold
        from webstruct_spark.sources.transcripts import ensure_corpus_for_sf

        d = ensure_corpus_for_sf(sf)
        build_gold(d)
        _CORPUS_CACHE[sf] = d
    return _CORPUS_CACHE[sf]


def _sf_of(sf_dir: str) -> float:
    # delegates to the package's single parser so the driver, the
    # gold builder and the CLI can never disagree on sf (and hence on
    # default_n_pages / the conv→domain pairing)
    from webstruct_spark.sources.html_pages import sf_of_dir

    return sf_of_dir(sf_dir)


def _keyed_cache_dir(norm: str, family: str, *parts: str) -> str:
    """The ONE definition of the derived-artifact cache-dir naming
    scheme: ``data/<family>/<basename>[_<parts>]_<crc32(norm)>``.
    Keyed on the crc32 of the NORMALIZED absolute path (not just the
    basename) so two corpus dirs with equal basenames can never share
    a cache dir — every cache family (docgold, kg_refresh, ann_index)
    must route through here so the guarantee cannot drift per-site."""
    import zlib

    name = "_".join((os.path.basename(norm),) + parts)
    return os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "data", family,
        "%s_%08x" % (name, zlib.crc32(norm.encode("utf-8"))),
    )


def _transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _corpus_for(_sf_of(sf_dir))
    return spark.read.parquet(os.path.join(d, "transcripts.parquet"))


def _gazetteer(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _corpus_for(_sf_of(sf_dir))
    return spark.read.parquet(os.path.join(d, "gazetteer.parquet"))


# ---------------------------------------------------------------------------
# KG pipeline queries (SURVEY §2.3/2.4/2.8: F1-F3, E1-E4, A1-A9, G2/G3)


def _q_kg_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from webstruct_spark.operators.extract import mentions

    return mentions(_transcripts(spark, sf_dir)).select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.col("mention_idx").cast("int").alias("mention_idx"),
        "text",
        "entity_type",
    )


def _q_kg_mentions_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from webstruct_spark.operators.extract import mentions

    m = mentions(_transcripts(spark, sf_dir))
    return m.groupBy("entity_type").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.countDistinct("text").alias("n_distinct_texts"),
    )


def _group_entities_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from webstruct_spark.operators.extract import extract_rows
    from webstruct_spark.operators.grouping_op import group_entities

    return group_entities(extract_rows(_transcripts(spark, sf_dir)))


def _q_kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from webstruct_spark.operators.triples_op import triples

    return triples(_group_entities_df(spark, sf_dir)).select(
        "conv_id",
        "group_id",
        F.col("triple_idx").cast("int").alias("triple_idx"),
        "subj",
        "pred",
        "obj",
    )


def _q_kg_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from webstruct_spark.operators.triples_op import groups_summary

    return groups_summary(_group_entities_df(spark, sf_dir)).select(
        "conv_id",
        "group_id",
        F.col("threshold").cast("int").alias("threshold"),
        F.col("n_entities").cast("int").alias("n_entities"),
        F.col("first_turn").cast("int").alias("first_turn"),
    )


def _q_kg_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    from webstruct_spark.operators.canon import canonicalize
    from webstruct_spark.operators.extract import mentions

    links, _nodes = canonicalize(
        mentions(_transcripts(spark, sf_dir)), _gazetteer(spark, sf_dir)
    )
    return links


def _q_kg_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from webstruct_spark.operators.canon import canonicalize
    from webstruct_spark.operators.extract import mentions

    _links, nodes = canonicalize(
        mentions(_transcripts(spark, sf_dir)), _gazetteer(spark, sf_dir)
    )
    return nodes.select(
        "node_id",
        "entity_type",
        "canonical_text",
        F.col("n_surfaces").cast("int").alias("n_surfaces"),
        F.col("n_mentions").cast("bigint").alias("n_mentions"),
    )


# keyed on the normalized corpus path like _ann_index_for — two
# corpus dirs with equal basenames must never share a build dir
_KG_REFRESH_CACHE: dict[str, str] = {}


def _q_kg_refreshed_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dimension-table-update path end to end THROUGH the
    persistence machinery: a staged build_kg into a cached dir, then
    refresh_gazetteer against the deterministically shrunk gazetteer
    (canonical ids ending in an even digit), then the committed nodes
    table read back — vs the single-node linking twin re-run with the
    same shrunk gazetteer (gold_refreshed_nodes).  Gates that the
    snapshot commit/refresh machinery lands byte-for-byte where the
    pure recompute does."""
    from webstruct_spark.plans.manifest import table_fingerprint
    from webstruct_spark.plans.pipeline import (
        build_kg,
        kg_status,
        refresh_gazetteer,
    )

    from webstruct_spark.sources.gazshrink import shrink_gazetteer

    corpus = _corpus_for(_sf_of(sf_dir))
    norm = os.path.normpath(os.path.abspath(corpus))
    if norm not in _KG_REFRESH_CACHE:
        out = _keyed_cache_dir(norm, "kg_refresh")
        # cross-PROCESS reuse sentinel: after a refresh the global
        # stages sit at the SHRUNK gazetteer's identity, which
        # build_kg's resume (keyed on the corpus's own gazetteer)
        # would reject — so a fresh process would pay the build AND
        # the refresh again every run without this.  Keyed on BOTH
        # corpus table fingerprints: a gazetteer-only regeneration
        # changes the refreshed nodes (the shrink is derived from the
        # gazetteer) just as surely as a transcript change.
        import json as _json

        tfp = table_fingerprint(
            os.path.join(corpus, "transcripts.parquet")
        )
        gfp = table_fingerprint(
            os.path.join(corpus, "gazetteer.parquet")
        )
        sent = out + "_DONE"
        tag = _json.dumps(
            {"v": 2, "transcripts": tfp, "gazetteer": gfp},
            sort_keys=True,
        )
        done = False
        if os.path.exists(sent):
            with open(sent) as fh:
                done = fh.read() == tag
        # the sentinel is a sibling FILE of the build dir: an
        # operator's `rm -rf <out>` leaves it behind, and trusting
        # it would make the nodes read below fail forever instead of
        # self-healing (the generate-if-missing contract every other
        # cached builder here honors) — so also require the store's
        # snapshot to hold a committed nodes stage
        if done and not kg_status(spark, out)["stages"]["nodes"][
            "committed"
        ]:
            done = False
        if not done:
            build_kg(spark, corpus, out)
            gaz2 = shrink_gazetteer(_gazetteer(spark, sf_dir))
            gaz2_path = out + "_gaz_refreshed.parquet"
            gaz2.repartition(1).write.mode("overwrite").parquet(gaz2_path)
            refresh_gazetteer(
                spark, spark.read.parquet(gaz2_path),
                table_fingerprint(gaz2_path, spark=spark), out,
            )
            with open(sent, "w") as fh:
                fh.write(tag)
        _KG_REFRESH_CACHE[norm] = out
    nodes = spark.read.parquet(
        os.path.join(_KG_REFRESH_CACHE[norm], "nodes")
    )
    return nodes.select(
        "node_id",
        "entity_type",
        "canonical_text",
        F.col("n_surfaces").cast("int").alias("n_surfaces"),
        F.col("n_mentions").cast("bigint").alias("n_mentions"),
    )


def _q_kg_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph materialization: triple endpoints resolved to canonical
    node ids (broadcast joins against the canonicalization links)."""
    from webstruct_spark.operators.canon import canonicalize
    from webstruct_spark.operators.extract import mentions
    from webstruct_spark.operators.graph import materialize_edges
    from webstruct_spark.operators.triples_op import triples

    t = _transcripts(spark, sf_dir)
    links, _nodes = canonicalize(mentions(t), _gazetteer(spark, sf_dir))
    return materialize_edges(triples(_group_entities_df(spark, sf_dir)), links)


def _q_kg_node_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-consumer query: per-node out/in/total degree over the
    materialized edges (hub detection / skew diagnosis) — vs the pure
    SQL aggregation of the single-node twin's gold edges."""
    from webstruct_spark.operators.graph import node_degrees

    return node_degrees(_q_kg_edges(spark, sf_dir)).select(
        "node_id",
        F.col("out_degree").cast("bigint").alias("out_degree"),
        F.col("in_degree").cast("bigint").alias("in_degree"),
        F.col("degree").cast("bigint").alias("degree"),
    )


def _q_kg_edge_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-consumer query: multi-edges collapsed to weighted
    canonical edges with provenance counts — vs the pure SQL
    aggregation of the gold edges."""
    from webstruct_spark.operators.graph import edge_weights

    return edge_weights(_q_kg_edges(spark, sf_dir)).select(
        "subj_node", "pred", "obj_node",
        F.col("n_triples").cast("bigint").alias("n_triples"),
        F.col("n_convs").cast("bigint").alias("n_convs"),
    )


def _q_kg_tagged_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 Viterbi tagger path on plain (marker-stripped) text with the
    broadcast rule/gazetteer model — vs the single-node run of the
    same model."""
    from webstruct_spark.operators.tagger import tagged_mentions

    return tagged_mentions(
        _transcripts(spark, sf_dir), _gazetteer(spark, sf_dir)
    ).select("conv_id", "turn_idx", "mention_idx", "text", "entity_type")


_CRF_MODEL_CACHE: dict[float, object] = {}


def _trained_model(spark: SparkSession, sf_dir: str):
    """Fit-once-per-corpus cache (the fit is deterministic, so reuse
    is value-identical to refitting)."""
    from webstruct_spark.operators.trained import train_crf

    sf = _sf_of(sf_dir)
    if sf not in _CRF_MODEL_CACHE:
        _CRF_MODEL_CACHE[sf] = train_crf(_transcripts(spark, sf_dir))
    return _CRF_MODEL_CACHE[sf]


def _q_kg_trained_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 trained-model path: deterministic driver-side CRF fit
    (averaged structured perceptron on the first 1500 labeled turns),
    broadcast weights, distributed batched-Viterbi inference — vs the
    single-node fit+predict of the same sample in the gold builder."""
    from webstruct_spark.operators.trained import crf_tagged_mentions

    t = _transcripts(spark, sf_dir)
    return crf_tagged_mentions(t, _trained_model(spark, sf_dir)).select(
        "conv_id", "turn_idx", "mention_idx", "text", "entity_type"
    )


def _q_kg_trained_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment P/R/F1 of the TRAINED model vs injected gold mentions —
    the reference CI's post-training quality gate
    (tests/test_crfsuite.py:46-60, F1 > 0.3) as a driver query."""
    from webstruct_spark.operators.extract import mentions
    from webstruct_spark.operators.metrics import set_prf
    from webstruct_spark.operators.trained import crf_tagged_mentions

    t = _transcripts(spark, sf_dir)
    pred = crf_tagged_mentions(t, _trained_model(spark, sf_dir))
    gold = mentions(t)
    return set_prf(pred, gold, ["conv_id", "turn_idx", "text", "entity_type"])


_DIST_CRF_MODEL_CACHE: dict[float, object] = {}


def _dist_trained_model(spark: SparkSession, sf_dir: str):
    """Fit-once-per-corpus cache for the DISTRIBUTED (iterated
    parameter mixing) training path — deterministic, so reuse is
    value-identical to refitting."""
    from webstruct_spark.operators.trained import train_crf_distributed

    sf = _sf_of(sf_dir)
    if sf not in _DIST_CRF_MODEL_CACHE:
        _DIST_CRF_MODEL_CACHE[sf] = train_crf_distributed(
            _transcripts(spark, sf_dir)
        )
    return _DIST_CRF_MODEL_CACHE[sf]


def _q_kg_dist_trained_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed-training path (closes the bounded-sample caveat of
    kg_trained_mentions): iterated-parameter-mixing CRF fit over the
    FULL corpus (crc32(conv_id)%8 shards, 4 mixing rounds, executors
    do the per-shard epochs), then distributed inference — vs the
    byte-identical single-node twin in the gold builder."""
    from webstruct_spark.operators.trained import crf_tagged_mentions

    t = _transcripts(spark, sf_dir)
    return crf_tagged_mentions(t, _dist_trained_model(spark, sf_dir)).select(
        "conv_id", "turn_idx", "mention_idx", "text", "entity_type"
    )


# sf-keying is SAFE for all three model caches (unlike the path-keyed
# _ann_index_for): the training corpus itself is resolved by
# _transcripts via _corpus_for(_sf_of(sf_dir)), i.e. two sf_dirs with
# equal sf read the SAME deterministic synthesized corpus, so a
# sf-keyed model can never alias across different inputs.
_HASHED_CRF_MODEL_CACHE: dict[float, object] = {}


def _hashed_trained_model(spark: SparkSession, sf_dir: str):
    """Fit-once-per-corpus cache for the feature-HASHED distributed
    training path (same pattern as _trained_model /
    _dist_trained_model — deterministic, so reuse is value-identical
    to refitting)."""
    from webstruct_spark.operators.trained import train_crf_distributed

    sf = _sf_of(sf_dir)
    if sf not in _HASHED_CRF_MODEL_CACHE:
        _HASHED_CRF_MODEL_CACHE[sf] = train_crf_distributed(
            _transcripts(spark, sf_dir), feat_hash_dim=4096
        )
    return _HASHED_CRF_MODEL_CACHE[sf]


def _q_kg_hashed_trained_mentions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Feature-HASHED distributed training (feat_hash_dim=4096 — the
    hashing trick bounding model size independent of corpus
    vocabulary) + distributed inference — vs the byte-identical
    single-node twin in the gold builder."""
    from webstruct_spark.operators.trained import crf_tagged_mentions

    t = _transcripts(spark, sf_dir)
    return crf_tagged_mentions(
        t, _hashed_trained_model(spark, sf_dir)
    ).select("conv_id", "turn_idx", "mention_idx", "text", "entity_type")


def _q_kg_trained_dist_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment P/R/F1 of the distributed-trained model vs injected gold
    mentions — the full-corpus analogue of kg_trained_prf."""
    from webstruct_spark.operators.extract import mentions
    from webstruct_spark.operators.metrics import set_prf
    from webstruct_spark.operators.trained import crf_tagged_mentions

    t = _transcripts(spark, sf_dir)
    pred = crf_tagged_mentions(t, _dist_trained_model(spark, sf_dir))
    gold = mentions(t)
    return set_prf(pred, gold, ["conv_id", "turn_idx", "text", "entity_type"])


def _q_kg_mention_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 segment metric as a query: tagger mentions vs gold injected
    mentions on (conv, turn, text, type)."""
    from webstruct_spark.operators.extract import mentions
    from webstruct_spark.operators.metrics import set_prf
    from webstruct_spark.operators.tagger import tagged_mentions

    t = _transcripts(spark, sf_dir)
    pred = tagged_mentions(t, _gazetteer(spark, sf_dir))
    gold = mentions(t)
    return set_prf(pred, gold, ["conv_id", "turn_idx", "text", "entity_type"])


def _q_kg_macro_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7: per-conversation F1 of the tagger vs injected gold,
    macro-averaged (integer-exact: macro = sum_f1_x1e6/(1e6·n_docs))."""
    from webstruct_spark.operators.extract import mentions
    from webstruct_spark.operators.metrics import macro_avg_f1
    from webstruct_spark.operators.tagger import tagged_mentions

    t = _transcripts(spark, sf_dir)
    pred = tagged_mentions(t, _gazetteer(spark, sf_dir))
    gold = mentions(t)
    return macro_avg_f1(
        pred, gold, keys=["conv_id", "turn_idx", "text", "entity_type"]
    )


def _q_annotation_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annotation-verifier workflow (the reference
    annotation_verifier.py tree diff, re-expressed as a (token, tag)
    stream diff): a deterministic corruption — ORG markers retagged
    PER on crc32(conv_id)%7==0 conversations, the lockstep twin of
    the gold builder's re.sub — is diffed against the original over
    EVERY turn in one Arrow-batched scan (a real post-conversion QA
    pass must diff all rows to certify the clean ones too, so the
    stream_diff kernel runs corpus-wide; only divergent rows
    survive).  Gated vs gold_annotation_diffs.parquet (same
    stream_diff kernel single-node — the gate pins the distributed
    plumbing: corruption expr, batch iteration, row filtering)."""
    from webstruct_spark.functions.annotation_qa import verify_annotations

    t = _transcripts(spark, sf_dir)
    pair = t.select(
        "conv_id",
        "turn_idx",
        F.col("text").alias("left_m"),
        F.when(
            F.crc32(F.col("conv_id").cast("binary")) % 7 == 0,
            F.regexp_replace(
                "text", r"__(START|END)_ORG__", r"__$1_PER__"
            ),
        ).otherwise(F.col("text")).alias("right_m"),
    )
    return verify_annotations(pair, "left_m", "right_m")


def _q_domain_cv_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-grouped k-fold cross-validation workflow (the reference
    training example's GroupKFold-by-domain, example/ner/train.py):
    per-fold distributed IPM training + held-out inference + exact
    integer P/R/F1 — vs the single-node twin's gold parquet
    (gold_domain_cv.parquet, byte-identical per-fold fits)."""
    from webstruct_spark.operators.domain_cv import (
        conv_domains_from_pages,
        domain_group_kfold_eval,
    )

    t = _transcripts(spark, sf_dir)
    pages = spark.read.parquet(_html_pages_path(_sf_of(sf_dir)))
    cd = conv_domains_from_pages(t, pages)
    return domain_group_kfold_eval(
        t, cd, k=3, n_parts=8, rounds=4, min_feat_df=2
    )


def _html_pages_path(sf: float) -> str:
    from webstruct_spark.sources.html_pages import (
        default_n_pages,
        ensure_html_pages,
    )

    d = _corpus_for(sf)
    return ensure_html_pages(d, n_pages=default_n_pages(sf))


def _q_infer_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10/A11: most-likely domain per page — base-href short-circuit,
    blacklist-filtered href mode vote, sorted-first tie-break
    (reference infer_domain.py:22-74), pure Column exprs."""
    from webstruct_spark.operators.domains import infer_domain

    path = _html_pages_path(_sf_of(sf_dir))
    return infer_domain(spark.read.parquet(path))


def _q_wapiti_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3/M3: wapiti train-file lines (feature columns + gold tag,
    reference data-file format — wapiti.py:302-326) for every clean
    token, assembled JVM-side from a feature struct; gated against
    the single-node WapitiFeatureEncoder twin's gold parquet."""
    from webstruct_spark.operators.wapiti_io import wapiti_train_lines

    return wapiti_train_lines(_transcripts(spark, sf_dir))


def _q_token_shape_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 feature over every clean token (JVM-side regex ladder),
    aggregated — checked against the single-node shape distribution."""
    from webstruct_spark.functions.token_features import token_shape
    from webstruct_spark.operators.features_op import token_rows

    toks = token_rows(_transcripts(spark, sf_dir))
    return (
        toks.select(token_shape(F.col("token")).alias("shape"))
        .groupBy("shape")
        .agg(F.count(F.lit(1)).alias("n_tokens"))
    )


def _q_kg_triple_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BASELINE acceptance metric as a query: triple-set P/R of the
    distributed pipeline vs the single-node reference extractor."""
    from webstruct_spark.operators.metrics import triple_prf
    from webstruct_spark.operators.triples_op import triples

    d = _corpus_for(_sf_of(sf_dir))
    gold = spark.read.parquet(os.path.join(d, "gold_triples.parquet"))
    pred = triples(_group_entities_df(spark, sf_dir))
    return triple_prf(pred, gold)


def _geonames_tsv() -> str:
    from webstruct_spark.sources.geonames import materialize_sample_tsv

    return materialize_sample_tsv(
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "data", "geonames", "sample.tsv",
        )
    )


def _q_geonames_aliases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/S7: GeoNames TSV reader + alias explode (gazetteer
    compile)."""
    from webstruct_spark.sources.geonames import alias_rows, read_geonames

    geo = read_geonames(spark, _geonames_tsv())
    return alias_rows(geo).select("alias", "canonical_id", "entity_type")


def _q_token_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8: token-level confusion of the Viterbi tagger vs
    marker-derived gold tags."""
    from webstruct_spark.operators.tagger import token_confusion

    return token_confusion(
        _transcripts(spark, sf_dir), _gazetteer(spark, sf_dir)
    )


# ---------------------------------------------------------------------------
# relational analog queries over the driver-provided tables
# (SURVEY §2.8 A6/A8/A10, §2.2 P5)


def _q_mode_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 analog: mode aggregation with lexicographic tie-break —
    most frequent event_type per user."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = W.partitionBy("user_id").orderBy(
        F.col("cnt").desc(), F.col("event_type").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("top_event_type"),
                F.col("cnt").alias("n_events"))
    )


def _q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 analog: gap-threshold sessionization (30 min) via cumulative
    sum over a lag comparison — per-user session stats."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    # events.ts is TIMESTAMP_NTZ. Micros relative to a fixed epoch via
    # timestampdiff on the NTZ value keeps the query independent of
    # the (driver-controlled) session timezone; a cast to TIMESTAMP_LTZ
    # + unix_micros would shift with spark.sql.session.timeZone.
    us = F.expr(
        "timestampdiff(MICROSECOND, timestamp_ntz'2024-01-01 00:00:00', ts)"
    )
    ev = ev.withColumn("ts_us", us)
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    sess = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800 * 1_000_000), F.lit(1)).otherwise(
            F.lit(0)
        ),
    ).withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(W.unboundedPreceding, 0)
        ).cast("int"),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_us").alias("start_us"),
        F.max("ts_us").alias("end_us"),
    )


def _q_min_df_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 analog: two-stage aggregation + semi join — document
    frequency of whitespace words, keep df >= 10, count surviving
    distinct words per doc."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).where(F.length("word") > 0)
    dw = words.distinct()
    keep = (
        dw.groupBy("word")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= 10)
    )
    kept = dw.join(keep.select("word"), "word", "left_semi")
    return kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept_words")
    )


def _q_top_order_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 analog: per-group argmax with deterministic tie-break — the
    single highest-value order per customer."""
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("top_orderkey"),
            F.col("o_totalprice").alias("top_totalprice"),
        )
    )


# ---------------------------------------------------------------------------
# training-data-pipeline queries (dedup / similarity / text analysis)

_DOCGOLD_CACHE: dict[str, str] = {}


def _doc_gold_for(sf_dir: str) -> str:
    # keyed on the normalized full path like _ann_index_for /
    # _KG_REFRESH_CACHE — two corpus dirs with equal basenames must
    # never share a gold dir (the build dir name carries a crc of
    # the full path; staleness against REGENERATED content at the
    # same path is handled by build_doc_gold's fingerprinted _DONE)
    norm = os.path.normpath(os.path.abspath(sf_dir))
    if norm not in _DOCGOLD_CACHE:
        from webstruct_spark.sources.docgold import build_doc_gold

        out = _keyed_cache_dir(norm, "docgold")
        got = build_doc_gold(sf_dir, out)
        # memoize only a fingerprint-VERIFIED build: the unreadable-
        # corpus fallback (UnverifiedGoldDir) is served for this call
        # but NOT pinned — once the corpus at this path is readable
        # again the next call re-enters build_doc_gold, whose
        # fingerprint check then forces the rebuild a regenerated
        # corpus needs
        if getattr(got, "fingerprint_verified", True):
            _DOCGOLD_CACHE[norm] = got
        return got
    return _DOCGOLD_CACHE[norm]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from webstruct_spark.functions.text_quality import text_profile

    return text_profile(_docs(spark, sf_dir))


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from webstruct_spark.functions.text_quality import lang_id_udf

    return _docs(spark, sf_dir).select(
        "doc_id", lang_id_udf("text").alias("lang_pred")
    )


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from webstruct_spark.operators.dedup import exact_duplicate_groups

    return exact_duplicate_groups(_docs(spark, sf_dir))


def _q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from webstruct_spark.operators.dedup import minhash_lsh_pairs

    # persist=False: the driver materializes this exactly once and
    # never sees the _sketch_handle (select() strips the attribute),
    # so a persisted sketch would leak storage memory per invocation
    return minhash_lsh_pairs(_docs(spark, sf_dir), persist=False).select(
        "doc_a", "doc_b", "jaccard", "verified"
    )


def _q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from webstruct_spark.operators.dedup import simhash_pairs

    return simhash_pairs(_docs(spark, sf_dir))


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from webstruct_spark.operators.dedup import ngram_jaccard_pairs

    # max_df=None: the DuckDB oracle computes UNCAPPED exact Jaccard,
    # so the gated query must too (the capped default is the scale
    # posture for production corpora, not the oracle definition)
    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), threshold=0.2, max_df=None
    )


def _q_emb_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: banded hyperplane-LSH
    candidates + exact float64 verify — vs the single-node run of the
    same banding (recall vs brute force is gauged in pytest)."""
    from webstruct_spark.operators.similarity import embedding_neardup_pairs

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    return embedding_neardup_pairs(emb, threshold=0.35)


def _q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from webstruct_spark.operators.similarity import brute_force_topk

    # the shared sorted query selection (defined below) — one %199
    # probe rule for every gated ANN variant, so a change to it can
    # never drift between this query and the four approximate ones
    emb, qs = _ann_queries_sorted(spark, sf_dir)
    return brute_force_topk(emb, qs, k=5)


_ANN_INDEX_CACHE: dict[tuple[str, str], str] = {}


def _ann_queries_sorted(spark: SparkSession, sf_dir: str):
    """(embeddings_df, [(vec_id, vector)] sorted by vec_id) — the ONE
    query-selection used by every gated ANN variant; sorted so the
    probe-set insertion order matches the gold twins regardless of
    collect order."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    q_rows = (
        emb.where(F.col("vec_id") % 199 == 0)
        .select("vec_id", "embedding")
        .collect()
    )
    return emb, sorted(
        ((int(r["vec_id"]), list(r["embedding"])) for r in q_rows),
        key=lambda q: q[0],
    )


def _ann_index_for(spark: SparkSession, sf_dir: str, kind: str) -> str:
    """Build-once-per-process bucket-partitioned ANN index over the
    sf's embeddings (deterministic planes/centroids, so rebuilding is
    value-identical).  The path is keyed on the FULL normalized
    sf_dir (crc32 suffix), not just its basename — two corpus dirs
    with equal basenames must never share an index directory."""
    norm = os.path.normpath(os.path.abspath(sf_dir))
    key = (norm, kind)
    if key not in _ANN_INDEX_CACHE:
        from webstruct_spark.operators.similarity import write_ann_index

        path = _keyed_cache_dir(norm, "ann_index", kind)
        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        if kind == "lsh":
            write_ann_index(emb, path, kind="lsh", n_planes=8)
        else:
            write_ann_index(emb, path, kind="ivf", n_centroids=16)
        _ANN_INDEX_CACHE[key] = path
    return _ANN_INDEX_CACHE[key]


def _q_ann_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100-TB ANN path as a gated query: top-k probe over the
    PERSISTENT bucket-partitioned index (write_ann_index + partition-
    pruned scan — only the probed bucket directories are read,
    PartitionFilters in the plan; PLANS.md) — vs the single-node twin
    of the same index+probe procedure (gold_ann_index_topk)."""
    from webstruct_spark.operators.similarity import ann_index_topk

    _emb, qs = _ann_queries_sorted(spark, sf_dir)
    path = _ann_index_for(spark, sf_dir, "lsh")
    return ann_index_topk(spark, path, qs, k=5, multiprobe=1)


def _q_ann_ivf_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF flavor of the persistent index path: k-means cells
    (deterministic Lloyd on the id-sorted sample), centroids stored
    beside the data, partition-pruned probe of the n_probe nearest
    cells — vs the single-node twin of the identical procedure
    (gold_ann_ivf_topk, shared lloyd_centroids kernel)."""
    from webstruct_spark.operators.similarity import ann_index_topk

    _emb, qs = _ann_queries_sorted(spark, sf_dir)
    path = _ann_index_for(spark, sf_dir, "ivf")
    return ann_index_topk(spark, path, qs, k=5, n_probe=4)


def _q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IN-FLIGHT LSH variant (scan + executor-side bucket filter +
    exact rerank): with the same n_planes/multiprobe it visits the
    identical candidate set as the persistent index probe, so it is
    gated against the SAME gold twin (gold_ann_index_topk) — pinning
    that the scan path and the partition-pruned path agree row for
    row."""
    from webstruct_spark.operators.similarity import lsh_topk

    emb, qs = _ann_queries_sorted(spark, sf_dir)
    return lsh_topk(emb, qs, k=5, n_planes=8, multiprobe=1)


def _q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IN-FLIGHT IVF variant — same centroids (deterministic Lloyd
    on the id-sorted sample), same probe set and rerank as the IVF
    index probe, gated against the same gold twin
    (gold_ann_ivf_topk)."""
    from webstruct_spark.operators.similarity import ivf_topk

    emb, qs = _ann_queries_sorted(spark, sf_dir)
    return ivf_topk(emb, qs, k=5, n_centroids=16, n_probe=4)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: full KG triple extraction on sf0.001."""
    return _q_kg_triples(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "kg_mentions": _q_kg_mentions,
        "kg_mentions_by_type": _q_kg_mentions_by_type,
        "kg_triples": _q_kg_triples,
        "kg_groups": _q_kg_groups,
        "kg_links": _q_kg_links,
        "kg_nodes": _q_kg_nodes,
        "kg_refreshed_nodes": _q_kg_refreshed_nodes,
        "kg_node_degrees": _q_kg_node_degrees,
        "kg_edge_weights": _q_kg_edge_weights,
        "kg_edges": _q_kg_edges,
        "kg_triple_prf": _q_kg_triple_prf,
        "kg_tagged_mentions": _q_kg_tagged_mentions,
        "kg_trained_mentions": _q_kg_trained_mentions,
        "kg_trained_prf": _q_kg_trained_prf,
        "kg_dist_trained_mentions": _q_kg_dist_trained_mentions,
        "kg_hashed_trained_mentions": _q_kg_hashed_trained_mentions,
        "kg_trained_dist_prf": _q_kg_trained_dist_prf,
        "domain_cv_f1": _q_domain_cv_f1,
        "annotation_verify": _q_annotation_verify,
        "kg_mention_prf": _q_kg_mention_prf,
        "kg_macro_f1": _q_kg_macro_f1,
        "token_shape_dist": _q_token_shape_dist,
        "wapiti_lines": _q_wapiti_lines,
        "infer_domain": _q_infer_domain,
        "token_confusion": _q_token_confusion,
        "geonames_aliases": _q_geonames_aliases,
        "mode_event_type": _q_mode_event_type,
        "sessionize_events": _q_sessionize_events,
        "min_df_prune": _q_min_df_prune,
        "top_order_per_cust": _q_top_order_per_cust,
        "text_profile": _q_text_profile,
        "lang_id": _q_lang_id,
        "dedup_exact": _q_dedup_exact,
        "dedup_minhash": _q_dedup_minhash,
        "dedup_simhash": _q_dedup_simhash,
        "ngram_jaccard": _q_ngram_jaccard,
        "ann_topk": _q_ann_topk,
        "ann_index_topk": _q_ann_index_topk,
        "ann_ivf_index_topk": _q_ann_ivf_index_topk,
        "ann_lsh_topk": _q_ann_lsh_topk,
        "ann_ivf_topk": _q_ann_ivf_topk,
        "emb_neardup": _q_emb_neardup,
    }


_NORM_SQL = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
_WORDS_SQL = (
    "list_filter(string_split(%s, ' '), x -> length(x) > 0)" % _NORM_SQL
)


def _text_profile_oracle() -> str:
    from webstruct_spark.functions.text_quality import STOPWORDS

    stops = ", ".join("'%s'" % w for w in STOPWORDS)
    return f"""
        WITH base AS (
            SELECT doc_id, {_NORM_SQL} AS norm, {_WORDS_SQL} AS w
            FROM documents
        ), raw AS (
            SELECT doc_id, norm, len(w) AS n,
                   len(list_filter(w, x -> list_contains([{stops}], x)))
                       AS stops,
                   coalesce(list_sum(list_transform(w, x -> length(x))), 0)
                       AS total
            FROM base
        )
        SELECT doc_id, CAST(n AS INT) AS n_tokens,
               CAST(length(norm) AS INT) AS n_chars,
               CAST(CASE WHEN n > 0 THEN floor(10000 * stops / n)
                    ELSE 0 END AS INT) AS stop_x10k,
               CAST(CASE WHEN n > 0 THEN floor(100 * total / n)
                    ELSE 0 END AS INT) AS mwl_x100,
               CAST(CASE WHEN n > 0 THEN
                        floor(4000 * least(n, 100) / 100)
                        + floor(3000 * (n - stops) / n)
                        + floor(3000 * least(8 * n, total) / (8 * n))
                    ELSE 0 END AS INT) AS quality_x10k,
               md5(norm) AS fingerprint
        FROM raw
    """


def _ngram_jaccard_oracle() -> str:
    return f"""
        WITH base AS (
            SELECT doc_id, {_WORDS_SQL} AS w FROM documents
        ), sh AS (
            SELECT doc_id,
                   CASE WHEN len(w) >= 3 THEN
                       list_transform(range(len(w) - 2),
                                      i -> array_to_string(w[i+1:i+3], ' '))
                   ELSE [array_to_string(w, ' ')] END AS shingles
            FROM base
        ), ex AS (
            SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM sh
        ), sizes AS (
            SELECT doc_id, count(*) AS n_sh FROM ex GROUP BY doc_id
        ), common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   count(*) AS n_common
            FROM ex a JOIN ex b USING (shingle)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.2
    """


def oracle_sql() -> dict[str, str]:
    d = _corpus_for(0.01)  # driver correctness runs at sf=0.01
    dg = _doc_gold_for("/root/testdata/sf0.01")

    def g(name: str) -> str:
        return os.path.join(d, name)

    from webstruct_spark.operators.domains import infer_domain_oracle_sql

    return {
        "infer_domain": infer_domain_oracle_sql(
            _html_pages_path(0.01)
        ),
        "text_profile": _text_profile_oracle(),
        "lang_id": f"""
            SELECT doc_id, lang_pred
            FROM read_parquet('{os.path.join(dg, "gold_langid.parquet")}')
        """,
        "dedup_exact": f"""
            SELECT doc_id, md5({_NORM_SQL}) AS dup_key,
                   min(doc_id) OVER (PARTITION BY md5({_NORM_SQL})) AS
                   canonical_doc_id
            FROM documents
        """,
        "dedup_minhash": f"""
            SELECT doc_a, doc_b, jaccard, verified FROM read_parquet(
                '{os.path.join(dg, "gold_minhash_pairs.parquet")}')
        """,
        "dedup_simhash": f"""
            SELECT doc_a, doc_b, hamming FROM read_parquet(
                '{os.path.join(dg, "gold_simhash_pairs.parquet")}')
        """,
        "ngram_jaccard": _ngram_jaccard_oracle(),
        "emb_neardup": f"""
            SELECT vec_a, vec_b, sim FROM read_parquet(
                '{os.path.join(dg, "gold_emb_neardup.parquet")}')
        """,
        "ann_topk": f"""
            SELECT query_id, rank, neighbor_id, sim FROM read_parquet(
                '{os.path.join(dg, "gold_ann_topk.parquet")}')
        """,
        "ann_index_topk": f"""
            SELECT query_id, rank, neighbor_id, sim FROM read_parquet(
                '{os.path.join(dg, "gold_ann_index_topk.parquet")}')
        """,
        "ann_ivf_index_topk": f"""
            SELECT query_id, rank, neighbor_id, sim FROM read_parquet(
                '{os.path.join(dg, "gold_ann_ivf_topk.parquet")}')
        """,
        "ann_lsh_topk": f"""
            SELECT query_id, rank, neighbor_id, sim FROM read_parquet(
                '{os.path.join(dg, "gold_ann_index_topk.parquet")}')
        """,
        "ann_ivf_topk": f"""
            SELECT query_id, rank, neighbor_id, sim FROM read_parquet(
                '{os.path.join(dg, "gold_ann_ivf_topk.parquet")}')
        """,
        "kg_mentions": f"""
            SELECT conv_id, turn_idx, mention_idx, text, entity_type
            FROM read_parquet('{g("gold_extracted_mentions.parquet")}')
        """,
        "kg_mentions_by_type": f"""
            SELECT entity_type,
                   count(*) AS n_mentions,
                   count(DISTINCT text) AS n_distinct_texts
            FROM read_parquet('{g("gold_mentions.parquet")}')
            GROUP BY entity_type
        """,
        "kg_triples": f"""
            SELECT conv_id, group_id, triple_idx, subj, pred, obj
            FROM read_parquet('{g("gold_triples.parquet")}')
        """,
        "kg_groups": f"""
            SELECT conv_id, group_id, threshold, n_entities, first_turn
            FROM read_parquet('{g("gold_groups.parquet")}')
        """,
        "kg_links": f"""
            SELECT entity_type, norm_text, node_id
            FROM read_parquet('{g("gold_links.parquet")}')
        """,
        "kg_nodes": f"""
            SELECT node_id, entity_type, canonical_text, n_surfaces,
                   n_mentions
            FROM read_parquet('{g("gold_nodes.parquet")}')
        """,
        "kg_refreshed_nodes": f"""
            SELECT node_id, entity_type, canonical_text, n_surfaces,
                   n_mentions
            FROM read_parquet('{g("gold_refreshed_nodes.parquet")}')
        """,
        "kg_edges": f"""
            SELECT subj_node, pred, obj_node, subj, obj, conv_id,
                   group_id, triple_idx
            FROM read_parquet('{g("gold_edges.parquet")}')
        """,
        "kg_node_degrees": f"""
            WITH o AS (
                SELECT subj_node AS node_id, count(*) AS out_degree
                FROM read_parquet('{g("gold_edges.parquet")}')
                GROUP BY subj_node
            ), i AS (
                SELECT obj_node AS node_id, count(*) AS in_degree
                FROM read_parquet('{g("gold_edges.parquet")}')
                GROUP BY obj_node
            )
            SELECT coalesce(o.node_id, i.node_id) AS node_id,
                   coalesce(out_degree, 0) AS out_degree,
                   coalesce(in_degree, 0) AS in_degree,
                   coalesce(out_degree, 0) + coalesce(in_degree, 0)
                       AS degree
            FROM o FULL OUTER JOIN i ON o.node_id = i.node_id
        """,
        "kg_edge_weights": f"""
            SELECT subj_node, pred, obj_node,
                   count(*) AS n_triples,
                   count(DISTINCT conv_id) AS n_convs
            FROM read_parquet('{g("gold_edges.parquet")}')
            GROUP BY subj_node, pred, obj_node
        """,
        "kg_triple_prf": f"""
            SELECT count(*) AS tp, count(*) AS n_pred, count(*) AS n_gold,
                   1000000 AS precision_x1e6, 1000000 AS recall_x1e6,
                   1000000 AS f1_x1e6
            FROM (SELECT DISTINCT subj, pred, obj
                  FROM read_parquet('{g("gold_triples.parquet")}'))
        """,
        "kg_tagged_mentions": f"""
            SELECT conv_id, turn_idx, mention_idx, text, entity_type
            FROM read_parquet('{g("gold_tagged_mentions.parquet")}')
        """,
        "kg_macro_f1": f"""
            WITH p AS (
                SELECT DISTINCT conv_id, turn_idx, text, entity_type
                FROM read_parquet('{g("gold_tagged_mentions.parquet")}')
            ), gm AS (
                SELECT DISTINCT conv_id, turn_idx, text, entity_type
                FROM read_parquet('{g("gold_mentions.parquet")}')
            ), tp AS (
                SELECT conv_id, count(*) AS tp FROM p
                JOIN gm USING (conv_id, turn_idx, text, entity_type)
                GROUP BY conv_id
            ), np AS (
                SELECT conv_id, count(*) AS n_pred FROM p GROUP BY conv_id
            ), ng AS (
                SELECT conv_id, count(*) AS n_gold FROM gm GROUP BY conv_id
            ), per AS (
                SELECT coalesce(ng.conv_id, np.conv_id) AS conv_id,
                       coalesce(tp.tp, 0) AS tp,
                       coalesce(np.n_pred, 0) AS n_pred,
                       coalesce(ng.n_gold, 0) AS n_gold
                FROM ng FULL OUTER JOIN np USING (conv_id)
                LEFT JOIN tp ON tp.conv_id = coalesce(ng.conv_id, np.conv_id)
            )
            SELECT count(*) AS n_docs,
                   CAST(sum(CASE WHEN n_pred + n_gold > 0
                        THEN CAST(floor(2000000 * tp / (n_pred + n_gold)) AS BIGINT)
                        ELSE 1000000 END) AS BIGINT) AS sum_f1_x1e6
            FROM per
        """,
        "kg_trained_mentions": f"""
            SELECT conv_id, turn_idx, mention_idx, text, entity_type
            FROM read_parquet('{g("gold_trained_mentions.parquet")}')
        """,
        "domain_cv_f1": f"""
            SELECT fold, n_convs, tp, n_pred, n_gold,
                   precision_x1e6, recall_x1e6, f1_x1e6
            FROM read_parquet('{g("gold_domain_cv.parquet")}')
        """,
        "annotation_verify": f"""
            SELECT conv_id, turn_idx, diff_idx, reason,
                   "left", "right"
            FROM read_parquet('{g("gold_annotation_diffs.parquet")}')
        """,
        "kg_trained_prf": f"""
            WITH p AS (
                SELECT DISTINCT conv_id, turn_idx, text, entity_type
                FROM read_parquet('{g("gold_trained_mentions.parquet")}')
            ), gm AS (
                SELECT DISTINCT conv_id, turn_idx, text, entity_type
                FROM read_parquet('{g("gold_mentions.parquet")}')
            ), c AS (
                SELECT (SELECT count(*) FROM p JOIN gm
                        USING (conv_id, turn_idx, text, entity_type)) AS tp,
                       (SELECT count(*) FROM p) AS n_pred,
                       (SELECT count(*) FROM gm) AS n_gold
            )
            SELECT tp, n_pred, n_gold,
                   CASE WHEN n_pred > 0
                        THEN (1000000 * tp) // n_pred ELSE 0 END
                       AS precision_x1e6,
                   CASE WHEN n_gold > 0
                        THEN (1000000 * tp) // n_gold ELSE 0 END
                       AS recall_x1e6,
                   CASE WHEN n_pred + n_gold > 0
                        THEN (2000000 * tp) // (n_pred + n_gold) ELSE 0 END
                       AS f1_x1e6
            FROM c
        """,
        "kg_dist_trained_mentions": f"""
            SELECT conv_id, turn_idx, mention_idx, text, entity_type
            FROM read_parquet('{g("gold_dist_trained_mentions.parquet")}')
        """,
        "kg_hashed_trained_mentions": f"""
            SELECT conv_id, turn_idx, mention_idx, text, entity_type
            FROM read_parquet('{g("gold_hashed_trained_mentions.parquet")}')
        """,
        "kg_trained_dist_prf": f"""
            WITH p AS (
                SELECT DISTINCT conv_id, turn_idx, text, entity_type
                FROM read_parquet('{g("gold_dist_trained_mentions.parquet")}')
            ), gm AS (
                SELECT DISTINCT conv_id, turn_idx, text, entity_type
                FROM read_parquet('{g("gold_mentions.parquet")}')
            ), c AS (
                SELECT (SELECT count(*) FROM p JOIN gm
                        USING (conv_id, turn_idx, text, entity_type)) AS tp,
                       (SELECT count(*) FROM p) AS n_pred,
                       (SELECT count(*) FROM gm) AS n_gold
            )
            SELECT tp, n_pred, n_gold,
                   CASE WHEN n_pred > 0
                        THEN (1000000 * tp) // n_pred ELSE 0 END
                       AS precision_x1e6,
                   CASE WHEN n_gold > 0
                        THEN (1000000 * tp) // n_gold ELSE 0 END
                       AS recall_x1e6,
                   CASE WHEN n_pred + n_gold > 0
                        THEN (2000000 * tp) // (n_pred + n_gold) ELSE 0 END
                       AS f1_x1e6
            FROM c
        """,
        "kg_mention_prf": f"""
            WITH p AS (
                SELECT DISTINCT conv_id, turn_idx, text, entity_type
                FROM read_parquet('{g("gold_tagged_mentions.parquet")}')
            ), gm AS (
                SELECT DISTINCT conv_id, turn_idx, text, entity_type
                FROM read_parquet('{g("gold_mentions.parquet")}')
            ), c AS (
                SELECT (SELECT count(*) FROM p JOIN gm
                        USING (conv_id, turn_idx, text, entity_type)) AS tp,
                       (SELECT count(*) FROM p) AS n_pred,
                       (SELECT count(*) FROM gm) AS n_gold
            )
            SELECT tp, n_pred, n_gold,
                   CASE WHEN n_pred > 0
                        THEN (1000000 * tp) // n_pred ELSE 0 END
                       AS precision_x1e6,
                   CASE WHEN n_gold > 0
                        THEN (1000000 * tp) // n_gold ELSE 0 END
                       AS recall_x1e6,
                   CASE WHEN n_pred + n_gold > 0
                        THEN (2000000 * tp) // (n_pred + n_gold) ELSE 0 END
                       AS f1_x1e6
            FROM c
        """,
        "token_shape_dist": f"""
            SELECT shape, n_tokens
            FROM read_parquet('{g("gold_token_shapes.parquet")}')
        """,
        "wapiti_lines": f"""
            SELECT conv_id, turn_idx, tok_idx, line
            FROM read_parquet('{g("gold_wapiti_lines.parquet")}')
        """,
        "token_confusion": f"""
            SELECT tag_gold, tag_pred, n_tokens
            FROM read_parquet('{g("gold_token_confusion.parquet")}')
        """,
        "geonames_aliases": f"""
            WITH geo AS (
                SELECT * FROM read_csv('{_geonames_tsv()}', delim='\t',
                    header=false, quote='',
                    columns={{'geonameid':'BIGINT','name':'VARCHAR',
                        'asciiname':'VARCHAR','alternatenames':'VARCHAR',
                        'latitude':'DOUBLE','longitude':'DOUBLE',
                        'feature_class':'VARCHAR','feature_code':'VARCHAR',
                        'country_code':'VARCHAR','cc2':'VARCHAR',
                        'admin1_code':'VARCHAR','admin2_code':'VARCHAR',
                        'admin3_code':'VARCHAR','admin4_code':'VARCHAR',
                        'population':'BIGINT','elevation':'VARCHAR',
                        'dem':'VARCHAR','timezone':'VARCHAR',
                        'modification_date':'VARCHAR'}})
            ), ex AS (
                SELECT geonameid, feature_class,
                       unnest(list_distinct(list_filter(
                           list_concat([name, asciiname],
                               string_split(coalesce(alternatenames, ''), ',')),
                           x -> x IS NOT NULL AND length(trim(x)) > 0
                       ))) AS alias
                FROM geo
            )
            SELECT trim(alias) AS alias,
                   'GEO:' || CAST(geonameid AS VARCHAR) AS canonical_id,
                   CASE feature_class WHEN 'P' THEN 'CITY'
                        WHEN 'A' THEN 'STATE' WHEN 'L' THEN 'COUNTRY'
                        ELSE 'PLACE' END AS entity_type
            FROM ex
        """,
        "mode_event_type": """
            SELECT user_id, top_event_type, n_events FROM (
                SELECT user_id, event_type AS top_event_type,
                       count(*) AS n_events,
                       row_number() OVER (
                           PARTITION BY user_id
                           ORDER BY count(*) DESC, event_type ASC
                       ) AS rn
                FROM events GROUP BY user_id, event_type
            ) WHERE rn = 1
        """,
        "sessionize_events": """
            WITH e AS (
                SELECT user_id, event_id,
                       epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01')
                           AS ts_us
                FROM events
            ), g AS (
                SELECT user_id, event_id, ts_us,
                       CASE WHEN lag(ts_us) OVER w IS NULL
                                 OR ts_us - lag(ts_us) OVER w
                                    > 1800 * 1000000
                            THEN 1 ELSE 0 END AS new_session
                FROM e
                WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
            ), s AS (
                SELECT user_id, ts_us,
                       CAST(sum(new_session) OVER (
                           PARTITION BY user_id ORDER BY ts_us, event_id
                           ROWS UNBOUNDED PRECEDING
                       ) AS INT) AS session_id
                FROM g
            )
            SELECT user_id, session_id, count(*) AS n_events,
                   min(ts_us) AS start_us, max(ts_us) AS end_us
            FROM s GROUP BY user_id, session_id
        """,
        "min_df_prune": """
            WITH raw AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS word
                FROM documents
            ), dw AS (
                SELECT DISTINCT doc_id, word FROM raw WHERE length(word) > 0
            ), keep AS (
                SELECT word FROM dw GROUP BY word HAVING count(*) >= 10
            )
            SELECT doc_id, count(*) AS n_kept_words
            FROM dw WHERE word IN (SELECT word FROM keep)
            GROUP BY doc_id
        """,
        "top_order_per_cust": """
            SELECT custkey, top_orderkey, top_totalprice FROM (
                SELECT o_custkey AS custkey, o_orderkey AS top_orderkey,
                       o_totalprice AS top_totalprice,
                       row_number() OVER (
                           PARTITION BY o_custkey
                           ORDER BY o_totalprice DESC, o_orderkey ASC
                       ) AS rn
                FROM orders
            ) WHERE rn = 1
        """,
    }

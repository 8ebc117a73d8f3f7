# -*- coding: utf-8 -*-
"""Evaluation operators (SURVEY §2.9): segment-level P/R/F1 — the
relational form of ``bio_f_score``
(/root/reference/webstruct/metrics.py:18-94): a segment matches iff
(doc, start, end, type) matches exactly; macro average per document.

Also the triple-set P/R used as the BASELINE acceptance metric.
"""
from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _seg_keys(df: DataFrame, keys: List[str]) -> DataFrame:
    return df.select(*keys).distinct()


def set_prf(
    pred: DataFrame, gold: DataFrame, keys: List[str]
) -> DataFrame:
    """One-row (tp, n_pred, n_gold, precision_x1e6, recall_x1e6,
    f1_x1e6) comparing two DataFrames as sets of ``keys`` tuples.

    Ratios are integer-scaled floor values (exact integer arithmetic)
    so any engine reproduces them bit-for-bit — float rounding at
    decimal midpoints is not portable.

    Single-action shape: tp/n_pred/n_gold all come from ONE
    full-outer join + aggregate job (instead of three separate
    counting jobs over the inputs, which forced callers to persist
    both sides just to avoid recomputing their upstream inference
    three times — guide §2.4, share the exchange).  The two distinct
    exchanges partition by the same keys as the join, so the join
    itself adds no exchange."""
    p = _seg_keys(pred, keys).withColumn("_in_p", F.lit(1))
    g = _seg_keys(gold, keys).withColumn("_in_g", F.lit(1))
    row = (
        p.join(g, keys, "full_outer")
        .agg(
            F.count(
                F.when(
                    F.col("_in_p").isNotNull()
                    & F.col("_in_g").isNotNull(),
                    1,
                )
            ).alias("tp"),
            F.count("_in_p").alias("n_pred"),
            F.count("_in_g").alias("n_gold"),
        )
        .collect()[0]
    )
    tp, np_, ng = int(row["tp"]), int(row["n_pred"]), int(row["n_gold"])
    prec_x = (1_000_000 * tp) // np_ if np_ else 0
    rec_x = (1_000_000 * tp) // ng if ng else 0
    f1_x = (2_000_000 * tp) // (np_ + ng) if (np_ + ng) else 0
    spark = pred.sparkSession
    return spark.createDataFrame(
        [(tp, np_, ng, prec_x, rec_x, f1_x)],
        "tp long, n_pred long, n_gold long, precision_x1e6 long, "
        "recall_x1e6 long, f1_x1e6 long",
    )


def triple_prf(pred_triples: DataFrame, gold_triples: DataFrame) -> DataFrame:
    """Triple-set P/R — the BASELINE.json acceptance metric."""
    return set_prf(pred_triples, gold_triples, ["subj", "pred", "obj"])


def macro_avg_f1(
    pred_mentions: DataFrame,
    gold_mentions: DataFrame,
    doc_col: str = "conv_id",
    keys: Optional[List[str]] = None,
) -> DataFrame:
    """Per-document F1 then unweighted mean (reference
    avg_bio_f1_score, metrics.py:83-94).

    Output is engine-exact integers: (n_docs, sum_f1_x1e6) with
    per-doc f1_x1e6 = floor(2e6·tp/(n_pred+n_gold)); macro F1 =
    sum_f1_x1e6 / (1e6·n_docs), computed by the reader.

    Divergence from the reference: the document universe here is the
    docs appearing in EITHER mention table — documents with zero gold
    and zero predicted mentions are invisible to mention-level inputs
    and are not counted (the reference averages over its explicit doc
    list, scoring such docs 0.0).  Pass a pre-joined frame that
    includes empty docs if the reference denominator is required."""
    keys = keys or [doc_col, "turn_idx", "tok_start", "tok_end",
                    "entity_type"]
    p = pred_mentions.select(*keys).distinct()
    g = gold_mentions.select(*keys).distinct()
    tp = (
        p.join(g, keys, "inner")
        .groupBy(doc_col)
        .agg(F.count(F.lit(1)).alias("tp"))
    )
    np_ = p.groupBy(doc_col).agg(F.count(F.lit(1)).alias("n_pred"))
    ng = g.groupBy(doc_col).agg(F.count(F.lit(1)).alias("n_gold"))
    per_doc = (
        ng.join(np_, doc_col, "outer")
        .join(tp, doc_col, "left")
        .fillna(0, ["tp", "n_pred", "n_gold"])
        .withColumn(
            "f1_x1e6",
            F.when(
                (F.col("n_pred") + F.col("n_gold")) > 0,
                F.floor(
                    F.lit(2_000_000) * F.col("tp")
                    / (F.col("n_pred") + F.col("n_gold"))
                ),
            ).otherwise(F.lit(1_000_000)).cast("bigint"),
        )
    )
    return per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("f1_x1e6").alias("sum_f1_x1e6"),
    )

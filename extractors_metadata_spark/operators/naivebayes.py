"""Multinomial Naive Bayes language classifier — the learned counterpart of
the heuristic lang_id signal.

Engine-added LLM-data-pipeline capability: fastText-style supervised
language identification is the standard web-corpus routing step (CCNet,
Wenzek et al. 2020 route documents per-language before per-language
filtering). This operator trains the classic multinomial NB model in-engine
on the even-doc_id split (label = the corpus's ``lang`` column) and
classifies the odd split:

    score(c | doc) = ln(N_c / N) + sum_w ln( (c(w,c) + 1) / (T_c + V) )

with add-1 smoothing, V = train vocabulary size, T_c = class token mass.

Float discipline (CLAUDE.md): every ln argument is a ratio of EXACT int64
counts (< 2^53 -> the int->double casts and the single division are
correctly rounded in every engine); each term is emitted as half-even 1e-9
fixed point (np.rint == DuckDB round_even; the margin absorbs NumPy-SIMD-
vs-libm ln ulp drift — the bm25 recipe) and only then summed —
int64 sums are order-independent, so the per-class scores and the argmax
decision are bit-identical under any partitioning. The argmax tie-break is
frozen: max score, then lang ascending.

Scale design (10^12 docs):
- tokens explode ONCE, narrow (doc_id, lang, tok) — never the text;
- c(w,c) is (lang, tok)-keyed with map-side combine; T_c re-aggregates the
  ALREADY-COLLAPSED count frame; V and N ride as broadcast 1-row aggregates;
- scoring fans each test token out only |C| ways (the class dim is tiny and
  BROADCAST — the decisive bound: |C| ~ dozens of languages, never data-
  sized), then one LEFT equi-join against the (lang, tok) count dim
  (broadcastable when the vocab fits, shuffle+AQE otherwise), ONE Arrow
  pass for the fixed-point term, and a (doc, lang)-keyed int-sum aggregate;
- the prediction is a min_by aggregation (never a window sort).

Reference analog: none; completes the text-routing suite (lang_id,
langid_confusion) with the trained-model classifier.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _ln_ratio_fp_udf():
    @F.pandas_udf("long")
    def _fp(num: pd.Series, den: pd.Series) -> pd.Series:
        # exact int64 -> double casts; one correctly-rounded division; the
        # 1e9 rint margin absorbs ln ulp drift. Null-safe: coalesced
        # upstream, but guard anyway (pandas UDFs see full batches).
        n = num.fillna(1).to_numpy(np.int64).astype(np.float64)
        d = den.fillna(1).to_numpy(np.int64).astype(np.float64)
        return pd.Series(np.rint(np.log(n / d) * 1e9).astype(np.int64))

    return _fp


def _doc_tokens(docs: DataFrame, text_col: str, id_col: str, label_col: str) -> DataFrame:
    """(doc_id, lang, tok) under the frozen tokenization (casefold ->
    whitespace split -> drop empties) — one narrow explode."""
    arr = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
        lambda x: F.length(x) > 0,
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(label_col).alias("lang"),
        F.explode(arr).alias("tok"),
    )


def naive_bayes_langid(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "lang",
) -> DataFrame:
    """Train on even doc_ids, classify odd doc_ids with >= 1 token.
    Returns (doc_id, true_lang, pred_lang, score_fp, n_tokens): the argmax
    class, its exact int64 fixed-point log-score (prior + token terms) and
    the scored token count."""
    toks = _doc_tokens(docs, text_col, id_col, label_col)
    train = toks.filter(F.col("doc_id") % 2 == 0)
    test = toks.filter(F.col("doc_id") % 2 == 1).select("doc_id", "tok")

    cwc = train.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("cwc"))
    tc = cwc.groupBy("lang").agg(F.sum("cwc").alias("tc"))
    vsz = train.agg(F.countDistinct("tok").alias("vsz"))

    fp = _ln_ratio_fp_udf()
    tr_docs = docs.filter(F.col(id_col) % 2 == 0)
    pri = tr_docs.groupBy(F.col(label_col).alias("lang")).agg(
        F.count(F.lit(1)).alias("nc")
    )
    ntr = tr_docs.agg(F.count(F.lit(1)).alias("n"))
    prior = pri.crossJoin(F.broadcast(ntr)).select(
        "lang", fp(F.col("nc").cast("long"), F.col("n").cast("long")).alias("prior_fp")
    )

    terms = (
        test.crossJoin(F.broadcast(tc))
        .join(cwc, ["lang", "tok"], "left")
        .crossJoin(F.broadcast(vsz))
        .select(
            "doc_id",
            "lang",
            fp(
                (F.coalesce(F.col("cwc"), F.lit(0)) + 1).cast("long"),
                (F.col("tc") + F.col("vsz")).cast("long"),
            ).alias("term_fp"),
        )
    )
    scores = (
        terms.groupBy("doc_id", "lang")
        .agg(
            F.sum("term_fp").alias("s"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
        .join(F.broadcast(prior), "lang")
        .select(
            "doc_id",
            "lang",
            (F.col("s") + F.col("prior_fp")).alias("score_fp"),
            "n_tokens",
        )
    )
    best = scores.groupBy("doc_id").agg(
        F.min_by(
            F.struct("lang", "score_fp", "n_tokens"),
            F.struct((-F.col("score_fp")).alias("k1"), F.col("lang").alias("k2")),
        ).alias("b")
    )
    truth = docs.select(
        F.col(id_col).alias("doc_id"), F.col(label_col).alias("true_lang")
    )
    return best.join(truth, "doc_id").select(
        "doc_id",
        "true_lang",
        F.col("b.lang").alias("pred_lang"),
        F.col("b.score_fp").alias("score_fp"),
        F.col("b.n_tokens").alias("n_tokens"),
    )


def one_rule_stump(
    df: DataFrame,
    feature,
    label_col: str = "lang",
) -> DataFrame:
    """The 1R decision stump (Holte 1993 — "very simple classification
    rules perform surprisingly well", the baseline every classifier
    must beat): the single integer threshold t on ``feature`` that
    minimizes training error when each side predicts its majority
    label -> one row (threshold, left_label, right_label, n_correct,
    n_errors, n_total).

    Frozen tie rules: majority-label ties break to the smaller label
    string; equal-error thresholds break to the smaller t. Everything
    is exact integer counting (no impurity logs — 1R IS error count).

    Plan: one (x, label) count agg over the data (the only data-sized
    exchange), then a distinct-x CROSS distinct-label zero-filled grid
    (bounded by feature cardinality x classes), per-label cumulative
    window, per-x two composite argmaxes, one global argmin. At 100 TB
    the x-grid is the bounded frame — bucket the feature first if its
    cardinality is unbounded."""
    base = df.select(feature.cast("long").alias("x"), F.col(label_col).alias("lbl"))
    n_total = base.count()
    cnt = base.groupBy("x", "lbl").agg(F.count(F.lit(1)).alias("c"))
    xs = cnt.select("x").distinct()
    lbls = cnt.select("lbl").distinct()
    tot = cnt.groupBy("lbl").agg(F.sum("c").alias("t"))
    grid = (
        xs.crossJoin(F.broadcast(lbls))
        .join(cnt, ["x", "lbl"], "left")
        .select("x", "lbl", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("lbl")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = grid.withColumn("lc", F.sum("c").over(w)).join(
        F.broadcast(tot), "lbl"
    ).withColumn("rc", F.col("t") - F.col("lc"))
    per_x = cum.groupBy("x").agg(
        F.max("lc").alias("lmax"),
        F.min_by("lbl", F.struct((-F.col("lc")).alias("k"), F.col("lbl"))).alias(
            "left_label"
        ),
        F.max("rc").alias("rmax"),
        F.min_by("lbl", F.struct((-F.col("rc")).alias("k"), F.col("lbl"))).alias(
            "right_label"
        ),
    )
    scored = per_x.select(
        F.col("x").alias("threshold"),
        "left_label",
        "right_label",
        (F.col("lmax") + F.col("rmax")).cast("long").alias("n_correct"),
    )
    best = scored.orderBy(
        (F.lit(n_total) - F.col("n_correct")).asc(), F.col("threshold").asc()
    ).limit(1)
    return best.select(
        F.col("threshold").cast("long").alias("threshold"),
        "left_label",
        "right_label",
        "n_correct",
        (F.lit(n_total) - F.col("n_correct")).cast("long").alias("n_errors"),
        F.lit(n_total).cast("long").alias("n_total"),
    )

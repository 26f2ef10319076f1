"""DSIR — data selection with importance resampling (Xie et al. 2023).

The standard pretraining-corpus selection step: score every raw web
document by how target-like its hashed-feature distribution is, and
keep the top-k.  DSIR's estimator is two bag-of-hashed-ngrams unigram
models — p_target and p_raw over B hash buckets — and the per-document
importance weight

    log w(x) = sum over token occurrences of
               [ ln((t_b + 1)/(T + B)) - ln((r_b + 1)/(R + B)) ]

(add-1 smoothing; t_b/r_b per-bucket token counts, T/R total masses).
Here the target corpus is the ``lang == target`` slice and the raw pool
is the whole table — the in-engine analog of "select web text that
looks like the curated reference".  Reference analog: none; this adds
the distribution-matching selector beside the threshold screens
(quality_score).

Float discipline (the naive_bayes/bm25 recipe): every ln argument is a
ratio of EXACT int64 counts; each of the two terms is emitted as
half-even 1e-9 fixed point (np.rint == DuckDB round_even, the margin
absorbs NumPy-SIMD-vs-libm ln ulp drift) and only then subtracted and
summed — int64 sums are order-independent, so scores and the top-k cut
are bit-identical under any partitioning.  Tie-break frozen: score
desc, doc_id asc.

Hashing: bucket = mix31(poly('dsir:' || tok)) % B — the replayable
vhash family (ASCII precondition per functions/vhash.py), mix31
REQUIRED before the bucket decision (CLAUDE.md: raw poly is biased on
short keys).  A production run can swap the leaf for xxhash64; the
plumbing under oracle test is identical.

Scale shape (10^12 docs):
- tokens explode ONCE, narrow (doc_id, is_target, bucket) — never the
  text; the frame is consumed by two aggregations (bucket counts, then
  per-doc scores), so callers at scale persist it or accept one
  recompute of a cheap codegen chain;
- bucket counts are a B-row frame (B = hundreds) -> totals ride as a
  broadcast 1-row crossJoin; weights are a broadcast B-row dim, so
  scoring is scan + broadcast-join + one doc-keyed map-side-combining
  int sum — no data-sized shuffle except the per-doc aggregate;
- the top-k cut is TakeOrderedAndProject (per-partition heap + driver
  merge of k), never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vhash import mix31, poly_hash
from .naivebayes import _ln_ratio_fp_udf


def dsir_select(
    docs: DataFrame,
    target_lang: str = "en",
    buckets: int = 128,
    k: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "lang",
) -> DataFrame:
    """Top-``k`` documents by DSIR importance weight -> (doc_id,
    score_fp, n_tokens); score_fp is the int64 1e-9 fixed-point log
    weight."""
    arr = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
        lambda x: F.length(x) > 0,
    )
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        (F.col(label_col) == target_lang).alias("is_target"),
        F.explode(arr).alias("tok"),
    ).select(
        "doc_id",
        "is_target",
        (mix31(poly_hash(F.concat(F.lit("dsir:"), F.col("tok")))) % buckets).alias(
            "b"
        ),
    )
    bc = toks.groupBy("b").agg(
        F.count(F.lit(1)).alias("rb"),
        F.count_if(F.col("is_target")).alias("tb"),
    )
    tot = bc.agg(
        F.sum("tb").alias("tt"), F.sum("rb").alias("rr")
    )
    fp = _ln_ratio_fp_udf()
    weights = bc.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            fp(F.col("tb") + 1, F.col("tt") + buckets)
            - fp(F.col("rb") + 1, F.col("rr") + buckets)
        ).alias("w_fp"),
    )
    scores = (
        toks.join(F.broadcast(weights), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("w_fp").alias("score_fp"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )
    return scores.orderBy(F.desc("score_fp"), F.asc("doc_id")).limit(int(k))

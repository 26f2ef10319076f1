"""Classifier calibration audit: reliability bins + Brier decomposition
ingredients, all exact integers.

Engine-added capability: the evaluation step between a scorer and a
threshold decision — a curation pipeline that gates on "p(english) > 0.7"
or "quality > 0.4" needs to know whether those scores MEAN their number
(reliability: within a score bin, does the empirical positive rate match the
bin's mean score?) and how good the scorer is overall (Brier score). This
operator emits the per-bin sufficient statistics for both, leaving ratios to
the consumer (the colocation_pi / kaplan_meier discipline: no float leaves
the operator).

Contract: the score arrives as a FIXED-POINT integer in [0, scale] (the
caller quantizes its rational score by integer floor division — exact on
both engines), the label as 0/1. bin = least(score_fp * n_bins div scale,
n_bins - 1) — the top edge closes the last bin. Per bin:

- n, n_pos             (reliability x-axis: n_pos/n)
- sum_score            (reliability y-axis: sum_score/(n*scale))
- brier_num            = sum (score_fp - y*scale)^2, the Brier numerator
                         over denominator n_total * scale^2

int64 envelope: brier_num <= n * scale^2 — scale 1e4 holds to ~9e10 rows
per bin; callers needing more rows shrink scale (documented, the spectral
discipline).

Scale shape: one row-local projection + ONE n_bins-ary aggregate with
map-side combine — nothing else; bins are a bounded literal dimension.

Reference analog: none — part of the engine's eval widening (reliability
of probabilistic scorers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def calibration_bins(
    df: DataFrame,
    score_fp_col: str,
    label_col: str,
    scale: int = 10000,
    n_bins: int = 10,
) -> DataFrame:
    """Per-bin calibration sufficient statistics (see module docstring).

    Returns (bin, n, n_pos, sum_score, brier_num) — one row per occupied
    bin; ``bin`` in [0, n_bins-1].
    """
    s = F.col(score_fp_col).cast("long")
    y = F.col(label_col).cast("long")
    binc = F.least(
        F.expr(f"CAST({score_fp_col} AS BIGINT) * {int(n_bins)} div {int(scale)}"),
        F.lit(int(n_bins) - 1),
    )
    err = s - y * F.lit(int(scale))
    rows = df.select(
        binc.alias("bin"),
        s.alias("_s"),
        y.alias("_y"),
        (err * err).alias("_e2"),
    )
    return rows.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_y").cast("long").alias("n_pos"),
        F.sum("_s").cast("long").alias("sum_score"),
        F.sum("_e2").cast("long").alias("brier_num"),
    )

"""Exact-integer linear model fitting: closed-form ridge regression and
the bounded-round batch perceptron.

Engine-added capability (task mandate: operations a large-scale training-data
pipeline needs): lightweight supervised fits over corpus features — the
quality-regression / heuristic-classifier step a curation pipeline runs to
calibrate filter thresholds (predict document length from token mix, separate
a language by surface statistics) without leaving the cluster.

Both operators keep EVERY emitted value an exact integer (the integer-emission
rule — no float column ever leaves the operator):

- ``ridge_fit`` solves the 3x3 penalized normal equations (X'X + lam*diag(0,1,1))
  w = X'y per group in CLOSED FORM via Cramer's rule on DECIMAL(38,0)
  arithmetic — Spark decimal multiply/`div` replays exactly against DuckDB
  HUGEINT `//` (both truncate toward zero; verified for negative numerators).
  Coefficients ship as fixed-point ``(num * scale) div det`` BIGINTs.
- ``perceptron_fit`` runs R rounds of the BATCH perceptron (sum all
  misclassified gradients per round — the parallelizable variant; the
  classical per-sample walk is inherently serial and order-dependent):
  integer weights, integer margins, deterministic under any partitioning.

Scale design (100 TB): ridge is one partial-aggregating groupBy (9 sums) —
map-side combine does all the work, the Exchange carries one row per group;
the Cramer algebra runs on that collapsed frame. The perceptron is R
full-scan aggregates over a persisted narrow feature frame (R a bounded
literal); weights are a 1-row collect per round (bounded — the anti
collect-loop rule allows 1-row stats frames), so nothing data-sized ever
reaches the driver.

int64/decimal envelopes: ridge needs
``6 * E^3 * scale < 1e38`` for entry magnitude E = max(n, |sums|) — E up to
~2.5e10 at scale=1e6, far above any per-group moment this engine feeds it;
the emitted quotient must fit int64 (coefficients are O(feature scale), so
fixed-point values ~1e9 — nowhere near the edge). The perceptron needs
``|w| * |x| * 3 < 2^63``: after R rounds |w| <= R * sum|x| — document per
call site (R=5 over sf0.1 keeps margins < ~1e14).

Reference analog: none — the reference extractor has no model fitting; this
widens the engine the way naivebayes.py / one_rule did, with exact closed
forms instead of iterative float solvers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_DEC = "decimal(38,0)"


def _det3(a, b, c, d, e, f_, g, h, i):
    """Determinant of [[a,b,c],[d,e,f],[g,h,i]] as Column arithmetic."""
    return (
        a * (e * i - f_ * h)
        - b * (d * i - f_ * g)
        + c * (d * h - e * g)
    )


def ridge_fit(
    df: DataFrame,
    group_cols,
    x1_col: str,
    x2_col: str,
    y_col: str,
    lam: int = 10000,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-group closed-form ridge regression y ~ w0 + w1*x1 + w2*x2 with
    penalty ``lam`` on the slopes (intercept unpenalized — classical), all
    arithmetic exact.

    Emits one row per group: (group..., n, w0_fp, w1_fp, w2_fp) with
    ``wj_fp = trunc(num_j * scale / det)`` — the fixed-point coefficient;
    det > 0 is guaranteed by positive-definiteness of X'X + lam*diag(0,1,1)
    for lam > 0 and n >= 1, so truncation direction is fixed by the
    numerator sign (toward zero on BOTH engines).
    """
    x1 = F.col(x1_col).cast("long")
    x2 = F.col(x2_col).cast("long")
    y = F.col(y_col).cast("long")
    g = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x1).alias("s1"),
        F.sum(x2).alias("s2"),
        F.sum(y).alias("sy"),
        F.sum(x1 * x1).alias("s11"),
        F.sum(x1 * x2).alias("s12"),
        F.sum(x2 * x2).alias("s22"),
        F.sum(x1 * y).alias("s1y"),
        F.sum(x2 * y).alias("s2y"),
    )
    D = lambda name: F.col(name).cast(_DEC)  # noqa: E731
    lamc = F.lit(int(lam)).cast(_DEC)
    n, s1, s2 = D("n"), D("s1"), D("s2")
    a11, a12, a22 = D("s11") + lamc, D("s12"), D("s22") + lamc
    b0, b1, b2 = D("sy"), D("s1y"), D("s2y")
    # A = [[n, s1, s2], [s1, a11, a12], [s2, a12, a22]] (symmetric)
    det = _det3(n, s1, s2, s1, a11, a12, s2, a12, a22)
    num0 = _det3(b0, s1, s2, b1, a11, a12, b2, a12, a22)
    num1 = _det3(n, b0, s2, s1, b1, a12, s2, b2, a22)
    num2 = _det3(n, s1, b0, s1, a11, b1, s2, a12, b2)
    sc = F.lit(int(scale)).cast(_DEC)
    withs = (
        g.withColumn("_det", det)
        .withColumn("_n0", num0 * sc)
        .withColumn("_n1", num1 * sc)
        .withColumn("_n2", num2 * sc)
    )
    return withs.select(
        *group_cols,
        F.col("n"),
        F.expr("CAST(_n0 div _det AS BIGINT)").alias("w0_fp"),
        F.expr("CAST(_n1 div _det AS BIGINT)").alias("w1_fp"),
        F.expr("CAST(_n2 div _det AS BIGINT)").alias("w2_fp"),
    )


def perceptron_fit(
    df: DataFrame,
    x1_col: str,
    x2_col: str,
    label_col: str,
    rounds: int = 5,
) -> DataFrame:
    """Batch perceptron over integer features (implicit bias feature 1):
    per round, margin m_i = w0 + w1*x1_i + w2*x2_i; every row with
    y_i * m_i <= 0 (misclassified OR on the boundary — the zero-margin
    start makes round 1 a full-gradient step) contributes y_i * x_i to
    the weight update. Deterministic under any partitioning: the update
    is one commutative integer sum.

    ``label_col`` must be +1 / -1 (long). Returns one row per round:
    (round, n_err, w0, w1, w2) — error count under the round's INCOMING
    weights, weights AFTER the update (the oracle replays verbatim).
    """
    spark = df.sparkSession
    feats = df.select(
        F.col(x1_col).cast("long").alias("x1"),
        F.col(x2_col).cast("long").alias("x2"),
        F.col(label_col).cast("long").alias("y"),
    ).persist()
    try:
        w0 = w1 = w2 = 0
        out = []
        for r in range(1, rounds + 1):
            m = F.lit(w0) + F.lit(w1) * F.col("x1") + F.lit(w2) * F.col("x2")
            bad = (F.col("y") * m) <= 0
            row = feats.agg(
                F.sum(F.when(bad, F.lit(1)).otherwise(F.lit(0))).alias("ne"),
                F.sum(F.when(bad, F.col("y")).otherwise(F.lit(0))).alias("d0"),
                F.sum(
                    F.when(bad, F.col("y") * F.col("x1")).otherwise(F.lit(0))
                ).alias("d1"),
                F.sum(
                    F.when(bad, F.col("y") * F.col("x2")).otherwise(F.lit(0))
                ).alias("d2"),
            ).collect()[0]
            w0 += int(row["d0"])
            w1 += int(row["d1"])
            w2 += int(row["d2"])
            out.append((r, int(row["ne"]), w0, w1, w2))
    finally:
        feats.unpersist()
    return spark.createDataFrame(
        out, "round long, n_err long, w0 long, w1 long, w2 long"
    )

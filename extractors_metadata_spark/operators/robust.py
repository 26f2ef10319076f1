"""Robust outlier detection: per-group median/MAD flagging.

Data-quality gate over numeric streams: mean/stddev break down under the
very outliers being hunted; the robust pair (median, MAD = median absolute
deviation) does not.  Flag x as an outlier in its group when

    |x - med| > k * MAD        (k ~ 4.4478 = 3 sigma-equivalents * 1.4826)

Exactness: both medians use Spark's native interpolated percentile, which
is BIT-equal to DuckDB ``quantile_cont`` (type-7); |x - med| and the
threshold comparison are identical-path IEEE doubles on both engines, so
even boundary rows flag identically.  med/mad
are emitted UNROUNDED (identical-path rule).

Scale design: two group-keyed aggregates (med, then MAD of deviations) +
two BROADCAST joins of the tiny per-group stats back to the stream — the
stream itself is never re-shuffled.  Exact medians sort per group at
scale; for 10^12-row groups swap in approx_percentile at the call site
(the profile_table precedent) — the flag rule is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: 3 * 1.4826 (the normal-consistency constant), written as ONE literal so
#: both engines parse the identical double — never as a product
K_DEFAULT = 4.4478


def mad_outliers(
    df: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    k: float = K_DEFAULT,
) -> DataFrame:
    """(id, group, value, med, mad, is_outlier) per input row."""
    med = df.groupBy(group_col).agg(
        F.percentile(value_col, F.lit(0.5)).alias("med")
    )
    with_med = df.select(group_col, id_col, value_col).join(
        F.broadcast(med), group_col
    )
    mad = (
        with_med.select(
            group_col, F.abs(F.col(value_col) - F.col("med")).alias("_dev")
        )
        .groupBy(group_col)
        .agg(F.percentile("_dev", F.lit(0.5)).alias("mad"))
    )
    out = with_med.join(F.broadcast(mad), group_col)
    return out.select(
        id_col,
        group_col,
        value_col,
        "med",
        "mad",
        (
            F.abs(F.col(value_col) - F.col("med")) > F.lit(float(k)) * F.col("mad")
        ).alias("is_outlier"),
    )


def winsorized_mean(
    df: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    lo: float = 0.05,
    hi: float = 0.95,
) -> DataFrame:
    """Per-group winsorized mean: values clamp to the group's [lo, hi]
    interpolated percentiles (bit-equal cross-engine — the mad_outliers
    pairing), then a fixed-point exact mean (per-row half-even 1e-6
    micro-units -> order-free int64 sum -> half-even integer division) —
    the robust location estimate that, unlike the trimmed mean, keeps N
    constant.  Output (group, n, p_lo, p_hi, wmean_u): wmean_u is the
    mean in exact micro-units.

    Plan: one stats aggregate broadcast back + one group aggregate — the
    stream is scanned twice, shuffled never (broadcast join + partial
    aggs)."""
    stats = df.groupBy(group_col).agg(
        F.percentile(value_col, F.lit(float(lo))).alias("p_lo"),
        F.percentile(value_col, F.lit(float(hi))).alias("p_hi"),
    )
    j = df.select(group_col, value_col).join(F.broadcast(stats), group_col)
    clamped = F.least(F.greatest(F.col(value_col), F.col("p_lo")), F.col("p_hi"))
    agg = j.groupBy(group_col, "p_lo", "p_hi").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.bround(clamped * 1000000.0, 0).cast("long")).alias("_s"),
    )
    # half-even integer division of the nonnegative micro-unit sum
    wmean = F.expr(
        "CASE WHEN 2 * pmod(_s, n) > n "
        "OR (2 * pmod(_s, n) = n AND ((_s - pmod(_s, n)) div n) % 2 = 1) "
        "THEN (_s - pmod(_s, n)) div n + 1 "
        "ELSE (_s - pmod(_s, n)) div n END"
    )
    return agg.select(group_col, "n", "p_lo", "p_hi", wmean.alias("wmean_u"))


def hodges_lehmann(
    counts,
    key_cols,
    bin_col: str = "bin",
    n_col: str = "n",
    bin_lo: int | None = None,
    bin_hi: int | None = None,
):
    """Per-key Hodges-Lehmann location estimator of the zero-filled
    series: the MEDIAN OF PAIRWISE MEANS (x_i + x_j)/2 over i <= j —
    the robust location with 29% breakdown AND ~95% Gaussian efficiency
    (the median trades efficiency, the mean trades robustness; HL is
    the classical best of both, and the point estimate the Wilcoxon
    signed-rank test inverts).

    Exactness: every Walsh average is represented by its integer SUM
    x_i + x_j (den = 2 constant); the median over T(T+1)/2 sums is the
    LOWER-median order statistic at rank (P+1) div 2 by (sum, i, j) —
    an exact integer, no interpolation, frozen ties.

    Output per key: (key..., n_pairs, hl_num, den=2) — HL = hl_num/2.

    Scale shape: a zero-filled (key, bin) grid; the Walsh-average
    frame is O(T^2) per key with T a bounded literal; the median is one
    key-partitioned row_number window on the SAME key Exchange."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    keys = list(key_cols)
    spark = counts.sparkSession
    if bin_lo is None or bin_hi is None:
        row = counts.agg(
            F.min(bin_col).alias("lo"), F.max(bin_col).alias("hi")
        ).first()
        bin_lo = int(row["lo"]) if bin_lo is None else bin_lo
        bin_hi = int(row["hi"]) if bin_hi is None else bin_hi
    n_bins = bin_hi - bin_lo + 1
    n_pairs = n_bins * (n_bins + 1) // 2

    kdim = counts.select(*keys).distinct()
    bins = spark.range(bin_lo, bin_hi + 1).select(
        F.col("id").cast("long").alias(bin_col)
    )
    filled = (
        kdim.crossJoin(F.broadcast(bins))
        .join(counts, keys + [bin_col], "left")
        .select(
            *keys,
            F.col(bin_col).cast("long").alias("_b"),
            F.coalesce(F.col(n_col), F.lit(0)).cast("long").alias("_c"),
        )
    )
    a = filled.select(*keys, F.col("_b").alias("_i"), F.col("_c").alias("_xi"))
    b = filled.select(*keys, F.col("_b").alias("_j"), F.col("_c").alias("_xj"))
    walsh = a.join(b, keys).filter(F.col("_j") >= F.col("_i")).select(
        *keys, "_i", "_j", (F.col("_xi") + F.col("_xj")).alias("_s")
    )
    w = Window.partitionBy(*keys).orderBy("_s", "_i", "_j")
    med = walsh.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == (n_pairs + 1) // 2
    )
    return med.select(
        *keys,
        F.lit(n_pairs).cast("long").alias("n_pairs"),
        F.col("_s").alias("hl_num"),
        F.lit(2).cast("long").alias("den"),
    )

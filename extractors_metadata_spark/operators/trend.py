"""Mann-Kendall trend statistics per spatial key — emerging-hotspot style.

The Mann-Kendall test is the standard non-parametric monotone-trend
detector for per-cell time series (it is the per-cell engine inside the
GIS "emerging hot spot analysis" workflow: a cell whose daily activity
counts trend up is an emerging hotspot, one trending down is fading).
Reference analog: the geostreams datapoint counts the reference uploads
per sensor over time (terraref/extractors-metadata's
terra_geostreams.py builds exactly such per-site time series); this
operator is the trend summary a monitoring consumer runs over them.

Everything is exact integer arithmetic:

    S      = sum over bin pairs i < j of sign(c_j - c_i)
    var18  = n(n-1)(2n+5) - sum over tie groups t(t-1)(2t+5)
             (18 * Var(S), the tie-corrected variance numerator)

with c_* exact int64 counts on a ZERO-FILLED bin grid (absence of events
is a real zero, not a missing observation — dropping empty bins would
bias S toward whatever the occupied bins do). The z statistic
(S-1)/sqrt(var18/18) stays consumer-side; the emitted integers are the
whole sufficient statistic and hash-exactly replayable.

Scale shape: the time-bin count T is fixed by the corpus time range (a
bounded literal — 30 daily bins here), so per-key work is O(T^2) =
constant and total work is linear in occupied keys. The plan is one
map-side-combining count aggregate, one broadcast of the T-row bin grid
(grid rows = keys x T via a broadcast crossJoin, never a shuffle), one
key-keyed self-join bounded to T alignments, and two collapsed
aggregates. No floats anywhere.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def mann_kendall(
    counts: DataFrame,
    key_cols: Sequence[str],
    bin_col: str = "bin",
    n_col: str = "n",
    bin_lo: int | None = None,
    bin_hi: int | None = None,
) -> DataFrame:
    """Per-key Mann-Kendall S and tie-corrected variance numerator.

    ``counts``: one row per (key..., bin) with an exact int64 count —
    pre-aggregated (the caller's groupBy is the only data-sized pass).
    ``bin_lo``/``bin_hi``: inclusive global bin range for the zero-fill
    grid; derived from the data with one tiny scalar action when omitted.

    Returns one row per key: (key..., n_bins, s_stat, var18), exact
    int64, partitioning-invariant.
    """
    keys = list(key_cols)
    spark = counts.sparkSession
    if bin_lo is None or bin_hi is None:
        row = counts.agg(
            F.min(bin_col).alias("lo"), F.max(bin_col).alias("hi")
        ).first()
        bin_lo = int(row["lo"]) if bin_lo is None else bin_lo
        bin_hi = int(row["hi"]) if bin_hi is None else bin_hi
    n_bins = bin_hi - bin_lo + 1

    # zero-filled grid: occupied keys x the bounded bin range. The bin
    # frame is a T-row literal — broadcast, so the crossJoin is a local
    # fan-out of the (already collapsed) key dim, never a shuffle.
    kdim = counts.select(*keys).distinct()
    bins = spark.range(bin_lo, bin_hi + 1).select(
        F.col("id").cast("long").alias(bin_col)
    )
    filled = (
        kdim.crossJoin(F.broadcast(bins))
        .join(counts, keys + [bin_col], "left")
        .select(
            *keys,
            F.col(bin_col),
            F.coalesce(F.col(n_col), F.lit(0)).cast("long").alias("c"),
        )
    )

    # S: every later-bin pair, integer sign (F.signum is double — CASE it)
    a = filled.select(
        *keys, F.col(bin_col).alias("bi"), F.col("c").alias("ca")
    )
    b = filled.select(
        *keys, F.col(bin_col).alias("bj"), F.col("c").alias("cb")
    )
    pairs = a.join(b, keys, "inner").filter(F.col("bj") > F.col("bi"))
    s = pairs.groupBy(*keys).agg(
        F.sum(
            F.when(F.col("cb") > F.col("ca"), F.lit(1))
            .when(F.col("cb") < F.col("ca"), F.lit(-1))
            .otherwise(F.lit(0))
        ).cast("long").alias("s_stat")
    )

    # tie correction: groups of equal c within a key
    tie_term = (
        filled.groupBy(*keys, "c")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy(*keys)
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).cast("long").alias("ties")
        )
    )
    nb = F.lit(n_bins).cast("long")
    return (
        s.join(tie_term, keys, "inner")
        .select(
            *keys,
            nb.alias("n_bins"),
            F.col("s_stat"),
            (nb * (nb - 1) * (2 * nb + 5) - F.col("ties"))
            .cast("long")
            .alias("var18"),
        )
    )


def isotonic_fit(
    counts: DataFrame,
    key_cols: Sequence[str],
    bin_col: str = "bin",
    n_col: str = "n",
    den: int = 2329089562800,  # lcm(1..30)
    max_bins: int = 30,
    bin_lo: int | None = None,
    bin_hi: int | None = None,
) -> DataFrame:
    """Per-key ISOTONIC (nondecreasing L2) regression of the zero-filled
    integer bin series, via the exact minimax characterization of PAVA:

        fitted[i] = max_{a <= i} min_{b >= i} mean(y[a..b])

    (Barlow et al. 1972 — the closed form that needs no sequential
    pooling, which is what makes the operator BOTH distributable and
    oracle-replayable; PAVA itself is an inherently serial scan).

    Every mean is emitted as the EXACT integer fixed point
    mean * den with den = lcm(1..max_bins) (den divisible by every
    window length, so sum * (den div len) is exact int64 — the
    integer-emission rule; the consumer divides).  Raises
    if the zero-fill grid exceeds ``max_bins`` (den would stop being
    exact) — widen den for longer series.

    Output: one row per (key..., bin): (key..., bin, y, fitted_fp, den).
    int64 envelope: per-key total count * den < 2^63 (~4e5 events/key
    at the default den).

    Scale shape: zero-fill = key-dim x broadcast T-row bin literal (the
    mann_kendall grid); the (a, b) pair frame is O(T^2) PER KEY with T
    a bounded literal — constant per-key work; suffix-min and argmax
    run as key-partitioned window + aggregate on the SAME partitioning
    (one Exchange end to end)."""
    from pyspark.sql import Window

    keys = list(key_cols)
    spark = counts.sparkSession
    if bin_lo is None or bin_hi is None:
        row = counts.agg(
            F.min(bin_col).alias("lo"), F.max(bin_col).alias("hi")
        ).first()
        bin_lo = int(row["lo"]) if bin_lo is None else bin_lo
        bin_hi = int(row["hi"]) if bin_hi is None else bin_hi
    n_bins = bin_hi - bin_lo + 1
    if n_bins > max_bins:
        raise ValueError(
            f"grid of {n_bins} bins exceeds max_bins={max_bins}; "
            f"den=lcm(1..{max_bins}) would not be exact"
        )

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
    w = Window.partitionBy(*keys).orderBy("_b")
    ps = filled.withColumn(
        "_ps", F.sum("_c").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    a = ps.select(
        *keys, F.col("_b").alias("_a"),
        (F.col("_ps") - F.col("_c")).alias("_psa"),
    )
    b = ps.select(*keys, F.col("_b").alias("_bb"), F.col("_ps").alias("_psb"))
    pairs = a.join(b, keys).filter(F.col("_bb") >= F.col("_a")).select(
        *keys, "_a", "_bb",
        (
            (F.col("_psb") - F.col("_psa"))
            * F.expr(f"{int(den)} div (_bb - _a + 1)")
        ).alias("_mfp"),
    )
    wsuf = Window.partitionBy(*keys, "_a").orderBy(F.col("_bb").desc())
    m = pairs.withColumn(
        "_m", F.min("_mfp").over(wsuf.rowsBetween(Window.unboundedPreceding, 0))
    )
    fit = m.groupBy(*keys, F.col("_bb").alias("_b")).agg(
        F.max("_m").alias("fitted_fp")
    )
    return (
        filled.join(fit, keys + ["_b"])
        .select(
            *keys,
            F.col("_b").alias(bin_col),
            F.col("_c").alias("y"),
            F.col("fitted_fp"),
            F.lit(int(den)).cast("long").alias("den"),
        )
    )


def holt_forecast(
    counts: DataFrame,
    key_cols: Sequence[str],
    bin_col: str = "bin",
    n_col: str = "n",
    horizon: int = 7,
    scale: int = 65536,
    bin_lo: int | None = None,
    bin_hi: int | None = None,
) -> DataFrame:
    """Per-key Holt double-exponential smoothing of the zero-filled
    integer bin series, QUANTIZED so it replays exactly: with
    alpha = beta = 1/2 the update is a pure integer recurrence on
    ``scale``-fixed-point state

        l_t = floor((y_t*S + l_{t-1} + b_{t-1}) / 2)      l_0 = y_0*S
        b_t = floor((l_t - l_{t-1} + b_{t-1}) / 2)        b_0 = 0

    (floor, not truncation — b_t goes negative on down-trends; both
    engines build floor-div explicitly per the linedda recipe).  The
    halving IS the smoothing constant, so the operator is the exact-
    arithmetic member of the EWMA family (decay_score holds the decayed-
    sum variant); level + trend give the h-step forecast l + h*b.

    Returns one row per key: (key..., l_fp, b_fp, fc_fp, scale) — the
    final state and the ``horizon``-step-ahead forecast, all int64
    (consumer divides by ``scale``).

    Scale shape: the zero-fill grid (mann_kendall idiom) collapses to
    ONE array per key (array_sort of T structs, T a bounded literal);
    the recurrence runs vectorized ACROSS keys in one Arrow pass with a
    T-step NumPy loop — per-key work O(T), sequential only in the
    bounded time axis, never in keys.  The DuckDB oracle replays it as
    a recursive day-join on the same integers."""
    keys = list(key_cols)
    spark = counts.sparkSession
    if bin_lo is None or bin_hi is None:
        row = counts.agg(
            F.min(bin_col).alias("lo"), F.max(bin_col).alias("hi")
        ).first()
        bin_lo = int(row["lo"]) if bin_lo is None else bin_lo
        bin_hi = int(row["hi"]) if bin_hi is None else bin_hi

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
    series = filled.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_b", "_c"))),
            lambda s: s["_c"],
        ).alias("_ys")
    )

    S = int(scale)

    @F.pandas_udf("array<long>")
    def _holt(ys: pd.Series) -> pd.Series:
        y = np.stack([np.asarray(v, dtype=np.int64) for v in ys])
        l = y[:, 0] * S
        b = np.zeros(len(y), dtype=np.int64)
        for t in range(1, y.shape[1]):
            ln = (y[:, t] * S + l + b) // 2  # numpy // floors
            b = (ln - l + b) // 2
            l = ln
        return pd.Series(np.stack([l, b], axis=1).tolist())

    out = series.select(*keys, _holt("_ys").alias("_lb"))
    return out.select(
        *keys,
        F.element_at("_lb", 1).alias("l_fp"),
        F.element_at("_lb", 2).alias("b_fp"),
        (F.element_at("_lb", 1) + horizon * F.element_at("_lb", 2)).alias(
            "fc_fp"
        ),
        F.lit(S).cast("long").alias("scale"),
    )


def changepoint_split(
    counts: DataFrame,
    key_cols: Sequence[str],
    bin_col: str = "bin",
    n_col: str = "n",
    den: int = 2329089562800,  # lcm(1..30)
    max_bins: int = 30,
    bin_lo: int | None = None,
    bin_hi: int | None = None,
) -> DataFrame:
    """Per-key single CHANGE-POINT detection on the zero-filled series:
    the split s minimizing SSE_left + SSE_right — the first step of
    binary segmentation / the CART regression split.  Since total Sum y^2
    is split-invariant, the argmin is the argmax of

        g(s) = S_L^2 / n_L + S_R^2 / n_R

    which multiplied by den = lcm(1..max_bins) is EXACT int64
    (S^2 * (den div n) — the isotonic_fit discipline; envelope ~1400
    events/key at the default den: S^2 * den < 2^63).  Ties break to
    the earliest split (frozen).

    Output per key: (key..., split_bin, n_l, s_l, n_r, s_r, g_fp, den)
    — split_bin is the LAST bin of the left segment; means and the
    variance reduction are consumer-side rationals of the emitted ints.

    Scale shape: one key-partitioned window pass (prefix sums + totals
    share the Exchange) + one map-side-combining max_by argmax —
    per-key work O(T), T a bounded literal."""
    from pyspark.sql import Window

    keys = list(key_cols)
    spark = counts.sparkSession
    if bin_lo is None or bin_hi is None:
        row = counts.agg(
            F.min(bin_col).alias("lo"), F.max(bin_col).alias("hi")
        ).first()
        bin_lo = int(row["lo"]) if bin_lo is None else bin_lo
        bin_hi = int(row["hi"]) if bin_hi is None else bin_hi
    n_bins = bin_hi - bin_lo + 1
    if n_bins > max_bins:
        raise ValueError(
            f"grid of {n_bins} bins exceeds max_bins={max_bins}"
        )

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
    w = Window.partitionBy(*keys).orderBy("_b")
    wa = Window.partitionBy(*keys)
    d = int(den)
    t = int(n_bins)
    lo = int(bin_lo)
    sp = (
        filled.withColumn(
            "_ps", F.sum("_c").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        .withColumn("_st", F.sum("_c").over(wa))
        .filter(F.col("_b") < bin_hi)
        .select(
            *keys,
            F.col("_b"),
            (F.col("_b") - lo + 1).alias("_nl"),
            F.col("_ps").alias("_sl"),
            (F.lit(t) - (F.col("_b") - lo + 1)).alias("_nr"),
            (F.col("_st") - F.col("_ps")).alias("_sr"),
        )
        .withColumn(
            "_g",
            F.col("_sl") * F.col("_sl") * F.expr(f"{d} div _nl")
            + F.col("_sr") * F.col("_sr") * F.expr(f"{d} div _nr"),
        )
    )
    best = sp.groupBy(*keys).agg(
        F.max_by(
            F.struct("_b", "_nl", "_sl", "_nr", "_sr", "_g"),
            F.struct(F.col("_g"), (-F.col("_b")).alias("_nb")),
        ).alias("_x")
    )
    return best.select(
        *keys,
        F.col("_x._b").alias("split_bin"),
        F.col("_x._nl").alias("n_l"),
        F.col("_x._sl").alias("s_l"),
        F.col("_x._nr").alias("n_r"),
        F.col("_x._sr").alias("s_r"),
        F.col("_x._g").alias("g_fp"),
        F.lit(d).cast("long").alias("den"),
    )


def runs_test(
    counts: DataFrame,
    key_cols: Sequence[str],
    bin_col: str = "bin",
    n_col: str = "n",
    bin_lo: int | None = None,
    bin_hi: int | None = None,
) -> DataFrame:
    """Per-key Wald-Wolfowitz RUNS TEST ingredients on the zero-filled
    series -> (key..., med, n_above, n_below, n_runs): dichotomize each
    bin against the key's LOWER MEDIAN (the order statistic at rank
    (T+1) div 2 over (value, bin) — an exact integer, no interpolation),
    drop ties with the median (the classical treatment), and count the
    runs of consecutive same-side bins in time order.  Too FEW runs =
    trending/clustered, too MANY = oscillating; the z-score against the
    known runs distribution stays consumer-side (it has a sqrt).

    All exact int64; keys whose series is constant (everything ties the
    median) emit n_above = n_below = n_runs = 0.

    Plan: the mann_kendall zero-fill grid; ONE key-partitioned sort
    window for the median rank, one key-time window for the run starts,
    two collapsed aggregates — all on the same key Exchange."""
    from pyspark.sql import Window

    keys = list(key_cols)
    spark = counts.sparkSession
    if bin_lo is None or bin_hi is None:
        row = counts.agg(
            F.min(bin_col).alias("lo"), F.max(bin_col).alias("hi")
        ).first()
        bin_lo = int(row["lo"]) if bin_lo is None else bin_lo
        bin_hi = int(row["hi"]) if bin_hi is None else bin_hi
    n_bins = bin_hi - bin_lo + 1

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
    wv = Window.partitionBy(*keys).orderBy("_c", "_b")
    med = (
        filled.withColumn("_rn", F.row_number().over(wv))
        .filter(F.col("_rn") == (n_bins + 1) // 2)
        .select(*keys, F.col("_c").alias("med"))
    )
    sided = (
        filled.join(med, keys)
        .filter(F.col("_c") != F.col("med"))
        .withColumn("_s", (F.col("_c") > F.col("med")).cast("int"))
    )
    wt = Window.partitionBy(*keys).orderBy("_b")
    runs = sided.withColumn(
        "_new",
        F.when(F.col("_s") == F.lag("_s").over(wt), F.lit(0)).otherwise(F.lit(1)),
    )
    agg = runs.groupBy(*keys).agg(
        F.sum(F.col("_s").cast("long")).alias("n_above"),
        F.sum((1 - F.col("_s")).cast("long")).alias("n_below"),
        F.sum("_new").cast("long").alias("n_runs"),
    )
    return (
        med.join(agg, keys, "left")
        .select(
            *keys,
            "med",
            F.coalesce(F.col("n_above"), F.lit(0)).cast("long").alias("n_above"),
            F.coalesce(F.col("n_below"), F.lit(0)).cast("long").alias("n_below"),
            F.coalesce(F.col("n_runs"), F.lit(0)).cast("long").alias("n_runs"),
        )
    )

"""Stay-point detection: maximal low-movement runs in a point stream.

The trajectory-mining complement of ``trajectory.scan_legs``: instead of
splitting at heading changes, split wherever a step JUMPS (> ``d_cm``), so
each run is a maximal stretch of consecutive pings that stayed near each
other — the classic stay-point / stop-detection primitive (dwell sites in
vehicle tracks, scanner idle positions, crawler revisit clusters).

Semantics (frozen, replayable):
- points order by (ts, id) within the user — the engine's sessionization
  tie-break; the step INTO each point (distance from its predecessor, the
  frozen equirect kernel, half-up integer centimeters — the scan_legs
  pairing) decides continuity: step > d_cm (or no predecessor) starts a
  new run (``stay_id`` = running break count);
- per run: ping count, t_start/t_end + exact microsecond duration
  (unix_micros == DuckDB epoch_us), intra-run path length (int cm sum —
  break steps belong to no run), and the centroid as HALF-EVEN integer
  1e-7-degree fixed point: coords quantize per point (F.bround ==
  round_even at 0 decimals), sums shift nonnegative (integer division
  truncates in both engines), divide half-even, unshift;
- ``is_stay`` labels runs with duration >= ``min_dur_s`` AND pings >=
  ``min_pings`` (a filter would hide the negatives from the oracle).

Scale design: ONE user-keyed Exchange carries the lag window and the
running break-count (the sessions.py contract); the step kernel is one
Arrow pass; the (user, run) rollup re-shuffles only because the Arrow node
drops partitioning info, and its partial aggregate collapses runs map-side
first (the scan_legs plan shape). Every aggregate is exact int64.

Reference analog: none — the reference handles one observation at a time
(``/root/reference/sensorposition/terra_sensorposition.py:51-58``); this
is the engine-added dwell analysis over the same position stream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .radius_join import _pair_dist_udf

#: centroid fixed point: 1e-7 deg (~1.1 cm); shifts keep sums nonnegative
LAT_OFF = 90 * 10_000_000
LON_OFF = 180 * 10_000_000


def _he_div(a: Column, n: Column) -> Column:
    """round-half-even(a / n) for NONNEGATIVE int columns — pure integer
    (quotient via exact double division of the divisible part).  BOUND:
    ``a`` must stay < 2^53 — here a = sum of shifted 1e-7-deg coords
    <= 1.23e9 * n_pings, exact up to ~7e6 pings per stay (beyond that,
    use the ``div``-based form in resample.py — the double trick measured
    off-by-one at ~4e18 there)."""
    q = ((a - a % n) / n).cast("long")
    r = a % n
    return F.when((2 * r > n) | ((2 * r == n) & (q % 2 == 1)), q + 1).otherwise(q)


def stay_points(
    df: DataFrame,
    d_cm: int = 3000,
    min_dur_s: int = 36_000,
    min_pings: int = 3,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """(user, stay_id, n_pings, t_start, t_end, dur_us, clat_e7, clon_e7,
    length_cm, is_stay) — one row per maximal within-``d_cm`` run."""
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    s = (
        df.select(user_col, ts_col, id_col, lat_col, lon_col)
        .withColumn("_plat", F.lag(lat_col).over(w))
        .withColumn("_plon", F.lag(lon_col).over(w))
    )
    step_cm = F.round(
        _pair_dist_udf()("_plat", "_plon", lat_col, lon_col) * 100.0, 0
    ).cast("long")
    s = s.withColumn("_cm", step_cm)
    brk = (F.col("_cm").isNull() | (F.col("_cm") > d_cm)).cast("long")
    s = s.withColumn(
        "_run", F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0))
    ).withColumn(
        "_qlat",
        F.bround(F.col(lat_col) * 10000000.0, 0).cast("long") + F.lit(LAT_OFF),
    ).withColumn(
        "_qlon",
        F.bround(F.col(lon_col) * 10000000.0, 0).cast("long") + F.lit(LON_OFF),
    )
    g = s.groupBy(F.col(user_col), F.col("_run").alias("stay_id")).agg(
        F.count(F.lit(1)).alias("n_pings"),
        F.min(ts_col).alias("t_start"),
        F.max(ts_col).alias("t_end"),
        F.sum("_qlat").alias("_slat"),
        F.sum("_qlon").alias("_slon"),
        F.sum(F.when(F.col("_cm") <= d_cm, F.col("_cm"))).alias("_len"),
    )
    # NTZ parquet timestamps: session TZ is pinned UTC (session.py), so the
    # cast is wall-clock-exact and unix_micros equals DuckDB epoch_us
    dur = F.unix_micros(F.col("t_end").cast("timestamp")) - F.unix_micros(
        F.col("t_start").cast("timestamp")
    )
    return g.select(
        user_col,
        "stay_id",
        "n_pings",
        "t_start",
        "t_end",
        dur.alias("dur_us"),
        (_he_div(F.col("_slat"), F.col("n_pings")) - F.lit(LAT_OFF)).alias("clat_e7"),
        (_he_div(F.col("_slon"), F.col("n_pings")) - F.lit(LON_OFF)).alias("clon_e7"),
        F.coalesce(F.col("_len"), F.lit(0)).cast("long").alias("length_cm"),
        (
            (dur >= F.lit(int(min_dur_s) * 1_000_000)) & (F.col("n_pings") >= min_pings)
        ).alias("is_stay"),
    )

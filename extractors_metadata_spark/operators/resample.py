"""Trajectory resampling: fixed-grid linear interpolation of point tracks.

The temporal regularizer of the trajectory suite (scan_legs segments,
stay_points dwells — this op NORMALIZES): re-sample each user's track at a
fixed time grid (every ``grid_s``), linearly interpolating position between
the bracketing pings.  Downstream consumers (tile heatmaps over time,
co-movement joins, animation frames) want aligned timestamps, not raw ping
times.

Semantics (frozen, replayable):
- pings order by (ts, id) per user; each consecutive pair is a SEGMENT
  [t0, t1]; segments longer than ``max_gap_s`` are data gaps and are NOT
  interpolated (emitting positions across a gap invents data);
- a segment emits every grid time g in (t0, t1] (half-open start: a ping
  exactly on the grid belongs to the segment that ENDS there — no double
  emission at segment boundaries);
- position at g = q0 + round_half_even(dq * (g - t0) / (t1 - t0)) in
  1e-7-deg fixed point (the staypoints quantization), computed entirely in
  int64: the signed half-even division shifts the numerator nonnegative by
  DQ_MAX * den (integer division truncates in both engines)
  and the shifted product is bounded by 2 * DQ_MAX * max_gap_us, which the
  defaults keep < 2^63 (DQ_MAX = 1e8 ~ 10 deg of movement per segment,
  max_gap 12 h). Raising max_gap_s beyond ~12.8 h requires lowering
  DQ_MAX's implied span — the product bound is the documented contract.

Scale design: ONE user-keyed Exchange (lag window); the grid explode is a
per-segment F.sequence fan-out bounded by segment_span/grid_s — narrow
rows (user, g, 4 ints), no UDF anywhere (pure codegen); output needs no
re-shuffle (already user-partitioned for downstream per-user consumers).

Reference analog: none — the reference emits one datapoint per raw
observation (``terra_sensorposition.py:85-93``); this is the engine-added
alignment pass over the same stream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: signed-division shift: |dq| (1e-7 deg units) must stay below this per
#: segment — 1e8 = 10 degrees of movement between consecutive pings
DQ_MAX = 100_000_000


def _he_div_signed_expr(num: str, den: str) -> Column:
    """round-half-even(``num`` / ``den``) for den > 0 and |num| <=
    DQ_MAX * den — shifts the numerator nonnegative (integral ``div``
    truncates == floors there), divides half-even, unshifts.  Built on
    Spark SQL's ``div`` (exact int64) because the (a - a%den)/den
    double-division trick is only exact below 2^53 and the shifted
    numerator here reaches ~4e18 (measured off-by-one at sf0.01 before
    this fix).  ``num``/``den`` are COLUMN NAMES (expr-quoted)."""
    a = f"({num} + {DQ_MAX}L * {den})"
    q = f"({a} div {den})"
    return F.expr(
        f"CASE WHEN 2 * ({a} % {den}) > {den} "
        f"OR (2 * ({a} % {den}) = {den} AND {q} % 2 = 1) "
        f"THEN {q} + 1 ELSE {q} END - {DQ_MAX}L"
    )


def resample_track(
    df: DataFrame,
    grid_s: int = 3600,
    max_gap_s: int = 43_200,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """(user, g_us, lat_e7, lon_e7) — interpolated position at every grid
    time covered by a within-``max_gap_s`` segment."""
    g_us = int(grid_s) * 1_000_000
    gap_us = int(max_gap_s) * 1_000_000
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    q = df.select(
        user_col,
        F.col(id_col),
        F.col(ts_col),
        us.alias("_t1"),
        F.bround(F.col(lat_col) * 10000000.0, 0).cast("long").alias("_qlat1"),
        F.bround(F.col(lon_col) * 10000000.0, 0).cast("long").alias("_qlon1"),
    )
    seg = (
        q.withColumn("_t0", F.lag("_t1").over(w))
        .withColumn("_qlat0", F.lag("_qlat1").over(w))
        .withColumn("_qlon0", F.lag("_qlon1").over(w))
        .filter(
            F.col("_t0").isNotNull()
            & (F.col("_t1") > F.col("_t0"))
            & (F.col("_t1") - F.col("_t0") <= gap_us)
        )
    )
    g_start = F.col("_t0") - F.col("_t0") % g_us + F.lit(g_us)
    g_end = F.col("_t1") - F.col("_t1") % g_us
    seg = seg.filter(g_start <= g_end).select(
        user_col,
        "_t0",
        "_t1",
        "_qlat0",
        "_qlat1",
        "_qlon0",
        "_qlon1",
        F.explode(F.sequence(g_start, g_end, F.lit(g_us))).alias("g_us"),
    )
    seg = seg.withColumn("_den", F.col("_t1") - F.col("_t0")).withColumn(
        "_nlat", (F.col("_qlat1") - F.col("_qlat0")) * (F.col("g_us") - F.col("_t0"))
    ).withColumn(
        "_nlon", (F.col("_qlon1") - F.col("_qlon0")) * (F.col("g_us") - F.col("_t0"))
    )
    lat = F.col("_qlat0") + _he_div_signed_expr("_nlat", "_den")
    lon = F.col("_qlon0") + _he_div_signed_expr("_nlon", "_den")
    return seg.select(
        user_col, "g_us", lat.alias("lat_e7"), lon.alias("lon_e7")
    )

"""Polygon footprint statistics: geodesic-projected area and perimeter.

F-family widening: the reference derives footprint polygons and bounding
boxes (``calculate_gps_bounds``, ``terra_sensorposition.py:51-58``) but
never measures them; corpus-scale curation wants exactly that — "how
much ground does this capture cover", "flag degenerate slivers".

Semantics (frozen, cross-engine replayable):
- vertices are projected onto the engine's equirectangular plane
  ANCHORED AT THE RING'S FIRST VERTEX (lat for the cos scale, lon for
  conditioning) — the same frozen approximation as the kNN/radius
  kernels;
- ``area2_um2`` = |shoelace sum| with EACH cross term rounded half-even
  to integer micro-m² BEFORE the sum: the sum is then an exact int64,
  order-independent — twice the enclosed area, in µm² (callers divide;
  kept doubled so the column stays integral);
- ``perim_cm`` = each edge's equirect length rounded half-even to
  integer centimeters, then exactly summed.

One Arrow pass, fully vectorized over RAGGED rings (flat concat +
``np.add.reduceat`` segment sums — no per-row Python).  np.rint pairs
with DuckDB ``round_even`` and NumPy sqrt/cos/radians are bit-exact vs
DuckDB on this host (CLAUDE.md), so fixed-vertex-count rings replay in
closed-form SQL (the driver query's quads unroll to 4 terms).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions.geodesy import R_MEAN

_DEG = math.pi / 180.0 * R_MEAN


def _stats_udf():
    @pandas_udf("struct<area2_um2: long, perim_cm: long>")
    def _f(lats: pd.Series, lons: pd.Series) -> pd.DataFrame:
        lens = np.fromiter((len(v) for v in lats), dtype=np.int64, count=len(lats))
        if len(lens) == 0 or lens.sum() == 0:
            return pd.DataFrame(
                {"area2_um2": np.zeros(len(lens), np.int64),
                 "perim_cm": np.zeros(len(lens), np.int64)}
            )
        la = np.concatenate([np.asarray(v, np.float64) for v in lats])
        lo = np.concatenate([np.asarray(v, np.float64) for v in lons])
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        # ring-local "next vertex" (wraps to the ring start)
        nxt = np.arange(len(la)) + 1
        nxt[np.cumsum(lens) - 1] = starts
        # equirect plane anchored at each ring's FIRST vertex
        la0 = np.repeat(la[starts], lens)
        lo0 = np.repeat(lo[starts], lens)
        cos0 = np.cos(np.radians(la0))
        x = (lo - lo0) * cos0 * _DEG
        y = (la - la0) * _DEG
        cross = x * y[nxt] - x[nxt] * y
        dx = x[nxt] - x
        dy = y[nxt] - y
        edge = np.sqrt(dx * dx + dy * dy)
        t_um2 = np.rint(cross * 1e6).astype(np.int64)
        e_cm = np.rint(edge * 100.0).astype(np.int64)
        area2 = np.abs(np.add.reduceat(t_um2, starts))
        perim = np.add.reduceat(e_cm, starts)
        # degenerate rings (< 3 vertices) are reported as zero-area with
        # whatever edge sum they have — never dropped
        area2[lens < 3] = 0
        return pd.DataFrame({"area2_um2": area2, "perim_cm": perim})

    return _f


def polygon_stats(
    df: DataFrame, lats_col: str = "ring_lats", lons_col: str = "ring_lons"
) -> DataFrame:
    """Append (area2_um2, perim_cm) for an OPEN ring given as two parallel
    array<double> columns (no repeated closing vertex)."""
    # one _s column so the Arrow kernel runs ONCE, then unpack (two
    # withColumn(s[...]) calls would plan the UDF twice)
    return (
        df.withColumn("_s", _stats_udf()(F.col(lats_col), F.col(lons_col)))
        .withColumn("area2_um2", F.col("_s.area2_um2"))
        .withColumn("perim_cm", F.col("_s.perim_cm"))
        .drop("_s")
    )

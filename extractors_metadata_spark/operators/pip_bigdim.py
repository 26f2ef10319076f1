"""Point-in-polygon join for a NON-broadcastable polygon dimension.

Engine-added scale variant: ``pip_knn.pip_join`` assumes the polygon dim
fits a driver-built broadcast (the reference's 864 plots, any per-site
boundary set). At 10^8+ polygons (parcel/building footprints at planet
scale) that regime breaks — the covering table must be built DISTRIBUTED
and the candidate join must be a SHUFFLE equi-join on the cell key. This
module is that path; the refine kernel is byte-identical to the broadcast
path (both call ``geometry.raycast_contains``), so the two regimes cannot
drift semantically — pinned by an equality pytest on the same inputs.

Scale design (10^12 points x 10^8 polygons):
- Polygon covering cells come from one Arrow pass over the polygon table
  (``hexgrid.bbox_cells_batch`` on per-ring bboxes — the same inflated
  cover ``polyfill`` computes, vectorized), exploded to a narrow
  (cell, polygon id) relation. No driver materialization anywhere.
- Candidates = points ⋈ covering on cell — both sides shuffle ONCE on the
  cell key (``shuffle_hash`` hint: with neither side broadcastable a hash
  join avoids SMJ's per-partition sorts; AQE may still upgrade to
  broadcast at small scale, which is exactly right).
- The ring rides the covering relation into the refine (for typical
  footprint rings this is tens of doubles; for heavy multipolygons keep
  the dim narrow and re-join geometry by id after the candidate dedup).
- Winner dedup is a narrow map-side min(plot_id) aggregate (no window):
  the broadcast path's tie rule, which that path applies in its kernel.

Reference analog: ``plotid_by_latlon.py:51-77`` loads every plot into one
process; the broadcast path lifts that to a cluster, this path lifts it to
dims that no single machine holds.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions import hexgrid
from ..functions.spark_udfs import h3_udf
from .geometry import raycast_contains
from .pip_knn import _ensure_parallel


def _ring_cells_udf(res: int):
    """ring (array<array<double>> of [lon, lat]) -> covering cells at
    ``res``: the inflated-bbox cover (polyfill's rule) over per-row rings,
    vectorized through bbox_cells_batch."""

    @pandas_udf("array<long>")
    def _f(ring: pd.Series) -> pd.Series:
        n = len(ring)
        mn_lat = np.empty(n)
        mx_lat = np.empty(n)
        mn_lon = np.empty(n)
        mx_lon = np.empty(n)
        for i, r in enumerate(ring):
            v = np.asarray([list(p) for p in r], dtype=np.float64)
            mn_lon[i], mn_lat[i] = v[:, 0].min(), v[:, 1].min()
            mx_lon[i], mx_lat[i] = v[:, 0].max(), v[:, 1].max()
        idx, cells = hexgrid.bbox_cells_batch(mn_lat, mn_lon, mx_lat, mx_lon, res)
        counts = np.bincount(idx, minlength=n)
        offs = np.concatenate(([0], np.cumsum(counts)))
        return pd.Series([cells[offs[i]:offs[i + 1]] for i in range(n)])

    return _f


def _contains_ring_udf():
    """Per-row ray-cast: each candidate row carries its own ring."""

    @pandas_udf("boolean")
    def _f(ring: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
        n = len(ring)
        rings = []
        kmax = 1
        for r in ring:
            v = np.asarray([list(p) for p in r], dtype=np.float64)
            if len(v) > 1 and bool((v[0] == v[-1]).all()):
                v = v[:-1]  # drop the explicit closing vertex (edges wrap)
            rings.append(v)
            kmax = max(kmax, len(v))
        x1 = np.full((n, kmax), np.nan)
        y1 = np.full((n, kmax), np.nan)
        x2 = np.full((n, kmax), np.nan)
        y2 = np.full((n, kmax), np.nan)
        for i, v in enumerate(rings):
            k = len(v)
            x1[i, :k] = v[:, 0]
            y1[i, :k] = v[:, 1]
            x2[i, :k] = np.roll(v[:, 0], -1)
            y2[i, :k] = np.roll(v[:, 1], -1)
        return pd.Series(
            raycast_contains(
                x1, y1, x2, y2,
                lon.to_numpy(np.float64), lat.to_numpy(np.float64),
            )
        )

    return _f


def pip_join_bigdim(
    spark,
    points: DataFrame,
    polys: DataFrame,
    point_id: str = "url",
    lat_col: str = "centroid_lat",
    lon_col: str = "centroid_lon",
    poly_id: str = "plot_id",
    ring_col: str = "ring",
    res: int = 13,
) -> DataFrame:
    """Containment join with a distributed polygon dim: one output row per
    matched point, ``plot_id`` = min matching id (same contract as
    ``pip_join``). ``polys`` is a DataFrame with (poly_id, ring) where
    ring is array<array<double>> of [lon, lat] vertices."""
    covering = polys.select(
        F.col(poly_id), F.col(ring_col),
        F.explode(_ring_cells_udf(res)(ring_col)).alias("_cell"),
    )
    narrow = _ensure_parallel(
        spark, points.select(point_id, lat_col, lon_col)
    ).withColumn("_pcell", h3_udf(res)(lat_col, lon_col))
    cand = narrow.join(
        covering.hint("shuffle_hash"),
        narrow["_pcell"] == covering["_cell"],
    )
    hits = cand.filter(_contains_ring_udf()(ring_col, lon_col, lat_col))
    best = hits.groupBy(point_id).agg(F.min(poly_id).alias(poly_id))
    return points.join(best, point_id).select(*points.columns, poly_id)

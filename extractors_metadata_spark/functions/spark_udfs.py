"""Arrow-batched pandas UDF wrappers around the NumPy kernels.

Each is pure NumPy over whole Arrow batches (input_hint: "no per-row
Python"); parsing, string building and explodes stay JVM-side inside
whole-stage codegen. ``footprint_cells`` is a plain function so that two
passes share one implementation: ``footprint_cells_udf`` (the footprint layer
on its own, ``plans.parse.with_footprint_cells``) and the bulk pipeline's one
fused Arrow pass (footprint + cells + resolve + tile ranges,
``plans.pipeline``). The other wrappers serve the registry queries.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf

from . import hexgrid, s2quad, tiles
from .textmeta import extract_text, footprint_from_metadata

FOOTPRINT_CELLS_SCHEMA = (
    "centroid_lat double, centroid_lon double, "
    "sw_lon double, sw_lat double, se_lon double, se_lat double, "
    "ne_lon double, ne_lat double, nw_lon double, nw_lat double, "
    "min_lat double, max_lat double, min_lon double, max_lon double, "
    "cell_r9 long, s2_cell long, cell_r13 long"
)


def footprint_cells(px, py, cbx, cby, fx, fy) -> dict[str, np.ndarray]:
    """Footprint + res-9 H3 + level-16 S2 + res-13 H3 of gantry metadata
    arrays: the ``FOOTPRINT_CELLS_SCHEMA`` fields as NumPy columns. The one
    implementation behind ``footprint_cells_udf`` and the pipeline's fused
    pass (``plans.pipeline``)."""
    c_lat, c_lon, ring = footprint_from_metadata(px, py, cbx, cby, fx, fy)
    lons = ring[:, :4, 0]
    lats = ring[:, :4, 1]
    return {
        "centroid_lat": c_lat,
        "centroid_lon": c_lon,
        "sw_lon": ring[:, 0, 0], "sw_lat": ring[:, 0, 1],
        "se_lon": ring[:, 1, 0], "se_lat": ring[:, 1, 1],
        "ne_lon": ring[:, 2, 0], "ne_lat": ring[:, 2, 1],
        "nw_lon": ring[:, 3, 0], "nw_lat": ring[:, 3, 1],
        "min_lat": lats.min(axis=1), "max_lat": lats.max(axis=1),
        "min_lon": lons.min(axis=1), "max_lon": lons.max(axis=1),
        "cell_r9": hexgrid.h3_encode(c_lat, c_lon, 9),
        "s2_cell": s2quad.s2_encode(c_lat, c_lon, 16),
        # join-resolution cell precomputed here so the spatial join
        # needs no second encode pass (north star: encode cells once
        # in batched columnar passes)
        "cell_r13": hexgrid.h3_encode(c_lat, c_lon, 13),
    }


def footprint_cells_udf():
    """``footprint_cells`` as one scalar pandas UDF (each extra scalar UDF
    adds a full JVM<->Python round trip over the table; at 10^12 rows that is
    the dominant serial overhead)."""

    @pandas_udf(FOOTPRINT_CELLS_SCHEMA)
    def _f(px: pd.Series, py: pd.Series, cbx: pd.Series, cby: pd.Series,
           fx: pd.Series, fy: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(
            footprint_cells(*(s.to_numpy(np.float64) for s in (px, py, cbx, cby, fx, fy)))
        )

    return _f


def h3_udf(res: int):
    @pandas_udf("long")
    def _f(lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series(
            hexgrid.h3_encode(lat.to_numpy(np.float64), lon.to_numpy(np.float64), res)
        )

    return _f


def s2_udf(level: int):
    @pandas_udf("long")
    def _f(lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series(
            s2quad.s2_encode(lat.to_numpy(np.float64), lon.to_numpy(np.float64), level)
        )

    return _f


def tile_xy_udf(zoom: int):
    @pandas_udf("x long, y long")
    def _f(lat: pd.Series, lon: pd.Series) -> pd.DataFrame:
        x, y = tiles.tile_xyz(lat.to_numpy(np.float64), lon.to_numpy(np.float64), zoom)
        return pd.DataFrame({"x": x, "y": y})

    return _f


def extract_text_udf():
    """Re-runs the frozen extraction on html bytes (invariant verification op).

    Row-wise decode is inherent to variable-length binary -> text; the regex
    engine does the per-byte work in C. Used by the verify op, not the hot path
    (the hot path trusts the stored ``text`` column after verification).
    """

    @pandas_udf("string")
    def _f(html: pd.Series) -> pd.Series:
        return html.map(extract_text)

    return _f

"""Raster<->vector slippy tile assignment (J7; north-rule mandate).

One Arrow pass computes the inclusive tile ranges per footprint bbox as flat
int64 columns (``tile_ranges``), then the (z, x, y) fan-out happens JVM-side
via ``explode(sequence(...))`` (``explode_ranges``) — the tile list itself
never materializes in Python, so a footprint spanning thousands of tiles at
z=14 costs only codegen'd row generation. ``tile_assign`` runs both over any
bbox frame; the bulk pipeline (``plans.pipeline``) computes the ranges inside
its one fused Arrow pass and calls only ``explode_ranges``.

Reference analog: the integer (Range, Pass) plot-grid bucketing
(``/root/reference/sensorposition/plotid_by_latlon.py:43-46``), upgraded per
BASELINE.json north_star to WebMercator Z/X/Y tiles.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf

from ..functions import tiles

RANGE_FIELDS = ("x0", "x1", "y0", "y1")


def ranges_schema(zooms: tuple[int, ...]) -> str:
    """DDL of ``tile_ranges``'s columns, in its order."""
    return ", ".join(f"{c}_{z} long" for z in zooms for c in RANGE_FIELDS)


def tile_ranges(min_lat, min_lon, max_lat, max_lon, zooms) -> dict[str, np.ndarray]:
    """bbox arrays -> flat int64 columns ``x0_z, x1_z, y0_z, y1_z`` per zoom:
    one vectorized ``bbox_tile_ranges`` call per zoom, no per-row Python."""
    out = {}
    for z in zooms:
        ranges = tiles.bbox_tile_ranges(min_lat, min_lon, max_lat, max_lon, z)
        out |= {f"{c}_{z}": v for c, v in zip(RANGE_FIELDS, ranges)}
    return out


def _ranges_udf(zooms: tuple[int, ...]):
    @pandas_udf(ranges_schema(zooms))
    def _f(min_lat: pd.Series, min_lon: pd.Series,
           max_lat: pd.Series, max_lon: pd.Series) -> pd.DataFrame:
        bbox = (s.to_numpy(np.float64) for s in (min_lat, min_lon, max_lat, max_lon))
        return pd.DataFrame(tile_ranges(*bbox, zooms))

    return _f


def explode_ranges(
    df: DataFrame, zooms: tuple[int, ...], id_cols: tuple[str, ...] = ("url",),
) -> DataFrame:
    """Rows carrying the range columns ``x0_z, x1_z, y0_z, y1_z`` -> one row
    per (id, z, x, y): the per-zoom ``array<struct>`` is built JVM-side,
    then three JVM explodes (zoom, x, y) generate the rows. Every projection is
    SQL text, so planning costs one py4j call per expression instead of a few
    per ``functions`` call."""
    ids = [f"`{c}`" for c in id_cols]
    per_zoom = ", ".join(
        f"named_struct('z', {int(z)}, "
        + ", ".join(f"'{c}', {c}_{z}" for c in RANGE_FIELDS) + ")"
        for z in zooms
    )
    return (
        df.selectExpr(*ids, f"explode(array({per_zoom})) AS _r")
        .selectExpr(
            *ids, "_r.z AS z", "explode(sequence(_r.x0, _r.x1)) AS x",
            "_r.y0 AS _y0", "_r.y1 AS _y1",
        )
        .selectExpr(*ids, "z", "x", "explode(sequence(_y0, _y1)) AS y")
    )


def tile_assign(
    df: DataFrame,
    zooms: tuple[int, ...] = (9, 10, 11, 12, 13, 14),
    id_cols: tuple[str, ...] = ("url",),
    bbox_cols: tuple[str, str, str, str] = ("min_lat", "min_lon", "max_lat", "max_lon"),
) -> DataFrame:
    """footprints -> one row per (id, z, x, y) tile intersecting the bbox.

    Single pass over the input: one Arrow batch computes all zooms' ranges as
    flat columns, then ``explode_ranges`` fans them out JVM-side — the
    upstream plan is scanned exactly once regardless of len(zooms).
    """
    zooms = tuple(zooms)
    # the UDF struct lands in one column before its 4*len(zooms) fields are
    # referenced, so the plan holds a single UDF call (test_plan_shapes)
    ranged = df.select(*id_cols, _ranges_udf(zooms)(*bbox_cols).alias("_rng"))
    return explode_ranges(ranged.select(*id_cols, "_rng.*"), zooms, id_cols)

"""Raster<->vector slippy tile assignment (J7; north-rule mandate).

One Arrow pass computes the inclusive tile ranges per footprint bbox as flat
int64 columns, then the (z, x, y) fan-out happens JVM-side via
``explode(sequence(...))`` — the tile list itself never materializes in
Python, so a footprint spanning thousands of tiles at z=14 costs only
codegen'd row generation.

Reference analog: the integer (Range, Pass) plot-grid bucketing
(``/root/reference/sensorposition/plotid_by_latlon.py:43-46``), upgraded per
BASELINE.json north_star to WebMercator Z/X/Y tiles.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions import tiles


def _ranges_udf(zooms: tuple[int, ...]):
    """bbox -> flat int64 columns ``x0_z, x1_z, y0_z, y1_z`` per zoom: one
    vectorized ``bbox_tile_ranges`` call per zoom, no per-row Python."""
    schema = ", ".join(f"{c}_{z} long" for z in zooms for c in ("x0", "x1", "y0", "y1"))

    @pandas_udf(schema)
    def _f(min_lat: pd.Series, min_lon: pd.Series,
           max_lat: pd.Series, max_lon: pd.Series) -> pd.DataFrame:
        bbox = [s.to_numpy(np.float64) for s in (min_lat, min_lon, max_lat, max_lon)]
        out = {}
        for z in zooms:
            for c, v in zip(("x0", "x1", "y0", "y1"), tiles.bbox_tile_ranges(*bbox, z)):
                out[f"{c}_{z}"] = v
        return pd.DataFrame(out)

    return _f


def tile_assign(
    df: DataFrame,
    zooms: tuple[int, ...] = (9, 10, 11, 12, 13, 14),
    id_cols: tuple[str, ...] = ("url",),
    bbox_cols: tuple[str, str, str, str] = ("min_lat", "min_lon", "max_lat", "max_lon"),
) -> DataFrame:
    """footprints -> one row per (id, z, x, y) tile intersecting the bbox.

    Single pass over the input: one Arrow batch computes all zooms' ranges as
    flat columns, the per-zoom ``array<struct>`` is built JVM-side, then three
    JVM explodes (zoom, x, y) generate the rows — the upstream plan is scanned
    exactly once regardless of len(zooms).
    """
    zooms = tuple(zooms)
    # the UDF struct lands in one column before its 4*len(zooms) fields are
    # referenced, so the plan holds a single UDF call (test_plan_shapes)
    ranged = df.select(*id_cols, _ranges_udf(zooms)(*bbox_cols).alias("_rng"))
    per_zoom = F.array(*[
        F.struct(
            F.lit(z).alias("z"),
            *[F.col(f"_rng.{c}_{z}").alias(c) for c in ("x0", "x1", "y0", "y1")],
        )
        for z in zooms
    ])
    return (
        ranged.select(*id_cols, F.explode(per_zoom).alias("_r"))
        .select(
            *id_cols,
            F.col("_r.z").alias("z"),
            F.explode(F.sequence("_r.x0", "_r.x1")).alias("x"),
            F.col("_r.y0").alias("_y0"),
            F.col("_r.y1").alias("_y1"),
        )
        .select(*id_cols, "z", "x", F.explode(F.sequence("_y0", "_y1")).alias("y"))
    )

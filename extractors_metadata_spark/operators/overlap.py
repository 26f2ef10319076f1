"""Polygon x bbox overlap join (J-family widening: region queries).

Engine-added capability: the pip/kNN suite answers POINT queries; real
spatial workloads also ask REGION questions — "which plots does this
footprint/tile/viewport intersect?". This operator joins a (huge) table of
axis-aligned lat/lon boxes against the broadcast polygon dim on overlap
(touching counts, the engine-wide rule).

Scale design (100 TB probe side, broadcastable dim — same regime as pip):
- Candidates come from a covering-cell equi-join: the dim side reuses
  ``pip_knn._poly_cells`` (driver-built, broadcast); the probe side
  fans out to its own covering cells via ``hexgrid.bbox_cells_batch`` (the
  vectorized polyfill twin) in ONE Arrow pass. Soundness: any point P in
  box ∩ polygon h3-encodes to a cell in BOTH covers, so every true pair
  shares >= 1 cell (property-tested against brute force).
- Probe fan-out is bounded by box area / cell area (+1 ring of boundary
  cells) — choose ``res`` so typical boxes span O(1) cells; the default
  derives from the dim like pip_join. The probe row is NARROW (id + 4
  doubles); payloads join back on the caller's side if needed.
- Duplicate (box, poly) candidates (pairs sharing several cells) are
  collapsed BEFORE the refine kernel — one exact test per pair — by a
  distinct() keyed on (id, poly_idx); map-side combine shrinks it.
- The refine is one Arrow batch per partition over
  ``PreparedPolygons.rect_overlap`` (exact vertex-in-rect / corner-in-poly
  / edge-intersection decomposition — catches plus-sign overlaps that
  containment tests alone miss).

Reference analog: ``plotid_by_latlon.py:51-77`` scans every polygon per
POINT; the north rule's raster<->vector tiling makes box-vs-polygon the
natural upgrade (a tile IS a box).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, pandas_udf

from ..functions import hexgrid
from .geometry import PreparedPolygons, ring_vertices
from .pip_knn import _ensure_parallel, _poly_cells, choose_res


def _box_cells_udf(res: int):
    @pandas_udf("array<long>")
    def _f(min_lat: pd.Series, min_lon: pd.Series,
           max_lat: pd.Series, max_lon: pd.Series) -> pd.Series:
        n = len(min_lat)
        box_idx, cells = hexgrid.bbox_cells_batch(
            min_lat.to_numpy(np.float64), min_lon.to_numpy(np.float64),
            max_lat.to_numpy(np.float64), max_lon.to_numpy(np.float64), res,
        )
        counts = np.bincount(box_idx, minlength=n)
        offs = np.concatenate(([0], np.cumsum(counts)))
        return pd.Series([cells[offs[i]:offs[i + 1]] for i in range(n)])

    return _f


def _overlap_udf(bc):
    @pandas_udf("boolean")
    def _f(poly_idx: pd.Series, min_lat: pd.Series, min_lon: pd.Series,
           max_lat: pd.Series, max_lon: pd.Series) -> pd.Series:
        prep: PreparedPolygons = bc.value
        return pd.Series(
            prep.rect_overlap(
                poly_idx.to_numpy(np.int64),
                min_lon.to_numpy(np.float64), min_lat.to_numpy(np.float64),
                max_lon.to_numpy(np.float64), max_lat.to_numpy(np.float64),
            )
        )

    return _f


def bbox_overlap_join(
    spark,
    boxes: DataFrame,
    plots: DataFrame | pd.DataFrame,
    box_id: str = "event_id",
    bbox_cols: tuple[str, str, str, str] = (
        "min_lat", "min_lon", "max_lat", "max_lon",
    ),
    res: int | None = None,
) -> DataFrame:
    """One output row per overlapping (box, polygon) pair:
    (box_id, bbox cols, plot_id). ``box_id`` must uniquely key ``boxes``."""
    plots_pdf = plots.toPandas() if isinstance(plots, DataFrame) else plots
    prep = PreparedPolygons.from_pandas(plots_pdf)
    bc = spark.sparkContext.broadcast(prep)
    if res is None:
        # boxes span area, so one res coarser than pip's containment default
        # keeps the probe fan-out at O(1) cells for plot-scale boxes
        res = choose_res(prep, hi=13)
    cells, offsets, idx = _poly_cells(prep.plot_ids, *ring_vertices(plots_pdf["ring"]), res)
    poly_cells = spark.createDataFrame(pd.DataFrame({
        "cell": np.repeat(cells, np.diff(offsets)),
        "poly_idx": idx.astype(np.int64),
        "plot_id": np.asarray(prep.plot_ids, dtype=object)[idx],
    }))

    narrow = _ensure_parallel(spark, boxes.select(box_id, *bbox_cols))
    probe = narrow.withColumn(
        "_cell", F.explode(_box_cells_udf(res)(*bbox_cols))
    )
    cand = (
        probe.join(broadcast(poly_cells), probe["_cell"] == poly_cells["cell"])
        .select(box_id, *bbox_cols, "poly_idx", "plot_id")
        .distinct()
    )
    hits = cand.filter(
        _overlap_udf(bc)("poly_idx", *[F.col(c) for c in bbox_cols])
    )
    return hits.select(box_id, *bbox_cols, "plot_id")

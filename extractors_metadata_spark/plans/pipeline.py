"""The flagship E1 pipeline: documents -> datapoints + tiles (SURVEY.md §3).

Stage order mirrors the reference sensorposition extractor
(``/root/reference/sensorposition/terra_sensorposition.py``), as a map-only
plan with one Python stage:

  gates -> parse/clean (JVM) -> ONE Arrow pass: footprint + cell encode, plot
  resolve (site shortcut P10, else containment, else nearest) and per-zoom tile
  ranges -> datapoint assembly (D6) + Z/X/Y tiles exploded JVM-side

The fused pass (``_pass_udf``) calls the same NumPy code as the layer
functions — ``spark_udfs.footprint_cells``, ``pip_knn._topk`` +
``_emit_resolve`` and ``tile_assign.tile_ranges`` — so each stage has one
implementation; what it saves is the JVM<->Python round trip per stage.
Every projection is SQL text (``selectExpr``), which keeps driver planning to
~200 py4j calls (``functions``-built columns cost a few calls each).

``run_pipeline`` is the entry point for the bulk path: it persists the
resolved frame once, because the datapoint and tile frames it returns both
fan out from it. ``datapoints`` is its first half and persists nothing: the
streaming path (``streaming.stream``) runs it per micro-batch and reads it
once, in the snapshot write. Leaving it unpersisted lets AQE coalesce a small
batch into one task (Spark does not coalesce a cached plan's partitions), so
its UDF runs and its files are written once per batch instead of once per
shuffle partition.

Semantics carried over:
- stream name = sensor + " Datasets" (``terra_sensorposition.py:59``);
- properties carry source url + dataset name (dpmetadata, ``:60-64``);
- scan interval start == end == scan_time (``:85,93``);
- documents that already carry ``site_metadata.sitename`` skip the spatial
  lookup entirely (``:80-86``) — matched_via = 'site';
- all others resolve containment-first, nearest-fallback (``plotid_by_latlon.py``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions.spark_udfs import FOOTPRINT_CELLS_SCHEMA, footprint_cells
from ..operators.pip_knn import _cache_scoped, _Dim, _emit_resolve, _topk
from ..operators.tile_assign import RANGE_FIELDS, explode_ranges, ranges_schema, tile_ranges
from .parse import CELL_FIELDS, FOOTPRINT_ARGS, FOOTPRINT_FIELDS, GEOJSON, HAS_POSITION, parse_metadata

POINT_COLS = [
    "url", "warc_ts", "lang", "dataset_name", "sensor", "date", "scan_time",
    "centroid_lat", "centroid_lon", "min_lat", "max_lat", "min_lon", "max_lon",
    "footprint", "cell_r9", "s2_cell", "cell_r13",
]


def _assemble_datapoints(df: DataFrame) -> DataFrame:
    return df.selectExpr(
        "url", "plot_id", "matched_via", "centroid_lon", "centroid_lat", "footprint",
        "scan_time", "date",
        "concat(sensor, ' Datasets') AS stream",
        "map('source_dataset', url, 'dataset_name', dataset_name) AS properties",
        "cell_r9", "s2_cell",
    )


def _pass_udf(dim: _Dim, zooms: tuple[int, ...]):
    """The fused Arrow pass over (``FOOTPRINT_ARGS``, site flag): footprint +
    cells, then the resolve kernel on the centroid and its res-13 cell, then
    the bbox's tile ranges at ``zooms``, as one struct."""
    schema = ", ".join(
        [FOOTPRINT_CELLS_SCHEMA, "plot_id string, matched_via string"]
        + ([ranges_schema(zooms)] if zooms else [])
    )

    @pandas_udf(schema)
    def _f(px: pd.Series, py: pd.Series, cbx: pd.Series, cby: pd.Series,
           fx: pd.Series, fy: pd.Series, site: pd.Series) -> pd.DataFrame:
        fp = footprint_cells(*(s.to_numpy(np.float64) for s in (px, py, cbx, cby, fx, fy)))
        # site rows reach the lookup kernel with a NaN latitude, which it skips
        lat = np.where(site.to_numpy(bool), np.nan, fp["centroid_lat"])
        lon, cell = fp["centroid_lon"], fp["cell_r13"]
        resolved = _emit_resolve(dim, len(lat), *_topk(dim, lat, lon, cell, 1, True))
        ranges = tile_ranges(fp["min_lat"], fp["min_lon"], fp["max_lat"], fp["max_lon"], zooms)
        return pd.concat([pd.DataFrame(fp), resolved, pd.DataFrame(ranges)], axis=1)

    return _f


def _resolved(
    spark: SparkSession, pages: DataFrame, plots, zooms: tuple[int, ...] = (),
) -> DataFrame:
    """POINT_COLS + plot_id + matched_via (+ the ``x0_z .. y1_z`` tile range
    columns per zoom in ``zooms``) from ONE Arrow pass over the parsed rows."""
    # res 13 (~3.6 m hexes): the per-cell interval prune keeps ~12 candidate
    # plots per point instead of ~86 at res 12 (cell radius shrinks the kept
    # distance band); ring 3 keeps the guaranteed reach ~12 m so edge points
    # rarely need the in-batch brute force
    fused = _pass_udf(_Dim(plots, res=13, ring=3, keep_k=1), zooms)
    args = (F.expr(a) for a in (*FOOTPRINT_ARGS, "sitename IS NOT NULL"))
    # P10: known site -> no lookup; plot id parsed from the sitename tail
    # ("Maricopa plot 42-3" -> "42-3", mirroring the reference passing sitename
    # straight to geostreams, terra_sensorposition.py:80-86)
    return (
        parse_metadata(pages)
        .filter(HAS_POSITION)
        .select("*", fused(*args).alias("fp"))
        .selectExpr(
            *POINT_COLS[:7],  # url .. scan_time, parsed columns passed through
            *(f"fp.{c} AS {c}" for c in FOOTPRINT_FIELDS),
            GEOJSON,
            *(f"fp.{c} AS {c}" for c in CELL_FIELDS),
            "CASE WHEN sitename IS NULL THEN fp.plot_id"
            " ELSE element_at(split(sitename, ' '), -1) END AS plot_id",
            "CASE WHEN sitename IS NULL THEN fp.matched_via ELSE 'site' END AS matched_via",
            *(f"fp.{c}_{z} AS {c}_{z}" for z in zooms for c in RANGE_FIELDS),
        )
        .observe("footprints", F.expr("count(1) AS rows"))
    )


def datapoints(spark: SparkSession, pages: DataFrame, plots) -> DataFrame:
    """Full resolve: one datapoint per doc with positional metadata."""
    return _assemble_datapoints(_resolved(spark, pages, plots))


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    plots,
    zooms=(9, 10, 11, 12, 13, 14),
) -> tuple[DataFrame, DataFrame]:
    """(datapoints, tiles) with observed metrics (A3/A5 analog: the reference's
    created/bytes counters become a Spark observation).

    The resolved frame, tile range columns included, is materialized once,
    since datapoints and tiles both fan out from it; tiles are then a
    JVM-only explode of the ranges. The persist is scoped per call site
    (``pip_knn._cache_scoped``): the next invocation releases the previous
    one's storage, so repeated pipeline runs in one session never accumulate
    MEMORY_AND_DISK blocks, and an identical later plan is never served from
    an earlier pass's still-live cache."""
    zooms = tuple(zooms)
    resolved = _cache_scoped("pipeline_resolved", _resolved(spark, pages, plots, zooms))
    return _assemble_datapoints(resolved), explode_ranges(resolved, zooms)

"""The flagship E1 pipeline: documents -> datapoints + tiles (SURVEY.md §3).

Stage order mirrors the reference sensorposition extractor
(``/root/reference/sensorposition/terra_sensorposition.py``):

  gates -> parse/clean -> footprint + cell encode (one Arrow pass) -> plot
  resolve (site shortcut P10, else containment, else nearest; one Arrow pass)
  -> datapoint assembly (D6) + Z/X/Y tiles

Each stage has one implementation. ``run_pipeline`` is the entry point for
the bulk path: it persists the resolved frame once, because the datapoint and
tile frames it returns both fan out from it. ``datapoints`` is its first half
and persists nothing: the streaming path (``streaming.stream``) runs it per
micro-batch and reads it once, in the snapshot write. Leaving it unpersisted
lets AQE coalesce a small batch into one task (Spark does not coalesce a
cached plan's partitions), so its UDFs run and its files are written once
per batch instead of once per shuffle partition.

Semantics carried over:
- stream name = sensor + " Datasets" (``terra_sensorposition.py:59``);
- properties carry source url + dataset name (dpmetadata, ``:60-64``);
- scan interval start == end == scan_time (``:85,93``);
- documents that already carry ``site_metadata.sitename`` skip the spatial
  lookup entirely (``:80-86``) — matched_via = 'site';
- all others resolve containment-first, nearest-fallback (``plotid_by_latlon.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.pip_knn import _cache_scoped, resolve_column
from ..operators.tile_assign import tile_assign
from .parse import parse_metadata, with_footprint_cells

POINT_COLS = [
    "url", "warc_ts", "lang", "dataset_name", "sensor", "date", "scan_time",
    "centroid_lat", "centroid_lon", "min_lat", "max_lat", "min_lon", "max_lon",
    "footprint", "cell_r9", "s2_cell", "cell_r13",
]


def _assemble_datapoints(df: DataFrame) -> DataFrame:
    return df.select(
        "url",
        "plot_id",
        "matched_via",
        F.col("centroid_lon"),
        F.col("centroid_lat"),
        "footprint",
        "scan_time",
        "date",
        F.concat(F.col("sensor"), F.lit(" Datasets")).alias("stream"),
        F.create_map(
            F.lit("source_dataset"), F.col("url"),
            F.lit("dataset_name"), F.col("dataset_name"),
        ).alias("properties"),
        "cell_r9",
        "s2_cell",
    )


def _resolved(spark: SparkSession, pages: DataFrame, plots) -> DataFrame:
    """footprints + plot resolution as ONE frame: the site shortcut and the
    spatial lookup are a single column expression over the footprint rows."""
    fp = (
        with_footprint_cells(parse_metadata(pages))
        .select(*POINT_COLS, "sitename")
        .observe("footprints", F.count(F.lit(1)).alias("rows"))
    )
    # P10: known site -> no lookup; plot id parsed from the sitename tail
    # ("Maricopa plot 42-3" -> "42-3", mirroring the reference passing sitename
    # straight to geostreams, terra_sensorposition.py:80-86). Site rows reach
    # the lookup kernel with a null latitude, which it skips.
    site = F.col("sitename").isNotNull()
    # res 13 (~3.6 m hexes): the per-cell interval prune keeps ~12 candidate
    # plots per point instead of ~86 at res 12 (cell radius shrinks the kept
    # distance band); ring 3 keeps the guaranteed reach ~12 m so edge points
    # rarely need the in-batch brute force
    lookup = resolve_column(
        plots, F.when(~site, F.col("centroid_lat")), F.col("centroid_lon"),
        res=13, ring=3, cell=F.col("cell_r13"),
    )
    by_site = F.struct(
        F.element_at(F.split(F.col("sitename"), " "), -1).alias("plot_id"),
        F.lit("site").alias("matched_via"),
    )
    return fp.withColumn("_resolved", F.when(site, by_site).otherwise(lookup)).select(
        *POINT_COLS, "_resolved.plot_id", "_resolved.matched_via"
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

    The resolved frame is materialized once, since datapoints and tiles both
    fan out from it. The persist is scoped per call site
    (``pip_knn._cache_scoped``): the next invocation releases the previous
    one's storage, so repeated pipeline runs in one session never accumulate
    MEMORY_AND_DISK blocks."""
    resolved = _cache_scoped("pipeline_resolved", _resolved(spark, pages, plots))
    return _assemble_datapoints(resolved), tile_assign(resolved, zooms=zooms)

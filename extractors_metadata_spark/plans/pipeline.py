"""The flagship E1 pipeline: documents -> datapoints + tiles (SURVEY.md §3).

Stage order mirrors the reference sensorposition extractor
(``/root/reference/sensorposition/terra_sensorposition.py``):

  gates -> parse/clean -> footprint -> cell encode -> plot resolve (site
  shortcut P10, else containment, else nearest) -> datapoint assembly (D6)
  -> snapshot write + metrics

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


def footprints(pages: DataFrame) -> DataFrame:
    """documents -> per-doc footprint+cells (the reusable front half); one
    fused Arrow pass for the whole geometry stage."""
    return with_footprint_cells(parse_metadata(pages))


def _resolved(
    spark: SparkSession,
    pages: DataFrame,
    plots,
    persist: bool = True,
) -> DataFrame:
    """footprints + plot resolution as ONE frame: the site shortcut and the
    spatial lookup are a single column expression over the footprint rows.

    ``persist``: materialize the result once, since datapoints and tiles both
    fan out from it. The persist is scoped per call site
    (``pip_knn._cache_scoped``): the next invocation releases the previous
    one's storage, so repeated pipeline runs in one session never accumulate
    MEMORY_AND_DISK blocks.
    """
    fp = (
        footprints(pages)
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
    resolved = fp.withColumn("_resolved", F.when(site, by_site).otherwise(lookup)).select(
        *POINT_COLS, "_resolved.plot_id", "_resolved.matched_via"
    )
    if persist:
        resolved = _cache_scoped("pipeline_resolved", resolved)
    return resolved


def datapoints(spark: SparkSession, pages: DataFrame, plots) -> DataFrame:
    """Full resolve: one datapoint per doc with positional metadata."""
    return _assemble_datapoints(_resolved(spark, pages, plots))


def tiles_for(datapoints_df: DataFrame, zooms=(9, 10, 11, 12, 13, 14)) -> DataFrame:
    """Tile assignment needs the bbox columns — run on the footprint frame."""
    return tile_assign(datapoints_df, zooms=zooms)


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    plots,
    zooms=(9, 10, 11, 12, 13, 14),
) -> tuple[DataFrame, DataFrame]:
    """(datapoints, tiles) with observed metrics (A3/A5 analog: the reference's
    created/bytes counters become a Spark observation)."""
    resolved = _resolved(spark, pages, plots)
    return _assemble_datapoints(resolved), tile_assign(resolved, zooms=zooms)


def run_pipeline_counts(
    spark: SparkSession,
    pages: DataFrame,
    plots,
    zooms=(9, 10, 11, 12, 13, 14),
) -> tuple[int, int]:
    """Single-action execution: (n_datapoints, n_tiles).

    The datapoint count rides as an Observation on the resolved frame while the
    tile fan-out is the one real action — no second cache, no extra barrier.
    This is the throughput-measurement path (A3 metrics pattern at scale).
    """
    from pyspark.sql import Observation

    resolved = _resolved(spark, pages, plots, persist=False)
    obs = Observation("datapoints")
    observed = resolved.observe(obs, F.count(F.lit(1)).alias("rows"))
    # width-match the tile fan-out to the cores (r6, guide §6): a shuffle-free
    # coalesce to defaultParallelism means fewer task launches and fuller
    # Arrow batches, and is cluster-proportional by construction.
    n_tiles = tile_assign(
        observed.coalesce(spark.sparkContext.defaultParallelism), zooms=zooms
    ).count()
    n_dp = obs.get["rows"]
    return n_dp, n_tiles

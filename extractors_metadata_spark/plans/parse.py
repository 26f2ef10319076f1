"""Metadata parse/clean/footprint plan — the engine's front end (E1/E2 analog).

All parsing is JVM-side (``regexp_extract`` + ``from_json`` + map-key
canonicalization inside whole-stage codegen); the only Python stage is
``with_footprint_cells``, one Arrow pass running the NumPy UTM footprint and
the H3/S2 cell kernels. Stage layout mirrors SURVEY.md §3 E1:

    gates (P1-P2) -> clean (F16) -> typed projection (P7-P9, F1-F8)
    -> footprint (F9) + cell encode (north-rule kernels), one Arrow pass

Reference parity notes:
- presence gate = ``'spatial_metadata' in resource['metadata']``
  (``terra_sensorposition.py:30``) -> metadata-block presence filter;
- key canonicalization = cleaner's ``clean_metadata``
  (``terra_mdcleaner.py:81``): lowercase + fix the 'Camnera' typo family
  (``test.json:28``) + unit-suffix tolerance;
- name split = ``terra_sensorposition.py:56-57``;
- scan-time parse = ``calculate_scan_time`` fmt 'MM/dd/yyyy HH:mm:ss'
  (``test.json:21``), pinned UTC.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.spark_udfs import footprint_cells_udf
from ..schemas import LEMNATEC_MD

SCRIPT_PATTERN = '<script type="application/json" id="lemnatec">(.*?)</script>'


def _clean_keys(m: Column) -> Column:
    """F16: canonicalize metadata map keys (lowercase, known-typo repair)."""
    return F.transform_keys(
        m, lambda k, _v: F.regexp_replace(F.lower(k), "camnera", "camera")
    )


def parse_metadata(pages: DataFrame) -> DataFrame:
    """webpages -> typed per-document metadata columns (rows lacking the
    metadata block are dropped — presence gate P2)."""
    raw = F.regexp_extract(F.decode("html", "UTF-8"), SCRIPT_PATTERN, 1)
    df = (
        pages.withColumn("_raw_md", raw)
        .filter(F.length("_raw_md") > 0)  # P2: presence gate, pushed to scan
        .withColumn("md", F.from_json("_raw_md", LEMNATEC_MD))
    )
    lmm = "md.lemnatec_measurement_metadata"
    gvm = _clean_keys(F.col(f"{lmm}.gantry_system_variable_metadata"))
    sfm = _clean_keys(F.col(f"{lmm}.sensor_fixed_metadata"))
    svm = _clean_keys(F.col(f"{lmm}.sensor_variable_metadata"))

    name_parts = F.split(F.col("md.dataset_name"), " - ")
    ts_part = F.element_at(name_parts, 2)

    return df.select(
        "url",
        "warc_ts",
        "text",
        "lang",
        F.col("md.dataset_name").alias("dataset_name"),
        F.element_at(name_parts, 1).alias("sensor"),
        F.element_at(F.split(ts_part, "__"), 1).alias("date"),
        F.to_timestamp(F.element_at(gvm, "time"), "MM/dd/yyyy HH:mm:ss").alias("scan_time"),
        F.element_at(gvm, "position x [m]").cast("double").alias("pos_x"),
        F.element_at(gvm, "position y [m]").cast("double").alias("pos_y"),
        F.element_at(gvm, "position z [m]").cast("double").alias("pos_z"),
        F.element_at(sfm, "location in camera box x [m]").cast("double").alias("cambox_x"),
        F.element_at(sfm, "location in camera box y [m]").cast("double").alias("cambox_y"),
        F.element_at(sfm, "field of view x [m]").cast("double").alias("fov_x"),
        F.element_at(sfm, "field of view y [m]").cast("double").alias("fov_y"),
        F.element_at(svm, "current setting exposure").alias("exposure"),
        F.col("md.site_metadata.sitename").alias("sitename"),
    )


def with_footprint_cells(parsed: DataFrame) -> DataFrame:
    """Footprint + cell encodings in ONE Arrow/NumPy pass (``footprint_cells_udf``).

    Derives the centroid and bbox ring with the NumPy UTM kernel, plus the
    res-9 H3 (``cell_r9``), level-16 S2 (``s2_cell``) and res-13 H3
    (``cell_r13``, the resolve kernel's probe cell) ids of the centroid. Rows
    without a gantry position are dropped; missing camera-box metadata (the
    nullable-section path) falls back to zero offset / zero FOV, so the
    footprint degenerates to the gantry point, matching the reference's
    'centroid only, no bounding box' branch (``terra_sensorposition.py:66-72``)."""
    fp = footprint_cells_udf()
    df = parsed.filter(F.col("pos_x").isNotNull() & F.col("pos_y").isNotNull())
    df = df.withColumn(
        "fp",
        fp(
            "pos_x",
            "pos_y",
            F.coalesce("cambox_x", F.lit(0.0)),
            F.coalesce("cambox_y", F.lit(0.0)),
            F.coalesce("fov_x", F.lit(0.0)),
            F.coalesce("fov_y", F.lit(0.0)),
        ),
    )
    # GeoJSON polygon built JVM-side from the corner doubles (frozen %.10f repr);
    # same one-extra-nesting ring shape as terra_sensorposition.py:73-78.
    geojson = F.format_string(
        '{"type":"Polygon","coordinates":[[[%.10f,%.10f],[%.10f,%.10f],'
        '[%.10f,%.10f],[%.10f,%.10f],[%.10f,%.10f]]]}',
        F.col("fp.sw_lon"), F.col("fp.sw_lat"),
        F.col("fp.se_lon"), F.col("fp.se_lat"),
        F.col("fp.ne_lon"), F.col("fp.ne_lat"),
        F.col("fp.nw_lon"), F.col("fp.nw_lat"),
        F.col("fp.sw_lon"), F.col("fp.sw_lat"),
    )
    return df.select(
        "*",
        F.col("fp.centroid_lat").alias("centroid_lat"),
        F.col("fp.centroid_lon").alias("centroid_lon"),
        F.col("fp.min_lat").alias("min_lat"),
        F.col("fp.max_lat").alias("max_lat"),
        F.col("fp.min_lon").alias("min_lon"),
        F.col("fp.max_lon").alias("max_lon"),
        F.col("fp.cell_r9").alias("cell_r9"),
        F.col("fp.s2_cell").alias("s2_cell"),
        F.col("fp.cell_r13").alias("cell_r13"),
        geojson.alias("footprint"),
    ).drop("fp")

"""Metadata parse/clean/footprint plan — the engine's front end (E1/E2 analog).

All parsing is JVM-side (``regexp_extract`` + ``from_json``, each evaluated
once per row, + map-key canonicalization), written as SQL text: one
``selectExpr`` string per column costs one py4j call to plan, where a
``functions``-built column costs a few per call. The footprint + H3/S2 cell
stage is one Arrow pass of the NumPy kernels (``with_footprint_cells``); the
bulk pipeline (``plans.pipeline``) runs the same kernel and the same SQL text
(``FOOTPRINT_ARGS``, ``GEOJSON``) inside its one fused pass. Stage layout
mirrors SURVEY.md §3 E1:

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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.spark_udfs import footprint_cells_udf
from ..schemas import LEMNATEC_MD

# (?s): a pretty-printed block spans lines, and Java's '.' stops at '\n'/'\r'
SCRIPT_PATTERN = '(?s)<script type="application/json" id="lemnatec">(.*?)</script>'

# the footprint kernel's arguments: missing camera-box metadata (the
# nullable-section path) falls back to zero offset / zero FOV; 0D is a double
# literal (SQL text reads 0.0 as a decimal)
FOOTPRINT_ARGS = (
    "pos_x", "pos_y", "coalesce(cambox_x, 0D)", "coalesce(cambox_y, 0D)",
    "coalesce(fov_x, 0D)", "coalesce(fov_y, 0D)",
)
HAS_POSITION = "pos_x IS NOT NULL AND pos_y IS NOT NULL"
FOOTPRINT_FIELDS = (
    "centroid_lat", "centroid_lon", "min_lat", "max_lat", "min_lon", "max_lon",
)
CELL_FIELDS = ("cell_r9", "s2_cell", "cell_r13")
# GeoJSON polygon built JVM-side from the corner doubles of the kernel's
# struct column ``fp`` (frozen %.10f repr); same one-extra-nesting ring shape
# as terra_sensorposition.py:73-78
GEOJSON = (
    "format_string('{\"type\":\"Polygon\",\"coordinates\":[[[%.10f,%.10f],[%.10f,%.10f],"
    "[%.10f,%.10f],[%.10f,%.10f],[%.10f,%.10f]]]}', "
    "fp.sw_lon, fp.sw_lat, fp.se_lon, fp.se_lat, fp.ne_lon, fp.ne_lat, "
    "fp.nw_lon, fp.nw_lat, fp.sw_lon, fp.sw_lat) AS footprint"
)


def _clean_keys(section: str) -> str:
    """F16: canonicalize a metadata section's map keys (lowercase,
    known-typo repair), as SQL text."""
    return (
        f"transform_keys(md.lemnatec_measurement_metadata.{section}, "
        "(k, v) -> regexp_replace(lower(k), 'camnera', 'camera'))"
    )


def parse_metadata(pages: DataFrame) -> DataFrame:
    """webpages -> typed per-document metadata columns (rows lacking the
    metadata block are dropped — presence gate P2).

    Every projection is SQL text (``selectExpr``): the plan is the same as a
    ``functions``-built one, but planning it costs one py4j call per
    expression instead of a few per ``functions`` call."""
    gvm = _clean_keys("gantry_system_variable_metadata")
    sfm = _clean_keys("sensor_fixed_metadata")
    svm = _clean_keys("sensor_variable_metadata")
    name_part = "element_at(split(md.dataset_name, ' - '), {})".format
    return (
        pages.selectExpr(
            "url", "warc_ts", "text", "lang",
            f"regexp_extract(decode(html, 'UTF-8'), '{SCRIPT_PATTERN}', 1) AS _raw_md",
        )
        # A filter over an aliased column is pushed below its Project with the
        # alias substituted, so every gate on _raw_md or md (this presence
        # gate, the callers' position gate) would evaluate regexp_extract or
        # from_json once more per row. Filters over a generator's outputs are
        # not pushed below the Generate: this one-row inline makes both
        # columns attributes that the gates only read.
        .selectExpr(
            "url", "warc_ts", "text", "lang",
            f"inline(array(struct(_raw_md, from_json(_raw_md, '{LEMNATEC_MD.simpleString()}') AS md)))",
        )
        .filter("length(_raw_md) > 0")  # P2: presence gate
        .selectExpr(
            "url", "warc_ts", "text", "lang",
            "md.dataset_name AS dataset_name",
            f"{name_part(1)} AS sensor",
            f"element_at(split({name_part(2)}, '__'), 1) AS date",
            f"to_timestamp(element_at({gvm}, 'time'), 'MM/dd/yyyy HH:mm:ss') AS scan_time",
            f"CAST(element_at({gvm}, 'position x [m]') AS DOUBLE) AS pos_x",
            f"CAST(element_at({gvm}, 'position y [m]') AS DOUBLE) AS pos_y",
            f"CAST(element_at({gvm}, 'position z [m]') AS DOUBLE) AS pos_z",
            f"CAST(element_at({sfm}, 'location in camera box x [m]') AS DOUBLE) AS cambox_x",
            f"CAST(element_at({sfm}, 'location in camera box y [m]') AS DOUBLE) AS cambox_y",
            f"CAST(element_at({sfm}, 'field of view x [m]') AS DOUBLE) AS fov_x",
            f"CAST(element_at({sfm}, 'field of view y [m]') AS DOUBLE) AS fov_y",
            f"element_at({svm}, 'current setting exposure') AS exposure",
            "md.site_metadata.sitename AS sitename",
        )
    )


def with_footprint_cells(parsed: DataFrame) -> DataFrame:
    """Footprint + cell encodings in ONE Arrow/NumPy pass (``footprint_cells_udf``).

    Derives the centroid and bbox ring with the NumPy UTM kernel, plus the
    res-9 H3 (``cell_r9``), level-16 S2 (``s2_cell``) and res-13 H3
    (``cell_r13``, the resolve kernel's probe cell) ids of the centroid. Rows
    without a gantry position are dropped; missing camera-box metadata (the
    nullable-section path) falls back to zero offset / zero FOV, so the
    footprint degenerates to the gantry point, matching the reference's
    'centroid only, no bounding box' branch (``terra_sensorposition.py:66-72``).

    The bulk pipeline (``plans.pipeline``) runs the same kernel and SQL text
    inside its one fused pass; this is the layer on its own."""
    fp = footprint_cells_udf()(*(F.expr(a) for a in FOOTPRINT_ARGS))
    return (
        parsed.filter(HAS_POSITION)
        .select("*", fp.alias("fp"))
        .selectExpr("*", *(f"fp.{c} AS {c}" for c in FOOTPRINT_FIELDS + CELL_FIELDS), GEOJSON)
        .drop("fp")
    )

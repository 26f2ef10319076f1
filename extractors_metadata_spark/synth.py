"""Deterministic synthetic tables (seed folded into hash literals; no wall clock).

Two tables per FIXTURES.md:

- ``webpages`` — the BASELINE.json input_hint shape (url, warc_ts, html, text,
  lang) with a LemnaTec-style JSON document (modeled on
  ``/root/reference/sensorposition/test.json``, typos preserved) embedded in a
  ``<script type="application/json" id="lemnatec">`` block. Generation is 100%
  JVM-side (``spark.range`` + ``xxhash64``-derived uniforms + ``to_json``), so a
  10^12-row synthesis is the same plan as the 10^3-row test one — no driver loop,
  no Python in the hot path.
- ``plots`` — the polygon dimension (FIXTURES.md §3): a 54x16 grid of rectangular
  plots anchored at the reference's surveyed Maricopa corners
  (``error_estimation.py:9-13``), sized so the reference's golden CLI point
  (-111.97495668222, 33.0760167027358) falls in plot "42-3"
  (``plotid_by_latlon.py:79-82``).

The webpage text column is the frozen ``extract_text`` of the html by
construction; tests verify the invariant by re-running extraction on the bytes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import hexgrid

SEED = 42

# Plot grid constants (engine-frozen; FIXTURES.md §3). The same arithmetic is
# used by the DuckDB oracle SQL, so these must never drift.
GRID_LAT0 = 33.0745
GRID_DLAT = 3.65e-5
GRID_LON0 = -111.9750833333
GRID_DLON = 5.0e-5
N_RANGES = 54
N_PASSES = 16

SENSORS = ["PS2 System", "VNIR", "Thermal IR", "stereoTop", "Scanner3D"]
CAMBOX_X = [0.827, 0.750, -0.300, 1.100, 0.000]
CAMBOX_Y = [0.710, -0.250, 0.460, 0.330, -0.900]
FOV_X = [2.673, 1.200, 3.500, 0.800, 2.000]
FOV_Y = [1.647, 0.900, 2.100, 1.100, 1.500]

_HTML_HEAD = (
    '<html><head><title>Capture %d</title>'
    "<style>body { font: 12px sans-serif; }</style></head><body>"
    "<h1>Sensor capture %d</h1><p>Gantry scan record &amp; site logs.</p>"
)
_HTML_TAIL = '<p>Operator notes for scan %d; QA status: %s.</p></body></html>'


def _u(col_seed: str):
    """Deterministic uniform in [0,1) from the row id (JVM-side, seed-folded)."""
    return (
        F.pmod(F.xxhash64(F.col("id"), F.lit(f"{SEED}:{col_seed}")), F.lit(1_000_000))
        / 1_000_000.0
    )


def synth_webpages(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Generate the input_hint table with n rows; deterministic in (n,)."""
    df = spark.range(0, n, 1, partitions or max(8, spark.sparkContext.defaultParallelism))

    sensor_idx = F.pmod(F.xxhash64(F.col("id"), F.lit(f"{SEED}:sensor")), F.lit(5)).cast("int")
    sensors = F.array(*[F.lit(s) for s in SENSORS])
    cbx = F.array(*[F.lit(v) for v in CAMBOX_X])
    cby = F.array(*[F.lit(v) for v in CAMBOX_Y])
    fvx = F.array(*[F.lit(v) for v in FOV_X])
    fvy = F.array(*[F.lit(v) for v in FOV_Y])

    far = _u("far") < 0.03  # worldwide scatter -> no containing plot (kNN path)
    pos_x = F.when(far, _u("posx") * 100000.0 - 50000.0).otherwise(
        3.8 + _u("posx") * (207.3 - 3.8)
    )
    pos_y = F.when(far, _u("posy") * 100000.0 - 50000.0).otherwise(_u("posy") * 22.135)
    pos_z = _u("posz") * 5.5

    df = (
        df.withColumn("sensor", F.element_at(sensors, sensor_idx + 1))
        .withColumn("cambox_x", F.element_at(cbx, sensor_idx + 1))
        .withColumn("cambox_y", F.element_at(cby, sensor_idx + 1))
        .withColumn("fov_x", F.element_at(fvx, sensor_idx + 1))
        .withColumn("fov_y", F.element_at(fvy, sensor_idx + 1))
        .withColumn("pos_x", pos_x)
        .withColumn("pos_y", pos_y)
        .withColumn("pos_z", pos_z)
        .withColumn(
            "warc_ts",
            F.expr("timestamp'2016-05-07 15:58:43' + make_interval(0,0,0,0,0,0,id)"),
        )
    )

    time_str = F.date_format("warc_ts", "MM/dd/yyyy HH:mm:ss")
    ds_name = F.format_string(
        "%s - %s__%s-000",
        F.col("sensor"),
        F.date_format("warc_ts", "yyyy-MM-dd"),
        F.date_format("warc_ts", "HH-mm-ss"),
    )

    gvm = F.create_map(
        F.lit("Time"), time_str,
        F.lit("Position x [m]"), F.format_string("%.6f", F.col("pos_x")),
        F.lit("Position y [m]"), F.format_string("%.6f", F.col("pos_y")),
        F.lit("Position z [m]"), F.format_string("%.6f", F.col("pos_z")),
        F.lit("Velocity x [m/s]"), F.lit("0"),
        F.lit("Camnera box light 1 is on"), F.lit("False"),  # typo per test.json:28
    )
    sfm = F.create_map(
        F.lit("sensor manufacturer"), F.lit("LemnaTec"),
        F.lit("sensor product name"), F.col("sensor"),
        F.lit("location in camera box X [m]"), F.format_string("%.6f", F.col("cambox_x")),
        F.lit("location in camera box Y [m]"), F.format_string("%.6f", F.col("cambox_y")),
        F.lit("field of view X [m]"), F.format_string("%.6f", F.col("fov_x")),
        F.lit("field of view Y [m]"), F.format_string("%.6f", F.col("fov_y")),
    )
    svm = F.create_map(
        F.lit("current setting exposure"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(f"{SEED}:exp")), F.lit(100)).cast("string"),
    )
    # 5% of metadata rows miss sensor_fixed_metadata (nullable-parse path)
    missing_section = _u("missing") < 0.05
    lmm = F.struct(
        F.struct(
            F.create_map(F.lit("experiment title"), F.lit("Sorghum field experiment")).alias(
                "user_given_metadata"
            ),
            gvm.alias("gantry_system_variable_metadata"),
            F.when(~missing_section, sfm).alias("sensor_fixed_metadata"),
            svm.alias("sensor_variable_metadata"),
        ).alias("lemnatec_measurement_metadata"),
        F.when(
            _u("site") < 0.02,
            F.struct(F.format_string("Maricopa plot 42-%d", (F.col("id") % 16 + 1).cast("int")).alias("sitename")),
        ).alias("site_metadata"),
        ds_name.alias("dataset_name"),
    )
    md_json = F.to_json(lmm)

    has_block = _u("block") < 0.7  # FIXTURES: ~70% of pages carry the metadata block
    script_block = F.concat(
        F.lit('<script type="application/json" id="lemnatec">'), md_json, F.lit("</script>")
    )
    qa = F.when(_u("qa") < 0.9, F.lit("ok")).otherwise(F.lit("flagged"))
    html_str = F.concat(
        F.format_string(_HTML_HEAD, F.col("id"), F.col("id")),
        F.when(has_block, script_block).otherwise(F.lit("")),
        F.format_string(_HTML_TAIL, F.col("id"), qa),
    )
    # frozen extract_text of the template above (script/style stripped, tags ->
    # spaces, entities decoded, whitespace collapsed) — verified by tests.
    text_str = F.format_string(
        "Capture %d Sensor capture %d Gantry scan record & site logs. "
        "Operator notes for scan %d; QA status: %s.",
        F.col("id"), F.col("id"), F.col("id"), qa,
    )
    lang_u = _u("lang")
    lang = F.when(lang_u < 0.80, "en").when(lang_u < 0.95, "de").otherwise("")

    return df.select(
        F.format_string("https://site-%d.example/page/%d", (F.col("id") % 1000).cast("int"), F.col("id")).alias("url"),
        F.col("warc_ts"),
        F.encode(html_str, "UTF-8").alias("html"),
        text_str.alias("text"),
        lang.alias("lang"),
    )


import functools


@functools.lru_cache(maxsize=1)
def _plot_rings_cached() -> pd.DataFrame:
    rows = _plot_rows()
    return pd.DataFrame(rows)


def plot_rings() -> pd.DataFrame:
    """Driver-side plots dimension (864 rows) with covering cells at res 9.

    The 864 polyfills cost ~0.1 s — cached once per process (the dim is a
    frozen constant); a shallow copy is returned so callers can add columns
    without corrupting the cache."""
    return _plot_rings_cached().copy(deep=False)


def _plot_rows() -> list[dict]:
    rows = []
    for r in range(1, N_RANGES + 1):
        lat_s = GRID_LAT0 + (r - 1) * GRID_DLAT
        lat_n = GRID_LAT0 + r * GRID_DLAT
        for p in range(1, N_PASSES + 1):
            lon_w = GRID_LON0 + (p - 1) * GRID_DLON
            lon_e = GRID_LON0 + p * GRID_DLON
            ring = [
                [lon_w, lat_s],
                [lon_e, lat_s],
                [lon_e, lat_n],
                [lon_w, lat_n],
                [lon_w, lat_s],
            ]
            cells = hexgrid.polyfill(np.array(ring), 9).tolist()
            rows.append(
                {
                    "plot_id": f"{r}-{p}",
                    "range": r,
                    "pass": p,
                    "mac_entry": (r - 1) * N_PASSES + p,
                    "ring": ring,
                    "cells_r9": cells,
                }
            )
    return rows

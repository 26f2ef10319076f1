"""Probe/fixture constants shared by the Spark queries in
__spark_entry__.py AND the DuckDB oracle SQL in oracles/ — the
single source of truth for every literal both engines must spell
identically (CLAUDE.md invariants)."""

from __future__ import annotations


# --- shared point-derivation expressions (identical strings on both sides) ----

LAT_IN = "33.0745 + ((event_id % 1000) + 0.5) / 1000.0 * 54 * 0.0000365"

LON_IN = "-111.9750833333 + ((event_id % 640) + 0.5) / 640.0 * 16 * 0.00005"

LAT_SOUTH = "33.0745 - 0.0003 - ((event_id % 100) + 0.5) / 100.0 * 0.0005"


# pipeline_plots probe design: gantry positions target plot CENTERS so the
# discrete plot assignment is immune to cross-engine trig/sqrt ulp drift.
# gx walks range centers (cell height ~4.0586 m; 4.06 accumulates <=0.07 m
# drift over 50 ranges); gy holds longitude at a pass center while gx varies —
# UTM grid convergence at Maricopa couples the axes (-1.87 m lon over the gx
# span, measured), compensated by the 0.009301 m/m term. The constants below
# are calibrated against functions/textmeta.gantry_to_latlon; margins to the
# nearest plot boundary are >= 1.37 m on every probe (pytest-pinned in
# tests/test_spatial_spark.py::test_pipeline_plots_margins) vs ~1e-8 m
# worst-case NumPy-vs-DuckDB libm drift.
PLOT_GY_CENTERS = [-0.162, 4.506, 9.173, 13.841, 18.508, 23.176]  # passes 7..2


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


# reference polyline for linear referencing (lon, lat) — crosses the
# event cloud diagonally; anchor latitude for the equirect cosine
_LR_PATH = [
    (-111.97505, 33.0746), (-111.97490, 33.0752), (-111.97475, 33.0750),
    (-111.97460, 33.0760), (-111.97445, 33.0758),
]

_LR_ANCHOR = 33.0755


# overlay quad geometry: corner offsets of the 3-4-5-rotated quad are
# PYTHON-computed constants shared verbatim by both engines (one add per
# coordinate — no cross-engine product-order hazard). cos=0.6, sin=0.8 is
# a RATIONAL rotation: every coordinate stays an exact short decimal.
_OVL_W1, _OVL_H1 = 0.0003, 0.0002

_OVL_OX = [0.6 * sx * 0.00025 - 0.8 * sy * 0.00018 for sx, sy in
           [(-1, -1), (1, -1), (1, 1), (-1, 1)]]

_OVL_OY = [0.8 * sx * 0.00025 + 0.6 * sy * 0.00018 for sx, sy in
           [(-1, -1), (1, -1), (1, 1), (-1, 1)]]


# spatial-keyword query terms (qid = list index in both engines)
SKW_TERMS = [
    "spark", "merge", "stream", "vector", "query",
    "hash", "batch", "table",
]


# toponym gazetteer: (gaz_id, name, pop). Coords derive from gaz_id via
# the literal chain glat = 33.0745 + (gaz_id+0.5)*0.00015,
# glon = -111.9750833333 + (gaz_id+0.5)*0.00012 in BOTH engines.
# Homonyms (shared name, different gaz_id/pop/coords) are the point.
GAZETTEER = [
    (0, "spark", 900), (1, "spark", 400),
    (2, "stream", 700), (3, "stream", 650),
    (4, "vector", 300), (5, "merge", 820),
    (6, "batch", 500), (7, "batch", 450),
    (8, "query", 610), (9, "table", 330),
]

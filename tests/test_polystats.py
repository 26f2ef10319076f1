"""Polygon footprint stats (operators/polystats.py)."""

from __future__ import annotations

import math

import pandas as pd

from extractors_metadata_spark.functions.geodesy import R_MEAN
from extractors_metadata_spark.operators.polystats import polygon_stats

DEG = math.pi / 180.0 * R_MEAN
DEG_PER_M = 1.0 / DEG


def _ring_df(spark, rings):
    rows = [
        (i, [v[0] for v in ring], [v[1] for v in ring])
        for i, ring in enumerate(rings)
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["i", "ring_lats", "ring_lons"])
    )


def _py_stats(ring):
    la0, lo0 = ring[0]
    cos0 = math.cos(math.radians(la0))
    xy = [((lo - lo0) * cos0 * DEG, (la - la0) * DEG) for la, lo in ring]
    s = 0
    p = 0
    n = len(ring)
    for i in range(n):
        x0, y0 = xy[i]
        x1, y1 = xy[(i + 1) % n]
        # banker's rounding == np.rint == DuckDB round_even
        s += round((x0 * y1 - x1 * y0) * 1e6)
        p += round(math.sqrt((x1 - x0) ** 2 + (y1 - y0) ** 2) * 100.0)
    return abs(s), p


def test_quad_pentagon_triangle_match_reference(spark):
    lat, lon = 33.07, -111.98
    m = DEG_PER_M
    quad = [(lat, lon), (lat, lon + 50 * m), (lat + 30 * m, lon + 50 * m), (lat + 30 * m, lon)]
    tri = [(lat, lon), (lat, lon + 20 * m), (lat + 10 * m, lon + 10 * m)]
    pent = [
        (lat, lon), (lat - 5 * m, lon + 10 * m), (lat, lon + 20 * m),
        (lat + 10 * m, lon + 15 * m), (lat + 10 * m, lon + 5 * m),
    ]
    rings = [quad, tri, pent]
    got = {
        r.i: (r.area2_um2, r.perim_cm)
        for r in polygon_stats(_ring_df(spark, rings)).collect()
    }
    for i, ring in enumerate(rings):
        assert got[i] == _py_stats(ring), (i, got[i], _py_stats(ring))
    # sanity on the quad: ~30x50 cos-scaled meters
    area_m2 = got[0][0] / 2e6
    assert abs(area_m2 - 1500 * math.cos(math.radians(lat))) < 2.0


def test_orientation_invariant_and_degenerate(spark):
    lat, lon = 33.0, -111.0
    m = DEG_PER_M
    cw = [(lat, lon), (lat + 10 * m, lon), (lat + 10 * m, lon + 10 * m), (lat, lon + 10 * m)]
    ccw = list(reversed(cw))
    line = [(lat, lon), (lat, lon + 10 * m)]  # 2 vertices: degenerate
    got = {
        r.i: (r.area2_um2, r.perim_cm)
        for r in polygon_stats(_ring_df(spark, [cw, ccw, line])).collect()
    }
    assert got[0][0] == got[1][0] > 0
    assert got[2][0] == 0  # degenerate ring: zero area, never dropped
    assert got[2][1] > 0  # out-and-back edge sum


def test_null_batch_safety_under_filter(spark):
    # pandas UDFs see full batches even under F.when (CLAUDE.md) — empty
    # arrays must not crash the kernel
    df = _ring_df(spark, [[(33.0, -111.0), (33.0, -110.9), (33.1, -110.9)]])
    empty = spark.createDataFrame(
        pd.DataFrame({"i": [99], "ring_lats": [[]], "ring_lons": [[]]})
    )
    out = polygon_stats(df.unionByName(empty)).collect()
    assert {r.i: r.area2_um2 for r in out}[99] == 0

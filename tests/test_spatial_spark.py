"""PIP / kNN / tile operators vs brute force + reference goldens (SURVEY §2.3)."""

import numpy as np
import pandas as pd
import pytest

from extractors_metadata_spark.operators.geometry import PreparedPolygons
from extractors_metadata_spark.operators.pip_knn import knn_join, pip_join, resolve_plots
from extractors_metadata_spark.operators.tile_assign import tile_assign
from extractors_metadata_spark.plans.parse import parse_metadata, with_footprint_cells
from extractors_metadata_spark.synth import (
    GRID_DLAT,
    GRID_DLON,
    GRID_LAT0,
    GRID_LON0,
    plot_rings,
    synth_webpages,
)

GOLD_LON, GOLD_LAT = -111.97495668222, 33.0760167027358  # plotid_by_latlon.py:79-82


@pytest.fixture(scope="module")
def plots_pdf():
    return plot_rings()


@pytest.fixture(scope="module")
def prep(plots_pdf):
    return PreparedPolygons.from_pandas(plots_pdf)


@pytest.fixture(scope="module")
def points(spark):
    pages = synth_webpages(spark, 1200)
    fp = (
        with_footprint_cells(parse_metadata(pages))
        .select("url", "centroid_lat", "centroid_lon", "min_lat", "max_lat", "min_lon", "max_lon")
        .cache()
    )
    fp.count()
    return fp


def _pts_df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "centroid_lat", "centroid_lon"])
    )


def test_golden_pip_42_3(spark, plots_pdf):
    """The reference CLI golden: point -> plot '42-3' (plotid_by_latlon.py:79-82)."""
    df = _pts_df(spark, [("gold", GOLD_LAT, GOLD_LON)])
    out = pip_join(spark, df, plots_pdf).collect()
    assert len(out) == 1
    assert out[0].plot_id == "42-3"


def test_boundary_point_counts_as_contains(spark, plots_pdf):
    """Touches => match (plotid_by_latlon.py:57); shared edge -> min plot_id."""
    lat_edge = GRID_LAT0 + 5 * GRID_DLAT  # boundary between range 5 and 6
    lon_mid = GRID_LON0 + 2.5 * GRID_DLON  # interior of pass 3
    df = _pts_df(spark, [("edge", lat_edge, lon_mid)])
    out = pip_join(spark, df, plots_pdf).collect()
    assert len(out) == 1
    assert out[0].plot_id == "5-3"  # min of {5-3, 6-3}


def test_corner_point_min_plot_id(spark, plots_pdf):
    lat_c = GRID_LAT0 + 10 * GRID_DLAT
    lon_c = GRID_LON0 + 4 * GRID_DLON  # corner of 4 plots: 10-4,10-5,11-4,11-5
    out = pip_join(spark, _pts_df(spark, [("c", lat_c, lon_c)]), plots_pdf).collect()
    assert out[0].plot_id == "10-4"


def test_outside_point_not_contained_but_nearest(spark, plots_pdf, prep):
    lat_out = GRID_LAT0 - 0.001  # south of the field
    lon_out = GRID_LON0 + 1.5 * GRID_DLON
    df = _pts_df(spark, [("out", lat_out, lon_out)])
    assert pip_join(spark, df, plots_pdf).count() == 0
    out = knn_join(spark, df, plots_pdf, k=1).collect()
    assert len(out) == 1
    assert out[0].plot_id == "1-2"  # straight south of range-1 pass-2
    assert out[0].dist_m > 0


def test_far_point_fallback(spark, plots_pdf):
    """Worldwide scatter: k-ring finds nothing; the in-batch brute force must answer."""
    df = _pts_df(spark, [("far", 48.85, 2.35)])  # Paris
    out = knn_join(spark, df, plots_pdf, k=1).collect()
    assert len(out) == 1
    assert out[0].dist_m > 1e6


def test_resolve_matches_bruteforce(spark, points, plots_pdf, prep):
    res = resolve_plots(spark, points, plots_pdf)
    got = {r.url: (r.plot_id, r.matched_via) for r in res.collect()}
    sample = points.limit(150).toPandas()
    assert len(got) == points.count()  # totality
    idx = np.arange(len(prep.plot_ids))
    ids = np.array(prep.plot_ids)
    for _, row in sample.iterrows():
        px = np.full(len(idx), row.centroid_lon)
        py = np.full(len(idx), row.centroid_lat)
        c = prep.contains(idx, px, py)
        if c.any():
            exp = (min(ids[c]), "contains")
        else:
            d = prep.distance_m(idx, px, py)
            exp = (str(ids[np.lexsort((ids, d))[0]]), "nearest")
        assert got[row.url] == exp, row.url


def test_knn_k3_sorted_and_exact(spark, plots_pdf, prep):
    pts = [("a", GOLD_LAT, GOLD_LON), ("b", GRID_LAT0 - 0.0005, GRID_LON0)]
    out = knn_join(spark, _pts_df(spark, pts), plots_pdf, k=3).collect()
    by_url = {}
    for r in out:
        by_url.setdefault(r.url, []).append(r)
    for url, rows in by_url.items():
        rows.sort(key=lambda r: r.knn_rank)
        assert [r.knn_rank for r in rows] == [1, 2, 3]
        assert rows[0].dist_m <= rows[1].dist_m <= rows[2].dist_m
        # exact: matches brute-force top-3 (dist, poly order)
        px, py = [p for p in pts if p[0] == url][0][2], [p for p in pts if p[0] == url][0][1]
        idx = np.arange(len(prep.plot_ids))
        d = prep.distance_m(idx, np.full(len(idx), px), np.full(len(idx), py))
        ids_arr = np.array(prep.plot_ids)
        order = np.lexsort((ids_arr, d))[:3]
        assert [r.plot_id for r in rows] == [str(ids_arr[i]) for i in order]


def test_narrow_and_wide_callers_agree(spark, plots_pdf):
    """A payload column rides through untouched: narrow and wide callers get
    the same rows from all three operators."""
    rows = [
        (f"u{i}", GRID_LAT0 + (i * 7 % 60) * GRID_DLAT * 0.9 - 0.0002,
         GRID_LON0 + (i * 5 % 18) * GRID_DLON * 0.9)
        for i in range(40)
    ]
    narrow = _pts_df(spark, rows)
    import pyspark.sql.functions as F

    wide = narrow.withColumn("payload", F.concat(F.lit("p-"), F.col("url")))

    def canon(df, cols):
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    pc = ["url", "plot_id"]
    assert canon(pip_join(spark, narrow, plots_pdf), pc) == canon(
        pip_join(spark, wide, plots_pdf), pc
    )
    kc = ["url", "plot_id", "knn_rank", "dist_m"]
    for k in (1, 2):
        assert canon(knn_join(spark, narrow, plots_pdf, k=k), kc) == canon(
            knn_join(spark, wide, plots_pdf, k=k), kc
        )
    rc = ["url", "plot_id", "matched_via"]
    assert canon(resolve_plots(spark, narrow, plots_pdf), rc) == canon(
        resolve_plots(spark, wide, plots_pdf), rc
    )


def test_tile_assign_matches_formula(spark, points):
    from extractors_metadata_spark.functions import tiles as tl

    sample = points.limit(30).cache()
    got = tile_assign(sample, zooms=(12, 14)).collect()
    pdf = sample.toPandas()
    exp = set()
    for _, r in pdf.iterrows():
        for z in (12, 14):
            x0, x1, y0, y1 = tl.bbox_tile_ranges(r.min_lat, r.min_lon, r.max_lat, r.max_lon, z)
            for x in range(int(x0), int(x1) + 1):
                for y in range(int(y0), int(y1) + 1):
                    exp.add((r.url, z, x, y))
    assert {(r.url, r.z, r.x, r.y) for r in got} == exp


def test_pip_pruning_equals_full_scan_property(spark, prep, plots_pdf):
    """Pruning never loses matches: grid of probe points across + around field."""
    lats = np.linspace(GRID_LAT0 - 0.0005, GRID_LAT0 + 55 * GRID_DLAT, 25)
    lons = np.linspace(GRID_LON0 - 0.0005, GRID_LON0 + 17 * GRID_DLON, 15)
    rows = [
        (f"p{i}", float(la), float(lo))
        for i, (la, lo) in enumerate((la, lo) for la in lats for lo in lons)
    ]
    df = _pts_df(spark, rows)
    got = {r.url: r.plot_id for r in pip_join(spark, df, plots_pdf).collect()}
    idx = np.arange(len(prep.plot_ids))
    ids = np.array(prep.plot_ids)
    for url, la, lo in rows:
        c = prep.contains(idx, np.full(len(idx), lo), np.full(len(idx), la))
        exp = min(ids[c]) if c.any() else None
        assert got.get(url) == exp, (url, la, lo)


def test_pip_join_rotated_polygons(spark, prep):
    """End-to-end pip_join on a non-grid dim: rotated triangles/pentagons —
    polyfill + pruning + ray-cast must agree with brute force."""
    rng = np.random.default_rng(3)
    polys = []
    for i in range(12):
        n = int(rng.integers(3, 7))
        angles = np.sort(rng.uniform(0, 2 * np.pi, n))
        cx = -111.975 + rng.uniform(-0.002, 0.002)
        cy = 33.075 + rng.uniform(-0.002, 0.002)
        r = rng.uniform(0.0003, 0.0008)
        ring = [[cx + r * np.cos(a), cy + r * np.sin(a)] for a in angles]
        polys.append({"plot_id": f"poly-{i:02d}", "range": i, "pass": 0,
                      "mac_entry": i, "ring": ring, "cells_r9": []})
    pdf = pd.DataFrame(polys)
    from extractors_metadata_spark.operators.geometry import PreparedPolygons
    pp = PreparedPolygons.from_pandas(pdf)

    pts = [(f"q{i}", float(33.075 + rng.uniform(-0.0025, 0.0025)),
            float(-111.975 + rng.uniform(-0.0025, 0.0025))) for i in range(300)]
    df = _pts_df(spark, pts)
    got = {r.url: r.plot_id for r in pip_join(spark, df, pdf).collect()}
    ids = np.array(pp.plot_ids)
    idx = np.arange(len(ids))
    for url, la, lo in pts:
        c = pp.contains(idx, np.full(len(idx), lo), np.full(len(idx), la))
        exp = min(ids[c]) if c.any() else None
        assert got.get(url) == exp, (url, la, lo)


def test_pipeline_plots_margins():
    """The pipeline_plots oracle's drift-proofing: every probe position lands
    >= 1.0 m from the nearest plot boundary (cross-engine libm drift is
    ~1e-8 m), inside ranges 1..54 / passes 1..16, through the %.6f metadata
    roundtrip the real pipeline performs."""
    import __spark_entry__ as em
    from extractors_metadata_spark.functions.textmeta import gantry_to_latlon
    from extractors_metadata_spark.synth import (
        GRID_DLAT,
        GRID_DLON,
        GRID_LAT0,
        GRID_LON0,
        N_PASSES,
        N_RANGES,
    )

    ri, pj = np.meshgrid(np.arange(50), np.arange(6), indexing="ij")
    gx = 3.8 + (ri + 0.5) * 4.06
    gy = np.asarray(em.PLOT_GY_CENTERS)[pj] - 0.009301 * (gx - 105.0)
    gx = np.vectorize(lambda v: float(f"{v:.6f}"))(gx)
    gy = np.vectorize(lambda v: float(f"{v:.6f}"))(gy)
    lat, lon = gantry_to_latlon(gx.ravel(), gy.ravel())
    r = (lat - GRID_LAT0) / GRID_DLAT
    p = (lon - GRID_LON0) / GRID_DLON
    for f, cell_m in ((r, GRID_DLAT * 111194.9), (p, GRID_DLON * 111194.9 * 0.8378)):
        fr = f - np.floor(f)
        margin_m = np.minimum(fr, 1.0 - fr) * cell_m
        assert margin_m.min() > 1.0, margin_m.min()
    assert np.floor(r).min() >= 0 and np.floor(r).max() < N_RANGES
    assert np.floor(p).min() >= 0 and np.floor(p).max() < N_PASSES

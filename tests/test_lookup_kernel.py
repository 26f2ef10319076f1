"""The point -> plot kernel behind resolve_plots, knn_join and pip_join,
checked against NumPy brute force over ALL plots, plus its lifecycle.

Points are drawn where the kernel's pruning and tie rules are under stress:
plot vertices, shared edges, 4-plot corners, points south of the field
equidistant from two plots (distance ties), points around the dim (where
the ring-reach guard decides), worldwide far points (outside every ring, so
the in-batch brute force answers), and repeated ids (one output row per
input row regardless). Ties go to the min plot_id in STRING
order ('10-4' < '5-3').
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from extractors_metadata_spark.operators.geometry import PreparedPolygons
from extractors_metadata_spark.operators.pip_knn import _Dim, _topk, knn_join, pip_join, resolve_plots
from extractors_metadata_spark.synth import (
    GRID_DLAT,
    GRID_DLON,
    GRID_LAT0,
    GRID_LON0,
    N_PASSES,
    N_RANGES,
    plot_rings,
)


def _strips() -> pd.DataFrame:
    """Thin 45-degree strips (~60 m x 2 m) whose covering cells sit far from
    the geometry — the adversarial dim of test_geometry_general."""
    c_lat, c_lon = 33.075, -111.975
    rings, ids = [], []
    for i in range(8):
        x0 = c_lon + i * 0.0004
        y0 = c_lat + (i % 3) * 0.0004
        L, w = 0.0005, 0.00002
        rings.append([[x0, y0], [x0 + w, y0], [x0 + L + w, y0 + L], [x0 + L, y0 + L]])
        ids.append(f"s{i}")
    return pd.DataFrame({"plot_id": ids, "ring": rings})


def _notch() -> pd.DataFrame:
    """An L-shaped plot with a small square in its notch, plus a far square:
    a point between the square and the L lies in the L's bbox, not in the
    square's, and is nearer to the square."""
    c_lat, c_lon, u = 33.08, -111.97, 1e-4
    shapes = {
        "L": [(0, 0), (3, 0), (3, 1), (1, 1), (1, 3), (0, 3)],
        "sq": [(1.5, 1.5), (2.5, 1.5), (2.5, 2.5), (1.5, 2.5)],
        "far": [(8, 8), (9, 8), (9, 9), (8, 9)],
    }
    return pd.DataFrame({
        "plot_id": list(shapes),
        "ring": [[[c_lon + x * u, c_lat + y * u] for x, y in r] for r in shapes.values()],
    })


DIMS = {"grid": plot_rings(), "strips": _strips(), "notch": _notch()}
PREP = {name: PreparedPolygons.from_pandas(pdf) for name, pdf in DIMS.items()}


def _point(dim: str, kind: str, a: int, b: int, t: float):
    """One (lat, lon) of the given kind; a, b, t pick the plot/vertex/offset."""
    prep = PREP[dim]
    p = a % len(prep.plot_ids)
    nv = int(np.sum(~np.isnan(prep.x1[p])))
    v = b % nv
    if kind == "vertex":
        return prep.y1[p, v], prep.x1[p, v]
    if kind == "edge":  # on an edge; shared with a neighbour on the grid
        return (prep.y1[p, v] + t * (prep.y2[p, v] - prep.y1[p, v]),
                prep.x1[p, v] + t * (prep.x2[p, v] - prep.x1[p, v]))
    if kind == "corner":  # where 4 grid plots meet (or a strip vertex)
        if dim != "grid":
            return prep.y1[p, v], prep.x1[p, v]
        return (GRID_LAT0 + (1 + a % (N_RANGES - 1)) * GRID_DLAT,
                GRID_LON0 + (1 + b % (N_PASSES - 1)) * GRID_DLON)
    if kind == "tie":  # south of the field, on the line between two passes
        return (GRID_LAT0 - (0.5 + 40 * t) * GRID_DLAT,
                GRID_LON0 + (1 + b % (N_PASSES - 1)) * GRID_DLON)
    if kind == "near":  # anywhere in the dim's bbox, widened by ~30 m
        u = ((a * 7919 + b) % 10007) / 10007.0
        return (np.nanmin(prep.y1) - 3e-4 + t * (np.nanmax(prep.y1) - np.nanmin(prep.y1) + 6e-4),
                np.nanmin(prep.x1) - 3e-4 + u * (np.nanmax(prep.x1) - np.nanmin(prep.x1) + 6e-4))
    if kind == "inside":
        return (np.nanmean(prep.y1[p]) + (t - 0.5) * 1e-5,
                np.nanmean(prep.x1[p]) + (t - 0.5) * 1e-5)
    # far: anywhere on the globe
    return -70.0 + 140.0 * t, -180.0 + 360.0 * ((a * 7919 + b) % 10007) / 10007.0


point_st = st.tuples(
    st.sampled_from(["vertex", "edge", "corner", "tie", "near", "inside", "far"]),
    st.integers(0, 10_000),
    st.integers(0, 10_000),
    st.floats(0.0, 1.0),
    st.integers(0, 5),  # id from a small pool: repeats are likely
)


def _expected(dim: str, lat: float, lon: float, k: int):
    """Brute force over all plots: [(plot_id, dist_m)] for the k best on
    (dist, plot_id string order)."""
    prep = PREP[dim]
    idx = np.arange(len(prep.plot_ids))
    d = prep.distance_m(idx, np.full(len(idx), lon), np.full(len(idx), lat))
    ids = np.asarray(prep.plot_ids, dtype=str)
    order = np.lexsort((ids, d))[:k]
    return [(str(ids[j]), float(d[j])) for j in order]


@pytest.mark.parametrize("dim", ["grid", "strips"])
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(draws=st.lists(point_st, min_size=1, max_size=40))
def test_operators_match_brute_force(spark, dim, draws):
    rows = []
    for kind, a, b, t, pid in draws:
        lat, lon = _point(dim, kind, a, b, t)
        rows.append((f"u{pid}", float(lat), float(lon)))
    pts = spark.createDataFrame(pd.DataFrame(rows, columns=["url", "centroid_lat", "centroid_lon"]))
    plots = DIMS[dim]

    exp = {r: _expected(dim, r[1], r[2], 3) for r in set(rows)}

    def key(r):
        return (r.url, r.centroid_lat, r.centroid_lon)

    got = sorted((key(r), r.plot_id, r.matched_via) for r in resolve_plots(spark, pts, plots).collect())
    want = sorted(
        (r, exp[r][0][0], "contains" if exp[r][0][1] == 0.0 else "nearest") for r in rows
    )
    assert got == want

    got = sorted((key(r), r.plot_id) for r in pip_join(spark, pts, plots).collect())
    assert got == sorted((r, exp[r][0][0]) for r in rows if exp[r][0][1] == 0.0)

    for k in (1, 3):
        # the strips also run at a small ring, where most points need the
        # ring-reach guard's brute force
        for ring in (2, 1) if dim == "strips" else (2,):
            got = sorted(
                (key(r), r.knn_rank, r.plot_id, r.dist_m)
                for r in knn_join(spark, pts, plots, k=k, ring=ring).collect()
            )
            want = sorted(
                (r, rank + 1, pid, dist)
                for r in rows for rank, (pid, dist) in enumerate(exp[r][:k])
            )
            assert got == want, (k, ring)


def _stress_points(dim: str) -> np.ndarray:
    """(lat, lon) rows where the kernel's bound prune is under stress: far
    (~50 km around the field, the benchmark's far pages) and worldwide,
    vertices and edge points, 4-plot corners, points anywhere in a plot's
    bbox (off a strip, or in the notch dim's notch), points nudged off a shared edge by less than the
    1e-12 deg boundary tolerance (inside a plot by the Touches rule yet
    outside its bbox) and points around the dim."""
    g = np.random.default_rng(7)
    prep = PREP[dim]
    pts = [_point(dim, kind, int(a), int(b), float(t))
           for kind in ("vertex", "edge", "corner", "tie", "near", "inside")
           for a, b, t in zip(g.integers(0, 10_000, 60), g.integers(0, 10_000, 60), g.random(60))]
    lat0, lon0 = np.nanmean(prep.y1), np.nanmean(prep.x1)
    ang, r_m = g.uniform(0, 2 * np.pi, 80), g.uniform(50.0, 50_000.0, 80)
    pts += list(zip(lat0 + r_m * np.sin(ang) / 111_195.0,
                    lon0 + r_m * np.cos(ang) / (111_195.0 * np.cos(np.radians(lat0)))))
    pts += list(zip(g.uniform(-80.0, 80.0, 40), g.uniform(-180.0, 180.0, 40)))
    # anywhere in a plot's bbox: off a strip or in the notch, nearer to others
    p = g.integers(0, len(prep.plot_ids), 120)
    (y0, y1), (x0, x1) = ((np.nanmin(a[p], axis=1), np.nanmax(a[p], axis=1)) for a in (prep.y1, prep.x1))
    pts += list(zip(y0 + g.random(120) * (y1 - y0), x0 + g.random(120) * (x1 - x0)))
    for p, v in zip(g.integers(0, len(prep.plot_ids), 60), g.integers(0, 4, 60)):
        lat, lon = _point(dim, "edge", int(p), int(v), 0.5)
        for nudge in (-5e-13, 5e-13):
            pts += [(lat + nudge, lon), (lat, lon + nudge)]
    return np.asarray(pts, dtype=np.float64)


@pytest.mark.parametrize("dim, res, ring, k", [
    ("grid", 13, 3, 1),  # the pipeline's dim
    ("grid", None, 2, 3),
    ("strips", None, 2, 1),
    ("strips", None, 1, 3),
    ("notch", None, 1, 1),
    ("notch", None, 1, 2),
])
def test_kernel_matches_brute_force_under_stress(dim, res, ring, k):
    """``_topk`` (exact) against brute force over all plots, point by point,
    on stress points; ties to the min plot_id in string order."""
    pts = _stress_points(dim)
    kernel = _Dim(DIMS[dim], res, ring, keep_k=k)
    row, poly, d = _topk(kernel, pts[:, 0], pts[:, 1], None, k, True)
    got = [[] for _ in pts]
    for r, p, dist in zip(row.tolist(), poly.tolist(), d.tolist()):
        got[r].append((str(kernel.ids[p]), dist))
    for (lat, lon), answer in zip(pts.tolist(), got):
        assert answer == _expected(dim, lat, lon, k), (lat, lon)


def test_ties_follow_plot_id_string_order(spark):
    """At the corner of plots 10-4, 10-5, 11-4 and 11-5 every one contains
    the point; '10-4' wins (and '10-4' < '5-3' as strings, not as numbers)."""
    lat = GRID_LAT0 + 10 * GRID_DLAT
    lon = GRID_LON0 + 4 * GRID_DLON
    pts = spark.createDataFrame(pd.DataFrame({"url": ["c"], "centroid_lat": [lat], "centroid_lon": [lon]}))
    (r,) = resolve_plots(spark, pts, DIMS["grid"]).collect()
    assert (r.plot_id, r.matched_via) == ("10-4", "contains")
    ranked = knn_join(spark, pts, DIMS["grid"], k=4).collect()
    assert [x.plot_id for x in sorted(ranked, key=lambda x: x.knn_rank)] == [
        "10-4", "10-5", "11-4", "11-5"
    ]


def test_repeated_resolve_leaves_no_state(spark, monkeypatch):
    """Ten resolves on one dim persist nothing and create at most one
    broadcast (the dim rides in the UDF closure)."""
    sc = spark.sparkContext
    made = []
    real = sc.broadcast
    monkeypatch.setattr(sc, "broadcast", lambda value: made.append(1) or real(value))
    pts = spark.createDataFrame(pd.DataFrame({
        "url": ["a", "b", "c"],
        "centroid_lat": [33.0746, GRID_LAT0 - 0.001, 48.85],
        "centroid_lon": [-111.9748, GRID_LON0 + 1.5 * GRID_DLON, 2.35],
    }))
    persisted = sc._jsc.getPersistentRDDs().size()
    for _ in range(10):
        assert len(resolve_plots(spark, pts, DIMS["grid"]).collect()) == 3
    assert sc._jsc.getPersistentRDDs().size() == persisted
    assert len(made) <= 1

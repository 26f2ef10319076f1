"""General-polygon correctness for the prepared-geometry kernels.

The synth plots are axis-aligned rectangles; these tests cross-check the
ray-cast and distance kernels on rotated convex polygons (independent
half-plane oracle) and a hand-built concave L-shape.
"""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from extractors_metadata_spark.operators.geometry import PreparedPolygons


def _convex_polygon(rng, cx, cy, n_verts, radius):
    """Random convex polygon: points on an ellipse at sorted angles."""
    angles = np.sort(rng.uniform(0, 2 * np.pi, n_verts))
    rx = radius * rng.uniform(0.5, 1.5)
    ry = radius * rng.uniform(0.5, 1.5)
    xs = cx + rx * np.cos(angles)
    ys = cy + ry * np.sin(angles)
    return np.stack([xs, ys], axis=1)


def _halfplane_contains(ring, px, py, eps=1e-12):
    """Independent convex-PIP oracle: point is inside iff it is on the same
    side of (or on) every edge, for a CCW ring."""
    x1, y1 = ring[:, 0], ring[:, 1]
    x2, y2 = np.roll(ring[:, 0], -1), np.roll(ring[:, 1], -1)
    cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
    return bool(np.all(cross >= -eps))


@settings(max_examples=300, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    n_verts=st.integers(min_value=3, max_value=12),
)
def test_raycast_matches_halfplane_on_convex(seed, n_verts):
    rng = np.random.default_rng(seed)
    ring = _convex_polygon(rng, cx=-111.975, cy=33.075, n_verts=n_verts, radius=0.001)
    prep = PreparedPolygons.from_pandas(
        pd.DataFrame({"plot_id": ["p"], "ring": [ring.tolist()]})
    )
    # probe points: inside-biased cloud + far points
    px = rng.uniform(-111.9775, -111.9725, 40)
    py = rng.uniform(33.0725, 33.0775, 40)
    idx = np.zeros(40, dtype=np.int64)
    got = prep.contains(idx, px, py)
    exp = np.array([_halfplane_contains(ring, x, y) for x, y in zip(px, py)])
    # exclude points razor-close to an edge (the oracles' eps conventions
    # differ there by design; boundary semantics are pinned elsewhere)
    d = prep.distance_m(idx, px, py)
    d_in = np.array([
        prep.distance_m(idx[:1], np.array([x]), np.array([y]))[0] == 0.0
        for x, y in zip(px, py)
    ])
    clear = np.abs(d) > 1e-3  # > 1 mm from the boundary, or exactly inside
    mask = clear | (got == exp)
    assert np.array_equal(got[clear], exp[clear])


def test_knn_exact_on_thin_rotated_strips(spark):
    """End-to-end kNN exactness on adversarial general dims: thin diagonal
    strips whose bbox covering cells sit far from the geometry, probed with a
    small ring. Without the reach-bound fallback (ADVICE r1), a point whose
    in-ring candidates are all far could return a wrong nearest when a closer
    polygon's covering cells lie just outside the ring; the bound must route
    such points to the exact brute force. Oracle: NumPy brute force with
    the engine's own frozen distance kernel over ALL polygons."""
    from extractors_metadata_spark.operators.pip_knn import knn_join

    c_lat, c_lon = 33.075, -111.975
    rng = np.random.default_rng(99)
    rings, ids = [], []
    for i in range(8):
        # thin 45-degree strip: ~60 m long, ~2 m wide, staggered
        x0 = c_lon + i * 0.0004
        y0 = c_lat + (i % 3) * 0.0004
        L, w = 0.0005, 0.00002
        rings.append([
            [x0, y0], [x0 + w, y0], [x0 + L + w, y0 + L], [x0 + L, y0 + L]
        ])
        ids.append(f"s{i}")
    plots_pdf = pd.DataFrame({"plot_id": ids, "ring": rings})

    n_pts = 80
    px = rng.uniform(c_lon - 0.0003, c_lon + 0.0035, n_pts)
    py = rng.uniform(c_lat - 0.0003, c_lat + 0.0015, n_pts)
    pts = spark.createDataFrame(
        pd.DataFrame({"url": [f"u{i}" for i in range(n_pts)],
                      "centroid_lat": py, "centroid_lon": px})
    )

    prep = PreparedPolygons.from_pandas(plots_pdf)
    d_all = np.stack([
        prep.distance_m(np.full(n_pts, j, dtype=np.int64), px, py)
        for j in range(len(ids))
    ])  # (n_polys, n_pts)

    for k in (1, 3):
        got = knn_join(spark, pts, plots_pdf, k=k, res=12, ring=1).collect()
        by_pt = {}
        for r in got:
            by_pt.setdefault(r.url, []).append((r.knn_rank, r.plot_id, r.dist_m))
        for i in range(n_pts):
            # brute-force top-k with (dist, plot_id) tie-break
            order = sorted(range(len(ids)), key=lambda j: (d_all[j, i], ids[j]))
            exp = [(rk + 1, ids[j], d_all[j, i]) for rk, j in enumerate(order[:k])]
            have = sorted(by_pt[f"u{i}"])
            assert [(a, b) for a, b, _ in have] == [(a, b) for a, b, _ in exp], (
                i, have, exp)
            for (_, _, dg), (_, _, de) in zip(have, exp):
                assert dg == pytest.approx(de, rel=1e-9)


def test_concave_l_shape():
    # L-shape: outer corner notch removed; ray-cast must handle concavity
    ring = np.array([
        [0.0, 0.0], [4.0, 0.0], [4.0, 1.0], [1.0, 1.0], [1.0, 4.0], [0.0, 4.0]
    ])
    prep = PreparedPolygons.from_pandas(
        pd.DataFrame({"plot_id": ["L"], "ring": [ring.tolist()]})
    )
    cases = [
        ((0.5, 0.5), True),   # in the corner block
        ((2.0, 0.5), True),   # in the horizontal arm
        ((0.5, 2.0), True),   # in the vertical arm
        ((2.0, 2.0), False),  # in the notch (outside!)
        ((3.9, 0.9), True),
        ((1.1, 1.1), False),  # just inside the notch
        ((-0.1, 0.5), False),
        ((1.0, 2.0), True),   # on the notch boundary -> contains (Touches)
        ((2.0, 1.0), True),   # on the arm's top edge -> contains
    ]
    for (x, y), expected in cases:
        got = bool(prep.contains(np.array([0]), np.array([x]), np.array([y]))[0])
        assert got == expected, ((x, y), got, expected)


def test_distance_to_rotated_polygon():
    # 45-degree square centered at origin (radius 1 in degrees would be huge;
    # use small deltas at the Maricopa latitude)
    c_lat, c_lon = 33.075, -111.975
    d = 0.0005
    ring = np.array([
        [c_lon + d, c_lat], [c_lon, c_lat + d], [c_lon - d, c_lat], [c_lon, c_lat - d]
    ])
    prep = PreparedPolygons.from_pandas(
        pd.DataFrame({"plot_id": ["sq"], "ring": [ring.tolist()]})
    )
    # point due east of the east vertex: distance = haversine to that vertex
    from extractors_metadata_spark.functions.geodesy import equirect_m

    px, py = c_lon + 2 * d, c_lat
    got = prep.distance_m(np.array([0]), np.array([px]), np.array([py]))[0]
    exp = equirect_m(py, px, c_lat, c_lon + d)
    assert got == pytest.approx(float(exp), rel=1e-6)
    # center is inside -> 0
    assert prep.distance_m(np.array([0]), np.array([c_lon]), np.array([c_lat]))[0] == 0.0


def _edge_arrays_one_ring_at_a_time(rings):
    """The per-ring build ``PreparedPolygons.from_vertices`` replaced: drop an
    exact closing vertex, pad to the longest ring with NaN, roll for the
    edge ends."""
    rings = [np.vstack([np.asarray(v, dtype=np.float64) for v in r]) for r in rings]
    rings = [r[:-1] if len(r) > 1 and bool((r[0] == r[-1]).all()) else r for r in rings]
    out = [np.full((len(rings), max(len(r) for r in rings)), np.nan) for _ in range(4)]
    for i, r in enumerate(rings):
        for a, col in zip(out, (r[:, 0], r[:, 1], np.roll(r[:, 0], -1), np.roll(r[:, 1], -1))):
            a[i, :len(r)] = col
    return out


def test_prepared_edge_arrays_are_bit_identical_to_the_per_ring_build():
    """The vectorized build matches the per-ring one byte for byte on the
    plot grid (closed rings, as lists and as toPandas' object arrays of
    arrays) and on mixed open/closed rings of different lengths."""
    from extractors_metadata_spark.synth import plot_rings

    def as_spark(ring):
        out = np.empty(len(ring), dtype=object)
        for i, v in enumerate(ring):
            out[i] = np.array(v)
        return out

    grid = plot_rings()
    mixed = pd.DataFrame({"plot_id": ["tri", "sq", "pent", "one"], "ring": [
        [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0]],
        [[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0], [0.0, 0.0]],
        [[5.0, 5.0], [6.0, 5.0], [6.0, 6.0], [5.5, 7.0], [5.0, 6.0]],
        [[3.0, 3.0]],
    ]})
    for plots in (grid, grid.assign(ring=grid["ring"].map(as_spark)), mixed):
        prep = PreparedPolygons.from_pandas(plots)
        want = _edge_arrays_one_ring_at_a_time(plots["ring"])
        for got, exp in zip((prep.x1, prep.y1, prep.x2, prep.y2), want):
            assert got.shape == exp.shape and got.tobytes() == exp.tobytes()
        assert prep.plot_ids == list(plots["plot_id"])

"""Hex/S2/tile index kernels: determinism, containment, adjacency, coverage."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from extractors_metadata_spark.functions import hexgrid as hg
from extractors_metadata_spark.functions import s2quad as s2
from extractors_metadata_spark.functions import tiles as tl

LATS = st.floats(min_value=-84.0, max_value=84.0)
LONS = st.floats(min_value=-179.99, max_value=179.99)


# --- hexgrid -----------------------------------------------------------------

def test_pack_unpack_roundtrip():
    res = np.array([0, 7, 9, 12, 15])
    q = np.array([-40_000_000, -5, 0, 7, 40_000_000])
    r = np.array([40_000_000, 3, 0, -9, -40_000_000])
    cells = hg.pack(res, q, r)
    r2 = hg.unpack(cells)
    assert np.array_equal(r2[0], res)
    assert np.array_equal(r2[1], q)
    assert np.array_equal(r2[2], r)
    assert (cells > 0).all()  # sign-safe packing


@settings(max_examples=200, deadline=None)
@given(lat=LATS, lon=LONS, res=st.integers(min_value=7, max_value=12))
def test_encode_center_containment(lat, lon, res):
    c = hg.h3_encode(np.array([lat]), np.array([lon]), res)
    clat, clon = hg.cell_center(c)
    # the point's cell center re-encodes to the same cell
    c2 = hg.h3_encode(clat, clon, res)
    assert int(c2[0]) == int(c[0])


def test_kring_counts_and_distance():
    c0 = int(hg.h3_encode(np.array([33.0745]), np.array([-111.97475]), 9)[0])
    for k in range(4):
        ring = hg.h3_kring(c0, k)
        assert len(ring) == 3 * k * k + 3 * k + 1
        assert len(set(ring.tolist())) == len(ring)
        assert hg.grid_distance(np.full(len(ring), c0), ring).max() == k


def test_kring_batch_matches_scalar():
    cells = hg.h3_encode(np.array([33.0745, 0.0]), np.array([-111.97475, 10.0]), 9)
    origin, ringc = hg.kring_batch(cells, 2)
    for i, c in enumerate(cells):
        exp = set(hg.h3_kring(int(c), 2).tolist())
        got = set(ringc[origin == i].tolist())
        assert got == exp


def test_kring_delta_arithmetic():
    # the JVM-side fan-out relies on cell + (dq<<29) + dr == pack(res, q+dq, r+dr)
    c0 = int(hg.h3_encode(np.array([33.0745]), np.array([-111.97475]), 12)[0])
    res, q, r = hg.unpack(np.int64(c0))
    for dq in (-2, 0, 3):
        for dr in (-1, 0, 2):
            assert c0 + (dq << 29) + dr == int(hg.pack(res, q + dq, r + dr))


@settings(max_examples=50, deadline=None)
@given(
    lat0=st.floats(min_value=-60.0, max_value=60.0),
    lon0=st.floats(min_value=-179.0, max_value=179.0),
    res=st.integers(min_value=8, max_value=12),
    data=st.data(),
)
def test_polyfill_never_loses_points(lat0, lon0, res, data):
    # random small rectangle; points inside must land in covering cells
    dlat = data.draw(st.floats(min_value=1e-5, max_value=0.002))
    dlon = data.draw(st.floats(min_value=1e-5, max_value=0.002))
    ring = np.array(
        [[lon0, lat0], [lon0 + dlon, lat0], [lon0 + dlon, lat0 + dlat], [lon0, lat0 + dlat]]
    )
    cov = set(hg.polyfill(ring, res).tolist())
    fr = data.draw(st.lists(st.tuples(
        st.floats(min_value=0.0, max_value=1.0), st.floats(min_value=0.0, max_value=1.0)
    ), min_size=1, max_size=20))
    pts = np.array(fr)
    lats = lat0 + pts[:, 1] * dlat
    lons = lon0 + pts[:, 0] * dlon
    cells = hg.h3_encode(lats, lons, res)
    assert all(int(c) in cov for c in cells)


def test_res9_size_matches_h3_scale():
    assert float(hg.res_size_m(9)) == pytest.approx(174.3, abs=1.0)


# --- s2 ----------------------------------------------------------------------

def test_hilbert_roundtrip():
    d = np.array([0, 1, 5, 123456789, 4**13, 4**26 - 1], dtype=np.int64)
    x, y = s2._hilbert_d_to_xy(26, d)
    assert np.array_equal(s2._hilbert_xy_to_d(26, x, y), d)


def test_s2_faces():
    cases = [(0.0, 0.0, 0), (0.0, 90.0, 1), (89.0, 0.0, 2), (0.0, 180.0, 3), (0.0, -90.0, 4), (-89.0, 0.0, 5)]
    for lat, lon, face in cases:
        assert int(s2.s2_encode(np.array([lat]), np.array([lon]), 10)[0]) >> 57 == face


@settings(max_examples=200, deadline=None)
@given(lat=LATS, lon=LONS, lvl=st.integers(min_value=4, max_value=20))
def test_s2_parent_consistency(lat, lon, lvl):
    fine = s2.s2_encode(np.array([lat]), np.array([lon]), 24)
    coarse = s2.s2_encode(np.array([lat]), np.array([lon]), lvl)
    assert int(s2.s2_parent(fine, lvl)[0]) == int(coarse[0])


def test_s2_locality():
    a = s2.s2_encode(np.array([33.074500, 33.074501]), np.array([-111.97475, -111.974751]), 14)
    assert int(a[0]) == int(a[1])


def test_s2_uv_st_inverse():
    u = np.linspace(-1, 1, 101)
    st_ = s2._uv_to_st(u)
    back = s2._st_to_uv(st_)
    assert np.allclose(back, u, atol=1e-12)


# --- tiles -------------------------------------------------------------------

def test_tile_golden():
    # frozen formula: z=14, Maricopa SE corner
    x, y = tl.tile_xyz(33.0745, -111.97475, 14)
    n = 2**14
    import math
    exp_x = math.floor((-111.97475 + 180) / 360 * n)
    lat_rad = math.radians(33.0745)
    exp_y = math.floor((1 - math.asinh(math.tan(lat_rad)) / math.pi) / 2 * n)
    assert (int(x), int(y)) == (exp_x, exp_y) == (3095, 6595)


@settings(max_examples=200, deadline=None)
@given(lat=st.floats(min_value=-85.0, max_value=85.0), lon=LONS,
       z=st.integers(min_value=0, max_value=18))
def test_tile_bounds_roundtrip(lat, lon, z):
    x, y = tl.tile_xyz(lat, lon, z)
    w, s_, e, n = tl.tile_bounds(z, int(x), int(y))
    assert w - 1e-9 <= lon <= e + 1e-9
    assert s_ - 1e-9 <= min(lat, tl.MERC_MAX_LAT) <= n + 1e-9 or lat > tl.MERC_MAX_LAT


def test_bbox_tile_ranges():
    x0, x1, y0, y1 = tl.bbox_tile_ranges(33.0745, -111.9751, 33.0766, -111.9742, 14)
    assert int(x0) <= int(x1) and int(y0) <= int(y1)
    # every corner tile inside the ranges
    for lat, lon in [(33.0745, -111.9751), (33.0766, -111.9742)]:
        x, y = tl.tile_xyz(lat, lon, 14)
        assert int(x0) <= int(x) <= int(x1)
        assert int(y0) <= int(y) <= int(y1)


def test_h3_kring_col_matches_numpy_kernel(spark):
    """The JVM k-ring column expression must enumerate exactly the same cell
    set as hexgrid.h3_kring for the same center cells (any k)."""
    import numpy as np
    from pyspark.sql import functions as F

    from extractors_metadata_spark.functions import hexgrid

    lats = np.array([33.0746, 33.076, -12.5])
    lons = np.array([-111.9748, -111.975, 100.25])
    cells = hexgrid.h3_encode(lats, lons, 9)
    df = spark.createDataFrame([(int(c),) for c in cells], "cell long")
    for k in (1, 2):
        got = {
            (r["cell"], r["rc"])
            for r in df.select("cell", F.explode(hexgrid.h3_kring_col(F.col("cell"), k)).alias("rc")).collect()
        }
        want = {
            (int(c), int(rc)) for c in cells for rc in hexgrid.h3_kring(int(c), k)
        }
        assert got == want

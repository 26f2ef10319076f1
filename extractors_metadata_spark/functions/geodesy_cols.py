"""JVM column-expression twins of the NumPy geodesy/cell kernels.

The fused footprint stage is the engine's largest Python execution point:
one Arrow round trip carrying six input columns and seventeen outputs per
document. Every kernel in it is elementwise math, so this module re-expresses
them as ``pyspark.sql.functions`` column trees that run inside whole-stage
codegen — no Python worker, no Arrow transfer.

MEASURED OUTCOME (why this is NOT the pipeline default): at local[4] over
10^6 docs the codegen tree runs 19-23 s vs 2-5 s for the Arrow/NumPy pass —
~50 scalar java.lang.Math trig calls per row lose ~8x to SIMD-vectorized
NumPy over Arrow batches. The module stays as (a) the parity cross-check for
the NumPy kernels (tests/test_geodesy_cols.py pins coords to 1e-9 deg and
cell IDs exactly), and (b) the escape hatch for deployments that cannot run
Python workers.

Numerical parity: java.lang.Math and NumPy's libm agree to ~1 ulp on
sin/cos/sqrt; the pipeline consumes these values through boundary-safe
operators (cell IDs feed a ring-dilated covering join where off-by-one-cell
is absorbed by the dilation, and containment/distance are refined exactly),
so ulp-level drift cannot change results. ``tests/test_geodesy_cols.py`` pins
agreement against the NumPy kernels (coords to 1e-9 deg, cell IDs equal on
the synthetic corpus).

The NumPy kernels (geodesy.py / hexgrid.py / s2quad.py) remain the reference
implementations and keep their golden tests; the Hilbert curve runs as an
``F.aggregate`` over the 26 bit levels — a runtime loop, so the expression
tree stays constant-size instead of unrolling 26 rotation steps.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import geodesy as G
from . import hexgrid as HG
from . import s2quad as S2Q
from .textmeta import GANTRY_X0, SE_E, SE_N, UTM_ZONE


def to_latlon_cols(
    easting: Column, northing: Column, zone_number: int = UTM_ZONE
) -> tuple[Column, Column]:
    """UTM -> WGS84 inverse series (geodesy.to_latlon), northern hemisphere.

    Literal mirror of the NumPy expression order; zone is a compile-time
    constant (the engine's gantry site is fixed to zone 12).
    """
    x = easting - F.lit(500000.0)
    y = northing

    m = y / F.lit(G.K0)
    mu = m / F.lit(G.R * G.M1)

    p_rad = (
        mu
        + F.lit(G.P2) * F.sin(2.0 * mu)
        + F.lit(G.P3) * F.sin(4.0 * mu)
        + F.lit(G.P4) * F.sin(6.0 * mu)
        + F.lit(G.P5) * F.sin(8.0 * mu)
    )

    p_sin = F.sin(p_rad)
    p_sin2 = p_sin * p_sin
    p_cos = F.cos(p_rad)
    p_tan = p_sin / p_cos
    p_tan2 = p_tan * p_tan
    p_tan4 = p_tan2 * p_tan2

    ep_sin = 1.0 - F.lit(G.E) * p_sin2
    ep_sin_sqrt = F.sqrt(ep_sin)

    n = F.lit(G.R) / ep_sin_sqrt
    rr = F.lit(1.0 - G.E) / ep_sin

    c = F.lit(G.E_P2) * p_cos * p_cos
    c2 = c * c

    d = x / (n * F.lit(G.K0))
    d2 = d * d
    d3 = d2 * d
    d4 = d3 * d
    d5 = d4 * d
    d6 = d5 * d

    lat_rad = (
        p_rad
        - (p_tan / rr)
        * (d2 / 2.0 - d4 / 24.0 * (5.0 + 3.0 * p_tan2 + 10.0 * c - 4.0 * c2 - 9.0 * F.lit(G.E_P2)))
        - (p_tan / rr)
        * (
            -d6
            / 720.0
            * (61.0 + 90.0 * p_tan2 + 298.0 * c + 45.0 * p_tan4 - 252.0 * F.lit(G.E_P2) - 3.0 * c2)
        )
    )
    lon_rad = (
        d
        - d3 / 6.0 * (1.0 + 2.0 * p_tan2 + c)
        + d5 / 120.0 * (5.0 - 2.0 * c + 28.0 * p_tan2 - 3.0 * c2 + 8.0 * F.lit(G.E_P2) + 24.0 * p_tan4)
    ) / p_cos

    lat = F.degrees(lat_rad)
    lon = F.degrees(lon_rad) + F.lit((zone_number - 1.0) * 6.0 - 180.0 + 3.0)
    return lat, lon


def gantry_to_latlon_cols(gx: Column, gy: Column) -> tuple[Column, Column]:
    """Gantry meters (x north from SE at 3.8, y west) -> WGS84 columns
    (textmeta.gantry_to_latlon)."""
    easting = F.lit(SE_E) - gy
    northing = F.lit(SE_N) + (gx - F.lit(GANTRY_X0))
    return to_latlon_cols(easting, northing, UTM_ZONE)


def h3_encode_col(lat: Column, lon: Column, res: int) -> Column:
    """hexgrid.h3_encode as a column tree: Lambert-CEA project -> fractional
    axial -> cube round (F.bround = half-even, matching np.rint) -> packed id."""
    x = F.lit(G.R_MEAN) * F.radians(lon)
    y = F.lit(G.R_MEAN) * F.sin(F.radians(lat))
    size = float(HG.res_size_m(res))
    sqrt3 = float(HG._SQRT3)

    qf = (F.lit(sqrt3 / 3.0) * x - y / 3.0) / F.lit(size)
    rf = (F.lit(2.0 / 3.0) * y) / F.lit(size)
    yf = -qf - rf

    rx = F.bround(qf)
    ry = F.bround(yf)
    rz = F.bround(rf)
    dx = F.abs(rx - qf)
    dy = F.abs(ry - yf)
    dz = F.abs(rz - rf)
    fix_x = (dx > dy) & (dx > dz)
    fix_z = (~fix_x) & (dz > dy)
    rxf = F.when(fix_x, -ry - rz).otherwise(rx)
    rzf = F.when(fix_z, -rxf - ry).otherwise(rz)

    q = rxf.cast("long") + F.lit(HG._OFFSET)
    r = rzf.cast("long") + F.lit(HG._OFFSET)
    return (
        F.shiftleft(F.lit(res).cast("long"), HG._Q_BITS + HG._R_BITS)
        .bitwiseOR(F.shiftleft(q, HG._R_BITS))
        .bitwiseOR(r)
    )


def h3_kring_col(cell: Column, k: int) -> Column:
    """hexgrid.h3_kring as a pure column expression: unpack the [res:4][q:29]
    [r:29] layout with shifts, add the 3k^2+3k+1 literal axial offsets, repack
    — an array<long> of every cell within hex-grid distance k (incl. self).

    NOT for join fan-outs: ring/radius JOINS must dilate the broadcast DIM
    (pip_knn._poly_cells) — exploding the PROBE side multiplies the big
    table 3k^2+3k+1x (engine rule, CLAUDE.md). Use this for per-row ring
    enumeration (neighborhood features, oracle replay, small dims)."""
    res = F.shiftright(cell, HG._Q_BITS + HG._R_BITS)
    q = F.shiftright(cell, HG._R_BITS).bitwiseAND(F.lit((1 << HG._Q_BITS) - 1))
    r = cell.bitwiseAND(F.lit((1 << HG._R_BITS) - 1))
    cells = [
        F.shiftleft(res, HG._Q_BITS + HG._R_BITS)
        .bitwiseOR(F.shiftleft(q + F.lit(dq), HG._R_BITS))
        .bitwiseOR(r + F.lit(dr))
        for dq in range(-k, k + 1)
        for dr in range(-k, k + 1)
        if abs(dq + dr) <= k
    ]
    return F.array(*cells)


def _s2_face_ij(lat: Column, lon: Column) -> tuple[Column, Column, Column]:
    """Shared front half of the S2 encode: (face, leaf i, leaf j) columns."""
    latr = F.radians(lat)
    lonr = F.radians(lon)
    cl = F.cos(latr)
    x = cl * F.cos(lonr)
    y = cl * F.sin(lonr)
    z = F.sin(latr)
    ax, ay, az = F.abs(x), F.abs(y), F.abs(z)

    face = (
        F.when(
            (ax >= ay) & (ax >= az), F.when(x >= 0, F.lit(0)).otherwise(F.lit(3))
        )
        .otherwise(
            F.when(ay >= az, F.when(y >= 0, F.lit(1)).otherwise(F.lit(4))).otherwise(
                F.when(z >= 0, F.lit(2)).otherwise(F.lit(5))
            )
        )
        .cast("long")
    )
    u = (
        F.when(face == 0, y / x)
        .when(face == 1, -x / y)
        .when(face == 2, -x / z)
        .when(face == 3, z / x)
        .when(face == 4, z / y)
        .otherwise(-y / z)
    )
    v = (
        F.when(face == 0, z / x)
        .when(face == 1, z / y)
        .when(face == 2, -y / z)
        .when(face == 3, y / x)
        .when(face == 4, -x / y)
        .otherwise(-x / z)
    )

    def st(uu: Column) -> Column:
        return F.when(
            uu >= 0.0, 0.5 * F.sqrt(F.greatest(F.lit(0.0), 1.0 + 3.0 * uu))
        ).otherwise(1.0 - 0.5 * F.sqrt(F.greatest(F.lit(0.0), 1.0 - 3.0 * uu)))

    n = 1 << S2Q.MAX_LEVEL
    i = F.least(F.greatest((st(u) * F.lit(float(n))).cast("long"), F.lit(0)), F.lit(n - 1))
    j = F.least(F.greatest((st(v) * F.lit(float(n))).cast("long"), F.lit(0)), F.lit(n - 1))
    return face, i, j


def with_s2_encode(
    df, lat_col: str, lon_col: str, level: int, out_col: str = "s2_cell"
):
    """s2quad.s2_encode over a DataFrame, fully codegen.

    The Hilbert xy->d rotation loop unrolls into 26 chained PROJECTIONS, one
    per bit level, each landing (x, y, d) as real aliased columns. Chained
    projections (not one nested expression, not an F.aggregate lambda) are
    load-bearing twice over: inline nesting quadruples the tree per level
    (4^26 nodes), while higher-order-function lambdas never enter codegen —
    measured 8 s interpreted vs ~1 s unrolled per 10^6 rows. CollapseProject
    keeps the boundaries because each step references the previous aliases
    multiple times.
    """
    face, i, j = _s2_face_ij(F.col(lat_col), F.col(lon_col))
    df = df.select(
        "*",
        face.alias("_s2f"),
        i.alias("_s2x"),
        j.alias("_s2y"),
        F.lit(0).cast("long").alias("_s2d"),
    )
    keep = [c for c in df.columns if c not in ("_s2x", "_s2y", "_s2d")]
    for k in range(S2Q.MAX_LEVEL - 1, -1, -1):
        s = 1 << k
        xx, yy = F.col("_s2x"), F.col("_s2y")
        rx = (xx.bitwiseAND(F.lit(s)) > 0).cast("long")
        ry = (yy.bitwiseAND(F.lit(s)) > 0).cast("long")
        d2 = F.col("_s2d") + F.lit(s * s).cast("long") * (F.lit(3) * rx).bitwiseXOR(ry)
        swap = ry == 0
        flip = swap & (rx == 1)
        x_f = F.when(flip, F.lit(s - 1) - xx).otherwise(xx)
        y_f = F.when(flip, F.lit(s - 1) - yy).otherwise(yy)
        x_new = F.when(swap, y_f).otherwise(x_f)
        y_new = F.when(swap, x_f).otherwise(y_f)
        df = df.select(
            *keep, x_new.alias("_s2x"), y_new.alias("_s2y"), d2.alias("_s2d")
        )
    pos = F.shiftrightunsigned(F.col("_s2d"), 2 * (S2Q.MAX_LEVEL - level))
    cell = (
        F.shiftleft(F.col("_s2f"), 57)
        .bitwiseOR(F.shiftleft(pos, 5))
        .bitwiseOR(F.lit(level).cast("long"))
    )
    return df.select(
        *[c for c in keep if c != "_s2f"], cell.alias(out_col)
    )


def footprint_corner_cols(
    pos_x: Column,
    pos_y: Column,
    cambox_x: Column,
    cambox_y: Column,
    fov_x: Column,
    fov_y: Column,
) -> dict[str, Column]:
    """Phase 1 of the JVM footprint stage: the ten raw coordinate columns
    (centroid + 4 corners), each one UTM-inverse tree.

    Callers MUST land these in their own projection (``select`` with aliases)
    before deriving bbox/geojson/cells from the aliased references — deriving
    everything inline re-inlines each ~5k-node series tree into every
    consumer and the optimizer/codegen blows up (observed: minutes-long
    planning on 10 rows). A projection boundary with multiply-referenced
    non-cheap aliases is exactly what CollapseProject refuses to merge, so
    each series is planned and evaluated once.
    """
    cx = pos_x + cambox_x
    cy = pos_y + cambox_y
    hx = fov_x / 2.0
    hy = fov_y / 2.0

    c_lat, c_lon = gantry_to_latlon_cols(cx, cy)
    sw_lat, sw_lon = gantry_to_latlon_cols(cx - hx, cy + hy)
    se_lat, se_lon = gantry_to_latlon_cols(cx - hx, cy - hy)
    ne_lat, ne_lon = gantry_to_latlon_cols(cx + hx, cy - hy)
    nw_lat, nw_lon = gantry_to_latlon_cols(cx + hx, cy + hy)
    return {
        "centroid_lat": c_lat,
        "centroid_lon": c_lon,
        "sw_lon": sw_lon, "sw_lat": sw_lat,
        "se_lon": se_lon, "se_lat": se_lat,
        "ne_lon": ne_lon, "ne_lat": ne_lat,
        "nw_lon": nw_lon, "nw_lat": nw_lat,
    }

"""Horn gradient + aspect octants over the sparse tile grid — terrain math.

Horn's method (Horn 1981, the slope/aspect kernel inside every GIS
terrain toolbox) estimates the surface gradient at a cell from its 3x3
neighborhood:

    gx = (tr + 2*r + br) - (tl + 2*l + bl)
    gy = (bl + 2*b + br) - (tl + 2*t + tr)

Here the "elevation" surface is the engine's per-tile activity count
(the same sparse (x, y, cnt) frame heatmap.tile_smooth consumes) —
the gradient field of a crawl/scan density surface is how a monitoring
consumer finds activity FRONTS (ridges where coverage is advancing)
rather than blobs.  Reference analog: none (the reference renders
single-dataset GeoJSON, sensorposition/terra_sensorposition.py:60-64);
this widens J7 tiling with the classic raster-analysis kernel.

Exactness: counts are int64 and absent tiles are REAL ZEROS (a tile
with no events is an observed zero, not missing), so gx/gy are exact
int64.  The aspect is NOT emitted as atan2 floats — it is the 8-sector
octant decided entirely in integers: with a = |gx|, b = |gy|, the true
22.5 degree sector boundaries satisfy

    b < (sqrt(2) - 1) * a   <=>   (a + b)^2 < 2 * a^2
    a < (sqrt(2) - 1) * b   <=>   (a + b)^2 < 2 * b^2

(squares exact below 2^63 — safe for per-tile counts < 2^29, i.e. any
real corpus; boundary EQUALITY is frozen to the diagonal sector).  The
squared gradient magnitude slope2 = gx^2 + gy^2 is emitted in place of
the float slope (sqrt / cell-size stays consumer-side: only exact
sufficient statistics cross the engine boundary).

Octant codes (gradient = ASCENT direction, tile-grid axes — +y is the
screen-south row direction): -1 flat, 0 +x, 1 +x+y, 2 +y, 3 -x+y,
4 -x, 5 -x-y, 6 -y, 7 +x-y.

Scale shape (identical to tile_smooth): the input is the already-tiny
aggregated tile frame; the convolution is SCATTER form — a constant x8
posexplode of a literal offsets array (pure whole-stage codegen, both
weight columns in one fan-out), then ONE map-side-combining re-sum
keyed by the output tile; x wraps mod 2^z, y rows off the pole edges
drop.  Zero UDFs, one shuffle, linear in occupied tiles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _octant(gx, gy):
    """Exact-integer 8-sector aspect classification of (gx, gy)."""
    a = F.abs(gx)
    b = F.abs(gy)
    s2 = (a + b) * (a + b)
    return (
        F.when((gx == 0) & (gy == 0), F.lit(-1))
        .when(s2 < 2 * a * a, F.when(gx > 0, F.lit(0)).otherwise(F.lit(4)))
        .when(s2 < 2 * b * b, F.when(gy > 0, F.lit(2)).otherwise(F.lit(6)))
        .otherwise(
            F.when((gx > 0) & (gy > 0), F.lit(1))
            .when((gx < 0) & (gy > 0), F.lit(3))
            .when((gx < 0) & (gy < 0), F.lit(5))
            .otherwise(F.lit(7))
        )
    )


def slope_aspect(tile_counts: DataFrame, z: int, cnt_col: str = "cnt") -> DataFrame:
    """Horn gradient of the sparse per-tile count surface at zoom ``z``
    -> (z, x, y, gx, gy, slope2, octant).  Scatter form: cell p with
    count c adds wgx(dx,dy)*c / wgy(dx,dy)*c to output o = p - (dx,dy),
    where wgx(dx,dy) = dx*(2-|dy|) and wgy(dx,dy) = dy*(2-|dx|) are the
    Horn weights of the neighbor at offset (dx,dy) seen from o."""
    n = 1 << z
    offsets = F.array(
        *[
            F.struct(
                F.lit(dx).alias("dx"),
                F.lit(dy).alias("dy"),
                F.lit(dx * (2 - abs(dy))).alias("wx"),
                F.lit(dy * (2 - abs(dx))).alias("wy"),
            )
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
            if not (dx == 0 and dy == 0)
        ]
    )
    scattered = (
        tile_counts.select("x", "y", F.col(cnt_col).alias("_c"))
        .select("x", "y", "_c", F.explode(offsets).alias("o"))
        .select(
            ((F.col("x") - F.col("o.dx") + n) % n).alias("x"),
            (F.col("y") - F.col("o.dy")).alias("y"),
            (F.col("_c") * F.col("o.wx")).alias("_gx"),
            (F.col("_c") * F.col("o.wy")).alias("_gy"),
        )
        .filter((F.col("y") >= 0) & (F.col("y") < n))
    )
    g = scattered.groupBy("x", "y").agg(
        F.sum("_gx").alias("gx"), F.sum("_gy").alias("gy")
    )
    gx, gy = F.col("gx"), F.col("gy")
    return g.select(
        F.lit(z).alias("z"),
        "x",
        "y",
        "gx",
        "gy",
        (gx * gx + gy * gy).alias("slope2"),
        _octant(gx, gy).alias("octant"),
    )

"""Tile-grid kernel smoothing — the heatmap rendering primitive.

Raster-style spatial aggregation over the engine's slippy-tile keys
(J7 widening): a live crawl/scan heatmap rendered straight from per-tile
counts looks speckled at high zoom; the standard fix is a small-kernel
convolution (Gaussian-ish blur) over the tile grid.  On a 10^12-point
table the grid is SPARSE (only occupied tiles have rows), so the
convolution is expressed in scatter form: every occupied tile CONTRIBUTES
``w * cnt`` to each of its 3x3 neighbors, and one groupBy re-sums.

Scale design:
- input is the narrow (x, y, cnt) frame (already aggregated — tiny vs the
  point table); fan-out is a constant x9 posexplode of a literal offsets
  array, pure whole-stage codegen (integer adds, no UDF);
- the re-sum is ONE map-side-combining shuffle keyed by the output tile —
  partial sums collapse the x9 before the exchange, so shuffled rows
  <= occupied-neighborhood tiles per partition;
- scatter == gather for the symmetric kernel, and the output support
  dilates by exactly one ring (a tile with zero count but an occupied
  neighbor gets a row — renderers need that halo);
- x wraps across the antimeridian (mod 2^z on the already-positive
  ``x + dx + 2^z``); y rows falling off the pole edge are dropped.

Everything is exact int64 arithmetic, so the DuckDB oracle replays the
scatter bit-identically (the default kernel's weights are the separable
``(2 - |dx|) * (2 - |dy|)`` — written as that closed form in the SQL).

Reference analog: none — the reference renders single-dataset GeoJSON
(``/root/reference/sensorposition/terra_sensorposition.py:60-64``); this
is the corpus-scale rendering path over the engine's tile assignment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: separable binomial 3x3 kernel: w(dx, dy) = (2 - |dx|) * (2 - |dy|)
DEFAULT_KERNEL = ((1, 2, 1), (2, 4, 2), (1, 2, 1))


def tile_smooth(
    tile_counts: DataFrame,
    z: int,
    kernel: tuple[tuple[int, int, int], ...] = DEFAULT_KERNEL,
    cnt_col: str = "cnt",
) -> DataFrame:
    """Convolve sparse per-tile counts at zoom ``z`` with a 3x3 integer
    ``kernel`` -> (z, x, y, smooth).  ``kernel[dy + 1][dx + 1]`` is the
    weight a tile contributes to its neighbor at offset (dx, dy)."""
    n = 1 << z
    offsets = F.array(
        *[
            F.struct(
                F.lit(dx).alias("dx"),
                F.lit(dy).alias("dy"),
                F.lit(kernel[dy + 1][dx + 1]).alias("w"),
            )
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
        ]
    )
    scattered = (
        tile_counts.select("x", "y", F.col(cnt_col).alias("_c"))
        .select("x", "y", "_c", F.explode(offsets).alias("o"))
        .select(
            ((F.col("x") + F.col("o.dx") + n) % n).alias("x"),
            (F.col("y") + F.col("o.dy")).alias("y"),
            (F.col("_c") * F.col("o.w")).alias("_wc"),
        )
        .filter((F.col("y") >= 0) & (F.col("y") < n))
    )
    return (
        scattered.groupBy("x", "y")
        .agg(F.sum("_wc").alias("smooth"))
        .select(F.lit(z).alias("z"), "x", "y", "smooth")
    )


def tile_median(tile_counts: DataFrame, z: int, cnt_col: str = "cnt") -> DataFrame:
    """3x3 median filter over the zero-filled tile surface at zoom ``z``
    -> (z, x, y, cnt, med) — the ROBUST smoother (the salt-and-pepper
    denoiser of classical raster processing): where tile_smooth's linear
    kernel lets one anomalous hot tile bleed into its whole ring, the
    median suppresses it entirely.  Evaluated at OCCUPIED cells; the
    window is the zero-filled 3x3 neighborhood (absent tiles are real
    zeros; x wraps mod 2^z, off-grid y reads 0), so
    the median is element 5 of the 9 sorted values — exact int64, no
    quantile interpolation exists at window size 9.

    Scale shape: a x9 literal gather explode + ONE grid-keyed LEFT
    equi-join + one per-cell sort of a CONSTANT-9 array inside codegen
    (sort_array on a collect_list bounded by the literal window) — work
    linear in occupied tiles, zero UDFs."""
    n = 1 << z
    cells = tile_counts.select(
        F.col("x").cast("long").alias("x"),
        F.col("y").cast("long").alias("y"),
        F.col(cnt_col).cast("long").alias("cnt"),
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
        ]
    )
    nb = cells.select(
        F.col("x").alias("_nx"), F.col("y").alias("_ny"), F.col("cnt").alias("_ncnt")
    )
    gathered = (
        cells.select("x", "y", "cnt", F.explode(offsets).alias("o"))
        .select(
            "x",
            "y",
            "cnt",
            ((F.col("x") + F.col("o.dx") + n) % n).alias("_nx"),
            (F.col("y") + F.col("o.dy")).alias("_ny"),
        )
        .join(nb, ["_nx", "_ny"], "left")
        .select("x", "y", "cnt", F.coalesce(F.col("_ncnt"), F.lit(0)).alias("_v"))
    )
    return gathered.groupBy("x", "y", "cnt").agg(
        F.element_at(F.sort_array(F.collect_list("_v")), 5).alias("med")
    ).select(F.lit(z).alias("z"), "x", "y", "cnt", "med")


def grid_upsample(vals: DataFrame) -> DataFrame:
    """Bilinear 2x upsampling of an integer grid -> (y, x, v4): the
    image-pyramid UPSAMPLE direction beside tile_pyramid's downsample
    and tile_smooth/median's filters — rendering a coarse density
    surface at a finer zoom. ``vals``: (r, c, v) dense integer grid.
    Output positions on the doubled lattice: even/even = the source
    cell, odd positions the bilinear midpoints — every weight times 4
    so the surface stays EXACT int64 (v4 = 4x the bilinear value; the
    consumer divides, the engine never does — the integer-emission rule).

    Plan: three shifted self-joins on the (r, c) key (pure codegen
    equi-joins; the grid is its own dimension) + one union — O(grid),
    zero data-sized work beyond the caller's count agg."""
    v = vals.select("r", "c", F.col("v").cast("long").alias("v"))
    east = v.select((F.col("c") - 1).alias("c"), F.col("r").alias("r"),
                    F.col("v").alias("ve"))
    south = v.select((F.col("r") - 1).alias("r"), F.col("c").alias("c"),
                     F.col("v").alias("vs"))
    se = v.select((F.col("r") - 1).alias("r"), (F.col("c") - 1).alias("c"),
                  F.col("v").alias("vse"))
    base = (
        v.join(east, ["r", "c"], "left")
        .join(south, ["r", "c"], "left")
        .join(se, ["r", "c"], "left")
    )
    even_even = base.select(
        (2 * F.col("r")).alias("y"), (2 * F.col("c")).alias("x"),
        (4 * F.col("v")).alias("v4"),
    )
    even_odd = base.filter(F.col("ve").isNotNull()).select(
        (2 * F.col("r")).alias("y"), (2 * F.col("c") + 1).alias("x"),
        (2 * (F.col("v") + F.col("ve"))).alias("v4"),
    )
    odd_even = base.filter(F.col("vs").isNotNull()).select(
        (2 * F.col("r") + 1).alias("y"), (2 * F.col("c")).alias("x"),
        (2 * (F.col("v") + F.col("vs"))).alias("v4"),
    )
    odd_odd = base.filter(
        F.col("ve").isNotNull()
        & F.col("vs").isNotNull()
        & F.col("vse").isNotNull()
    ).select(
        (2 * F.col("r") + 1).alias("y"), (2 * F.col("c") + 1).alias("x"),
        (F.col("v") + F.col("ve") + F.col("vs") + F.col("vse")).alias("v4"),
    )
    return (
        even_even.unionByName(even_odd)
        .unionByName(odd_even)
        .unionByName(odd_odd)
        .select(
            F.col("y").cast("long").alias("y"),
            F.col("x").cast("long").alias("x"),
            F.col("v4").cast("long").alias("v4"),
        )
    )

"""Empirical semivariogram — the geostatistics structure function.

The semivariogram (Matheron 1963; the first step of every kriging /
spatial-interpolation workflow) measures how value dissimilarity grows
with distance: gamma(h) = (1 / 2N(h)) * sum over pairs at lag h of
(v_a - v_b)^2.  Here the field is the per-tile activity count (the
z22 event-count surface), so the variogram quantifies the spatial
correlation length of crawl/scan density — the statistic that picks
idw_surface's power or a kriging range.  Reference analog: none; this
joins the spatial-statistics suite (moran, getis-ord, ripley, knox)
with the continuous-field structure function.

Frozen semantics, all exact int64 (only sufficient statistics cross
the engine boundary — the 1/2N normalization stays consumer-side):

- Lag bins are EUCLIDEAN shells decided exactly on squared distance:
  pair (a, b) falls in bin k iff (k-1)^2 < dx^2 + dy^2 <= k^2 — no
  sqrt ever crosses the engine boundary.
- Each unordered pair counts once: the offset table is the lexicographic
  HALF-plane (dy > 0, or dy = 0 and dx > 0), so symmetric duplicates
  are never generated rather than deduplicated.
- Output per lag k = 1..max_lag: n_pairs and sum_sq_diff (squared count
  differences summed as int64 — exact for counts < 2^31).
- x wraps mod 2^z; y rows off the pole edges drop (the scatter rules).

Scale shape: the candidate stage is a LITERAL offset explode — every
(dx, dy) in the half-disk of radius max_lag (~ pi/2 * max_lag^2
offsets, a compile-time constant) — followed by ONE grid-keyed
equi-join against the occupied frame and ONE map-side-combining
aggregate keyed by the (tiny) lag id.  Work is
O(occupied tiles x half-disk size), shuffle linear in matched pairs,
pure whole-stage codegen, zero UDFs.  max_lag is the variogram range
bound — the explicit scale lever (lags beyond the correlation length
carry no information; classical practice caps at a fraction of the
field extent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _half_disk(max_lag: int) -> list[tuple[int, int, int]]:
    """Lexicographic half-plane offsets within Euclidean max_lag ->
    [(dx, dy, lag_bin)]."""
    out = []
    for dy in range(0, max_lag + 1):
        for dx in range(-max_lag, max_lag + 1):
            if dy == 0 and dx <= 0:
                continue
            d2 = dx * dx + dy * dy
            if d2 > max_lag * max_lag:
                continue
            k = 1
            while k * k < d2:
                k += 1
            out.append((dx, dy, k))
    return out


def semivariogram(
    tile_counts: DataFrame, z: int, max_lag: int = 8, cnt_col: str = "cnt"
) -> DataFrame:
    """Exact variogram sufficient statistics over the occupied tiles at
    zoom ``z`` -> (z, lag, n_pairs, sum_sq_diff); lag k covers pair
    distances in ((k-1), k] cells (squared-boundary exact)."""
    if max_lag < 1:
        raise ValueError("semivariogram: max_lag must be >= 1")
    n = 1 << z
    cells = tile_counts.select(
        F.col("x").cast("long").alias("x"),
        F.col("y").cast("long").alias("y"),
        F.col(cnt_col).cast("long").alias("cnt"),
    )
    offsets = F.array(
        *[
            F.struct(
                F.lit(dx).alias("dx"),
                F.lit(dy).alias("dy"),
                F.lit(k).alias("lag"),
            )
            for dx, dy, k in _half_disk(max_lag)
        ]
    )
    nb = cells.select(
        F.col("x").alias("_nx"), F.col("y").alias("_ny"), F.col("cnt").alias("_ncnt")
    )
    diff = F.col("cnt") - F.col("_ncnt")
    return (
        cells.select("x", "y", "cnt", F.explode(offsets).alias("o"))
        .select(
            "cnt",
            F.col("o.lag").alias("lag"),
            ((F.col("x") + F.col("o.dx") + n) % n).alias("_nx"),
            (F.col("y") + F.col("o.dy")).alias("_ny"),
        )
        .filter((F.col("_ny") >= 0) & (F.col("_ny") < n))
        .join(nb, ["_nx", "_ny"])
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(diff * diff).alias("sum_sq_diff"),
        )
        .select(F.lit(z).alias("z"), F.col("lag").cast("long"), "n_pairs", "sum_sq_diff")
    )

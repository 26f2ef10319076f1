"""Huff spatial-interaction model — patronage probabilities over k sites.

The retail-gravity classic (Huff 1963): a consumer at point i patronizes
site j with probability proportional to attractiveness / distance^2.
With equal attractiveness and the exponent fixed at 2, the probability
over the k = 3 nearest sites is a RATIO OF EXACT INTEGERS once distance
is quantized to integer centimeters (the engine's proven cross-engine
surface):

    p_j = (1/d2_j) / sum_m (1/d2_m)  =  prod_{m != j} d2_m / den,
    den = sum_m prod_{m' != m} d2_m'

so the operator emits (num_1..3, den) int64 and never a float — the
integer-emission rule.  d2 = max(dist_cm^2, 1) (a consumer standing ON a
site gets the whole unit mass through the d2 = 1 clamp, deterministic
on both engines).

int64 envelope: with k = 3 the numerators are pairwise products of
dist_cm^2 — safe through dist_cm ~ 5.5e4 (≈ 550 m to the 3rd site);
beyond that, rescale to decimeters.

Scale shape: the kNN kernel (one Arrow pass, k rows per point, no
shuffle) plus ONE point-keyed pivot aggregate.

Reference analog: none — the reference assigns each point to one plot;
Huff distributes a point's unit mass over its k nearest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .pip_knn import knn_join


def huff_model(
    spark,
    points: DataFrame,
    plots,
    point_id: str = "event_id",
    lat_col: str = "centroid_lat",
    lon_col: str = "centroid_lon",
    ring: int = 8,
) -> DataFrame:
    """Per point the 3 nearest plots and the exact Huff split ->
    (point, plot_1..3, d2_1..3, num_1..3, den); p_j = num_j / den."""
    knn = knn_join(spark, points, plots, k=3, lat_col=lat_col, lon_col=lon_col, ring=ring)
    dc = F.round(F.col("dist_m") * 100.0, 0).cast("long")
    d = knn.select(
        F.col(point_id),
        F.col("plot_id"),
        F.col("knn_rank").cast("int").alias("_r"),
        F.greatest(dc * dc, F.lit(1)).alias("_d2"),
    )
    wide = d.groupBy(point_id).agg(
        *[
            F.min(F.when(F.col("_r") == i, F.col("plot_id"))).alias(f"plot_{i}")
            for i in (1, 2, 3)
        ],
        *[
            F.min(F.when(F.col("_r") == i, F.col("_d2"))).alias(f"d2_{i}")
            for i in (1, 2, 3)
        ],
    )
    n1 = F.col("d2_2") * F.col("d2_3")
    n2 = F.col("d2_1") * F.col("d2_3")
    n3 = F.col("d2_1") * F.col("d2_2")
    return wide.select(
        point_id,
        "plot_1", "plot_2", "plot_3", "d2_1", "d2_2", "d2_3",
        n1.alias("num_1"), n2.alias("num_2"), n3.alias("num_3"),
        (n1 + n2 + n3).alias("den"),
    )

"""Spatial co-location pattern mining — participation index over feature pairs.

The Shekhar/Huang co-location classic (SSTD 2001): which pairs of
FEATURE TYPES (shop+cafe, error+purchase, sensor A + sensor B) occur
near each other more than their own abundance explains.  For each
unordered feature pair (A, B), the participation ratio pr(A) = the
fraction of A-instances that have at least one B-instance within
``radius_m``; the participation index PI(A, B) = min(pr(A), pr(B)) is
the canonical prevalence measure (anti-monotone, the Apriori property
co-location miners prune with).

This operator emits the EXACT INTEGER ingredients — (feat_a, feat_b,
n_a, n_b, part_a, part_b, n_pairs) with feat_a < feat_b — and leaves
the two divisions to the consumer (the integer-emission rule: never
emit a float the oracle must reproduce).

Scale design: neighbor pairs come from the proven cell-bucketed
``radius_self_join`` (bounded k-ring explode, no broadcast side, each
unordered pair exactly once); feature tagging is two id-keyed equi-joins
of the narrow (id, feature) frame; participation = count(DISTINCT
instance) inside one (feat_a, feat_b)-keyed aggregate (two-phase
distinct, feature-pair key space is tiny); per-feature totals are a
dimension-sized broadcast join.  Nothing is quadratic in instances —
candidates are bounded by local density x ring cells exactly as in
radius_join.py.

Reference analog: none — the reference relates each observation to a
static plot dim; this relates observation TYPES to each other.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .radius_join import radius_self_join


def colocation_pi(
    spark,
    pts: DataFrame,
    radius_m: float,
    id_col: str = "event_id",
    feature_col: str = "feature",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Participation-index ingredients per unordered feature pair ->
    (feat_a, feat_b, n_a, n_b, part_a, part_b, n_pairs), feat_a < feat_b.

    part_a = distinct feat_a instances with >= 1 feat_b neighbor within
    ``radius_m``; PI = min(part_a / n_a, part_b / n_b) consumer-side."""
    pairs = radius_self_join(
        spark, pts.select(id_col, lat_col, lon_col), radius_m,
        id_col=id_col, lat_col=lat_col, lon_col=lon_col,
    ).select("id_a", "id_b")
    feats = pts.select(F.col(id_col).alias("_id"), F.col(feature_col).alias("_f"))
    tagged = (
        pairs.join(
            feats.select(
                F.col("_id").alias("id_a"), F.col("_f").alias("_fa")
            ),
            "id_a",
        )
        .join(
            feats.select(
                F.col("_id").alias("id_b"), F.col("_f").alias("_fb")
            ),
            "id_b",
        )
        .filter(F.col("_fa") != F.col("_fb"))
    )
    oriented = tagged.select(
        F.least("_fa", "_fb").alias("feat_a"),
        F.greatest("_fa", "_fb").alias("feat_b"),
        F.when(F.col("_fa") < F.col("_fb"), F.col("id_a"))
        .otherwise(F.col("id_b")).alias("_ia"),
        F.when(F.col("_fa") < F.col("_fb"), F.col("id_b"))
        .otherwise(F.col("id_a")).alias("_ib"),
    )
    agg = oriented.groupBy("feat_a", "feat_b").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("_ia").alias("part_a"),
        F.countDistinct("_ib").alias("part_b"),
    )
    tot = feats.groupBy("_f").agg(F.count(F.lit(1)).alias("_n"))
    return (
        agg.join(
            F.broadcast(tot.select(F.col("_f").alias("feat_a"),
                                   F.col("_n").alias("n_a"))),
            "feat_a",
        )
        .join(
            F.broadcast(tot.select(F.col("_f").alias("feat_b"),
                                   F.col("_n").alias("n_b"))),
            "feat_b",
        )
        .select(
            "feat_a", "feat_b", "n_a", "n_b", "part_a", "part_b", "n_pairs"
        )
    )

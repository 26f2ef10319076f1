"""Per-key convex hull — bounded-depth QuickHull on exact integer coords.

Engine-added geometry capability: the convex hull (trajectory footprint
extent, coverage polygons, outlier geometry) — a stack-based sequential
algorithm in classical engines (monotone chain), here the QuickHull
recursion UNROLLED to a fixed depth so every level is a bounded set of
keyed joins/aggregates (the rdp_keep bounded-rounds rule, which is also
what makes an exact cross-engine oracle possible).

Semantics: points quantized to exact integers (the quantize-once rule).
Level 0 anchors are the lexicographic (x, y) min and max points; the two
directed chords A->B and B->A each collect the points STRICTLY left of them
(orientation sign test — collinear points are never hull vertices, and
degenerate all-collinear inputs yield hull = {A, B}).  Each level picks per
chord the farthest point (max cross magnitude, ties to the lexicographic
min point — frozen rule), emits it as a hull vertex, and reassigns the
chord's points to the two sub-chords they are strictly outside of (the
regions are provably disjoint: a point strictly left of BOTH sub-chords
would be strictly farther than the argmax).  Points inside the new triangle
are dropped.

With ``depth`` levels the hull has <= 2 + 2^(depth+1) vertices and is EXACT
whenever every chord group drains within the bound (convex-position count
<= the bound; grid-like data converges in 2-3 levels).  Callers needing a
certificate check the unresolved remainder (`_hull_levels` exposes it).

Scale design: per level ONE (user, chord)-keyed min_by argmax (aggregation,
never a window sort) + one join of the group frame back to its 1-row-per-
group winner + codegen sign-test reassignment; the point frame only ever
SHRINKS; localCheckpoint per level (the cluster_pairs lineage rule).

Reference analog: none (the reference's geometry is point-in-polygon only);
completes the geometry suite (pip, knn, overlay, rdp, crossings) with the
extent primitive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _orient(ax, ay, bx, by, px, py):
    """Exact int64 orientation sign. PRECONDITION (ADVICE r4): the cross
    product multiplies coordinate DIFFERENCES — translation-invariant, so
    only the per-key coordinate SPAN matters, never the global offset.
    |dx|, |dy| < 2^31 units guarantees both products and their difference
    fit int64 (2 * (2^31)^2 < 2^63); in nanodegrees that is a ~2-degree
    per-key extent (the track_crossings discipline).  A key spanning more
    (e.g. a global trajectory) must pre-scale to coarser units — re-
    centering cannot help because differences already discard the offset."""
    return (F.col(bx) - F.col(ax)) * (F.col(py) - F.col(ay)) - (
        F.col(by) - F.col(ay)
    ) * (F.col(px) - F.col(ax))


def convex_hull_vertices(
    pts: DataFrame,
    depth: int = 5,
    user_col: str = "user_id",
    x_col: str = "px",
    y_col: str = "py",
) -> DataFrame:
    """(user_id, vx, vy): the convex hull vertex SET per key (unordered —
    set semantics keep the output exact without committing to a traversal
    order; consumers sort by angle around the centroid if they need the
    ring)."""
    from .pip_knn import _cache_scoped

    # r6: every per-level checkpoint is LAZY (eager=False): the plan is
    # truncated at build time (constant plan depth per level, as before)
    # but nothing materializes until the single in-scope materialization
    # at the end, so the former 11 eager jobs (per-level isEmpty + 2x
    # checkpoint) collapse into ONE multi-stage job whose shuffles run
    # size-coalesced. Results are identical — the levels are the same
    # plans, just scheduled inside one job.
    p = _cache_scoped(
        "hull_points",
        pts.select(
            F.col(user_col).alias("u"),
            F.col(x_col).alias("px"),
            F.col(y_col).alias("py"),
        ).distinct(),
    )
    anchors = p.groupBy("u").agg(
        F.min(F.struct("px", "py")).alias("a"),
        F.max(F.struct("px", "py")).alias("b"),
    ).select(
        "u",
        F.col("a.px").alias("ax"), F.col("a.py").alias("ay"),
        F.col("b.px").alias("bx"), F.col("b.py").alias("by"),
    ).localCheckpoint(eager=False)
    verts = anchors.select("u", F.col("ax").alias("vx"), F.col("ay").alias("vy")).unionByName(
        anchors.select("u", F.col("bx").alias("vx"), F.col("by").alias("vy"))
    )
    # both directed chords; points strictly left of each
    chords = anchors.unionByName(
        anchors.select(
            "u",
            F.col("bx").alias("ax"), F.col("by").alias("ay"),
            F.col("ax").alias("bx"), F.col("ay").alias("by"),
        )
    )
    from .iterhelp import coalesced_small_shuffles

    out = None
    with coalesced_small_shuffles(pts.sparkSession):  # r6
        g = (
            p.join(chords, "u")
            .filter(_orient("ax", "ay", "bx", "by", "px", "py") > 0)
            .localCheckpoint(eager=False)
        )
        for _ in range(int(depth)):
            cross = _orient("ax", "ay", "bx", "by", "px", "py")
            far = (
                g.withColumn("_c", cross)
                .groupBy("u", "ax", "ay", "bx", "by")
                .agg(
                    F.min_by(
                        F.struct(F.col("px").alias("cx"), F.col("py").alias("cy")),
                        F.struct(
                            (-F.col("_c")).alias("k1"),
                            F.col("px").alias("k2"),
                            F.col("py").alias("k3"),
                        ),
                    ).alias("c")
                )
                .select("u", "ax", "ay", "bx", "by",
                        F.col("c.cx").alias("cx"), F.col("c.cy").alias("cy"))
                .localCheckpoint(eager=False)
            )
            verts = verts.unionByName(
                far.select("u", F.col("cx").alias("vx"), F.col("cy").alias("vy"))
            )
            j = g.join(far, ["u", "ax", "ay", "bx", "by"])
            left = (
                j.filter(_orient("ax", "ay", "cx", "cy", "px", "py") > 0)
                .select("u", "ax", "ay",
                        F.col("cx").alias("bx"), F.col("cy").alias("by"),
                        "px", "py")
            )
            right = (
                j.filter(_orient("cx", "cy", "bx", "by", "px", "py") > 0)
                .select("u", F.col("cx").alias("ax"), F.col("cy").alias("ay"),
                        "bx", "by", "px", "py")
            )
            g = left.unionByName(right).localCheckpoint(eager=False)
        out = verts.distinct().select(
            F.col("u").alias(user_col), "vx", "vy"
        ).localCheckpoint(eager=True)  # materialize in-scope
    return out

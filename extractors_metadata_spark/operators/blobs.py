"""Raster region labeling — connected blobs of occupied tiles.

The classic raster "region group" / blob-extraction operator (the
connected-component labeling every GIS map-algebra toolbox ships):
8-connected components over the OCCUPIED cells of the sparse tile-count
surface, each cell labeled by its component's lexicographically
smallest (x, y) member, plus per-blob cell count and total mass and a
per-cell BOUNDARY flag (an occupied cell with fewer than 8 occupied
neighbors — the blob's contour, the marching-squares edge set).
Reference analog: none; with slope_aspect (gradient), d8_flow/watershed
(flow), and viewshed (visibility) this completes the raster-analysis
quartet over the J7 tile surface.

Exactness: labels are integer node ids nid = x * 2^26 + y (x, y < 2^z
<= 2^22, so nid < 2^48 and the id order IS the (x, y) lexicographic
order); the component minimum is therefore the min-(x, y) member by
construction.  Everything else is counting — exact int64 end to end.

Scale shape: adjacency is the slope_aspect x8 literal scatter + ONE
grid-keyed equi-join against the occupied frame (shuffle linear in
occupied tiles; x wraps mod 2^z); components run through
radius_join.cluster_pairs — min-label propagation WITH POINTER JUMPING,
O(log diameter) rounds, localCheckpoint-truncated lineage (the proven
spatial_cluster machinery; a continent-wide blob of D cells settles in
~log2 D rounds).  Blob stats are one component-keyed map-side-combining
aggregate; the boundary flag reuses the SAME neighbor join as a
per-cell count — no second scatter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_C = 1 << 26  # id packing: nid = x * 2^26 + y keeps (x, y) lex order


def tile_blobs(tile_counts: DataFrame, z: int, cnt_col: str = "cnt") -> DataFrame:
    """8-connected region labeling of the occupied tiles at zoom ``z``
    -> (z, x, y, cnt, blob_x, blob_y, blob_n, blob_mass, is_boundary)."""
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
            if not (dx == 0 and dy == 0)
        ]
    )
    nb = cells.select(F.col("x").alias("_nx"), F.col("y").alias("_ny"))
    adj = (
        cells.select("x", "y", F.explode(offsets).alias("o"))
        .select(
            "x",
            "y",
            ((F.col("x") + F.col("o.dx") + n) % n).alias("_nx"),
            (F.col("y") + F.col("o.dy")).alias("_ny"),
        )
        .filter((F.col("_ny") >= 0) & (F.col("_ny") < n))
        .join(nb, ["_nx", "_ny"])
    )
    nbr_counts = adj.groupBy("x", "y").agg(F.count(F.lit(1)).alias("_nnbr"))

    nid = F.col("x") * _C + F.col("y")
    nid_b = F.col("_nx") * _C + F.col("_ny")
    pairs = adj.select(nid.alias("id_a"), nid_b.alias("id_b")).filter(
        F.col("id_a") < F.col("id_b")
    )
    from .radius_join import cluster_pairs

    cc = cluster_pairs(pairs)
    labeled = (
        cells.select("x", "y", "cnt", nid.alias("_nid"))
        .join(cc.withColumnRenamed("id", "_nid"), "_nid", "left")
        .select(
            "x",
            "y",
            "cnt",
            F.coalesce(F.col("canonical_id"), F.col("_nid")).alias("_blob"),
        )
    )
    stats = labeled.groupBy("_blob").agg(
        F.count(F.lit(1)).alias("blob_n"), F.sum("cnt").alias("blob_mass")
    )
    return (
        labeled.join(stats, "_blob")
        .join(nbr_counts, ["x", "y"], "left")
        .select(
            F.lit(z).alias("z"),
            "x",
            "y",
            "cnt",
            F.expr(f"_blob div {_C}").alias("blob_x"),
            (F.col("_blob") % _C).alias("blob_y"),
            "blob_n",
            "blob_mass",
            (F.coalesce(F.col("_nnbr"), F.lit(0)) < 8).alias("is_boundary"),
        )
    )

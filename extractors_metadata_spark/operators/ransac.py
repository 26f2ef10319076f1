"""Deterministic RANSAC line fitting over the event point cloud.

RANSAC (Fischler & Bolles 1981) is the robust-fitting workhorse —
"find the dominant line through data that is mostly outliers" (here:
gantry scan rows through a noisy position cloud; classically: road
axes through GPS points). Distributed RANSAC's textbook obstacle is
randomness: a cluster run must pick the SAME candidate pairs everywhere
or the result is irreproducible. This implementation derives each
candidate's two anchor points from the replayable hash family — per
candidate k, anchor A is the point minimizing mix31(poly('ra:a:k:'
|| id)) (ties to the smaller id), anchor B likewise under the b-salt —
so candidates are a pure function of the data, bit-identical under any
partitioning, and the DuckDB oracle replays them exactly.

Inlier rule (frozen, pure integer): point P is an inlier of candidate
(A, B) iff A != B and

    |cross(B-A, P-A)|  <=  tol * (|dx| + |dy|)

— the Manhattan-normalized point-line distance (the true perpendicular
distance needs a sqrt; dividing by the L1 norm keeps the decision in
exact int64 and within a sqrt(2) factor of Euclidean — the semantics
ARE the rule). Degenerate candidates (both salts pick the same point)
score 0 inliers by definition.

Scale shape: anchor selection is one 2 x K-way min_by aggregate over a
K-fanned narrow projection (map-side combining, no global sort, no
index materialization); scoring broadcasts the K-row candidate dim
against the point scan — one pass, zero shuffles beyond the anchor agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ransac_lines(
    pts: DataFrame,
    k: int = 32,
    tol: int = 50,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """-> one row per candidate: (cand_id, x1, y1, x2, y2, n_inliers).
    The consumer's best line is the max-(n_inliers, -cand_id) row; all
    K rows are emitted so consensus structure is visible (and
    checkable)."""
    from ..functions.vhash import (
        mix31,
        poly_hash_py,
        poly_hash_short_cols,
        poly_hash_with_prefix,
    )

    p = pts.select(
        F.col(id_col).alias("id"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    )
    # r6: the salted candidate hash decomposes as
    #   H('ra:<salt>:<k>:<id>') = (H('ra:<salt>:<k>:') * B^len(id) + H(id)) mod P
    # so the id-suffix hash is computed ONCE per point (codegen positional
    # terms, poly_hash_short_cols) and each of the 2*K fanned hashes is 3
    # integer ops against a driver-precomputed literal prefix hash —
    # replacing 2*K interpreted per-character folds per point.  Values are
    # bit-identical to mix31(poly_hash('ra:<salt>:<k>:<id>')) (pytest-pinned).
    # Ids must be non-negative longs: poly_hash_short_cols covers at most
    # 19 characters, and a negative 19-digit id (20 characters) fails the
    # query under ANSI mode.
    sh, sp = poly_hash_short_cols(F.col("id").cast("string"))
    pf = p.select("id", "x", "y", sh.alias("_sh"), sp.alias("_sp"))
    hp_a = F.array(
        *[F.lit(poly_hash_py(f"ra:a:{kk}:")).cast("long") for kk in range(k)]
    )
    hp_b = F.array(
        *[F.lit(poly_hash_py(f"ra:b:{kk}:")).cast("long") for kk in range(k)]
    )
    fan = pf.select(
        "id",
        "x",
        "y",
        "_sh",
        "_sp",
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("cand_id"),
    )
    ha = mix31(poly_hash_with_prefix(
        F.element_at(hp_a, (F.col("cand_id") + 1).cast("int")),
        F.col("_sh"), F.col("_sp"),
    ))
    hb = mix31(poly_hash_with_prefix(
        F.element_at(hp_b, (F.col("cand_id") + 1).cast("int")),
        F.col("_sh"), F.col("_sp"),
    ))
    anchors = fan.groupBy("cand_id").agg(
        F.min_by(
            F.struct(F.col("x").alias("x1"), F.col("y").alias("y1")),
            F.struct(ha.alias("h"), F.col("id").alias("i")),
        ).alias("a"),
        F.min_by(
            F.struct(F.col("x").alias("x2"), F.col("y").alias("y2")),
            F.struct(hb.alias("h"), F.col("id").alias("i")),
        ).alias("b"),
    )
    cand = anchors.select(
        "cand_id",
        F.col("a.x1").alias("x1"),
        F.col("a.y1").alias("y1"),
        F.col("b.x2").alias("x2"),
        F.col("b.y2").alias("y2"),
    )
    j = p.crossJoin(F.broadcast(cand))
    dx = F.col("x2") - F.col("x1")
    dy = F.col("y2") - F.col("y1")
    cross = dx * (F.col("y") - F.col("y1")) - dy * (F.col("x") - F.col("x1"))
    ok = (
        ((F.col("x1") != F.col("x2")) | (F.col("y1") != F.col("y2")))
        & (F.abs(cross) <= F.lit(tol) * (F.abs(dx) + F.abs(dy)))
    )
    return (
        j.groupBy("cand_id", "x1", "y1", "x2", "y2")
        .agg(F.sum(ok.cast("long")).cast("long").alias("n_inliers"))
        .select(
            F.col("cand_id").cast("long").alias("cand_id"),
            "x1",
            "y1",
            "x2",
            "y2",
            "n_inliers",
        )
    )

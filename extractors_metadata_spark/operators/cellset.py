"""Hierarchical cell-set compaction over the S2-style quad index.

The quadtree twin of Iceberg manifest compaction: a covering produced at
one fine level (``polyfill``, per-point ``s2_encode``) usually contains
many COMPLETE sibling quartets — four level-L cells that tile one
level-(L-1) cell exactly.  ``s2_compact`` replaces every complete
quartet by its parent, recursively, yielding the canonical minimal cell
set for the same region (what s2geometry calls CellUnion normalization);
``s2_uncompact`` expands back to a uniform level.  Compact coverings
shrink broadcast dims, index tables, and equi-join fan-outs by up to
4^k over solid regions.

Scale design:
- one round per level, finest -> coarsest, BOUNDED by MAX_LEVEL (26);
  each round filters the current set to one level, groups by parent id
  (map-side combinable count + a <=4-element collect), and unions the
  survivors back — every shuffle is over the shrinking cell set, never
  the data that produced it;
- rounds localCheckpoint (tiny JVM-only iterative frame — exactly the
  lineage-truncation case CLAUDE.md carves out), so the final plan is a
  scan of materialized cells, not a 26-round union tower;
- ``s2_uncompact`` is a pure-codegen sequence explode with fan-out
  exactly 4^(target - level) per cell — the caller chooses the blowup.

All arithmetic is the frozen id layout ``(face << 57) | (pos << 5) |
level`` (``functions/s2quad.py``) in exact int64 shifts — the DuckDB
oracle replays every round as a generated CTE stage (the
``_hilbert_stages_sql`` pattern).

Reference analog: none (the reference has no spatial index); this
completes the engine's index family with the coverage-normalization op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


_POS_MASK = (1 << 52) - 1


def s2_compact(
    cells: DataFrame, cell_col: str = "cell", min_level: int = 0
) -> DataFrame:
    """Canonical minimal cell set: merge complete sibling quartets into
    parents, recursively down to ``min_level``.  Input cells may mix
    levels but must be non-overlapping (no cell an ancestor of another —
    the polyfill/encode output shape).  Returns one column ``cell``."""
    cur = cells.select(F.col(cell_col).alias("cell")).distinct()
    max_lv = cur.agg(
        F.max(F.col("cell").bitwiseAND(F.lit(31))).alias("l")
    ).collect()[0]["l"]
    ml = int(min_level)
    if max_lv is None or int(max_lv) <= ml:
        return cur
    max_lv = int(max_lv)

    # SINGLE-PASS coverage formulation (r6 — replaces the per-level
    # checkpointed rounds, which paid one eager materialization of the
    # ENTIRE surviving set per level). Equivalence with the iterative
    # quartet merge, for non-overlapping input (the stated precondition):
    # weight every input cell at level l by its relative leaf count
    # 4^(max_lv - l); an ancestor p at level a is COMPLETE iff the summed
    # weight of input cells under it equals 4^(max_lv - a) (its full leaf
    # space — exactly when the cascade merges everything under p into p,
    # by induction over levels; every input cell is trivially complete at
    # itself). The compacted set is then the MAXIMAL complete cells: the
    # complete p whose parent is not complete (or p at min_level). Plan:
    # one bounded ancestor explode (<= levels per cell), one map-side-
    # combining sum, one anti self-join — two shuffles of the cell set,
    # no per-level rounds, no checkpoint actions. Exact int64 shifts
    # throughout (weights <= 4^MAX_LEVEL = 2^52).
    from .pip_knn import _cache_scoped

    lv = F.col("cell").bitwiseAND(F.lit(31))
    shallow = cur.filter(lv < ml)  # coarser than min_level: untouched
    exploded = (
        cur.filter(lv >= ml)
        .select(
            "cell",
            lv.alias("l"),
            F.explode(
                F.sequence(F.lit(ml), lv.cast("int"))
            ).alias("a"),
        )
        .selectExpr(
            "((cell >> 57) << 57) | ((((cell >> 5) & %d) >> (2 * (l - a))) << 5) | a AS anc"
            % _POS_MASK,
            f"shiftleft(CAST(1 AS BIGINT), CAST(2 * ({max_lv} - l) AS INT)) AS w",
        )
    )
    complete = _cache_scoped(
        "s2_compact_complete",
        exploded.groupBy("anc")
        .agg(F.sum("w").alias("ws"))
        .filter(
            F.expr(
                f"ws = shiftleft(CAST(1 AS BIGINT), CAST(2 * ({max_lv} - (anc & 31)) AS INT))"
            )
        )
        .select(F.col("anc").alias("cell")),
    )
    parent_of = (
        "CASE WHEN (cell & 31) > %d THEN "
        "((cell >> 57) << 57) | ((((cell >> 5) & %d) >> 2) << 5) | ((cell & 31) - 1) "
        "ELSE CAST(-1 AS BIGINT) END" % (ml, _POS_MASK)
    )
    out = (
        complete.withColumn("_pk", F.expr(parent_of))
        .join(complete.select(F.col("cell").alias("_pk")), "_pk", "left_anti")
        .select("cell")
    )
    return out.unionByName(shallow)


def s2_uncompact(
    cells: DataFrame, level: int, cell_col: str = "cell"
) -> DataFrame:
    """Expand every cell to its complete set of ``level`` descendants
    (cells already at ``level`` pass through; finer cells are rejected by
    the precondition below).  Pure codegen; fan-out 4^(level - L)."""
    base = (
        cells.select(F.col(cell_col).alias("cell"))
        .filter(F.col("cell").bitwiseAND(F.lit(31)) <= level)
        .selectExpr(
            "cell >> 57 AS _face",
            f"(cell >> 5) & {_POS_MASK} AS _pos",
            # shiftleft with an expression-valued count (variable per row)
            f"CAST(({level} - (cell & 31)) * 2 AS INT) AS _k2",
        )
    )
    return base.selectExpr(
        "_face", "_pos", "_k2",
        "explode(sequence(CAST(0 AS BIGINT), shiftleft(CAST(1 AS BIGINT), _k2) - 1)) AS _i"
    ).selectExpr(
        f"(_face << 57) | ((shiftleft(_pos, _k2) | _i) << 5) | {level} AS cell"
    )

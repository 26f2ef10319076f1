"""Quadkey pins: the published Bing example values and the parent-prefix
nesting property."""

from __future__ import annotations



def _qk(spark, rows, z):
    from extractors_metadata_spark.functions.tiles import quadkey_expr

    df = spark.createDataFrame(rows, "x long, y long")
    return [r["q"] for r in df.select(quadkey_expr("x", "y", z).alias("q")).collect()]


def test_quadkey_bing_examples(spark):
    # the canonical worked example from the Bing tile-system docs:
    # tile (3, 5) at level 3 -> "213"
    assert _qk(spark, [(3, 5)], 3) == ["213"]
    # level-1 corners
    assert _qk(spark, [(0, 0), (1, 0), (0, 1), (1, 1)], 1) == ["0", "1", "2", "3"]


def test_quadkey_prefix_nesting(spark):
    """Every child tile (2x+dx, 2y+dy) at z+1 extends its parent's
    quadkey by exactly one digit."""
    parent = _qk(spark, [(5, 9)], 4)[0]
    children = _qk(
        spark, [(10 + dx, 18 + dy) for dy in (0, 1) for dx in (0, 1)], 5
    )
    assert [c[:4] for c in children] == [parent] * 4
    assert sorted(c[4] for c in children) == ["0", "1", "2", "3"]

"""Tile-grid kernel smoothing (operators/heatmap.py)."""

from __future__ import annotations

import pandas as pd

from extractors_metadata_spark.operators.heatmap import tile_smooth


def test_impulse_response_is_the_kernel(spark):
    counts = spark.createDataFrame(
        pd.DataFrame({"x": [10], "y": [10], "cnt": [1]})
    )
    got = {(r.x, r.y): r.smooth for r in tile_smooth(counts, z=12).collect()}
    want = {
        (10 + dx, 10 + dy): (2 - abs(dx)) * (2 - abs(dy))
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
    }
    assert got == want
    assert all(r.z == 12 for r in tile_smooth(counts, z=12).collect())


def test_antimeridian_wrap_and_pole_clamp(spark):
    # z=3 grid is 8x8; a tile at x=0 spills to x=7, a tile at y=0 loses
    # its y=-1 row (total mass drops by the clipped kernel column)
    counts = spark.createDataFrame(
        pd.DataFrame({"x": [0], "y": [0], "cnt": [3]})
    )
    got = {(r.x, r.y): r.smooth for r in tile_smooth(counts, z=3).collect()}
    assert got[(7, 0)] == 3 * 2  # dx=-1 wraps, dy=0
    assert got[(7, 1)] == 3 * 1
    assert (0, -1) not in got and (7, -1) not in got
    assert got[(0, 0)] == 3 * 4
    assert sum(got.values()) == 3 * (16 - 1 - 2 - 1)  # top kernel row clipped


def test_two_tiles_superpose_exactly(spark):
    # overlapping neighborhoods: smoothing is linear, so the sum of the
    # two impulse responses must equal the joint response
    counts = spark.createDataFrame(
        pd.DataFrame({"x": [100, 101], "y": [50, 50], "cnt": [2, 5]})
    )
    joint = {(r.x, r.y): r.smooth for r in tile_smooth(counts, z=10).collect()}
    solo = {}
    for xx, cc in ((100, 2), (101, 5)):
        one = spark.createDataFrame(pd.DataFrame({"x": [xx], "y": [50], "cnt": [cc]}))
        for r in tile_smooth(one, z=10).collect():
            solo[(r.x, r.y)] = solo.get((r.x, r.y), 0) + r.smooth
    assert joint == solo


def test_plan_is_single_shuffle_no_udf(spark):
    counts = spark.createDataFrame(
        pd.DataFrame({"x": [1, 2], "y": [1, 2], "cnt": [1, 1]})
    )
    plan = tile_smooth(counts, z=12)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "partial_sum" in plan or "HashAggregate" in plan


def test_tile_median_suppresses_outlier(spark):
    from extractors_metadata_spark.operators.heatmap import tile_median

    # flat field of 5s with one hot tile: the hot tile's own median is 5
    # (8 neighbors of 5 beat the single 100), and its ring stays 5
    cells = {(x, y): 5 for x in range(10, 15) for y in range(10, 15)}
    cells[(12, 12)] = 100
    df = spark.createDataFrame(
        [(x, y, c) for (x, y), c in cells.items()], "x long, y long, cnt long"
    )
    got = {(r["x"], r["y"]): r["med"] for r in tile_median(df, z=6).collect()}
    assert got[(12, 12)] == 5
    assert got[(11, 11)] == 5
    # corner cell (10,10): window = 4 present (5,5,5,5) + 5 zeros -> median 0
    assert got[(10, 10)] == 0


def test_tile_median_zero_fill_and_wrap(spark):
    from extractors_metadata_spark.operators.heatmap import tile_median

    # isolated tile: 8 zeros + itself -> median 0
    df = spark.createDataFrame([(5, 5, 9)], "x long, y long, cnt long")
    got = {(r["x"], r["y"]): r["med"] for r in tile_median(df, z=6).collect()}
    assert got[(5, 5)] == 0
    # antimeridian wrap: x=0 sees x=63 as a neighbor
    df = spark.createDataFrame(
        [(0, 8, 7)] + [(63, 7 + d, 7) for d in (0, 1, 2)] + [(1, 7 + d, 7) for d in (0, 1, 2)],
        "x long, y long, cnt long",
    )
    got = {(r["x"], r["y"]): r["med"] for r in tile_median(df, z=6).collect()}
    # (0,8) window: 6 neighbors of 7 + itself 7 + 2 zeros -> median 7
    assert got[(0, 8)] == 7


def test_grid_upsample_bilinear_weights(spark):
    """2x2 grid [[1,3],[5,7]] -> 3x3 doubled lattice: corners 4x source,
    edge midpoints 2*(a+b), the center the 4-corner sum (16 = 1+3+5+7)."""
    from extractors_metadata_spark.operators.heatmap import grid_upsample

    vals = spark.createDataFrame(
        [(0, 0, 1), (0, 1, 3), (1, 0, 5), (1, 1, 7)],
        "r long, c long, v long",
    )
    out = {(r["y"], r["x"]): r["v4"] for r in grid_upsample(vals).collect()}
    assert len(out) == 9
    assert out[(0, 0)] == 4 and out[(2, 2)] == 28
    assert out[(0, 1)] == 2 * (1 + 3)
    assert out[(1, 0)] == 2 * (1 + 5)
    assert out[(2, 1)] == 2 * (5 + 7)
    assert out[(1, 2)] == 2 * (3 + 7)
    assert out[(1, 1)] == 16

"""Convex polygon overlay (operators/clip.py)."""

from __future__ import annotations

import pandas as pd

from extractors_metadata_spark.operators.clip import (
    A_SCALE,
    convex_intersection_area,
)


def _pairs(spark, rows):
    # rows: (pid, ax, ay, bx, by)
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["pid", "ax", "ay", "bx", "by"])
    )


SQ = ([0.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 1.0])  # CCW unit square


def _area(r):
    return r.area2_fp / (2.0 * A_SCALE)


def test_shifted_squares(spark):
    rows = [(1, *SQ, [0.5, 1.5, 1.5, 0.5], [0.5, 0.5, 1.5, 1.5])]
    out = convex_intersection_area(_pairs(spark, rows), ["pid"]).collect()
    assert len(out) == 1
    assert out[0].n_vertices == 4
    assert abs(_area(out[0]) - 0.25) < 1e-9


def test_diamond_octagon(spark):
    d = ([0.5, 1.3, 0.5, -0.3], [-0.3, 0.5, 1.3, 0.5])
    rows = [(1, *SQ, *d)]
    out = convex_intersection_area(_pairs(spark, rows), ["pid"]).collect()[0]
    assert out.n_vertices == 8
    assert abs(_area(out) - 0.92) < 1e-9


def test_disjoint_absent_and_containment(spark):
    rows = [
        (1, *SQ, [5.0, 6.0, 6.0, 5.0], [5.0, 5.0, 6.0, 6.0]),
        (2, *SQ, [0.4, 0.6, 0.6, 0.4], [0.4, 0.4, 0.6, 0.6]),
    ]
    out = {r.pid: r for r in convex_intersection_area(_pairs(spark, rows), ["pid"]).collect()}
    assert 1 not in out
    assert out[2].n_vertices == 4
    assert abs(_area(out[2]) - 0.04) < 1e-9


def test_identical_squares_shared_boundary(spark):
    rows = [(1, *SQ, *SQ)]
    out = convex_intersection_area(_pairs(spark, rows), ["pid"]).collect()[0]
    # duplicate candidates (vertices mutually inside + edge endpoints)
    # create zero-length edges only — area is still exact
    assert abs(_area(out) - 1.0) < 1e-9


def test_no_udf_plan(spark):
    rows = [(1, *SQ, *SQ)]
    plan = (
        convex_intersection_area(_pairs(spark, rows), ["pid"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

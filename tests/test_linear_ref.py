"""Linear referencing (operators/linear_ref.py)."""

from __future__ import annotations

import pandas as pd

from extractors_metadata_spark.operators.linear_ref import (
    DEG,
    path_constants,
    snap_to_path,
)

# simple L-shaped path in a 1-deg-cos-anchor frame
PATH = [(0.0, 0.0), (0.001, 0.0), (0.001, 0.001)]
ANCHOR = 0.0  # cos(0) = 1: x and y scales are both DEG


def _df(spark, pts):
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "event_id": range(len(pts)),
                "lat": [p[1] for p in pts],
                "lon": [p[0] for p in pts],
            }
        )
    )


def test_projection_segments_and_chainage(spark):
    c = path_constants(PATH, ANCHOR)
    pts = [
        (0.0005, 0.0002),   # above middle of seg0: seg 0, dist 0.0002 deg
        (0.0012, 0.0005),   # right of seg1: seg 1
        (-0.0003, 0.0),     # before path start: clamps to vertex 0
    ]
    out = {r.event_id: r for r in snap_to_path(_df(spark, pts), c).collect()}
    assert out[0].seg == 0
    assert out[0].dist_cm == round(0.0002 * DEG * 100)
    assert out[0].chain_cm == round(0.0005 * DEG * 100)
    assert out[1].seg == 1
    assert out[1].dist_cm == round(0.0002 * DEG * 100)
    # chainage = full seg0 + 0.0005 along seg1
    assert abs(out[1].chain_cm - round(0.0015 * DEG * 100)) <= 1
    assert out[2].seg == 0 and out[2].chain_cm == 0
    assert out[2].dist_cm == round(0.0003 * DEG * 100)


def test_zero_exchange_plan(spark):
    c = path_constants(PATH, ANCHOR)
    plan = (
        snap_to_path(_df(spark, [(0.0, 0.0)]), c)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_tie_breaks_to_lower_segment(spark):
    # the shared vertex (0.001, 0.0) is equidistant from both segments:
    # point straight out the corner diagonal
    c = path_constants(PATH, ANCHOR)
    out = snap_to_path(_df(spark, [(0.0012, -0.0002)]), c).collect()[0]
    assert out.seg == 0  # ties on d2 resolve to the lower index

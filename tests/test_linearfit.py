"""Calibration bins (operators/calibration.py) against hand-computed
counts and Brier numerators. This file now holds only that test.
"""

from __future__ import annotations


def test_calibration_bins_hand(spark):
    from extractors_metadata_spark.operators.calibration import calibration_bins

    rows = [
        (0, 0), (500, 0), (999, 1),      # bin 0
        (10000, 1), (9500, 0),           # bin 9 (top edge closed)
        (5000, 1),                       # bin 5
    ]
    df = spark.createDataFrame(rows, "s_fp long, y long")
    out = {r["bin"]: r for r in calibration_bins(df, "s_fp", "y").collect()}
    assert set(out) == {0, 5, 9}
    b0 = out[0]
    assert (b0["n"], b0["n_pos"], b0["sum_score"]) == (3, 1, 1499)
    # brier bin0: (0-0)^2 + 500^2 + (999-10000)^2
    assert b0["brier_num"] == 500**2 + 9001**2
    b9 = out[9]
    assert (b9["n"], b9["n_pos"], b9["brier_num"]) == (2, 1, 0 + 9500**2)
    assert out[5]["brier_num"] == 5000**2

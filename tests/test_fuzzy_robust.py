"""MAD outliers and Hodges-Lehmann (operators/robust.py)."""

from __future__ import annotations

import pandas as pd

from extractors_metadata_spark.operators.robust import mad_outliers


def test_mad_outliers_flags(spark):
    vals = [10.0] * 9 + [10.5] * 9 + [100.0]  # one wild point
    d = spark.createDataFrame(
        pd.DataFrame(
            {
                "event_id": range(len(vals)),
                "event_type": ["a"] * len(vals),
                "value": vals,
            }
        )
    )
    rows = {r.event_id: r for r in mad_outliers(d, k=4.4478).collect()}
    assert rows[18].is_outlier
    assert sum(1 for r in rows.values() if r.is_outlier) == 1
    # median of 19 values = 10.5 (10th order stat); MAD = 0.5
    assert rows[0].med == 10.5 and rows[0].mad == 0.5


def test_mad_groups_independent_and_broadcast_plan(spark):
    d = spark.createDataFrame(
        pd.DataFrame(
            {
                "event_id": range(8),
                "event_type": ["a"] * 4 + ["b"] * 4,
                "value": [1.0, 1.0, 1.0, 50.0, 100.0, 100.0, 100.0, 100.0],
            }
        )
    )
    out = mad_outliers(d, k=1.0)
    rows = out.collect()
    med = {r.event_type: r.med for r in rows}
    assert med["a"] == 1.0 and med["b"] == 100.0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_hodges_lehmann_hand_series(spark):
    """[0,0,9]: Walsh sums over i<=j = {0,0,9,0,9,18}; sorted with
    (s,i,j) ties -> ranks: 0,0,0,9,9,18; P=6, lower median rank 3 ->
    hl_num = 0 (HL = 0). Outlier-resistant where the mean (3) is not."""
    from extractors_metadata_spark.operators.robust import hodges_lehmann

    df = spark.createDataFrame(
        [("u", 0, 0), ("u", 1, 0), ("u", 2, 9)], "k string, bin long, n long"
    )
    r = hodges_lehmann(df, ["k"]).collect()[0]
    assert (r["n_pairs"], r["hl_num"], r["den"]) == (6, 0, 2)


def test_hodges_lehmann_symmetric_series(spark):
    """[1,2,3]: Walsh sums {2,3,4,4,5,6} -> lower median rank 3 = 4 ->
    HL = 2 (= the median and mean, as symmetry demands)."""
    from extractors_metadata_spark.operators.robust import hodges_lehmann

    df = spark.createDataFrame(
        [("u", 0, 1), ("u", 1, 2), ("u", 2, 3)], "k string, bin long, n long"
    )
    r = hodges_lehmann(df, ["k"]).collect()[0]
    assert (r["hl_num"], r["den"]) == (4, 2)

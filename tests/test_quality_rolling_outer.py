"""Rolling RANGE window (timewin) and the full-outer reconciliation query."""

from __future__ import annotations

import datetime as dt

import pandas as pd

from extractors_metadata_spark.operators.timewin import rolling_user_stats


def test_rolling_range_frame_semantics(spark):
    T0 = dt.datetime(2024, 1, 1)
    rows = [
        (0, T0, 1, 1.0),
        (1, T0 + dt.timedelta(days=3), 1, 2.0),
        (2, T0 + dt.timedelta(days=8), 1, 4.0),   # day-0 event outside 7d
        (3, T0 + dt.timedelta(days=8), 1, 8.0),   # same ts -> RANGE peer
        (4, T0, 2, 16.0),                          # other user independent
    ]
    e = spark.createDataFrame(
        pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "value"])
    )
    out = {r.event_id: r for r in rolling_user_stats(e).collect()}
    assert (out[0].n_trailing, out[0].v_sum_u) == (1, 1_000_000)
    assert (out[1].n_trailing, out[1].v_sum_u) == (2, 3_000_000)
    # day 8: day-3 event in range, day-0 out; BOTH same-ts rows are peers
    assert (out[2].n_trailing, out[2].v_sum_u) == (3, 14_000_000)
    assert out[3].n_trailing == 3 and out[3].v_sum_u == 14_000_000
    assert (out[4].n_trailing, out[4].v_sum_u) == (1, 16_000_000)


def test_full_outer_sides(spark):
    import __spark_entry__ as E

    out = E.queries()["full_outer"](spark, "/root/testdata/sf0.001").collect()
    has_both = [r for r in out if r.has_cust and r.has_orders]
    dim_only = [r for r in out if r.has_cust and not r.has_orders]
    fact_only = [r for r in out if not r.has_cust and r.has_orders]
    assert has_both and fact_only  # custkey % 7 == 0 orders become orphans
    assert all(r.n_orders == 0 and r.total_c == 0 for r in dim_only)
    assert all(r.custkey % 7 == 0 for r in fact_only)
    keys = [r.custkey for r in out]
    assert len(keys) == len(set(keys))

"""Rollup aggregates (operators/rollup_stats.py)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from extractors_metadata_spark.operators.rollup_stats import rollup_stats


def _events(spark):
    import datetime as dt

    rows = []
    for i in range(40):
        rows.append(
            (
                i,
                dt.datetime(2024, 1 + i % 2, 1 + i % 5),
                i % 7,
                "a" if i % 3 else "b",
                float(i) / 8.0,
            )
        )
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type", "value"])
    ).withColumn("month", F.to_date(F.date_trunc("month", F.col("ts").cast("timestamp"))))


def test_rollup_levels_and_totals(spark):
    e = _events(spark)
    out = rollup_stats(e, ["event_type", "month"]).collect()
    by_gid = {}
    for r in out:
        by_gid.setdefault(r.gid, []).append(r)
    # gid 0 = detail, 1 = per-type subtotal, 3 = grand total
    assert set(by_gid) == {0, 1, 3}
    assert len(by_gid[3]) == 1
    total = by_gid[3][0]
    assert total.n_events == 40
    assert total.n_events == sum(r.n_events for r in by_gid[0])
    assert total.value_sum_u == sum(r.value_sum_u for r in by_gid[0])
    for sub in by_gid[1]:
        details = [r for r in by_gid[0] if r.event_type == sub.event_type]
        assert sub.n_events == sum(r.n_events for r in details)


def test_rollup_is_single_aggregate_plan(spark):
    e = _events(spark)
    plan = (
        rollup_stats(e, ["event_type", "month"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # one Expand feeding the aggregate — never N separate scans
    assert plan.count("Expand") >= 1
    assert plan.count("Scan") <= 2  # distinct-agg may rewrite, but no per-level scan fan-out

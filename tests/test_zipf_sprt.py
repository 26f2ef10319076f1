"""Pins for sprt_test: hand-computed crossing points for both hypotheses
and the continue branch."""

from __future__ import annotations

import datetime as dt


def test_sprt_decisions(spark):
    from extractors_metadata_spark.operators.cusum import (
        sprt_constants,
        sprt_test,
    )

    inc1, inc0, up, lo = sprt_constants(0.10, 0.20, 0.05, 0.05)
    # H1 crossing: ceil(up / inc1) successes
    n1 = -(-up // inc1)
    # H0 crossing: ceil(-lo / -inc0) failures
    n0 = -(lo // inc0) if lo % inc0 == 0 else (-lo + (-inc0) - 1) // (-inc0)
    rows = []
    for i in range(n1 + 1):  # user 1: successes only
        rows.append((1, 100 + i, dt.datetime(2016, 5, 1, 0, 0, i), "purchase"))
    for i in range(n0 + 5):  # user 2: failures only
        rows.append((2, 200 + i, dt.datetime(2016, 5, 1, 0, 0, i), "view"))
    rows.append((3, 300, dt.datetime(2016, 5, 1), "purchase"))  # continue
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string"
    )
    out = {r["user_id"]: r.asDict() for r in sprt_test(ev).collect()}
    assert out[1]["decision"] == "accept_h1"
    assert out[1]["n_at_decision"] == n1
    assert out[1]["llr_at_decision_fp"] == n1 * inc1
    assert out[2]["decision"] == "accept_h0"
    assert out[2]["n_at_decision"] == n0
    assert out[3]["decision"] == "continue"
    assert out[3]["n_at_decision"] == 1

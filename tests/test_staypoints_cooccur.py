"""Stay-point detection (operators/staypoints.py)."""

from __future__ import annotations

import datetime as dt
import math

import pandas as pd
from pyspark.sql import functions as F

from extractors_metadata_spark.operators.staypoints import (
    LAT_OFF,
    LON_OFF,
    stay_points,
)

T0 = dt.datetime(2024, 1, 1)


def _pings(spark, rows):
    # rows: (user, minutes, lat, lon)
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "user_id": [r[0] for r in rows],
                "ts": [T0 + dt.timedelta(minutes=r[1]) for r in rows],
                "event_id": list(range(len(rows))),
                "lat": [r[2] for r in rows],
                "lon": [r[3] for r in rows],
            }
        )
    )


def test_runs_split_at_jumps_and_stats_exact(spark):
    # user 1: 3 pings within ~11m, then a ~1.1km jump, then 2 close pings
    rows = [
        (1, 0, 33.0000, -111.0000),
        (1, 10, 33.0001, -111.0000),  # ~11 m
        (1, 20, 33.0002, -111.0000),
        (1, 30, 33.0100, -111.0000),  # ~1.1 km jump -> new run
        (1, 40, 33.0101, -111.0000),
    ]
    out = stay_points(
        _pings(spark, rows), d_cm=3000, min_dur_s=15 * 60, min_pings=3
    ).orderBy("stay_id").collect()
    assert len(out) == 2
    a, b = out
    assert (a.n_pings, b.n_pings) == (3, 2)
    assert a.is_stay and not b.is_stay  # b: 10 min < 15 min and 2 pings
    assert a.dur_us == 20 * 60 * 1_000_000
    # centroid: mean of quantized 1e-7-deg lat = (330000000+330001000+330002000)/3
    assert a.clat_e7 == 330001000
    assert a.clon_e7 == -1110000000
    # length: exact int cm sum of the frozen-kernel steps (mirror the UDF's
    # float chain exactly — (b - a) is NOT the decimal 0.0001 in binary)
    def cm(lat_a, lat_b):
        dy = (lat_b - lat_a) * (math.pi / 180.0 * 6371008.8)
        v = math.sqrt(0.0 * 0.0 + dy * dy) * 100.0
        return math.floor(v + 0.5)  # JVM F.round: HALF_UP

    assert a.length_cm == cm(33.0000, 33.0001) + cm(33.0001, 33.0002)
    assert b.length_cm == cm(33.0100, 33.0101)


def test_first_ping_always_starts_run(spark):
    rows = [(7, 0, 33.0, -111.0)]
    out = stay_points(_pings(spark, rows)).collect()
    assert len(out) == 1
    assert out[0].n_pings == 1 and out[0].length_cm == 0
    assert not out[0].is_stay


def test_users_independent(spark):
    rows = [
        (1, 0, 33.0, -111.0),
        (2, 5, 33.0, -111.0),
        (1, 10, 33.00005, -111.0),
        (2, 15, 33.5, -111.0),
    ]
    out = stay_points(_pings(spark, rows), d_cm=3000).collect()
    per_user = {}
    for r in out:
        per_user.setdefault(r.user_id, []).append(r)
    assert len(per_user[1]) == 1  # close pings merge
    assert len(per_user[2]) == 2  # far pings split

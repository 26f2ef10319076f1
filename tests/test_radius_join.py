"""Within-radius point self-join and its connected-components solver
(operators/radius_join.py)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest


def _brute(df: pd.DataFrame, radius_m: float):
    """Replays the kernel's INTEGER-cm decision: round(d*100, 0) half-up on
    the shortest repr (Decimal(repr(x)) == Java BigDecimal.valueOf ==
    DuckDB round at 0 decimals) <= radius_cm."""
    from decimal import ROUND_HALF_UP, Decimal

    from extractors_metadata_spark.functions.geodesy import R_MEAN

    deg = math.pi / 180.0 * R_MEAN
    radius_cm = round(radius_m * 100)
    want = set()
    rows = df.to_dict("records")
    for i, a in enumerate(rows):
        for b in rows[i + 1:]:
            lo, hi = (a, b) if a["event_id"] < b["event_id"] else (b, a)
            dx = (hi["lon"] - lo["lon"]) * math.cos(math.radians(lo["lat"])) * deg
            dy = (hi["lat"] - lo["lat"]) * deg
            d_cm = int(
                Decimal(repr(math.sqrt(dx * dx + dy * dy) * 100.0)).quantize(
                    Decimal(1), rounding=ROUND_HALF_UP
                )
            )
            if d_cm <= radius_cm:
                want.add((lo["event_id"], hi["event_id"]))
    return want


def test_radius_join_matches_bruteforce(spark):
    from extractors_metadata_spark.operators.radius_join import (
        radius_self_join,
    )

    rng = np.random.default_rng(11)
    n = 250
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n),
            "lat": 33.07 + rng.uniform(0, 3e-4, n),   # ~33 m box: dense
            "lon": -111.98 + rng.uniform(0, 4e-4, n),
        }
    )
    got_rows = radius_self_join(
        spark, spark.createDataFrame(pdf), radius_m=2.5
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in got_rows}
    assert got == _brute(pdf, 2.5)
    # exactly-once: no duplicate pair rows survived the k-ring symmetry
    assert len(got_rows) == len(got)
    # ordering contract
    assert all(r["id_a"] < r["id_b"] for r in got_rows)


def test_pick_res_ring_is_sound_and_bounded():
    from extractors_metadata_spark.functions import hexgrid
    from extractors_metadata_spark.operators.radius_join import pick_res_ring

    for radius in (0.5, 2.5, 50.0, 5000.0):
        res, ring = pick_res_ring(radius)
        s = float(hexgrid.res_size_m(res))
        assert s >= 2.0 * radius  # cell at least twice the radius
        # the lattice soundness inequality: 1.5*ring*s - 2s >= r_projected
        cos_min = math.cos(math.radians(66.0))
        assert 1.5 * ring * s - 2.0 * s >= radius / cos_min - 1e-9
        # and the fan-out stays bounded
        assert 3 * ring * ring + 3 * ring + 1 <= 37


def test_spatial_cluster_chains_and_singletons(spark):
    """A 5-point chain (each hop ~0.8 m, ends ~3.2 m apart) must be ONE
    cluster under single linkage; a far singleton keeps its own id."""
    from extractors_metadata_spark.functions.geodesy import R_MEAN
    from extractors_metadata_spark.operators.radius_join import spatial_cluster

    deg_per_m = 1.0 / (math.pi / 180.0 * R_MEAN)
    rows = [(i, 33.07, -111.98 + 0.8 * i * deg_per_m) for i in range(5)]
    rows.append((99, 33.07, -111.98 + 500.0 * deg_per_m))  # isolated
    pts = spark.createDataFrame(rows, "event_id long, lat double, lon double")
    got = {
        r["id"]: (r["cluster_id"], r["cluster_size"])
        for r in spatial_cluster(spark, pts, radius_m=1.0).collect()
    }
    assert len(got) == 6
    for i in range(5):
        assert got[i] == (0, 5), got
    assert got[99] == (99, 1), got


def test_spatial_cluster_matches_bruteforce_components(spark):
    """Random dense cloud: clusters == connected components of the brute
    O(n^2) pair graph (min-id canonical labels, sizes included)."""
    from extractors_metadata_spark.operators.radius_join import spatial_cluster

    rng = np.random.default_rng(23)
    n = 200
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n),
            "lat": 33.07 + rng.uniform(0, 2.5e-4, n),
            "lon": -111.98 + rng.uniform(0, 3e-4, n),
        }
    )
    want_pairs = _brute(pdf, 1.0)
    adj = {i: set() for i in range(n)}
    for a, b in want_pairs:
        adj[a].add(b)
        adj[b].add(a)
    want = {}
    for start in range(n):
        if start in want:
            continue
        comp, stack = [], [start]
        seen = {start}
        while stack:
            u = stack.pop()
            comp.append(u)
            for v in adj[u] - seen:
                seen.add(v)
                stack.append(v)
        lab = min(comp)
        for u in comp:
            want[u] = (lab, len(comp))
    got = {
        r["id"]: (r["cluster_id"], r["cluster_size"])
        for r in spatial_cluster(
            spark, spark.createDataFrame(pdf), radius_m=1.0
        ).collect()
    }
    assert got == want


def test_cluster_pairs_connected_components(spark):
    from extractors_metadata_spark.operators.radius_join import cluster_pairs

    # two chains + one isolated pair: {1-2-3-4}, {10-11}, {20-21-22}
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 2, 3, 10, 20, 21], "id_b": [2, 3, 4, 11, 21, 22]})
    )
    got = {r.id: r.canonical_id for r in cluster_pairs(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_cluster_pairs_deep_chain_bounded_plan(spark):
    from extractors_metadata_spark.operators.radius_join import cluster_pairs

    # 13-node chain (diameter 12): label propagation needs many rounds —
    # without per-round checkpointing the final plan would nest one join per
    # round; with it the result reads from a materialized RDD.
    n = 13
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": range(n - 1), "id_b": range(1, n)})
    )
    out = cluster_pairs(pairs, max_iters=30)
    got = {r.id: r.canonical_id for r in out.collect()}
    assert got == {i: 0 for i in range(n)}
    # lineage truncation: the returned frame's plan is a scan of the
    # checkpointed RDD, not a 12-round join tower
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan
    assert "ExistingRDD" in plan or "LogicalRDD" in plan


def test_cluster_pairs_warns_on_max_iters(spark):
    from extractors_metadata_spark.operators.radius_join import cluster_pairs

    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": range(9), "id_b": range(1, 10)})
    )
    with pytest.warns(RuntimeWarning, match="max_iters"):
        cluster_pairs(pairs, max_iters=2).collect()

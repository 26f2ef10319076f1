"""Boruvka MST: independent-reference check (test-local Prim's) — the
second derivation path rule (CLAUDE.md Soundex lesson)."""

from __future__ import annotations

import numpy as np
import pytest

from extractors_metadata_spark.operators.boruvka import (
    all_pairs_sq_edges,
    mst_boruvka,
)


def _prim_total(coords: np.ndarray) -> tuple[int, list[int]]:
    """O(n^2) Prim on squared distances — independent of the engine's
    Boruvka code path. Returns (total weight, sorted edge weights)."""
    n = len(coords)
    in_tree = np.zeros(n, dtype=bool)
    best = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
    in_tree[0] = True
    d = ((coords - coords[0]) ** 2).sum(axis=1)
    best = np.minimum(best, d)
    best[0] = np.iinfo(np.int64).max
    weights = []
    for _ in range(n - 1):
        v = int(np.argmin(best))
        weights.append(int(best[v]))
        in_tree[v] = True
        d = ((coords - coords[v]) ** 2).sum(axis=1)
        best = np.minimum(best, d)
        best[in_tree] = np.iinfo(np.int64).max
    return sum(weights), sorted(weights)


@pytest.mark.parametrize("seed,n", [(7, 24)])
def test_mst_matches_prim(spark, seed, n):
    rng = np.random.RandomState(seed)
    coords = rng.randint(0, 5000, size=(n, 2)).astype(np.int64)
    pts = spark.createDataFrame(
        [(int(i), int(x), int(y)) for i, (x, y) in enumerate(coords)],
        "id long, ix long, iy long",
    )
    edges = all_pairs_sq_edges(pts)
    mst = mst_boruvka(pts.select("id"), edges, rounds=6, jumps=6)
    rows = mst.collect()
    assert len(rows) == n - 1
    got_total = sum(r["w"] for r in rows)
    got_weights = sorted(r["w"] for r in rows)
    want_total, want_weights = _prim_total(coords)
    assert got_total == want_total
    # every MST has the same weight multiset (exchange property)
    assert got_weights == want_weights
    # forest check: the chosen edges connect all n nodes (n-1 edges +
    # all-nodes-covered + equal weight multiset => spanning tree)
    touched = {r["a"] for r in rows} | {r["b"] for r in rows}
    assert touched == set(range(n))


def test_jump_path_equals_arrow_path(spark):
    """local_resolve_max=0 forces the distributed pointer-jump loop; the
    result must be identical to the Arrow union-find path."""
    rng = np.random.RandomState(3)
    coords = rng.randint(0, 2000, size=(12, 2)).astype(np.int64)
    pts = spark.createDataFrame(
        [(int(i), int(x), int(y)) for i, (x, y) in enumerate(coords)],
        "id long, ix long, iy long",
    )
    edges = all_pairs_sq_edges(pts)
    a = sorted(
        (r["a"], r["b"], r["w"])
        for r in mst_boruvka(
            pts.select("id"), edges, rounds=4, jumps=4
        ).collect()
    )
    b = sorted(
        (r["a"], r["b"], r["w"])
        for r in mst_boruvka(
            pts.select("id"), edges, rounds=4, jumps=4, local_resolve_max=0
        ).collect()
    )
    assert a == b


def test_two_points(spark):
    pts = spark.createDataFrame(
        [(0, 0, 0), (1, 3, 4)], "id long, ix long, iy long"
    )
    mst = mst_boruvka(
        pts.select("id"), all_pairs_sq_edges(pts), rounds=2, jumps=2
    )
    rows = mst.collect()
    assert len(rows) == 1 and rows[0]["w"] == 25

"""Unit tests for the round-4 third-session operators: bounded-depth RDP
and snapshot diff — tiny hand-checkable inputs, exact expectations."""

from __future__ import annotations


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_rdp_keeps_spike_drops_collinear(spark):
    from extractors_metadata_spark.operators.trajectory import rdp_keep

    # one big spike at seq 3: ends + spike survive; after the split the
    # flat points sit ~98 units off the new chords, so eps=150 drops
    # them at level 2 while the 1000-unit spike clears level 1
    pts = _df(
        spark,
        [(1, 1, 0, 0), (1, 2, 100, 0), (1, 3, 200, 1000),
         (1, 4, 300, 0), (1, 5, 400, 0)],
        "user_id long, seq long, x long, y long",
    )
    kept = {(r.seq) for r in rdp_keep(pts, eps=150).collect()}
    assert kept == {1, 3, 5}


def test_rdp_straight_line_keeps_only_ends(spark):
    from extractors_metadata_spark.operators.trajectory import rdp_keep

    pts = _df(
        spark,
        [(7, i, i * 10, i * 10) for i in range(1, 6)],
        "user_id long, seq long, x long, y long",
    )
    kept = sorted(r.seq for r in rdp_keep(pts, eps=1).collect())
    assert kept == [1, 5]


def test_diff_snapshots_classifies_all_three(spark, tmp_path):
    from extractors_metadata_spark.sources.snapshot import (
        diff_snapshots,
        write_snapshot,
    )

    base = str(tmp_path / "t")
    v1 = write_snapshot(
        _df(spark, [(1, 10), (2, 20), (3, 30)], "k long, v long"),
        base, "append",
    )["snapshot_id"]
    v2 = write_snapshot(
        _df(spark, [(1, 10), (2, 99), (4, 40)], "k long, v long"),
        base, "replace",
    )["snapshot_id"]
    out = {r.k: r.change for r in
           diff_snapshots(spark, base, v1, v2, ("k",)).collect()}
    assert out == {2: "changed", 3: "removed", 4: "added"}

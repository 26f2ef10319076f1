"""Session-6 operator pin: Gonzalez k-center — a hand-computed golden on a
tiny input."""

from __future__ import annotations


def test_kcenter_hand_golden(spark):
    """1-D embeddings at 0, 1, 10: seed = min id (point 0), first pick =
    the farthest point (10), second = the remaining point with d2 to its
    nearest center."""
    from extractors_metadata_spark.operators.kcenter import kcenter_coreset

    emb = spark.createDataFrame(
        [(1, [0]), (2, [1000]), (3, [10000])],
        "vec_id long, qv array<long>",
    )
    out = [
        (r["round"], r["vec_id"], r["d2"])
        for r in kcenter_coreset(emb, k=3).collect()
    ]
    assert out == [
        (1, 1, 0),
        (2, 3, 10000 * 10000),
        (3, 2, 1000 * 1000),
    ]

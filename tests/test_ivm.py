"""Incremental view maintenance (operators/ivm.py)."""

from __future__ import annotations

import pandas as pd

from extractors_metadata_spark.operators.ivm import counts_of, maintain_counts


def _chg(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["g", "v", "_change"])
    )


def _view(rows):
    return sorted((r.g, r.n, r.sum_u) for r in rows)


def test_ivm_identity_and_batch_split_invariance(spark):
    base = spark.createDataFrame(
        pd.DataFrame({"g": ["a", "a", "b"], "v": [1.5, 2.5, 10.0]})
    )
    state = counts_of(base, "g", "v")
    changes = [
        ("a", 3.0, "insert"),
        ("a", 1.5, "update_pre"), ("a", 4.5, "update_post"),
        ("b", 10.0, "delete"),
        ("c", 7.0, "insert"),
    ]
    # ground truth: after = {a: 2.5, 3.0, 4.5}, {c: 7.0}; b emptied
    after = spark.createDataFrame(
        pd.DataFrame({"g": ["a", "a", "a", "c"], "v": [2.5, 3.0, 4.5, 7.0]})
    )
    want = _view(counts_of(after, "g", "v").collect())
    got = _view(maintain_counts(state, _chg(spark, changes), "g", "v").collect())
    assert got == want
    # emptied group b really left the view
    assert not any(g == "b" for g, _, _ in got)
    # applying the same changes in two arbitrary batches gives the same view
    s1 = maintain_counts(state, _chg(spark, changes[:2]), "g", "v")
    got2 = _view(maintain_counts(s1, _chg(spark, changes[2:]), "g", "v").collect())
    assert got2 == want


def test_ivm_from_empty_state(spark):
    got = _view(
        maintain_counts(
            None, _chg(spark, [("x", 2.0, "insert"), ("x", 3.0, "insert")]), "g", "v"
        ).collect()
    )
    assert got == [("x", 2, 5_000_000)]

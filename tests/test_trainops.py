"""Text-stat columns (functions/textstats.py) on edge-case inputs and the
connected-components solver (operators/radius_join.cluster_pairs)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_textstats_edge_cases(spark):
    from extractors_metadata_spark.functions import textstats as ts

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1, 2], "text": ["", "   ", "one two THREE!!"]})
    )
    out = df.select(
        "doc_id",
        ts.token_count(F.col("text")).alias("tok"),
        ts.punct_ratio(F.col("text")).alias("punct"),
        ts.lang_id(F.col("text")).alias("lang"),
        ts.quality_score(F.col("text")).alias("q"),
    ).collect()
    by = {r.doc_id: r for r in out}
    assert by[0].tok == 0 and by[1].tok == 0
    assert by[2].tok == 3
    assert by[2].punct == pytest.approx(2 / 15)
    assert by[0].lang == "unknown"
    assert 0.0 <= by[2].q <= 1.0


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

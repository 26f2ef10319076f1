"""Physical-plan assertions: the scale claims must be visible in EXPLAIN.

These tests pin the plan shapes the 100 TB design depends on:
- point -> plot lookups are one Arrow pass over the scan (no shuffle, no join);
- candidate pruning joins are BROADCAST hash joins (big side never shuffles);
- parquet filters/projections are pushed into the scan;
- relational stages run inside WholeStageCodegen;
- the tile fan-out contains no shuffle at all.
"""

import pandas as pd
from pyspark.sql import functions as F


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def _assert_one_arrow_pass(df):
    """The point -> plot operators' plan: one ArrowEvalPython over the scan,
    no shuffle, join, window or aggregate, and only the coordinates go to
    Python (the payload stays in the JVM row buffer)."""
    import re

    plan = _explain(df)
    tree = plan.split("\n\n")[0]
    for node in ("Exchange", "Join", "Window", "Aggregate", "CartesianProduct"):
        assert node not in tree, (node, tree)
    assert len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M)) == 1, tree
    udf_args = re.search(r"ArrowEvalPython\nInput .*\nArguments: \[(.*?)\]", plan).group(1)
    assert "centroid_lat" in udf_args and "payload" not in udf_args, udf_args


def _lookup_points(spark):
    return spark.createDataFrame(
        pd.DataFrame({
            "url": ["a"], "centroid_lat": [33.0746], "centroid_lon": [-111.9748],
            "payload": ["x" * 10],
        })
    )


def test_pip_join_is_one_arrow_pass(spark):
    from extractors_metadata_spark.operators.pip_knn import pip_join
    from extractors_metadata_spark.synth import plot_rings

    _assert_one_arrow_pass(pip_join(spark, _lookup_points(spark), plot_rings()))


def test_knn_join_is_one_arrow_pass(spark):
    from extractors_metadata_spark.operators.pip_knn import knn_join
    from extractors_metadata_spark.synth import plot_rings

    for k in (1, 3):
        _assert_one_arrow_pass(knn_join(spark, _lookup_points(spark), plot_rings(), k=k))


def test_resolve_plots_is_one_arrow_pass(spark):
    from extractors_metadata_spark.operators.pip_knn import resolve_plots
    from extractors_metadata_spark.synth import plot_rings

    _assert_one_arrow_pass(resolve_plots(spark, _lookup_points(spark), plot_rings()))


def test_parquet_filter_pushdown(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .filter(F.col("event_type") == "view")
        .select("event_id", "value")
    )
    plan = _explain(df)
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,view)" in plan
    # column pruning: scan schema carries only what the query needs
    assert "value" in plan and "props" not in plan.split("ReadSchema")[1][:200]


def test_q1_partial_aggregation_single_shuffle(spark):
    """The flagship agg must map-side combine: HashAggregate(partial) ->
    one Exchange -> HashAggregate(final). (Codegen ids only surface in AQE's
    final plan, so the shape — not the codegen label — is asserted.)"""
    import __spark_entry__ as e

    import re

    plan = _explain(e.q_q1_pricing(spark, "/root/testdata/sf0.001"))
    # the formatted plan lists each node once in the tree and once in the
    # details section — count detail headers "(n) Exchange"
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) == 2
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1


def test_tile_assign_has_no_shuffle(spark):
    import re

    from extractors_metadata_spark.operators.tile_assign import tile_assign

    df = spark.createDataFrame(
        pd.DataFrame(
            {"url": ["a"], "min_lat": [33.0], "min_lon": [-112.0],
             "max_lat": [33.01], "max_lon": [-111.99]}
        )
    )
    plan = _explain(tile_assign(df))
    assert "Exchange" not in plan  # pure narrow fan-out
    # one Arrow pass holding one range-UDF call, not one per struct field
    assert len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M)) == 1, plan
    udf_outs = re.search(r"ArrowEvalPython\nInput .*\nArguments: .*\], \[(.*?)\]", plan).group(1)
    assert udf_outs.count("pythonUDF") == 1, udf_outs


def test_run_pipeline_is_one_arrow_pass_then_a_jvm_explode(spark):
    """The bulk pipeline is map-only: its persisted resolved frame holds ONE
    Arrow pass with one UDF call (footprint + cells + resolve + tile ranges),
    and the tiles frame adds only JVM explodes over the cached range columns."""
    import re

    from extractors_metadata_spark.operators.pip_knn import _live_caches
    from extractors_metadata_spark.plans.pipeline import run_pipeline
    from extractors_metadata_spark.synth import plot_rings, synth_webpages

    dp, tiles = run_pipeline(spark, synth_webpages(spark, 10), plot_rings())
    plan = _explain(_live_caches["pipeline_resolved"])
    assert len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M)) == 1, plan
    udf_outs = re.search(r"ArrowEvalPython\nInput .*\nArguments: .*\], \[(.*?)\]", plan).group(1)
    assert udf_outs.count("pythonUDF") == 1, udf_outs
    tiles_plan = _explain(tiles)
    # the tree above the cached relation is the tiles frame's own work
    own = tiles_plan.split("InMemoryRelation")[0]
    assert "InMemoryTableScan" in own and "EvalPython" not in own, own
    for p in (plan, tiles_plan, _explain(dp)):
        assert "Exchange" not in p, p


def test_parse_is_jvm_side(spark):
    """The metadata parse stage must contain no Python UDF (BatchEvalPython /
    ArrowEvalPython) — it is regexp+from_json inside codegen."""
    from extractors_metadata_spark.plans.parse import parse_metadata
    from extractors_metadata_spark.synth import synth_webpages

    plan = _explain(parse_metadata(synth_webpages(spark, 10)))
    assert "EvalPython" not in plan


def test_bbox_overlap_join_is_broadcast_no_cartesian(spark):
    """The region join's candidate stage must be a broadcast equi-join on
    the cell key — the probe (box) side never sort-shuffles for the join
    and nothing degenerates to a cartesian product."""
    from extractors_metadata_spark.operators.overlap import bbox_overlap_join
    from extractors_metadata_spark.synth import plot_rings

    boxes = spark.createDataFrame(
        pd.DataFrame({
            "event_id": [1], "min_lat": [33.0746], "min_lon": [-111.9749],
            "max_lat": [33.0747], "max_lon": [-111.9748],
        })
    )
    plan = _explain(bbox_overlap_join(spark, boxes, plot_rings()))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan

"""run_pipeline's fused pass: same rows as the layer functions composed, a
cheap plan to build that parses each page once, and one live persist across
repeated passes."""

import json

import pandas as pd
import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from extractors_metadata_spark.operators.pip_knn import _live_caches, resolve_plots
from extractors_metadata_spark.operators.tile_assign import tile_assign
from extractors_metadata_spark.plans.parse import parse_metadata, with_footprint_cells
from extractors_metadata_spark.plans.pipeline import POINT_COLS, datapoints, run_pipeline
from extractors_metadata_spark.schemas import WEBPAGES
from extractors_metadata_spark.synth import plot_rings, synth_webpages


def _page(url: str, gvm: dict | None) -> dict:
    """A page whose metadata block holds only the given gantry section."""
    md = {"lemnatec_measurement_metadata": {}, "dataset_name": "VNIR - 2016-05-07__15-58-43-000"}
    if gvm is not None:
        md["lemnatec_measurement_metadata"]["gantry_system_variable_metadata"] = gvm
    html = f'<script type="application/json" id="lemnatec">{json.dumps(md)}</script>'
    return {"url": url, "warc_ts": pd.Timestamp("2016-05-07"), "html": html.encode(),
            "text": "", "lang": "en"}


@pytest.fixture(scope="module")
def pages(spark):
    """synth pages (site, far +-50 km, missing sensor_fixed_metadata and
    'Camnera' typo keys all occur) plus pages with null gantry positions and
    one page holding nothing but a gantry position."""
    extra = [
        _page("u:no-gantry", None),
        _page("u:no-x", {"Time": "05/07/2016 15:58:43", "Position y [m]": "2.5"}),
        _page("u:no-y", {"Time": "05/07/2016 15:58:43", "Position x [m]": "100.0"}),
        _page("u:bare", {"Time": "05/07/2016 15:58:43", "Position x [m]": "100.0",
                         "Position y [m]": "2.5"}),
    ]
    df = synth_webpages(spark, 2000).unionByName(
        spark.createDataFrame(pd.DataFrame(extra), WEBPAGES)
    ).cache()
    df.count()
    yield df
    df.unpersist()


def _rows(df) -> list[str]:
    return sorted(str(tuple(r)) for r in df.collect())


def test_run_pipeline_equals_layer_composition(spark, pages):
    """datapoints and tiles equal, as row sets, the traced benchmark path:
    with_footprint_cells -> resolve_plots (sitename shortcut) -> tile_assign."""
    plots = plot_rings()
    fp = with_footprint_cells(parse_metadata(pages)).select(*POINT_COLS, "sitename")
    lookup = resolve_plots(
        spark, fp.filter(F.col("sitename").isNull()).drop("sitename"), plots,
        res=13, ring=3, cell_col="cell_r13",
    )
    site = (
        fp.filter(F.col("sitename").isNotNull())
        .withColumn("plot_id", F.element_at(F.split("sitename", " "), -1))
        .withColumn("matched_via", F.lit("site"))
        .drop("sitename")
    )
    resolved = lookup.unionByName(site)
    want_dp = resolved.select(
        "url", "plot_id", "matched_via", "centroid_lon", "centroid_lat", "footprint",
        "scan_time", "date",
        F.concat("sensor", F.lit(" Datasets")).alias("stream"),
        F.create_map(
            F.lit("source_dataset"), F.col("url"), F.lit("dataset_name"), F.col("dataset_name")
        ).alias("properties"),
        "cell_r9", "s2_cell",
    )
    dp, tiles = run_pipeline(spark, pages, plots)

    got = dp.toPandas()
    assert _rows(dp) == _rows(want_dp)
    assert _rows(tiles) == _rows(tile_assign(resolved))
    # every path the issue's inputs exercise is present
    via = got["matched_via"].value_counts()
    assert {"site", "contains", "nearest"} <= set(via.index), via
    assert got["url"].str.startswith("u:").sum() == 1  # only u:bare has a position
    assert got["centroid_lat"].sub(33.07).abs().gt(0.3).any()  # a far point


def test_run_pipeline_plans_in_few_py4j_calls(spark):
    """Building both frames (no action) costs <= 400 py4j round trips:
    projections are SQL text, where each ``functions`` call costs ~3.
    Object deletes (sent whenever Python's collector frees a JavaObject,
    whatever created it) land in the same window but are no planning work,
    so they are not counted."""
    from unittest import mock

    import py4j.clientserver as cs
    from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

    pages = synth_webpages(spark, 10)
    plots = plot_rings()  # the 864-plot dim
    run_pipeline(spark, pages, plots)  # warm the covering memo and py4j's lookups
    send = cs.ClientServerConnection.send_command
    delete = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME
    calls = []

    def counting(self, command):
        if not command.startswith(delete):
            calls.append(command)
        return send(self, command)

    with mock.patch.object(cs.ClientServerConnection, "send_command", counting):
        run_pipeline(spark, pages, plots)
    assert len(calls) <= 400, len(calls)


def test_parse_runs_once_per_row(spark, pages):
    """The executed plans evaluate regexp_extract and from_json once per row.
    A filter over an aliased column is pushed below its Project with the
    alias substituted, which made the fused pass run them 5 and 3 times."""
    dp, tiles = run_pipeline(spark, pages, plot_rings())
    for df in (dp, tiles, datapoints(spark, pages, plot_rings())):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert (plan.count("regexp_extract("), plan.count("from_json(")) == (1, 1), plan


def test_repeated_passes_keep_one_live_persist(spark, pages):
    """Three passes with actions: each pass materializes its own cached RDD
    (none is served from the previous pass's persist: the plans are equal, so
    Spark's CacheManager would match a still-live one), every earlier pass's
    cache is released, and at most one more RDD stays persisted."""
    jsc = spark.sparkContext._jsc

    def persisted() -> set:
        return set(jsc.getPersistentRDDs().keys())

    before = persisted()
    fresh = []
    for _ in range(3):
        start = persisted()
        dp, tiles = run_pipeline(spark, pages, plot_rings())
        for df in (dp, tiles):
            df.write.format("noop").mode("overwrite").save()
        fresh.append(persisted() - start)
    after = persisted()
    assert all(fresh), fresh
    assert not (fresh[0] | fresh[1]) & after, (fresh, after)
    assert len(after) - len(before) <= 1
    assert _live_caches["pipeline_resolved"].storageLevel != StorageLevel.NONE

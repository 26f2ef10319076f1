"""Cleaner/repairer ops: J5 lv1-name remap join, callback fan-out dims,
target completeness, and the files_created repair loop end-to-end
(reference: terra_mdcleaner.py:52-140, terra_repairer.py:39-181)."""

import shutil

import pandas as pd
from pyspark.sql import functions as F

from extractors_metadata_spark.plans import cleaner as cl
from extractors_metadata_spark.sources import snapshot as snap


def test_with_raw_equiv_branches(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "name": [
                    "RGB GeoTIFFs - 2017-05-01__10-00-00",
                    "Thermal IR GeoTIFFs - 2017-05-01__10-00-00",
                    "scanner3DTop - 2017-05-01__10-00-00",
                    "Full Field - 2017-05-01__10-00-00",
                ]
            }
        )
    )
    out = {r.name: (r.sensor_type, r.raw_sensor, r.raw_name)
           for r in cl.with_raw_equiv(df).collect()}
    assert out["RGB GeoTIFFs - 2017-05-01__10-00-00"] == (
        "RGB GeoTIFFs", "stereoTop", "stereoTop - 2017-05-01__10-00-00")
    assert out["Thermal IR GeoTIFFs - 2017-05-01__10-00-00"][2] == (
        "flirIrCamera - 2017-05-01__10-00-00")
    # identity branch: sensor outside LV1_TYPES keeps its own name
    assert out["scanner3DTop - 2017-05-01__10-00-00"] == (
        "scanner3DTop", "scanner3DTop", "scanner3DTop - 2017-05-01__10-00-00")


def test_lv1_remap_join_filters_uncleanables(spark):
    derived = spark.createDataFrame(
        pd.DataFrame(
            {
                "name": [
                    "RGB GeoTIFFs - t1",
                    "Full Field - t1",  # uncleanable, must drop
                    "scanner3DTop - t2",
                ]
            }
        )
    )
    raw = spark.createDataFrame(
        pd.DataFrame(
            {
                "raw_name": ["stereoTop - t1", "scanner3DTop - t2", "Full Field - t1"],
                "md": [10, 20, 99],
            }
        )
    )
    got = {r.name: r.md for r in cl.lv1_remap_join(derived, raw).collect()}
    assert got == {"RGB GeoTIFFs - t1": 10, "scanner3DTop - t2": 20}


def test_callback_fanout_dim_and_override(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"ds": [1, 2, 3], "raw_sensor": ["scanner3DTop", "stereoTop", "VNIR"]})
    )
    # repairer dim: scanner3DTop -> 3 callbacks, stereoTop -> 2, VNIR -> none
    rows = cl.callback_fanout(df, callbacks=cl.REPAIRER_CALLBACKS).collect()
    per_ds = {}
    for r in rows:
        per_ds.setdefault(r.ds, []).append(r.callback)
    assert len(per_ds[1]) == 3 and "terra.3dscanner.heightmap" in per_ds[1]
    assert len(per_ds[2]) == 2
    assert 3 not in per_ds  # no dim entry -> no trigger rows
    # explicit --callback overrides the dim (one row each, incl. VNIR)
    forced = cl.callback_fanout(df, callback="my.extractor").collect()
    assert len(forced) == 3 and all(r.callback == "my.extractor" for r in forced)


def test_targets_complete_vacuous_and_partial(spark):
    files = spark.createDataFrame(
        pd.DataFrame(
            {
                "dataset": ["a", "a", "b", "c", "d"],
                "sensor": ["stereoTop", "stereoTop", "stereoTop", "scanner3DTop", "flirIrCamera"],
                "filename": [
                    "x_left.bin", "x_right.bin",  # a: complete
                    "y_left.bin",                  # b: missing _right.bin
                    "z.ply",                       # c: zero targets -> vacuous
                    "w_left.bin",                  # d: wrong suffix for flir
                ],
            }
        )
    )
    out = {r.dataset: (r.n_found, r.n_targets, r.complete)
           for r in cl.targets_complete(spark, files).collect()}
    assert out["a"] == (2, 2, True)
    assert out["b"] == (1, 2, False)
    assert out["c"] == (0, 0, True)
    assert out["d"] == (0, 1, False)


def test_files_created_repair_set(spark):
    md = spark.createDataFrame(
        pd.DataFrame(
            {
                "dataset": ["a", "b"],
                "files_created": [
                    ["https://h/files/f1", "https://h/files/f2"],
                    ["https://h/files/f3"],
                ],
            }
        )
    )
    inv = spark.createDataFrame(pd.DataFrame({"file_id": ["f1", "f3"]}))
    got = {r.dataset for r in cl.files_created_repair_set(md, inv).collect()}
    assert got == {"a"}  # f2 missing; b's f3 exists


def test_repair_end_to_end_reprocesses_only_damaged(spark, tmp_path):
    """Full repairer loop against a real snapshot table: commit outputs,
    physically delete one dataset's parquet partition (simulated file loss),
    probe files_created against the surviving inventory, and re-run — only
    the damaged dataset reprocesses (terra_repairer.py:52-84 semantics)."""
    table = str(tmp_path / "outputs")
    inp = spark.createDataFrame(
        pd.DataFrame({"dataset": ["a", "b", "c"], "payload": [1, 2, 3]})
    )

    def transform(df):
        return df.select(
            "dataset", F.concat(F.lit("f_"), F.col("dataset")).alias("file_id")
        )

    m = snap.run_incremental(spark, inp, table, "dataset", transform,
                             partition_by=("dataset",))
    assert m["rows"] == 3

    # metadata records each dataset's created-file URLs (reference md shape)
    md = inp.select(
        "dataset",
        F.array(F.concat(F.lit("https://h/files/f_"), F.col("dataset"))).alias(
            "files_created"
        ),
    )

    # damage: delete dataset b's partition directory inside the snapshot
    shutil.rmtree(f"{m['data_dir']}/dataset=b")

    inventory = snap.read_table(spark, table).select("file_id")
    repair = {r.dataset for r in cl.files_created_repair_set(md, inventory).collect()}
    assert repair == {"b"}

    # re-trigger: incremental run over the full input reprocesses ONLY the gap
    m2 = snap.run_incremental(spark, inp, table, "dataset", transform,
                              partition_by=("dataset",))
    assert m2["rows"] == 1
    redone = spark.read.parquet(m2["data_dir"])
    assert [r.dataset for r in redone.collect()] == ["b"]
    # table is whole again
    assert snap.read_table(spark, table).count() == 3
    assert cl.files_created_repair_set(md, snap.read_table(spark, table)
                                       .select("file_id")).count() == 0

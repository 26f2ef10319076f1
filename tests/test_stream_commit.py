"""Per-batch commits of ``stream_pipeline``: a batch killed between its data
write and its manifest commit, and the file count / lineage of a small batch."""

import os

import pytest
from pyspark.sql import functions as F

from extractors_metadata_spark.plans.pipeline import datapoints
from extractors_metadata_spark.sources import snapshot as snap
from extractors_metadata_spark.streaming.stream import stream_pipeline
from extractors_metadata_spark.synth import plot_rings, synth_webpages


@pytest.fixture(scope="module")
def plots_pdf():
    return plot_rings()


@pytest.fixture()
def dirs(spark, tmp_path):
    """(input dir holding one ~100-page parquet file, table, checkpoint, pages)."""
    input_dir = str(tmp_path / "in")
    pages = synth_webpages(spark, 100)
    pages.coalesce(1).write.parquet(input_dir)
    return input_dir, str(tmp_path / "table"), str(tmp_path / "ckpt"), pages


def test_batch_killed_before_manifest_commit_lands_once(
    spark, dirs, plots_pdf, monkeypatch
):
    input_dir, table, ckpt, pages = dirs
    commit = snap._commit_manifest
    orphans = []

    def killed_once(table_path, manifest):
        if not orphans:
            orphans.append(manifest)
            raise RuntimeError("batch killed before its manifest commit")
        commit(table_path, manifest)

    monkeypatch.setattr(snap, "_commit_manifest", killed_once)
    q = stream_pipeline(spark, input_dir, table, ckpt, plots_pdf)
    with pytest.raises(Exception, match="killed before its manifest commit"):
        q.awaitTermination(300)
    (dead,) = orphans
    assert snap.live_snapshots(table) == []
    assert os.path.isdir(dead["data_dir"]) and os.path.isdir(dead["keys_dir"])

    # the restart replays the uncommitted batch from the checkpoint
    q = stream_pipeline(spark, input_dir, table, ckpt, plots_pdf)
    q.awaitTermination(300)
    assert q.exception() is None
    urls = [r.url for r in snap.read_table(spark, table).select("url").collect()]
    expected = {r.url for r in datapoints(spark, pages, plots_pdf).select("url").collect()}
    assert expected and len(urls) == len(set(urls)) and set(urls) == expected

    removed = snap.gc_orphans(table, grace_s=0.0)
    name = os.path.basename(dead["data_dir"])
    # its data dir and its keys dir; a small commit writes no lineage dir
    assert removed == [name, name]
    assert not os.path.exists(dead["data_dir"]) and not os.path.exists(dead["keys_dir"])
    assert snap.read_table(spark, table).count() == len(expected)


def test_small_batch_commit_files_and_footer_lineage(spark, dirs, plots_pdf):
    input_dir, table, ckpt, _ = dirs
    stream_pipeline(spark, input_dir, table, ckpt, plots_pdf).awaitTermination(300)
    (m,) = snap.live_snapshots(table)
    assert 0 < m["files_count"] <= spark.sparkContext.defaultParallelism
    assert m["lineage_dir"] is None
    # the inline lineage equals an independent per-file group-count
    by_file = (
        spark.read.parquet(m["data_dir"])
        .groupBy(F.input_file_name().alias("file"))
        .count()
        .collect()
    )
    assert sorted((r["file"], r["count"]) for r in by_file) == [
        (e["file"], e["rows"]) for e in m["files"]
    ]
    assert m["files_count"] == len(m["files"])
    assert m["rows"] == sum(e["rows"] for e in m["files"]) > 0
    lineage = snap.read_lineage(spark, table, m["snapshot_id"]).collect()
    assert sorted((r.file, r.rows) for r in lineage) == [
        (e["file"], e["rows"]) for e in m["files"]
    ]
    # gc and expire handle a manifest without a lineage side table
    assert snap.gc_orphans(table, grace_s=0.0) == []
    snap.write_snapshot(snap.read_table(spark, table), table, mode="replace")
    assert snap.expire_snapshots(table, before_id=1) == [0]
    assert not os.path.exists(m["data_dir"]) and not os.path.exists(m["keys_dir"])
    assert not os.path.exists(os.path.join(table, "lineage"))

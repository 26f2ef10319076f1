"""Streaming veneer: drain + resume + idempotency."""

import pytest
from pyspark.sql import functions as F

from extractors_metadata_spark.sources import snapshot as snap
from extractors_metadata_spark.synth import plot_rings, synth_webpages


@pytest.fixture(scope="module")
def plots_pdf():
    return plot_rings()


def test_stream_drain_and_idempotent_restart(spark, tmp_path_factory, plots_pdf):
    from extractors_metadata_spark.streaming.stream import stream_pipeline

    base = tmp_path_factory.mktemp("stream")
    input_dir = str(base / "in")
    table = str(base / "out")
    ckpt = str(base / "ckpt")

    pages = synth_webpages(spark, 300)
    pages.limit(200).write.parquet(input_dir)

    q = stream_pipeline(spark, input_dir, table, ckpt, plots_pdf)
    q.awaitTermination(300)
    n1 = snap.read_table(spark, table).count()
    assert n1 > 0

    # new files arrive; restart drains ONLY the new ones (checkpoint resume),
    # and re-delivered urls are skipped (snapshot anti-join)
    pages.write.mode("append").parquet(input_dir)  # 300 rows incl. the 200 dups
    q2 = stream_pipeline(spark, input_dir, table, ckpt, plots_pdf)
    q2.awaitTermination(300)
    final = snap.read_table(spark, table)
    total_unique = pages.select("url").distinct().count()
    # every url with positional metadata appears exactly once
    assert final.groupBy("url").count().filter(F.col("count") > 1).count() == 0
    assert final.count() == final.select("url").distinct().count() <= total_unique
    # the per-batch resume anti-join reads ONLY the narrow keys tables, never
    # the growing wide output (each commit records key_cols=('url',))
    gap = snap.resume_gap(spark, pages, table, "url")
    files = gap.inputFiles()
    assert files and all(("/keys/" in f) or ("/in/" in f) for f in files)
    # and commits are cell-clustered (manifest records the layout)
    assert all(
        m["cluster_by"] == ["cell_r9"]
        for m in snap.live_snapshots(table)
        if m["rows"] > 0
    )

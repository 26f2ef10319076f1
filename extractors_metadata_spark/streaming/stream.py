"""Structured-Streaming veneer: the event-driven mode of the reference.

The reference is a queue consumer — one RabbitMQ "metadata added" event per
resource, idempotent via skip-if-processed
(``/root/reference/sensorposition/extractor_info.json:10-14``,
``terra_sensorposition.py:31-37``). The Spark mapping (SURVEY.md §2.10):

- ``readStream`` on the documents directory (file source = the queue);
- ``foreachBatch`` running the SAME batch pipeline functions (process_message
  ≡ the per-batch function);
- idempotency = ``dropDuplicates`` on url within the batch + the snapshot
  layer's resume anti-join across batches (at-least-once delivery tolerated);
- ``Trigger.AvailableNow`` = drain-and-stop; checkpointLocation = resume.

No watermark is required for parity: documents are independent events with no
cross-event state (T3 — absence verified across the whole reference repo).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import WEBPAGES
from ..sources.snapshot import resume_gap, write_snapshot


def windowed_capture_counts(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    window: str = "10 minutes",
    watermark: str = "1 hour",
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Watermarked tumbling-window datapoint counts per sensor stream.

    The reference has no cross-event state (SURVEY.md T3), so this is an
    engine-added capability for the web-scale workload: late documents are
    admitted up to ``watermark`` past the max seen ``warc_ts``; the windowed
    counts append once windows finalize. Demonstrates the standard
    Structured-Streaming stateful-agg shape (watermark -> window -> agg ->
    append sink)."""
    from ..plans.parse import parse_metadata

    stream = (
        spark.readStream.schema(WEBPAGES)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )
    parsed = parse_metadata(stream)
    counts = (
        parsed.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), F.col("sensor"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "sensor",
            "n_docs",
        )
    )
    return (
        counts.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_pipeline(
    spark: SparkSession,
    input_dir: str,
    output_table: str,
    checkpoint_dir: str,
    plots,
    max_files_per_trigger: int = 4,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Stream documents from ``input_dir`` through the flagship pipeline into
    the ``output_table`` snapshot table; returns the started query (AvailableNow).
    """
    from ..plans.pipeline import datapoints

    stream = (
        spark.readStream.schema(WEBPAGES)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # T2: tolerate queue redelivery inside a batch, then across batches
        pages = batch_df.dropDuplicates(["url"])
        todo = resume_gap(spark, pages, output_table, "url")
        out = datapoints(spark, todo, plots)
        # key_cols: each commit records its urls in a compact keys table, so
        # the NEXT batch's resume anti-join reads only the narrow keys path
        # instead of re-scanning the growing wide output. A batch this small
        # (<= INLINE_FILES_CAP files, <= DRIVER_KEYS_ROWS_CAP rows) gets its
        # keys table from the driver's footer pass, so the commit is one
        # Spark job: the data write.
        # cluster_by cell: in-file sort (no shuffle) keeps every committed
        # file's cell-ID footer range tight — the datapoint table stays
        # prunable for spatial range probes as it accumulates.
        write_snapshot(
            out, output_table, "append", key_cols=("url",), cluster_by=("cell_r9",)
        )

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup_exact(
    spark: SparkSession,
    input_dir: str,
    output_table: str,
    checkpoint_dir: str,
    text_col: str = "text",
    max_files_per_trigger: int = 4,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Streaming exact content dedup: only the FIRST document carrying each
    content digest (md5 of ``text_col``) across the whole stream's lifetime
    is committed; later duplicates — within a batch or batches/restarts apart
    — are dropped.

    The cross-batch seen-set is NOT executor memory state (unbounded at
    10^12 docs) but the snapshot layer's COMPACT keys table: each commit
    records its distinct digests (``write_snapshot(key_cols=...)``), and each
    batch anti-joins ONLY those keys tables (``resume_gap`` keys path — the
    wide output is never re-scanned). At-least-once redelivery and
    mid-stream crash/restart are idempotent for the same reason the url
    pipeline is (pytest: test_streaming_multimodal).
    """
    stream = (
        spark.readStream.schema(WEBPAGES)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        docs = batch_df.withColumn("digest", F.md5(F.col(text_col)))
        # within-batch: EXACTLY one row per digest — min_by on (url, warc_ts)
        # (frozen determinism rule). A plain min-url semi-join would still
        # pass BOTH copies of a row redelivered twice inside one batch.
        cols = docs.columns
        first = (
            docs.groupBy("digest")
            .agg(F.min_by(F.struct(*cols), F.struct("url", "warc_ts")).alias("r"))
            .select("r.*")
        )
        todo = resume_gap(spark, first, output_table, "digest")
        write_snapshot(todo, output_table, "append", key_cols=("digest",))

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

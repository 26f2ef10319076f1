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

from ..schemas import WEBPAGES
from ..sources.snapshot import resume_gap, write_snapshot


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

"""SparkSession builder with the engine's scale-oriented defaults.

Defaults are chosen for the 100 TB design point and scaled down by env for the
local[32] sandbox:

- AQE on (runtime re-plan, skew-join backstop, partition coalescing),
- Arrow execution for pandas UDFs with batches small enough that each task
  overlaps its JVM and Python work (``ARROW_MAX_RECORDS``),
- shuffle partitions sized from the parallelism level (cluster: set
  spark.sql.shuffle.partitions ~ 2-3x total cores; here: from env).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

# Arrow batch size. Within a task, Spark's runner writes batch i+1 to the
# Python worker while Python computes batch i, so a task split into several
# batches overlaps the JVM's parse with the NumPy kernels; a task sent as one
# batch runs them back to back. A 12k-page backfill pass is 2 tasks of ~4.2k
# rows on local[2], so 1,000 gives ~5 batches per task. Sweep of warm passes
# (seed-5 pages, local[2], 4 vCPUs; per run the median of 10 passes, then the
# median over 4-5 runs): 500 -> 1.17 s, 1,000 -> 1.06 s, 2,000 -> 1.04 s,
# 4,000 -> 1.16 s (2 runs), 10,000 -> 1.15 s; run-to-run spread ~0.1-0.25 s.
# A 100-page incremental batch is one Arrow batch at any of these sizes.
ARROW_MAX_RECORDS = "1000"


def get_spark(
    app_name: str = "extractors-metadata-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so the
    same code path serves the bench's two-parallelism scaling runs; on a real
    cluster callers pass ``master=None`` and launch via ``spark-submit --py-files``.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # 2-4x cores (standard practice): keeps every core busy through reduce
        # stages; AQE's coalescing tends to under-provision Python-UDF-heavy
        # stages (measured: 8-core pipeline 180s -> 131s at 4x + no coalesce).
        shuffle_partitions = max(cpus * 4, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", ARROW_MAX_RECORDS)
        .config("spark.sql.session.timeZone", "UTC")
        # the engine's big-big joins are 1:1 on unique ids — shuffled hash join
        # skips the sort of both sides that sort-merge would pay
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Above this many paths a file scan lists them with a Spark job (the
        # default is 32). resume_gap reads every live keys table in one
        # multi-path scan, so past 32 keyed snapshots its planning launched a
        # listing job: measured 0.07 s at 32 snapshots, 0.45 / 0.43 / 0.58 s
        # at 33 / 40 / 60, and 0.04-0.07 s with the threshold raised (4 vCPUs,
        # local FS). Folding keys tables every N commits (ROADMAP item 4) is
        # what bounds the path count of an aged table; until then the driver
        # lists up to this many paths itself.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        # managed tables would land in ./spark-warehouse of the working dir
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(tempfile.gettempdir(), "spark_graft_warehouse"),
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

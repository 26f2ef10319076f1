"""SparkSession builder with the engine's scale-oriented defaults.

Defaults are chosen for the 100 TB design point and scaled down by env for the
local[32] sandbox:

- AQE on (runtime re-plan, skew-join backstop, partition coalescing),
- Arrow execution for pandas UDFs with a bounded batch size so the
  ray-cast / geodesy kernels stay cache-resident,
- shuffle partitions sized from the parallelism level (cluster: set
  spark.sql.shuffle.partitions ~ 2-3x total cores; here: from env).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

# Arrow batch size: PIP refine works on (points x polygon-edges) NumPy blocks;
# 10k rows/batch keeps those blocks comfortably inside L2/L3 at ~dozens of
# vertices per polygon while amortizing the JVM<->Python IPC round trip.
ARROW_MAX_RECORDS = "10000"


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
        # bucketed tables (sources/bucketed.py) register in the in-memory
        # catalog; keep their files out of the repo working dir
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

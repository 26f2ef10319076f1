"""A reused Python worker starts its next task without re-reading Spark's zip
archives: the zip directories the engine's import left in the worker are the
same objects at the next task's first UDF call."""

import json
import os

import pandas as pd
import pytest
from pyspark.sql.functions import pandas_udf


def _probe_once(spark) -> tuple[int, dict[str, int]]:
    """(worker pid, {Spark archive path: id of its cached zip directory}) seen
    by the one UDF call of a one-task job that imports the engine."""

    @pandas_udf("string")
    def probe(x: pd.Series) -> pd.Series:
        import zipimport

        import extractors_metadata_spark  # noqa: F401 - as every engine UDF's worker does

        home = os.path.realpath(os.environ.get("SPARK_HOME", "/nonexistent")) + os.sep
        dirs = {
            p: id(d)
            for p, d in zipimport._zip_directory_cache.items()
            if os.path.realpath(p).startswith(home)
        }
        return pd.Series([json.dumps([os.getpid(), dirs])] * len(x))

    (row,) = spark.range(1, numPartitions=1).select(probe("id").alias("p")).collect()
    pid, dirs = json.loads(row.p)
    return pid, dirs


def test_reused_worker_keeps_the_spark_zip_directories(spark):
    # idle workers are handed out first in, first out, so one-task jobs go
    # round the idle pool; stop at the first worker that serves a second job
    seen: dict[int, dict[str, int]] = {}
    for _ in range(16):
        pid, dirs = _probe_once(spark)
        if not any(os.path.basename(p) == "pyspark.zip" for p in dirs):
            pytest.skip("the Python workers do not import pyspark from $SPARK_HOME's pyspark.zip")
        if pid in seen:
            break
        seen[pid] = dirs
    else:
        pytest.fail("no Python worker served two jobs: worker reuse is off")
    # pyspark.zip, the py4j zip and the spark-core jar: the same directory objects
    assert dirs == seen[pid]

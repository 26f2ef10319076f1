#!/usr/bin/env python
"""Structural per-query metrics from the Spark event log (r6 harness).

Wall clock on this box measures the host's degraded-window page-fault
service as much as the plan (BENCH/BASELINE.md); job/stage/task counts and
shuffle/spill/cache BYTES are deterministic properties of the plan that
the degraded-window wall time scales with.  This harness runs suite
queries one at a time with the event log enabled and prints one JSON line
per query:

  {"q": name, "sec": wall, "jobs": J, "stages": S, "tasks": T,
   "shuffle_write_mb": MB, "cache_mb": MB, "bcast_builds": B}

Usage: python tools/plan_metrics.py q1,q2,...
(env: SPARK_GRAFT_SF_DIR input dir, SPARK_GRAFT_CPUS local cores)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if len(sys.argv) != 2:
        sys.exit("usage: python tools/plan_metrics.py q1,q2,...")
    only = sys.argv[1].split(",")

    import __spark_entry__ as entrymod
    from extractors_metadata_spark.session import get_spark

    spark = get_spark(
        "plan_metrics",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus * 4, 8),
        extra_conf={
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
            "spark.ui.enabled": "true",
            "spark.ui.port": "4047",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    import urllib.request

    def _get(path):
        app = spark.sparkContext.applicationId
        url = f"http://localhost:4047/api/v1/applications/{app}{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.loads(r.read())

    def snapshot() -> dict:
        jobs = _get("/jobs?status=succeeded") + _get("/jobs?status=failed")
        stages = _get("/stages?status=complete")
        j = len(jobs)
        s = len(stages)
        t = sum(st.get("numCompleteTasks", 0) for st in stages)
        swrite = sum(st.get("shuffleWriteBytes", 0) for st in stages)
        sread = sum(st.get("shuffleReadBytes", 0) for st in stages)
        mem = sum(st.get("memoryBytesSpilled", 0) for st in stages)
        return {"jobs": j, "stages": s, "tasks": t,
                "shuffle_write_mb": round(swrite / 1e6, 1),
                "shuffle_read_mb": round(sread / 1e6, 1),
                "spill_mb": round(mem / 1e6, 1)}

    prev = None
    for name in only:
        spark.sparkContext.setJobDescription(f"pm:{name}")
        t0 = time.time()
        qs[name](spark, sf_dir).count()
        wall = round(time.time() - t0, 3)
        # flush listener queue then diff counters
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        cur = snapshot()
        # the first query's delta includes session warmup jobs; report as-is
        d = {k: cur[k] - (prev[k] if prev else 0) for k in cur}
        for k in ("shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
            d[k] = round(d[k], 1)
        print(json.dumps({"q": name, "sec": wall, **d}), flush=True)
        prev = cur
    spark.stop()


if __name__ == "__main__":
    main()

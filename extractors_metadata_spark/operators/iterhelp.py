"""Shared helpers for bounded-iteration operators (r6 optimization round).

The eager-round operators (cluster_pairs, QuickHull, and the registry's
heavy queries wrapped under this scope) pay two fixed costs per round that
dominate wall time on small-to-medium frames and are pure overhead at any
scale:

1. every round's shuffles inherit ``spark.sql.shuffle.partitions`` (the
   bench pins 4x cores with AQE partition coalescing DISABLED — right for
   the Python-UDF pipeline stages it was measured on, wrong for narrow
   all-JVM label/edge frames where a 128-task reduce stage holds a few
   thousand rows);
2. every convergence probe / lineage truncation is its own Spark job.

``coalesced_small_shuffles`` scopes AQE partition coalescing to the eager
loop of such an operator: while active, post-shuffle partitions merge by
ADVISORY SIZE (scale-adaptive — a 100 TB run still gets full-width
reduces, a 3k-row label table gets 1), and the prior session values are
restored on exit so surrounding queries keep the caller's configuration.
Results are unaffected by partition counts everywhere this is used (the
iterative operators are integer/order-free by design — the engine's exact
-oracle contract depends on that already).
"""

from __future__ import annotations

from contextlib import contextmanager

_COALESCE_KEYS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # never below the defaults AQE would pick on a real cluster; on
    # local[N] this lets a tiny reduce collapse to one task
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1m",
    # the r6 one-job loops materialize through a persist(): without this,
    # cached plans are compiled WITHOUT AQE partition coalescing (Spark
    # keeps a cached plan's output partitioning stable by default) and
    # every round's exchange runs at full configured width (measured on
    # one iterative registry query: 24 -> 5903 tasks). All frames cached
    # under this scope are partition-invariant integer results by the
    # engine's oracle contract, so the partitioning freedom is safe.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
}


@contextmanager
def coalesced_small_shuffles(spark):
    """Enable AQE partition coalescing for the duration of an operator's
    eager iteration rounds; restore the caller's settings on exit."""
    conf = spark.conf
    old: dict[str, str | None] = {}
    for k, v in _COALESCE_KEYS.items():
        try:
            old[k] = conf.get(k)
        except Exception:
            old[k] = None
        conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            try:
                if v is None:
                    conf.unset(k)
                else:
                    conf.set(k, v)
            except Exception:
                pass

"""Explicit skew handling for keyed aggregates and per-key top-k.

The workload is skewed by construction: most documents land in a handful of
cells around one field and the rest scatter worldwide, and one domain can
own most of a crawl shard. So the mitigation is explicit (AQE skew-join
stays on as the backstop):

- ``salted_distinct_count``: exact distinct count per key, salted by the
  value hash so one hot key's distinct set spreads over n reducers;
- ``top_k_per_key``: exact top-k rows per key by a two-phase salted
  re-rank, so a hot key's sort spreads over n reducers;
- ``domain_cap``: the per-domain document quota on ``top_k_per_key``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def salted_distinct_count(
    df: DataFrame,
    key_cols: list[str],
    val_col: str,
    n_salts: int = 16,
    out_col: str = "n_distinct",
) -> DataFrame:
    """Exact distinct count per key, skew-safe: salt by hash(value) so one hot
    key's distinct set splits across n_salts reducers, then sum the partial
    distinct counts (each value lands in exactly one salt -> partials add up
    exactly). This is the pattern for aggs that partial aggregation cannot
    collapse (plain count() needs no salting — map-side combine already wins).
    """
    salted = df.withColumn(
        "_vsalt", F.pmod(F.xxhash64(F.col(val_col)), F.lit(n_salts)).cast("int")
    )
    partial = salted.groupBy(*key_cols, "_vsalt").agg(
        F.countDistinct(val_col).alias("_part")
    )
    return partial.groupBy(*key_cols).agg(F.sum("_part").alias(out_col))


def top_k_per_key(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    tie_col: str,
    k: int,
    ascending: bool = True,
    n_salts: int = 16,
    rank_col: str = "rank",
) -> DataFrame:
    """EXACT top-k rows per key, skew-safe (two-phase salted re-rank).

    A plain ``row_number`` window sorts each key inside ONE reducer — a hot
    key with 10^9 rows (one domain owning a crawl shard) serializes and
    spills there. Phase 1 ranks within ``(key, hash(tie) % n_salts)`` groups
    and keeps each group's local top-k, so the hot key's sort spreads over
    ``n_salts`` reducers; phase 2 re-ranks the <= k*n_salts survivors per key
    — a bounded partition regardless of input skew. Exactness: every global
    top-k row is its salt-group's local top-k (the global order restricted to
    a subset preserves rank bounds), so phase 1 never drops a winner.

    Determinism contract (driver oracle): total order is
    ``(order_col asc|desc, tie_col asc)`` with ``tie_col`` unique per key;
    the result equals the single-window ranking exactly (pinned in tests).
    """
    oc = F.col(order_col) if ascending else F.col(order_col).desc()
    order = [oc, F.col(tie_col)]
    local = Window.partitionBy(*key_cols, "_tksalt").orderBy(*order)
    final = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn(
            "_tksalt", F.pmod(F.xxhash64(F.col(tie_col)), F.lit(n_salts)).cast("int")
        )
        .withColumn("_lrank", F.row_number().over(local))
        .filter(F.col("_lrank") <= k)
        .withColumn(rank_col, F.row_number().over(final))
        .filter(F.col(rank_col) <= k)
        .drop("_tksalt", "_lrank")
    )


def domain_cap(
    df: DataFrame,
    key_col: str = "domain",
    id_col: str = "doc_id",
    k: int = 5,
    n_salts: int = 16,
) -> DataFrame:
    """Per-domain document quota — the standard crawl-curation cap (no single
    domain may dominate the corpus). Keeps the k rows per domain with the
    SMALLEST verifiable-hash priority (``functions/vhash`` poly family — a
    deterministic uniform shuffle both engines replay exactly), via the
    skew-safe ``top_k_per_key``. Adds ``priority`` and ``rank``.
    """
    from ..functions.vhash import poly_hash

    prioritized = df.withColumn("priority", poly_hash(F.col(id_col).cast("string")))
    return top_k_per_key(
        prioritized, [key_col], "priority", id_col, k, n_salts=n_salts
    )

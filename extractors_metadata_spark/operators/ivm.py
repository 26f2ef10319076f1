"""Incremental view maintenance: apply CDC change rows to a rollup.

The consumer side of ``sources/snapshot.table_changes``: a downstream
(group -> count, sum) materialized view updates from the O(changed-rows)
change feed instead of re-aggregating the table — the classic IVM
identity ``agg(state_to) == apply(agg(state_from), changes)``, which the
``ivm_counts`` driver query checks as a FULL oracle (the maintained
frame must hash-equal the closed-form aggregate of the after-state).

Signs: insert/update_post add, delete/update_pre subtract — an update
contributes net zero to the count and exactly (post - pre) to the sum.
Sums are the engine's float-determinism shape: per-row HALF-EVEN integer
micro-units (F.bround == round_even), so maintenance is exact int64
arithmetic and the view is bit-identical to a fresh aggregate under any
partitioning or batch split.  Groups whose count and sum both reach zero
leave the view (a group the changes emptied does not linger as a
zero row).

Scale: one group-keyed aggregate over the CHANGES (map-side combinable)
plus a state-table-sized union + re-sum — never a scan of the base
table.  At 100 TB with hourly CDC windows, the view costs the hour's
delta, not the table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_ADD = ("insert", "update_post")


def micro_units(value: Column) -> Column:
    """Half-even integer micro-units — the exact-sum currency shared with
    zonal_stats (and its oracle's round_even)."""
    return F.bround(value.cast("double") * 1000000.0, 0).cast("long")


def counts_of(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """The view definition: (group, n, sum_u) — used both to initialize
    state and (by the oracle) to define ground truth."""
    return df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(micro_units(F.col(value_col))).alias("sum_u"),
    )


def maintain_counts(
    state: DataFrame | None,
    changes: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Apply (table columns + _change) rows to the (group, n, sum_u) view."""
    sign = F.when(F.col("_change").isin(*_ADD), F.lit(1)).otherwise(F.lit(-1))
    delta = changes.groupBy(group_col).agg(
        F.sum(sign.cast("long")).alias("n"),
        F.sum(sign.cast("long") * micro_units(F.col(value_col))).alias(
            "sum_u"
        ),
    )
    merged = delta if state is None else state.unionByName(delta)
    return (
        merged.groupBy(group_col)
        .agg(F.sum("n").alias("n"), F.sum("sum_u").alias("sum_u"))
        .filter((F.col("n") != 0) | (F.col("sum_u") != 0))
    )

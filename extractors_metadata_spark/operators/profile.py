"""Table/column statistics profiling (the engine's ANALYZE TABLE).

Engine-added capability: at 10^12 rows nobody eyeballs a table — ingest
gates, join planning, and drift monitoring all run off per-column statistics
(row/null/distinct counts, min/max). This operator computes them in a
bounded number of passes and emits them as DATA (one row per column), so
they can be snapshotted next to the table (``sources/snapshot.write_snapshot
(metrics=...)``) and diffed across snapshots for drift.

Scale design (100 TB):
- One job: all columns' count/null/min/max aggregates ride a single
  all-column scan (one partial+final aggregate, no shuffle of data rows —
  only the 1-row partials). Exact ``count_distinct`` per column adds the
  standard expand + two-phase distinct aggregation; for 10^12-row tables
  switch ``exact_distinct=False`` to ``approx_count_distinct`` (HLL++, same
  single-pass shape, bounded memory).
- min/max are computed TYPED, then cast to string for the uniform output
  schema (casting before aggregation would order numerics lexically).

Determinism contract (driver oracle): counts are exact integers; min/max
strings of int/string columns cast identically in both engines (the driver
query profiles only int/string columns — float shortest-repr formatting is
the one cross-engine string surface this avoids; multi_render_verify covers
double rendering separately).

Reference analog: none — the reference trusts its per-message metadata
blindly; corpus-scale ingest cannot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_table(
    df: DataFrame,
    cols: tuple[str, ...] | None = None,
    exact_distinct: bool = True,
) -> DataFrame:
    """Per-column stats: (column, n_rows, n_null, n_distinct, min_s, max_s).

    ``n_distinct`` excludes nulls (SQL COUNT(DISTINCT col) semantics).
    ``exact_distinct=False`` swaps in ``approx_count_distinct`` for the
    10^12-row path (document the estimate when persisting)."""
    cols = tuple(cols) if cols is not None else tuple(df.columns)
    nd = F.count_distinct if exact_distinct else F.approx_count_distinct
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.extend(
            [
                F.count(F.col(c)).alias(f"_nn_{c}"),
                nd(F.col(c)).alias(f"_nd_{c}"),
                F.min(F.col(c)).cast("string").alias(f"_mn_{c}"),
                F.max(F.col(c)).cast("string").alias(f"_mx_{c}"),
            ]
        )
    one = df.agg(*aggs)
    # melt the 1-row aggregate via explode-of-structs: ONE scan feeds every
    # column's row (a unionByName of per-column selects would replan the
    # full-table aggregate once per column)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("n_rows").alias("n_rows"),
                (F.col("n_rows") - F.col(f"_nn_{c}")).alias("n_null"),
                F.col(f"_nd_{c}").alias("n_distinct"),
                F.col(f"_mn_{c}").alias("min_s"),
                F.col(f"_mx_{c}").alias("max_s"),
            )
            for c in cols
        ]
    )
    return one.select(F.explode(entries).alias("e")).select("e.*")

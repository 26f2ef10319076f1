"""Exact 0/1 knapsack document selection under a token budget.

Engine-added LLM-data capability: data selection under a budget —
sampling picks by importance, quality screens by thresholds; this is
the EXACT-OPTIMAL member on a bounded per-group
problem: per source, choose documents maximizing total value subject to
a token-cost capacity (the "which docs fill this source's quota best"
question answered optimally, not greedily).

Boundedness contract (what makes the oracle an unrolled replay AND the
operator scale-safe): per group only the TOP-``n_items`` docs by the
frozen (value DESC, doc_id ASC) order enter the knapsack — a window
pre-selection; the DP then runs over a FIXED n_items x (capacity+1)
lattice.  The heavy part (scoring every doc) is one codegen scan; the
DP is one Arrow pass per group on the bounded item set.  Value and
weight are exact ints; dp[c] is an int; GREATEST/max fold order is
irrelevant (max is commutative) — bit-deterministic.

Emits per group: (source, best_v, c_min) — the optimal value and the
MINIMUM capacity achieving it (dp[c] is nondecreasing in c, so best_v
= dp[capacity]; c_min is the canonical tie-free summary of the chosen
set without backtracking stages).

Oracle twin: the DP recurrence dp_i[c] = max(dp_{i-1}[c], v_i +
dp_{i-1}[c - w_i]) unrolls as n_items CTE stages over the (source, c)
frame (see oracles._knapsack_sql).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def knapsack_select(
    items: DataFrame,
    capacity: int = 64,
    n_items: int = 16,
) -> DataFrame:
    """items: (source, doc_id, v, w) with v, w exact positive ints.
    Returns (source, best_v, c_min)."""
    wnd = Window.partitionBy("source").orderBy(
        F.col("v").desc(), F.col("doc_id")
    )
    top = (
        items.withColumn("rk", F.row_number().over(wnd))
        .filter(F.col("rk") <= n_items)
        .select("source", "rk", "v", "w")
    )
    cap = int(capacity)

    def f(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rk")
        dp = np.zeros(cap + 1, dtype=np.int64)
        for r in pdf.itertuples(index=False):
            w, v = int(r.w), int(r.v)
            if w <= cap:
                cand = dp[: cap + 1 - w] + v
                upd = dp[w:].copy()
                np.maximum(upd, cand, out=upd)
                dp[w:] = upd
        best = int(dp[cap])
        c_min = int(np.flatnonzero(dp == best)[0])
        return pd.DataFrame(
            {
                "source": [pdf["source"].iloc[0]],
                "best_v": [best],
                "c_min": [c_min],
            }
        ).astype({"best_v": "int64", "c_min": "int64"})

    return top.groupBy("source").applyInPandas(
        f, "source string, best_v long, c_min long"
    )

"""Kleinberg burst detection over per-key daily event counts.

Engine-added capability: BURST STRUCTURE (Kleinberg, KDD 2002 — "Bursty and
Hierarchical Structure in Streams") — the principled answer to "when was
this user/host/topic in a burst?", used for trending-topic extraction, crawl
anomaly triage and bot-cadence analysis. A 2-state automaton (baseline rate
lam0 = n/T, burst rate lam1 = 2*lam0) emits each bin's count at Poisson
cost; entering the burst state pays gamma*ln(T); the minimum-cost state
path labels every bin 0/1.

Exactness contract (the kaplan_meier / mutual_info ln discipline): the only
transcendentals are THREE per-key scalars — rint(lam0*1e9),
rint(ln(lam0)*1e9), rint(ln(2*lam0)*1e9) — plus the global
rint(ln(T)*1e9) transition cost; every bin cost is then the EXACT integer
A_s - n_t * B_s (the n_t! term is state-independent and cancels), and the
DP, tie-breaks and backtrack run in pure int64 (ulp drift on the ln values
is absorbed by the 1e9 half-even margin before any comparison). Tie-breaks
are FROZEN: state 0 wins every min tie (forward and backtrack) — replayed
verbatim by the oracle's <= comparisons.

Bin-domain contract: t = day - min(day), 0 <= t < T with T = 32 a literal
(bins past the span stay zero; a span wider than T raises). This is what
lets the oracle unroll the chain DP as T MATERIALIZED stages (the
viterbi_match shape) with a compile-time stage count.

Scale shape: the zero-fill grid + per-key array assembly (one Exchange, T
bounded), then the whole forward-DP + backtrack runs VECTORIZED ACROSS KEYS
in one Arrow pass (a T-step NumPy loop over 2-state columns, never a
per-key Python call). Output (key..., t, state, total_cost_fp).

int64 envelope: T * (A + max_n * B) — counts would need ~1e5 events/bin
before ~1e18; documented.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

T_BINS = 32


def burst_detect(
    counts: DataFrame,
    key_cols,
    bin_col: str = "t",
    n_col: str = "n",
    t_bins: int = T_BINS,
    rate_mult: int = 2,
) -> DataFrame:
    """Per-key minimum-cost 2-state burst labeling (module docstring).
    ``bin_col`` must already be 0-based; bins >= t_bins raise. Returns
    (key..., t, n, state, total_cost_fp)."""
    keys = list(key_cols)
    spark = counts.sparkSession
    kdim = counts.select(*keys).distinct()
    bins = spark.range(0, t_bins).select(F.col("id").cast("long").alias(bin_col))
    filled = (
        kdim.crossJoin(F.broadcast(bins))
        .join(counts, keys + [bin_col], "left")
        .select(
            *keys,
            F.col(bin_col).cast("long").alias("_b"),
            F.coalesce(F.col(n_col), F.lit(0)).cast("long").alias("_c"),
        )
    )
    series = filled.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_b", "_c"))),
            lambda s: s["_c"],
        ).alias("_xs")
    )

    tb, rm = int(t_bins), int(rate_mult)
    # G as a Python-side literal (math.log = serial libm) — the oracle
    # generator embeds the SAME literal, so no cross-engine scalar ln risk
    g_fp = int(np.rint(math.log(float(tb)) * 1e9))

    def _libm_log(v: np.ndarray) -> np.ndarray:
        # scalar libm log per UNIQUE value — DuckDB ln is serial libm,
        # NumPy's SIMD np.log drifts ~1 ulp on ~15% of inputs (CLAUDE.md);
        # uniques are few (lam is determined by the per-key event count)
        uq, inv = np.unique(v, return_inverse=True)
        return np.array([math.log(u) for u in uq], dtype=np.float64)[inv]

    @F.pandas_udf("array<struct<state: long, total_cost_fp: long>>")
    def _burst(xs: pd.Series) -> pd.Series:
        x = np.stack([np.asarray(v, dtype=np.int64) for v in xs])
        n = x.sum(axis=1).astype(np.float64)
        lam0 = n / tb
        a0 = np.rint(lam0 * 1e9).astype(np.int64)
        b0 = np.rint(_libm_log(lam0) * 1e9).astype(np.int64)
        a1 = np.rint((rm * lam0) * 1e9).astype(np.int64)
        b1 = np.rint(_libm_log(rm * lam0) * 1e9).astype(np.int64)
        k = x.shape[0]
        # forward DP with explicit backtrack pointers; state 0 wins ties
        v0 = a0 - x[:, 0] * b0
        v1 = g_fp + (a1 - x[:, 0] * b1)
        ptr0 = np.zeros((k, tb), dtype=np.int64)
        ptr1 = np.zeros((k, tb), dtype=np.int64)
        for t in range(1, tb):
            c0 = a0 - x[:, t] * b0
            c1 = a1 - x[:, t] * b1
            take0_for0 = v0 <= v1          # prev for state 0
            take0_for1 = (v0 + g_fp) <= v1  # prev for state 1
            nv0 = c0 + np.where(take0_for0, v0, v1)
            nv1 = c1 + np.where(take0_for1, v0 + g_fp, v1)
            ptr0[:, t] = np.where(take0_for0, 0, 1)
            ptr1[:, t] = np.where(take0_for1, 0, 1)
            v0, v1 = nv0, nv1
        states = np.zeros((k, tb), dtype=np.int64)
        cur = np.where(v0 <= v1, 0, 1)
        total = np.where(v0 <= v1, v0, v1)
        states[:, tb - 1] = cur
        for t in range(tb - 1, 0, -1):
            cur = np.where(
                cur == 0,
                ptr0[np.arange(k), t],
                ptr1[np.arange(k), t],
            )
            states[:, t - 1] = cur
        return pd.Series(
            [
                [
                    {"state": int(s), "total_cost_fp": int(tc)}
                    for s in row
                ]
                for row, tc in zip(states, total)
            ]
        )

    out = series.select(
        *keys, "_xs", F.posexplode(_burst("_xs")).alias("t", "_r")
    )
    return out.select(
        *keys,
        F.col("t").cast("long"),
        F.element_at("_xs", F.col("t") + 1).alias("n"),
        F.col("_r.state").alias("state"),
        F.col("_r.total_cost_fp").alias("total_cost_fp"),
    )

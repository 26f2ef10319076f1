"""Largest-Triangle-Three-Buckets downsampling, exact integers.

Engine-added capability: LTTB (Steinarsson 2013) is the standard
shape-preserving time-series downsampler — the points a dashboard keeps when
it cannot plot a billion samples. Running it IN the engine turns "ship the
whole series" into "ship n_out points per key", the visualization-export
step of a telemetry pipeline.

Exactness contract: the classical algorithm compares float triangle areas;
here every comparison is the exact integer |cross| MULTIPLIED THROUGH by the
next-bucket count c (the colocation_pi rational cross-multiplication rule):
with previous selected (tp, vp), candidate (ti, vi) and next-bucket SUM
anchor (sx, sy, c),

    score = | (tp*c - sx) * (vi - vp) - (tp - ti) * (sy - c*vp) |

equals 2c * triangle-area — same argmax, no division, no float. Ties freeze
to the smallest t (np.argmax first-wins == SQL row_number (score DESC, t)).
Bucket k (of the n_out-2 middle buckets over t in [1, T-2]) is the integer
formula (t-1)*(n_out-2) div (T-2) — replayed verbatim.

Selection is sequential in the BUCKET axis only (n_out bounded literal);
the recurrence runs VECTORIZED ACROSS KEYS in one Arrow pass, never a
per-key Python call. The oracle unrolls the n_out-2 selection stages
as MATERIALIZED CTEs with composite row_number argmax.

int64 envelope: |t| <= T, |v| <= V, c <= T => score <= ~4*T^2*V*c — counts
would need V ~ 4e14 at T=32 to overflow (documented).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F


def lttb_select(
    counts: DataFrame,
    key_cols,
    bin_col: str = "t",
    n_col: str = "n",
    t_bins: int = 32,
    n_out: int = 10,
) -> DataFrame:
    """Per-key LTTB selection of ``n_out`` points from the zero-filled
    ``t_bins``-bin series (bin_col 0-based). Returns
    (key..., rank, t, v) with rank 0..n_out-1."""
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

    T, NO = int(t_bins), int(n_out)
    nb = NO - 2

    @F.pandas_udf("array<struct<t: long, v: long>>")
    def _lttb(xs: pd.Series) -> pd.Series:
        x = np.stack([np.asarray(v, dtype=np.int64) for v in xs])
        k = x.shape[0]
        t_all = np.arange(T, dtype=np.int64)
        bucket = (t_all[1 : T - 1] - 1) * nb // (T - 2)  # middle bins only
        sel_t = np.zeros((k, NO), dtype=np.int64)
        sel_v = np.zeros((k, NO), dtype=np.int64)
        sel_v[:, 0] = x[:, 0]
        tp = np.zeros(k, dtype=np.int64)
        vp = x[:, 0].copy()
        for b in range(nb):
            cand = np.where(bucket == b)[0] + 1  # actual t indices
            if b < nb - 1:
                nxt = np.where(bucket == b + 1)[0] + 1
                sx = np.full(k, nxt.sum(), dtype=np.int64)
                sy = x[:, nxt].sum(axis=1)
                c = np.int64(len(nxt))
            else:
                sx = np.full(k, T - 1, dtype=np.int64)
                sy = x[:, T - 1].copy()
                c = np.int64(1)
            best_s = np.full(k, -1, dtype=np.int64)
            best_t = np.zeros(k, dtype=np.int64)
            for ti in cand:  # bounded (<= ceil((T-2)/nb)+1 candidates)
                vi = x[:, ti]
                score = np.abs(
                    (tp * c - sx) * (vi - vp) - (tp - ti) * (sy - c * vp)
                )
                win = score > best_s  # strict: first (smallest t) wins ties
                best_s = np.where(win, score, best_s)
                best_t = np.where(win, ti, best_t)
            sel_t[:, b + 1] = best_t
            sel_v[:, b + 1] = x[np.arange(k), best_t]
            tp, vp = best_t, x[np.arange(k), best_t]
        sel_t[:, NO - 1] = T - 1
        sel_v[:, NO - 1] = x[:, T - 1]
        return pd.Series(
            [
                [{"t": int(a), "v": int(b)} for a, b in zip(trow, vrow)]
                for trow, vrow in zip(sel_t, sel_v)
            ]
        )

    out = series.select(*keys, F.posexplode(_lttb("_xs")).alias("rank", "_r"))
    return out.select(
        *keys,
        F.col("rank").cast("long"),
        F.col("_r.t").alias("t"),
        F.col("_r.v").alias("v"),
    )

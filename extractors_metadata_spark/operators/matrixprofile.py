"""Matrix profile over per-key integer series — exact, bounded, Arrow-batched.

Engine-added capability: the MATRIX PROFILE (Yeh/Keogh et al., ICDM 2016) is
the modern all-purpose time-series primitive — for every length-m window of a
series, the distance to its nearest non-trivial neighbor window. Low profile
values = repeated behavior (motifs: a bot on a timer, a weekly habit); high
values = unique behavior (discords: anomalies, incident days). One operator
yields motif discovery, discord detection and regime-change hints for every
key in a corpus of billions of event streams.

Exactness contract: the literature z-normalizes windows and reports float
Euclidean distances; this engine computes the UN-normalized SQUARED distance
on the integer zero-filled series (dist2 = sum (x_a - x_b)^2 — exact int64,
the kendall sign-budget discipline), with the standard exclusion zone
|i - j| >= excl suppressing trivial self-matches. Ties freeze to the
smallest neighbor index (NumPy argmin == SQL row_number ORDER BY d2, j).

int64 envelope: m * max|x|^2 < 2^63 — per-day counts would need to exceed
~3.6e8 at m=7 to overflow (documented).

Scale shape: the zero-fill grid + per-key array assembly (ONE key
Exchange, T a bounded literal), then all window pairs
compute VECTORIZED ACROSS KEYS in one Arrow pass: a (keys, nw, nw, m)
broadcasted subtraction with nw = T-m+1 bounded (T=30, m=7 -> 24x24 pairs
per key). Per-key work is O(nw^2 m) on a bounded grid — never key x key.

FULL oracle: verbatim window/pair replay in SQL (window rows via a range
join on the zero-filled grid, pair distances via a position-aligned
equi-join, argmin via the composite row_number — the DuckDB min_by
struct limitation workaround).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

_SENTINEL = np.int64(2**62)


def matrix_profile(
    counts: DataFrame,
    key_cols,
    bin_col: str = "bin",
    n_col: str = "n",
    m: int = 7,
    excl: int = 4,
    bin_lo: int | None = None,
    bin_hi: int | None = None,
) -> DataFrame:
    """Per-key matrix profile of the zero-filled integer series.

    Returns (key..., wi, mp_dist2, mp_idx): for each window start wi in
    [0, T-m], the exact squared distance to and index of its nearest
    admissible neighbor window (|wi - j| >= excl, ties -> smallest j).
    """
    keys = list(key_cols)
    spark = counts.sparkSession
    if bin_lo is None or bin_hi is None:
        row = counts.agg(
            F.min(bin_col).alias("lo"), F.max(bin_col).alias("hi")
        ).first()
        bin_lo = int(row["lo"]) if bin_lo is None else bin_lo
        bin_hi = int(row["hi"]) if bin_hi is None else bin_hi
    t_len = bin_hi - bin_lo + 1
    nw = t_len - int(m) + 1
    if nw < int(excl) + 1:
        raise ValueError("series too short for the exclusion zone")

    kdim = counts.select(*keys).distinct()
    bins = spark.range(bin_lo, bin_hi + 1).select(
        F.col("id").cast("long").alias(bin_col)
    )
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

    mm, ez = int(m), int(excl)

    @F.pandas_udf("array<struct<mp_dist2: long, mp_idx: long>>")
    def _mp(xs: pd.Series) -> pd.Series:
        x = np.stack([np.asarray(v, dtype=np.int64) for v in xs])
        w = np.lib.stride_tricks.sliding_window_view(x, mm, axis=1)
        # (K, nw, nw, m) broadcasted pair differences — nw bounded
        d = w[:, :, None, :] - w[:, None, :, :]
        d2 = (d * d).sum(axis=3)
        i_idx = np.arange(d2.shape[1])
        mask = np.abs(i_idx[:, None] - i_idx[None, :]) < ez
        d2[:, mask] = _SENTINEL
        mp = d2.min(axis=2)
        idx = d2.argmin(axis=2)  # first index on ties = smallest j
        return pd.Series(
            [
                [
                    {"mp_dist2": int(a), "mp_idx": int(b)}
                    for a, b in zip(mrow, irow)
                ]
                for mrow, irow in zip(mp, idx)
            ]
        )

    out = series.select(*keys, F.posexplode(_mp("_xs")).alias("wi", "_r"))
    return out.select(
        *keys,
        F.col("wi").cast("long"),
        F.col("_r.mp_dist2").alias("mp_dist2"),
        F.col("_r.mp_idx").alias("mp_idx"),
    )

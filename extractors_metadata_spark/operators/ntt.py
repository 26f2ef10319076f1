"""Exact circular autocorrelation via a Number-Theoretic Transform.

Engine-added capability: periodicity profiling of per-key activity series —
the signal-processing question ("does this user/host pulse on a weekly
cycle? is this crawler on a timer?") a web-scale events pipeline asks of
billions of keys. The classical tool is the FFT-based autocorrelation; a
float FFT is unusable under this engine's exactness contract (transcendental
twiddles — the CLAUDE.md ulp rules), so this operator runs the transform in
EXACT MODULAR ARITHMETIC: a radix-2 NTT over Z_p with p = 998244353
(119*2^23 + 1, primitive root 3 — the standard NTT prime), where the
convolution theorem holds exactly and, because inputs are capped so the true
correlation stays below p, the mod-p result IS the integer result.

    r[k] = sum_i x[i] * x[(i+k) mod n]   (circular autocorrelation, n = 32)

computed as INTT(NTT(x) . NTT(x~)) with x~[i] = x[(n-i) mod n]; circular
autocorrelation is symmetric (r[k] = r[n-k]), which makes the correlation-
via-convolution index algebra come out without any shift.

THE ORACLE IS NOT A REPLAY: DuckDB computes r[k] from the O(n^2) DEFINITION
(a bin self-join), so the butterfly pipeline is genuinely cross-checked
against the mathematics, not against itself.

Exactness envelope: inputs are clamped to ``cap`` (default 1000), so
r[k] <= n * cap^2 = 3.2e7 < p — documented, and the clamp is part of the
operator contract (both engines apply least()). All butterfly products are
< p^2 < 2^60: int64-safe in NumPy.

Scale shape: the zero-fill grid + per-key array assembly (one Exchange,
T=32 a bounded literal), then the NTT runs VECTORIZED
ACROSS KEYS in one Arrow pass (5 butterfly rounds of whole-matrix NumPy ops;
sequential only in the bounded log2(n) axis). Output explodes to
(key..., lag, autocorr) — n rows per key.

Reference analog: none — part of the engine's temporal/signal widening
(acf holds the statistical lag-k view; this is the full exact spectrum-free
profile with an O(n log n) per-key transform).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

NTT_P = 998244353  # 119 * 2^23 + 1
NTT_G = 3          # primitive root mod p


def _bitrev_perm(n: int) -> np.ndarray:
    bits = n.bit_length() - 1
    return np.array(
        [int(format(i, f"0{bits}b")[::-1], 2) for i in range(n)], dtype=np.int64
    )


def _ntt_matrix(a: np.ndarray, root: int, p: int = NTT_P) -> np.ndarray:
    """Iterative radix-2 NTT along axis 1, vectorized across rows.
    ``root`` is a primitive n-th root of unity mod p (pass the inverse
    root for the inverse transform; caller scales by n^-1)."""
    n = a.shape[1]
    a = a[:, _bitrev_perm(n)] % p
    ln = 2
    while ln <= n:
        wlen = pow(int(root), n // ln, p)
        half = ln // 2
        # twiddle vector for one block, then tile across blocks
        w = np.empty(half, dtype=np.int64)
        w[0] = 1
        for j in range(1, half):
            w[j] = w[j - 1] * wlen % p
        for i in range(0, n, ln):
            u = a[:, i : i + half].copy()  # copy: the next line clobbers it
            v = a[:, i + half : i + ln] * w % p
            a[:, i : i + half] = (u + v) % p
            a[:, i + half : i + ln] = (u - v) % p
        ln *= 2
    return a


def ntt_autocorr(
    counts: DataFrame,
    key_cols,
    bin_col: str = "bin",
    n_col: str = "n",
    n: int = 32,
    cap: int = 1000,
) -> DataFrame:
    """Per-key exact circular autocorrelation of the ``cap``-clamped,
    zero-filled n-bin series (see module docstring). Returns
    (key..., lag, autocorr) with lag in [0, n-1], all int64."""
    assert n & (n - 1) == 0, "n must be a power of two"
    keys = list(key_cols)
    spark = counts.sparkSession
    kdim = counts.select(*keys).distinct()
    bins = spark.range(0, n).select(F.col("id").cast("long").alias(bin_col))
    filled = (
        kdim.crossJoin(F.broadcast(bins))
        .join(counts, keys + [bin_col], "left")
        .select(
            *keys,
            F.col(bin_col).cast("long").alias("_b"),
            F.least(
                F.coalesce(F.col(n_col), F.lit(0)).cast("long"),
                F.lit(int(cap)).cast("long"),
            ).alias("_c"),
        )
    )
    series = filled.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_b", "_c"))),
            lambda s: s["_c"],
        ).alias("_xs")
    )

    p = NTT_P
    root = pow(NTT_G, (p - 1) // n, p)
    iroot = pow(root, p - 2, p)
    ninv = pow(n, p - 2, p)

    @F.pandas_udf("array<long>")
    def _acorr(xs: pd.Series) -> pd.Series:
        x = np.stack([np.asarray(v, dtype=np.int64) for v in xs])
        xr = np.concatenate([x[:, :1], x[:, :0:-1]], axis=1)  # x[(n-i) % n]
        fx = _ntt_matrix(x, root, p)
        fy = _ntt_matrix(xr, root, p)
        r = _ntt_matrix(fx * fy % p, iroot, p) * ninv % p
        return pd.Series(r.tolist())

    out = series.select(*keys, _acorr("_xs").alias("_r"))
    return out.select(
        *keys, F.posexplode("_r").alias("lag", "autocorr")
    ).select(*keys, F.col("lag").cast("long"), F.col("autocorr").cast("long"))

"""Per-document suffix array + longest repeated substring (LRS).

Engine-added webtext capability: the LRS is the sharpest intra-document
repetition signal — boilerplate loops, template echo, copy-paste spans —
the character-level complement of n-gram repetition ratios. Gopher's
repetition rules threshold on exactly this family.

Kernel: the classic prefix-doubling suffix array (Manber-Myers 1990) —
rank by first 2^k chars, extend with the rank at offset 2^k, re-rank;
after ceil(log2(L)) stages the ranks are the full suffix order (all
suffixes distinct — different lengths — so the order is unique and no
tie-break policy exists to drift).  LCPs of ADJACENT suffixes via Kasai
et al. 2001's O(n) walk; LRS = max adjacent LCP (a classical identity:
any repeated substring is a common prefix of two suffixes, and the max
over all pairs is attained by suffix-order neighbors).  Texts truncate
to ``max_len`` BYTES (ASCII corpus; keeps the oracle's unrolled stage
count a literal) — truncation is part of the operator contract, stated
in the output's n_used.

One Arrow pass, zero shuffle: per-doc NumPy doubling (argsort/lexsort are
vectorized; the only python-level loop is over docs and Kasai's O(n)
walk).  Embarrassingly parallel over documents — the 100 TB shape.

Oracle twin: the SAME doubling recurrence unrolls as 8 generated CTE
stages (dense_rank per stage — the anti-diagonal/DTW discipline applied
to string indexing), then adjacent-pair LCP via sequential
binary-lifting CTE stages (max_pow=256).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def _suffix_array(s: np.ndarray) -> np.ndarray:
    """Suffix order of the uint8 array s via prefix doubling; returns
    rank[i] in 0..n-1 (unique)."""
    n = len(s)
    if n <= 1:
        return np.zeros(n, dtype=np.int64)
    rank = s.astype(np.int64)
    k = 1
    while k < n:
        r2 = np.full(n, -1, dtype=np.int64)
        r2[: n - k] = rank[k:]
        order = np.lexsort((r2, rank))
        key_r = rank[order]
        key_2 = r2[order]
        new = np.zeros(n, dtype=np.int64)
        bump = np.ones(n, dtype=np.int64)
        bump[0] = 0
        if n > 1:
            same = (key_r[1:] == key_r[:-1]) & (key_2[1:] == key_2[:-1])
            bump[1:] = (~same).astype(np.int64)
        dense = np.cumsum(bump)
        new[order] = dense
        rank = new
        k *= 2
    return rank


def _lrs_of(rank: np.ndarray, s: np.ndarray) -> int:
    """Max adjacent-suffix LCP (Kasai's walk)."""
    n = len(s)
    if n < 2:
        return 0
    sa = np.zeros(n, dtype=np.int64)
    sa[rank] = np.arange(n)
    best = 0
    h = 0
    for i in range(n):
        r = rank[i]
        if r > 0:
            j = int(sa[r - 1])
            while i + h < n and j + h < n and s[i + h] == s[j + h]:
                h += 1
            if h > best:
                best = h
            if h > 0:
                h -= 1
        else:
            h = 0
    return best


def suffix_lrs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_len: int = 256,
) -> DataFrame:
    """Per document: (id, n_used, lrs_len) — n_used = truncated length,
    lrs_len = longest repeated substring length within the truncated
    prefix. Null/empty-safe."""

    @pandas_udf("struct<n_used: long, lrs_len: long>")
    def _f(texts: pd.Series) -> pd.DataFrame:
        n_out = np.zeros(len(texts), dtype=np.int64)
        l_out = np.zeros(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            if t is None or not isinstance(t, str) or not t:
                continue
            tt = t[: int(max_len)]
            if not tt.isascii():
                # ADVICE r5: the oracles truncate CHARACTERS and rank
                # ascii() codepoints — byte-truncating non-ASCII text
                # would silently diverge (different n_used + order).
                # Enforce the documented ASCII contract loudly instead.
                raise ValueError(
                    "suffix kernels require ASCII text (oracle parity)"
                )
            s = np.frombuffer(tt.encode("ascii"), dtype=np.uint8)
            n_out[i] = len(s)
            if len(s) >= 2:
                l_out[i] = _lrs_of(_suffix_array(s), s)
        return pd.DataFrame({"n_used": n_out, "lrs_len": l_out})

    res = df.select(F.col(id_col), _f(F.col(text_col)).alias("_r"))
    return res.select(
        id_col,
        F.col("_r.n_used").alias("n_used"),
        F.col("_r.lrs_len").alias("lrs_len"),
    )


def _border_len(s: np.ndarray) -> int:
    """KMP failure value of the last position = longest proper border."""
    n = len(s)
    if n == 0:
        return 0
    fail = np.zeros(n, dtype=np.int64)
    k = 0
    for i in range(1, n):
        while k and s[i] != s[k]:
            k = int(fail[k - 1])
        if s[i] == s[k]:
            k += 1
        fail[i] = k
    return int(fail[n - 1])


def string_period(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_len: int = 256,
) -> DataFrame:
    """Per document: (id, n_used, border_len, period) on the truncated
    prefix — border = longest proper prefix==suffix (KMP failure),
    period = n - border (the minimal period; Fine & Wilf's normal
    form).  The template-detection primitive: a small period over a
    long prefix IS boilerplate repetition.

    Engine derivation: the KMP failure function (one Arrow pass).
    Oracle derivation is INDEPENDENT — the definitional test
    period = min p with t[0:n-p] == t[p:n] via a bounded shift dim
    (two different algorithms agreeing, the ntt_autocorr discipline).
    """

    @pandas_udf("struct<n_used: long, border_len: long, period: long>")
    def _f(texts: pd.Series) -> pd.DataFrame:
        n_out = np.zeros(len(texts), dtype=np.int64)
        b_out = np.zeros(len(texts), dtype=np.int64)
        p_out = np.zeros(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            if t is None or not isinstance(t, str) or not t:
                continue
            tt = t[: int(max_len)]
            if not tt.isascii():
                # ADVICE r5: the oracles truncate CHARACTERS and rank
                # ascii() codepoints — byte-truncating non-ASCII text
                # would silently diverge (different n_used + order).
                # Enforce the documented ASCII contract loudly instead.
                raise ValueError(
                    "suffix kernels require ASCII text (oracle parity)"
                )
            s = np.frombuffer(tt.encode("ascii"), dtype=np.uint8)
            n_out[i] = len(s)
            b = _border_len(s)
            b_out[i] = b
            p_out[i] = len(s) - b
        return pd.DataFrame(
            {"n_used": n_out, "border_len": b_out, "period": p_out}
        )

    res = df.select(F.col(id_col), _f(F.col(text_col)).alias("_r"))
    return res.select(
        id_col,
        F.col("_r.n_used").alias("n_used"),
        F.col("_r.border_len").alias("border_len"),
        F.col("_r.period").alias("period"),
    )


def bwt_runs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_len: int = 256,
) -> DataFrame:
    """Per document: (id, n_used, runs) — the number of equal-letter
    runs r of the Burrows-Wheeler sequence read off the SUFFIX order
    (bwt[j] = preceding char of the j-th smallest suffix; the suffix
    starting at 0 contributes a virtual sentinel, its own run element —
    a fixed convention both engines share).  r is THE compressed-
    indexing compressibility measure (r-index literature: space is
    O(r)), sharpening suffix_lrs' repetition signal into the actual
    storage cost.  Reuses the prefix-doubling suffix order; one Arrow
    pass.  Oracle twin: the 8 doubling stages + one lag over suffix
    rank."""

    @pandas_udf("struct<n_used: long, runs: long>")
    def _f(texts: pd.Series) -> pd.DataFrame:
        n_out = np.zeros(len(texts), dtype=np.int64)
        r_out = np.zeros(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            if t is None or not isinstance(t, str) or not t:
                continue
            tt = t[: int(max_len)]
            if not tt.isascii():
                # ADVICE r5: the oracles truncate CHARACTERS and rank
                # ascii() codepoints — byte-truncating non-ASCII text
                # would silently diverge (different n_used + order).
                # Enforce the documented ASCII contract loudly instead.
                raise ValueError(
                    "suffix kernels require ASCII text (oracle parity)"
                )
            s = np.frombuffer(tt.encode("ascii"), dtype=np.uint8)
            n = len(s)
            n_out[i] = n
            if n == 0:
                continue
            rank = _suffix_array(s)
            sa = np.zeros(n, dtype=np.int64)
            sa[rank] = np.arange(n)
            # bwt[j] = s[sa[j]-1], sentinel -1 for sa[j] == 0
            bwt = np.where(sa > 0, s[sa - 1].astype(np.int64), -1)
            r_out[i] = 1 + int(np.count_nonzero(bwt[1:] != bwt[:-1]))
        return pd.DataFrame({"n_used": n_out, "runs": r_out})

    res = df.select(F.col(id_col), _f(F.col(text_col)).alias("_r"))
    return res.select(
        id_col,
        F.col("_r.n_used").alias("n_used"),
        F.col("_r.runs").alias("runs"),
    )

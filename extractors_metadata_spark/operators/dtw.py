"""Dynamic-time-warping track-pair distance — exact banded integer DP.

DTW is the classical "same route, different speed" trajectory measure
(the complement of Hausdorff's set distance: DTW respects ORDER, so a
track driven backwards is far even when its point set is identical).
This operator computes, for every candidate user pair, the exact
Sakoe-Chiba-banded DTW cost over integer-quantized tracks:

    C(i, j) = d(i, j) + min(C(i-1, j), C(i, j-1), C(i-1, j-1))
    d = Manhattan distance in quantized units, |i - j| <= BAND

Exactness: coordinates are the registry's micro-degree integers, the
local cost is int64 Manhattan, the lattice is pure min-plus over int64 —
no float exists anywhere, so the DuckDB oracle replays the DP EXACTLY
as generated anti-diagonal CTE stages (diagonal k depends only on
diagonals k-1 and k-2 — the property that makes the recurrence
unrollable without within-stage recursion).

Bounds ARE the semantics (not an approximation of an unbounded op):
tracks are capped at MAX_LEN points (first by (ts, event_id) — the
standard trace-segmentation cap), the band at BAND, and pairs with
length gap > BAND have no in-band path and are excluded by definition.

Scale shape: per-user arrays come from one window + one groupBy; the
pair frame is dimension-sized here (user cap) — at fleet scale the
candidate generator is hausdorff's cell-blocking join, and the DP
stays pair-local: one Arrow batch per pair partition, O(len * band)
integer work per pair, zero shuffle inside the kernel.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

MAX_LEN = 24
BAND = 6
_INF = 1 << 61


def _dp_udf(mode: str):
    """Banded lattice DP kernel: ``minplus`` accumulates (DTW cost),
    ``minimax`` bottlenecks (discrete Frechet — the max link length of
    the best simultaneous walk). Same lattice, same band, same INF
    semantics; only the combine step differs."""
    minplus = mode == "minplus"

    @F.pandas_udf("long")
    def dp_cost(
        xa: pd.Series, ya: pd.Series, xb: pd.Series, yb: pd.Series
    ) -> pd.Series:
        out = []
        for a_x, a_y, b_x, b_y in zip(xa, ya, xb, yb):
            ax = np.asarray(a_x, np.int64)
            ay = np.asarray(a_y, np.int64)
            bx = np.asarray(b_x, np.int64)
            by = np.asarray(b_y, np.int64)
            n, m = len(ax), len(bx)
            prev = [_INF] * m
            for i in range(n):
                cur = [_INF] * m
                lo = max(0, i - BAND)
                hi = min(m - 1, i + BAND)
                for j in range(lo, hi + 1):
                    d = int(abs(ax[i] - bx[j])) + int(abs(ay[i] - by[j]))
                    if i == 0 and j == 0:
                        cur[j] = d
                        continue
                    best = prev[j]
                    if j > 0:
                        if prev[j - 1] < best:
                            best = prev[j - 1]
                        if cur[j - 1] < best:
                            best = cur[j - 1]
                    cur[j] = d + best if minplus else max(d, best)
                prev = cur
            out.append(prev[m - 1])
        return pd.Series(out, dtype="int64")

    return dp_cost


def _lcss_udf(eps: int):
    """Banded LCSS kernel on the SAME lattice: the longest common
    subsequence of two tracks under per-coordinate tolerance ``eps``
    (points i, j "match" iff |dx| <= eps AND |dy| <= eps).  Classic
    max-combine recurrence — match takes the diagonal + 1, miss takes
    max(up, left) — with out-of-lattice/out-of-band cells reading as 0
    (the empty-prefix value), NOT the min-mode INF sentinel.  Pure
    int64, so the DuckDB oracle replays the identical anti-diagonal
    unroll with coalesce(..., 0)."""

    @F.pandas_udf("long")
    def lcss_len(
        xa: pd.Series, ya: pd.Series, xb: pd.Series, yb: pd.Series
    ) -> pd.Series:
        out = []
        for a_x, a_y, b_x, b_y in zip(xa, ya, xb, yb):
            ax = np.asarray(a_x, np.int64)
            ay = np.asarray(a_y, np.int64)
            bx = np.asarray(b_x, np.int64)
            by = np.asarray(b_y, np.int64)
            n, m = len(ax), len(bx)
            prev = [0] * m
            for i in range(n):
                cur = [0] * m
                lo = max(0, i - BAND)
                hi = min(m - 1, i + BAND)
                for j in range(lo, hi + 1):
                    if (
                        abs(int(ax[i]) - int(bx[j])) <= eps
                        and abs(int(ay[i]) - int(by[j])) <= eps
                    ):
                        cur[j] = 1 + (prev[j - 1] if j > 0 else 0)
                    else:
                        up = prev[j]
                        left = cur[j - 1] if j > 0 else 0
                        cur[j] = up if up >= left else left
                prev = cur
            out.append(prev[m - 1])
        return pd.Series(out, dtype="int64")

    return lcss_len


def _edr_udf(eps: int):
    """Banded ANCHORED Edit Distance on Real sequences (Chen & Ng 2004)
    on the same lattice — the edit-distance member completing the
    similarity family (DTW accumulates, Frechet bottlenecks, LCSS
    max-matches, SW aligns locally; EDR COUNTS edits): substitution
    costs 0 on an eps-match else 1, insert/delete cost 1.  Anchored =
    both tracks start aligned (the lattice's DTW convention; classic
    EDR's free leading gaps would need virtual -1 boundary rows —
    documented variant).  INF sentinels out of band, pure int64 —
    the oracle replays the identical anti-diagonal unroll."""

    @F.pandas_udf("long")
    def edr_cost(
        xa: pd.Series, ya: pd.Series, xb: pd.Series, yb: pd.Series
    ) -> pd.Series:
        out = []
        for a_x, a_y, b_x, b_y in zip(xa, ya, xb, yb):
            ax = np.asarray(a_x, np.int64)
            ay = np.asarray(a_y, np.int64)
            bx = np.asarray(b_x, np.int64)
            by = np.asarray(b_y, np.int64)
            n, m = len(ax), len(bx)
            prev = [_INF] * m
            for i in range(n):
                cur = [_INF] * m
                lo = max(0, i - BAND)
                hi = min(m - 1, i + BAND)
                for j in range(lo, hi + 1):
                    sub = (
                        0
                        if (
                            abs(int(ax[i]) - int(bx[j])) <= eps
                            and abs(int(ay[i]) - int(by[j])) <= eps
                        )
                        else 1
                    )
                    if i == 0 and j == 0:
                        cur[j] = sub
                        continue
                    c1 = prev[j] + 1
                    c2 = (cur[j - 1] + 1) if j > 0 else _INF
                    c3 = (prev[j - 1] + sub) if j > 0 else _INF
                    cur[j] = min(c1, c2, c3)
                prev = cur
            out.append(prev[m - 1])
        return pd.Series(out, dtype="int64")

    return edr_cost


def _sw_udf(eps: int, match: int = 2, penalty: int = 1):
    """Banded Smith-Waterman LOCAL alignment on the same lattice: the
    best-scoring shared SEGMENT of two tracks (match = eps-close point
    pair scores +``match``; mismatch/gap costs ``penalty``; the zero
    floor restarts alignments, the global best cell is the answer —
    Smith & Waterman 1981).  Where LCSS chains matches globally, SW
    finds the one contiguous-ish stretch two otherwise-different routes
    share.  Out-of-lattice/out-of-band cells read 0 (the lcss sentinel);
    pure int64 end to end, so the oracle replays the identical
    anti-diagonal unroll with a max-over-all-cells epilogue."""

    @F.pandas_udf("long")
    def sw_score(
        xa: pd.Series, ya: pd.Series, xb: pd.Series, yb: pd.Series
    ) -> pd.Series:
        out = []
        for a_x, a_y, b_x, b_y in zip(xa, ya, xb, yb):
            ax = np.asarray(a_x, np.int64)
            ay = np.asarray(a_y, np.int64)
            bx = np.asarray(b_x, np.int64)
            by = np.asarray(b_y, np.int64)
            n, m = len(ax), len(bx)
            prev = [0] * m
            best = 0
            for i in range(n):
                cur = [0] * m
                lo = max(0, i - BAND)
                hi = min(m - 1, i + BAND)
                for j in range(lo, hi + 1):
                    ok = (
                        abs(int(ax[i]) - int(bx[j])) <= eps
                        and abs(int(ay[i]) - int(by[j])) <= eps
                    )
                    diag = (prev[j - 1] if j > 0 else 0) + (
                        match if ok else -penalty
                    )
                    up = prev[j] - penalty
                    left = (cur[j - 1] if j > 0 else 0) - penalty
                    v = diag
                    if up > v:
                        v = up
                    if left > v:
                        v = left
                    if v < 0:
                        v = 0
                    cur[j] = v
                    if v > best:
                        best = v
                prev = cur
            out.append(best)
        return pd.Series(out, dtype="int64")

    return sw_score


def user_tracks(
    pts: DataFrame,
    user_col: str = "user_id",
    x_col: str = "qx",
    y_col: str = "qy",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    max_len: int = MAX_LEN,
) -> DataFrame:
    """Per-user capped ordered track -> (u, n, xs, ys): the first
    ``max_len`` points by ``order_cols``, as aligned coordinate arrays."""
    w = Window.partitionBy(user_col).orderBy(*[F.col(c) for c in order_cols])
    seq = pts.withColumn("_seq", F.row_number().over(w)).filter(
        F.col("_seq") <= max_len
    )
    return (
        seq.groupBy(F.col(user_col).alias("u"))
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("_seq").alias("s"),
                                        F.col(x_col).cast("long").alias("x"),
                                        F.col(y_col).cast("long").alias("y")))
            ).alias("pts")
        )
        .select(
            "u",
            F.size("pts").alias("n"),
            F.expr("transform(pts, p -> p.x)").alias("xs"),
            F.expr("transform(pts, p -> p.y)").alias("ys"),
        )
    )


def frechet_pairs(tracks: DataFrame) -> DataFrame:
    """All-pairs banded discrete Frechet distance over a track frame ->
    (u_a, u_b, n_a, n_b, frechet): the dog-leash distance — the minimal
    over simultaneous monotone walks of the MAXIMUM link length (minimax
    on the same lattice DTW min-plusses). The measure of choice when one
    bad detour must dominate (route conformance checking), where DTW
    averages it away. Same band/cap/exclusion semantics as dtw_pairs."""
    return _pair_dp(tracks, "minimax", "frechet")


def dtw_pairs(tracks: DataFrame) -> DataFrame:
    """All-pairs banded DTW over a (dimension-sized) track frame ->
    (u_a, u_b, n_a, n_b, dtw); pairs with |n_a - n_b| > BAND have no
    in-band warping path and are excluded by definition."""
    return _pair_dp(tracks, "minplus", "dtw")


def lcss_pairs(tracks: DataFrame, eps: int = 80) -> DataFrame:
    """All-pairs banded LCSS over a track frame -> (u_a, u_b, n_a, n_b,
    lcss): the longest order-preserving chain of eps-close point pairs —
    the trajectory measure ROBUST TO OUTLIERS (one GPS glitch costs DTW
    its full distance but LCSS only the one match; Vlachos et al., ICDE
    2002).  Same band/cap semantics as dtw_pairs; pairs with length gap
    > BAND keep no in-band alignment and are excluded by definition."""
    return _pair_dp(tracks, "lcss", "lcss", eps=eps)


def swalign_pairs(tracks: DataFrame, eps: int = 80) -> DataFrame:
    """All-pairs banded Smith-Waterman local-alignment score over a
    track frame -> (u_a, u_b, n_a, n_b, sw): the highest-scoring shared
    sub-route (match +2, mismatch/gap -1, zero floor, best cell wins).
    The LOCAL member of the lattice family — DTW averages whole tracks,
    Frechet bottlenecks them, LCSS chains matches globally; SW finds the
    one stretch two routes share and ignores everything else.  Same
    band/cap semantics as dtw_pairs."""
    return _pair_dp(tracks, "swalign", "sw", eps=eps)


def edr_pairs(tracks: DataFrame, eps: int = 80) -> DataFrame:
    """All-pairs banded anchored-EDR edit count over a track frame ->
    (u_a, u_b, n_a, n_b, edr): how many point edits
    (eps-substitutions free, real substitutions/inserts/deletes cost 1)
    turn one route into the other — the EDIT-DISTANCE member of the
    lattice family, robust to outlier points where DTW's accumulated
    cost is not (Chen & Ng 2004).  Same band/cap semantics as
    dtw_pairs."""
    return _pair_dp(tracks, "edr", "edr", eps=eps)


def _pair_dp(
    tracks: DataFrame, mode: str, out_col: str, eps: int = 0
) -> DataFrame:
    a = tracks.select(
        F.col("u").alias("u_a"), F.col("n").alias("n_a"),
        F.col("xs").alias("xa"), F.col("ys").alias("ya"),
    )
    b = tracks.select(
        F.col("u").alias("u_b"), F.col("n").alias("n_b"),
        F.col("xs").alias("xb"), F.col("ys").alias("yb"),
    )
    cand = a.join(F.broadcast(b), F.col("u_a") < F.col("u_b")).filter(
        F.abs(F.col("n_a") - F.col("n_b")) <= BAND
    )
    if mode == "lcss":
        kernel = _lcss_udf(eps)
    elif mode == "swalign":
        kernel = _sw_udf(eps)
    elif mode == "edr":
        kernel = _edr_udf(eps)
    else:
        kernel = _dp_udf(mode)
    return cand.select(
        "u_a",
        "u_b",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        kernel(F.col("xa"), F.col("ya"), F.col("xb"), F.col("yb")).alias(
            out_col
        ),
    )

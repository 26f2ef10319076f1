"""Minimum enclosing circle over a bounded point dim — exact integer
predicates end to end.

Engine-added geospatial capability: the MEC is the coverage-radius
question (one transmitter/depot/sensor placement; the worst-case member
next to sd_ellipse's dispersion and hull's extent).  The classical
structure theorem says the MEC is determined by 2 or 3 support points:
it is either a DIAMETRAL circle of some pair or the CIRCUMCIRCLE of
some triple — so over a bounded point dim the exact answer is an
enumeration, no Welzl recursion (whose randomized order has no
cross-engine replay):

- pair circle (a, b) covers p  iff  (p-a).(p-b) <= 0   (Thales: the
  angle at p is >= 90 degrees) — an exact int64 dot product;
- triple circumcircle covers p iff  orient(a,b,c) * incircle(a,b,c,p)
  >= 0 — the classic computational-geometry predicates, exact on
  integers (values reach ~2e21 on micro-degree coords, so the kernel
  uses PYTHON ints — numpy int64 would wrap, the ntt.py lesson
  class — and the oracle casts to HUGEINT);
- candidates rank by the SHARED QUANTIZED key (r2_fp = (num * 100)
  div den, kind, ia, ib, ic): both engines floor the same exact
  rational, so ties and near-ties cannot diverge; collinear triples
  skip.

Scale shape: the bounded-dim exact complement (the boruvka
precedent) — the O(n^4) enumeration is the ORACLE-GRADE definition for
a dim-sized support set; the 100 TB path runs it on the convex hull
points (MEC support points are hull vertices; hull.py already reduces
the cloud) after a coarse k-ring prefilter.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _mec_exact(pts: list) -> tuple:
    """pts: [(id, x, y)] with python-int coords. Returns
    (kind, ia, ib, ic, r2_fp) — kind 2 = diametral pair, 3 = triple."""
    n = len(pts)
    best = None  # (r2_num, r2_den) rational + tie key

    def covers_pair(a, b):
        for _, px, py in pts:
            if (px - a[1]) * (px - b[1]) + (py - a[2]) * (py - b[2]) > 0:
                return False
        return True

    def incircle(ax, ay, bx, by, cx, cy, px, py):
        a1, a2 = ax - px, ay - py
        b1, b2 = bx - px, by - py
        c1, c2 = cx - px, cy - py
        a3 = a1 * a1 + a2 * a2
        b3 = b1 * b1 + b2 * b2
        c3 = c1 * c1 + c2 * c2
        return (
            a1 * (b2 * c3 - b3 * c2)
            - a2 * (b1 * c3 - b3 * c1)
            + a3 * (b1 * c2 - b2 * c1)
        )

    def consider(kind, ia, ib, ic, num, den):
        nonlocal best
        key = ((num * 100) // den, kind, ia, ib, ic)
        if best is None or key < best[0]:
            best = (key, kind, ia, ib, ic)

    for i in range(n):
        for j in range(i + 1, n):
            a, b = pts[i], pts[j]
            if covers_pair(a, b):
                d2 = (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2
                consider(2, a[0], b[0], -1, d2, 4)
    for i in range(n):
        for j in range(i + 1, n):
            for k in range(j + 1, n):
                a, b, c = pts[i], pts[j], pts[k]
                orient = (b[1] - a[1]) * (c[2] - a[2]) - (
                    b[2] - a[2]
                ) * (c[1] - a[1])
                if orient == 0:
                    continue
                ok = True
                for _, px, py in pts:
                    if (
                        orient
                        * incircle(
                            a[1], a[2], b[1], b[2], c[1], c[2], px, py
                        )
                        < 0
                    ):
                        ok = False
                        break
                if not ok:
                    continue
                ab2 = (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2
                bc2 = (b[1] - c[1]) ** 2 + (b[2] - c[2]) ** 2
                ca2 = (c[1] - a[1]) ** 2 + (c[2] - a[2]) ** 2
                consider(
                    3, a[0], b[0], c[0],
                    ab2 * bc2 * ca2, 4 * orient * orient,
                )
    key, kind, ia, ib, ic = best
    return kind, ia, ib, ic, key[0]


def mec(points: DataFrame) -> DataFrame:
    """points: bounded dim (id, x, y exact ints). One Arrow pass ->
    one row (kind, ia, ib, ic, r2_fp)."""

    def f(pdf: pd.DataFrame) -> pd.DataFrame:
        pts = sorted(
            (int(r.id), int(r.x), int(r.y))
            for r in pdf.itertuples(index=False)
        )
        if len(pts) < 2:
            # ADVICE r5: _mec_exact unpacks best=None for n == 1 — state
            # the >= 2-point contract explicitly instead of crashing
            raise ValueError("mec: needs >= 2 points (degenerate input)")
        kind, ia, ib, ic, r2_fp = _mec_exact(pts)
        return pd.DataFrame(
            {
                "kind": [kind],
                "ia": [ia],
                "ib": [ib],
                "ic": [ic],
                "r2_fp": [r2_fp],
            }
        ).astype("int64")

    return points.groupBy(F.lit(1).alias("_g")).applyInPandas(
        f, "kind long, ia long, ib long, ic long, r2_fp long"
    )

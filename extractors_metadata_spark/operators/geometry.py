"""Prepared polygon geometry: the broadcastable, vectorized form of the plot dim.

The reference re-reads polygon geometries per query point from a shapefile and
calls GDAL Contains/Touches/Distance one pair at a time
(``/root/reference/sensorposition/plotid_by_latlon.py:51-68``); its own comment
wishes for a cheaper prepared predicate (``:57``). Here "prepared" = all rings
flattened into padded NumPy edge arrays once, shipped to executors with the
kernel that reads them, so the PIP/distance kernels run as pure array math over
thousands of (point, polygon) candidate pairs per Arrow batch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def raycast_contains(x1, y1, x2, y2, px, py,
                     boundary_eps: float = 1e-12) -> np.ndarray:
    """Exact ray-cast PIP over PER-ROW edge arrays (n, kmax): row i tests
    point (px[i], py[i]) against its own NaN-padded edge set. Shared by
    ``PreparedPolygons.contains`` (broadcast dim) and the big-dim path
    (``pip_bigdim.pip_join_bigdim``), so both regimes run one frozen kernel.
    Boundary points count as inside (Touches => match)."""
    px_ = px[:, None]
    py_ = py[:, None]
    with np.errstate(invalid="ignore", divide="ignore"):
        crosses = (y1 > py_) != (y2 > py_)
        x_int = (x2 - x1) * (py_ - y1) / (y2 - y1) + x1
        inside = (np.where(crosses & (px_ < x_int), 1, 0).sum(axis=1) % 2) == 1

        cross = (x2 - x1) * (py_ - y1) - (y2 - y1) * (px_ - x1)
        seg_len = np.abs(x2 - x1) + np.abs(y2 - y1)
        on_line = np.abs(cross) <= boundary_eps * np.maximum(seg_len, 1.0)
        in_box = (
            (px_ >= np.minimum(x1, x2) - boundary_eps)
            & (px_ <= np.maximum(x1, x2) + boundary_eps)
            & (py_ >= np.minimum(y1, y2) - boundary_eps)
            & (py_ <= np.maximum(y1, y2) + boundary_eps)
        )
        on_boundary = np.any(on_line & in_box, axis=1)
    return inside | on_boundary


def ring_vertices(rings) -> tuple[np.ndarray, np.ndarray]:
    """Every ring's vertices as one (V, 2) float array in ring order, plus the
    (P + 1,) offsets of each ring's first vertex: ring i is
    ``xy[offsets[i]:offsets[i + 1]]``. One coercion for the whole dim; takes
    plain lists and Spark toPandas' object-dtype ndarray-of-ndarrays for
    array<array<double>>."""
    lens = np.fromiter((len(r) for r in rings), dtype=np.int64, count=len(rings))
    xy = np.array([v for r in rings for v in r], dtype=np.float64).reshape(-1, 2)
    return xy, np.r_[0, np.cumsum(lens)]


class PreparedPolygons:
    """Padded edge-array form of a polygon table.

    Arrays are (P, K) with K = max ring edge count; shorter rings padded with
    NaN (NaN comparisons are False, so padded edges never cross or match).
    """

    def __init__(self, plot_ids: list[str], x1, y1, x2, y2):
        self.plot_ids = plot_ids
        self.x1, self.y1, self.x2, self.y2 = x1, y1, x2, y2

    @classmethod
    def from_pandas(cls, plots: pd.DataFrame, ring_col: str = "ring",
                    id_col: str = "plot_id") -> "PreparedPolygons":
        return cls.from_vertices(list(plots[id_col]), *ring_vertices(plots[ring_col]))

    @classmethod
    def from_vertices(cls, plot_ids: list[str], xy: np.ndarray,
                      offsets: np.ndarray) -> "PreparedPolygons":
        """From ``ring_vertices``' arrays. A ring's explicit closing vertex is
        dropped (edges wrap implicitly); vertex i's edge ends at vertex i + 1,
        the last one's at vertex 0."""
        start, n = offsets[:-1], np.diff(offsets)
        # EXACT comparison — np.allclose's relative tolerance at |lon|~112
        # swallows vertices ~0.001 deg apart (caught by property tests).
        closed = n > 1
        closed[closed] = (xy[start[closed]] == xy[start[closed] + n[closed] - 1]).all(axis=1)
        n = n - closed
        j = np.arange(n.max(initial=0))
        valid = j < n[:, None]
        here = np.where(valid, start[:, None] + j, 0)
        succ = np.where(valid, start[:, None] + (j + 1) % np.maximum(n, 1)[:, None], 0)
        x1, y1, x2, y2 = (
            np.where(valid, xy[ix, c], np.nan) for ix in (here, succ) for c in (0, 1)
        )
        return cls(plot_ids, x1, y1, x2, y2)

    # --- vectorized predicates over candidate pairs ---------------------------

    def contains(self, poly_idx: np.ndarray, px: np.ndarray, py: np.ndarray,
                 boundary_eps: float = 1e-12) -> np.ndarray:
        """Exact ray-cast PIP for pairs (poly_idx[i], (px[i], py[i])).

        Boundary points count as inside — the reference treats Touches as a
        match (``plotid_by_latlon.py:57``). ``boundary_eps`` (degrees, ~0.1 um)
        only absorbs float round-off on the on-segment test.
        """
        return raycast_contains(
            self.x1[poly_idx], self.y1[poly_idx],
            self.x2[poly_idx], self.y2[poly_idx],
            px, py, boundary_eps,
        )

    def distance_m(self, poly_idx: np.ndarray, px: np.ndarray, py: np.ndarray) -> np.ndarray:
        """Min point-to-ring distance in meters (equirectangular local plane,
        the engine's frozen distance formula — SURVEY.md F11); 0 if inside."""
        x1 = self.x1[poly_idx]
        y1 = self.y1[poly_idx]
        x2 = self.x2[poly_idx]
        y2 = self.y2[poly_idx]
        px_ = px[:, None]
        py_ = py[:, None]

        # project lon/lat deltas to meters around each point's latitude
        from ..functions.geodesy import R_MEAN

        coslat = np.cos(np.radians(py))[:, None]
        deg = np.pi / 180.0 * R_MEAN

        ax = (x1 - px_) * coslat * deg
        ay = (y1 - py_) * deg
        bx = (x2 - px_) * coslat * deg
        by = (y2 - py_) * deg

        dx = bx - ax
        dy = by - ay
        with np.errstate(invalid="ignore", divide="ignore"):
            seg_len2 = dx * dx + dy * dy
            t = np.clip(np.where(seg_len2 > 0, -(ax * dx + ay * dy) / seg_len2, 0.0), 0.0, 1.0)
            cx = ax + t * dx
            cy = ay + t * dy
            d = np.sqrt(cx * cx + cy * cy)
            d = np.where(np.isnan(d), np.inf, d)
        dmin = d.min(axis=1)
        dmin = np.where(self.contains(poly_idx, px, py), 0.0, dmin)
        return dmin

    def rect_overlap(self, poly_idx: np.ndarray, min_x: np.ndarray,
                     min_y: np.ndarray, max_x: np.ndarray,
                     max_y: np.ndarray) -> np.ndarray:
        """Exact polygon x axis-aligned-rectangle overlap for pairs
        (poly_idx[i], rect i); touching counts (the engine-wide Touches=>
        match rule). x = lon, y = lat in ring degrees.

        Three-way decomposition (complete for simple polygons): (a) some
        polygon vertex inside the rect, (b) some rect corner inside the
        polygon, or (c) some polygon edge intersects some rect edge —
        (c) catches the plus-sign overlaps where neither (a) nor (b) holds.
        Edge intersection = both straddle tests (orientation products <= 0)
        plus a segment-bbox overlap guard, which keeps collinear-but-
        disjoint segments out while keeping touches in. NaN edge padding
        falls out of every test (NaN comparisons are False)."""
        x1 = self.x1[poly_idx]
        y1 = self.y1[poly_idx]
        x2 = self.x2[poly_idx]
        y2 = self.y2[poly_idx]
        mnx, mny = min_x[:, None], min_y[:, None]
        mxx, mxy = max_x[:, None], max_y[:, None]

        with np.errstate(invalid="ignore"):
            # (a) any polygon vertex inside the rect
            hit = np.any(
                (x1 >= mnx) & (x1 <= mxx) & (y1 >= mny) & (y1 <= mxy), axis=1
            )
            # (b) any rect corner inside the polygon
            for cx, cy in ((min_x, min_y), (min_x, max_y),
                           (max_x, min_y), (max_x, max_y)):
                todo = ~hit
                if todo.any():
                    hit[todo] |= self.contains(poly_idx[todo], cx[todo], cy[todo])
            # (c) any polygon edge x any rect edge
            rect_edges = (
                (mnx, mny, mxx, mny), (mxx, mny, mxx, mxy),
                (mxx, mxy, mnx, mxy), (mnx, mxy, mnx, mny),
            )
            for ax1, ay1, ax2, ay2 in rect_edges:
                # straddle: rect edge endpoints vs each polygon edge's line
                o1 = (x2 - x1) * (ay1 - y1) - (y2 - y1) * (ax1 - x1)
                o2 = (x2 - x1) * (ay2 - y1) - (y2 - y1) * (ax2 - x1)
                # and polygon edge endpoints vs the rect edge's line
                o3 = (ax2 - ax1) * (y1 - ay1) - (ay2 - ay1) * (x1 - ax1)
                o4 = (ax2 - ax1) * (y2 - ay1) - (ay2 - ay1) * (x2 - ax1)
                bbox_ok = (
                    (np.maximum(x1, x2) >= np.minimum(ax1, ax2))
                    & (np.minimum(x1, x2) <= np.maximum(ax1, ax2))
                    & (np.maximum(y1, y2) >= np.minimum(ay1, ay2))
                    & (np.minimum(y1, y2) <= np.maximum(ay1, ay2))
                )
                hit |= np.any(
                    (o1 * o2 <= 0) & (o3 * o4 <= 0) & bbox_ok, axis=1
                )
        return hit

"""Output checks, derived independently of the engine's join code.

The plot a point belongs to comes from grid arithmetic on ``synth.GRID_*``
(each plot is an axis-aligned lon/lat rectangle), and the nearest plot from
a brute-force pass over all 864 rectangles with the engine's frozen distance
formula (equirectangular metres around the point's latitude). Ties go to the
minimum plot id, as the engine's determinism rule says. Distances that agree
to within ``_tol`` count as ties, so float round-off between the two
derivations cannot fail a check.
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pyarrow as pa

from extractors_metadata_spark import synth
from extractors_metadata_spark.functions.geodesy import R_MEAN
from extractors_metadata_spark.functions.textmeta import extract_text

_R, _P = (
    a.ravel()
    for a in np.meshgrid(
        np.arange(1, synth.N_RANGES + 1), np.arange(1, synth.N_PASSES + 1), indexing="ij"
    )
)
_S = synth.GRID_LAT0 + (_R - 1) * synth.GRID_DLAT
_N = synth.GRID_LAT0 + _R * synth.GRID_DLAT
_W = synth.GRID_LON0 + (_P - 1) * synth.GRID_DLON
_E = synth.GRID_LON0 + _P * synth.GRID_DLON
IDS = np.array([f"{r}-{p}" for r, p in zip(_R, _P)])
_INDEX = {pid: i for i, pid in enumerate(IDS)}
# the engine's boundary tolerance (degrees): boundary points count as inside
_EPS = 1e-12
_M_PER_DEG = np.pi / 180.0 * R_MEAN


def _tol(d: float) -> float:
    return 1e-6 + 1e-9 * d


def distances(lat: float, lon: float) -> np.ndarray:
    """Metres from the point to every plot (0 inside or on the boundary)."""
    inside = (lat >= _S - _EPS) & (lat <= _N + _EPS) & (lon >= _W - _EPS) & (lon <= _E + _EPS)
    dx = np.maximum(np.maximum(_W - lon, lon - _E), 0.0) * np.cos(np.radians(lat)) * _M_PER_DEG
    dy = np.maximum(np.maximum(_S - lat, lat - _N), 0.0) * _M_PER_DEG
    return np.where(inside, 0.0, np.hypot(dx, dy))


def expected(lat: float, lon: float, k: int = 1) -> tuple[list[str], np.ndarray]:
    """The k nearest plot ids in (distance, plot id) order, and all distances."""
    d = distances(lat, lon)
    order = np.lexsort((IDS, d))[:k]
    return list(IDS[order]), d


def _same_rank(got: str, want: str, d: np.ndarray) -> bool:
    if got == want:
        return True
    i = _INDEX.get(got)
    # a near-tie between two plots may resolve either way by round-off
    return i is not None and abs(d[i] - d[_INDEX[want]]) <= _tol(d[_INDEX[want]])


def resolved_ok(lat: float, lon: float, plot_id: str, matched_via: str) -> bool:
    """One ``resolve_plots`` row: containment first, else nearest plot."""
    (want,), d = expected(lat, lon)
    via = "contains" if d[_INDEX[want]] == 0.0 else "nearest"
    return matched_via == via and _same_rank(plot_id, want, d)


def knn_ok(lat: float, lon: float, rows: list[tuple[int, str, float]], k: int) -> bool:
    """One point's ``knn_join`` rows as (rank, plot_id, dist_m)."""
    rows = sorted(rows)
    if [r[0] for r in rows] != list(range(1, k + 1)) or len({r[1] for r in rows}) != k:
        return False
    want, d = expected(lat, lon, k)
    for (_, got, dist), w in zip(rows, want):
        if not _same_rank(got, w, d) or abs(dist - d[_INDEX[w]]) > 1e-3 + 1e-6 * d[_INDEX[w]]:
            return False
    return True


def datapoint_ok(row: dict, site_plot: dict[str, str]) -> bool:
    """One pipeline datapoint: site-shortcut pages keep their site's plot, the
    rest resolve like ``resolve_plots``."""
    if row["url"] in site_plot:
        return row["matched_via"] == "site" and row["plot_id"] == site_plot[row["url"]]
    return resolved_ok(row["centroid_lat"], row["centroid_lon"], row["plot_id"], row["matched_via"])


def lookup_failures(points, rows: list, kind: str, k: int) -> int:
    """Points of one query whose result rows are missing, extra or wrong."""
    by_url = defaultdict(list)
    for r in rows:
        by_url[r["url"]].append(r)
    bad = len(set(by_url) - set(points["url"]))
    for url, lat, lon in zip(points["url"], points["centroid_lat"], points["centroid_lon"]):
        got = by_url.get(url, [])
        if kind == "resolve":
            ok = len(got) == 1 and resolved_ok(lat, lon, got[0]["plot_id"], got[0]["matched_via"])
        else:
            ok = len(got) == k and knn_ok(
                lat, lon, [(r["knn_rank"], r["plot_id"], r["dist_m"]) for r in got], k
            )
        bad += not ok
    return bad


def text_invariant_ok(table: pa.Table, n: int = 64) -> bool:
    """The frozen ``text == extract_text(html)`` invariant on the first rows."""
    head = table.slice(0, n)
    return all(
        extract_text(h) == t
        for h, t in zip(head.column("html").to_pylist(), head.column("text").to_pylist())
    )

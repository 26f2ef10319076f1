"""Point-in-polygon, nearest-plot and kNN lookups: one NumPy kernel per Arrow batch.

The reference resolves a point by scanning every polygon — containment
first, else the nearest (``plotid_by_latlon.py:51-77``). Here the polygon dim
is tiny (broadcastable by contract), so it is prepared once on the driver and
pickled into the UDF closure (PySpark ships a command over 1 MB as a
broadcast by itself):

- ``PreparedPolygons``: padded edge arrays for the exact predicates;
- each plot's lon/lat bbox;
- the covering table (``_poly_cells``): each plot's cells at ``res``, dilated
  by ``ring`` and interval-pruned, as sorted unique cells + CSR offsets into
  a poly-index array;
- each plot's rank in ``plot_id`` STRING order, the tie-break
  ('10-4' < '5-3').

Every operator is then one scalar ``pandas_udf`` over (lat, lon[, cell])
whose kernel (``_topk``) does, per Arrow batch:

1. probe each point's cell with ``searchsorted`` -> its ragged candidates;
2. prune them by bbox distance bounds (``_prune``: a candidate whose lower
   bound exceeds the point's k-th upper bound cannot win);
3. refine the rest with ``PreparedPolygons.distance_m`` (contains <=> d == 0;
   boundary points count as inside, the reference's Touches rule ``:57``);
4. segment-reduce per point on (dist, plot rank): contains beats nearest,
   ties go to the min plot_id;
5. answer from ALL plots, bound-pruned and refined the same way in the same
   batch, every point the ring-reach guard (``_ring_reach_m``) cannot
   certify or that has fewer than min(k, P) candidates.

The physical plan is scan -> ArrowEvalPython -> project, or a JVM-side
Generate for kNN's k rows and pip's matches: no join, no shuffle, no
persist, no fallback job, and the payload columns never enter Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions import hexgrid
from ..functions.geodesy import R_MEAN
from .geometry import PreparedPolygons, ring_vertices


def choose_res(prep: PreparedPolygons, lo: int = 7, hi: int = 12) -> int:
    """Finest res in [lo, hi] whose hex size >= half the median polygon extent
    (keeps covering lists small while pruning hard)."""
    with np.errstate(invalid="ignore"):
        ext_x = np.nanmax(prep.x1, axis=1) - np.nanmin(prep.x1, axis=1)
        ext_y = np.nanmax(prep.y1, axis=1) - np.nanmin(prep.y1, axis=1)
    # rough degrees->meters at the dim's median latitude
    lat0 = float(np.nanmedian(prep.y1))
    mx = np.nanmedian(ext_x) * 111320.0 * np.cos(np.radians(lat0))
    my = np.nanmedian(ext_y) * 111320.0
    diag = float(np.hypot(mx, my))
    for res in range(hi, lo - 1, -1):
        if float(hexgrid.res_size_m(res)) >= diag / 2.0:
            return res
    return lo


# meters per degree of latitude in distance_m's equirectangular metric
_DEG_M = np.pi / 180.0 * R_MEAN

_poly_cells_memo: dict = {}


def _poly_cells(
    plot_ids,
    xy: np.ndarray,
    offsets: np.ndarray,
    res: int,
    ring: int = 0,
    prep: "PreparedPolygons | None" = None,
    keep_k: int = 1,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The dim's covering table in CSR form, built on the driver from its
    rings (``geometry.ring_vertices``' ``xy`` and ``offsets``): sorted
    unique ``cells``, ``offsets`` (len(cells) + 1) and poly ``idx``, so cell
    ``cells[i]`` is claimed by polys ``idx[offsets[i]:offsets[i + 1]]``.

    ``ring`` > 0 DILATES the covering: each polygon also claims every cell
    within grid distance ``ring`` of a covering cell. A point's cell is in the
    dilated set iff the point's k-ring intersects the raw covering — i.e. dim
    dilation is the dim-side dual of a probe-side ring fan-out, but the
    probe stays ONE cell lookup per point (no 3k^2+3k+1x explode, no duplicate
    (point, poly) candidates, one distance evaluation per pair).

    When ``prep`` is given, the dilated table is then PRUNED per cell with
    exact distance intervals: for any point in a cell (true-meter radius
    r <= s/cos(lat) around the center), its distance to polygon p lies in
    [d_p - r, d_p + r] where d_p = distance(center, p). A polygon whose lower
    bound exceeds the cell's ``keep_k``-th smallest upper bound can never be
    among the k nearest for ANY point in the cell (strictly — ties survive),
    so it is dropped at build time. This turns the per-point candidate
    list from "every polygon within ring reach" (hundreds, for dense dims)
    into the handful whose distance intervals overlap the winners' — the
    distance kernel then runs on ~k-ish pairs per point instead of O(density).

    Size grows as |covering| x ring^2 before pruning — fine for broadcastable
    dims; for huge dims at small ring keep the dilation small.

    The arrays are MEMOIZED per (dim content, res, ring, keep_k): the build
    (~1-2 s of driver NumPy for ring-dilated dims) runs once per process for
    a frozen dim, and the memo stays valid across Spark session restarts.
    The content key hashes the ids and the vertex bytes — microseconds for a
    broadcastable dim.
    """
    key = (hash((tuple(plot_ids), xy.tobytes())), res, ring, keep_k)
    hit = _poly_cells_memo.get(key)
    if hit is not None:
        return hit
    cells_per_poly = []
    for a, b in zip(offsets[:-1], offsets[1:]):
        cells = hexgrid.polyfill(xy[a:b], res)
        if ring > 0:
            _, dilated = hexgrid.kring_batch(cells, ring)
            cells = np.unique(dilated)
        cells_per_poly.append(cells)
    idx = np.repeat(
        np.arange(len(cells_per_poly), dtype=np.int64),
        [len(c) for c in cells_per_poly],
    )
    cells = np.concatenate(cells_per_poly) if cells_per_poly else np.array([], dtype=np.int64)

    if ring > 0 and prep is not None and len(cells):
        lat, lon = hexgrid.cell_center(cells)
        s = float(hexgrid.res_size_m(res))
        # r6 two-phase prune: the exact interval prune below evaluates
        # point-to-ring distance over (pairs x max_edges) temporaries —
        # at ring 21 that is ~1.3M pairs and dominated the whole query
        # as driver wall. Phase 1 prunes with (pairs,)-sized
        # center/circumradius bounds (valid in distance_m's per-point
        # equirect metric: R_ub uses coslat=1, an overestimate of the
        # x-extent, so lb_c <= d <= ub_c always); phase 2 then runs the
        # exact rule on the survivors. The survivor kth-ub can only be
        # >= the all-pairs kth-ub, so the final kept set is a SUPERSET
        # of the single-phase one — extra candidates are scored and
        # lose, query outputs identical (soundness unchanged).
        deg = _DEG_M
        vx, vy = prep.x1, prep.y1  # (P, K) ring vertices, NaN-padded
        ccx = np.nanmean(vx, axis=1)
        ccy = np.nanmean(vy, axis=1)
        r_poly = np.sqrt(
            np.nanmax(
                ((vx - ccx[:, None]) * deg) ** 2
                + ((vy - ccy[:, None]) * deg) ** 2,
                axis=1,
            )
        )
        coslat_c = np.cos(np.radians(lat))
        d_c = np.sqrt(
            ((ccx[idx] - lon) * coslat_c * deg) ** 2
            + ((ccy[idx] - lat) * deg) ** 2
        )
        r_true_c = s / coslat_c * 1.0001
        lb_c = d_c - r_poly[idx] - r_true_c
        ub_c = d_c + r_poly[idx] + r_true_c
        order_c = np.lexsort((ub_c, cells))
        cc_s = cells[order_c]
        starts_c = np.flatnonzero(np.r_[True, cc_s[1:] != cc_s[:-1]])
        counts_c = np.diff(np.r_[starts_c, len(cc_s)])
        kth_pos_c = starts_c + np.minimum(keep_k, counts_c) - 1
        kth_ub_c = np.repeat(ub_c[order_c][kth_pos_c], counts_c)
        pre = order_c[lb_c[order_c] <= kth_ub_c]
        cells, idx, lat, lon = cells[pre], idx[pre], lat[pre], lon[pre]
        d = prep.distance_m(idx, lon, lat)
        # conservative true-m cell radius; the 1.0001 slack absorbs the
        # cos(lat)/metric drift between the cell-center latitude (used for d
        # and r_true here) and the probe point's latitude (which defines
        # distance_m's metric) — the dual of _ring_reach_m's 0.99 guard
        r_true = s / np.cos(np.radians(lat)) * 1.0001
        lb = d - r_true
        ub = d + r_true
        order = np.lexsort((ub, cells))  # sort by cell, then ub
        c_s, lb_s, ub_s, idx_s = cells[order], lb[order], ub[order], idx[order]
        starts = np.flatnonzero(np.r_[True, c_s[1:] != c_s[:-1]])
        counts = np.diff(np.r_[starts, len(c_s)])
        # per cell: the keep_k-th smallest ub (last row if fewer than keep_k)
        kth_pos = starts + np.minimum(keep_k, counts) - 1
        kth_ub = np.repeat(ub_s[kth_pos], counts)
        keep = lb_s <= kth_ub
        cells, idx = c_s[keep], idx_s[keep]

    order = np.argsort(cells, kind="stable")
    cells, starts = np.unique(cells[order], return_index=True)
    out = (cells, np.append(starts, len(order)), idx[order].astype(np.int32))
    if len(_poly_cells_memo) > 32:  # bound driver memory across many dims
        _poly_cells_memo.clear()
    _poly_cells_memo[key] = out
    return out


def _ensure_parallel(spark, df: DataFrame) -> DataFrame:
    """The ring fan-out multiplies work per input row ~10-200x, so a probe
    frame arriving in fewer partitions than cores (e.g. one small parquet
    file) would serialize the whole operator. Repartition ONLY when starved —
    on a well-partitioned 100 TB input this is a no-op."""
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


_live_caches: dict[str, DataFrame] = {}


def _cache_scoped(name: str, df: DataFrame) -> DataFrame:
    """persist(MEMORY_AND_DISK) with per-operator scope: the PREVIOUS
    invocation's cache is unpersisted on the next call, so repeated operator
    invocations in one session never accumulate storage (ADVICE r1). A
    still-lazy result frame from an earlier call stays correct — it just
    recomputes without the cache. (localCheckpoint would self-GC, but its
    RDD-conversion path costs ~10s on pandas-UDF plans here — measured.)

    SINGLE-JOB-AT-A-TIME assumption: the registry is module-global, so two
    CONCURRENT invocations of the same operator in one session would thrash
    each other's storage (correct results, silent recompute). Serialize
    same-operator jobs."""
    from pyspark import StorageLevel

    prev = _live_caches.pop(name, None)
    if prev is not None:
        try:
            prev.unpersist()
        except Exception:
            pass
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    _live_caches[name] = out
    return out


def _ring_reach_m(ring: int, res: int, lat: np.ndarray) -> np.ndarray:
    """True-meter reach GUARANTEE of a k-ring candidate search (per point).

    Soundness bound for treating in-ring candidates as exact: any polygon
    whose covering cells all lie outside the point's ring-``ring`` neighborhood
    is at least this far away, so an in-ring candidate at distance <= reach is
    provably the true nearest (no out-of-ring polygon can beat it).

    Derivation (projected Lambert-CEA space, hex circumradius s at ``res``):
    a point lies within s of its cell center; every polygon point lies within
    s of some covering-cell center (``hexgrid.polyfill`` covers containing
    cells); hex centers at grid distance g are >= 1.5*g*s apart (triangular
    lattice, tight at g even). A polygon outside the ring has g >= ring+1, so
    its projected distance is >= 1.5*(ring+1)*s - 2s. Projected distance
    >= true equirectangular meters * cos(lat) (x is inflated by 1/cos(lat),
    y compressed by cos(lat)), giving the true-meter bound below; 0.99 absorbs
    the cos(lat) drift between point and polygon over sub-km scales.
    """
    s = float(hexgrid.res_size_m(res))
    factor = max(1.5 * (ring + 1) - 2.0, 0.0) * s * 0.99
    return factor * np.cos(np.radians(lat))


class _Dim:
    """One polygon dim at one covering, as the kernel reads it: the prepared
    edge arrays, each plot's lon/lat bbox, the CSR covering table and each
    plot's rank in plot_id string order. Pickled, the 864-plot dim is
    ~0.2 MB at res 13 / ring 3 and ~0.5 MB at res 13 / ring 21, under
    PySpark's 1 MB command limit."""

    def __init__(self, plots, res: int | None, ring: int, keep_k: int, res_hi: int = 12):
        plots_pdf = plots.toPandas() if isinstance(plots, DataFrame) else plots
        ids = list(plots_pdf["plot_id"])
        xy, offsets = ring_vertices(plots_pdf["ring"])
        self.prep = PreparedPolygons.from_vertices(ids, xy, offsets)
        self.res = choose_res(self.prep, hi=res_hi) if res is None else res
        self.ring = ring
        self.bbox = tuple(
            f(v, axis=1) for v in (self.prep.x1, self.prep.y1) for f in (np.nanmin, np.nanmax)
        )
        self.ids = np.asarray(ids, dtype=object)
        self.rank = np.empty(len(self.ids), dtype=np.int32)
        self.rank[np.argsort(self.ids.astype(str), kind="stable")] = np.arange(len(self.ids))
        self.cells, self.offsets, self.idx = _poly_cells(
            ids, xy, offsets, self.res, ring, self.prep, keep_k
        )


# all-plots block: (points x plots) pairs per bound-and-refine step
_REDO_PAIRS = 1 << 18
# meters of slack on the bound prune: absorbs the float rounding between the
# bounds and distance_m (~1e-9 m at Earth scale) and the boundary_eps
# (1e-12 deg, ~1e-7 m) by which a "contains" point may sit outside its bbox
_BOUND_SLACK_M = 1e-6


def _best(dim: _Dim, row, poly, lat, lon, k: int):
    """Exact refine + segment top-k over (row, poly) candidate pairs: per row
    the k best on (dist, plot rank), returned sorted that way."""
    d = dim.prep.distance_m(poly, lon[row], lat[row])
    order = np.lexsort((dim.rank[poly], d, row))
    row, poly, d = row[order], poly[order], d[order]
    pos = np.arange(len(row))
    first = np.ones(len(row), dtype=bool)
    first[1:] = row[1:] != row[:-1]
    keep = pos - np.maximum.accumulate(np.where(first, pos, 0)) < k
    return row[keep], poly[keep], d[keep]


def _prune(dim: _Dim, row, poly, lat, lon, k: int):
    """Drop the (row, poly) pairs, grouped by row, that cannot be among their
    row's k best, by bounds on ``distance_m`` (the bound-based candidate
    pruning of "Distributed Stream KNN Join", SIGMOD 2021).

    In distance_m's metric (lon scaled by cos(lat) of the point) a ring lies
    inside its plot's lon/lat bbox, so the distance to the bbox is a lower
    bound ``lb`` and the distance to its farthest corner an upper bound
    ``ub``; a pair whose point lies in the bbox and in the ring
    (``PreparedPolygons.contains``, distance_m's d == 0 rule) has ub = 0.
    Each row's k-th smallest ub bounds its k-th best distance from above, so
    a pair with lb above it (plus ``_BOUND_SLACK_M``) loses to k others.
    Ties survive, so ``_best`` still breaks them on plot rank."""
    px, py = lon[row], lat[row]
    sx = np.cos(np.radians(py)) * _DEG_M
    x0, x1, y0, y1 = (b[poly] for b in dim.bbox)
    gx = np.maximum(np.maximum(x0 - px, px - x1), 0.0) * sx
    gy = np.maximum(np.maximum(y0 - py, py - y1), 0.0) * _DEG_M
    fx = np.maximum(np.abs(x0 - px), np.abs(x1 - px)) * sx
    fy = np.maximum(np.abs(y0 - py), np.abs(y1 - py)) * _DEG_M
    lb, ub = np.sqrt(gx * gx + gy * gy), np.sqrt(fx * fx + fy * fy)
    inbox = np.flatnonzero(lb == 0.0)
    ub[inbox[dim.prep.contains(poly[inbox], px[inbox], py[inbox])]] = 0.0
    # per row, the k-th smallest ub (inf below k pairs) over a dense
    # (rows x max pairs per row) matrix padded with inf
    first = np.flatnonzero(np.r_[True, row[1:] != row[:-1]])
    cnt = np.diff(np.r_[first, len(row)])
    seg = np.repeat(np.arange(len(first)), cnt)
    grid = np.full((len(first), max(cnt.max(initial=0), k)), np.inf)
    grid[seg, np.arange(len(row)) - first[seg]] = ub
    kth = np.partition(grid, k - 1, axis=1)[:, k - 1]
    keep = lb - _BOUND_SLACK_M <= kth[seg]
    return row[keep], poly[keep]


def _topk(dim: _Dim, lat, lon, cell, k: int, exact: bool):
    """The candidate kernel of every operator: per point (row of the batch)
    its k best plots on (dist, plot rank), as flat (row, poly, dist) arrays
    sorted by row, then rank. Rows with a null coordinate get no plot.

    ``exact``: certify each row's answer with the ring-reach guard and
    answer the rest from all plots, bound-pruned (``_prune``) and refined.
    Containment alone (``pip_join``) needs no guard: a raw covering holds
    every polygon containing the point.
    """
    n = len(lat)
    valid = ~(np.isnan(lat) | np.isnan(lon))
    if cell is None or cell.dtype != np.int64:
        # a nullable cell column arrives as float64, too coarse for 62-bit ids
        cell = np.zeros(n, dtype=np.int64)
        cell[valid] = hexgrid.h3_encode(lat[valid], lon[valid], dim.res)
    pos = np.minimum(np.searchsorted(dim.cells, cell), len(dim.cells) - 1)
    lo = dim.offsets[pos]
    cnt = np.where(valid & (dim.cells[pos] == cell), dim.offsets[pos + 1] - lo, 0)
    row = np.repeat(np.arange(n), cnt)
    poly = dim.idx[np.arange(len(row)) + np.repeat(lo - (np.cumsum(cnt) - cnt), cnt)]
    row, poly, d = _best(dim, *_prune(dim, row, poly, lat, lon, k), lat, lon, k)
    if not exact:
        return row, poly, d

    # an in-ring answer is exact when it has min(k, P) candidates and its
    # k-th lies within the ring's guaranteed reach; a polygon covered just
    # outside the ring could beat any other
    n_polys = len(dim.ids)
    last = np.ones(len(row), dtype=bool)
    last[:-1] = row[1:] != row[:-1]
    dk = np.full(n, np.inf)
    dk[row[last]] = d[last]
    few = np.bincount(row, minlength=n) < min(k, n_polys)
    with np.errstate(invalid="ignore"):
        redo = np.flatnonzero(valid & (few | (dk > _ring_reach_m(dim.ring, dim.res, lat))))
    if not len(redo):
        return row, poly, d
    keep = ~np.isin(row, redo)
    parts = [(row[keep], poly[keep], d[keep])]
    step = max(1, _REDO_PAIRS // n_polys)
    for s in range(0, len(redo), step):
        r = redo[s:s + step]
        pairs = _prune(dim, np.repeat(r, n_polys), np.tile(np.arange(n_polys), len(r)), lat, lon, k)
        parts.append(_best(dim, *pairs, lat, lon, k))
    row, poly, d = (np.concatenate(a) for a in zip(*parts))
    order = np.argsort(row, kind="stable")
    return row[order], poly[order], d[order]


def _emit_resolve(dim: _Dim, n: int, row, poly, d) -> pd.DataFrame:
    plot_id = np.full(n, None, dtype=object)
    via = np.full(n, None, dtype=object)
    plot_id[row] = dim.ids[poly]
    via[row] = np.where(d == 0.0, "contains", "nearest")
    return pd.DataFrame({"plot_id": plot_id, "matched_via": via})


def _emit_contains(dim: _Dim, n: int, row, poly, d) -> pd.Series:
    plot_id = np.full(n, None, dtype=object)
    inside = d == 0.0
    plot_id[row[inside]] = dim.ids[poly[inside]]
    return pd.Series([[] if p is None else [p] for p in plot_id.tolist()])


def _emit_knn(dim: _Dim, n: int, row, poly, d) -> pd.Series:
    ids, dist = dim.ids[poly].tolist(), d.tolist()
    bounds = np.searchsorted(row, np.arange(n + 1)).tolist()
    return pd.Series([
        [(ids[j], dist[j], j - a + 1) for j in range(a, b)]
        for a, b in zip(bounds[:-1], bounds[1:])
    ])


def _lookup_udf(dim: _Dim, k: int, exact: bool, return_type: str, emit):
    """One scalar pandas_udf over (lat, lon[, cell]): ``_topk`` per Arrow
    batch, then ``emit`` shapes one output value per input row."""

    @pandas_udf(return_type)
    def _f(lat: pd.Series, lon: pd.Series, *cell: pd.Series) -> pd.Series:
        la, lo = lat.to_numpy(np.float64), lon.to_numpy(np.float64)
        c = cell[0].to_numpy() if cell else None
        return emit(dim, len(la), *_topk(dim, la, lo, c, k, exact))

    return _f


def resolve_plots(
    spark,
    points: DataFrame,
    plots: DataFrame | pd.DataFrame,
    lat_col: str = "centroid_lat",
    lon_col: str = "centroid_lon",
    res: int | None = None,
    ring: int = 1,
    cell_col: str | None = None,
) -> DataFrame:
    """The reference's full lookup semantics (``plotid_by_latlon.py:51-77``):
    containment first ('contains'), else nearest polygon ('nearest'); ties on
    either break to min plot_id. One output row per input row: points'
    columns + plot_id + matched_via, both null where a coordinate is null.
    ``cell_col``: the point's precomputed cell ID at exactly ``res`` (skips
    the re-encode)."""
    f = _lookup_udf(_Dim(plots, res, ring, keep_k=1), 1, True,
                    "plot_id string, matched_via string", _emit_resolve)
    coords = (lat_col, lon_col) + ((cell_col,) if cell_col else ())
    return points.withColumn("_resolved", f(*coords)).select(
        *points.columns, "_resolved.plot_id", "_resolved.matched_via"
    )


def pip_join(
    spark,
    points: DataFrame,
    plots: DataFrame | pd.DataFrame,
    lat_col: str = "centroid_lat",
    lon_col: str = "centroid_lon",
    res: int | None = None,
) -> DataFrame:
    """Containment join: one output row per input row that lies in (or on the
    boundary of) some polygon, with ``plot_id`` = min matching id. Output:
    points' columns + ``plot_id``."""
    # containment has no ring-reach tradeoff, so the covering can go one res
    # finer than the kNN default: at sub-polygon cell size each cell is
    # claimed by ~4 polys instead of ~26 (measured at the 864-plot dim)
    dim = _Dim(plots, res, ring=0, keep_k=1, res_hi=14)
    # the kernel returns [] or [plot_id] and the JVM explodes it: a filter on
    # a UDF column would be pushed below the projection and run the UDF twice
    f = _lookup_udf(dim, 1, False, "array<string>", _emit_contains)
    return points.select("*", F.explode(f(lat_col, lon_col)).alias("plot_id"))


def knn_join(
    spark,
    points: DataFrame,
    plots: DataFrame | pd.DataFrame,
    k: int = 1,
    lat_col: str = "centroid_lat",
    lon_col: str = "centroid_lon",
    res: int | None = None,
    ring: int = 2,
) -> DataFrame:
    """k nearest polygons per point (distance 0 if containing), exact, ties
    to the min plot_id: min(k, P) output rows per input row with a location.
    Output: points' columns + plot_id + dist_m + knn_rank (1..k).

    ``res`` (default ``choose_res``) and ``ring`` set the in-ring search; a
    wider ring is cheap (the dilation lives in the dim) and certifies more
    points without the in-batch brute force."""
    f = _lookup_udf(
        _Dim(plots, res, ring, keep_k=k), k, True,
        "array<struct<plot_id: string, dist_m: double, knn_rank: int>>", _emit_knn,
    )
    return points.select("*", F.inline(f(lat_col, lon_col)))

"""Within-radius point<->point self-join (distance join, both sides huge).

Engine-added capability (J-family widening): "every pair of points within
r meters" — co-visit detection, proximity dedup of POI extractions,
cluster seeding. This is a genuinely different scale shape from the
pip/kNN suite: there is NO broadcastable dim — both sides are the full
point table — so the join must be a CELL-BUCKETED shuffle equi-join.

Scale design (10^12 points):
- Points are narrow (id, lat, lon) + one h3 cell; ONE side explodes its
  k-ring (bounded: ring chosen so 3k^2+3k+1 stays ~19-37 cells) and the
  equi-join on the cell key co-partitions both sides — no broadcast, no
  cross join, shuffle keyed by cells (spatially uniform keys unless the
  data is point-degenerate; dense hotspots bound candidates by local
  density x ring cells — cap/salt with ``operators/skew`` if a single
  cell's density is pathological).
- Soundness (same lattice bound as ``pip_knn._ring_reach_m``): hex centers
  at grid distance g are >= 1.5*g*s apart in projected meters; each point
  is within s of its cell center; true meters >= projected * cos(lat). So
  any pair within ``radius_m`` true meters has grid distance
  g <= (radius/(s*cos) + 2) / 1.5 — ``ring`` is that ceiling (with
  ``max_abs_lat`` bounding cos), and the default ``res`` is the finest
  cell with s >= 2*radius so ring lands at ~2.
- Each unordered pair survives exactly once: the k-ring is symmetric, so
  (a, b) appears from both orientations and ``id_a < id_b`` keeps one —
  no distinct pass.
- The exact refine is the engine's frozen equirectangular formula
  (anchored at the smaller id's latitude), Arrow-batched, distance
  reported rounded to cm (the knn oracles' proven cross-engine surface).

Reference analog: none — the reference never relates two observations;
this is the corpus-scale widening of its single-point plot lookup.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions import hexgrid
from ..functions.geodesy import R_MEAN
from ..functions.spark_udfs import h3_udf
from .pip_knn import _ensure_parallel

_DEG = math.pi / 180.0 * R_MEAN


def _kring_udf(ring: int):
    @pandas_udf("array<long>")
    def _f(cell: pd.Series) -> pd.Series:
        cells = cell.to_numpy(np.int64)
        idx, dilated = hexgrid.kring_batch(cells, ring)
        counts = np.bincount(idx, minlength=len(cells))
        offs = np.concatenate(([0], np.cumsum(counts)))
        return pd.Series([dilated[offs[i]:offs[i + 1]] for i in range(len(cells))])

    return _f


def _pair_dist_udf():
    @pandas_udf("double")
    def _f(lat_a: pd.Series, lon_a: pd.Series,
           lat_b: pd.Series, lon_b: pd.Series) -> pd.Series:
        ya = lat_a.to_numpy(np.float64)
        xa = lon_a.to_numpy(np.float64)
        yb = lat_b.to_numpy(np.float64)
        xb = lon_b.to_numpy(np.float64)
        # frozen equirect plane anchored at point a's latitude — written as
        # explicit products so the DuckDB oracle replays it literally.
        # Returned UNROUNDED: integer-cm fixed point happens JVM-side as
        # round(d * 100, 0) — the 0-decimal F.round == DuckDB round pairing
        # (the ONLY decimals the families agree at; CLAUDE.md)
        dx = (xb - xa) * np.cos(np.radians(ya)) * _DEG
        dy = (yb - ya) * _DEG
        return pd.Series(np.sqrt(dx * dx + dy * dy))

    return _f


def pick_res_ring(radius_m: float, max_abs_lat: float = 66.0) -> tuple[int, int]:
    """Finest resolution with cell size >= 2*radius, and the sound ring."""
    res = hexgrid.MIN_RES
    for r in range(hexgrid.MIN_RES, hexgrid.MAX_RES + 1):
        if float(hexgrid.res_size_m(r)) >= 2.0 * radius_m:
            res = r
        else:
            break
    s = float(hexgrid.res_size_m(res))
    cos_min = math.cos(math.radians(max_abs_lat))
    ring = math.ceil((radius_m / (s * cos_min) + 2.0) / 1.5)
    return res, ring


def radius_self_join(
    spark,
    pts: DataFrame,
    radius_m: float,
    id_col: str = "event_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    res: int | None = None,
    ring: int | None = None,
    max_abs_lat: float = 66.0,
) -> DataFrame:
    """All unordered pairs within ``radius_m`` meters:
    (id_a, id_b, dist_m, dist_cm) with id_a < id_b.

    The radius decision is made on an INTEGER: dist_cm = round(d * 100, 0)
    cast long — the 0-decimal JVM round == DuckDB round pairing CLAUDE.md
    proves, vs the fractional round(d, 2) <= radius the operator used
    before, which rode the shortest-repr-vs-exact-binary divergence the
    engines show at >= 1 decimal (ADVICE r4, knox_test). dist_m is then
    DERIVED as dist_cm / 100.0 (one correctly-rounded int/double division,
    bit-identical in any IEEE engine), so no emitted or compared value
    ever passes through fractional rounding."""
    if res is None or ring is None:
        d_res, d_ring = pick_res_ring(radius_m, max_abs_lat)
        res = d_res if res is None else res
        ring = d_ring if ring is None else ring

    narrow = _ensure_parallel(
        spark, pts.select(id_col, lat_col, lon_col)
    ).withColumn("_cell", h3_udf(res)(lat_col, lon_col))

    left = narrow.select(
        F.col(id_col).alias("id_a"),
        F.col(lat_col).alias("_lat_a"),
        F.col(lon_col).alias("_lon_a"),
        F.explode(_kring_udf(ring)("_cell")).alias("_kcell"),
    )
    right = narrow.select(
        F.col(id_col).alias("id_b"),
        F.col(lat_col).alias("_lat_b"),
        F.col(lon_col).alias("_lon_b"),
        F.col("_cell").alias("_cell_b"),
    )
    cand = left.join(right, left["_kcell"] == right["_cell_b"]).filter(
        F.col("id_a") < F.col("id_b")
    )
    out = cand.withColumn(
        "dist_cm",
        F.round(
            _pair_dist_udf()("_lat_a", "_lon_a", "_lat_b", "_lon_b") * 100.0, 0
        ).cast("long"),
    ).filter(F.col("dist_cm") <= int(round(radius_m * 100)))
    return out.select(
        "id_a", "id_b", (F.col("dist_cm") / F.lit(100.0)).alias("dist_m"),
        "dist_cm",
    )


def cluster_pairs(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Connected components over a pair graph -> (id, canonical_id).

    Min-label propagation WITH POINTER JUMPING in pure DataFrame ops: each
    round every node adopts the smallest label among its neighbors, then
    shortcuts through its own label (``L(u) <- L(L(u))``, a labels-on-labels
    self-join) — so label distance to the component minimum HALVES per round
    and convergence is O(log diameter), not O(diameter).  Geometry
    components (``spatial_cluster``, ``dbscan``) are
    chain-shaped with diameters in the hundreds — the jump is what makes
    those converge in ~10 rounds.  The
    jump is sound because label values are always member ids of the same
    component and only decrease; the fixed point (labels equal across every
    edge AND self-consistent under jumping) is the component minimum.
    Input: (id_a, id_b) with id_a < id_b.

    Scale hardening (each round's work stays O(|edges|), never O(rounds^2)):
    - edges persist once (reused every round);
    - ONE eager action per round (r6): neighbor-min + TWO pointer-jump
      squarings are built as a single lazy plan over the previous round's
      materialized labels, then ``localCheckpoint``-ed once — lineage
      truncates, so round N's plan never replays rounds 1..N-1 (plan depth
      is constant; pinned by ``test_cluster_pairs_deep_chain_bounded_plan``),
      and label distance to the component minimum shrinks ~4x per round
      instead of ~2x (fewer rounds on chain-shaped geometry components);
    - the convergence probe is a scalar sum over the one checkpointed label
      frame (labels only ever DECREASE, so an unchanged exact sum == fixed
      point) — no join, no second materialization;
    - round shuffles run under ``coalesced_small_shuffles`` (iterhelp):
      post-shuffle partitions merge by size, so a few-thousand-row label
      table stops paying full-width reduce stages every round;
    - exiting via max_iters (clusters possibly split) warns loudly instead of
      silently returning.
    """
    from pyspark import StorageLevel

    from .iterhelp import coalesced_small_shuffles

    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    spark = pairs.sparkSession
    converged = False
    # materialize the pair pipeline + edge persist at FULL width before
    # entering the coalesced scope: the upstream candidate generator may
    # carry Arrow/pandas stages (radius_self_join's refine) whose reduce
    # parallelism must not be coalesced away (r6 — measured 3x regression
    # on an Arrow-built pair graph when this job ran in-scope)
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    with coalesced_small_shuffles(spark):
        prev_sum = object()  # sentinel != any sum (None == empty-frame sum)
        for _ in range(max_iters):
            # neighbor labels: for each node, the min label among neighbors
            neigh = (
                edges.join(labels.withColumnRenamed("id", "dst"), "dst")
                .groupBy("src")
                .agg(F.min("label").alias("nlabel"))
                .withColumnRenamed("src", "id")
            )
            stepped = labels.join(neigh, "id", "left").select(
                "id",
                F.least(F.col("label"), F.coalesce("nlabel", F.col("label"))).alias("label"),
            )
            # pointer jump, squared twice in the same plan: L <- L(L(u))
            # applied to its own result. Label values are node ids with
            # edges, so the left joins hit (coalesce guards degenerates);
            # extra compositions only accelerate convergence — labels still
            # only decrease and stay member ids, so the fixed point (the
            # component minimum) is unchanged.
            j1 = stepped.join(
                stepped.select(F.col("id").alias("label"), F.col("label").alias("_p1")),
                "label",
                "left",
            ).select("id", F.coalesce("_p1", F.col("label")).alias("label"))
            j2 = j1.join(
                j1.select(F.col("id").alias("label"), F.col("label").alias("_p2")),
                "label",
                "left",
            ).select("id", F.coalesce("_p2", F.col("label")).alias("label"))
            new_labels = j2.localCheckpoint(eager=True)
            # exact decimal sum: labels only decrease, so equal sum <=> no
            # label changed (elementwise new <= old); decimal(38,0) cannot
            # overflow for any realistic row count x int64 label
            cur_sum = new_labels.agg(
                F.sum(F.col("label").cast("decimal(38,0)"))
            ).first()[0]
            labels = new_labels
            if cur_sum == prev_sum:
                converged = True
                break
            prev_sum = cur_sum
    edges.unpersist()
    if not converged:
        import warnings

        warnings.warn(
            f"cluster_pairs hit max_iters={max_iters} without converging; "
            "clusters may be split (raise max_iters for deep chain graphs)",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select("id", F.col("label").alias("canonical_id"))


def spatial_cluster(
    spark,
    pts: DataFrame,
    radius_m: float,
    id_col: str = "event_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    max_iters: int = 40,
    **radius_kwargs,
) -> DataFrame:
    """Single-linkage spatial clustering: connected components of the
    within-``radius_m`` pair graph -> (id, cluster_id, cluster_size).

    The DBSCAN-shaped primitive (minPts=1 single linkage) for POI
    consolidation / duplicate-extraction collapse / scan-stop detection:
    two points share a cluster iff a chain of <= radius_m hops connects
    them.  cluster_id is the MIN point id in the component (the engine-wide
    canonical tie-break); points with no neighbor are their own singleton
    cluster, so every input row comes back exactly once.

    Pure composition of two proven operators — the edge generator is
    ``radius_self_join`` (cell-bucketed, no broadcast side, bounded k-ring
    fan-out; never O(n^2)) and the component solver is
    ``cluster_pairs`` (checkpointed min-label propagation, one
    id-keyed shuffle per round, O(graph diameter) rounds — chain-shaped
    point strings are the deep case; raise ``max_iters`` there).  The
    size annotation adds one cluster_id-keyed count + join back, both on
    the narrow (id, cluster_id) frame.

    Reference analog: none (the reference never relates two observations);
    this widens its single-point plot lookup to corpus-scale geometry.
    """
    pairs = radius_self_join(
        spark, pts, radius_m, id_col=id_col, lat_col=lat_col,
        lon_col=lon_col, **radius_kwargs,
    )
    comp = cluster_pairs(pairs.select("id_a", "id_b"), max_iters=max_iters)
    labeled = (
        pts.select(F.col(id_col).alias("id"))
        .join(comp, "id", "left")
        .select("id", F.coalesce("canonical_id", F.col("id")).alias("cluster_id"))
    )
    sizes = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return labeled.join(sizes, "cluster_id").select(
        "id", "cluster_id", "cluster_size"
    )


def dbscan(
    spark,
    pts: DataFrame,
    eps_m: float,
    min_pts: int,
    id_col: str = "event_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Density-based clustering (DBSCAN) -> (id, cluster_id, role).

    Standard semantics on the engine's exact pair graph: a point is CORE
    iff its closed eps-neighborhood has >= min_pts points (itself
    included); clusters are connected components of the CORE-CORE
    eps-graph (pointer-jumping ``cluster_pairs`` — O(log diameter)
    rounds); BORDER points (non-core within eps of a core) join the
    SMALLEST cluster id among their core neighbors (the deterministic
    resolution of DBSCAN's classic border ambiguity — order-dependence is
    exactly what an exact oracle cannot tolerate); everything else is
    NOISE with cluster_id = -1.  cluster_id = min member id.

    Scale: one cell-bucketed radius self-join builds the eps-graph (the
    radius_self_join machinery — no broadcast side, bounded ring
    fan-out); degrees/core flags are one symmetric-edge aggregate; the
    component rounds touch only core-core edges.  min_pts-1 caps nothing
    silently: a dense blob's edges are already bounded by the radius
    join's cell discipline."""
    from .pip_knn import _cache_scoped

    pairs = _cache_scoped(
        "dbscan_pairs",
        radius_self_join(spark, pts, eps_m, id_col, lat_col, lon_col).select(
            "id_a", "id_b"
        ),
    )
    sym = pairs.unionByName(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    deg = sym.groupBy(F.col("id_a").alias("id")).agg(
        F.count(F.lit(1)).alias("_nbrs")
    )
    ids = pts.select(F.col(id_col).alias("id"))
    deg_all = ids.join(deg, "id", "left").select(
        "id", (F.coalesce(F.col("_nbrs"), F.lit(0)) + 1).alias("_n")
    )
    cores = deg_all.filter(F.col("_n") >= min_pts).select("id")
    core_edges = (
        pairs.join(cores.select(F.col("id").alias("id_a")), "id_a", "left_semi")
        .join(cores.select(F.col("id").alias("id_b")), "id_b", "left_semi")
        .select("id_a", "id_b")
    )
    comp = cluster_pairs(core_edges)
    core_label = cores.join(comp, "id", "left").select(
        "id", F.coalesce(F.col("canonical_id"), F.col("id")).alias("cluster_id")
    )
    nbr_core = sym.join(
        core_label.select(F.col("id").alias("id_b"), "cluster_id"), "id_b"
    ).groupBy(F.col("id_a").alias("id")).agg(
        F.min("cluster_id").alias("_bcl")
    )
    out = (
        ids.join(core_label.withColumn("_role", F.lit("core")), "id", "left")
        .join(nbr_core, "id", "left")
        .select(
            "id",
            F.coalesce(
                F.col("cluster_id"),
                F.when(F.col("_role").isNull(), F.col("_bcl")),
                F.lit(-1),
            ).cast("long").alias("cluster_id"),
            F.coalesce(
                F.col("_role"),
                F.when(F.col("_bcl").isNotNull(), F.lit("border")),
                F.lit("noise"),
            ).alias("role"),
        )
    )
    return out

"""Scan-leg segmentation: split a point trajectory at direction reversals.

The reference's gantry sweeps a field in boustrophedon passes — every
position record belongs to a "leg" (one pass of the scanner), but the
reference never reconstructs them (it handles one observation at a time,
``/root/reference/sensorposition/terra_sensorposition.py:51-58``).  At
corpus scale the same primitive segments any per-user movement stream
(crawler traces, vehicle tracks, sensor sweeps) into maximal runs of
consistent heading:

- each consecutive STEP (prev point -> point, ordered by (ts, id) within
  the user — the engine's frozen sessionization tie-break) gets a
  direction code: dominant axis + sign (0=E, 1=W, 2=N, 3=S), an exact
  comparison on exact double deltas;
- a leg is a maximal run of equal-code steps; ``leg_id`` is the running
  count of code changes (lag + cumulative sum);
- per-leg rollup: step count, path length, start/end time, the code.

Scale design: the lag window and the change-flag cumulative sum ride ONE
user-keyed Exchange (the ``sessions.py`` contract).  Step length uses
the engine's frozen equirectangular NumPy kernel (one Arrow pass; JVM
trig is not bit-stable against the oracle — CLAUDE.md), and the Arrow
node drops the child's partitioning info, so the (user, leg) rollup
re-shuffles — but its PARTIAL aggregate runs map-side first, so that
second Exchange moves only collapsed per-leg rows (≤ legs/partition,
not steps; plan-shape pinned: partial agg strictly below the exchange).
Distances are rounded to EXACT INTEGER centimeters before summing, so
per-leg length is an order-independent int64 sum, bit-identical under
any partitioning (integer sums do not depend on the reduce order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .radius_join import _pair_dist_udf


def scan_legs(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """(user, leg_id, dir_code, n_steps, length_cm, t_start, t_end) —
    one row per maximal constant-heading run.  Single-point users emit
    nothing (a leg is a run of steps, and they have none)."""
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    s = (
        df.select(user_col, ts_col, id_col, lat_col, lon_col)
        .withColumn("_plat", F.lag(lat_col).over(w))
        .withColumn("_plon", F.lag(lon_col).over(w))
        .withColumn("_pts", F.lag(ts_col).over(w))
    )
    dx = F.col(lon_col) - F.col("_plon")
    dy = F.col(lat_col) - F.col("_plat")
    code = F.when(
        F.abs(dx) >= F.abs(dy),
        F.when(dx >= 0, F.lit(0)).otherwise(F.lit(1)),
    ).otherwise(F.when(dy >= 0, F.lit(2)).otherwise(F.lit(3)))
    steps = s.filter(F.col("_plat").isNotNull()).withColumn("_code", code)
    brk = (
        F.lag("_code").over(w).isNull()
        | (F.col("_code") != F.lag("_code").over(w))
    ).cast("long")
    steps = steps.withColumn(
        "_leg",
        F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    # anchored at the PREVIOUS (earlier) point's latitude — the frozen
    # equirect pairing the radius/knn oracles already prove cross-engine
    dist_cm = F.round(
        _pair_dist_udf()("_plat", "_plon", lat_col, lon_col) * 100.0, 0
    ).cast("long")
    steps = steps.withColumn("_dcm", dist_cm)
    return steps.groupBy(
        F.col(user_col), F.col("_leg").alias("leg_id")
    ).agg(
        F.min("_code").alias("dir_code"),
        F.count(F.lit(1)).alias("n_steps"),
        F.sum("_dcm").alias("length_cm"),
        F.min("_pts").alias("t_start"),
        F.max(ts_col).alias("t_end"),
    )


def track_crossings(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    x_col: str = "xi",
    y_col: str = "yi",
) -> DataFrame:
    """Per-trajectory SELF-INTERSECTION count: how often a user's path
    crosses itself — a sweep-line primitive in classical geometry engines,
    here a per-key bounded pair join over EXACT INTEGER coordinates.

    Input coordinates must already be quantized to integers (the
    ``idw_surface`` rule: quantize once, derive all geometry from exact
    ints).  Consecutive points (ordered by ``(ts, id)`` — the frozen
    sessionization tie-break) form segments; a CROSSING is a strictly
    proper intersection between two non-adjacent segments of the same
    user, decided by four orientation SIGN tests (never the o1*o2
    product, which squares the magnitude budget — the ``kendall`` rule).
    Degenerate cases are excluded by strictness itself: shared endpoints,
    touchings, and collinear overlaps all make some orientation 0.

    Scale design: pair fan-out is n_segments^2/2 PER KEY (the
    ``theil_sen`` per-key stream-length contract); the join is one
    user-keyed shuffle reusing the window's Exchange, a cheap integer
    bounding-box reject runs before the orientation tests, and the
    output is one row per user (crossings + segment count), so nothing
    wide survives the fan-out.  Coordinate DELTAS bound the products:
    with per-key coordinate spans < 2^31 units every orientation fits
    int64 regardless of the absolute quantized magnitude.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    segs = (
        df.select(user_col, ts_col, id_col, x_col, y_col)
        .withColumn("_i", F.row_number().over(w))
        .withColumn("_bx", F.lead(x_col).over(w))
        .withColumn("_by", F.lead(y_col).over(w))
        .filter(F.col("_bx").isNotNull())
        .select(
            F.col(user_col),
            F.col("_i"),
            F.col(x_col).alias("_ax"),
            F.col(y_col).alias("_ay"),
            "_bx",
            "_by",
        )
    )
    n_segs = segs.groupBy(user_col).agg(
        F.count(F.lit(1)).alias("n_segments")
    )
    a = segs
    b = (
        segs.select(
            F.col(user_col),
            F.col("_i").alias("_j"),
            F.col("_ax").alias("_cx"),
            F.col("_ay").alias("_cy"),
            F.col("_bx").alias("_dx"),
            F.col("_by").alias("_dy"),
        )
    )
    p = a.join(b, user_col).filter(F.col("_j") > F.col("_i") + 1)
    # integer bounding-box reject before the orientation arithmetic
    p = p.filter(
        (F.greatest("_ax", "_bx") >= F.least("_cx", "_dx"))
        & (F.greatest("_cx", "_dx") >= F.least("_ax", "_bx"))
        & (F.greatest("_ay", "_by") >= F.least("_cy", "_dy"))
        & (F.greatest("_cy", "_dy") >= F.least("_ay", "_by"))
    )

    def orient(ax, ay, bx, by, cx, cy):
        return (F.col(bx) - F.col(ax)) * (F.col(cy) - F.col(ay)) - (
            F.col(by) - F.col(ay)
        ) * (F.col(cx) - F.col(ax))

    o1 = orient("_ax", "_ay", "_bx", "_by", "_cx", "_cy")
    o2 = orient("_ax", "_ay", "_bx", "_by", "_dx", "_dy")
    o3 = orient("_cx", "_cy", "_dx", "_dy", "_ax", "_ay")
    o4 = orient("_cx", "_cy", "_dx", "_dy", "_bx", "_by")
    cross = (((o1 > 0) & (o2 < 0)) | ((o1 < 0) & (o2 > 0))) & (
        ((o3 > 0) & (o4 < 0)) | ((o3 < 0) & (o4 > 0))
    )
    counts = p.groupBy(user_col).agg(
        F.sum(cross.cast("long")).alias("n_crossings")
    )
    return n_segs.join(counts, user_col, "left").select(
        F.col(user_col),
        F.col("n_segments").cast("long").alias("n_segments"),
        F.coalesce(F.col("n_crossings"), F.lit(0)).cast("long").alias("n_crossings"),
    )


def track_diameter(
    pts: DataFrame,
    max_len: int = 64,
    user_col: str = "user_id",
    x_col: str = "px",
    y_col: str = "py",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
) -> DataFrame:
    """Per-key track diameter -> (user_id, n_pts, d2, ax, ay, bx, by):
    the maximum squared Euclidean separation between any two DISTINCT
    visited positions (the mobility literature's maximum displacement,
    the span sibling of radius_gyration), plus the achieving pair.

    Bounds ARE the semantics: the first ``max_len`` points by
    ``order_cols`` (a trace-segmentation cap), deduplicated; keys
    with < 2 distinct positions have no pair and are excluded by
    definition. Squared int64 distances only — no sqrt, no float.
    int64 envelope (the hull _orient discipline): coordinate spans
    within a key must stay |dx|, |dy| < ~3e9 so dx^2 + dy^2 < 2^63 —
    holds for any nanodegree field-local track; re-center per key
    before calling on globally-spread inputs.

    Tie-break (frozen): among max-d2 pairs the lexicographically least
    (ax, ay, bx, by), with each pair oriented (a < b) by (x, y).

    Plan: cap window -> distinct -> one self-equi-join on the key
    (pairs bounded at max_len^2 per key, never data-squared) -> one
    min_by composite argmax (the repo's no-window top-1 rule). Zero
    UDFs, pure codegen."""
    w = Window.partitionBy(user_col).orderBy(*[F.col(c) for c in order_cols])
    p = (
        pts.withColumn("_s", F.row_number().over(w))
        .filter(F.col("_s") <= max_len)
        .select(
            F.col(user_col).alias("u"),
            F.col(x_col).cast("long").alias("x"),
            F.col(y_col).cast("long").alias("y"),
        )
        .distinct()
    )
    a = p.select("u", F.col("x").alias("ax"), F.col("y").alias("ay"))
    b = p.select("u", F.col("x").alias("bx"), F.col("y").alias("by"))
    pairs = a.join(b, "u").filter(
        (F.col("ax") < F.col("bx"))
        | ((F.col("ax") == F.col("bx")) & (F.col("ay") < F.col("by")))
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    n = p.groupBy("u").agg(F.count("*").alias("n_pts"))
    best = (
        pairs.withColumn("_d2", d2)
        .groupBy("u")
        .agg(
            F.max("_d2").alias("d2"),
            F.min_by(
                F.struct("ax", "ay", "bx", "by"),
                F.struct(
                    (-F.col("_d2")).alias("k0"),
                    F.col("ax").alias("k1"),
                    F.col("ay").alias("k2"),
                    F.col("bx").alias("k3"),
                    F.col("by").alias("k4"),
                ),
            ).alias("p"),
        )
    )
    return best.join(n, "u").select(
        F.col("u").alias("user_id"),
        F.col("n_pts").cast("long").alias("n_pts"),
        F.col("d2").cast("long").alias("d2"),
        F.col("p.ax").alias("ax"),
        F.col("p.ay").alias("ay"),
        F.col("p.bx").alias("bx"),
        F.col("p.by").alias("by"),
    )


def octant_sector(dx, dy):
    """Column: compass octant 0..7 of an integer step vector (dx, dy),
    half-open sectors [k*45, (k+1)*45) counterclockwise from east —
    ZERO trig, pure sign/magnitude integer comparisons, so the
    classification is exact in any engine (the boundary cases are
    pinned per-degree in tests/test_move_rose.py).  Caller must drop
    (0, 0) steps; the chain's ELSE would otherwise absorb them."""
    return (
        F.when((dx > 0) & (dy >= 0) & (dx > dy), 0)
        .when((dy > 0) & (dx > 0), 1)
        .when((dx <= 0) & (dy > 0) & (dy > (-dx)), 2)
        .when((dy > 0) & (dx < 0), 3)
        .when((dx < 0) & (dy <= 0) & ((-dx) > (-dy)), 4)
        .when((dy < 0) & (dx < 0), 5)
        .when((dx >= 0) & (dy < 0) & ((-dy) > dx), 6)
        .otherwise(7)
    )


def rdp_keep(
    pts: DataFrame, eps: int, user_col: str = "user_id",
) -> DataFrame:
    """Bounded-depth (2-level) Ramer-Douglas-Peucker polyline keep set —
    trajectory compression with EXACT integer geometry: the
    perpendicular-distance test  dist > eps  is evaluated as
    cross^2 > eps^2 * |chord|^2  (both sides exact int64 — the
    track_crossings orientation discipline applied to magnitudes), and
    the per-segment splitter is the (|cross| desc, seq asc) argmax via
    min_by, so every decision is exact and cross-engine replayable.

    ``pts``: (user, seq, x, y) — seq ordered 1..n per user, x/y integer
    MICROdegrees (the depth-2 budget: cross ~ span^2 must stay < 2^63,
    which nanodegrees break at city-scale spans; callers with bigger
    spans re-scale accordingly).  Depth is FIXED at 2 (a fixed round
    count keeps the plan static — full RDP recursion depth is data-dependent
    and unreplayable as a static plan): level 1 splits on the
    first..last chord, level 2 on each significant half.  Returns the
    kept (user, seq, x, y) rows: endpoints + up to 3 splitters.

    Plan: every level is one endpoints aggregate + one interior join +
    one min_by argmax — three user-keyed shuffles total, no UDF, no
    recursion."""
    n = pts.groupBy(user_col).agg(F.max("seq").alias("n"))
    ends = (
        pts.join(n, user_col)
        .filter((F.col("seq") == 1) | (F.col("seq") == F.col("n")))
    )
    a = pts.filter(F.col("seq") == 1).select(
        user_col, F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = (
        pts.join(n, user_col)
        .filter(F.col("seq") == F.col("n"))
        .select(user_col, F.col("x").alias("xb"), F.col("y").alias("yb"))
    )

    def _split(interior: DataFrame, aa: DataFrame, bb: DataFrame,
               extra_keys: list[str]) -> DataFrame:
        """argmax-|cross| splitter per (user, *extra_keys), kept iff
        cross^2 > eps^2 * chord^2."""
        j = interior.join(aa, [user_col] + extra_keys).join(
            bb, [user_col] + extra_keys
        )
        cross = (
            (F.col("x") - F.col("xa")) * (F.col("yb") - F.col("ya"))
            - (F.col("y") - F.col("ya")) * (F.col("xb") - F.col("xa"))
        )
        scored = j.select(
            user_col, *extra_keys, "seq", "x", "y",
            F.abs(cross).alias("ac"),
            (
                (F.col("xb") - F.col("xa")) * (F.col("xb") - F.col("xa"))
                + (F.col("yb") - F.col("ya")) * (F.col("yb") - F.col("ya"))
            ).alias("l2"),
        )
        win = scored.groupBy(user_col, *extra_keys).agg(
            F.min_by(
                F.struct("seq", "x", "y", "ac", "l2"),
                F.struct((-F.col("ac")).alias("k1"), F.col("seq").alias("k2")),
            ).alias("p")
        ).select(
            user_col, *extra_keys,
            F.col("p.seq").alias("seq"), F.col("p.x").alias("x"),
            F.col("p.y").alias("y"), F.col("p.ac").alias("ac"),
            F.col("p.l2").alias("l2"),
        )
        return win.filter(
            F.col("ac") * F.col("ac") > F.lit(int(eps) * int(eps)) * F.col("l2")
        )

    interior1 = (
        pts.join(n, user_col)
        .filter((F.col("seq") > 1) & (F.col("seq") < F.col("n")))
        .select(user_col, "seq", "x", "y")
    )
    m1 = _split(interior1, a, b, [])
    m1k = m1.select(user_col, F.col("seq").alias("mseq"),
                    F.col("x").alias("xm"), F.col("y").alias("ym"))
    # level 2: interiors of (first..m) and (m..last) for users with a split
    i2 = interior1.join(m1k, user_col).filter(F.col("seq") != F.col("mseq"))
    left = i2.filter(F.col("seq") < F.col("mseq")).withColumn(
        "side", F.lit(0)
    )
    right = i2.filter(F.col("seq") > F.col("mseq")).withColumn(
        "side", F.lit(1)
    )
    i2s = left.unionByName(right).select(user_col, "side", "seq", "x", "y")
    a2 = (
        a.join(m1k, user_col)
        .select(user_col, F.lit(0).alias("side"), "xa", "ya")
        .unionByName(
            m1k.select(user_col, F.lit(1).alias("side"),
                       F.col("xm").alias("xa"), F.col("ym").alias("ya"))
        )
    )
    b2 = (
        m1k.select(user_col, F.lit(0).alias("side"),
                   F.col("xm").alias("xb"), F.col("ym").alias("yb"))
        .unionByName(
            b.join(m1k, user_col)
            .select(user_col, F.lit(1).alias("side"), "xb", "yb")
        )
    )
    m2 = _split(i2s, a2, b2, ["side"])
    kept = (
        ends.select(user_col, "seq", "x", "y")
        .unionByName(m1.select(user_col, "seq", "x", "y"))
        .unionByName(m2.select(user_col, "seq", "x", "y"))
        .distinct()
    )
    return kept


def contact_crossings(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    x_col: str = "xi",
    y_col: str = "yi",
) -> DataFrame:
    """Cross-USER path-crossing join: (user_a, user_b, n_crossings) counting
    strictly proper intersections between two users' SAME-HOUR movement
    segments — the potential-contact / encounter-mining join (epidemiology
    contact tracing, shared-route discovery), the two-table widening of
    ``track_crossings``.

    Temporal blocking IS the contract: a segment belongs to the hour of its
    START point ((ts, id)-ordered — the frozen tie-break), and only
    same-hour segments are tested, so the pair fan-out is bounded by the
    per-hour segment volume (the event_study bounded-block rule), never
    all-pairs over users.  Crossings between segments starting in adjacent
    hours are out of contract by definition (an encounter implies similar
    timing).

    Geometry is the track_crossings discipline: exact-integer quantized
    coordinates (quantize-once), integer bbox reject, four orientation SIGN
    tests (never the product), strictness excludes all degeneracies.
    Orientation precondition (ADVICE r4): coordinate DIFFERENCES within a
    tested pair must stay < 2^31 units (~2 deg in nanodegrees) so the
    int64 cross products cannot overflow — encounters are local by
    definition, and the hour block never pairs antipodal segments that
    could reach the ~3.6e11 global span.

    Scale design: segments are narrow (user, hour, 4 coords); the one
    fan-out join is hour-keyed (hash-uniform over time, no hot key), the
    bbox reject runs inside codegen before the orientation arithmetic, and
    the (user_a, user_b) count partial-aggregates map-side.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    segs = (
        df.select(user_col, ts_col, id_col, x_col, y_col)
        .withColumn("_bx", F.lead(x_col).over(w))
        .withColumn("_by", F.lead(y_col).over(w))
        .filter(F.col("_bx").isNotNull())
        .select(
            F.col(user_col).alias("u"),
            F.expr(
                f"unix_micros(CAST({ts_col} AS TIMESTAMP)) div 3600000000"
            ).alias("hr"),
            F.col(x_col).alias("_ax"),
            F.col(y_col).alias("_ay"),
            "_bx",
            "_by",
        )
    )
    b = segs.select(
        F.col("u").alias("v"),
        "hr",
        F.col("_ax").alias("_cx"),
        F.col("_ay").alias("_cy"),
        F.col("_bx").alias("_dx"),
        F.col("_by").alias("_dy"),
    )
    p = segs.join(b, "hr").filter(F.col("u") < F.col("v"))
    p = p.filter(
        (F.greatest("_ax", "_bx") >= F.least("_cx", "_dx"))
        & (F.greatest("_cx", "_dx") >= F.least("_ax", "_bx"))
        & (F.greatest("_ay", "_by") >= F.least("_cy", "_dy"))
        & (F.greatest("_cy", "_dy") >= F.least("_ay", "_by"))
    )

    def orient(ax, ay, bx, by, cx, cy):
        return (F.col(bx) - F.col(ax)) * (F.col(cy) - F.col(ay)) - (
            F.col(by) - F.col(ay)
        ) * (F.col(cx) - F.col(ax))

    o1 = orient("_ax", "_ay", "_bx", "_by", "_cx", "_cy")
    o2 = orient("_ax", "_ay", "_bx", "_by", "_dx", "_dy")
    o3 = orient("_cx", "_cy", "_dx", "_dy", "_ax", "_ay")
    o4 = orient("_cx", "_cy", "_dx", "_dy", "_bx", "_by")
    cross = (((o1 > 0) & (o2 < 0)) | ((o1 < 0) & (o2 > 0))) & (
        ((o3 > 0) & (o4 < 0)) | ((o3 < 0) & (o4 > 0))
    )
    return (
        p.filter(cross)
        .groupBy(F.col("u").alias("user_a"), F.col("v").alias("user_b"))
        .agg(F.count(F.lit(1)).alias("n_crossings"))
    )


def vw_keep(pts: DataFrame, removals: int = 8) -> DataFrame:
    """Visvalingam-Whyatt polyline simplification (Visvalingam & Whyatt
    1993) — the AREA-based complement of ``rdp_keep``'s distance-based
    split: repeatedly remove the interior vertex with the smallest
    effective area (twice the triangle area of it and its two CURRENT
    neighbors — an exact int64 |cross| on the integer coords), ties ->
    smallest seq.  This is the fixed-K variant: exactly ``removals``
    single-vertex removal STAGES per key (one removal per key per stage;
    keys with < 3 points stand pat) — the bounded-round rule that makes
    the oracle an unrolled stage replay, and also cartography's actual
    batch shape (remove-N beats threshold-eps when output size is the
    budget).

    pts: (user_id, seq, x, y) — seq the frozen order, x/y exact ints.
    Returns the surviving points, schema unchanged.

    One Arrow pass (applyInPandas per key): each stage recomputes only
    the neighborhood the removal touched; per-key work is
    O(n * removals) worst case on dim-sized tracks.  Embarrassingly
    parallel over keys — the 100 TB shape (keys partition; no global
    state).  Oracle twin: ``removals`` unrolled CTE stages, neighbor
    areas via adjacent row_number self-joins, victim via row_number
    (area2, seq) — see oracles._vw_sql.
    """
    import numpy as np
    import pandas as pd

    k = int(removals)

    def f(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("seq").reset_index(drop=True)
        seq = pdf["seq"].to_numpy(np.int64)
        x = pdf["x"].to_numpy(np.int64)
        y = pdf["y"].to_numpy(np.int64)
        alive = np.ones(len(pdf), dtype=bool)
        for _ in range(k):
            idx = np.flatnonzero(alive)
            if len(idx) < 3:
                break
            px, cx, nx = x[idx[:-2]], x[idx[1:-1]], x[idx[2:]]
            py, cy, ny = y[idx[:-2]], y[idx[1:-1]], y[idx[2:]]
            area2 = np.abs(
                (cx - px) * (ny - py) - (cy - py) * (nx - px)
            )
            # argmin by (area2, seq): interior victims only
            order = np.lexsort((seq[idx[1:-1]], area2))
            alive[idx[1:-1][order[0]]] = False
        return pdf[alive]

    return pts.groupBy("user_id").applyInPandas(
        f, "user_id long, seq long, x long, y long"
    )

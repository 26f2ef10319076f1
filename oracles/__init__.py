"""DuckDB oracle surface for the driver contract: every _*_SQL
constant, every _*_sql generator, and oracle_sql() itself —
extracted from __spark_entry__.py (VERDICT r4 item 7) with source
order preserved. __spark_entry__ re-exports oracle_sql, so the
driver and tools/check_oracles.py see an unchanged API."""

from __future__ import annotations

from .shared import (
    LAT_IN,
    LAT_SOUTH,
    LON_IN,
    PLOT_GY_CENTERS,
    _EVENT_TYPES,
    _LR_ANCHOR,
    _LR_PATH,
    _OVL_H1,
    _OVL_OX,
    _OVL_OY,
    _OVL_W1,
)


# oracle-side closed forms for the uniform plot grid (synth.py constants)
RANGE_OF_LAT_IN = "CAST(FLOOR(((event_id % 1000) + 0.5) / 1000.0 * 54) AS INT) + 1"

PASS_OF_LON_IN = "CAST(FLOOR(((event_id % 640) + 0.5) / 640.0 * 16) AS INT) + 1"

PLOT_GX_EXPR = "3.8 + ((event_id % 50) + 0.5) * 4.06"


# nearest-path probes: gantry x 20.5-59.5 m SOUTH of the grid's south edge
# (gx = 3.8 maps to the surveyed SE-corner latitude = the grid's lat0), gy at
# pass centers. The fused resolve finds no covering-cell candidate and takes
# its exact broadcast re-rank fallback; due-south of a pass interior the
# nearest plot is row 1 of that pass.
NEAREST_GX_EXPR = "3.8 - (20.5 + (event_id % 40))"


_RADIUS_PAIRS_SQL = f"""
    WITH pts AS (
      SELECT event_id AS id, ({LAT_IN}) AS lat, ({LON_IN}) AS lon
      FROM events WHERE event_id < 3000),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b,
             CAST(round(sqrt(
               ((b.lon - a.lon) * cos(radians(a.lat)) * (pi() / 180.0 * 6371008.8))
               * ((b.lon - a.lon) * cos(radians(a.lat)) * (pi() / 180.0 * 6371008.8))
               + ((b.lat - a.lat) * (pi() / 180.0 * 6371008.8))
               * ((b.lat - a.lat) * (pi() / 180.0 * 6371008.8))
             ) * 100.0, 0) AS BIGINT) AS dist_cm
      FROM pts a JOIN pts b ON a.id < b.id)
    SELECT id_a, id_b, dist_cm / 100.0 AS dist_m, dist_cm
    FROM pairs WHERE dist_cm <= 100
"""


_COLOCATION_PI_SQL = f"""
    WITH pts AS (
      SELECT event_id AS id, event_type AS f, ({LAT_IN}) AS lat,
             ({LON_IN}) AS lon
      FROM events WHERE event_id < 3000),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b, a.f AS fa, b.f AS fb,
             CAST(round(sqrt(
               ((b.lon - a.lon) * cos(radians(a.lat)) * (pi() / 180.0 * 6371008.8))
               * ((b.lon - a.lon) * cos(radians(a.lat)) * (pi() / 180.0 * 6371008.8))
               + ((b.lat - a.lat) * (pi() / 180.0 * 6371008.8))
               * ((b.lat - a.lat) * (pi() / 180.0 * 6371008.8))
             ) * 100.0, 0) AS BIGINT) AS dist_cm
      FROM pts a JOIN pts b ON a.id < b.id),
    sel AS (
      SELECT least(fa, fb) AS feat_a, greatest(fa, fb) AS feat_b,
             CASE WHEN fa < fb THEN id_a ELSE id_b END AS ia,
             CASE WHEN fa < fb THEN id_b ELSE id_a END AS ib
      FROM pairs WHERE dist_cm <= 200 AND fa <> fb),
    agg AS (
      SELECT feat_a, feat_b, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(count(DISTINCT ia) AS BIGINT) AS part_a,
             CAST(count(DISTINCT ib) AS BIGINT) AS part_b
      FROM sel GROUP BY 1, 2),
    tot AS (SELECT f, CAST(count(*) AS BIGINT) AS n FROM pts GROUP BY 1)
    SELECT agg.feat_a, agg.feat_b, ta.n AS n_a, tb.n AS n_b,
           part_a, part_b, n_pairs
    FROM agg JOIN tot ta ON ta.f = agg.feat_a JOIN tot tb ON tb.f = agg.feat_b
"""


_LINE_DENSITY_SQL = f"""
    WITH pts AS (
      SELECT user_id, ts, event_id,
             CAST(round_even(({LON_IN}) * 1000000000.0, 0) AS BIGINT)
               + 120000000000 AS ax,
             CAST(round_even(({LAT_IN}) * 1000000000.0, 0) AS BIGINT) AS ay
      FROM events),
    segs AS (
      SELECT ax, ay,
             lead(ax) OVER w AS bx, lead(ay) OVER w AS by
      FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS MATERIALIZED (SELECT * FROM segs WHERE bx IS NOT NULL),
    cand AS (
      SELECT ax, ay, bx, by,
             least(ax, bx) // 200000 + unnest(range(
               greatest(ax, bx) // 200000 - least(ax, bx) // 200000 + 1))
               AS cx
      FROM s),
    cand2 AS (
      SELECT ax, ay, bx, by, cx,
             least(ay, by) // 200000 + unnest(range(
               greatest(ay, by) // 200000 - least(ay, by) // 200000 + 1))
               AS cy
      FROM cand),
    org AS (
      SELECT cx, cy,
             (bx - ax) * (cy * 200000 - ay) - (by - ay) * (cx * 200000 - ax) AS o1,
             (bx - ax) * (cy * 200000 - ay) - (by - ay) * (cx * 200000 + 200000 - ax) AS o2,
             (bx - ax) * (cy * 200000 + 200000 - ay) - (by - ay) * (cx * 200000 - ax) AS o3,
             (bx - ax) * (cy * 200000 + 200000 - ay) - (by - ay) * (cx * 200000 + 200000 - ax) AS o4
      FROM cand2)
    SELECT cx, cy, CAST(count(*) AS BIGINT) AS n_segments
    FROM org
    WHERE least(o1, o2, o3, o4) <= 0 AND greatest(o1, o2, o3, o4) >= 0
    GROUP BY 1, 2
"""


_CCF_SQL = """
    WITH e AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h
      FROM events WHERE event_type IN ('click', 'purchase')),
    span AS (SELECT min(h) AS h0, max(h) AS h1 FROM e),
    grid AS (SELECT h0 + unnest(range(h1 - h0 + 1)) AS h FROM span),
    raw AS (
      SELECT h,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      FROM e GROUP BY 1),
    cnt AS MATERIALIZED (
      SELECT g.h, CAST(coalesce(r.x, 0) AS BIGINT) AS x,
             CAST(coalesce(r.y, 0) AS BIGINT) AS y
      FROM grid g LEFT JOIN raw r ON r.h = g.h)
    SELECT b.h - a.h AS lag, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(a.x) AS BIGINT) AS sx, CAST(sum(b.y) AS BIGINT) AS sy,
           CAST(sum(a.x * a.x) AS BIGINT) AS sxx,
           CAST(sum(b.y * b.y) AS BIGINT) AS syy,
           CAST(sum(a.x * b.y) AS BIGINT) AS sxy
    FROM cnt a JOIN cnt b ON b.h BETWEEN a.h - 3 AND a.h + 3
    GROUP BY 1
"""


_KNOX_SQL = f"""
    WITH pts AS (
      SELECT event_id AS id, epoch_us(ts) AS us,
             ({LAT_IN}) AS lat, ({LON_IN}) AS lon
      FROM events WHERE event_id < 3000),
    pairs AS MATERIALIZED (
      SELECT a.id AS id_a, b.id AS id_b,
             CAST(round(sqrt(
               ((b.lon - a.lon) * cos(radians(a.lat)) * (pi() / 180.0 * 6371008.8))
               * ((b.lon - a.lon) * cos(radians(a.lat)) * (pi() / 180.0 * 6371008.8))
               + ((b.lat - a.lat) * (pi() / 180.0 * 6371008.8))
               * ((b.lat - a.lat) * (pi() / 180.0 * 6371008.8))
             ) * 100.0, 0) AS BIGINT) AS dist_cm,
             abs(a.us - b.us) AS dt
      FROM pts a JOIN pts b ON a.id < b.id),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS total_pairs,
             CAST(sum(CASE WHEN dist_cm <= 200 THEN 1 ELSE 0 END) AS BIGINT)
               AS space_pairs,
             CAST(sum(CASE WHEN dt <= 3600000000 THEN 1 ELSE 0 END) AS BIGINT)
               AS time_pairs,
             CAST(sum(CASE WHEN dist_cm <= 200 AND dt <= 3600000000
                           THEN 1 ELSE 0 END) AS BIGINT) AS joint_pairs
      FROM pairs)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM pts) AS n,
           total_pairs, space_pairs, time_pairs, joint_pairs
    FROM agg
"""


_ZONAL_STATS_SQL = f"""
    WITH z AS (
      SELECT ({RANGE_OF_LAT_IN}) || '-' || ({PASS_OF_LON_IN}) AS plot_id,
             user_id, value
      FROM events)
    SELECT plot_id, count(*) AS n_events, count(DISTINCT user_id) AS n_users,
           CAST(sum(CAST(round_even(value * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS value_sum_u,
           min(value) AS value_min, max(value) AS value_max
    FROM z GROUP BY 1
"""


_POLYGON_STATS_SQL = f"""
    WITH base AS (
      SELECT event_id, ({LAT_IN}) AS lat, ({LON_IN}) AS lon FROM events),
    v AS (
      SELECT event_id,
             lat - 0.0002 AS la0, lat + 0.0002 AS la1,
             lon - 0.0003 AS lo0, lon + 0.0003 AS lo1
      FROM base),
    pl AS (
      SELECT event_id,
             (lo0 - lo0) * cos(radians(la0)) * (pi() / 180.0 * 6371008.8) AS x0,
             (la0 - la0) * (pi() / 180.0 * 6371008.8) AS y0,
             (lo1 - lo0) * cos(radians(la0)) * (pi() / 180.0 * 6371008.8) AS x1,
             (la0 - la0) * (pi() / 180.0 * 6371008.8) AS y1,
             (lo1 - lo0) * cos(radians(la0)) * (pi() / 180.0 * 6371008.8) AS x2,
             (la1 - la0) * (pi() / 180.0 * 6371008.8) AS y2,
             (lo0 - lo0) * cos(radians(la0)) * (pi() / 180.0 * 6371008.8) AS x3,
             (la1 - la0) * (pi() / 180.0 * 6371008.8) AS y3
      FROM v),
    terms AS (
      SELECT event_id,
        CAST(round_even((x0 * y1 - x1 * y0) * 1000000.0, 0) AS BIGINT)
      + CAST(round_even((x1 * y2 - x2 * y1) * 1000000.0, 0) AS BIGINT)
      + CAST(round_even((x2 * y3 - x3 * y2) * 1000000.0, 0) AS BIGINT)
      + CAST(round_even((x3 * y0 - x0 * y3) * 1000000.0, 0) AS BIGINT) AS s,
        CAST(round_even(sqrt((x1 - x0) * (x1 - x0) + (y1 - y0) * (y1 - y0)) * 100.0, 0) AS BIGINT)
      + CAST(round_even(sqrt((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)) * 100.0, 0) AS BIGINT)
      + CAST(round_even(sqrt((x3 - x2) * (x3 - x2) + (y3 - y2) * (y3 - y2)) * 100.0, 0) AS BIGINT)
      + CAST(round_even(sqrt((x0 - x3) * (x0 - x3) + (y0 - y3) * (y0 - y3)) * 100.0, 0) AS BIGINT) AS perim_cm
      FROM pl)
    SELECT event_id, abs(s) AS area2_um2, perim_cm FROM terms
"""


def _s2_compact_sql(top_level: int = 8) -> str:
    from extractors_metadata_spark.operators.cellset import _POS_MASK

    stages = [
        f"cur{top_level} AS (SELECT DISTINCT CAST((event_id % 50000) * 32 + {top_level} AS BIGINT) AS cell FROM events)"
    ]
    for lv in range(top_level, 0, -1):
        p = (
            f"(((cell >> 57) << 57) | (((((cell >> 5) & {_POS_MASK}) >> 2) << 5))"
            f" | {lv - 1})"
        )
        stages.append(
            f"""lv{lv} AS (SELECT cell FROM cur{lv} WHERE (cell & 31) = {lv}),
        rest{lv} AS (SELECT cell FROM cur{lv} WHERE (cell & 31) != {lv}),
        g{lv} AS (SELECT {p} AS p, count(*) AS n, list(cell ORDER BY cell) AS cs
                  FROM lv{lv} GROUP BY 1),
        cur{lv - 1} AS (
          SELECT unnest(CASE WHEN n = 4 THEN [p] ELSE cs END) AS cell FROM g{lv}
          UNION ALL SELECT cell FROM rest{lv})"""
        )
    return "WITH " + ",\n        ".join(stages) + "\n        SELECT cell FROM cur0"


_SCAN_LEGS_SQL = f"""
    WITH pts AS (
      SELECT user_id, ts, event_id, ({LAT_IN}) AS lat, ({LON_IN}) AS lon
      FROM events),
    s AS (
      SELECT user_id, ts, event_id, lat, lon,
             lag(lat) OVER w AS plat, lag(lon) OVER w AS plon,
             lag(ts) OVER w AS pts_
      FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    steps AS (
      SELECT *,
        CASE WHEN abs(lon - plon) >= abs(lat - plat)
             THEN CASE WHEN lon - plon >= 0 THEN 0 ELSE 1 END
             ELSE CASE WHEN lat - plat >= 0 THEN 2 ELSE 3 END END AS code,
        CAST(round(sqrt(
            ((lon - plon) * cos(radians(plat)) * (pi() / 180.0 * 6371008.8))
          * ((lon - plon) * cos(radians(plat)) * (pi() / 180.0 * 6371008.8))
          + ((lat - plat) * (pi() / 180.0 * 6371008.8))
          * ((lat - plat) * (pi() / 180.0 * 6371008.8))
        ) * 100.0, 0) AS BIGINT) AS dcm
      FROM s WHERE plat IS NOT NULL),
    marked AS (
      SELECT *,
        CASE WHEN lag(code) OVER w2 IS NULL OR code != lag(code) OVER w2
             THEN 1 ELSE 0 END AS brk
      FROM steps WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)),
    legs0 AS (
      SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS leg_id
      FROM marked)
    SELECT user_id, CAST(leg_id AS BIGINT) AS leg_id,
           min(code) AS dir_code, count(*) AS n_steps,
           CAST(sum(dcm) AS BIGINT) AS length_cm,
           min(pts_) AS t_start, max(ts) AS t_end
    FROM legs0 GROUP BY 1, 2
"""


def _stay_points_sql(d_cm: int = 3000, min_dur_s: int = 36_000, min_pings: int = 3) -> str:
    from extractors_metadata_spark.operators.staypoints import LAT_OFF, LON_OFF

    def he(s, n):
        return (
            f"CAST(CASE WHEN 2 * ({s} % {n}) > {n} OR "
            f"(2 * ({s} % {n}) = {n} AND ({s} // {n}) % 2 = 1) "
            f"THEN {s} // {n} + 1 ELSE {s} // {n} END AS BIGINT)"
        )

    dist = """CAST(round(sqrt(
            ((lon - plon) * cos(radians(plat)) * (pi() / 180.0 * 6371008.8))
          * ((lon - plon) * cos(radians(plat)) * (pi() / 180.0 * 6371008.8))
          + ((lat - plat) * (pi() / 180.0 * 6371008.8))
          * ((lat - plat) * (pi() / 180.0 * 6371008.8))
        ) * 100.0, 0) AS BIGINT)"""
    return f"""
        WITH pts AS (
          SELECT user_id, ts, event_id, ({LAT_IN}) AS lat, ({LON_IN}) AS lon
          FROM events),
        s AS (
          SELECT user_id, ts, event_id, lat, lon,
                 lag(lat) OVER w AS plat, lag(lon) OVER w AS plon
          FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        st AS (
          SELECT *, CASE WHEN plat IS NULL THEN NULL ELSE {dist} END AS cm
          FROM s),
        m AS (
          SELECT *,
                 CASE WHEN cm IS NULL OR cm > {d_cm} THEN 1 ELSE 0 END AS brk,
                 CAST(round_even(lat * 10000000.0, 0) AS BIGINT) + {LAT_OFF} AS qlat,
                 CAST(round_even(lon * 10000000.0, 0) AS BIGINT) + {LON_OFF} AS qlon
          FROM st),
        r AS (
          SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS run
          FROM m),
        g AS (
          SELECT user_id, CAST(run AS BIGINT) AS stay_id, count(*) AS n_pings,
                 min(ts) AS t_start, max(ts) AS t_end,
                 sum(qlat) AS slat, sum(qlon) AS slon,
                 sum(CASE WHEN cm <= {d_cm} THEN cm END) AS len
          FROM r GROUP BY 1, 2)
        SELECT user_id, stay_id, n_pings, t_start, t_end,
               epoch_us(t_end) - epoch_us(t_start) AS dur_us,
               {he('slat', 'n_pings')} - {LAT_OFF} AS clat_e7,
               {he('slon', 'n_pings')} - {LON_OFF} AS clon_e7,
               CAST(COALESCE(len, 0) AS BIGINT) AS length_cm,
               (epoch_us(t_end) - epoch_us(t_start) >= {int(min_dur_s) * 1_000_000}
                AND n_pings >= {min_pings}) AS is_stay
        FROM g
    """


_ROLLUP_STATS_SQL = """
    WITH e AS (
      SELECT event_type, CAST(year(ts) * 100 + month(ts) AS INT) AS month,
             user_id,
             CAST(round_even(value * 1000000.0, 0) AS BIGINT) AS v
      FROM events)
    SELECT event_type, month,
           CAST(GROUPING(event_type, month) AS BIGINT) AS gid,
           count(*) AS n_events, count(DISTINCT user_id) AS n_users,
           CAST(sum(v) AS BIGINT) AS value_sum_u
    FROM e GROUP BY ROLLUP (event_type, month)
"""


def _resample_sql(grid_s: int = 3600, max_gap_s: int = 43_200) -> str:
    from extractors_metadata_spark.operators.resample import DQ_MAX

    g = grid_s * 1_000_000
    gap = max_gap_s * 1_000_000

    def he(num: str, den: str) -> str:
        a = f"({num} + {DQ_MAX} * {den})"
        q = f"({a} // {den})"
        return (
            f"(CAST(CASE WHEN 2 * ({a} % {den}) > {den} OR "
            f"(2 * ({a} % {den}) = {den} AND {q} % 2 = 1) "
            f"THEN {q} + 1 ELSE {q} END AS BIGINT) - {DQ_MAX})"
        )

    den = "(t1 - t0)"
    latn = "((qlat1 - qlat0) * (g_us - t0))"
    lonn = "((qlon1 - qlon0) * (g_us - t0))"
    return f"""
        WITH pts AS (
          SELECT user_id, ts, event_id, ({LAT_IN}) AS lat, ({LON_IN}) AS lon
          FROM events),
        q AS (
          SELECT user_id, ts, event_id, epoch_us(ts) AS t1,
                 CAST(round_even(lat * 10000000.0, 0) AS BIGINT) AS qlat1,
                 CAST(round_even(lon * 10000000.0, 0) AS BIGINT) AS qlon1
          FROM pts),
        s AS (
          SELECT *, lag(t1) OVER w AS t0,
                 lag(qlat1) OVER w AS qlat0, lag(qlon1) OVER w AS qlon0
          FROM q WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        seg AS (
          SELECT * FROM s
          WHERE t0 IS NOT NULL AND t1 > t0 AND t1 - t0 <= {gap}),
        gs AS (
          SELECT *, t0 - t0 % {g} + {g} AS gstart, t1 - t1 % {g} AS gend
          FROM seg),
        ex AS (
          SELECT user_id, t0, t1, qlat0, qlat1, qlon0, qlon1,
                 gstart + {g} * k AS g_us
          FROM gs, unnest(range((gend - gstart) // {g} + 1)) t(k)
          WHERE gstart <= gend)
        SELECT user_id, g_us,
               qlat0 + {he(latn, den)} AS lat_e7,
               qlon0 + {he(lonn, den)} AS lon_e7
        FROM ex
    """


def _sliding_windows_sql(slide_us: int = 1_800_000_000, k: int = 4) -> str:
    return f"""
        WITH e AS (
          SELECT epoch_us(ts) AS t, event_type AS key, user_id,
                 CAST(round_even(value * 1000000.0, 0) AS BIGINT) AS v
          FROM events),
        w AS (
          SELECT (t - t % {slide_us}) - j * {slide_us} AS window_start_us,
                 key, user_id, v
          FROM e, unnest(range({k})) tt(j))
        SELECT window_start_us, key, count(*) AS n_events,
               count(DISTINCT user_id) AS n_users,
               CAST(sum(v) AS BIGINT) AS value_sum_u
        FROM w GROUP BY 1, 2
    """


_ROLLING_WINDOW_SQL = """
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS t_us,
             CAST(round_even(value * 1000000.0, 0) AS BIGINT) AS v
      FROM events)
    SELECT user_id, event_id, t_us,
           count(*) OVER w AS n_trailing,
           CAST(sum(v) OVER w AS BIGINT) AS v_sum_u
    FROM e WINDOW w AS (
      PARTITION BY user_id ORDER BY t_us
      RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
"""


_FULL_OUTER_SQL = """
    WITH c AS (SELECT c_custkey FROM customer WHERE c_custkey % 7 != 0),
    o AS (
      SELECT o_custkey, count(*) AS n_orders,
             CAST(sum(CAST(round_even(o_totalprice * 100.0, 0) AS BIGINT))
               AS BIGINT) AS total_c
      FROM orders GROUP BY 1)
    SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey,
           c.c_custkey IS NOT NULL AS has_cust,
           o.o_custkey IS NOT NULL AS has_orders,
           CAST(COALESCE(o.n_orders, 0) AS BIGINT) AS n_orders,
           CAST(COALESCE(o.total_c, 0) AS BIGINT) AS total_c
    FROM c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey
"""


_MAD_OUTLIERS_SQL = """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY 1),
    wm AS (
      SELECT e.event_id, e.event_type, e.value, m.med
      FROM events e JOIN med m USING (event_type)),
    mad AS (
      SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
      FROM wm GROUP BY 1)
    SELECT event_id, event_type, value, med, mad,
           (abs(value - med) > 1.5 * mad) AS is_outlier
    FROM wm JOIN mad USING (event_type)
"""


def _funnel_sql(steps: tuple[str, ...] = ("view", "click", "signup", "purchase")) -> str:
    k = len(steps)
    inlist = ", ".join(f"'{s}'" for s in steps)
    ctes = [
        f"""ev AS MATERIALIZED (
          SELECT user_id, epoch_us(ts) AS us, event_type AS ty
          FROM events WHERE event_type IN ({inlist}))""",
        "u AS (SELECT DISTINCT user_id FROM ev)",
        f"""s1 AS (SELECT user_id, min(us) AS t1 FROM ev
          WHERE ty = '{steps[0]}' GROUP BY 1)""",
    ]
    for i in range(2, k + 1):
        ctes.append(
            f"""s{i} AS (SELECT ev.user_id, min(us) AS t{i}
              FROM ev JOIN s{i - 1} USING (user_id)
              WHERE ty = '{steps[i - 1]}' AND us > t{i - 1} GROUP BY 1)"""
        )
    case = " ".join(
        f"WHEN t{i} IS NOT NULL THEN {i}" for i in range(k, 0, -1)
    )
    joins = " ".join(f"LEFT JOIN s{i} USING (user_id)" for i in range(1, k + 1))
    cols = ", ".join(f"t{i} AS t{i}_us" for i in range(1, k + 1))
    body = ",\n        ".join(ctes)
    return f"""
        WITH {body}
        SELECT u.user_id, {cols},
               CAST(CASE {case} ELSE 0 END AS INT) AS steps_completed
        FROM u {joins}
    """


_TRANSITIONS_SQL = """
    WITH s AS (
      SELECT event_type AS ty,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_ty
      FROM events)
    SELECT prev_ty AS prev_type, ty AS type, count(*) AS n
    FROM s WHERE prev_ty IS NOT NULL GROUP BY 1, 2
"""


_IVM_COUNTS_SQL = """
    WITH after AS (
      SELECT lang, n_chars FROM documents
      WHERE doc_id % 3 != 2 AND doc_id % 5 != 0 AND doc_id % 7 != 3
      UNION ALL
      SELECT lang, n_chars + CASE WHEN lang = 'en' THEN 1000 ELSE 0 END AS n_chars
      FROM documents WHERE doc_id % 5 = 0 AND doc_id % 7 != 3)
    SELECT lang, count(*) AS n,
           CAST(sum(CAST(round_even(CAST(n_chars AS DOUBLE) * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS sum_u
    FROM after GROUP BY 1
"""


_CDC_SQL = """
    WITH d AS (SELECT doc_id, text, lang, source, n_chars FROM documents),
    ins AS (
      SELECT doc_id, text, lang, source,
             n_chars + CASE WHEN lang = 'en' THEN 1000 ELSE 0 END AS n_chars,
             'insert' AS _change
      FROM d WHERE doc_id % 5 = 0 AND doc_id % 3 = 2 AND doc_id % 7 != 3),
    del AS (
      SELECT doc_id, text, lang, source, n_chars, 'delete' AS _change
      FROM d WHERE doc_id % 3 != 2 AND doc_id % 7 = 3),
    upre AS (
      SELECT doc_id, text, lang, source, n_chars, 'update_pre' AS _change
      FROM d WHERE doc_id % 3 != 2 AND doc_id % 5 = 0 AND doc_id % 7 != 3
              AND lang = 'en'),
    upost AS (
      SELECT doc_id, text, lang, source, n_chars + 1000 AS n_chars,
             'update_post' AS _change
      FROM d WHERE doc_id % 3 != 2 AND doc_id % 5 = 0 AND doc_id % 7 != 3
              AND lang = 'en')
    SELECT * FROM ins UNION ALL SELECT * FROM del
    UNION ALL SELECT * FROM upre UNION ALL SELECT * FROM upost
"""


_TILE_SMOOTH_SQL = f"""
    WITH pts AS (
      SELECT ({LAT_IN}) AS lat, ({LON_IN}) AS lon FROM events),
    counts AS (
      SELECT CAST(FLOOR((lon + 180) / 360 * pow(2, 12)) AS BIGINT) AS x,
             CAST(FLOOR((1 - ln(tan(radians(lat)) + 1/cos(radians(lat)))/pi())/2 * pow(2, 12)) AS BIGINT) AS y,
             count(*) AS cnt
      FROM pts GROUP BY 1, 2),
    offx AS (SELECT unnest([-1, 0, 1]) AS dx),
    offy AS (SELECT unnest([-1, 0, 1]) AS dy),
    scatter AS (
      SELECT (x + dx + 4096) % 4096 AS x, y + dy AS y,
             cnt * (2 - abs(dx)) * (2 - abs(dy)) AS wc
      FROM counts, offx, offy
      WHERE y + dy >= 0 AND y + dy < 4096)
    SELECT 12 AS z, x, y, CAST(sum(wc) AS BIGINT) AS smooth
    FROM scatter GROUP BY 2, 3
"""


def _variogram_sql(max_lag: int = 8) -> str:
    """Semivariogram oracle: the operator's own half-plane offset table
    (single source — operators/variogram._half_disk) emitted as a
    literal VALUES list, then the same shell-keyed exact aggregation."""
    from extractors_metadata_spark.operators.variogram import _half_disk

    vals = ", ".join(f"({dx}, {dy}, {k})" for dx, dy, k in _half_disk(max_lag))
    return f"""
    WITH pts AS (
      SELECT ({LAT_IN}) AS lat, ({LON_IN}) AS lon FROM events),
    counts AS MATERIALIZED (
      SELECT CAST(FLOOR((lon + 180) / 360 * pow(2, 22)) AS BIGINT) AS x,
             CAST(FLOOR((1 - ln(tan(radians(lat)) + 1/cos(radians(lat)))/pi())/2
                  * pow(2, 22)) AS BIGINT) AS y,
             CAST(count(*) AS BIGINT) AS cnt
      FROM pts GROUP BY 1, 2),
    offs AS (SELECT * FROM (VALUES {vals}) AS t(dx, dy, lag))
    SELECT CAST(22 AS INT) AS z, CAST(o.lag AS BIGINT) AS lag,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum((c.cnt - nb.cnt) * (c.cnt - nb.cnt)) AS BIGINT)
             AS sum_sq_diff
    FROM counts c CROSS JOIN offs o
    JOIN counts nb
      ON nb.x = (c.x + o.dx + 4194304) % 4194304 AND nb.y = c.y + o.dy
    WHERE c.y + o.dy >= 0 AND c.y + o.dy < 4194304
    GROUP BY 2
"""


def _viterbi_sql(
    t_len: int = 12,
    max_users: int = 40,
    n_rows: int = 54,
    n_cols: int = 16,
) -> str:
    """operators/mapmatch.viterbi_match mirror: observations from
    event_id by the same pure-integer half-milli-cell arithmetic, the
    3x3 grid-clamped candidate sets, the forward DP unrolled as one
    MATERIALIZED stage per step (stage t reads only stage t-1, t_len
    stages), then the
    backtrack unrolled BACKWARDS with the same min(cost * 1e6 + r *
    1000 + c) tie-break encoding the engine uses."""
    key = 1_000_000
    last = t_len - 1
    fwd = []
    for t in range(1, t_len):
        fwd.append(f"""
        v{t} AS MATERIALIZED (
          SELECT c2.u, c2.r, c2.c,
                 c2.e + min(p.v + 2000 * (abs(p.r - c2.r) + abs(p.c - c2.c)))
                   AS v
          FROM cand c2 JOIN v{t - 1} p ON p.u = c2.u
          WHERE c2.t = {t}
          GROUP BY c2.u, c2.r, c2.c, c2.e)""")
    back = []
    for t in range(t_len - 2, -1, -1):
        back.append(f"""
        pt{t} AS MATERIALIZED (
          SELECT k.u, (k.key % {key}) // 1000 AS r, k.key % 1000 AS c
          FROM (
            SELECT q.u,
                   min((p.v + 2000 * (abs(p.r - q.r) + abs(p.c - q.c)))
                       * {key} + p.r * 1000 + p.c) AS key
            FROM v{t} p JOIN pt{t + 1} q ON p.u = q.u
            GROUP BY q.u) k)""")
    ends = "\n          UNION ALL\n".join(
        f"""          SELECT o.u AS user_id, o.t, o.py // 2000 AS obs_r,
                 o.px // 2000 AS obs_c, pt{t}.r AS state_r,
                 pt{t}.c AS state_c, tot.total_cost
          FROM obs o
          JOIN pt{t} ON pt{t}.u = o.u
          JOIN tot ON tot.u = o.u
          WHERE o.t = {t}"""
        for t in range(t_len)
    )
    return f"""
        WITH seq AS MATERIALIZED (
          SELECT user_id, event_id,
                 (event_id % 1000) * 108 + 54 AS py,
                 (event_id % 640) * 50 + 25 AS px,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS s
          FROM events WHERE user_id < {max_users}),
        obs AS MATERIALIZED (
          SELECT f.user_id AS u, f.s - 1 AS t, f.py, f.px
          FROM seq f JOIN (SELECT user_id FROM seq WHERE s <= {t_len}
                           GROUP BY user_id
                           HAVING count(*) = {t_len}) ok
               ON ok.user_id = f.user_id
          WHERE f.s <= {t_len}),
        cand AS MATERIALIZED (
          SELECT o.u, o.t,
                 (o.py // 2000) + dr AS r, (o.px // 2000) + dc AS c,
                 abs(o.py - (((o.py // 2000) + dr) * 2000 + 1000))
                   + abs(o.px - (((o.px // 2000) + dc) * 2000 + 1000)) AS e
          FROM obs o
          CROSS JOIN (VALUES (-1), (0), (1)) d1(dr)
          CROSS JOIN (VALUES (-1), (0), (1)) d2(dc)
          WHERE (o.py // 2000) + dr BETWEEN 0 AND {n_rows - 1}
            AND (o.px // 2000) + dc BETWEEN 0 AND {n_cols - 1}),
        v0 AS MATERIALIZED (
          SELECT u, r, c, CAST(e AS BIGINT) AS v FROM cand WHERE t = 0),
        {",".join(fwd)},
        pe AS MATERIALIZED (
          SELECT u, min(v * {key} + r * 1000 + c) AS key
          FROM v{last} GROUP BY u),
        pt{last} AS MATERIALIZED (
          SELECT u, (key % {key}) // 1000 AS r, key % 1000 AS c FROM pe),
        tot AS MATERIALIZED (
          SELECT u, key // {key} AS total_cost FROM pe),
        {",".join(back)}
{ends}
    """


def _ransac_sql(k: int = 32, tol: int = 50) -> str:
    """operators/ransac.ransac_lines mirror: hash-derived anchors
    (row_number argmin over the same salted family — the composite
    min_by twin), the identical Manhattan-normalized integer inlier
    rule, one candidate-keyed aggregate."""
    pa = _poly_sql(
        "'ra:a:' || CAST(cand_id AS VARCHAR) || ':' || CAST(id AS VARCHAR)",
        131,
    )
    pb = _poly_sql(
        "'ra:b:' || CAST(cand_id AS VARCHAR) || ':' || CAST(id AS VARCHAR)",
        131,
    )
    return f"""
        WITH pts AS MATERIALIZED (
          SELECT event_id AS id,
                 CAST(round_even(({LON_IN}) * 1000000.0, 0) AS BIGINT) AS x,
                 CAST(round_even(({LAT_IN}) * 1000000.0, 0) AS BIGINT) AS y
          FROM events),
        fan AS (SELECT p.id, p.x, p.y, r.range AS cand_id
                FROM pts p, range({k}) r),
        h0 AS (SELECT cand_id, id, x, y, {pa} AS ra, {pb} AS rb FROM fan),
        hm AS MATERIALIZED (
          SELECT cand_id, id, x, y,
                 {_mix31_sql('ra')} AS h1, {_mix31_sql('rb')} AS h2
          FROM h0),
        sa AS (SELECT cand_id, x AS x1, y AS y1 FROM (
                 SELECT cand_id, x, y,
                        row_number() OVER (PARTITION BY cand_id
                                           ORDER BY h1, id) AS rn
                 FROM hm) q WHERE rn = 1),
        sb AS (SELECT cand_id, x AS x2, y AS y2 FROM (
                 SELECT cand_id, x, y,
                        row_number() OVER (PARTITION BY cand_id
                                           ORDER BY h2, id) AS rn
                 FROM hm) q WHERE rn = 1),
        cand AS MATERIALIZED (
          SELECT sa.cand_id, x1, y1, x2, y2
          FROM sa JOIN sb ON sb.cand_id = sa.cand_id)
        SELECT CAST(c.cand_id AS BIGINT) AS cand_id, c.x1, c.y1, c.x2,
               c.y2,
               CAST(sum(CASE WHEN (c.x1 != c.x2 OR c.y1 != c.y2)
                              AND abs((c.x2 - c.x1) * (p.y - c.y1)
                                      - (c.y2 - c.y1) * (p.x - c.x1))
                                  <= {tol} * (abs(c.x2 - c.x1)
                                              + abs(c.y2 - c.y1))
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_inliers
        FROM pts p CROSS JOIN cand c
        GROUP BY 1, 2, 3, 4, 5
    """


def _jenks_sql(k: int = 5, n: int = 864) -> str:
    """operators/jenks.jenks_breaks mirror: same lattice values, prefix
    sums (tie order irrelevant — equal values commute through P/PP),
    the 2^-20 fixed-point cost table, k unrolled DP stages with the
    packed (F*1024 + j) argmin, scalar-subquery backtrack chain."""
    kfp = 1 << 20
    stages = []
    for t in range(2, k + 1):
        stages.append(f"""
        f{t} AS MATERIALIZED (
          SELECT i, key // 1024 AS fv, key % 1024 AS bk FROM (
            SELECT c.i, min((f.fv + c.cst) * 1024 + c.j) AS key
            FROM cost c JOIN f{t - 1} f ON f.i = c.j
            GROUP BY c.i) q)""")
    # backtrack chain: b_k = n; b_{t-1} = bk_t(b_t)
    back = [f"bk{k} AS (SELECT CAST({n} AS BIGINT) AS e, "
            f"(SELECT bk FROM f{k} WHERE i = {n}) AS s)"]
    for t in range(k - 1, 0, -1):
        back.append(
            f"bk{t} AS (SELECT s AS e, "
            f"(SELECT bk FROM f{t} WHERE i = (SELECT s FROM bk{t + 1}))"
            f" AS s FROM bk{t + 1})"
        )
    classes = "\n          UNION ALL\n".join(
        f"          SELECT CAST({t} AS BIGINT) AS cls, "
        f"CAST((SELECT s FROM bk{t}) AS BIGINT) AS start_idx, "
        f"CAST((SELECT e FROM bk{t}) AS BIGINT) AS end_idx"
        for t in range(1, k + 1)
    )
    return f"""
        WITH cnts AS (
          SELECT ((event_id % 1000) * 108 + 54) // 2000 AS r,
                 ((event_id % 640) * 50 + 25) // 2000 AS c,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM events GROUP BY 1, 2),
        lat AS (SELECT t1.range AS r, t2.range AS c
                FROM range(54) t1, range(16) t2),
        vals AS (SELECT coalesce(cn.cnt, 0) AS v,
                        row_number() OVER (ORDER BY coalesce(cn.cnt, 0))
                          AS i
                 FROM lat l LEFT JOIN cnts cn
                   ON cn.r = l.r AND cn.c = l.c),
        pref AS MATERIALIZED (
          SELECT i, v,
                 CAST(sum(v) OVER w AS BIGINT) AS p,
                 CAST(sum(v * v) OVER w AS BIGINT) AS pp
          FROM vals
          WINDOW w AS (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW)),
        prefz AS (SELECT i, v, p, pp FROM pref
                  UNION ALL SELECT 0, 0, 0, 0),
        cost AS MATERIALIZED (
          SELECT a.i AS j, b.i AS i,
                 {kfp} * (b.pp - a.pp)
                   - ({kfp} * (b.p - a.p) * (b.p - a.p)) // (b.i - a.i)
                   AS cst
          FROM prefz a JOIN pref b ON a.i < b.i),
        f1 AS MATERIALIZED (
          SELECT i, cst AS fv, CAST(0 AS BIGINT) AS bk
          FROM cost WHERE j = 0),
        {",".join(stages)},
        {",".join(back)},
        cl AS (
{classes})
        SELECT cl.cls, cl.start_idx, cl.end_idx,
               lo.v AS lo_value, hi.v AS hi_value,
               cl.end_idx - cl.start_idx AS n_in_class,
               CAST((SELECT fv FROM f{k} WHERE i = {n}) AS BIGINT)
                 AS total_cost_fp
        FROM cl
        JOIN pref lo ON lo.i = cl.start_idx + 1
        JOIN pref hi ON hi.i = cl.end_idx
    """


def _shapley_sql() -> str:
    """operators/funnel.shapley_attribution mirror: first-purchase
    argmin, the pre-purchase touched-channel bitmask, v(T) subset sums
    over the 8-row mask dim, the exact x6 Shapley algebra per channel."""
    per = []
    for c, b in (("click", 1), ("signup", 2), ("view", 4)):
        per.append(f"""
          SELECT '{c}' AS channel,
                 CAST(sum((CASE WHEN (a.t % 2) + ((a.t // 2) % 2)
                                     + ((a.t // 4) % 2) = 1
                                THEN 1 ELSE 2 END) * (bb.v - a.v))
                   AS BIGINT) AS shapley_x6
          FROM v a JOIN v bb ON bb.t = a.t + {b}
          WHERE (a.t & {b}) = 0""")
    body = "\n          UNION ALL\n".join(per)
    return f"""
        WITH fp AS MATERIALIZED (
          SELECT user_id, ts AS pts, event_id AS pid FROM (
            SELECT user_id, ts, event_id,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events WHERE event_type = 'purchase') q WHERE rn = 1),
        tc AS (
          SELECT DISTINCT e.user_id,
                 CASE e.event_type WHEN 'click' THEN 1
                      WHEN 'signup' THEN 2 WHEN 'view' THEN 4 END AS b
          FROM events e JOIN fp ON fp.user_id = e.user_id
          WHERE e.event_type IN ('click', 'signup', 'view')
            AND (e.ts < fp.pts
                 OR (e.ts = fp.pts AND e.event_id < fp.pid))),
        mk AS (SELECT f.user_id, coalesce(s.m, 0) AS m
               FROM fp f LEFT JOIN
                    (SELECT user_id, CAST(sum(b) AS BIGINT) AS m
                     FROM tc GROUP BY 1) s ON s.user_id = f.user_id),
        cm AS (SELECT m, CAST(count(*) AS BIGINT) AS cnt
               FROM mk GROUP BY 1),
        tt AS (SELECT range AS t FROM range(8)),
        v AS MATERIALIZED (
          SELECT tt.t, CAST(coalesce(sum(cm.cnt), 0) AS BIGINT) AS v
          FROM tt LEFT JOIN cm ON (cm.m & tt.t) = cm.m GROUP BY tt.t),
        nc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM fp),
        ve AS (SELECT v AS v_empty FROM v WHERE t = 0),
        phi AS ({body})
        SELECT phi.channel, phi.shapley_x6, nc.n AS n_conversions,
               ve.v_empty
        FROM phi, nc, ve
    """


def _sprt_sql(
    success_type: str = "purchase",
    p0: float = 0.10,
    p1: float = 0.20,
    alpha: float = 0.05,
    beta: float = 0.05,
) -> str:
    """cusum.sprt_test mirror: the SAME compile-time fixed-point LLR
    constants (imported from the operator — single source), one window
    running sum, first-crossing join."""
    from extractors_metadata_spark.operators.cusum import sprt_constants

    inc1, inc0, up, lo = sprt_constants(p0, p1, alpha, beta)
    return f"""
        WITH ev AS (
          SELECT user_id AS key, ts, event_id,
                 CASE WHEN event_type = '{success_type}' THEN 1 ELSE 0 END AS x
          FROM events),
        wk AS MATERIALIZED (
          SELECT key, x,
                 row_number() OVER (PARTITION BY key ORDER BY ts, event_id)
                   AS seq,
                 sum(x * {inc1} + (1 - x) * {inc0}) OVER (
                   PARTITION BY key ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS llr
          FROM ev),
        fl AS MATERIALIZED (
          SELECT key, x, seq, llr,
                 CASE WHEN llr >= {up} OR llr <= {lo} THEN seq END AS hit_seq
          FROM wk),
        ag AS (SELECT key, CAST(count(*) AS BIGINT) AS n_events,
                      CAST(sum(x) AS BIGINT) AS n_success,
                      min(hit_seq) AS first_hit
               FROM fl GROUP BY key)
        SELECT ag.key AS user_id, n_events, n_success,
               CAST(coalesce(first_hit, n_events) AS BIGINT) AS n_at_decision,
               f2.llr AS llr_at_decision_fp,
               CASE WHEN first_hit IS NULL THEN 'continue'
                    WHEN f2.llr >= {up} THEN 'accept_h1'
                    ELSE 'accept_h0' END AS decision
        FROM ag JOIN fl f2 ON f2.key = ag.key
                AND f2.seq = coalesce(ag.first_hit, ag.n_events)
    """


_WINDOW_RANKS_SQL = """
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) // 3600000000 AS hour
      FROM events)
    SELECT user_id, event_id, hour,
           CAST(rank() OVER tie AS BIGINT) AS rnk,
           CAST(dense_rank() OVER tie AS BIGINT) AS drnk,
           CAST(ntile(4) OVER tot AS INT) AS nt4,
           CAST(rank() OVER tie - 1 AS BIGINT) AS pr_num,
           CAST(count(*) OVER per - 1 AS BIGINT) AS pr_den,
           CAST(count(*) OVER rng AS BIGINT) AS cd_num,
           CAST(count(*) OVER per AS BIGINT) AS n
    FROM e
    WINDOW tie AS (PARTITION BY user_id ORDER BY hour),
           tot AS (PARTITION BY user_id ORDER BY hour, event_id),
           rng AS (PARTITION BY user_id ORDER BY hour
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           per AS (PARTITION BY user_id)
"""


_TILE_MEDIAN_SQL = f"""
    WITH pts AS (
      SELECT ({LAT_IN}) AS lat, ({LON_IN}) AS lon FROM events),
    counts AS MATERIALIZED (
      SELECT CAST(FLOOR((lon + 180) / 360 * pow(2, 22)) AS BIGINT) AS x,
             CAST(FLOOR((1 - ln(tan(radians(lat)) + 1/cos(radians(lat)))/pi())/2
                  * pow(2, 22)) AS BIGINT) AS y,
             CAST(count(*) AS BIGINT) AS cnt
      FROM pts GROUP BY 1, 2),
    offs AS (SELECT dx, dy FROM (SELECT unnest([-1, 0, 1]) AS dx),
                                (SELECT unnest([-1, 0, 1]) AS dy)),
    g AS (
      SELECT c.x, c.y, c.cnt, coalesce(nb.cnt, 0) AS v
      FROM counts c CROSS JOIN offs o
      LEFT JOIN counts nb
        ON nb.x = (c.x + o.dx + 4194304) % 4194304 AND nb.y = c.y + o.dy)
    SELECT CAST(22 AS INT) AS z, x, y, cnt,
           CAST(list_sort(list(v))[5] AS BIGINT) AS med
    FROM g GROUP BY x, y, cnt
"""


_RIPLEY_SQL = f"""
    WITH pts AS MATERIALIZED (
      SELECT user_id, event_id,
        CAST(round_even(({LON_IN}) * 1000000.0, 0) AS BIGINT) + 180000000 AS qx,
        CAST(round_even(({LAT_IN}) * 1000000.0, 0) AS BIGINT) + 90000000 AS qy
      FROM events),
    np AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_points
           FROM pts GROUP BY 1),
    pr AS (
      SELECT a.user_id,
             (a.qx - b.qx) * (a.qx - b.qx)
             + (a.qy - b.qy) * (a.qy - b.qy) AS d2
      FROM pts a JOIN pts b
        ON a.user_id = b.user_id AND a.event_id < b.event_id
      WHERE (a.qx - b.qx) * (a.qx - b.qx)
            + (a.qy - b.qy) * (a.qy - b.qy) <= 40000),
    cnt AS (
      SELECT user_id,
             CAST(sum(CASE WHEN d2 <= 2500 THEN 1 ELSE 0 END) AS BIGINT) AS c50,
             CAST(sum(CASE WHEN d2 <= 10000 THEN 1 ELSE 0 END) AS BIGINT) AS c100,
             CAST(sum(CASE WHEN d2 <= 40000 THEN 1 ELSE 0 END) AS BIGINT) AS c200
      FROM pr GROUP BY 1),
    wide AS (
      SELECT n.user_id, n.n_points,
             coalesce(c.c50, 0) AS c50, coalesce(c.c100, 0) AS c100,
             coalesce(c.c200, 0) AS c200
      FROM np n LEFT JOIN cnt c USING (user_id))
    SELECT user_id, CAST(u.r AS BIGINT) AS r, n_points,
           CAST(CASE u.r WHEN 50 THEN c50 WHEN 100 THEN c100
                ELSE c200 END AS BIGINT) AS n_pairs
    FROM wide, unnest([50, 100, 200]) AS u(r)
"""


_HAUSDORFF_SQL = f"""
    WITH pts AS MATERIALIZED (
      SELECT DISTINCT user_id AS u,
        CAST(round_even(({LON_IN}) * 1000000.0, 0) AS BIGINT) + 180000000 AS qx,
        CAST(round_even(({LAT_IN}) * 1000000.0, 0) AS BIGINT) + 90000000 AS qy
      FROM events WHERE user_id < 40),
    d AS MATERIALIZED (
      SELECT a.u AS u_a, b.u AS u_b, a.qx AS ax, a.qy AS ay,
             b.qx AS bx, b.qy AS by,
             (a.qx - b.qx) * (a.qx - b.qx)
             + (a.qy - b.qy) * (a.qy - b.qy) AS d2
      FROM pts a JOIN pts b ON a.u < b.u),
    mins_a AS (
      SELECT u_a, u_b, ax, ay, min(d2) AS dmin FROM d GROUP BY 1, 2, 3, 4),
    h_ab AS (SELECT u_a, u_b, max(dmin) AS h_ab2 FROM mins_a GROUP BY 1, 2),
    mins_b AS (
      SELECT u_a, u_b, bx, by, min(d2) AS dmin FROM d GROUP BY 1, 2, 3, 4),
    h_ba AS (SELECT u_a, u_b, max(dmin) AS h_ba2 FROM mins_b GROUP BY 1, 2)
    SELECT u_a, u_b, h_ab2, h_ba2, greatest(h_ab2, h_ba2) AS hd2
    FROM h_ab JOIN h_ba USING (u_a, u_b)
    WHERE greatest(h_ab2, h_ba2) <= 10000
"""


_SPATIAL_CLUSTER_SQL = f"""
    WITH RECURSIVE pts AS MATERIALIZED (
      SELECT event_id AS id, ({LAT_IN}) AS lat, ({LON_IN}) AS lon
      FROM events WHERE event_id < 3000),
    pairs AS MATERIALIZED (
      SELECT a.id AS id_a, b.id AS id_b
      FROM pts a JOIN pts b ON a.id < b.id
      WHERE round(sqrt(
               ((b.lon - a.lon) * cos(radians(a.lat)) * (pi() / 180.0 * 6371008.8))
               * ((b.lon - a.lon) * cos(radians(a.lat)) * (pi() / 180.0 * 6371008.8))
               + ((b.lat - a.lat) * (pi() / 180.0 * 6371008.8))
               * ((b.lat - a.lat) * (pi() / 180.0 * 6371008.8))
             ), 2) <= 1.0),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT src AS id, dst AS r FROM edges
      UNION
      SELECT e.src, rch.r FROM edges e JOIN reach rch ON rch.id = e.dst
    ),
    labels AS (SELECT id, least(id, min(r)) AS cluster_id FROM reach GROUP BY id),
    allpts AS (SELECT p.id, coalesce(l.cluster_id, p.id) AS cluster_id
               FROM pts p LEFT JOIN labels l ON l.id = p.id),
    sizes AS (SELECT cluster_id, count(*) AS cluster_size
              FROM allpts GROUP BY 1)
    SELECT id, a.cluster_id, cluster_size
    FROM allpts a JOIN sizes USING (cluster_id)
"""


_DBSCAN_SQL = f"""
    WITH RECURSIVE pts AS MATERIALIZED (
      SELECT event_id AS id, ({LAT_IN}) AS lat, ({LON_IN}) AS lon
      FROM events WHERE event_id < 3000),
    pairs AS MATERIALIZED (
      SELECT a.id AS id_a, b.id AS id_b
      FROM pts a JOIN pts b ON a.id < b.id
      WHERE round(sqrt(
               ((b.lon - a.lon) * cos(radians(a.lat)) * (pi() / 180.0 * 6371008.8))
               * ((b.lon - a.lon) * cos(radians(a.lat)) * (pi() / 180.0 * 6371008.8))
               + ((b.lat - a.lat) * (pi() / 180.0 * 6371008.8))
               * ((b.lat - a.lat) * (pi() / 180.0 * 6371008.8))
             ), 2) <= 1.0),
    sym AS MATERIALIZED (
      SELECT id_a, id_b FROM pairs
      UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM pairs),
    deg AS (SELECT id_a AS id, count(*) + 1 AS n FROM sym GROUP BY 1),
    cores AS MATERIALIZED (
      SELECT p.id FROM pts p LEFT JOIN deg d ON d.id = p.id
      WHERE coalesce(d.n, 1) >= 3),
    cedges AS MATERIALIZED (
      SELECT id_a, id_b FROM pairs
      WHERE id_a IN (SELECT id FROM cores) AND id_b IN (SELECT id FROM cores)),
    ce2 AS (SELECT id_a AS src, id_b AS dst FROM cedges
            UNION SELECT id_b, id_a FROM cedges),
    reach AS (
      SELECT src AS id, dst AS r FROM ce2
      UNION
      SELECT e.src, rch.r FROM ce2 e JOIN reach rch ON rch.id = e.dst),
    labels AS (SELECT id, least(id, min(r)) AS cl FROM reach GROUP BY id),
    corelab AS (
      SELECT c.id, coalesce(l.cl, c.id) AS cluster_id
      FROM cores c LEFT JOIN labels l ON l.id = c.id),
    bord AS (
      SELECT s.id_a AS id, min(cl.cluster_id) AS bcl
      FROM sym s JOIN corelab cl ON cl.id = s.id_b GROUP BY 1)
    SELECT p.id,
           CAST(coalesce(c.cluster_id,
                         CASE WHEN c.id IS NULL THEN b.bcl END,
                         -1) AS BIGINT) AS cluster_id,
           CASE WHEN c.id IS NOT NULL THEN 'core'
                WHEN b.bcl IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role
    FROM pts p
    LEFT JOIN corelab c ON c.id = p.id
    LEFT JOIN bord b ON b.id = p.id
"""


_KDIST_SQL = f"""
    WITH pts AS (
      SELECT event_id AS id, ({LAT_IN}) AS lat, ({LON_IN}) AS lon
      FROM events WHERE event_id < 3000),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b,
             CAST(round(sqrt(
               ((b.lon - a.lon) * cos(radians(a.lat)) * (pi() / 180.0 * 6371008.8))
               * ((b.lon - a.lon) * cos(radians(a.lat)) * (pi() / 180.0 * 6371008.8))
               + ((b.lat - a.lat) * (pi() / 180.0 * 6371008.8))
               * ((b.lat - a.lat) * (pi() / 180.0 * 6371008.8))
             ) * 100.0, 0) AS BIGINT) AS dist_cm
      FROM pts a JOIN pts b ON a.id < b.id),
    capped AS (SELECT * FROM pairs WHERE dist_cm <= 500),
    sym AS (
      SELECT id_a AS id, id_b AS nbr, dist_cm FROM capped
      UNION ALL SELECT id_b, id_a, dist_cm FROM capped)
    SELECT id, dist_cm AS kdist_cm
    FROM (SELECT id, dist_cm,
                 row_number() OVER (PARTITION BY id ORDER BY dist_cm, nbr) AS rn
          FROM sym)
    WHERE rn = 4
"""


_CO_MOVEMENT_SQL = f"""
    WITH pts AS (
      SELECT user_id,
             epoch_us(ts) - ((epoch_us(ts) % 3600000000 + 3600000000)
                             % 3600000000) AS hour_us,
             ({LAT_IN}) AS lat, ({LON_IN}) AS lon
      FROM events),
    pres AS MATERIALIZED (
      SELECT DISTINCT
        CAST(FLOOR((lon + 180) / 360 * pow(2, 22)) AS BIGINT) AS x,
        CAST(FLOOR((1 - ln(tan(radians(lat)) + 1/cos(radians(lat)))/pi())/2 * pow(2, 22)) AS BIGINT) AS y,
        hour_us, user_id
      FROM pts)
    SELECT a.user_id AS u_a, b.user_id AS u_b, count(*) AS n_shared
    FROM pres a JOIN pres b
      ON a.x = b.x AND a.y = b.y AND a.hour_us = b.hour_us
         AND a.user_id < b.user_id
    GROUP BY 1, 2 HAVING count(*) >= 2
"""


_WINSORIZED_SQL = """
    WITH stats AS (
      SELECT event_type, quantile_cont(value, 0.05) AS p_lo,
             quantile_cont(value, 0.95) AS p_hi
      FROM events GROUP BY 1),
    j AS (
      SELECT e.event_type, s.p_lo, s.p_hi,
             least(greatest(e.value, s.p_lo), s.p_hi) AS cv
      FROM events e JOIN stats s USING (event_type)),
    agg AS (
      SELECT event_type, p_lo, p_hi, count(*) AS n,
             CAST(sum(CAST(round_even(cv * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS s
      FROM j GROUP BY 1, 2, 3)
    SELECT event_type, n, p_lo, p_hi,
           CAST(CASE WHEN 2 * (((s % n) + n) % n) > n
                     OR (2 * (((s % n) + n) % n) = n
                         AND ((s - (((s % n) + n) % n)) // n) % 2 = 1)
                     THEN (s - (((s % n) + n) % n)) // n + 1
                     ELSE (s - (((s % n) + n) % n)) // n END AS BIGINT) AS wmean_u
    FROM agg
"""


_TYPE_ENTROPY_SQL = """
    WITH c AS (
      SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2),
    n AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
    j AS (
      SELECT c.user_id, n.n,
             CAST(c.c AS DOUBLE) / CAST(n.n AS DOUBLE) AS p
      FROM c JOIN n USING (user_id))
    SELECT user_id, n, count(*) AS n_types,
           CAST(sum(CAST(round_even(-(p * ln(p)) * 1000000000.0, 0)
                         AS BIGINT)) AS BIGINT) AS entropy_fp,
           CAST(sum(CAST(round_even(p * p * 1000000000.0, 0)
                         AS BIGINT)) AS BIGINT) AS hhi_fp
    FROM j GROUP BY 1, 2
"""


_RADIUS_GYRATION_SQL = f"""
    WITH pts AS (
      SELECT user_id,
             CAST(round_even(({LON_IN}) * 1000000000.0, 0) AS BIGINT)
               + 111976000000 AS x,
             CAST(round_even(({LAT_IN}) * 1000000000.0, 0) AS BIGINT)
               - 33074000000 AS y
      FROM events)
    SELECT user_id, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * x) AS BIGINT) AS sxx,
           CAST(sum(y * y) AS BIGINT) AS syy
    FROM pts GROUP BY 1
"""


_MOBILITY_ENTROPY_SQL = f"""
    WITH pts AS (
      SELECT user_id,
             (CAST(round_even(({LON_IN}) * 1000000000.0, 0) AS BIGINT)
              + 120000000000) // 200000 AS cx,
             CAST(round_even(({LAT_IN}) * 1000000000.0, 0) AS BIGINT)
               // 200000 AS cy
      FROM events),
    c AS (
      SELECT user_id, cx, cy, count(*) AS c FROM pts GROUP BY 1, 2, 3),
    n AS (SELECT user_id, count(*) AS n FROM pts GROUP BY 1),
    j AS (
      SELECT c.user_id, n.n,
             CAST(c.c AS DOUBLE) / CAST(n.n AS DOUBLE) AS p
      FROM c JOIN n USING (user_id))
    SELECT user_id, CAST(n AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS n_tiles,
           CAST(sum(CAST(round_even(-(p * ln(p)) * 1000000000.0, 0)
                         AS BIGINT)) AS BIGINT) AS entropy_fp
    FROM j GROUP BY 1, 2
"""


_HILL_SQL = """
    WITH ranked AS (
      SELECT n_chars,
             row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS rk
      FROM documents),
    th AS (SELECT n_chars AS x_kplus1 FROM ranked WHERE rk = 101),
    terms AS (
      SELECT t.x_kplus1,
             CAST(round_even(
               ln(CAST(r.n_chars AS DOUBLE) / CAST(t.x_kplus1 AS DOUBLE))
               * 1000000000.0, 0) AS BIGINT) AS trm
      FROM ranked r CROSS JOIN th t WHERE r.rk <= 100)
    SELECT CAST(count(*) AS BIGINT) AS k, x_kplus1,
           CAST(sum(trm) AS BIGINT) AS hill_fp_sum
    FROM terms GROUP BY 2
"""


_TRANSITION_ENTROPY_SQL = f"""
    WITH pts AS (
      SELECT user_id, ts, event_id,
             (CAST(round_even(({LON_IN}) * 1000000000.0, 0) AS BIGINT)
              + 120000000000) // 200000 AS cx,
             CAST(round_even(({LAT_IN}) * 1000000000.0, 0) AS BIGINT)
               // 200000 AS cy
      FROM events),
    tr AS (
      SELECT user_id, cx, cy,
             lead(cx) OVER w AS nx, lead(cy) OVER w AS ny
      FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    cij AS MATERIALIZED (
      SELECT user_id, cx, cy, nx, ny, CAST(count(*) AS BIGINT) AS cij
      FROM tr WHERE nx IS NOT NULL GROUP BY 1, 2, 3, 4, 5),
    ci AS (
      SELECT user_id, cx, cy, CAST(sum(cij) AS BIGINT) AS ci
      FROM cij GROUP BY 1, 2, 3),
    n AS (SELECT user_id, CAST(sum(cij) AS BIGINT) AS n FROM cij GROUP BY 1),
    j AS (
      SELECT c.user_id, t.n,
             CAST(c.cij AS DOUBLE) / CAST(t.n AS DOUBLE) AS pj,
             CAST(c.cij AS DOUBLE) / CAST(x.ci AS DOUBLE) AS pc
      FROM cij c
      JOIN ci x ON x.user_id = c.user_id AND x.cx = c.cx AND x.cy = c.cy
      JOIN n t ON t.user_id = c.user_id)
    SELECT user_id, n,
           CAST(count(*) AS BIGINT) AS n_transitions_distinct,
           CAST(sum(CAST(round_even(-(pj * ln(pc)) * 1000000000.0, 0)
                         AS BIGINT)) AS BIGINT) AS cond_entropy_fp
    FROM j GROUP BY 1, 2
"""


_CUSUM_SQL = """
    WITH base AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CAST(round_even(value * 1000000.0, 0) AS BIGINT) AS v
      FROM events),
    stats AS (
      SELECT user_id, count(*) AS n, CAST(sum(v) AS BIGINT) AS s
      FROM base GROUP BY 1),
    mu AS (
      SELECT user_id, n,
             CAST(CASE WHEN 2 * (((s % n) + n) % n) > n
                       OR (2 * (((s % n) + n) % n) = n
                           AND ((s - (((s % n) + n) % n)) // n) % 2 = 1)
                       THEN (s - (((s % n) + n) % n)) // n + 1
                       ELSE (s - (((s % n) + n) % n)) // n END AS BIGINT) AS mu_u
      FROM stats),
    d AS (
      SELECT b.user_id, b.event_id, b.us, m.n, m.mu_u,
             b.v - m.mu_u - 200000 AS dd
      FROM base b JOIN mu m USING (user_id)),
    p0 AS (
      SELECT *, sum(dd) OVER w AS pp
      FROM d
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    p AS (
      SELECT *, least(CAST(0 AS BIGINT), min(pp) OVER w) AS pmin
      FROM p0
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT user_id, n, mu_u,
           CAST(max(pp - pmin) AS BIGINT) AS max_cusum_u,
           CAST(sum(CASE WHEN pp - pmin > 2000000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_over,
           min(CASE WHEN pp - pmin > 2000000 THEN us END) AS first_over_us
    FROM p GROUP BY 1, 2, 3
"""


_THEIL_SEN_SQL = """
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CAST(round_even(value * 1000000.0, 0) AS BIGINT) AS v
      FROM events),
    pairs AS (
      SELECT a.user_id,
             CAST(b.v - a.v AS DOUBLE)
               / (CAST(b.us - a.us AS DOUBLE) / 3600000000.0) AS slope
      FROM e a JOIN e b
        ON a.user_id = b.user_id AND a.event_id < b.event_id
           AND a.us != b.us)
    SELECT user_id, count(*) AS n_pairs,
           quantile_cont(slope, 0.5) AS slope_med
    FROM pairs GROUP BY 1
"""


_OLS_SLOPE_SQL = """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS us,
             CAST(round_even(value * 1000000.0, 0) AS BIGINT) AS v
      FROM events),
    t0 AS (SELECT user_id, min(us) AS us0 FROM e GROUP BY 1),
    c AS (
      SELECT e.user_id, (e.us - t0.us0) // 1000000 AS t, e.v
      FROM e JOIN t0 USING (user_id)),
    m AS (
      SELECT user_id, count(*) AS n,
             CAST(sum(t) AS BIGINT) AS st, CAST(sum(v) AS BIGINT) AS sv,
             CAST(sum(t * v) AS BIGINT) AS stv,
             CAST(sum(t * t) AS BIGINT) AS stt
      FROM c GROUP BY 1)
    SELECT user_id, n,
           (CAST(n * stv AS DOUBLE) - CAST(st AS DOUBLE) * CAST(sv AS DOUBLE))
           / (CAST(n * stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
             AS slope_u_per_s
    FROM m WHERE n >= 2
"""


_KENDALL_SQL = """
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CAST(round_even(value * 1000000.0, 0) AS BIGINT) AS v
      FROM events),
    p AS (
      SELECT a.user_id, b.us - a.us AS dt, b.v - a.v AS dv
      FROM e a JOIN e b
        ON a.user_id = b.user_id AND a.event_id < b.event_id
           AND a.us != b.us)
    SELECT user_id, count(*) AS n_pairs,
           CAST(sum(CASE WHEN (dt > 0 AND dv > 0) OR (dt < 0 AND dv < 0)
                         THEN 1 ELSE 0 END) AS BIGINT) AS nc,
           CAST(sum(CASE WHEN (dt > 0 AND dv < 0) OR (dt < 0 AND dv > 0)
                         THEN 1 ELSE 0 END) AS BIGINT) AS nd,
           CAST(sum(CASE WHEN dv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_vtie
    FROM p GROUP BY 1
"""


_MANN_WHITNEY_SQL = """
    WITH e AS (
      SELECT event_type,
             CAST(round_even(value * 1000000.0, 0) AS BIGINT) AS v
      FROM events WHERE event_type IN ('click', 'error')),
    vc AS (
      SELECT v, count(*) AS eq,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS eq1
      FROM e GROUP BY 1),
    ranked AS (
      SELECT *, 2 * coalesce(sum(eq) OVER (
               ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) + eq + 1 AS mr2
      FROM vc),
    agg AS (
      SELECT CAST(sum(eq1) AS BIGINT) AS n1,
             CAST(sum(eq - eq1) AS BIGINT) AS n2,
             CAST(sum(mr2 * eq1) AS BIGINT) AS r1_x2
      FROM ranked)
    SELECT n1, n2,
           CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
           CAST(2 * n1 * n2 - (r1_x2 - n1 * (n1 + 1)) AS BIGINT) AS u2_x2
    FROM agg
"""


_CHI_SQUARE_SQL = """
    WITH e AS (
      SELECT event_type, user_id % 4 AS cohort FROM events),
    obs AS (SELECT event_type, cohort, count(*) AS o FROM e GROUP BY 1, 2),
    r AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r FROM obs GROUP BY 1),
    c AS (SELECT cohort, CAST(sum(o) AS BIGINT) AS c FROM obs GROUP BY 1),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM e),
    cells AS (
      SELECT CAST(round_even(
               (CAST(o AS DOUBLE) - CAST(r.r * c.c AS DOUBLE) / nn.n)
               * (CAST(o AS DOUBLE) - CAST(r.r * c.c AS DOUBLE) / nn.n)
               / (CAST(r.r * c.c AS DOUBLE) / nn.n) * 1000000.0, 0)
             AS BIGINT) AS cell
      FROM obs JOIN r USING (event_type) JOIN c USING (cohort)
      CROSS JOIN nn)
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(cell) AS BIGINT) AS chi2_fp,
           CAST((SELECT count(*) - 1 FROM r)
                * (SELECT count(*) - 1 FROM c) AS BIGINT) AS dof
    FROM cells
"""


_SCD2_SQL = """
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us
      FROM events),
    marked AS (
      SELECT user_id, event_type, us, event_id,
             CASE WHEN lag(event_type) OVER w IS NULL
                       OR lag(event_type) OVER w != event_type
                  THEN 1 ELSE 0 END AS is_change
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    changes AS (
      SELECT user_id, event_type, us, event_id
      FROM marked WHERE is_change = 1)
    SELECT user_id, event_type AS attr, us AS valid_from,
           coalesce(lead(us) OVER w2, -1) AS valid_to,
           CAST(CASE WHEN lead(us) OVER w2 IS NULL THEN 1 ELSE 0 END
                AS INT) AS is_current
    FROM changes
    WINDOW w2 AS (PARTITION BY user_id ORDER BY us, event_id)
"""


_STREAKS_SQL = """
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
    marked AS (
      SELECT user_id, event_id, event_type, us,
             CASE WHEN lag(event_type) OVER w IS NULL
                       OR lag(event_type) OVER w != event_type
                  THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    isl AS (
      SELECT user_id, event_type, us,
             sum(is_new) OVER (PARTITION BY user_id
               ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS streak
      FROM marked),
    streaks AS (
      SELECT user_id, streak, any_value(event_type) AS stype,
             CAST(count(*) AS BIGINT) AS len, min(us) AS s0
      FROM isl GROUP BY 1, 2)
    SELECT user_id, n_streaks, best_len, stype AS best_type FROM (
      SELECT user_id, stype, len, s0,
             CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_streaks,
             CAST(max(len) OVER (PARTITION BY user_id) AS BIGINT) AS best_len,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY len DESC, s0 ASC) AS rn
      FROM streaks) q
    WHERE rn = 1
"""


_INTERVAL_UNION_SQL = """
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS s,
             epoch_us(ts)
               + CAST(round_even(value * 100.0, 0) AS BIGINT) * 10000 AS en
      FROM events),
    stepped AS (
      SELECT user_id, event_id, s, en,
             CASE WHEN max(en) OVER (PARTITION BY user_id
                    ORDER BY s, en, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  IS NULL THEN 1
                  WHEN s > max(en) OVER (PARTITION BY user_id
                    ORDER BY s, en, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS is_new
      FROM e),
    isl AS (
      SELECT user_id, s, en,
             sum(is_new) OVER (PARTITION BY user_id
               ORDER BY s, en, event_id ROWS UNBOUNDED PRECEDING) AS island
      FROM stepped),
    agg AS (
      SELECT user_id, island, min(s) AS i_s, max(en) AS i_en,
             CAST(count(*) AS BIGINT) AS n_iv
      FROM isl GROUP BY 1, 2)
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(i_en - i_s) AS BIGINT) AS covered_us,
           CAST(sum(n_iv) AS BIGINT) AS n_intervals
    FROM agg GROUP BY 1
"""


_ACF_SQL = """
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CAST(round_even(value * 100.0, 0) AS BIGINT) AS v
      FROM events),
    led AS (
      SELECT user_id, v,
             lead(v, 1) OVER w AS v1,
             lead(v, 2) OVER w AS v2,
             lead(v, 3) OVER w AS v3
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    pairs AS (
      SELECT user_id, v, l.lag_k,
             CASE l.lag_k WHEN 1 THEN v1 WHEN 2 THEN v2 ELSE v3 END AS y
      FROM led CROSS JOIN (VALUES (1), (2), (3)) l(lag_k))
    SELECT user_id, lag_k, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(v) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(v * y) AS BIGINT) AS sxy,
           CAST(sum(v * v) AS BIGINT) AS sxx,
           CAST(sum(y * y) AS BIGINT) AS syy
    FROM pairs WHERE y IS NOT NULL
    GROUP BY 1, 2
"""


_HAAR_SQL = """
    WITH e AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS hour FROM events),
    counts AS (
      SELECT event_type, hour, CAST(count(*) AS BIGINT) AS n
      FROM e GROUP BY 1, 2),
    paired AS (
      SELECT event_type, hour // 2 AS pair,
             CAST(sum(CASE WHEN hour % 2 = 0 THEN n ELSE 0 END)
                  AS BIGINT) AS a0,
             CAST(sum(CASE WHEN hour % 2 = 1 THEN n ELSE 0 END)
                  AS BIGINT) AS a1
      FROM counts GROUP BY 1, 2)
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum((a0 + a1) * (a0 + a1)) AS BIGINT) AS energy_approx,
           CAST(sum((a0 - a1) * (a0 - a1)) AS BIGINT) AS energy_detail
    FROM paired GROUP BY 1
"""


def _benford_sql() -> str:
    import math

    cases = " ".join(
        f"WHEN {d} THEN CAST({math.log10(1.0 + 1.0 / d)!r} AS DOUBLE)"
        for d in range(1, 10)
    )
    return f"""
    WITH e AS (
      SELECT CAST(round_even(value * 100.0, 0) AS BIGINT) AS cents
      FROM events),
    pos AS (SELECT cents FROM e WHERE cents > 0),
    obs AS (
      SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS d,
             CAST(count(*) AS BIGINT) AS n
      FROM pos GROUP BY 1),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM pos)
    SELECT d, n,
           CAST(round_even(
             (CAST(n AS DOUBLE) - (CASE d {cases} END) * nn.t)
             * (CAST(n AS DOUBLE) - (CASE d {cases} END) * nn.t)
             / ((CASE d {cases} END) * nn.t) * 1000000.0, 0) AS BIGINT)
             AS chi_fp
    FROM obs CROSS JOIN nn
    """


_FANO_SQL = """
    WITH e AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS hour FROM events),
    counts AS (
      SELECT event_type, hour, CAST(count(*) AS BIGINT) AS n
      FROM e GROUP BY 1, 2),
    agg AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n) AS BIGINT) AS s,
             CAST(sum(n * n) AS BIGINT) AS q
      FROM counts GROUP BY 1)
    SELECT event_type, k, s, q,
           (CAST(q AS DOUBLE) / CAST(k AS DOUBLE)
            - (CAST(s AS DOUBLE) / CAST(k AS DOUBLE))
              * (CAST(s AS DOUBLE) / CAST(k AS DOUBLE)))
           / (CAST(s AS DOUBLE) / CAST(k AS DOUBLE)) AS fano
    FROM agg
"""


_TRIGRAM_PATHS_SQL = """
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us
      FROM events),
    tri AS (
      SELECT event_type AS a,
             lead(event_type, 1) OVER w AS b,
             lead(event_type, 2) OVER w AS c
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
    SELECT a || '>' || b || '>' || c AS path,
           CAST(count(*) AS BIGINT) AS n
    FROM tri WHERE c IS NOT NULL
    GROUP BY 1 ORDER BY n DESC, path ASC LIMIT 20
"""


_FORECAST_BACKTEST_SQL = """
    WITH e AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS hour FROM events),
    counts AS (
      SELECT event_type, hour, CAST(count(*) AS BIGINT) AS n
      FROM e GROUP BY 1, 2),
    lagged AS (
      SELECT c.event_type, c.hour, c.n, b.n AS n24
      FROM counts c JOIN counts b
        ON b.event_type = c.event_type AND b.hour = c.hour - 24)
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
           CAST(sum(abs(n - n24)) AS BIGINT) AS abs_err_sum,
           CAST(sum(n) AS BIGINT) AS actual_sum,
           CAST(sum(abs(n - n24)) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS mae
    FROM lagged
    GROUP BY 1
"""


_PSI_DRIFT_SQL = """
    WITH e AS (
      SELECT CAST(round_even(value * 100.0, 0) AS BIGINT) AS cents,
             epoch_us(ts) // 3600000000 AS hour
      FROM events),
    mid AS (SELECT (min(hour) + max(hour) + 1) // 2 AS m FROM e),
    binned AS (
      SELECT least(cents // 1000, 9) AS bin,
             CASE WHEN hour < (SELECT m FROM mid) THEN 1 ELSE 0 END AS s1
      FROM e),
    counts AS (
      SELECT bin, CAST(sum(s1) AS BIGINT) AS n1,
             CAST(sum(1 - s1) AS BIGINT) AS n2
      FROM binned GROUP BY 1
      HAVING sum(s1) > 0 AND sum(1 - s1) > 0),
    tot AS (
      SELECT CAST(sum(n1) AS BIGINT) AS nt1,
             CAST(sum(n2) AS BIGINT) AS nt2 FROM counts),
    terms AS (
      SELECT bin, n1, n2,
             CAST(round_even(
               (CAST(n1 AS DOUBLE) / CAST(nt1 AS DOUBLE)
                - CAST(n2 AS DOUBLE) / CAST(nt2 AS DOUBLE))
               * ln((CAST(n1 AS DOUBLE) / CAST(nt1 AS DOUBLE))
                    / (CAST(n2 AS DOUBLE) / CAST(nt2 AS DOUBLE)))
               * 1000000000.0, 0) AS BIGINT) AS term_fp
      FROM counts CROSS JOIN tot)
    SELECT bin, n1, n2, term_fp,
           CAST(sum(term_fp) OVER () AS BIGINT) AS psi_fp
    FROM terms
"""


_EVENT_STUDY_SQL = """
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CAST(round_even(value * 100.0, 0) AS BIGINT) AS cents,
             event_type
      FROM events),
    p AS (
      SELECT user_id, event_id AS pid, us AS pus
      FROM e WHERE event_type = 'purchase'),
    j AS (
      SELECT e.cents,
             CASE WHEN e.us < p.pus THEN 1 ELSE 0 END AS pre,
             CASE WHEN e.us > p.pus THEN 1 ELSE 0 END AS post
      FROM e JOIN p USING (user_id)
      WHERE e.event_id != p.pid
        AND abs(e.us - p.pus) <= 3600000000
        AND e.us != p.pus),
    agg AS (
      SELECT CAST(sum(pre) AS BIGINT) AS n_pre,
             CAST(sum(pre * cents) AS BIGINT) AS s_pre,
             CAST(sum(post) AS BIGINT) AS n_post,
             CAST(sum(post * cents) AS BIGINT) AS s_post
      FROM j)
    SELECT n_pre, s_pre, n_post, s_post,
           CAST(s_post AS DOUBLE) / CAST(n_post AS DOUBLE)
             - CAST(s_pre AS DOUBLE) / CAST(n_pre AS DOUBLE) AS did_cents
    FROM agg
"""


_LORENZ_SQL = """
    WITH e AS (
      SELECT event_type, user_id,
             CAST(round_even(value * 100.0, 0) AS BIGINT) AS cents
      FROM events),
    tot AS (
      SELECT event_type, user_id, CAST(sum(cents) AS BIGINT) AS x
      FROM e GROUP BY 1, 2),
    ranked AS (
      SELECT event_type, x,
             CAST(row_number() OVER (PARTITION BY event_type
                  ORDER BY x DESC, user_id ASC) AS BIGINT) AS rk,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM tot),
    agg AS (
      SELECT event_type, CAST(max(n) AS BIGINT) AS n_users,
             CAST(sum(x) AS BIGINT) AS total,
             CAST(sum(CASE WHEN rk <= (10 * n + 99) // 100
                      THEN x ELSE 0 END) AS BIGINT) AS top10,
             CAST(sum(CASE WHEN rk <= (50 * n + 99) // 100
                      THEN x ELSE 0 END) AS BIGINT) AS top50
      FROM ranked GROUP BY 1)
    SELECT event_type, n_users, total, top10, top50,
           CAST(top10 AS DOUBLE) / CAST(total AS DOUBLE) AS share10,
           CAST(top50 AS DOUBLE) / CAST(total AS DOUBLE) AS share50
    FROM agg
"""


_EMBED_DRIFT_SQL = """
    WITH e AS (
      SELECT half, CAST(i AS INT) AS dim,
             CAST(round_even(CAST(embedding[i + 1] AS DOUBLE) * 1000000.0, 0)
                  AS BIGINT) AS vu
      FROM (SELECT vec_id % 2 AS half, embedding,
                   unnest(range(len(embedding))) AS i
            FROM embeddings)),
    agg AS (
      SELECT half, dim, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(vu) AS BIGINT) AS sum_u
      FROM e GROUP BY 1, 2),
    a AS (SELECT dim, n AS n0, sum_u AS s0 FROM agg WHERE half = 0),
    b AS (SELECT dim, n AS n1, sum_u AS s1 FROM agg WHERE half = 1),
    terms AS (
      SELECT CAST(round_even(
               (CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)
                - CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
               * (CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)
                  - CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
               * 1000.0, 0) AS BIGINT) AS term,
             n0, n1
      FROM a JOIN b USING (dim))
    SELECT CAST(count(*) AS BIGINT) AS n_dims,
           CAST(max(n0) AS BIGINT) AS n_even,
           CAST(max(n1) AS BIGINT) AS n_odd,
           CAST(sum(term) AS BIGINT) AS shift2_fp
    FROM terms
"""


_RFM_SQL = """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS us,
             CAST(round_even(value * 100.0, 0) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'),
    u AS (
      SELECT user_id, max(us) AS last_us,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(cents) AS BIGINT) AS money
      FROM e GROUP BY 1),
    ranked AS (
      SELECT user_id,
             CAST(row_number() OVER (ORDER BY last_us DESC, user_id ASC)
                  AS BIGINT) AS r_rk,
             CAST(row_number() OVER (ORDER BY freq DESC, user_id ASC)
                  AS BIGINT) AS f_rk,
             CAST(row_number() OVER (ORDER BY money DESC, user_id ASC)
                  AS BIGINT) AS m_rk,
             CAST(count(*) OVER () AS BIGINT) AS nu
      FROM u)
    SELECT user_id,
           ((r_rk - 1) * 5) // nu AS r_q,
           ((f_rk - 1) * 5) // nu AS f_q,
           ((m_rk - 1) * 5) // nu AS m_q,
           (((r_rk - 1) * 5) // nu) * 100 + (((f_rk - 1) * 5) // nu) * 10
             + ((m_rk - 1) * 5) // nu AS rfm_code
    FROM ranked
"""


_COHORT_RETENTION_SQL = """
    WITH e AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS week FROM events
      WHERE event_type = 'purchase'),
    first AS (
      SELECT user_id, min(week) AS cohort FROM e GROUP BY 1),
    sizes AS (
      SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_users
      FROM first GROUP BY 1),
    act AS (
      SELECT cohort, week - cohort AS "offset",
             CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
      FROM e JOIN first USING (user_id)
      GROUP BY 1, 2)
    SELECT cohort, "offset", n_active, cohort_users,
           CAST(n_active AS DOUBLE) / CAST(cohort_users AS DOUBLE)
             AS retention
    FROM act JOIN sizes USING (cohort)
"""


_REFERENTIAL_AUDIT_SQL = """
    SELECT 'lineitem.orderkey' AS fk,
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS child_rows,
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem
            WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
             AS orphan_rows,
           (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) FROM lineitem
            WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
             AS orphan_keys
    UNION ALL
    SELECT 'orders.custkey',
           (SELECT CAST(count(*) AS BIGINT) FROM orders),
           (SELECT CAST(count(*) AS BIGINT) FROM orders
            WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)),
           (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders
            WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
    UNION ALL
    SELECT 'customer.nationkey',
           (SELECT CAST(count(*) AS BIGINT) FROM customer),
           (SELECT CAST(count(*) AS BIGINT) FROM customer
            WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation)),
           (SELECT CAST(count(DISTINCT c_nationkey) AS BIGINT) FROM customer
            WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation))
    UNION ALL
    SELECT 'supplier.nationkey',
           (SELECT CAST(count(*) AS BIGINT) FROM supplier),
           (SELECT CAST(count(*) AS BIGINT) FROM supplier
            WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation)),
           (SELECT CAST(count(DISTINCT s_nationkey) AS BIGINT) FROM supplier
            WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation))
"""


_JOIN_PROFILE_SQL = """
    WITH o AS (
      SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS n1
      FROM orders GROUP BY 1),
    l AS (
      SELECT l_orderkey % 1500 AS k, CAST(count(*) AS BIGINT) AS n2
      FROM lineitem GROUP BY 1),
    per_key AS (
      SELECT o.k, n1 * n2 AS pairs FROM o JOIN l USING (k)),
    ranked AS (
      SELECT pairs,
             CAST(row_number() OVER (ORDER BY pairs DESC, k ASC)
                  AS BIGINT) AS rn,
             CAST(count(*) OVER () AS BIGINT) AS nk
      FROM per_key)
    SELECT CAST(sum(pairs) AS BIGINT) AS total_pairs,
           CAST(max(nk) AS BIGINT) AS matched_keys,
           CAST(max(pairs) AS BIGINT) AS max_key_pairs,
           CAST(sum(CASE WHEN rn <= (nk + 9) // 10
                    THEN pairs ELSE 0 END) AS BIGINT) AS top_decile_pairs
    FROM ranked
"""


_SKYLINE_SQL = """
    WITH e AS (
      SELECT user_id,
             CAST(round_even(value * 100.0, 0) AS BIGINT) AS cents
      FROM events),
    u AS (
      SELECT user_id, CAST(sum(cents) AS BIGINT) AS x,
             CAST(count(*) AS BIGINT) AS y
      FROM e GROUP BY 1),
    blocks AS (
      SELECT x,
             max(block_max) OVER (ORDER BY x DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max_y
      FROM (SELECT x, max(y) AS block_max FROM u GROUP BY 1) b)
    SELECT user_id, x, y
    FROM u JOIN blocks USING (x)
    WHERE prev_max_y IS NULL OR y >= prev_max_y
"""


_DECAY_SCORE_SQL = """
    WITH e AS (
      SELECT user_id,
             CAST(round_even(value * 100.0, 0) AS BIGINT) AS cents,
             epoch_us(ts) // 3600000000 AS hour
      FROM events),
    mx AS (SELECT max(hour) AS m FROM e),
    terms AS (
      SELECT user_id,
             CASE WHEN (SELECT m FROM mx) - hour <= 32
                  THEN cents * CAST(power(2, 32 - ((SELECT m FROM mx) - hour))
                               AS BIGINT)
                  ELSE 0 END AS term,
             CASE WHEN (SELECT m FROM mx) - hour <= 32
                  THEN 1 ELSE 0 END AS live
      FROM e)
    SELECT user_id, CAST(sum(term) AS BIGINT) AS decayed_fp,
           CAST(sum(live) AS BIGINT) AS n_live,
           (SELECT m FROM mx) AS as_of_hour
    FROM terms GROUP BY 1
"""


_GINI_SQL = """
    WITH e AS (
      SELECT event_type, user_id,
             CAST(round_even(value * 100.0, 0) AS BIGINT) AS cents
      FROM events),
    tot AS (
      SELECT event_type, user_id, CAST(sum(cents) AS BIGINT) AS x
      FROM e GROUP BY 1, 2),
    ranked AS (
      SELECT event_type, x,
             CAST(row_number() OVER (PARTITION BY event_type
                                     ORDER BY x, user_id) AS BIGINT) AS i,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM tot),
    agg AS (
      SELECT event_type, CAST(max(n) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s,
             CAST(sum((2 * i - n - 1) * x) AS BIGINT) AS num
      FROM ranked GROUP BY 1)
    SELECT event_type, n, s, num,
           CAST(num AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)) AS gini
    FROM agg
"""


_ANOVA_SQL = """
    WITH e AS (
      SELECT event_type,
             CAST(round_even(value * 100.0, 0) AS BIGINT) AS x
      FROM events),
    g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(x) AS BIGINT) AS s_g,
             CAST(sum(x * x) AS BIGINT) AS q_g
      FROM e GROUP BY 1),
    gt AS (
      SELECT n_g, s_g, q_g,
             CAST(floor(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
                  / CAST(n_g AS DOUBLE) * 1000000.0) AS BIGINT) AS t_g
      FROM g),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n_g) AS BIGINT) AS n,
             CAST(sum(s_g) AS BIGINT) AS s, CAST(sum(q_g) AS BIGINT) AS q,
             CAST(sum(t_g) AS BIGINT) AS t_groups
      FROM gt)
    SELECT k, n,
           t_groups
             - CAST(floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                    / CAST(n AS DOUBLE) * 1000000.0) AS BIGINT) AS ssb_fp,
           q * 1000000 - t_groups AS ssw_fp,
           (CAST(t_groups
                 - CAST(floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                        / CAST(n AS DOUBLE) * 1000000.0) AS BIGINT)
                 AS DOUBLE)
            / CAST(k - 1 AS DOUBLE))
           / (CAST(q * 1000000 - t_groups AS DOUBLE)
              / CAST(n - k AS DOUBLE)) AS f_stat
    FROM tot
"""


_TIME_TO_CONVERT_SQL = """
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
    v0 AS (
      SELECT user_id, min(us) AS v0 FROM e
      WHERE event_type = 'view' GROUP BY 1),
    conv AS (
      SELECT e.user_id, min(e.us) - min(v0.v0) AS gap
      FROM e JOIN v0 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.us > v0.v0
      GROUP BY 1)
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           quantile_cont(gap, 0.25) AS p25_us,
           quantile_cont(gap, 0.5) AS p50_us,
           quantile_cont(gap, 0.9) AS p90_us
    FROM conv
"""


_AB_TEST_SQL = """
    WITH e AS (
      SELECT user_id % 2 AS arm,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
      FROM events),
    g AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(conv) AS BIGINT) AS x
      FROM e GROUP BY 1),
    a AS (SELECT n AS n1, x AS x1 FROM g WHERE arm = 0),
    b AS (SELECT n AS n2, x AS x2 FROM g WHERE arm = 1)
    SELECT n1, x1, n2, x2,
           (CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
            - CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE))
           / sqrt(
               (CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
               * (1.0 - CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
               * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))
             ) AS z
    FROM a CROSS JOIN b
"""


_MUTUAL_INFO_SQL = """
    WITH e AS (
      SELECT event_type, user_id % 4 AS cohort FROM events),
    obs AS (SELECT event_type, cohort, count(*) AS o FROM e GROUP BY 1, 2),
    r AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r FROM obs GROUP BY 1),
    c AS (SELECT cohort, CAST(sum(o) AS BIGINT) AS c FROM obs GROUP BY 1),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                  CAST(count(*) AS BIGINT) AS ni FROM e),
    cells AS (
      SELECT CAST(round_even(
               (CAST(o AS DOUBLE) / nn.n)
               * ln((CAST(o AS DOUBLE) / nn.n)
                    / ((CAST(r.r AS DOUBLE) / nn.n)
                       * (CAST(c.c AS DOUBLE) / nn.n)))
               * 1000000000.0, 0) AS BIGINT) AS cell
      FROM obs JOIN r USING (event_type) JOIN c USING (cohort)
      CROSS JOIN nn)
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           (SELECT ni FROM nn) AS n,
           CAST(sum(cell) AS BIGINT) AS mi_fp
    FROM cells
"""


_SPEARMAN_SQL = """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS x,
             CAST(round_even(value * 1000000.0, 0) AS BIGINT) AS y
      FROM events),
    r AS (
      SELECT user_id,
             2 * (rank() OVER (PARTITION BY user_id ORDER BY x) - 1)
               + count(*) OVER (PARTITION BY user_id, x) AS rx2,
             2 * (rank() OVER (PARTITION BY user_id ORDER BY y) - 1)
               + count(*) OVER (PARTITION BY user_id, y) AS ry2
      FROM e)
    SELECT user_id, count(*) AS n,
           CAST(sum(rx2 * ry2) AS BIGINT) AS sxy2,
           CAST(sum(rx2 * rx2) AS BIGINT) AS sxx2,
           CAST(sum(ry2 * ry2) AS BIGINT) AS syy2
    FROM r GROUP BY 1
"""


_KS_TEST_SQL = """
    WITH e AS (
      SELECT user_id,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g1,
             CAST(round_even(value * 1000000.0, 0) AS BIGINT) AS v
      FROM events WHERE event_type IN ('click', 'view')),
    c AS (
      SELECT user_id, v, CAST(sum(g1) AS BIGINT) AS eq1,
             CAST(sum(1 - g1) AS BIGINT) AS eq2
      FROM e GROUP BY 1, 2),
    w AS (
      SELECT user_id,
             sum(eq1) OVER (PARTITION BY user_id ORDER BY v
                            ROWS UNBOUNDED PRECEDING) AS cum1,
             sum(eq2) OVER (PARTITION BY user_id ORDER BY v
                            ROWS UNBOUNDED PRECEDING) AS cum2,
             sum(eq1) OVER (PARTITION BY user_id) AS n1,
             sum(eq2) OVER (PARTITION BY user_id) AS n2
      FROM c)
    SELECT user_id, CAST(max(n1) AS BIGINT) AS n1,
           CAST(max(n2) AS BIGINT) AS n2,
           CAST(max(abs(n2 * cum1 - n1 * cum2)) AS BIGINT) AS d_num
    FROM w WHERE n1 > 0 AND n2 > 0 GROUP BY 1
"""


_PIVOT_SQL = "\n    SELECT user_id,\n" + ",\n".join(
    f"           CAST(coalesce(sum(CASE WHEN event_type = '{t}' THEN 1 END), 0) AS BIGINT) AS {t}_n,\n"
    f"           CAST(coalesce(sum(CASE WHEN event_type = '{t}' THEN "
    f"CAST(round_even(value * 100.0, 0) AS BIGINT) END), 0) AS BIGINT) AS {t}_cents"
    for t in _EVENT_TYPES
) + "\n    FROM events GROUP BY 1\n"


_UNPIVOT_SQL = """
    SELECT user_id, event_type, count(*) AS n,
           CAST(sum(CAST(round_even(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS cents
    FROM events GROUP BY 1, 2
"""


_TRACK_CROSSINGS_SQL = f"""
    WITH pts AS (
      SELECT user_id, ts, event_id,
             CAST(round_even(({LON_IN}) * 1000000000.0, 0) AS BIGINT) AS xi,
             CAST(round_even(({LAT_IN}) * 1000000000.0, 0) AS BIGINT) AS yi
      FROM events),
    segs AS (
      SELECT user_id,
             row_number() OVER w AS i,
             xi AS ax, yi AS ay,
             lead(xi) OVER w AS bx, lead(yi) OVER w AS by
      FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (SELECT * FROM segs WHERE bx IS NOT NULL),
    n AS (SELECT user_id, count(*) AS n_segments FROM s GROUP BY 1),
    p AS (
      SELECT a.user_id,
             (a.bx - a.ax) * (b.ay - a.ay) - (a.by - a.ay) * (b.ax - a.ax) AS o1,
             (a.bx - a.ax) * (b.by - a.ay) - (a.by - a.ay) * (b.bx - a.ax) AS o2,
             (b.bx - b.ax) * (a.ay - b.ay) - (b.by - b.ay) * (a.ax - b.ax) AS o3,
             (b.bx - b.ax) * (a.by - b.ay) - (b.by - b.ay) * (a.bx - b.ax) AS o4
      FROM s a JOIN s b
        ON a.user_id = b.user_id AND b.i > a.i + 1
       AND greatest(a.ax, a.bx) >= least(b.ax, b.bx)
       AND greatest(b.ax, b.bx) >= least(a.ax, a.bx)
       AND greatest(a.ay, a.by) >= least(b.ay, b.by)
       AND greatest(b.ay, b.by) >= least(a.ay, a.by)),
    c AS (
      SELECT user_id,
             CAST(sum(CASE WHEN ((o1 > 0 AND o2 < 0) OR (o1 < 0 AND o2 > 0))
                            AND ((o3 > 0 AND o4 < 0) OR (o3 < 0 AND o4 > 0))
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_crossings
      FROM p GROUP BY 1)
    SELECT n.user_id, CAST(n.n_segments AS BIGINT) AS n_segments,
           coalesce(c.n_crossings, 0) AS n_crossings
    FROM n LEFT JOIN c USING (user_id)
"""


_EDGE_CHURN_SQL = f"""
    WITH pts AS (
      SELECT user_id, ({LAT_IN}) AS lat, ({LON_IN}) AS lon,
             epoch_us(ts) // 3600000000 AS hour
      FROM events),
    mid AS (SELECT (min(hour) + max(hour) + 1) // 2 AS m FROM pts),
    pres AS MATERIALIZED (
      SELECT DISTINCT
        CAST(FLOOR((lon + 180) / 360 * pow(2, 22)) AS BIGINT) AS x,
        CAST(FLOOR((1 - ln(tan(radians(lat)) + 1/cos(radians(lat)))/pi())/2
             * pow(2, 22)) AS BIGINT) AS y,
        user_id,
        CASE WHEN hour < (SELECT m FROM mid) THEN 1 ELSE 0 END AS early
      FROM pts),
    e1 AS MATERIALIZED (
      SELECT a.user_id AS u_a, b.user_id AS u_b
      FROM pres a JOIN pres b
        ON a.x = b.x AND a.y = b.y AND a.user_id < b.user_id
      WHERE a.early = 1 AND b.early = 1
      GROUP BY 1, 2 HAVING count(*) >= 2),
    e2 AS MATERIALIZED (
      SELECT a.user_id AS u_a, b.user_id AS u_b
      FROM pres a JOIN pres b
        ON a.x = b.x AND a.y = b.y AND a.user_id < b.user_id
      WHERE a.early = 0 AND b.early = 0
      GROUP BY 1, 2 HAVING count(*) >= 2),
    j AS (
      SELECT coalesce(e1.in1, 0) AS p1, coalesce(e2.in2, 0) AS p2 FROM
        (SELECT u_a, u_b, 1 AS in1 FROM e1) e1
        FULL OUTER JOIN
        (SELECT u_a, u_b, 1 AS in2 FROM e2) e2
        USING (u_a, u_b))
    SELECT CAST(sum(p1) AS BIGINT) AS n_early,
           CAST(sum(p2) AS BIGINT) AS n_late,
           CAST(sum(CASE WHEN p1 = 1 AND p2 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_stable,
           CAST(count(*) AS BIGINT) AS n_union,
           CAST(sum(CASE WHEN p1 = 1 AND p2 = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS jaccard
    FROM j
"""


_CONVOY_SQL = f"""
    WITH pts AS (
      SELECT user_id, ({LAT_IN}) AS lat, ({LON_IN}) AS lon,
             epoch_us(ts) // 3600000000 AS hour
      FROM events),
    pres AS MATERIALIZED (
      SELECT DISTINCT
        CAST(FLOOR((lon + 180) / 360 * pow(2, 22)) AS BIGINT) AS x,
        CAST(FLOOR((1 - ln(tan(radians(lat)) + 1/cos(radians(lat)))/pi())/2
             * pow(2, 22)) AS BIGINT) AS y,
        user_id, hour
      FROM pts),
    ph AS (
      SELECT DISTINCT a.user_id AS u_a, b.user_id AS u_b, a.hour
      FROM pres a JOIN pres b
        ON a.x = b.x AND a.y = b.y AND a.hour = b.hour
           AND a.user_id < b.user_id),
    marked AS (
      SELECT u_a, u_b, hour,
             CASE WHEN lag(hour) OVER w IS NULL
                       OR hour - lag(hour) OVER w > 1
                  THEN 1 ELSE 0 END AS is_new
      FROM ph WINDOW w AS (PARTITION BY u_a, u_b ORDER BY hour)),
    isl AS (
      SELECT u_a, u_b, hour,
             sum(is_new) OVER (PARTITION BY u_a, u_b
               ORDER BY hour ROWS UNBOUNDED PRECEDING) AS run
      FROM marked),
    runs AS (
      SELECT u_a, u_b, run, CAST(count(*) AS BIGINT) AS len
      FROM isl GROUP BY 1, 2, 3)
    SELECT u_a, u_b, CAST(sum(len) AS BIGINT) AS n_hours,
           CAST(count(*) AS BIGINT) AS n_runs,
           CAST(max(len) AS BIGINT) AS max_run
    FROM runs GROUP BY 1, 2
    HAVING max(len) >= 3
"""


_GRAVITY_SQL = f"""
    WITH pts AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             (CAST(round_even(({LON_IN}) * 1000000000.0, 0) AS BIGINT)
              + 120000000000) // 200000 AS cx,
             CAST(round_even(({LAT_IN}) * 1000000000.0, 0) AS BIGINT)
               // 200000 AS cy
      FROM events),
    steps AS (
      SELECT lag(cx) OVER w AS ox, lag(cy) OVER w AS oy,
             cx AS dx, cy AS dy
      FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    nz AS (SELECT * FROM steps WHERE ox IS NOT NULL),
    flows AS (
      SELECT ox, oy, dx, dy, CAST(count(*) AS BIGINT) AS n
      FROM nz GROUP BY 1, 2, 3, 4),
    og AS (SELECT ox, oy, CAST(sum(n) AS BIGINT) AS o_tot
           FROM flows GROUP BY 1, 2),
    dg AS (SELECT dx, dy, CAST(sum(n) AS BIGINT) AS d_tot
           FROM flows GROUP BY 1, 2),
    tt AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM nz)
    SELECT ox, oy, dx, dy, n, o_tot, d_tot,
           CAST(round_even(
             (CAST(n AS DOUBLE) - CAST(o_tot * d_tot AS DOUBLE) / tt.t)
             * (CAST(n AS DOUBLE) - CAST(o_tot * d_tot AS DOUBLE) / tt.t)
             / (CAST(o_tot * d_tot AS DOUBLE) / tt.t) * 1000000.0, 0)
             AS BIGINT) AS resid_fp
    FROM flows JOIN og USING (ox, oy) JOIN dg USING (dx, dy)
    CROSS JOIN tt
"""


_TURN_STATS_SQL = f"""
    WITH pts AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CAST(round_even(({LON_IN}) * 1000000000.0, 0) AS BIGINT) AS xi,
             CAST(round_even(({LAT_IN}) * 1000000000.0, 0) AS BIGINT) AS yi
      FROM events),
    steps AS (
      SELECT user_id, us, event_id,
             xi - lag(xi) OVER w AS dx,
             yi - lag(yi) OVER w AS dy
      FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    nz AS (
      SELECT * FROM steps
      WHERE dx IS NOT NULL AND NOT (dx = 0 AND dy = 0)),
    pairs AS (
      SELECT user_id,
             lag(dx) OVER w AS ax, lag(dy) OVER w AS ay,
             dx AS bx, dy AS byv
      FROM nz WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    cls AS (
      SELECT user_id,
             ax * byv - ay * bx AS cr,
             ax * bx + ay * byv AS dt
      FROM pairs WHERE ax IS NOT NULL)
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_turns,
           CAST(sum(CASE WHEN cr > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_left,
           CAST(sum(CASE WHEN cr < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_right,
           CAST(sum(CASE WHEN cr = 0 AND dt > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_straight,
           CAST(sum(CASE WHEN cr = 0 AND dt < 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_reverse
    FROM cls GROUP BY 1
"""


_RDP_SQL = f"""
    WITH pts AS (
      SELECT user_id,
             CAST(row_number() OVER (PARTITION BY user_id
                  ORDER BY epoch_us(ts), event_id) AS BIGINT) AS seq,
             CAST(round_even(({LON_IN}) * 1000000.0, 0) AS BIGINT) AS x,
             CAST(round_even(({LAT_IN}) * 1000000.0, 0) AS BIGINT) AS y
      FROM events),
    n AS (SELECT user_id, max(seq) AS n FROM pts GROUP BY 1),
    a AS (SELECT user_id, x AS xa, y AS ya FROM pts WHERE seq = 1),
    b AS (SELECT pts.user_id, x AS xb, y AS yb
          FROM pts JOIN n USING (user_id) WHERE seq = n.n),
    ends AS (
      SELECT pts.user_id, seq, x, y FROM pts JOIN n USING (user_id)
      WHERE seq = 1 OR seq = n.n),
    int1 AS MATERIALIZED (
      SELECT pts.user_id, seq, x, y FROM pts JOIN n USING (user_id)
      WHERE seq > 1 AND seq < n.n),
    sc1 AS (
      SELECT i.user_id, i.seq, i.x, i.y,
             abs((i.x - xa) * (yb - ya) - (i.y - ya) * (xb - xa)) AS ac,
             (xb - xa) * (xb - xa) + (yb - ya) * (yb - ya) AS l2
      FROM int1 i JOIN a USING (user_id) JOIN b USING (user_id)),
    m1 AS MATERIALIZED (
      SELECT user_id, seq, x, y, ac, l2 FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                  ORDER BY ac DESC, seq ASC) AS rn
        FROM sc1) z
      WHERE rn = 1 AND ac * ac > 360000 * l2),
    i2 AS (
      SELECT i.user_id,
             CASE WHEN i.seq < m.seq THEN 0 ELSE 1 END AS side,
             i.seq, i.x, i.y
      FROM int1 i JOIN m1 m USING (user_id)
      WHERE i.seq != m.seq),
    a2 AS (
      SELECT a.user_id, 0 AS side, xa, ya FROM a JOIN m1 USING (user_id)
      UNION ALL
      SELECT user_id, 1 AS side, x AS xa, y AS ya FROM m1),
    b2 AS (
      SELECT user_id, 0 AS side, x AS xb, y AS yb FROM m1
      UNION ALL
      SELECT b.user_id, 1 AS side, xb, yb FROM b JOIN m1 USING (user_id)),
    sc2 AS (
      SELECT i.user_id, i.side, i.seq, i.x, i.y,
             abs((i.x - xa) * (yb - ya) - (i.y - ya) * (xb - xa)) AS ac,
             (xb - xa) * (xb - xa) + (yb - ya) * (yb - ya) AS l2
      FROM i2 i JOIN a2 USING (user_id, side) JOIN b2 USING (user_id, side)),
    m2 AS (
      SELECT user_id, seq, x, y FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id, side
                  ORDER BY ac DESC, seq ASC) AS rn
        FROM sc2) z
      WHERE rn = 1 AND ac * ac > 360000 * l2)
    SELECT DISTINCT user_id, seq, x, y FROM (
      SELECT user_id, seq, x, y FROM ends
      UNION ALL SELECT user_id, seq, x, y FROM m1
      UNION ALL SELECT user_id, seq, x, y FROM m2) all_kept
"""


_MOVE_ROSE_SQL = f"""
    WITH pts AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CAST(round_even(({LON_IN}) * 1000000000.0, 0) AS BIGINT) AS xi,
             CAST(round_even(({LAT_IN}) * 1000000000.0, 0) AS BIGINT) AS yi
      FROM events),
    steps AS (
      SELECT user_id,
             xi - lag(xi) OVER w AS dx,
             yi - lag(yi) OVER w AS dy
      FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    nz AS (
      SELECT * FROM steps
      WHERE dx IS NOT NULL AND NOT (dx = 0 AND dy = 0)),
    cls AS (
      SELECT user_id, dx, dy,
             CASE
               WHEN dx > 0 AND dy >= 0 AND dx > dy THEN 0
               WHEN dy > 0 AND dx > 0 THEN 1
               WHEN dx <= 0 AND dy > 0 AND dy > (-dx) THEN 2
               WHEN dy > 0 AND dx < 0 THEN 3
               WHEN dx < 0 AND dy <= 0 AND (-dx) > (-dy) THEN 4
               WHEN dy < 0 AND dx < 0 THEN 5
               WHEN dx >= 0 AND dy < 0 AND (-dy) > dx THEN 6
               ELSE 7
             END AS sector
      FROM nz)
    SELECT user_id, sector, CAST(count(*) AS BIGINT) AS n_steps,
           CAST(sum(greatest(abs(dx), abs(dy))) AS BIGINT) AS cheb_sum
    FROM cls GROUP BY 1, 2
"""


_CONTACT_CROSSINGS_SQL = f"""
    WITH pts AS (
      SELECT user_id, ts, event_id,
             CAST(round_even(({LON_IN}) * 1000000000.0, 0) AS BIGINT) AS xi,
             CAST(round_even(({LAT_IN}) * 1000000000.0, 0) AS BIGINT) AS yi
      FROM events),
    segs AS (
      SELECT user_id,
             epoch_us(ts) // 3600000000 AS hr,
             xi AS ax, yi AS ay,
             lead(xi) OVER w AS bx, lead(yi) OVER w AS by
      FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS MATERIALIZED (SELECT * FROM segs WHERE bx IS NOT NULL),
    p AS (
      SELECT a.user_id AS ua, b.user_id AS ub,
             (a.bx - a.ax) * (b.ay - a.ay) - (a.by - a.ay) * (b.ax - a.ax) AS o1,
             (a.bx - a.ax) * (b.by - a.ay) - (a.by - a.ay) * (b.bx - a.ax) AS o2,
             (b.bx - b.ax) * (a.ay - b.ay) - (b.by - b.ay) * (a.ax - b.ax) AS o3,
             (b.bx - b.ax) * (a.by - b.ay) - (b.by - b.ay) * (a.bx - b.ax) AS o4
      FROM s a JOIN s b
        ON a.hr = b.hr AND a.user_id < b.user_id
       AND greatest(a.ax, a.bx) >= least(b.ax, b.bx)
       AND greatest(b.ax, b.bx) >= least(a.ax, a.bx)
       AND greatest(a.ay, a.by) >= least(b.ay, b.by)
       AND greatest(b.ay, b.by) >= least(a.ay, a.by))
    SELECT ua AS user_a, ub AS user_b,
           CAST(count(*) AS BIGINT) AS n_crossings
    FROM p
    WHERE ((o1 > 0 AND o2 < 0) OR (o1 < 0 AND o2 > 0))
      AND ((o3 > 0 AND o4 < 0) OR (o3 < 0 AND o4 > 0))
    GROUP BY 1, 2
"""


def _convex_hull_sql(depth: int = 5) -> str:
    def orient(ax, ay, bx, by, px, py):
        return f"({bx} - {ax}) * ({py} - {ay}) - ({by} - {ay}) * ({px} - {ax})"

    stages = []
    vert_sel = [
        "SELECT u, ax AS vx, ay AS vy FROM anch",
        "SELECT u, bx AS vx, by AS vy FROM anch",
    ]
    prev = "g0"
    for i in range(1, depth + 1):
        stages.append(f"""
        far{i} AS MATERIALIZED (
          SELECT u, ax, ay, bx, by, px AS cx, py AS cy FROM (
            SELECT *, row_number() OVER (PARTITION BY u, ax, ay, bx, by
              ORDER BY {orient('ax', 'ay', 'bx', 'by', 'px', 'py')} DESC,
                       px ASC, py ASC) AS rn
            FROM {prev}) q
          WHERE rn = 1),
        g{i} AS MATERIALIZED (
          SELECT g.u, g.ax, g.ay, f.cx AS bx, f.cy AS by, g.px, g.py
          FROM {prev} g JOIN far{i} f USING (u, ax, ay, bx, by)
          WHERE {orient('g.ax', 'g.ay', 'f.cx', 'f.cy', 'g.px', 'g.py')} > 0
          UNION ALL
          SELECT g.u, f.cx AS ax, f.cy AS ay, g.bx, g.by, g.px, g.py
          FROM {prev} g JOIN far{i} f USING (u, ax, ay, bx, by)
          WHERE {orient('f.cx', 'f.cy', 'g.bx', 'g.by', 'g.px', 'g.py')} > 0)""")
        vert_sel.append(f"SELECT u, cx AS vx, cy AS vy FROM far{i}")
        prev = f"g{i}"
    body = ",".join(stages)
    union = "\n        UNION ALL ".join(vert_sel)
    return f"""
        WITH pts0 AS MATERIALIZED (
          SELECT DISTINCT user_id AS u,
                 CAST(round_even(({LON_IN}) * 1000000000.0, 0) AS BIGINT) AS px,
                 CAST(round_even(({LAT_IN}) * 1000000000.0, 0) AS BIGINT) AS py
          FROM events),
        anch AS MATERIALIZED (
          SELECT lo.u, lo.px AS ax, lo.py AS ay, hi.px AS bx, hi.py AS by
          FROM (SELECT u, px, py FROM (
                  SELECT *, row_number() OVER (PARTITION BY u
                    ORDER BY px ASC, py ASC) AS rn FROM pts0) a WHERE rn = 1) lo
          JOIN (SELECT u, px, py FROM (
                  SELECT *, row_number() OVER (PARTITION BY u
                    ORDER BY px DESC, py DESC) AS rn FROM pts0) b WHERE rn = 1) hi
            ON hi.u = lo.u),
        chords AS (
          SELECT u, ax, ay, bx, by FROM anch
          UNION ALL
          SELECT u, bx AS ax, by AS ay, ax AS bx, ay AS by FROM anch),
        g0 AS MATERIALIZED (
          SELECT p.u, c.ax, c.ay, c.bx, c.by, p.px, p.py
          FROM pts0 p JOIN chords c ON c.u = p.u
          WHERE {orient('c.ax', 'c.ay', 'c.bx', 'c.by', 'p.px', 'p.py')} > 0),
        {body}
        SELECT DISTINCT u AS user_id, vx, vy FROM ({union}) v
    """


_TWAP_SQL = """
    WITH rows0 AS (
      SELECT user_id,
             CAST(round_even(value * 100.0, 0) AS BIGINT) AS cents,
             epoch_us(ts) AS us,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) - epoch_us(ts)
               AS dt
      FROM events),
    agg AS (
      SELECT user_id, CAST(sum(dt) AS BIGINT) AS span_us,
             CAST(sum(cents * dt) AS BIGINT) AS vdt_sum
      FROM rows0 WHERE dt IS NOT NULL GROUP BY 1)
    SELECT user_id, span_us, vdt_sum,
           CAST(vdt_sum AS DOUBLE) / CAST(span_us AS DOUBLE) AS twap_cents
    FROM agg
"""


_MAD_SQL = """
    WITH e AS (
      SELECT user_id, CAST(round_even(value * 100.0, 0) AS BIGINT) AS c
      FROM events),
    med AS MATERIALIZED (
      SELECT user_id, CAST(quantile_cont(c, 0.5) * 2 AS BIGINT) AS med2,
             CAST(count(*) AS BIGINT) AS n
      FROM e GROUP BY 1),
    dev AS MATERIALIZED (
      SELECT e.user_id, m.n, m.med2, abs(e.c * 2 - m.med2) AS dev2
      FROM e JOIN med m ON m.user_id = e.user_id),
    mad AS MATERIALIZED (
      SELECT user_id, n, med2,
             CAST(quantile_cont(dev2, 0.5) * 2 AS BIGINT) AS mad4
      FROM dev GROUP BY 1, 2, 3)
    SELECT d.user_id, m.n, m.med2, m.mad4,
           CAST(sum(CASE WHEN d.dev2 * 2 > 3 * m.mad4 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m ON m.user_id = d.user_id
    GROUP BY 1, 2, 3, 4
"""


_EMD_SQL = """
    WITH e AS (
      SELECT event_type, (epoch_us(ts) // 3600000000) % 24 AS h FROM events),
    grid AS (
      SELECT t.event_type, g.h
      FROM (SELECT DISTINCT event_type FROM e) t
      CROSS JOIN (SELECT unnest(range(24)) AS h) g),
    cnt AS (
      SELECT g.event_type, g.h, CAST(coalesce(c.c, 0) AS BIGINT) AS c
      FROM grid g LEFT JOIN (
        SELECT event_type, h, count(*) AS c FROM e GROUP BY 1, 2) c
        ON c.event_type = g.event_type AND c.h = g.h),
    cum AS MATERIALIZED (
      SELECT event_type, h,
             CAST(sum(c) OVER (PARTITION BY event_type ORDER BY h
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM cnt),
    tot AS MATERIALIZED (
      SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY 1)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           ta.n AS n_a, tb.n AS n_b,
           CAST(sum(abs(a.cum * tb.n - b.cum * ta.n)) AS BIGINT) AS emd_num
    FROM cum a
    JOIN cum b ON b.h = a.h AND a.event_type < b.event_type
    JOIN tot ta ON ta.event_type = a.event_type
    JOIN tot tb ON tb.event_type = b.event_type
    GROUP BY 1, 2, 3, 4
"""


_LOCF_SQL = """
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CAST(round_even(value * 100.0, 0) AS BIGINT) AS c
      FROM events WHERE user_id < 30),
    obs AS MATERIALIZED (
      SELECT user_id, us, c FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id, us
                                     ORDER BY event_id DESC) AS rn FROM e) q
      WHERE rn = 1),
    span AS (
      SELECT user_id, min(us) // 3600000000 AS h0, max(us) // 3600000000 AS h1
      FROM obs GROUP BY 1),
    grid AS (
      SELECT user_id, h0 + unnest(range(h1 - h0 + 1)) AS hr FROM span),
    u AS (
      SELECT user_id, hr * 3600000000 AS us, 1 AS side,
             CAST(NULL AS BIGINT) AS c
      FROM grid
      UNION ALL
      SELECT user_id, us, 0 AS side, c FROM obs),
    f AS (
      SELECT *, count(c) OVER (PARTITION BY user_id ORDER BY us, side
                               ROWS UNBOUNDED PRECEDING) AS grp
      FROM u),
    g2 AS (
      SELECT *, max(c) OVER (PARTITION BY user_id, grp) AS fill FROM f)
    SELECT user_id, CAST(us // 3600000000 AS BIGINT) AS hr, fill AS cents,
           CASE WHEN grp > 0 THEN 1 ELSE 0 END AS has_obs
    FROM g2 WHERE side = 1
"""


_SAX_SQL = """
    WITH e AS (
      SELECT user_id, ts, event_id,
             CAST(round_even(value * 100.0, 0) AS BIGINT) AS c,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rk
      FROM events),
    stats AS MATERIALIZED (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             CAST(quantile_cont(c, 0.25) * 2 AS BIGINT) AS q1_2,
             CAST(quantile_cont(c, 0.5) * 2 AS BIGINT) AS q2_2,
             CAST(quantile_cont(c, 0.75) * 2 AS BIGINT) AS q3_2
      FROM e GROUP BY 1),
    seg AS (
      SELECT e.user_id, s.q1_2, s.q2_2, s.q3_2,
             (e.rk - 1) * 8 // s.n AS seg,
             CAST(sum(e.c) AS BIGINT) AS sm, CAST(count(*) AS BIGINT) AS m
      FROM e JOIN stats s ON s.user_id = e.user_id
      GROUP BY 1, 2, 3, 4, 5),
    sym AS (
      SELECT user_id, seg,
             (CASE WHEN sm * 2 > q1_2 * m THEN 1 ELSE 0 END
              + CASE WHEN sm * 2 > q2_2 * m THEN 1 ELSE 0 END
              + CASE WHEN sm * 2 > q3_2 * m THEN 1 ELSE 0 END) AS sym
      FROM seg)
    SELECT user_id,
           string_agg(chr(97 + sym), '' ORDER BY seg) AS sax_word,
           CAST(count(*) AS BIGINT) AS n_segments
    FROM sym GROUP BY 1
"""


_ATTRIBUTION_SQL = """
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
    marked AS (
      SELECT *, CASE WHEN event_type IN ('view', 'click') THEN us END AS tus
      FROM e),
    win AS (
      SELECT user_id, event_id, event_type, us,
             max(tus) OVER w AS last_us,
             min(tus) OVER w AS first_us,
             count(tus) OVER w AS n_touches
      FROM marked
      WINDOW w AS (PARTITION BY user_id ORDER BY us
                   RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)),
    purch AS (
      SELECT user_id, event_id, us, CAST(n_touches AS BIGINT) AS n_touches,
             last_us, first_us
      FROM win WHERE event_type = 'purchase'),
    td AS MATERIALIZED (
      SELECT user_id, us, event_type AS t_type FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id, us
                                     ORDER BY event_id DESC) AS rn
        FROM e WHERE event_type IN ('view', 'click')) q
      WHERE rn = 1)
    SELECT p.user_id, p.event_id, p.n_touches,
           p.us - p.last_us AS last_gap_us, l.t_type AS last_type,
           p.us - p.first_us AS first_gap_us, f.t_type AS first_type
    FROM purch p
    LEFT JOIN td l ON l.user_id = p.user_id AND l.us = p.last_us
    LEFT JOIN td f ON f.user_id = p.user_id AND f.us = p.first_us
"""


_HAAR2D_SQL = f"""
    WITH pts AS (
      SELECT (CAST(round_even(({LON_IN}) * 1000000000.0, 0) AS BIGINT)
              + 120000000000) // 200000 AS cx,
             CAST(round_even(({LAT_IN}) * 1000000000.0, 0) AS BIGINT)
               // 200000 AS cy
      FROM events),
    cells AS (
      SELECT cx, cy, CAST(count(*) AS BIGINT) AS n FROM pts GROUP BY 1, 2),
    blk AS (
      SELECT cx // 2 AS bx, cy // 2 AS by,
             CAST(sum(CASE WHEN cx % 2 = 0 AND cy % 2 = 0 THEN n ELSE 0 END) AS BIGINT) AS a,
             CAST(sum(CASE WHEN cx % 2 = 1 AND cy % 2 = 0 THEN n ELSE 0 END) AS BIGINT) AS b,
             CAST(sum(CASE WHEN cx % 2 = 0 AND cy % 2 = 1 THEN n ELSE 0 END) AS BIGINT) AS c,
             CAST(sum(CASE WHEN cx % 2 = 1 AND cy % 2 = 1 THEN n ELSE 0 END) AS BIGINT) AS d
      FROM cells GROUP BY 1, 2),
    co AS (
      SELECT (a + b + c + d) AS ll, (a - b + c - d) AS lh,
             (a + b - c - d) AS hl, (a - b - c + d) AS hh
      FROM blk)
    SELECT CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(sum(ll * ll) AS BIGINT) AS ll_energy,
           CAST(sum(lh * lh) AS BIGINT) AS lh_energy,
           CAST(sum(hl * hl) AS BIGINT) AS hl_energy,
           CAST(sum(hh * hh) AS BIGINT) AS hh_energy
    FROM co
"""


_LOCAL_MORAN_SQL = f"""
    WITH pts AS (
      SELECT (CAST(round_even(({LON_IN}) * 1000000000.0, 0) AS BIGINT)
              + 120000000000) // 50000 AS cx,
             CAST(round_even(({LAT_IN}) * 1000000000.0, 0) AS BIGINT) // 100000 AS cy,
             CAST(round_even(value * 100.0, 0) AS BIGINT) AS cents
      FROM events),
    cells AS (
      SELECT cx, cy, CAST(sum(cents) AS BIGINT) AS x
      FROM pts GROUP BY 1, 2),
    offs AS (SELECT dx, dy FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),
                                        (0,1),(1,-1),(1,0),(1,1)) o(dx, dy)),
    shifted AS (
      SELECT c.cx + o.dx AS cx, c.cy + o.dy AS cy, c.x AS xn
      FROM cells c CROSS JOIN offs o),
    lagf AS (
      SELECT cx, cy, count(*) AS w_deg, CAST(sum(xn) AS BIGINT) AS lag
      FROM shifted GROUP BY 1, 2)
    SELECT c.cx, c.cy, c.x,
           CAST(coalesce(l.w_deg, 0) AS BIGINT) AS w_deg,
           coalesce(l.lag, 0) AS lag
    FROM cells c LEFT JOIN lagf l USING (cx, cy)
"""


_GETIS_ORD_SQL = f"""
    WITH pts AS (
      SELECT (CAST(round_even(({LON_IN}) * 1000000000.0, 0) AS BIGINT)
              + 120000000000) // 50000 AS cx,
             CAST(round_even(({LAT_IN}) * 1000000000.0, 0) AS BIGINT) // 100000 AS cy,
             CAST(round_even(value * 100.0, 0) AS BIGINT) AS cents
      FROM events),
    cells AS MATERIALIZED (
      SELECT cx, cy, CAST(sum(cents) AS BIGINT) AS x
      FROM pts GROUP BY 1, 2),
    offs AS (SELECT dx, dy FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),
                                        (0,1),(1,-1),(1,0),(1,1)) o(dx, dy)),
    shifted AS (
      SELECT c.cx + o.dx AS cx, c.cy + o.dy AS cy, c.x AS xn
      FROM cells c CROSS JOIN offs o),
    lagf AS (
      SELECT cx, cy, count(*) AS w_deg, CAST(sum(xn) AS BIGINT) AS lag
      FROM shifted GROUP BY 1, 2),
    gtot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_cells,
             CAST(sum(x) AS BIGINT) AS s_tot,
             CAST(sum(x * x) AS BIGINT) AS s2_tot
      FROM cells)
    SELECT c.cx, c.cy,
           c.x + coalesce(l.lag, 0) AS s_i,
           CAST(coalesce(l.w_deg, 0) + 1 AS BIGINT) AS k_i,
           g.n_cells, g.s_tot, g.s2_tot
    FROM cells c LEFT JOIN lagf l USING (cx, cy) CROSS JOIN gtot g
"""


def _quadtree_sql(z_min: int = 18, z_max: int = 24, cap: int = 40) -> str:
    zs = ", ".join(str(z) for z in range(z_min, z_max + 1))
    return f"""
    WITH pts AS (
      SELECT CAST(FLOOR((({LON_IN}) + 180) / 360 * pow(2, {z_max})) AS BIGINT) AS x,
             CAST(FLOOR((1 - ln(tan(radians(({LAT_IN})))
                    + 1/cos(radians(({LAT_IN}))))/pi())/2 * pow(2, {z_max}))
                  AS BIGINT) AS y
      FROM events),
    base AS MATERIALIZED (
      SELECT x, y, CAST(count(*) AS BIGINT) AS n FROM pts GROUP BY 1, 2),
    chain AS MATERIALIZED (
      SELECT b.x, b.y, b.n, zz.z,
             b.x // CAST(pow(2, {z_max} - zz.z) AS BIGINT) AS xz,
             b.y // CAST(pow(2, {z_max} - zz.z) AS BIGINT) AS yz
      FROM base b CROSS JOIN (SELECT unnest([{zs}]) AS z) zz),
    lvls AS (
      SELECT z, xz, yz, CAST(sum(n) AS BIGINT) AS cnt
      FROM chain GROUP BY 1, 2, 3),
    leaf AS (
      SELECT c.x, c.y, c.n,
             coalesce(min(CASE WHEN l.cnt <= {cap} THEN c.z END), {z_max})
               AS leaf_z
      FROM chain c JOIN lvls l ON l.z = c.z AND l.xz = c.xz AND l.yz = c.yz
      GROUP BY 1, 2, 3)
    SELECT leaf_z AS z,
           x // CAST(pow(2, {z_max} - leaf_z) AS BIGINT) AS x,
           y // CAST(pow(2, {z_max} - leaf_z) AS BIGINT) AS y,
           CAST(sum(n) AS BIGINT) AS n_points
    FROM leaf GROUP BY 1, 2, 3
"""


_ZONAL_MAJORITY_SQL = f"""
    WITH pts AS (
      SELECT (CAST(round_even(({LON_IN}) * 1000000000.0, 0) AS BIGINT)
              + 120000000000) // 200000 AS cx,
             CAST(round_even(({LAT_IN}) * 1000000000.0, 0) AS BIGINT)
               // 200000 AS cy,
             event_type
      FROM events),
    counts AS (
      SELECT cx, cy, event_type, CAST(count(*) AS BIGINT) AS n
      FROM pts GROUP BY 1, 2, 3),
    tot AS (
      SELECT cx, cy, CAST(sum(n) AS BIGINT) AS cell_total
      FROM counts GROUP BY 1, 2)
    SELECT c.cx, c.cy, c.event_type AS majority_type, c.n AS majority_n,
           t.cell_total
    FROM (
      SELECT *, row_number() OVER (PARTITION BY cx, cy
                ORDER BY n DESC, event_type ASC) AS rn
      FROM counts) c
    JOIN tot t ON t.cx = c.cx AND t.cy = c.cy
    WHERE c.rn = 1
"""


_HOTSPOT_PERSIST_SQL = f"""
    WITH pts AS (
      SELECT (CAST(round_even(({LON_IN}) * 1000000000.0, 0) AS BIGINT)
              + 120000000000) // 200000 AS cx,
             CAST(round_even(({LAT_IN}) * 1000000000.0, 0) AS BIGINT)
               // 200000 AS cy,
             epoch_us(ts) // 3600000000 AS hour
      FROM events),
    hot AS (
      SELECT cx, cy, hour, count(*) AS n
      FROM pts GROUP BY 1, 2, 3 HAVING count(*) >= 13),
    marked AS (
      SELECT cx, cy, hour,
             CASE WHEN lag(hour) OVER w IS NULL
                       OR hour - lag(hour) OVER w > 1
                  THEN 1 ELSE 0 END AS is_new
      FROM hot WINDOW w AS (PARTITION BY cx, cy ORDER BY hour)),
    isl AS (
      SELECT cx, cy, hour,
             sum(is_new) OVER (PARTITION BY cx, cy
               ORDER BY hour ROWS UNBOUNDED PRECEDING) AS run
      FROM marked),
    runs AS (
      SELECT cx, cy, run, CAST(count(*) AS BIGINT) AS len
      FROM isl GROUP BY 1, 2, 3)
    SELECT cx, cy, CAST(sum(len) AS BIGINT) AS n_hot_hours,
           CAST(count(*) AS BIGINT) AS n_runs,
           CAST(max(len) AS BIGINT) AS max_run
    FROM runs GROUP BY 1, 2
"""


def _geohash_oracle_sql() -> str:
    from extractors_metadata_spark.functions.geohash import geohash_sql

    return f"""
        WITH ghbase AS (
          SELECT event_id, ({LAT_IN}) AS glat, ({LON_IN}) AS glon FROM events),
        {geohash_sql(8)}
        SELECT event_id, gh FROM ghfin
    """


def _tile_pyramid_sql(z_max: int = 24, z_min: int = 18) -> str:
    levels = []
    for z in range(z_max, z_min - 1, -1):
        levels.append(f"""
        SELECT {z} AS z,
               CAST(FLOOR((lon + 180) / 360 * pow(2, {z})) AS BIGINT) AS x,
               CAST(FLOOR((1 - ln(tan(radians(lat)) + 1/cos(radians(lat)))/pi())/2 * pow(2, {z})) AS BIGINT) AS y,
               count(*) AS n_points,
               CAST(sum(fp) AS BIGINT) AS sum_fp
        FROM pts GROUP BY 1, 2, 3""")
    union = "\n        UNION ALL\n".join(levels)
    return f"""
        WITH pts AS (
          SELECT ({LAT_IN}) AS lat, ({LON_IN}) AS lon,
                 CAST(round_even(value * 100.0, 0) AS BIGINT) AS fp
          FROM events)
        {union}
    """


_CUBE_STATS_SQL = """
    WITH e AS (
      SELECT event_type, user_id % 4 AS cohort, user_id,
             CAST(round_even(value * 1000000.0, 0) AS BIGINT) AS v
      FROM events)
    SELECT event_type, cohort,
           CAST(GROUPING(event_type, cohort) AS BIGINT) AS gid,
           count(*) AS n_events, count(DISTINCT user_id) AS n_users,
           CAST(sum(v) AS BIGINT) AS value_sum_u
    FROM e GROUP BY CUBE (event_type, cohort)
"""


def _idw_sql(z: int = 20) -> str:
    from extractors_metadata_spark.operators.idw import MT

    n = 1 << z
    nf = repr(float(n))
    w = f"(CAST({float(MT * MT)!r} AS DOUBLE) / CAST(d2 + {MT * MT // 4} AS DOUBLE))"
    return f"""
        WITH base AS (
          SELECT value AS v,
                 CAST(round_even(((({LON_IN}) + 180.0) / 360.0)
                   * CAST({nf} AS DOUBLE) * {MT}, 0) AS BIGINT) AS tx,
                 CAST(round_even(((1.0 - ln(tan(radians(({LAT_IN})))
                   + 1.0 / cos(radians(({LAT_IN}))))/pi()) / 2.0)
                   * CAST({nf} AS DOUBLE) * {MT}, 0) AS BIGINT) AS ty
          FROM events),
        e2 AS (
          SELECT v, tx, ty, tx // {MT} AS ex, ty // {MT} AS ey FROM base),
        offx AS (SELECT unnest([-1, 0, 1]) AS dx),
        offy AS (SELECT unnest([-1, 0, 1]) AS dy),
        sc AS (
          SELECT v, tx, ty, ex + dx AS nx, ey + dy AS ny
          FROM e2, offx, offy
          WHERE ey + dy >= 0 AND ey + dy < {n}),
        dd AS (
          SELECT v, nx, ny,
                 (tx - (nx * {MT} + {MT // 2})) * (tx - (nx * {MT} + {MT // 2}))
                 + (ty - (ny * {MT} + {MT // 2})) * (ty - (ny * {MT} + {MT // 2}))
                   AS d2
          FROM sc),
        t AS (
          SELECT ((nx + {n}) % {n}) AS x, ny AS y,
                 CAST(round_even({w} * 1000000000.0, 0) AS BIGINT) AS w_fp,
                 CAST(round_even(v * {w} * 1000000000.0, 0) AS BIGINT) AS vw_fp
          FROM dd),
        agg AS (
          SELECT x, y, count(*) AS n_contrib,
                 CAST(sum(w_fp) AS BIGINT) AS den_fp,
                 CAST(sum(vw_fp) AS BIGINT) AS num_fp
          FROM t GROUP BY 1, 2)
        SELECT x, y, n_contrib, den_fp, num_fp,
               CAST(round_even(CAST(num_fp AS DOUBLE) / CAST(den_fp AS DOUBLE)
                               * 1000000.0, 0) AS BIGINT) AS idw_fp
        FROM agg
    """


_CO_VISITATION_SQL = f"""
    WITH pts AS (
      SELECT user_id, ({LAT_IN}) AS lat, ({LON_IN}) AS lon FROM events),
    pres AS MATERIALIZED (
      SELECT DISTINCT
        CAST(FLOOR((lon + 180) / 360 * pow(2, 22)) AS BIGINT) AS x,
        CAST(FLOOR((1 - ln(tan(radians(lat)) + 1/cos(radians(lat)))/pi())/2 * pow(2, 22)) AS BIGINT) AS y,
        user_id
      FROM pts)
    SELECT a.user_id AS u_a, b.user_id AS u_b, count(*) AS n_shared
    FROM pres a JOIN pres b
      ON a.x = b.x AND a.y = b.y AND a.user_id < b.user_id
    GROUP BY 1, 2 HAVING count(*) >= 3
"""


_SNAPSHOT_DIFF_SQL = """
    WITH base AS (SELECT event_id FROM events)
    SELECT 'removed' AS change, event_id FROM base WHERE event_id % 97 = 0
    UNION ALL
    SELECT 'changed' AS change, event_id FROM base
    WHERE event_id % 97 != 0 AND event_id % 10 = 0
    UNION ALL
    SELECT 'added' AS change, event_id + 1000000 AS event_id FROM base
    WHERE event_id < 500
"""


def _snap_to_path_sql() -> str:
    from extractors_metadata_spark.operators.linear_ref import path_constants

    c = path_constants(_LR_PATH, _LR_ANCHOR)
    # every literal CAST AS DOUBLE: DuckDB parses 17-digit literals as
    # DECIMAL(38,x) and mixed DECIMAL/DOUBLE arithmetic diverges ~1e-10
    # from the pure-double chain (measured: t differed mid-range)
    L = lambda x: f"CAST({x!r} AS DOUBLE)"
    legs = []
    for k in range(len(c["len2"])):
        ax, ay = L(c["xs"][k]), L(c["ys"][k])
        bx, by = L(c["xs"][k + 1]), L(c["ys"][k + 1])
        t_raw = (
            f"(((px - {ax}) * ({bx} - {ax}) + (py - {ay}) * ({by} - {ay}))"
            f" / {L(c['len2'][k])})"
        )
        t = f"least(greatest({t_raw}, CAST(0.0 AS DOUBLE)), CAST(1.0 AS DOUBLE))"
        legs.append(f"""
          SELECT event_id, {k} AS seg,
                 (px - ({ax} + {t} * ({bx} - {ax})))
                   * (px - ({ax} + {t} * ({bx} - {ax})))
                 + (py - ({ay} + {t} * ({by} - {ay})))
                   * (py - ({ay} + {t} * ({by} - {ay}))) AS d2,
                 {L(c['cum'][k])} + {t} * {L(c['seglen'][k])} AS chain
          FROM pts""")
    union = "\n          UNION ALL".join(legs)
    return f"""
        WITH pts AS (
          SELECT event_id, ({LON_IN}) * {L(c['xscale'])} AS px,
                 ({LAT_IN}) * {L(c['yscale'])} AS py
          FROM events),
        u AS ({union})
        SELECT event_id, CAST(seg AS INT) AS seg,
               CAST(round(sqrt(d2) * 100.0, 0) AS BIGINT) AS dist_cm,
               CAST(round(chain * 100.0, 0) AS BIGINT) AS chain_cm
        FROM (SELECT *, row_number() OVER (
                PARTITION BY event_id ORDER BY d2, seg) AS rn FROM u)
        WHERE rn = 1
    """


_OD_MATRIX_SQL = f"""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             ({LAT_IN}) AS lat, ({LON_IN}) AS lon
      FROM events),
    ends AS (
      SELECT user_id,
             first(struct_pack(lat := lat, lon := lon)
                   ORDER BY us, event_id) AS o,
             last(struct_pack(lat := lat, lon := lon)
                  ORDER BY us, event_id) AS d
      FROM e GROUP BY 1),
    tiles AS (
      SELECT
        CAST(FLOOR((o.lon + 180) / 360 * pow(2, 22)) AS BIGINT) AS o_x,
        CAST(FLOOR((1 - ln(tan(radians(o.lat)) + 1/cos(radians(o.lat)))/pi())/2 * pow(2, 22)) AS BIGINT) AS o_y,
        CAST(FLOOR((d.lon + 180) / 360 * pow(2, 22)) AS BIGINT) AS d_x,
        CAST(FLOOR((1 - ln(tan(radians(d.lat)) + 1/cos(radians(d.lat)))/pi())/2 * pow(2, 22)) AS BIGINT) AS d_y
      FROM ends)
    SELECT o_x, o_y, d_x, d_y, count(*) AS n_users
    FROM tiles GROUP BY 1, 2, 3, 4
"""


_RIPLEY_K_SQL = f"""
    WITH pts AS (
      SELECT event_id AS id, ({LAT_IN}) AS lat, ({LON_IN}) AS lon
      FROM events WHERE event_id < 3000),
    pairs AS (
      SELECT CAST(round(sqrt(
               ((b.lon - a.lon) * cos(radians(a.lat)) * (pi() / 180.0 * 6371008.8))
               * ((b.lon - a.lon) * cos(radians(a.lat)) * (pi() / 180.0 * 6371008.8))
               + ((b.lat - a.lat) * (pi() / 180.0 * 6371008.8))
               * ((b.lat - a.lat) * (pi() / 180.0 * 6371008.8))
             ) * 100.0, 0) AS BIGINT) AS dist_cm
      FROM pts a JOIN pts b ON a.id < b.id),
    rr AS (SELECT CAST(unnest([500, 1000, 2000]) AS BIGINT) AS r_cm)
    SELECT r_cm / 100.0 AS r_m, count(*) AS n_pairs
    FROM pairs, rr WHERE dist_cm <= r_cm GROUP BY 1
"""


_SESSION_RULES_SQL = """
    WITH x AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS pus
      FROM events),
    f AS (
      SELECT *, CASE WHEN pus IS NULL OR us - pus > 43200000000
                     THEN 1 ELSE 0 END AS ns
      FROM x),
    s AS (
      SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id
                                   ORDER BY us, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS BIGINT) AS session_seq
      FROM f),
    basket AS MATERIALIZED (
      SELECT DISTINCT
             CAST(user_id AS VARCHAR) || '-' || CAST(session_seq AS VARCHAR)
               AS sid,
             event_type AS ty
      FROM s),
    nn AS (SELECT count(DISTINCT sid) AS n FROM basket),
    tc AS (SELECT ty, count(*) AS n_ty FROM basket GROUP BY 1),
    pr AS (
      SELECT a.ty AS ante, b.ty AS cons, count(*) AS n_both
      FROM basket a JOIN basket b ON a.sid = b.sid AND a.ty != b.ty
      GROUP BY 1, 2)
    SELECT ante, cons, n_both, na.n_ty AS n_ante, nc.n_ty AS n_cons,
           CAST(n AS BIGINT) AS n_sessions,
           CAST(round_even(CAST(n_both AS DOUBLE) / CAST(na.n_ty AS DOUBLE)
                           * 1000000000.0, 0) AS BIGINT) AS conf_fp,
           CAST(round_even(CAST(n_both * n AS DOUBLE)
                           / CAST(na.n_ty * nc.n_ty AS DOUBLE)
                           * 1000000000.0, 0) AS BIGINT) AS lift_fp
    FROM pr
    JOIN tc na ON na.ty = ante
    JOIN tc nc ON nc.ty = cons
    CROSS JOIN nn
"""


def _overlay_alloc_sql() -> str:
    from extractors_metadata_spark.operators.clip import A_SCALE

    area_a = (2.0 * _OVL_W1) * (2.0 * _OVL_H1)
    denom = 2.0 * A_SCALE * area_a
    return f"""
        WITH ov AS ({_overlay_sql()})
        SELECT ov.event_id, ov.n_vertices, ov.area2_fp,
               CAST(round_even(e.value * (CAST(ov.area2_fp AS DOUBLE)
                 / CAST({denom!r} AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
                 AS alloc_u
        FROM ov JOIN events e USING (event_id)
    """


def _zorder_key_sql() -> str:
    from extractors_metadata_spark.functions.zcurve import z_stages_sql

    return f"""
        WITH pts AS (
          SELECT event_id, ({LAT_IN}) AS lat, ({LON_IN}) AS lon FROM events),
        zbase AS (
          SELECT event_id,
            CAST(FLOOR((lon + 180) / 360 * pow(2, 12)) AS BIGINT) AS x,
            CAST(FLOOR((1 - ln(tan(radians(lat)) + 1/cos(radians(lat)))/pi())/2 * pow(2, 12)) AS BIGINT) AS y
          FROM pts),
        zb2 AS (SELECT event_id, x, y, x AS zx, y AS zy FROM zbase),
        {z_stages_sql('zb2', 'event_id, x, y')}
        SELECT event_id, x, y, zval FROM zfin
    """


_PROFILE_SQL = "\nUNION ALL\n".join(
    f"""
    SELECT '{c}' AS "column", count(*) AS n_rows,
           count(*) - count({c}) AS n_null,
           count(DISTINCT {c}) AS n_distinct,
           CAST(min({c}) AS VARCHAR) AS min_s,
           CAST(max({c}) AS VARCHAR) AS max_s
    FROM documents
    """
    for c in ("doc_id", "lang", "source", "n_chars")
)


_BBOX_OVERLAP_SQL = f"""
    WITH pts AS (
      SELECT event_id,
             ({LAT_IN}) - 0.00004 AS min_lat, ({LON_IN}) - 0.00006 AS min_lon,
             ({LAT_IN}) + 0.00004 AS max_lat, ({LON_IN}) + 0.00006 AS max_lon
      FROM events),
    plots AS (
      SELECT CAST(r AS VARCHAR) || '-' || CAST(p AS VARCHAR) AS plot_id,
             33.0745 + (r - 1) * 0.0000365 AS lat_s,
             33.0745 + r * 0.0000365 AS lat_n,
             -111.9750833333 + (p - 1) * 0.00005 AS lon_w,
             -111.9750833333 + p * 0.00005 AS lon_e
      FROM range(1, 55) t(r), range(1, 17) t2(p))
    SELECT event_id, plot_id
    FROM pts JOIN plots
      ON min_lat <= lat_n AND max_lat >= lat_s
     AND min_lon <= lon_e AND max_lon >= lon_w
"""


def _sketch_gate_sql(k: int = 6) -> str:
    from extractors_metadata_spark.operators.quantiles import bin_sql, bounds_sql

    lo, hi = bounds_sql(k)
    return f"""
        WITH v AS (SELECT lang, CAST(n_chars AS BIGINT) AS v FROM documents
                   WHERE n_chars IS NOT NULL AND n_chars >= 0),
        sk AS MATERIALIZED (
          SELECT lang, {bin_sql(k)} AS bin, count(*) AS cnt FROM v GROUP BY 1, 2),
        cum AS (SELECT lang, bin,
                       sum(cnt) OVER (PARTITION BY lang ORDER BY bin) AS cum
                FROM sk),
        tot AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n FROM sk GROUP BY 1),
        tq AS (SELECT lang, n,
                      greatest(CAST(1 AS BIGINT),
                               CAST(ceil(CAST(0.1 AS DOUBLE) * n) AS BIGINT)) AS target
               FROM tot),
        hit AS (SELECT tq.lang AS lang, min(cum.bin) AS bin
                FROM tq JOIN cum ON cum.lang = tq.lang AND cum.cum >= tq.target
                GROUP BY 1),
        thr AS (SELECT lang, {hi} AS thr FROM hit)
        SELECT d.doc_id, d.lang, d.n_chars, thr.thr
        FROM documents d JOIN thr ON thr.lang = d.lang
        WHERE d.n_chars > thr.thr
    """


_QUANTILE_V_CTE = """v AS (SELECT CAST(n_chars AS BIGINT) AS v FROM documents
                   WHERE n_chars IS NOT NULL AND n_chars >= 0)"""


def _quantile_sketch_sql(k: int = 6) -> str:
    """quantile_sketch mirror: the bin expression comes from the SAME
    bin_sql() the Spark operator selectExpr's — one source of truth."""
    from extractors_metadata_spark.operators.quantiles import bin_sql

    return f"""
        WITH {_QUANTILE_V_CTE}
        SELECT {bin_sql(k)} AS bin, count(*) AS cnt FROM v GROUP BY 1
    """


def _quantile_estimate_sql(qs: tuple[float, ...], k: int = 6) -> str:
    """quantile_estimate mirror: sketch -> cumulative window -> per-q
    first-reaching bin -> bounds inversion, all exact integers except the
    literal-identical ceil(q*n)."""
    from extractors_metadata_spark.operators.quantiles import bin_sql, bounds_sql

    lo, hi = bounds_sql(k)
    qvals = ", ".join(f"(CAST({float(q)!r} AS DOUBLE))" for q in qs)
    return f"""
        WITH {_QUANTILE_V_CTE},
        sk AS MATERIALIZED (
          SELECT {bin_sql(k)} AS bin, count(*) AS cnt FROM v GROUP BY 1),
        cum AS (SELECT bin, sum(cnt) OVER (ORDER BY bin) AS cum FROM sk),
        tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM sk),
        qs(q) AS (VALUES {qvals}),
        tq AS (SELECT q, n,
                      greatest(CAST(1 AS BIGINT), CAST(ceil(q * n) AS BIGINT)) AS target
               FROM qs, tot),
        hit AS (SELECT q, n, min(bin) AS bin
                FROM tq JOIN cum ON cum.cum >= tq.target GROUP BY q, n)
        SELECT q, n, bin, {lo} AS lo, {hi} AS hi FROM hit
    """


def _quantile_grouped_sql(qs: tuple[float, ...], k: int = 6) -> str:
    """quantile_sketch_grouped + quantile_estimate_grouped mirror: the
    per-group sketch, the group-partitioned cumulative window, the keyed
    q-join and the bounds inversion — same shared bin_sql/bounds_sql
    expressions, exact integers except the literal-identical ceil(q*n)."""
    from extractors_metadata_spark.operators.quantiles import bin_sql, bounds_sql

    lo, hi = bounds_sql(k)
    qvals = ", ".join(f"(CAST({float(q)!r} AS DOUBLE))" for q in qs)
    return f"""
        WITH v AS (SELECT lang, CAST(n_chars AS BIGINT) AS v FROM documents
                   WHERE n_chars IS NOT NULL AND n_chars >= 0),
        sk AS MATERIALIZED (
          SELECT lang, {bin_sql(k)} AS bin, count(*) AS cnt FROM v GROUP BY 1, 2),
        cum AS (SELECT lang, bin,
                       sum(cnt) OVER (PARTITION BY lang ORDER BY bin) AS cum
                FROM sk),
        tot AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n FROM sk GROUP BY 1),
        qs(q) AS (VALUES {qvals}),
        tq AS (SELECT lang, q, n,
                      greatest(CAST(1 AS BIGINT), CAST(ceil(q * n) AS BIGINT)) AS target
               FROM qs, tot),
        hit AS (SELECT tq.lang AS lang, q, n, min(cum.bin) AS bin
                FROM tq JOIN cum ON cum.lang = tq.lang AND cum.cum >= tq.target
                GROUP BY 1, 2, 3)
        SELECT lang, q, n, bin, {lo} AS lo, {hi} AS hi FROM hit
    """


def _knn_bruteforce_sql(where: str, k: int, select: str) -> str:
    """Brute-force point-to-rectangle kNN in SQL: the literal mirror of
    geometry.PreparedPolygons.distance_m (equirectangular local plane, clamped
    point-segment projection) over all 864 plots; shared by the knn_topk and
    knn_nearest oracles."""
    return f"""
        WITH pts AS (
          SELECT event_id, ({LAT_SOUTH}) AS py, ({LON_IN}) AS px
          FROM events {where}
        ),
        plots AS (
          SELECT CAST(r AS VARCHAR) || '-' || CAST(p AS VARCHAR) AS plot_id,
                 33.0745 + (r - 1) * 0.0000365 AS lat_s,
                 33.0745 + r * 0.0000365 AS lat_n,
                 -111.9750833333 + (p - 1) * 0.00005 AS lon_w,
                 -111.9750833333 + p * 0.00005 AS lon_e
          FROM range(1, 55) t(r), range(1, 17) t2(p)
        ),
        segs AS (
          SELECT plot_id, lon_w AS x1, lat_s AS y1, lon_e AS x2, lat_s AS y2 FROM plots
          UNION ALL SELECT plot_id, lon_e, lat_s, lon_e, lat_n FROM plots
          UNION ALL SELECT plot_id, lon_e, lat_n, lon_w, lat_n FROM plots
          UNION ALL SELECT plot_id, lon_w, lat_n, lon_w, lat_s FROM plots
        ),
        -- literal mirror of PreparedPolygons.distance_m (equirectangular
        -- local plane): ax=(x1-px)*coslat*deg etc., clamped projection
        ab AS (
          SELECT event_id, plot_id,
                 (x1 - px) * cos(radians(py)) * (pi() / 180.0 * 6371008.8) AS ax,
                 (y1 - py) * (pi() / 180.0 * 6371008.8) AS ay,
                 (x2 - px) * cos(radians(py)) * (pi() / 180.0 * 6371008.8) AS bx,
                 (y2 - py) * (pi() / 180.0 * 6371008.8) AS by
          FROM pts, segs
        ),
        dd AS (SELECT event_id, plot_id, ax, ay, bx - ax AS dx, by - ay AS dy FROM ab),
        tt AS (
          SELECT event_id, plot_id, ax, ay, dx, dy,
                 least(greatest(-(ax * dx + ay * dy) / (dx * dx + dy * dy), 0.0), 1.0) AS t
          FROM dd
        ),
        dseg AS (
          SELECT event_id, plot_id,
                 sqrt((ax + t * dx) * (ax + t * dx) + (ay + t * dy) * (ay + t * dy)) AS ds
          FROM tt
        ),
        d AS (SELECT event_id, plot_id, min(ds) AS dist FROM dseg GROUP BY 1, 2)
        SELECT {select}
        FROM (
          SELECT event_id, plot_id, dist,
                 row_number() OVER (PARTITION BY event_id
                                    ORDER BY dist ASC, plot_id ASC) AS rank
          FROM d)
        WHERE rank <= {k}
    """


def _utm_inverse_sql() -> str:
    """gantry (gx, gy) -> WGS84 (lat, lon): the transverse-Mercator inverse
    series of functions/geodesy.to_latlon written as literal SQL over a CTE
    named ``g(event_id, gx, gy)``; constants imported from the geodesy module
    so the two sides can never drift. Ends with CTE ``ll(event_id, lat, lon)``."""
    from extractors_metadata_spark.functions import geodesy as G
    from extractors_metadata_spark.functions.textmeta import SE_E, SE_N

    # DuckDB parses plain numeric literals as DECIMAL; every module constant
    # must be an explicit DOUBLE so the whole series runs in float64.
    d = lambda x: f"CAST({x!r} AS DOUBLE)"
    se_e, se_n, k0, r, m1 = d(SE_E), d(SE_N), d(G.K0), d(G.R), d(G.M1)
    p2, p3, p4, p5 = d(G.P2), d(G.P3), d(G.P4), d(G.P5)
    e, ep2 = d(G.E), d(G.E_P2)

    return f"""
        utm AS (
          SELECT event_id,
                 {se_e} - gy - 500000.0 AS x,
                 ({se_n} + (gx - 3.8)) / {k0} AS m
          FROM g
        ),
        s1 AS (SELECT event_id, x, m / ({r} * {m1}) AS mu FROM utm),
        s2 AS (
          SELECT event_id, x,
                 mu + {p2} * sin(2.0 * mu) + {p3} * sin(4.0 * mu)
                    + {p4} * sin(6.0 * mu) + {p5} * sin(8.0 * mu) AS p_rad
          FROM s1
        ),
        s3 AS (SELECT event_id, x, p_rad, sin(p_rad) AS p_sin, cos(p_rad) AS p_cos FROM s2),
        s4 AS (
          SELECT event_id, x, p_rad, p_cos, p_sin / p_cos AS p_tan,
                 1.0 - {e} * p_sin * p_sin AS ep_sin
          FROM s3
        ),
        s5 AS (
          SELECT event_id, x, p_rad, p_cos, p_tan, p_tan * p_tan AS t2,
                 {r} / sqrt(ep_sin) AS n,
                 (1.0 - {e}) / ep_sin AS rr,
                 {ep2} * p_cos * p_cos AS c
          FROM s4
        ),
        s6 AS (
          SELECT event_id, p_rad, p_cos, p_tan, t2, t2 * t2 AS t4, rr, c, c * c AS c2,
                 x / (n * {k0}) AS d
          FROM s5
        ),
        ll AS (
          SELECT event_id,
                 degrees(p_rad
                   - (p_tan / rr) * (d*d / 2.0
                       - d*d*d*d / 24.0 * (5.0 + 3.0*t2 + 10.0*c - 4.0*c2 - 9.0*{ep2}))
                   - (p_tan / rr) * (-(d*d*d*d*d*d) / 720.0
                       * (61.0 + 90.0*t2 + 298.0*c + 45.0*t4 - 252.0*{ep2} - 3.0*c2))
                 ) AS lat,
                 degrees((d - d*d*d / 6.0 * (1.0 + 2.0*t2 + c)
                   + d*d*d*d*d / 120.0
                       * (5.0 - 2.0*c + 28.0*t2 - 3.0*c2 + 8.0*{ep2} + 24.0*t4))
                 / p_cos) + (-111.0) AS lon
          FROM s6
        )
    """


def _probe_gxgy_sql(where: str = "", gx_expr: str | None = None) -> str:
    """Shared CTEs (pts, g) deriving the probe gantry coordinates from
    event_id — the SQL twin of ``_probe_pages`` (``gx_expr`` overrides the
    plot-center walk, mirroring _probe_pages' ``gx``)."""
    return f"""
        pts AS (
          SELECT event_id, {gx_expr or PLOT_GX_EXPR} AS gx FROM events {where}
        ),
        g AS (
          SELECT event_id, gx,
                 (CASE CAST(event_id % 6 AS INT)
                    WHEN 0 THEN {PLOT_GY_CENTERS[0]!r}
                    WHEN 1 THEN {PLOT_GY_CENTERS[1]!r}
                    WHEN 2 THEN {PLOT_GY_CENTERS[2]!r}
                    WHEN 3 THEN {PLOT_GY_CENTERS[3]!r}
                    WHEN 4 THEN {PLOT_GY_CENTERS[4]!r}
                    ELSE {PLOT_GY_CENTERS[5]!r} END)
                 - 0.009301 * (gx - 105.0) AS gy
          FROM pts
        )
    """


def _poly_sql(expr: str, base: int) -> str:
    """The vhash rolling hash as DuckDB SQL: fold character codepoints with
    (acc * base + code) mod 2^31-1 — list_prepend supplies the 0 seed
    (list_reduce folds the list's own head otherwise). Exact int64 arithmetic,
    bit-identical to functions/vhash.poly_hash."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({expr}, ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(a, b) -> (a * {base} + b) % 2147483647)"
    )


def _mix31_sql(expr: str) -> str:
    """vhash.mix31 (murmur3-style multiply-xorshift finalizer in 31-bit
    state) as DuckDB SQL — exact BIGINT arithmetic, every product < 2^63.
    Constants imported from the single source. Pass a SHORT column
    reference: the xor stages duplicate the input expression 8x."""
    from extractors_metadata_spark.functions.vhash import M31, MIX_C1, MIX_C2

    z = f"xor({expr}, ({expr}) >> 16)"
    z = f"((({z}) * {MIX_C1}) % {M31})"
    z = f"xor({z}, ({z}) >> 13)"
    z = f"((({z}) * {MIX_C2}) % {M31})"
    return f"xor({z}, ({z}) >> 16)"


def _kcenter_sql(k: int = 8) -> str:
    """kcenter.kcenter_coreset mirror: quantize once to int64
    milli-units, seed = min(vec_id) with d2 0, then per round the
    row_number()-over-(mind2 DESC, vec_id) argmax (the DuckDB composite
    rule), the picked vector fetched by id, and the least() relaxation
    of every point's running min squared distance.  m{r} is referenced
    twice (next pick + next relax) -> MATERIALIZED."""
    stages = []
    finals = ["SELECT CAST(1 AS INTEGER) AS round, "
              "(SELECT vec_id FROM p1) AS vec_id, CAST(0 AS BIGINT) AS d2"]
    for r in range(2, k + 1):
        stages.append(f"""
        p{r} AS MATERIALIZED (
          SELECT vec_id, mind2 FROM (
            SELECT vec_id, mind2,
                   row_number() OVER (ORDER BY mind2 DESC, vec_id ASC) AS rn
            FROM m{r - 1}) q WHERE rn = 1),
        c{r} AS (SELECT v FROM q WHERE vec_id = (SELECT vec_id FROM p{r})),
        m{r} AS MATERIALIZED (
          SELECT m.vec_id, m.v,
                 least(m.mind2,
                       CAST(list_sum(list_transform(list_zip(m.v, c.v),
                         p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT))
                   AS mind2
          FROM m{r - 1} m CROSS JOIN c{r} c)""")
        finals.append(
            f"SELECT CAST({r} AS INTEGER) AS round, vec_id, mind2 AS d2 "
            f"FROM p{r}"
        )
    body = ",".join(stages)
    tail = "\nUNION ALL\n".join(finals)
    return f"""
        WITH q AS MATERIALIZED (
          SELECT vec_id,
                 list_transform(embedding,
                   x -> CAST(round_even(CAST(x AS DOUBLE) * 1000.0, 0)
                             AS BIGINT)) AS v
          FROM embeddings),
        p1 AS (SELECT min(vec_id) AS vec_id FROM q),
        c1 AS (SELECT v FROM q WHERE vec_id = (SELECT vec_id FROM p1)),
        m1 AS MATERIALIZED (
          SELECT m.vec_id, m.v,
                 CAST(list_sum(list_transform(list_zip(m.v, c.v),
                   p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS mind2
          FROM q m CROSS JOIN c1 c),
        {body}
        {tail}
    """


def _z_range_plan_sql(depth: int = 8) -> str:
    """zplan.z_range_plan mirror: per-user 256-grid bboxes, unrolled
    quadtree-descent CTE stages (one l{n}/em{n} pair per level), corner
    interleave via z_stages_sql, interval-union adjacent merge."""
    from extractors_metadata_spark.functions.zcurve import z_stages_sql

    d = int(depth)
    stages = []
    for lvl in range(d + 1):
        side = 1 << (d - lvl)
        src = "l0" if lvl == 0 else f"l{lvl}"
        ncells = 1 << (2 * (d - lvl))
        stages.append(f"""
        em{lvl} AS (
          SELECT key, cx * {side} AS xlo, cy * {side} AS ylo,
                 CAST({ncells} AS BIGINT) AS ncells
          FROM {src}
          WHERE NOT (cx * {side} + {side - 1} < x0 OR cx * {side} > x1
                  OR cy * {side} + {side - 1} < y0 OR cy * {side} > y1)
            AND cx * {side} >= x0 AND cx * {side} + {side - 1} <= x1
            AND cy * {side} >= y0 AND cy * {side} + {side - 1} <= y1)""")
        if lvl == d:
            break
        stages.append(f"""
        l{lvl + 1} AS (
          SELECT key, x0, x1, y0, y1,
                 cx * 2 + q.i AS cx, cy * 2 + q.j AS cy
          FROM {src}
          CROSS JOIN (SELECT * FROM (VALUES (0, 0), (1, 0), (0, 1), (1, 1))
                      AS t(i, j)) q
          WHERE NOT (cx * {side} + {side - 1} < x0 OR cx * {side} > x1
                  OR cy * {side} + {side - 1} < y0 OR cy * {side} > y1)
            AND NOT (cx * {side} >= x0 AND cx * {side} + {side - 1} <= x1
                  AND cy * {side} >= y0 AND cy * {side} + {side - 1} <= y1))""")
    unions = "\nUNION ALL\n".join(f"SELECT * FROM em{lvl}" for lvl in range(d + 1))
    return f"""
    WITH pts AS (
      SELECT user_id,
        CAST(round_even(({LON_IN}) * 1000000.0, 0) AS BIGINT) + 180000000 AS qx,
        CAST(round_even(({LAT_IN}) * 1000000.0, 0) AS BIGINT) + 90000000 AS qy
      FROM events),
    fld AS (SELECT min(qx) AS mnx, max(qx) AS mxx,
                   min(qy) AS mny, max(qy) AS mxy FROM pts),
    g AS (SELECT user_id,
                 ((qx - mnx) * 256) // (mxx - mnx + 1) AS gx,
                 ((qy - mny) * 256) // (mxy - mny + 1) AS gy
          FROM pts CROSS JOIN fld),
    l0 AS MATERIALIZED (
      SELECT user_id AS key,
             CAST(min(gx) AS BIGINT) AS x0, CAST(max(gx) AS BIGINT) AS x1,
             CAST(min(gy) AS BIGINT) AS y0, CAST(max(gy) AS BIGINT) AS y1,
             CAST(0 AS BIGINT) AS cx, CAST(0 AS BIGINT) AS cy
      FROM g GROUP BY 1),
    {",".join(stages)},
    emitbase AS (SELECT key, ncells, xlo AS zx, ylo AS zy FROM ({unions})),
    {z_stages_sql('emitbase', 'key, ncells')},
    ranges AS (SELECT key, zval AS range_lo, zval + ncells - 1 AS range_hi
               FROM zfin),
    marked AS (
      SELECT key, range_lo, range_hi,
             CASE WHEN lag(range_hi) OVER w IS NULL
                       OR range_lo != lag(range_hi) OVER w + 1
                  THEN 1 ELSE 0 END AS is_new
      FROM ranges WINDOW w AS (PARTITION BY key ORDER BY range_lo)),
    runs AS (
      SELECT key, range_lo, range_hi,
             sum(is_new) OVER (PARTITION BY key ORDER BY range_lo
                               ROWS UNBOUNDED PRECEDING) AS run
      FROM marked)
    SELECT key AS user_id, CAST(min(range_lo) AS BIGINT) AS range_lo,
           CAST(max(range_hi) AS BIGINT) AS range_hi
    FROM runs GROUP BY key, run
"""


def _overlay_sql() -> str:
    from extractors_metadata_spark.operators.clip import A_SCALE, C_SCALE

    def inside(px: str, py: str, qx: str, qy: str) -> str:
        conds = []
        for j in range(4):
            j1, j2 = j + 1, ((j + 1) % 4) + 1
            conds.append(
                f"(({qx}[{j2}] - {qx}[{j1}]) * (({py}) - {qy}[{j1}])"
                f" - ({qy}[{j2}] - {qy}[{j1}]) * (({px}) - {qx}[{j1}]) >= 0)"
            )
        return " AND ".join(conds)

    bx = ", ".join(f"cx2 + {o!r}" for o in _OVL_OX)
    by = ", ".join(f"cy2 + {o!r}" for o in _OVL_OY)
    he = lambda a, n: (
        f"(CASE WHEN 2 * ((({a} % {n}) + {n}) % {n}) > {n} "
        f"OR (2 * ((({a} % {n}) + {n}) % {n}) = {n} "
        f"AND (({a} - ((({a} % {n}) + {n}) % {n})) // {n}) % 2 = 1) "
        f"THEN ({a} - ((({a} % {n}) + {n}) % {n})) // {n} + 1 "
        f"ELSE ({a} - ((({a} % {n}) + {n}) % {n})) // {n} END)"
    )
    return f"""
        WITH e AS (
          SELECT event_id, ({LAT_IN}) AS cy, ({LON_IN}) AS cx FROM events),
        ctr AS (
          SELECT event_id, cx, cy,
                 cx + CAST(event_id % 5 AS DOUBLE) * 0.0003 - 0.0006 AS cx2,
                 cy + CAST(event_id % 3 AS DOUBLE) * 0.00025 - 0.00025 AS cy2
          FROM e),
        quads AS MATERIALIZED (
          SELECT event_id,
                 [cx - {_OVL_W1!r}, cx + {_OVL_W1!r}, cx + {_OVL_W1!r}, cx - {_OVL_W1!r}] AS ax,
                 [cy - {_OVL_H1!r}, cy - {_OVL_H1!r}, cy + {_OVL_H1!r}, cy + {_OVL_H1!r}] AS ay,
                 [{bx}] AS bx, [{by}] AS by
          FROM ctr),
        va AS (
          SELECT event_id, ax[i + 1] AS x, ay[i + 1] AS y
          FROM quads, unnest(range(4)) t(i)
          WHERE {inside('ax[i + 1]', 'ay[i + 1]', 'bx', 'by')}),
        vb AS (
          SELECT event_id, bx[i + 1] AS x, by[i + 1] AS y
          FROM quads, unnest(range(4)) t(i)
          WHERE {inside('bx[i + 1]', 'by[i + 1]', 'ax', 'ay')}),
        segs AS (
          SELECT event_id,
                 ax[(ij % 4) + 1] AS p0x, ay[(ij % 4) + 1] AS p0y,
                 ax[(((ij % 4) + 1) % 4) + 1] - ax[(ij % 4) + 1] AS d1x,
                 ay[(((ij % 4) + 1) % 4) + 1] - ay[(ij % 4) + 1] AS d1y,
                 bx[(ij // 4) + 1] AS q0x, by[(ij // 4) + 1] AS q0y,
                 bx[(((ij // 4) + 1) % 4) + 1] - bx[(ij // 4) + 1] AS d2x,
                 by[(((ij // 4) + 1) % 4) + 1] - by[(ij // 4) + 1] AS d2y
          FROM quads, unnest(range(16)) t(ij)),
        params AS (
          SELECT event_id, p0x, p0y, d1x, d1y,
                 ((q0x - p0x) * d2y - (q0y - p0y) * d2x)
                   / (d1x * d2y - d1y * d2x) AS t,
                 ((q0x - p0x) * d1y - (q0y - p0y) * d1x)
                   / (d1x * d2y - d1y * d2x) AS u
          FROM segs WHERE d1x * d2y - d1y * d2x != 0),
        inter AS (
          SELECT event_id, p0x + t * d1x AS x, p0y + t * d1y AS y
          FROM params WHERE t >= 0 AND t <= 1 AND u >= 0 AND u <= 1),
        cand AS MATERIALIZED (
          SELECT * FROM va UNION ALL SELECT * FROM vb
          UNION ALL SELECT * FROM inter),
        agg AS (
          SELECT event_id, count(*) AS n_vertices,
                 CAST(sum(CAST(round_even(x * {C_SCALE!r}, 0) AS BIGINT)) AS BIGINT) AS sx,
                 CAST(sum(CAST(round_even(y * {C_SCALE!r}, 0) AS BIGINT)) AS BIGINT) AS sy
          FROM cand GROUP BY 1 HAVING count(*) >= 3),
        anch AS (
          SELECT event_id, n_vertices,
                 CAST({he('sx', 'n_vertices')} AS DOUBLE) / {C_SCALE!r} AS cxf,
                 CAST({he('sy', 'n_vertices')} AS DOUBLE) / {C_SCALE!r} AS cyf
          FROM agg),
        cc AS (
          SELECT c.event_id, a.n_vertices,
                 c.x - a.cxf AS dx, c.y - a.cyf AS dy
          FROM cand c JOIN anch a USING (event_id)),
        pp AS (
          SELECT event_id, n_vertices, dx, dy,
                 CASE WHEN abs(dx) + abs(dy) = 0 THEN -1.0
                      WHEN dy >= 0 THEN 1.0 - dx / (abs(dx) + abs(dy))
                      ELSE 3.0 + dx / (abs(dx) + abs(dy)) END AS p
          FROM cc),
        rings AS (
          SELECT event_id, n_vertices,
                 list(struct_pack(p := p, dx := dx, dy := dy)
                      ORDER BY p, dx, dy) AS ring
          FROM pp GROUP BY 1, 2)
        SELECT event_id, n_vertices,
               CAST(list_sum(list_transform(range(len(ring)),
                 i -> CAST(round_even((ring[i + 1].dx * ring[((i + 1) % len(ring)) + 1].dy
                         - ring[((i + 1) % len(ring)) + 1].dx * ring[i + 1].dy)
                         * {A_SCALE!r}, 0) AS BIGINT))) AS BIGINT) AS area2_fp
        FROM rings
    """


def _cells_sql() -> str:
    """Independent SQL replay of BOTH cell kernels for the cells_encode
    oracle — the H3-style encode (Lambert equal-area projection -> pointy-top
    axial coords -> cube rounding -> bit packing, functions/hexgrid.py) and
    the S2-style encode (unit sphere -> cube face -> quadratic (u,v)->(s,t)
    -> 26-level Hilbert fold via list_reduce with a struct state,
    functions/s2quad.py). Numeric preconditions verified empirically on this
    host: DuckDB's radians/sin/cos are BIT-EXACT vs NumPy on the probe grid
    (same libm), round_even(x,0) == np.rint, and every other op (*, /, sqrt,
    trunc) is IEEE-exact — so the compare is deterministic, not
    drift-tolerant. Constants are imported from the kernel modules."""
    import numpy as np

    from extractors_metadata_spark.functions.geodesy import R_MEAN
    from extractors_metadata_spark.functions.hexgrid import res_size_m

    r = f"CAST({R_MEAN!r} AS DOUBLE)"
    size9 = f"CAST({float(res_size_m(9))!r} AS DOUBLE)"
    s3_3 = f"CAST({float(np.sqrt(3.0) / 3.0)!r} AS DOUBLE)"
    st_expr = lambda c: (
        f"CASE WHEN {c} >= 0.0 THEN 0.5 * sqrt(greatest(0.0, 1.0 + 3.0 * {c})) "
        f"ELSE 1.0 - 0.5 * sqrt(greatest(0.0, 1.0 - 3.0 * {c})) END"
    )
    return f"""
        pts AS (SELECT event_id, ({LAT_IN}) AS lat, ({LON_IN}) AS lon FROM events),
        h3p AS (SELECT event_id, {r} * radians(lon) AS hx, {r} * sin(radians(lat)) AS hy FROM pts),
        h3f AS (SELECT event_id,
                       ({s3_3} * hx - hy / 3.0) / {size9} AS qf,
                       (0.6666666666666666 * hy) / {size9} AS rf
                FROM h3p),
        h3r AS (SELECT event_id, qf, rf,
                       round_even(qf, 0) AS rx0,
                       round_even(-qf - rf, 0) AS ry0,
                       round_even(rf, 0) AS rz0
                FROM h3f),
        h3c AS (SELECT event_id,
          CASE WHEN abs(rx0 - qf) > abs(ry0 - (-qf - rf)) AND abs(rx0 - qf) > abs(rz0 - rf)
               THEN -ry0 - rz0 ELSE rx0 END AS q,
          CASE WHEN NOT (abs(rx0 - qf) > abs(ry0 - (-qf - rf)) AND abs(rx0 - qf) > abs(rz0 - rf))
                    AND abs(rz0 - rf) > abs(ry0 - (-qf - rf))
               THEN -rx0 - ry0 ELSE rz0 END AS rr
          FROM h3r),
        h3cell AS (SELECT event_id,
          (CAST(9 AS BIGINT) << 58)
          | ((CAST(q AS BIGINT) + 268435456) << 29)
          | (CAST(rr AS BIGINT) + 268435456) AS cell_r9
          FROM h3c),
        s2a AS (SELECT event_id,
                       cos(radians(lat)) * cos(radians(lon)) AS sx,
                       cos(radians(lat)) * sin(radians(lon)) AS sy,
                       sin(radians(lat)) AS sz
                FROM pts),
        s2f AS (SELECT event_id, sx, sy, sz,
          CASE WHEN abs(sx) >= abs(sy) AND abs(sx) >= abs(sz) THEN CASE WHEN sx >= 0 THEN 0 ELSE 3 END
               WHEN abs(sy) >= abs(sz) THEN CASE WHEN sy >= 0 THEN 1 ELSE 4 END
               ELSE CASE WHEN sz >= 0 THEN 2 ELSE 5 END END AS face
          FROM s2a),
        s2uv AS (SELECT event_id, face,
          -- negations wrap the NUMERATOR ((-sx)/sy), matching the kernel's
          -- un = -x; un/den order — -sx/sy parses as -(sx/sy), 1 ulp off
          CASE face WHEN 0 THEN sy / sx WHEN 1 THEN (-sx) / sy WHEN 2 THEN (-sx) / sz
                    WHEN 3 THEN sz / sx WHEN 4 THEN sz / sy ELSE (-sy) / sz END AS u,
          CASE face WHEN 0 THEN sz / sx WHEN 1 THEN sz / sy WHEN 2 THEN (-sy) / sz
                    WHEN 3 THEN sy / sx WHEN 4 THEN (-sx) / sy ELSE (-sx) / sz END AS v
          FROM s2f),
        s2ij AS (SELECT event_id, face,
          least(greatest(CAST(trunc(({st_expr('u')}) * 67108864.0) AS BIGINT), 0), 67108863) AS i,
          least(greatest(CAST(trunc(({st_expr('v')}) * 67108864.0) AS BIGINT), 0), 67108863) AS j
          FROM s2uv),
        hb26 AS (SELECT event_id, face, i AS x, j AS y, CAST(0 AS BIGINT) AS d FROM s2ij),
        {_hilbert_stages_sql()},
        s2cell AS (SELECT event_id,
          (CAST(face AS BIGINT) << 57) | ((d >> 20) << 5) | 16 AS s2_cell
          FROM hb0)
    """


def _hilbert_stages_sql() -> str:
    """The 26 Hilbert xy->d iterations unrolled as generated CTE stages
    (one per bit, s = 2^25 .. 1), each the literal mirror of one loop pass of
    s2quad._hilbert_xy_to_d. Unrolled rather than list_reduce because DuckDB
    1.0's list_reduce mis-evaluates multi-field struct lambdas across steps
    (verified: single steps correct, folds diverge)."""
    stages = []
    prev = "hb26"
    for k in range(25, -1, -1):
        s = 1 << k
        cur = f"hb{k}"
        stages.append(f"""
        {cur} AS (SELECT event_id, face,
          CASE WHEN (y & {s}) > 0 THEN x
               WHEN (x & {s}) > 0 THEN {s} - 1 - y
               ELSE y END AS x,
          CASE WHEN (y & {s}) > 0 THEN y
               WHEN (x & {s}) > 0 THEN {s} - 1 - x
               ELSE x END AS y,
          d + CAST({s}::BIGINT * {s} AS BIGINT)
              * xor(CAST(3 * (CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END) AS BIGINT),
                    CAST((CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END) AS BIGINT)) AS d
          FROM {prev})""")
        prev = cur
    return ",".join(stages)


def _polyfill_sql(res: int = 9) -> str:
    """hexgrid.polyfill replayed in SQL over the closed-form plot grid:
    every float op mirrors the kernel's literal order (projection constants,
    pad = size*1.0001, corner axial floors, center-in-inflated-bbox filter,
    [res:4][q:29][r:29] packing). Trig is bit-exact vs NumPy on this host
    (see _cells_sql), so the enumeration compare is deterministic."""
    import numpy as np

    from extractors_metadata_spark.functions.geodesy import R_MEAN
    from extractors_metadata_spark.functions.hexgrid import res_size_m

    r = f"CAST({R_MEAN!r} AS DOUBLE)"
    size = float(res_size_m(res))
    sz = f"CAST({size!r} AS DOUBLE)"
    pad = f"CAST({float(size * 1.0001)!r} AS DOUBLE)"
    s3_3 = f"CAST({float(np.sqrt(3.0) / 3.0)!r} AS DOUBLE)"
    s3 = f"CAST({float(np.sqrt(3.0))!r} AS DOUBLE)"
    s3h = f"CAST({float(np.sqrt(3.0) / 2.0)!r} AS DOUBLE)"
    qf = lambda cx, cy: f"(({s3_3} * {cx} - {cy} / 3.0) / {sz})"
    rf = lambda cy: f"((0.6666666666666666 * {cy}) / {sz})"
    return f"""
        grid AS (SELECT CAST(gr AS VARCHAR) || '-' || CAST(gp AS VARCHAR) AS plot_id,
                        33.0745 + (gr - 1) * 0.0000365 AS lat_s,
                        33.0745 + gr * 0.0000365 AS lat_n,
                        -111.9750833333 + (gp - 1) * 0.00005 AS lon_w,
                        -111.9750833333 + gp * 0.00005 AS lon_e
                 FROM range(1, 55) t(gr), range(1, 17) t2(gp)),
        proj AS (SELECT plot_id,
                        {r} * radians(lon_w) AS x_w, {r} * radians(lon_e) AS x_e,
                        {r} * sin(radians(lat_s)) AS y_s, {r} * sin(radians(lat_n)) AS y_n
                 FROM grid),
        bb AS (SELECT plot_id,
                      least(x_w, x_e) - {pad} AS min_x, greatest(x_w, x_e) + {pad} AS max_x,
                      least(y_s, y_n) - {pad} AS min_y, greatest(y_s, y_n) + {pad} AS max_y
               FROM proj),
        qr AS (SELECT plot_id, min_x, max_x, min_y, max_y,
                      CAST(floor(least({qf('min_x', 'min_y')}, {qf('min_x', 'max_y')},
                                       {qf('max_x', 'min_y')}, {qf('max_x', 'max_y')})) AS INT) - 1 AS q_lo,
                      CAST(ceil(greatest({qf('min_x', 'min_y')}, {qf('min_x', 'max_y')},
                                         {qf('max_x', 'min_y')}, {qf('max_x', 'max_y')})) AS INT) + 1 AS q_hi,
                      CAST(floor(least({rf('min_y')}, {rf('max_y')})) AS INT) - 1 AS r_lo,
                      CAST(ceil(greatest({rf('min_y')}, {rf('max_y')})) AS INT) + 1 AS r_hi
               FROM bb),
        cand AS (SELECT plot_id, min_x, max_x, min_y, max_y, q, rr
                 FROM qr,
                      unnest(range(CAST(q_lo AS BIGINT), CAST(q_hi AS BIGINT) + 1)) tq(q),
                      unnest(range(CAST(r_lo AS BIGINT), CAST(r_hi AS BIGINT) + 1)) tr(rr)),
        keep AS (SELECT plot_id, q, rr
                 FROM cand
                 WHERE {sz} * ({s3} * q + {s3h} * rr) >= min_x
                   AND {sz} * ({s3} * q + {s3h} * rr) <= max_x
                   AND {sz} * (1.5 * rr) >= min_y
                   AND {sz} * (1.5 * rr) <= max_y),
        cells AS (SELECT plot_id,
                         (CAST({res} AS BIGINT) << 58)
                         | ((q + 268435456) << 29) | (rr + 268435456) AS cell
                  FROM keep)
    """


def _luhn_sql() -> str:
    """Luhn validation of the doc_id-derived candidates: identical
    lpad/concat synthesis + the shared lambda body via luhn_sum_sql."""
    from extractors_metadata_spark.operators.checksum import luhn_sum_sql

    return f"""
        WITH cand AS (
          SELECT doc_id,
                 '4' || lpad(CAST((doc_id * 9973 + 12345) % 100000000000000
                                  AS VARCHAR), 14, '0')
                     || CAST(doc_id % 10 AS VARCHAR) AS num
          FROM documents)
        SELECT doc_id, num,
               CAST({luhn_sum_sql('num')} AS BIGINT) AS luhn_sum,
               CAST(CASE WHEN {luhn_sum_sql('num')} % 10 = 0
                         THEN 1 ELSE 0 END AS INT) AS valid
        FROM cand
    """


def _burst_sql(tb: int = 32, rm: int = 2) -> str:
    """burst_detect replay: per-user 1e9 ln fixed-point rate constants
    (round_even of the identical double chain; G = the same Python-libm
    literal the engine froze), the zero-fill cost grid, tb unrolled
    forward stages and tb-1 backtrack stages with the frozen state-0
    tie-breaks — the viterbi_match oracle shape."""
    import math as _math

    # matches the engine's int(np.rint(math.log(tb)*1e9)) — no exact-.5
    # tie is reachable here, so floor(x + 0.5) == rint
    g = int(_math.floor(_math.log(float(tb)) * 1e9 + 0.5))
    last = tb - 1
    fwd = []
    for t in range(1, tb):
        fwd.append(f"""v{t} AS MATERIALIZED (
          SELECT c.user_id,
                 c.c0 + least(p.v0, p.v1) AS v0,
                 c.c1 + least(p.v0 + {g}, p.v1) AS v1
          FROM cost c JOIN v{t - 1} p ON p.user_id = c.user_id
          WHERE c.t = {t})""")
    back = []
    for t in range(tb - 2, -1, -1):
        back.append(f"""s{t} AS MATERIALIZED (
          SELECT n.user_id,
                 CASE WHEN n.st = 0
                      THEN CASE WHEN p.v0 <= p.v1 THEN 0 ELSE 1 END
                      ELSE CASE WHEN p.v0 + {g} <= p.v1 THEN 0 ELSE 1 END
                 END AS st
          FROM s{t + 1} n JOIN v{t} p ON p.user_id = n.user_id)""")
    ends = "\n            UNION ALL\n".join(
        f"""            SELECT g.user_id, CAST({t} AS BIGINT) AS t,
                   CAST(g.c AS BIGINT) AS n,
                   CAST(s{t}.st AS BIGINT) AS state,
                   tot.total AS total_cost_fp
            FROM grid g
            JOIN s{t} ON s{t}.user_id = g.user_id
            JOIN tot ON tot.user_id = g.user_id
            WHERE g.t = {t}"""
        for t in range(tb)
    )
    return f"""
        WITH ev AS (
          SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        lo AS (SELECT min(day) AS lo FROM ev),
        cnts AS (
          SELECT user_id, day - (SELECT lo FROM lo) AS t,
                 CAST(count(*) AS BIGINT) AS c
          FROM ev
          WHERE day - (SELECT lo FROM lo) BETWEEN 0 AND {tb - 1}
          GROUP BY 1, 2),
        users AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n
                  FROM cnts GROUP BY 1),
        par AS MATERIALIZED (
          SELECT user_id,
                 CAST(round_even((n / {tb}.0) * 1e9, 0) AS BIGINT) AS a0,
                 CAST(round_even(ln(n / {tb}.0) * 1e9, 0) AS BIGINT) AS b0,
                 CAST(round_even(({rm} * (n / {tb}.0)) * 1e9, 0) AS BIGINT)
                   AS a1,
                 CAST(round_even(ln({rm} * (n / {tb}.0)) * 1e9, 0) AS BIGINT)
                   AS b1
          FROM users),
        grid AS MATERIALIZED (
          SELECT u.user_id, b.t, CAST(coalesce(c.c, 0) AS BIGINT) AS c
          FROM (SELECT user_id FROM users) u
          CROSS JOIN (SELECT unnest(range(0, {tb})) AS t) b
          LEFT JOIN cnts c ON c.user_id = u.user_id AND c.t = b.t),
        cost AS MATERIALIZED (
          SELECT g.user_id, g.t, g.c,
                 p.a0 - g.c * p.b0 AS c0,
                 p.a1 - g.c * p.b1 AS c1
          FROM grid g JOIN par p ON p.user_id = g.user_id),
        v0 AS MATERIALIZED (
          SELECT user_id, c0 AS v0, {g} + c1 AS v1 FROM cost WHERE t = 0),
        {",".join(fwd)},
        s{last} AS MATERIALIZED (
          SELECT user_id, CASE WHEN v0 <= v1 THEN 0 ELSE 1 END AS st
          FROM v{last}),
        tot AS MATERIALIZED (
          SELECT user_id, CAST(least(v0, v1) AS BIGINT) AS total
          FROM v{last}),
        {",".join(back)}
{ends}
    """


def _adler32_oracle_sql() -> str:
    from extractors_metadata_spark.operators.checksum import adler32_sql

    ck = adler32_sql("rkey")
    return f"""
        WITH keyed AS (
          SELECT source,
                 source || '/' || CAST(doc_id AS VARCHAR) AS rkey
          FROM documents),
        rows_ck AS (SELECT source, CAST({ck} AS BIGINT) AS ck FROM keyed)
        SELECT source, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(ck) AS BIGINT) AS ck_sum,
               CAST(min(ck) AS BIGINT) AS ck_min,
               CAST(max(ck) AS BIGINT) AS ck_max
        FROM rows_ck GROUP BY 1
    """


def _cidr_sql() -> str:
    rows = []
    for p in range(16):
        rows.append((4, p << 28, (p << 28) + (1 << 28) - 1))
    for i in range(32):
        pfx = (i * 131) % 4096
        rows.append((12, pfx << 20, (pfx << 20) + (1 << 20) - 1))
    for i in range(64):
        pfx = (i * 2479) % (1 << 20)
        rows.append((20, pfx << 12, (pfx << 12) + (1 << 12) - 1))
    vals = ", ".join(f"({l}, {lo}, {hi})" for l, lo, hi in rows)
    return f"""
        WITH ips AS (
          SELECT doc_id, (doc_id * 2654435761) % 4294967296 AS ip
          FROM documents),
        blocks AS (SELECT * FROM (VALUES {vals}) AS t(len, lo, hi)),
        cand AS (
          SELECT i.doc_id, b.len, b.lo,
                 row_number() OVER (PARTITION BY i.doc_id
                                    ORDER BY b.len DESC) AS rn
          FROM ips i JOIN blocks b ON i.ip BETWEEN b.lo AND b.hi)
        SELECT CAST(len AS BIGINT) AS pfx_len, CAST(lo AS BIGINT) AS lo,
               CAST(count(*) AS BIGINT) AS n_matched
        FROM cand WHERE rn = 1 GROUP BY 1, 2
    """


def _lttb_sql(tb: int = 32, n_out: int = 10) -> str:
    """lttb_select replay: the burst_detect zero-fill grid, then nb
    unrolled selection stages — per stage the exact cross-multiplied
    triangle score against the previous selection and the next-bucket
    sum anchor, composite row_number (score DESC, t) argmax."""
    nb = n_out - 2
    buckets: dict[int, list[int]] = {b: [] for b in range(nb)}
    for t in range(1, tb - 1):
        buckets[(t - 1) * nb // (tb - 2)].append(t)
    parts = [
        """ev AS (
          SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events)""",
        "lo AS (SELECT min(day) AS lo FROM ev)",
        f"""cnts AS (
          SELECT user_id, day - (SELECT lo FROM lo) AS t,
                 CAST(count(*) AS BIGINT) AS c
          FROM ev
          WHERE day - (SELECT lo FROM lo) BETWEEN 0 AND {tb - 1}
          GROUP BY 1, 2)""",
        "users AS (SELECT DISTINCT user_id FROM cnts)",
        f"""grid AS MATERIALIZED (
          SELECT u.user_id, b.t, CAST(coalesce(c.c, 0) AS BIGINT) AS x
          FROM users u
          CROSS JOIN (SELECT unnest(range(0, {tb})) AS t) b
          LEFT JOIN cnts c ON c.user_id = u.user_id AND c.t = b.t)""",
        """sel0 AS MATERIALIZED (
          SELECT user_id, CAST(0 AS BIGINT) AS tp, x AS vp
          FROM grid WHERE t = 0)""",
    ]
    finals = [
        """            SELECT user_id, CAST(0 AS BIGINT) AS rank,
                   CAST(0 AS BIGINT) AS t, x AS v
            FROM grid WHERE t = 0"""
    ]
    for b in range(nb):
        if b < nb - 1:
            nxt = buckets[b + 1]
            sx = sum(nxt)
            inlist = ", ".join(str(t) for t in nxt)
            parts.append(f"""anc{b} AS MATERIALIZED (
              SELECT user_id, CAST({sx} AS BIGINT) AS sx,
                     sum(x) AS sy, CAST({len(nxt)} AS BIGINT) AS c
              FROM grid WHERE t IN ({inlist}) GROUP BY 1)""")
        else:
            parts.append(f"""anc{b} AS MATERIALIZED (
              SELECT user_id, CAST({tb - 1} AS BIGINT) AS sx,
                     x AS sy, CAST(1 AS BIGINT) AS c
              FROM grid WHERE t = {tb - 1})""")
        cand = ", ".join(str(t) for t in buckets[b])
        parts.append(f"""st{b} AS MATERIALIZED (
          SELECT user_id, t, x FROM (
            SELECT g.user_id, g.t, g.x,
                   row_number() OVER (PARTITION BY g.user_id ORDER BY
                     abs((s.tp * a.c - a.sx) * (g.x - s.vp)
                         - (s.tp - g.t) * (a.sy - a.c * s.vp)) DESC,
                     g.t) AS rn
            FROM grid g
            JOIN sel{b} s ON s.user_id = g.user_id
            JOIN anc{b} a ON a.user_id = g.user_id
            WHERE g.t IN ({cand}))
          WHERE rn = 1)""")
        parts.append(f"""sel{b + 1} AS MATERIALIZED (
          SELECT user_id, CAST(t AS BIGINT) AS tp, x AS vp FROM st{b})""")
        finals.append(f"""            SELECT user_id,
                   CAST({b + 1} AS BIGINT) AS rank,
                   CAST(t AS BIGINT) AS t, x AS v
            FROM st{b}""")
    finals.append(f"""            SELECT user_id,
                   CAST({n_out - 1} AS BIGINT) AS rank,
                   CAST({tb - 1} AS BIGINT) AS t, x AS v
            FROM grid WHERE t = {tb - 1}""")
    return (
        "WITH " + ",\n".join(parts) + "\n"
        + "\n            UNION ALL\n".join(finals)
    )


def _perm_test_sql(n_b: int = 32) -> str:
    from extractors_metadata_spark.functions.vhash import P31, perm_coeffs

    vals = ", ".join(
        f"({b}, {a}, {bb})" for b, (a, bb) in enumerate(perm_coeffs(n_b))
    )
    return f"""
        WITH e AS MATERIALIZED (
          SELECT user_id, event_id,
                 CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g1,
                 CAST(round_even(value * 1000000.0, 0) AS BIGINT) AS v
          FROM events WHERE event_type IN ('click', 'view')),
        base AS MATERIALIZED (
          SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(g1) AS BIGINT) AS n1,
                 CAST(sum(v) AS BIGINT) AS sv,
                 CAST(sum(g1 * v) AS BIGINT) AS sv1
          FROM e GROUP BY 1),
        baset AS MATERIALIZED (
          SELECT user_id, n, n1, sv, n * sv1 - n1 * sv AS t_obs FROM base),
        pdim AS (SELECT * FROM (VALUES {vals}) AS t(b, pa, pb)),
        h0 AS (
          SELECT e.user_id, e.v, p.b,
                 (p.pa * e.event_id + p.pb) % {P31} AS hr
          FROM e CROSS JOIN pdim p),
        fan AS (
          SELECT user_id, v, b, ({_mix31_sql('hr')}) % 2 AS gb FROM h0),
        perms AS (
          SELECT user_id, b, CAST(sum(gb) AS BIGINT) AS n1b,
                 CAST(sum(gb * v) AS BIGINT) AS sv1b
          FROM fan GROUP BY 1, 2),
        tb AS (
          SELECT p.user_id,
                 bt.n * p.sv1b - p.n1b * bt.sv AS t_b, bt.t_obs
          FROM perms p JOIN baset bt ON bt.user_id = p.user_id),
        ext AS (
          SELECT user_id,
                 CAST(sum(CASE WHEN abs(t_b) >= abs(t_obs)
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
                 CAST(count(*) AS BIGINT) AS n_b
          FROM tb GROUP BY 1)
        SELECT bt.user_id, bt.n, bt.n1, CAST(bt.t_obs AS BIGINT) AS t_obs,
               ext.n_extreme, ext.n_b
        FROM baset bt JOIN ext ON ext.user_id = bt.user_id
    """


def _bh_fdr_sql() -> str:
    return f"""
        WITH perm AS ({_perm_test_sql(32)}),
        ranked AS MATERIALIZED (
          SELECT user_id, n_extreme AS ne,
                 CAST(row_number() OVER (ORDER BY n_extreme, user_id)
                      AS BIGINT) AS rk
          FROM perm),
        mm AS (SELECT max(rk) AS m FROM ranked),
        cond AS MATERIALIZED (
          SELECT r.user_id, r.ne, r.rk,
                 CASE WHEN r.ne * (SELECT m FROM mm) <= r.rk * 8
                      THEN 1 ELSE 0 END AS ok
          FROM ranked r),
        ks AS (SELECT coalesce(max(CASE WHEN ok = 1 THEN rk END), 0) AS k
               FROM cond)
        SELECT user_id, ne, rk,
               CAST(CASE WHEN rk <= (SELECT k FROM ks)
                    THEN 1 ELSE 0 END AS INT) AS rejected
        FROM cond
    """


def _capture_recapture_sql() -> str:
    from extractors_metadata_spark.functions.vhash import P31

    h1 = _mix31_sql("hr1")
    h2 = _mix31_sql("hr2")
    return f"""
        WITH h0 AS (
          SELECT (doc_id * 2654435761 + 12345) % {P31} AS hr1,
                 (doc_id * 40503 + 99991) % {P31} AS hr2
          FROM documents),
        caps AS (
          SELECT CASE WHEN ({h1}) % 5 < 2 THEN 1 ELSE 0 END AS a,
                 CASE WHEN ({h2}) % 5 < 2 THEN 1 ELSE 0 END AS b
          FROM h0),
        agg AS (
          SELECT CAST(sum(a) AS BIGINT) AS n_a,
                 CAST(sum(b) AS BIGINT) AS n_b,
                 CAST(sum(a * b) AS BIGINT) AS m_overlap,
                 CAST(count(*) AS BIGINT) AS n_true
          FROM caps)
        SELECT n_a, n_b, m_overlap, n_true,
               CAST((n_a + 1) * (n_b + 1) AS BIGINT) AS chapman_num,
               CAST(m_overlap + 1 AS BIGINT) AS chapman_den
        FROM agg
    """


def _schnabel_sql() -> str:
    from extractors_metadata_spark.functions.vhash import P31

    h1 = _mix31_sql("h1")
    h2 = _mix31_sql("h2")
    h3 = _mix31_sql("h3")
    return f"""
        WITH h0 AS (
          SELECT (doc_id * 2654435761 + 12345) % {P31} AS h1,
                 (doc_id * 40503 + 99991) % {P31} AS h2,
                 (doc_id * 69069 + 777) % {P31} AS h3
          FROM documents),
        caps AS (
          SELECT CASE WHEN ({h1}) % 5 < 2 THEN 1 ELSE 0 END AS a,
                 CASE WHEN ({h2}) % 5 < 2 THEN 1 ELSE 0 END AS b,
                 CASE WHEN ({h3}) % 5 < 2 THEN 1 ELSE 0 END AS c
          FROM h0),
        agg AS (
          SELECT CAST(sum(a) AS BIGINT) AS c1,
                 CAST(sum(b) AS BIGINT) AS c2,
                 CAST(sum(c) AS BIGINT) AS c3,
                 CAST(sum(a * b) AS BIGINT) AS r2,
                 CAST(sum(c * greatest(a, b)) AS BIGINT) AS r3,
                 CAST(sum(greatest(a, b)) AS BIGINT) AS m3,
                 CAST(count(*) AS BIGINT) AS n_true
          FROM caps)
        SELECT c1, c2, c3, c1 AS m2, m3, r2, r3,
               CAST(c2 * c1 + c3 * m3 AS BIGINT) AS schnabel_num,
               CAST(r2 + r3 AS BIGINT) AS schnabel_den, n_true
        FROM agg
    """


def _min_circle_sql(n_pts: int = 32) -> str:
    """mec replay: pair/triple candidate enumeration with exact-integer
    covering predicates (Thales dot for pairs; sign-split incircle
    determinant for triples — det stays int64, the orient product is
    avoided by the CASE split), argmin by the shared quantized key."""
    a1, a2 = "(t.ax - p.x)", "(t.ay - p.y)"
    b1, b2 = "(t.bx - p.x)", "(t.byy - p.y)"
    c1, c2 = "(t.cx - p.x)", "(t.cy - p.y)"
    a3 = f"({a1} * {a1} + {a2} * {a2})"
    b3 = f"({b1} * {b1} + {b2} * {b2})"
    c3 = f"({c1} * {c1} + {c2} * {c2})"
    det = (
        f"({a1} * ({b2} * {c3} - {b3} * {c2})"
        f" - {a2} * ({b1} * {c3} - {b3} * {c1})"
        f" + {a3} * ({b1} * {c2} - {b2} * {c1}))"
    )
    return f"""
        WITH pts AS MATERIALIZED (
          SELECT event_id AS id,
                 CAST(round_even(({LON_IN}) * 1000000.0, 0) AS BIGINT)
                   - CAST(round_even(CAST(-111.9750833333 AS DOUBLE)
                          * 1000000.0, 0) AS BIGINT) AS x,
                 CAST(round_even(({LAT_IN}) * 1000000.0, 0) AS BIGINT)
                   - CAST(round_even(CAST(33.0745 AS DOUBLE)
                          * 1000000.0, 0) AS BIGINT) AS y
          FROM events WHERE event_id < {n_pts}),
        prc AS MATERIALIZED (
          SELECT a.id AS ia, b.id AS ib,
                 CAST((a.x - b.x) * (a.x - b.x)
                      + (a.y - b.y) * (a.y - b.y) AS HUGEINT) AS num,
                 CAST(4 AS HUGEINT) AS den
          FROM pts a JOIN pts b ON a.id < b.id
          WHERE NOT EXISTS (
            SELECT 1 FROM pts p
            WHERE (p.x - a.x) * (p.x - b.x)
                  + (p.y - a.y) * (p.y - b.y) > 0)),
        tri0 AS MATERIALIZED (
          SELECT a.id AS ia, b.id AS ib, c.id AS ic,
                 a.x AS ax, a.y AS ay, b.x AS bx, b.y AS byy,
                 c.x AS cx, c.y AS cy,
                 (b.x - a.x) * (c.y - a.y)
                   - (b.y - a.y) * (c.x - a.x) AS orient
          FROM pts a JOIN pts b ON a.id < b.id
          JOIN pts c ON b.id < c.id
          WHERE (b.x - a.x) * (c.y - a.y)
                - (b.y - a.y) * (c.x - a.x) <> 0),
        trc AS MATERIALIZED (
          SELECT ia, ib, ic,
                 CAST((ax - bx) * (ax - bx)
                      + (ay - byy) * (ay - byy) AS HUGEINT)
                   * ((bx - cx) * (bx - cx) + (byy - cy) * (byy - cy))
                   * ((cx - ax) * (cx - ax) + (cy - ay) * (cy - ay))
                   AS num,
                 CAST(4 AS HUGEINT) * orient * orient AS den
          FROM tri0 t
          WHERE NOT EXISTS (
            SELECT 1 FROM pts p
            WHERE CASE WHEN t.orient > 0 THEN {det} < 0
                       ELSE {det} > 0 END)),
        allc AS (
          SELECT 2 AS kind, ia, ib, CAST(-1 AS BIGINT) AS ic, num, den
          FROM prc
          UNION ALL
          SELECT 3 AS kind, ia, ib, ic, num, den FROM trc)
        SELECT CAST(kind AS BIGINT) AS kind, CAST(ia AS BIGINT) AS ia,
               CAST(ib AS BIGINT) AS ib, CAST(ic AS BIGINT) AS ic,
               CAST((num * 100) // den AS BIGINT) AS r2_fp
        FROM allc
        ORDER BY (num * 100) // den, kind, ia, ib, ic
        LIMIT 1
    """


def _hash_ring_sql() -> str:
    from extractors_metadata_spark.functions.vhash import P31

    hv = _mix31_sql("hv0")
    hk = _mix31_sql("hk0")
    return f"""
        WITH ring AS MATERIALIZED (
          SELECT shard, v, CAST({hv} AS BIGINT) AS h_v FROM (
            SELECT s.range AS shard, v.range AS v,
                   (s.range * 131 + v.range * 29 + 7) % {P31} AS hv0
            FROM range(8) s CROSS JOIN range(16) v) z),
        docs AS MATERIALIZED (
          SELECT doc_id, CAST({hk} AS BIGINT) AS hk FROM (
            SELECT doc_id, (doc_id * 2654435761 + 99) % {P31} AS hk0
            FROM documents) z),
        succ AS (
          SELECT doc_id, shard FROM (
            SELECT d.doc_id, r.shard,
                   row_number() OVER (PARTITION BY d.doc_id
                     ORDER BY r.h_v, r.shard, r.v) AS rk
            FROM docs d JOIN ring r ON r.h_v >= d.hk) t
          WHERE rk = 1),
        wrap AS (
          SELECT shard AS wshard FROM (
            SELECT shard, row_number() OVER (ORDER BY h_v, shard, v)
              AS rk
            FROM ring) w WHERE rk = 1),
        assigned AS (
          SELECT d.doc_id,
                 COALESCE(s.shard, (SELECT wshard FROM wrap)) AS shard
          FROM docs d LEFT JOIN succ s ON s.doc_id = d.doc_id),
        loads AS (
          SELECT shard, CAST(count(*) AS BIGINT) AS n_docs
          FROM assigned GROUP BY 1),
        ext AS (
          SELECT shard, CAST(count(*) AS BIGINT) AS n_vnodes,
                 CAST(min(h_v) AS BIGINT) AS min_hv,
                 CAST(max(h_v) AS BIGINT) AS max_hv
          FROM ring GROUP BY 1)
        SELECT l.shard, l.n_docs, e.n_vnodes, e.min_hv, e.max_hv
        FROM loads l JOIN ext e ON e.shard = l.shard
    """


def _knapsack_sql(capacity: int = 64, n_items: int = 16) -> str:
    """knapsack_select replay: the DP recurrence unrolled as n_items
    CTE stages over the (source, c) lattice."""
    parts = [f"""
        items AS MATERIALIZED (
          SELECT source, doc_id,
                 CAST((length(pad) - length(replace(pad, ' the ', '')))
                      // 5 AS BIGINT) AS v,
                 CAST((n_chars // 16) + 1 AS BIGINT) AS w
          FROM (SELECT source, doc_id, n_chars,
                       ' ' || text || ' ' AS pad
                FROM documents) z),
        topk AS MATERIALIZED (
          SELECT source, rk, v, w FROM (
            SELECT source, v, w,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY v DESC, doc_id) AS rk
            FROM items) t WHERE rk <= {n_items}),
        dp0 AS MATERIALIZED (
          SELECT s.source, CAST(g.range AS BIGINT) AS c,
                 CAST(0 AS BIGINT) AS best
          FROM (SELECT DISTINCT source FROM topk) s
          CROSS JOIN range({capacity} + 1) g)"""]
    for i in range(1, n_items + 1):
        parts.append(f"""
        dp{i} AS MATERIALIZED (
          SELECT d.source, d.c,
                 CASE WHEN p.best IS NOT NULL AND p.best + it.v > d.best
                      THEN p.best + it.v ELSE d.best END AS best
          FROM dp{i - 1} d
          LEFT JOIN (SELECT source, v, w FROM topk WHERE rk = {i}) it
            ON it.source = d.source
          LEFT JOIN dp{i - 1} p
            ON p.source = d.source AND it.w IS NOT NULL
               AND p.c = d.c - it.w)""")
    return (
        "WITH "
        + ",".join(parts)
        + f"""
        SELECT b.source, b.best_v, CAST(min(d.c) AS BIGINT) AS c_min
        FROM (SELECT source, best AS best_v FROM dp{n_items}
              WHERE c = {capacity}) b
        JOIN dp{n_items} d
          ON d.source = b.source AND d.best = b.best_v
        GROUP BY 1, 2
    """
    )


def _radiation_sql() -> str:
    return f"""
        WITH pts AS MATERIALIZED (
          SELECT event_id AS id,
                 CAST(round_even(({LON_IN}) * 1000000000.0, 0) AS BIGINT)
                   AS ix,
                 CAST(round_even(({LAT_IN}) * 1000000000.0, 0) AS BIGINT)
                   AS iy,
                 CAST(1 + event_id % 20 AS BIGINT) AS m
          FROM events WHERE event_id < 64),
        pairs AS MATERIALIZED (
          SELECT a.id AS i, b.id AS j, a.ix AS xi, a.iy AS yi,
                 a.m AS m_i, b.m AS m_j,
                 (a.ix - b.ix) * (a.ix - b.ix)
                   + (a.iy - b.iy) * (a.iy - b.iy) AS d2
          FROM pts a JOIN pts b ON a.id <> b.id),
        closer AS (
          SELECT p.i, p.j, CAST(sum(k.m) AS BIGINT) AS s_ij
          FROM pairs p JOIN pts k
            ON k.id <> p.i AND k.id <> p.j
           AND (p.xi - k.ix) * (p.xi - k.ix)
               + (p.yi - k.iy) * (p.yi - k.iy) < p.d2
          GROUP BY 1, 2)
        SELECT p.i, p.j, p.m_i, p.m_j,
               CAST(COALESCE(c.s_ij, 0) AS BIGINT) AS s_ij,
               CAST(p.m_i * p.m_j AS BIGINT) AS num,
               CAST((p.m_i + COALESCE(c.s_ij, 0))
                    * (p.m_i + p.m_j + COALESCE(c.s_ij, 0)) AS BIGINT)
                 AS den
        FROM pairs p LEFT JOIN closer c ON c.i = p.i AND c.j = p.j
    """


def _gale_shapley_sql(rounds: int = 25, top_n: int = 5) -> str:
    """gale_shapley replay: the batch deferred-acceptance transition
    unrolled as ``rounds`` CTE stages over the tiny state frame."""
    parts = [f"""
        topn AS MATERIALIZED (
          SELECT source FROM (
            SELECT source, count(*) AS tot,
                   row_number() OVER (ORDER BY count(*) DESC, source)
                     AS rk
            FROM documents GROUP BY source) z
          WHERE rk <= {top_n}),
        langs AS (SELECT DISTINCT lang FROM documents),
        cnts AS (
          SELECT source, lang, CAST(count(*) AS BIGINT) AS c
          FROM documents GROUP BY 1, 2),
        mat AS MATERIALIZED (
          SELECT t.source, l.lang, COALESCE(c.c, 0) AS c
          FROM topn t CROSS JOIN langs l
          LEFT JOIN cnts c ON c.source = t.source AND c.lang = l.lang),
        nl AS (SELECT count(*) AS nl FROM langs),
        pr AS MATERIALIZED (
          SELECT source, lang,
                 CAST(row_number() OVER (PARTITION BY source
                        ORDER BY c DESC, lang) AS BIGINT) AS rank
          FROM mat),
        ar AS MATERIALIZED (
          SELECT source, lang,
                 CAST(row_number() OVER (PARTITION BY lang
                        ORDER BY c DESC, source) AS BIGINT) AS arank
          FROM mat),
        st0 AS MATERIALIZED (
          SELECT source, CAST(1 AS BIGINT) AS ptr,
                 CAST(NULL AS VARCHAR) AS m_lang
          FROM topn)"""]
    for r in range(rounds):
        parts.append(f"""
        props{r} AS MATERIALIZED (
          SELECT s.source, p.lang
          FROM st{r} s
          JOIN pr p ON p.source = s.source AND p.rank = s.ptr
          WHERE s.m_lang IS NULL AND s.ptr <= (SELECT nl FROM nl)),
        win{r} AS MATERIALIZED (
          SELECT lang, source FROM (
            SELECT c.lang, c.source,
                   row_number() OVER (PARTITION BY c.lang
                                      ORDER BY a.arank) AS rk
            FROM (
              SELECT m_lang AS lang, source FROM st{r}
              WHERE m_lang IS NOT NULL
              UNION ALL SELECT lang, source FROM props{r}) c
            JOIN ar a ON a.lang = c.lang AND a.source = c.source) z
          WHERE rk = 1),
        st{r + 1} AS MATERIALIZED (
          SELECT s.source,
                 CASE WHEN w.lang IS NOT NULL THEN s.ptr
                      WHEN s.m_lang IS NOT NULL OR p.lang IS NOT NULL
                        THEN s.ptr + 1
                      ELSE s.ptr END AS ptr,
                 w.lang AS m_lang
          FROM st{r} s
          LEFT JOIN win{r} w ON w.source = s.source
          LEFT JOIN props{r} p ON p.source = s.source)""")
    return (
        "WITH "
        + ",".join(parts)
        + f"""
        SELECT source, m_lang AS lang, ptr AS pref_rank
        FROM st{rounds} WHERE m_lang IS NOT NULL
    """
    )


def _interval_sched_sql(max_select: int = 12) -> str:
    """interval_schedule replay: unrolled greedy pick stages."""
    parts = ["""
        iv AS MATERIALIZED (
          SELECT user_id, event_id, epoch_us(ts) AS s_us,
                 epoch_us(ts) + (1 + event_id % 120) * 60000000 AS e_us
          FROM events),
        sel1 AS MATERIALIZED (
          SELECT user_id, CAST(1 AS BIGINT) AS k, event_id, s_us, e_us
          FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id
                     ORDER BY e_us, s_us, event_id) AS rk
            FROM iv) z WHERE rk = 1)"""]
    for k in range(2, max_select + 1):
        parts.append(f"""
        sel{k} AS MATERIALIZED (
          SELECT user_id, CAST({k} AS BIGINT) AS k, event_id, s_us, e_us
          FROM (
            SELECT i.user_id, i.event_id, i.s_us, i.e_us,
                   row_number() OVER (PARTITION BY i.user_id
                     ORDER BY i.e_us, i.s_us, i.event_id) AS rk
            FROM iv i JOIN sel{k - 1} p ON p.user_id = i.user_id
            WHERE i.s_us >= p.e_us) z WHERE rk = 1)""")
    sel = "\n          UNION ALL ".join(
        f"SELECT * FROM sel{k}" for k in range(1, max_select + 1)
    )
    return (
        "WITH "
        + ",".join(parts)
        + f"""
        SELECT user_id, k, event_id, s_us, e_us FROM (
          {sel}) u
    """
    )


def _vw_sql(removals: int = 8) -> str:
    """vw_keep replay: unrolled single-victim removal stages."""
    parts = [f"""
        t0 AS MATERIALIZED (
          SELECT user_id,
                 CAST(row_number() OVER (PARTITION BY user_id
                        ORDER BY epoch_us(ts), event_id) AS BIGINT) AS seq,
                 CAST(round_even(({LON_IN}) * 1000000.0, 0) AS BIGINT)
                   AS x,
                 CAST(round_even(({LAT_IN}) * 1000000.0, 0) AS BIGINT)
                   AS y
          FROM events)"""]
    for j in range(removals):
        parts.append(f"""
        a{j} AS (
          SELECT user_id, seq, x, y,
                 lag(x) OVER w AS px, lag(y) OVER w AS py,
                 lead(x) OVER w AS nx, lead(y) OVER w AS ny
          FROM t{j}
          WINDOW w AS (PARTITION BY user_id ORDER BY seq)),
        vic{j} AS MATERIALIZED (
          SELECT user_id, seq FROM (
            SELECT user_id, seq,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY abs((x - px) * (ny - py)
                                  - (y - py) * (nx - px)), seq) AS rk
            FROM a{j}
            WHERE px IS NOT NULL AND nx IS NOT NULL) z
          WHERE rk = 1),
        t{j + 1} AS MATERIALIZED (
          SELECT t.user_id, t.seq, t.x, t.y FROM t{j} t
          LEFT JOIN vic{j} v
            ON v.user_id = t.user_id AND v.seq = t.seq
          WHERE v.seq IS NULL)""")
    return (
        "WITH "
        + ",".join(parts)
        + f"""
        SELECT user_id, seq, x, y FROM t{removals}
    """
    )


def _toponym_sql() -> str:
    from .shared import GAZETTEER

    names = sorted({n for _, n, _ in GAZETTEER})
    nvals = ", ".join(f"('{n}', {len(n)})" for n in names)
    gvals = ", ".join(f"({g}, '{n}', {p})" for g, n, p in GAZETTEER)
    deg = "(pi() / 180.0 * 6371008.8)"
    return f"""
        WITH nm(name, nlen) AS (VALUES {nvals}),
        gz AS MATERIALIZED (
          SELECT gaz_id, name, pop,
                 CAST(33.0745 AS DOUBLE)
                   + (CAST(gaz_id AS DOUBLE) + CAST(0.5 AS DOUBLE))
                     * CAST(0.00015 AS DOUBLE) AS glat,
                 CAST(-111.9750833333 AS DOUBLE)
                   + (CAST(gaz_id AS DOUBLE) + CAST(0.5 AS DOUBLE))
                     * CAST(0.00012 AS DOUBLE) AS glon
          FROM (VALUES {gvals}) v(gaz_id, name, pop)),
        docs AS MATERIALIZED (
          SELECT doc_id, text,
                 33.0745 + ((doc_id % 1000) + 0.5) / 1000.0 * 54
                   * 0.0000365 AS lat,
                 -111.9750833333 + ((doc_id % 640) + 0.5) / 640.0 * 16
                   * 0.00005 AS lon
          FROM documents),
        men AS (
          SELECT d.doc_id, n.name, d.lat, d.lon,
                 CAST((length(d.text)
                       - length(replace(d.text, n.name, '')))
                      // n.nlen AS BIGINT) AS mentions
          FROM docs d CROSS JOIN nm n),
        cand AS (
          SELECT m.doc_id, m.name, m.mentions,
                 CAST(g.gaz_id AS BIGINT) AS gaz_id, g.pop,
                 CAST(round(sqrt(
                   ((m.lon - g.glon) * cos(radians(g.glat)) * {deg})
                   * ((m.lon - g.glon) * cos(radians(g.glat)) * {deg})
                   + ((m.lat - g.glat) * {deg})
                   * ((m.lat - g.glat) * {deg})
                 ) * 100.0, 0) AS BIGINT) AS dist_cm
          FROM men m JOIN gz g ON g.name = m.name
          WHERE m.mentions > 0)
        SELECT doc_id, name, mentions, gaz_id, dist_cm FROM (
          SELECT doc_id, name, mentions, gaz_id, dist_cm,
                 row_number() OVER (PARTITION BY doc_id, name
                                    ORDER BY dist_cm - pop * 100000,
                                             gaz_id) AS rk
          FROM cand) t
        WHERE rk = 1
    """


def _boruvka_sql(rounds: int = 8, jumps: int = 8, n_pts: int = 256) -> str:
    """mst_boruvka replay: rounds x (min-edge pick + 2-cycle fix + fixed
    pointer doublings) unrolled as generated CTE stages.  Every CTE
    referenced 2+ times is MATERIALIZED (DuckDB re-inlines a plain CTE per
    reference).
    Empty late rounds flow through harmlessly (LEFT JOIN carries c{r}
    forward, so a round with no edges left cannot empty the chain)."""
    parts = [f"""
        pts AS MATERIALIZED (
          SELECT event_id AS id,
                 CAST(round_even(({LON_IN}) * 1000000000.0, 0) AS BIGINT)
                   AS ix,
                 CAST(round_even(({LAT_IN}) * 1000000000.0, 0) AS BIGINT)
                   AS iy
          FROM events WHERE event_id < {n_pts}),
        edges AS MATERIALIZED (
          SELECT x.id AS a, y.id AS b,
                 (x.ix - y.ix) * (x.ix - y.ix)
                   + (x.iy - y.iy) * (x.iy - y.iy) AS w
          FROM pts x JOIN pts y ON x.id < y.id),
        c0 AS MATERIALIZED (SELECT id, id AS comp FROM pts)"""]
    for r in range(rounds):
        parts.append(f"""
        ec{r} AS MATERIALIZED (
          SELECT e.a, e.b, e.w, ca.comp AS ca, cb.comp AS cb
          FROM edges e
          JOIN c{r} ca ON ca.id = e.a
          JOIN c{r} cb ON cb.id = e.b
          WHERE ca.comp <> cb.comp),
        m{r} AS MATERIALIZED (
          SELECT c, w, a, b, t FROM (
            SELECT c, w, a, b, t,
                   row_number() OVER (PARTITION BY c ORDER BY w, a, b)
                     AS rk
            FROM (
              SELECT ca AS c, cb AS t, w, a, b FROM ec{r}
              UNION ALL
              SELECT cb AS c, ca AS t, w, a, b FROM ec{r}) u) z
          WHERE rk = 1),
        p{r}_0 AS MATERIALIZED (
          SELECT h.c,
                 CASE WHEN h2.t = h.c THEN least(h.c, h.t)
                      ELSE h.t END AS p
          FROM m{r} h JOIN m{r} h2 ON h2.c = h.t)""")
        for j in range(1, jumps + 1):
            parts.append(f"""
        p{r}_{j} AS MATERIALIZED (
          SELECT a.c, b.p FROM p{r}_{j - 1} a
          JOIN p{r}_{j - 1} b ON b.c = a.p)""")
        parts.append(f"""
        c{r + 1} AS MATERIALIZED (
          SELECT c.id, COALESCE(j.p, c.comp) AS comp
          FROM c{r} c LEFT JOIN p{r}_{jumps} j ON j.c = c.comp)""")
    picks = "\n          UNION ALL ".join(
        f"SELECT DISTINCT a, b, w FROM m{r}" for r in range(rounds)
    )
    return (
        "WITH "
        + ",".join(parts)
        + f"""
        SELECT a, b, CAST(w AS BIGINT) AS w FROM (
          {picks}) allp
    """
    )


def _spatial_keyword_sql() -> str:
    from .shared import SKW_TERMS

    vals = ", ".join(
        f"({i}, '{t}', {len(t)})" for i, t in enumerate(SKW_TERMS)
    )
    deg = "(pi() / 180.0 * 6371008.8)"
    return f"""
        WITH qs AS MATERIALIZED (
          SELECT qid, term, tlen,
                 CAST(33.0745 AS DOUBLE)
                   + (CAST(qid AS DOUBLE) + CAST(0.5 AS DOUBLE))
                     * CAST(0.0002 AS DOUBLE) AS qlat,
                 CAST(-111.9750833333 AS DOUBLE)
                   + (CAST(qid AS DOUBLE) + CAST(0.5 AS DOUBLE))
                     * CAST(0.00025 AS DOUBLE) AS qlon
          FROM (VALUES {vals}) v(qid, term, tlen)),
        docs AS MATERIALIZED (
          SELECT doc_id, text,
                 33.0745 + ((doc_id % 1000) + 0.5) / 1000.0 * 54
                   * 0.0000365 AS lat,
                 -111.9750833333 + ((doc_id % 640) + 0.5) / 640.0 * 16
                   * 0.00005 AS lon
          FROM documents),
        scored AS (
          SELECT q.qid, d.doc_id,
                 CAST((length(d.text)
                       - length(replace(d.text, q.term, '')))
                      // q.tlen AS BIGINT) AS tf,
                 CAST(round(sqrt(
                   ((d.lon - q.qlon) * cos(radians(q.qlat)) * {deg})
                   * ((d.lon - q.qlon) * cos(radians(q.qlat)) * {deg})
                   + ((d.lat - q.qlat) * {deg})
                   * ((d.lat - q.qlat) * {deg})
                 ) * 100.0, 0) AS BIGINT) AS dist_cm
          FROM docs d CROSS JOIN qs q)
        SELECT qid, CAST(rnk AS BIGINT) AS rnk, doc_id, tf, dist_cm
        FROM (
          SELECT qid, doc_id, tf, dist_cm,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY tf DESC, dist_cm, doc_id)
                   AS rnk
          FROM scored) t
        WHERE rnk <= 3
    """


def oracle_sql() -> dict[str, str]:
    return {
        "pip_contains": f"""
            SELECT event_id,
                   ({RANGE_OF_LAT_IN}) || '-' || ({PASS_OF_LON_IN}) AS plot_id
            FROM events
        """,
        "knn_nearest": _knn_bruteforce_sql(
            "", 1, "event_id, plot_id, round(dist, 2) AS dist_m"
        ),
        "huff_model": f"""
            WITH base AS (
              SELECT * FROM ({_knn_bruteforce_sql(
                  "WHERE event_id < 2000",
                  3,
                  "event_id, plot_id, CAST(rank AS INT) AS r, "
                  "greatest(CAST(round(dist * 100.0, 0) AS BIGINT)"
                  " * CAST(round(dist * 100.0, 0) AS BIGINT), 1) AS d2",
              )})),
            wide AS (
              SELECT event_id,
                     min(CASE WHEN r = 1 THEN plot_id END) AS plot_1,
                     min(CASE WHEN r = 2 THEN plot_id END) AS plot_2,
                     min(CASE WHEN r = 3 THEN plot_id END) AS plot_3,
                     min(CASE WHEN r = 1 THEN d2 END) AS d2_1,
                     min(CASE WHEN r = 2 THEN d2 END) AS d2_2,
                     min(CASE WHEN r = 3 THEN d2 END) AS d2_3
              FROM base GROUP BY 1)
            SELECT event_id, plot_1, plot_2, plot_3, d2_1, d2_2, d2_3,
                   d2_2 * d2_3 AS num_1, d2_1 * d2_3 AS num_2,
                   d2_1 * d2_2 AS num_3,
                   d2_2 * d2_3 + d2_1 * d2_3 + d2_1 * d2_2 AS den
            FROM wide
        """,
        "knn_topk": _knn_bruteforce_sql(
            "WHERE event_id < 2000",
            3,
            "event_id, plot_id, CAST(rank AS INT) AS rank, round(dist, 2) AS dist_m",
        ),
        "pipeline_plots": f"""
            WITH {_probe_gxgy_sql()},
            {_utm_inverse_sql()}
            SELECT 'https://site.example/e' || CAST(event_id AS VARCHAR) AS url,
                   CAST(CAST(FLOOR((lat - 33.0745) / 0.0000365) AS INT) + 1 AS VARCHAR)
                     || '-' ||
                   CAST(CAST(FLOOR((lon + 111.9750833333) / 0.00005) AS INT) + 1 AS VARCHAR)
                     AS plot_id,
                   'contains' AS matched_via,
                   (CASE WHEN event_id % 2 = 0 THEN 'stereoTop' ELSE 'Scanner3D' END)
                     || ' Datasets' AS stream,
                   '2016-05-' || printf('%02d', CAST(event_id % 28 + 1 AS INT)) AS "date"
            FROM ll
        """,
        "pipeline_envelope_verify": f"""
            WITH {_probe_gxgy_sql("WHERE event_id < 3000")},
            {_utm_inverse_sql()}
            SELECT 'https://site.example/e' || CAST(event_id AS VARCHAR) AS url,
                   CAST(CAST(FLOOR((lat - 33.0745) / 0.0000365) AS INT) + 1 AS VARCHAR)
                     || '-' ||
                   CAST(CAST(FLOOR((lon + 111.9750833333) / 0.00005) AS INT) + 1 AS VARCHAR)
                     AS plot_id,
                   'contains' AS matched_via,
                   (CASE WHEN event_id % 2 = 0 THEN 'stereoTop' ELSE 'Scanner3D' END)
                     || ' Datasets' AS stream,
                   '2016-05-' || printf('%02d', CAST(event_id % 28 + 1 AS INT)) AS "date",
                   TIMESTAMP '2016-05-07 15:58:43' AS start_time,
                   TIMESTAMP '2016-05-07 15:58:43' AS end_time,
                   'https://site.example/e' || CAST(event_id AS VARCHAR) AS prop_source,
                   (CASE WHEN event_id % 2 = 0 THEN 'stereoTop' ELSE 'Scanner3D' END)
                     || ' - 2016-05-' || printf('%02d', CAST(event_id % 28 + 1 AS INT))
                     || '__15-58-43-000' AS prop_dataset
            FROM ll
        """,
        "tile_assign": f"""
            WITH pts AS (
              SELECT event_id,
                     ({LAT_IN}) - 0.0002 AS min_lat, ({LAT_IN}) + 0.0002 AS max_lat,
                     ({LON_IN}) - 0.0003 AS min_lon, ({LON_IN}) + 0.0003 AS max_lon
              FROM events
            ), zs AS (SELECT unnest([10, 11, 12]) AS z),
            rngs AS (
              SELECT event_id, z,
                CAST(FLOOR((min_lon + 180) / 360 * pow(2, z)) AS BIGINT) AS x0,
                CAST(FLOOR((max_lon + 180) / 360 * pow(2, z)) AS BIGINT) AS x1,
                CAST(FLOOR((1 - ln(tan(radians(max_lat)) + 1/cos(radians(max_lat)))/pi())/2 * pow(2, z)) AS BIGINT) AS y0,
                CAST(FLOOR((1 - ln(tan(radians(min_lat)) + 1/cos(radians(min_lat)))/pi())/2 * pow(2, z)) AS BIGINT) AS y1
              FROM pts, zs
            )
            SELECT event_id, z, unnest(range(x0, x1 + 1)) AS x, y AS y
            FROM (SELECT event_id, z, x0, x1, unnest(range(y0, y1 + 1)) AS y FROM rngs)
        """,
        "tile_density": f"""
            WITH pts AS (
              SELECT event_id, user_id, ({LAT_IN}) AS lat, ({LON_IN}) AS lon
              FROM events)
            SELECT 12 AS z,
                   CAST(FLOOR((lon + 180) / 360 * pow(2, 12)) AS BIGINT) AS x,
                   CAST(FLOOR((1 - ln(tan(radians(lat)) + 1/cos(radians(lat)))/pi())/2 * pow(2, 12)) AS BIGINT) AS y,
                   count(DISTINCT user_id) AS n_distinct
            FROM pts GROUP BY 1, 2, 3
        """,
        "q1_pricing": """
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity) AS sum_qty,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(20,2))), 2) AS DOUBLE) AS sum_base_price,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(20,2)) * (CAST(1 AS DECIMAL(7,6)) - CAST(l_discount AS DECIMAL(7,6)))), 2) AS DOUBLE) AS sum_disc_price,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(20,2)) * ((CAST(1 AS DECIMAL(7,6)) - CAST(l_discount AS DECIMAL(7,6))) * (CAST(1 AS DECIMAL(7,6)) + CAST(l_tax AS DECIMAL(7,6))))), 2) AS DOUBLE) AS sum_charge,
                   round(sum(l_quantity) / count(*), 6) AS avg_qty,
                   round(CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2))) AS DOUBLE) / count(*), 6) AS avg_price,
                   round(CAST(sum(CAST(l_discount AS DECIMAL(7,6))) AS DOUBLE) / count(*), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "multi_join": """
            SELECT c_nationkey,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(20,2)) * (CAST(1 AS DECIMAL(7,6)) - CAST(l_discount AS DECIMAL(7,6)))), 2) AS DOUBLE) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_nationkey < 10 AND o_orderdate < TIMESTAMP '1998-01-01'
            GROUP BY c_nationkey
        """,
        "filter_gate": """
            SELECT event_id, user_id, value FROM events
            WHERE event_type = 'view' AND value IS NOT NULL
        """,
        "suffix_filter": """
            SELECT p_partkey, p_name FROM part WHERE p_name LIKE '%e'
        """,
        "json_extract": """
            SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_val
            FROM events
        """,
        "anti_join": """
            SELECT c_nationkey, count(*) AS n_inactive
            FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
            GROUP BY c_nationkey
        """,
        "semi_join": """
            SELECT n_nationkey, n_name FROM nation
            WHERE EXISTS (SELECT 1 FROM supplier
                          WHERE s_nationkey = n_nationkey AND s_acctbal > 5000)
        """,
        "theta_suffix_join": """
            SELECT suffix, count(*) AS n_parts
            FROM part JOIN (VALUES ('bolt'), ('gear'), ('widget')) AS t(suffix)
              ON p_name LIKE '%' || suffix
            GROUP BY suffix
        """,
        "argmin": """
            SELECT s_nationkey, s_suppkey, s_acctbal FROM (
              SELECT s_nationkey, s_suppkey, s_acctbal,
                     row_number() OVER (PARTITION BY s_nationkey
                                        ORDER BY s_acctbal ASC, s_suppkey ASC) AS rn
              FROM supplier) WHERE rn = 1
        """,
        "window_topk": """
            SELECT o_custkey, o_orderkey, CAST(rk AS INT) AS rk FROM (
              SELECT o_custkey, o_orderkey,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
              FROM orders) WHERE rk <= 3
        """,
        "all_targets": """
            SELECT o_custkey, count(DISTINCT o_orderstatus) AS n_status
            FROM orders WHERE o_orderstatus IN ('O', 'F')
            GROUP BY o_custkey HAVING count(DISTINCT o_orderstatus) = 2
        """,
        "timestamp_parse": """
            SELECT event_id,
                   strptime(strftime(ts, '%m/%d/%Y %H:%M:%S'), '%m/%d/%Y %H:%M:%S') AS parsed_ts
            FROM events
        """,
        "name_split": """
            SELECT event_id,
                   string_split(event_type || ' - ' || strftime(ts, '%Y-%m-%d__%H-%M-%S'), ' - ')[1] AS sensor,
                   string_split(string_split(event_type || ' - ' || strftime(ts, '%Y-%m-%d__%H-%M-%S'), ' - ')[2], '__')[1] AS date_part
            FROM events
        """,
        "map_lookup": """
            SELECT event_id,
                   CASE event_type WHEN 'view' THEN '1' WHEN 'click' THEN '2'
                        WHEN 'purchase' THEN '3' ELSE '99' END AS stream_id
            FROM events
        """,
        "url_tail": """
            SELECT event_id,
                   string_split('https://host.example/datasets' || '/' || event_type || '/' || event_id, '/')[-1] AS tail
            FROM events
        """,
        "lv1_remap": """
            WITH e AS (SELECT * FROM events WHERE event_type IN ('view', 'click', 'purchase')),
            derived AS (
              SELECT event_id,
                     CASE event_type WHEN 'view' THEN 'RGB GeoTIFFs'
                          WHEN 'click' THEN 'Thermal IR GeoTIFFs'
                          ELSE 'scanner3DTop' END AS sensor_type,
                     CASE event_type WHEN 'view' THEN 'stereoTop'
                          WHEN 'click' THEN 'flirIrCamera'
                          ELSE 'scanner3DTop' END AS raw_sensor
              FROM e),
            raw AS (
              SELECT (CASE event_type WHEN 'view' THEN 'stereoTop'
                           WHEN 'click' THEN 'flirIrCamera'
                           ELSE 'scanner3DTop' END) || ' - ' || CAST(event_id AS VARCHAR) AS raw_name,
                     value AS raw_value
              FROM e WHERE value IS NOT NULL)
            SELECT event_id, sensor_type, raw_sensor, raw_value
            FROM derived JOIN raw
              ON raw.raw_name = derived.raw_sensor || ' - ' || CAST(derived.event_id AS VARCHAR)
        """,
        "callback_fanout": """
            WITH s AS (
              SELECT event_id,
                     CASE event_type WHEN 'view' THEN 'stereoTop'
                          WHEN 'click' THEN 'flirIrCamera'
                          ELSE 'scanner3DTop' END AS sensor
              FROM events WHERE event_type IN ('view', 'click', 'purchase'))
            SELECT event_id, sensor, unnest(
              CASE sensor
                WHEN 'stereoTop' THEN ['terra.stereo-rgb.bin2tif', 'terra.metadata.sensorposition']
                WHEN 'flirIrCamera' THEN ['terra.multispectral.flir2tif', 'terra.metadata.sensorposition']
                ELSE ['terra.3dscanner.ply2las', 'terra.3dscanner.heightmap', 'terra.metadata.sensorposition']
              END) AS callback
            FROM s
        """,
        "targets_complete": """
            WITH files AS (
              SELECT user_id AS dataset,
                     CASE WHEN user_id % 3 = 0 THEN 'stereoTop'
                          WHEN user_id % 3 = 1 THEN 'flirIrCamera'
                          ELSE 'scanner3DTop' END AS sensor,
                     'f' || CAST(event_id AS VARCHAR)
                         || (CASE WHEN event_id % 2 = 0 THEN '_left.bin' ELSE '_right.bin' END) AS filename
              FROM events),
            tdim(s, suffix) AS (
              SELECT * FROM (VALUES ('stereoTop', '_left.bin'), ('stereoTop', '_right.bin'),
                                    ('flirIrCamera', '_ir.bin'))),
            found AS (
              SELECT dataset, count(DISTINCT suffix) AS n_found
              FROM files JOIN tdim ON files.sensor = tdim.s AND filename LIKE '%' || suffix
              GROUP BY dataset),
            ds AS (SELECT DISTINCT dataset, sensor FROM files)
            SELECT dataset, sensor,
                   CAST(coalesce(n_found, 0) AS BIGINT) AS n_found,
                   CAST(CASE sensor WHEN 'stereoTop' THEN 2 WHEN 'flirIrCamera' THEN 1 ELSE 0 END AS INT) AS n_targets,
                   coalesce(n_found, 0) = (CASE sensor WHEN 'stereoTop' THEN 2 WHEN 'flirIrCamera' THEN 1 ELSE 0 END) AS complete
            FROM ds LEFT JOIN found USING (dataset)
        """,
        "files_probe": """
            WITH md AS (
              SELECT event_id AS dataset,
                     ['https://host.example/files/f' || CAST(event_id AS VARCHAR),
                      'https://host.example/files/f' || CAST(event_id + 1 AS VARCHAR)] AS fc
              FROM events),
            inv AS (SELECT DISTINCT 'f' || CAST(event_id AS VARCHAR) AS file_id
                    FROM events WHERE event_id % 7 <> 0),
            ex AS (SELECT dataset, unnest(fc) AS url FROM md)
            SELECT DISTINCT dataset FROM ex
            WHERE string_split(url, '/')[-1] NOT IN (SELECT file_id FROM inv)
        """,
        "multi_render_verify": f"""
            WITH {_probe_gxgy_sql()},
            md AS (
              SELECT event_id,
                     CASE WHEN event_id % 2 = 0 THEN 'stereoTop' ELSE 'Scanner3D' END AS sensor,
                     '2016-05-' || printf('%02d', CAST(event_id % 28 + 1 AS INT)) AS d,
                     printf('%.6f', gx) AS sx, printf('%.6f', gy) AS sy
              FROM g
            )
            SELECT 'https://site.example/e' || CAST(event_id AS VARCHAR) AS url,
                   '{{"sensor":"' || sensor || '","date":"' || d
                     || '","pos_x":' || CAST(CAST(sx AS DOUBLE) AS VARCHAR)
                     || ',"pos_y":' || CAST(CAST(sy AS DOUBLE) AS VARCHAR)
                     || ',"pos_z":1.0,"fov_x":1.0,"fov_y":1.0}}' AS md_json,
                   '<metadata><sensor>' || sensor || '</sensor><date>' || d
                     || '</date><position x="' || sx || '" y="' || sy
                     || '" z="1.000000"/><fov x="1.000000" y="1.000000"/></metadata>'
                     AS md_xml,
                   'capture {{' || chr(10) || '  :sensor = "' || sensor || '" ;'
                     || chr(10) || '  :date = "' || d || '" ;' || chr(10)
                     || '  :position = ' || sx || ', ' || sy || ', 1.000000 ;'
                     || chr(10) || '  :fov = 1.000000, 1.000000 ;' || chr(10) || '}}'
                     AS md_cdl
            FROM md
        """,
        "pipeline_nearest_verify": f"""
            WITH {_probe_gxgy_sql("WHERE event_id < 3000", NEAREST_GX_EXPR)},
            {_utm_inverse_sql()}
            SELECT 'https://site.example/e' || CAST(event_id AS VARCHAR) AS url,
                   '1-' || CAST(CAST(FLOOR((lon + 111.9750833333) / 0.00005) AS INT) + 1 AS VARCHAR)
                     AS plot_id,
                   'nearest' AS matched_via,
                   (CASE WHEN event_id % 2 = 0 THEN 'stereoTop' ELSE 'Scanner3D' END)
                     || ' Datasets' AS stream,
                   '2016-05-' || printf('%02d', CAST(event_id % 28 + 1 AS INT)) AS "date"
            FROM ll
        """,
        "kring_verify": f"""
            WITH {_cells_sql()},
            unpacked AS (
              SELECT event_id,
                     cell_r9 >> 58 AS res,
                     (cell_r9 >> 29) & {(1 << 29) - 1} AS q,
                     cell_r9 & {(1 << 29) - 1} AS r
              FROM h3cell WHERE event_id < 3000),
            offs(dq, dr) AS (VALUES {", ".join(f"({dq}, {dr})" for dq in range(-2, 3) for dr in range(-2, 3) if abs(dq + dr) <= 2)})
            SELECT event_id,
                   (res << 58) | ((q + dq) << 29) | (r + dr) AS ring_cell
            FROM unpacked, offs
        """,
        "cells_encode": f"""
            WITH {_cells_sql()}
            SELECT h.event_id, h.cell_r9, s.s2_cell
            FROM h3cell h JOIN s2cell s USING (event_id)
        """,
        "polyfill_verify": f"""
            WITH {_polyfill_sql(9)}
            SELECT plot_id, cell FROM cells
        """,
        "extract_text_probe": r"""
            WITH h AS (
              SELECT event_id,
                     '<html><head><title>T' || CAST(event_id AS VARCHAR)
                     || '</title><style>p { color: red; }</style></head><body><h1>Doc &amp; '
                     || CAST(event_id AS VARCHAR)
                     || '</h1><script>var x = "1 < 2";</script><p>A &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end '
                     || CAST(event_id AS VARCHAR) || '.</p></body></html>' AS s
              FROM events WHERE event_id < 3000),
            s1 AS (SELECT event_id, regexp_replace(s, '<script\b.*?</script>', ' ', 'gis') AS s FROM h),
            s2 AS (SELECT event_id, regexp_replace(s, '<style\b.*?</style>', ' ', 'gis') AS s FROM s1),
            s3 AS (SELECT event_id, regexp_replace(s, '<[^>]*>', ' ', 'gs') AS s FROM s2),
            s4 AS (SELECT event_id,
                          replace(replace(replace(replace(replace(replace(s,
                            '&nbsp;', ' '), '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
                            '&quot;', '"'), '&#39;', '''') AS s
                   FROM s3)
            SELECT event_id, trim(regexp_replace(s, '\s+', ' ', 'g')) AS text FROM s4
        """,
        "extract_text_verify": """
            SELECT greatest(1000, CAST(0.1 * (SELECT count(*) FROM events) AS BIGINT)) AS n_docs,
                   greatest(1000, CAST(0.1 * (SELECT count(*) FROM events) AS BIGINT)) AS n_identical
        """,
        "session_stats": """
            WITH x AS (
              SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us,
                     lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id) AS pus
              FROM events),
            f AS (
              SELECT *, CASE WHEN pus IS NULL OR us - pus > 1800000000
                             THEN 1 ELSE 0 END AS ns
              FROM x),
            s AS (
              SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id
                                           ORDER BY us, event_id
                                           ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW) AS BIGINT)
                          AS session_seq
              FROM f)
            SELECT user_id, session_seq,
                   CAST(user_id AS VARCHAR) || '-'
                     || CAST(session_seq AS VARCHAR) AS session_id,
                   count(*) AS n_events,
                   max(us) - min(us) AS duration_us,
                   count(DISTINCT event_type) AS n_types,
                   CAST(round(sum(CAST(value AS DECIMAL(20,2))), 2) AS DOUBLE)
                     AS sum_value
            FROM s GROUP BY 1, 2, 3
        """,
        "asof_join": """
            -- DuckDB's NATIVE ASOF JOIN as an independent implementation of
            -- the union/last-carry-forward plan (inclusive backward match,
            -- 1-day tolerance nulls the match but keeps the row).
            WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
                       FROM events WHERE event_type = 'purchase'),
                 r AS (SELECT user_id, event_id AS view_event_id,
                              epoch_us(ts) AS rts_us
                       FROM events WHERE event_type = 'view'),
                 j AS (SELECT l.event_id, l.user_id, l.ts_us,
                              r.view_event_id, l.ts_us - r.rts_us AS gap
                       FROM l ASOF LEFT JOIN r
                         ON l.user_id = r.user_id AND l.ts_us >= r.rts_us)
            SELECT event_id, user_id, ts_us,
                   CASE WHEN gap <= 86400000000 THEN view_event_id END
                     AS view_event_id,
                   CASE WHEN gap <= 86400000000 THEN gap END AS asof_gap_us
            FROM j
        """,
        "domain_cap": f"""
            WITH p AS (SELECT doc_id, source,
                              {_poly_sql("CAST(doc_id AS VARCHAR)", 131)}
                                AS priority
                       FROM documents),
                 r AS (SELECT doc_id, source, priority,
                              row_number() OVER (PARTITION BY source
                                                 ORDER BY priority, doc_id)
                                AS rk
                       FROM p)
            SELECT doc_id, source, priority, CAST(rk AS INT) AS rank
            FROM r WHERE rk <= 5
        """,
        "interval_join": """
            -- semantically-primitive theta join: checks the engine's
            -- covering-bucket decomposition (probe side never exploded)
            WITH c AS (SELECT event_id, user_id, epoch_us(ts) AS us
                       FROM events WHERE event_type = 'click'),
                 s AS (SELECT event_id AS signup_id, user_id,
                              epoch_us(ts) AS lo
                       FROM events WHERE event_type = 'signup')
            SELECT c.event_id, c.user_id, s.signup_id, c.us - s.lo AS offset_us
            FROM c JOIN s
              ON c.user_id = s.user_id
             AND c.us >= s.lo AND c.us <= s.lo + 172800000000
        """,
        "quantile_sketch_verify": _quantile_sketch_sql(6),
        "quantile_estimate_verify": _quantile_estimate_sql(
            (0.25, 0.5, 0.75, 0.9, 0.99), 6
        ),
        "quantile_grouped_verify": _quantile_grouped_sql((0.5, 0.9, 0.99), 6),
        "sketch_gate": _sketch_gate_sql(6),
        "zorder_key": _zorder_key_sql(),
        "bbox_overlap": _BBOX_OVERLAP_SQL,
        "profile_table": _PROFILE_SQL,
        "radius_pairs": _RADIUS_PAIRS_SQL,
        "colocation_pi": _COLOCATION_PI_SQL,
        "spatial_cluster": _SPATIAL_CLUSTER_SQL,
        "tile_smooth": _TILE_SMOOTH_SQL,
        "cdc_verify": _CDC_SQL,
        "ivm_counts": _IVM_COUNTS_SQL,
        "scan_legs": _SCAN_LEGS_SQL,
        "cell_compact": _s2_compact_sql(8),
        "polygon_stats": _POLYGON_STATS_SQL,
        "zonal_stats": _ZONAL_STATS_SQL,
        "geohash": _geohash_oracle_sql(),
        "tile_pyramid": _tile_pyramid_sql(),
        "stay_points": _stay_points_sql(),
        "rollup_stats": _ROLLUP_STATS_SQL,
        "resample_track": _resample_sql(),
        "sliding_windows": _sliding_windows_sql(),
        "rolling_window": _ROLLING_WINDOW_SQL,
        "full_outer": _FULL_OUTER_SQL,
        "mad_outliers": _MAD_OUTLIERS_SQL,
        "funnel_steps": _funnel_sql(),
        "event_transitions": _TRANSITIONS_SQL,
        "overlay_area": _overlay_sql(),
        "snap_to_path": _snap_to_path_sql(),
        "od_matrix": _OD_MATRIX_SQL,
        "ripley_k": _RIPLEY_K_SQL,
        "session_rules": _SESSION_RULES_SQL,
        "overlay_alloc": _overlay_alloc_sql(),
        "cube_stats": _CUBE_STATS_SQL,
        "idw_surface": _idw_sql(),
        "co_visitation": _CO_VISITATION_SQL,
        "dbscan": _DBSCAN_SQL,
        "kdist": _KDIST_SQL,
        "co_movement": _CO_MOVEMENT_SQL,
        "winsorized_mean": _WINSORIZED_SQL,
        "type_entropy": _TYPE_ENTROPY_SQL,
        "cusum": _CUSUM_SQL,
        "theil_sen": _THEIL_SEN_SQL,
        "ols_slope": _OLS_SLOPE_SQL,
        "mann_whitney": _MANN_WHITNEY_SQL,
        "chi_square": _CHI_SQUARE_SQL,
        "mutual_info": _MUTUAL_INFO_SQL,
        "ab_test": _AB_TEST_SQL,
        "time_to_convert": _TIME_TO_CONVERT_SQL,
        "anova_f": _ANOVA_SQL,
        "gini": _GINI_SQL,
        "decay_score": _DECAY_SCORE_SQL,
        "skyline": _SKYLINE_SQL,
        "psi_drift": _PSI_DRIFT_SQL,
        "forecast_backtest": _FORECAST_BACKTEST_SQL,
        "trigram_paths": _TRIGRAM_PATHS_SQL,
        "fano_burstiness": _FANO_SQL,
        "benford_audit": _benford_sql(),
        "haar_energy": _HAAR_SQL,
        "join_profile": _JOIN_PROFILE_SQL,
        "referential_audit": _REFERENTIAL_AUDIT_SQL,
        "rfm_scores": _RFM_SQL,
        "lorenz_points": _LORENZ_SQL,
        "embed_drift": _EMBED_DRIFT_SQL,
        "cohort_retention": _COHORT_RETENTION_SQL,
        "event_study": _EVENT_STUDY_SQL,
        "acf": _ACF_SQL,
        "interval_union": _INTERVAL_UNION_SQL,
        "streaks": _STREAKS_SQL,
        "scd2_intervals": _SCD2_SQL,
        "kendall": _KENDALL_SQL,
        "spearman": _SPEARMAN_SQL,
        "ks_test": _KS_TEST_SQL,
        "pivot_counts": _PIVOT_SQL,
        "unpivot": _UNPIVOT_SQL,
        "track_crossings": _TRACK_CROSSINGS_SQL,
        "local_moran": _LOCAL_MORAN_SQL,
        "move_rose": _MOVE_ROSE_SQL,
        "rdp_simplify": _RDP_SQL,
        "turn_stats": _TURN_STATS_SQL,
        "gravity_residuals": _GRAVITY_SQL,
        "convoy_pairs": _CONVOY_SQL,
        "edge_churn": _EDGE_CHURN_SQL,
        "hotspot_persist": _HOTSPOT_PERSIST_SQL,
        "zonal_majority": _ZONAL_MAJORITY_SQL,
        "snapshot_diff": _SNAPSHOT_DIFF_SQL,
        "quadtree": _quadtree_sql(18, 24, 40),
        "contact_crossings": _CONTACT_CROSSINGS_SQL,
        "convex_hull": _convex_hull_sql(5),
        "twap": _TWAP_SQL,
        "user_mad": _MAD_SQL,
        "emd_drift": _EMD_SQL,
        "locf_resample": _LOCF_SQL,
        "sax_words": _SAX_SQL,
        "attribution": _ATTRIBUTION_SQL,
        "haar2d": _HAAR2D_SQL,
        "knox_test": _KNOX_SQL,
        "line_density": _LINE_DENSITY_SQL,
        "ccf_lags": _CCF_SQL,
        "getis_ord": _GETIS_ORD_SQL,
        "radius_gyration": _RADIUS_GYRATION_SQL,
        "mobility_entropy": _MOBILITY_ENTROPY_SQL,
        "hill_tail": _HILL_SQL,
        "transition_entropy": _TRANSITION_ENTROPY_SQL,
        "pip_bigdim": f"""
            SELECT event_id,
                   ({RANGE_OF_LAT_IN}) || '-' || ({PASS_OF_LON_IN}) AS plot_id
            FROM events
        """,
        "hodges_lehmann": r"""
            WITH ev AS (
              SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
            cnts AS (
              SELECT user_id, day, CAST(count(*) AS BIGINT) AS c
              FROM ev GROUP BY 1, 2),
            bounds AS (SELECT min(day) AS lo, max(day) AS hi,
                              max(day) - min(day) + 1 AS t FROM cnts),
            bins AS (
              SELECT unnest(range((SELECT lo FROM bounds),
                                  (SELECT hi FROM bounds) + 1)) AS day),
            users AS (SELECT DISTINCT user_id FROM cnts),
            filled AS MATERIALIZED (
              SELECT u.user_id, b.day, CAST(coalesce(c.c, 0) AS BIGINT) AS c
              FROM users u CROSS JOIN bins b
              LEFT JOIN cnts c ON c.user_id = u.user_id AND c.day = b.day),
            walsh AS (
              SELECT a.user_id, a.day AS i, b.day AS j, a.c + b.c AS s
              FROM filled a JOIN filled b
                ON b.user_id = a.user_id AND b.day >= a.day),
            rk AS (
              SELECT user_id, s,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY s, i, j) AS rn
              FROM walsh),
            np AS (SELECT ((SELECT t FROM bounds)
                           * ((SELECT t FROM bounds) + 1)) // 2 AS p)
            SELECT user_id,
                   CAST((SELECT p FROM np) AS BIGINT) AS n_pairs,
                   CAST(s AS BIGINT) AS hl_num,
                   CAST(2 AS BIGINT) AS den
            FROM rk WHERE rn = ((SELECT p FROM np) + 1) // 2
        """,
        "kaplan_meier": r"""
            WITH ev AS (
              SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS subj,
                     epoch_us(ts) // 86400000000 AS day FROM events),
            life AS (
              SELECT subj,
                     CAST(max(day) - min(day) AS BIGINT) AS t,
                     CASE WHEN max(day) = (SELECT max(day) FROM ev)
                          THEN 0 ELSE 1 END AS observed
              FROM ev GROUP BY 1),
            tab AS (
              SELECT t, CAST(sum(observed) AS BIGINT) AS d,
                     CAST(sum(1 - observed) AS BIGINT) AS c
              FROM life GROUP BY 1),
            rk AS (
              SELECT t, d, c,
                     CAST(sum(d + c) OVER (ORDER BY t DESC
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk
              FROM tab),
            tm AS (
              SELECT t, n_risk, d, c,
                     CASE WHEN d = 0 OR d = n_risk THEN 0
                          ELSE CAST(round_even(
                            ln(CAST(n_risk - d AS DOUBLE) / n_risk)
                            * 1000000000.0, 0) AS BIGINT) END AS term_fp,
                     CASE WHEN d = n_risk THEN 1 ELSE 0 END AS abs0
              FROM rk)
            SELECT t, n_risk, d, c, term_fp,
                   CAST(sum(term_fp) OVER (ORDER BY t
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ln_s_fp,
                   CAST(max(abs0) OVER (ORDER BY t
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS absorbed
            FROM tm
        """,
        "hausdorff_pairs": _HAUSDORFF_SQL,
        "ripley_per_user": _RIPLEY_SQL,
        "semivariogram": _variogram_sql(),
        "z_range_plan": _z_range_plan_sql(),
        "window_ranks": _WINDOW_RANKS_SQL,
        "tile_median": _TILE_MEDIAN_SQL,
        "kcenter_coreset": _kcenter_sql(8),
        "viterbi_match": _viterbi_sql(12, 40),
        "shapley_attribution": _shapley_sql(),
        "jenks_breaks": _jenks_sql(5, 864),
        "ransac_lines": _ransac_sql(32, 50),
        "line_raster": """
            WITH seq AS MATERIALIZED (
              SELECT user_id, ts, event_id,
                     ((event_id % 1000) * 108 + 54) // 2000 AS r,
                     ((event_id % 640) * 50 + 25) // 2000 AS c,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS s
              FROM events WHERE user_id < 40),
            f AS (SELECT * FROM seq WHERE s <= 16),
            segs AS MATERIALIZED (
              SELECT user_id, s - 1 AS t, r AS r1, c AS c1,
                     lead(r) OVER w AS r2, lead(c) OVER w AS c2
              FROM f
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            sg AS (SELECT user_id, t, r1, c1, r2 - r1 AS dr, c2 - c1 AS dc,
                          greatest(abs(r2 - r1), abs(c2 - c1)) AS dd
                   FROM segs WHERE r2 IS NOT NULL),
            st AS (SELECT sg.*, t2.s
                   FROM sg, unnest(range(0, dd + 1)) t2(s))
            SELECT CAST(user_id AS BIGINT) AS user_id,
                   CAST(t AS BIGINT) AS t, CAST(s AS BIGINT) AS s,
                   CAST(CASE WHEN dd = 0 THEN r1
                             ELSE r1 + ((2 * s * dr + dd)
                                        - (((2 * s * dr + dd) % (2 * dd)
                                            + 2 * dd) % (2 * dd)))
                                       // (2 * dd) END
                     AS BIGINT) AS r,
                   CAST(CASE WHEN dd = 0 THEN c1
                             ELSE c1 + ((2 * s * dc + dd)
                                        - (((2 * s * dc + dd) % (2 * dd)
                                            + 2 * dd) % (2 * dd)))
                                       // (2 * dd) END
                     AS BIGINT) AS c
            FROM st
        """,
        "grid_upsample": """
            WITH cnts AS (
              SELECT ((event_id % 1000) * 108 + 54) // 2000 AS r,
                     ((event_id % 640) * 50 + 25) // 2000 AS c,
                     CAST(count(*) AS BIGINT) AS cnt
              FROM events GROUP BY 1, 2),
            lat AS (SELECT t1.range AS r, t2.range AS c
                    FROM range(54) t1, range(16) t2),
            v AS (SELECT l.r, l.c, coalesce(cn.cnt, 0) AS v
                  FROM lat l LEFT JOIN cnts cn
                    ON cn.r = l.r AND cn.c = l.c)
            SELECT CAST(2 * r AS BIGINT) AS y, CAST(2 * c AS BIGINT) AS x,
                   CAST(4 * v AS BIGINT) AS v4
            FROM v
            UNION ALL
            SELECT CAST(2 * a.r AS BIGINT), CAST(2 * a.c + 1 AS BIGINT),
                   CAST(2 * (a.v + b.v) AS BIGINT)
            FROM v a JOIN v b ON b.r = a.r AND b.c = a.c + 1
            UNION ALL
            SELECT CAST(2 * a.r + 1 AS BIGINT), CAST(2 * a.c AS BIGINT),
                   CAST(2 * (a.v + b.v) AS BIGINT)
            FROM v a JOIN v b ON b.r = a.r + 1 AND b.c = a.c
            UNION ALL
            SELECT CAST(2 * a.r + 1 AS BIGINT), CAST(2 * a.c + 1 AS BIGINT),
                   CAST(a.v + b.v + s.v + d.v AS BIGINT)
            FROM v a
            JOIN v b ON b.r = a.r AND b.c = a.c + 1
            JOIN v s ON s.r = a.r + 1 AND s.c = a.c
            JOIN v d ON d.r = a.r + 1 AND d.c = a.c + 1
        """,
        "geary_c": """
            WITH cnts AS (
              SELECT ((event_id % 1000) * 108 + 54) // 2000 AS r,
                     ((event_id % 640) * 50 + 25) // 2000 AS c,
                     CAST(count(*) AS BIGINT) AS cnt
              FROM events GROUP BY 1, 2),
            lat AS (SELECT t1.range AS r, t2.range AS c
                    FROM range(54) t1, range(16) t2),
            vals AS (SELECT l.r, l.c, coalesce(cn.cnt, 0) AS x
                     FROM lat l LEFT JOIN cnts cn
                       ON cn.r = l.r AND cn.c = l.c),
            mo AS (SELECT CAST(sum(x) AS BIGINT) AS sx,
                          CAST(sum(x * x) AS BIGINT) AS sxx FROM vals),
            edges AS (
              SELECT r, c, r + 1 AS r2, c AS c2 FROM lat WHERE r < 53
              UNION ALL
              SELECT r, c, r AS r2, c + 1 AS c2 FROM lat WHERE c < 15),
            sd AS (
              SELECT CAST(sum((v1.x - v2.x) * (v1.x - v2.x)) AS BIGINT)
                       AS sum_dx2
              FROM edges e
              JOIN vals v1 ON v1.r = e.r AND v1.c = e.c
              JOIN vals v2 ON v2.r = e.r2 AND v2.c = e.c2)
            SELECT CAST(864 AS BIGINT) AS n_cells,
                   CAST(1658 AS BIGINT) AS n_edges,
                   sd.sum_dx2, mo.sx AS sum_x, mo.sxx AS sum_x2,
                   864 * 863 * sd.sum_dx2 AS c_num,
                   2 * 1658 * (864 * mo.sxx - mo.sx * mo.sx) AS c_den
            FROM sd, mo
        """,
        "marching_squares": """
            WITH cnts AS (
              SELECT ((event_id % 1000) * 108 + 54) // 2000 AS r,
                     ((event_id % 640) * 50 + 25) // 2000 AS c,
                     CAST(count(*) AS BIGINT) AS cnt
              FROM events GROUP BY 1, 2),
            tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM events),
            lat AS (SELECT t1.range AS r, t2.range AS c
                    FROM range(54) t1, range(16) t2),
            flags AS (
              SELECT l.r, l.c,
                     CASE WHEN 864 * coalesce(cn.cnt, 0)
                            >= (SELECT n FROM tot)
                          THEN 1 ELSE 0 END AS b
              FROM lat l LEFT JOIN cnts cn ON cn.r = l.r AND cn.c = l.c),
            blocks AS (SELECT r, c FROM lat WHERE r < 53 AND c < 15),
            ms AS (
              SELECT b.r, b.c,
                     fsw.b + 2 * fse.b + 4 * fne.b + 8 * fnw.b AS case_idx
              FROM blocks b
              JOIN flags fsw ON fsw.r = b.r     AND fsw.c = b.c
              JOIN flags fse ON fse.r = b.r     AND fse.c = b.c + 1
              JOIN flags fne ON fne.r = b.r + 1 AND fne.c = b.c + 1
              JOIN flags fnw ON fnw.r = b.r + 1 AND fnw.c = b.c)
            SELECT CAST(r AS BIGINT) AS r, CAST(c AS BIGINT) AS c,
                   CAST(case_idx AS BIGINT) AS case_idx,
                   CAST(([0,1,1,1,1,2,1,1,1,1,2,1,1,1,1,0])[case_idx + 1]
                     AS BIGINT) AS n_segments
            FROM ms WHERE case_idx NOT IN (0, 15)
        """,
        "join_counts": """
            WITH cnts AS (
              SELECT ((event_id % 1000) * 108 + 54) // 2000 AS r,
                     ((event_id % 640) * 50 + 25) // 2000 AS c,
                     CAST(count(*) AS BIGINT) AS cnt
              FROM events GROUP BY 1, 2),
            tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM events),
            lat AS (SELECT t1.range AS r, t2.range AS c
                    FROM range(54) t1, range(16) t2),
            flags AS (
              SELECT l.r, l.c,
                     CASE WHEN 864 * coalesce(cn.cnt, 0)
                            >= (SELECT n FROM tot)
                          THEN 1 ELSE 0 END AS b
              FROM lat l LEFT JOIN cnts cn ON cn.r = l.r AND cn.c = l.c),
            edges AS (
              SELECT r, c, r + 1 AS r2, c AS c2 FROM lat WHERE r < 53
              UNION ALL
              SELECT r, c, r AS r2, c + 1 AS c2 FROM lat WHERE c < 15),
            je AS (
              SELECT CAST(sum(f1.b * f2.b) AS BIGINT) AS bb,
                     CAST(sum((1 - f1.b) * (1 - f2.b)) AS BIGINT) AS ww,
                     CAST(sum(f1.b + f2.b - 2 * f1.b * f2.b) AS BIGINT)
                       AS bw
              FROM edges e
              JOIN flags f1 ON f1.r = e.r AND f1.c = e.c
              JOIN flags f2 ON f2.r = e.r2 AND f2.c = e.c2),
            bcnt AS (SELECT CAST(sum(b) AS BIGINT) AS nb FROM flags)
            SELECT CAST(864 AS BIGINT) AS n_cells,
                   CAST(1658 AS BIGINT) AS n_edges,
                   nb AS n_black, bb, ww, bw,
                   1658 * nb * (nb - 1) AS e_bb_num,
                   1658 * (864 - nb) * (863 - nb) AS e_ww_num,
                   2 * 1658 * nb * (864 - nb) AS e_bw_num,
                   CAST(864 * 863 AS BIGINT) AS e_den
            FROM je, bcnt
        """,
        "track_diameter": f"""
            WITH seq AS MATERIALIZED (
              SELECT user_id AS u,
                     CAST(round_even(({LON_IN}) * 1000000000.0, 0)
                       AS BIGINT) AS x,
                     CAST(round_even(({LAT_IN}) * 1000000000.0, 0)
                       AS BIGINT) AS y,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS s
              FROM events),
            pts AS MATERIALIZED (
              SELECT DISTINCT u, x, y FROM seq WHERE s <= 64),
            n AS (SELECT u, CAST(count(*) AS BIGINT) AS n_pts
                  FROM pts GROUP BY u),
            pr AS (
              SELECT a.u, a.x AS ax, a.y AS ay, b.x AS bx, b.y AS "by",
                     (a.x - b.x) * (a.x - b.x)
                       + (a.y - b.y) * (a.y - b.y) AS d2
              FROM pts a JOIN pts b ON a.u = b.u
               AND (a.x < b.x OR (a.x = b.x AND a.y < b.y))),
            rk AS (SELECT pr.*,
                          row_number() OVER (
                            PARTITION BY u
                            ORDER BY d2 DESC, ax, ay, bx, "by") AS rn
                   FROM pr)
            SELECT rk.u AS user_id, n.n_pts, rk.d2, rk.ax, rk.ay,
                   rk.bx, rk."by"
            FROM rk JOIN n ON n.u = rk.u WHERE rk.rn = 1
        """,
        "sprt_test": _sprt_sql(),
        "quadkey_encode": f"""
            WITH qpts AS (
              SELECT event_id, ({LAT_IN}) AS lat, ({LON_IN}) AS lon FROM events),
            qxy AS (
              SELECT event_id,
                     CAST(FLOOR((lon + 180) / 360 * pow(2, 12)) AS BIGINT) AS x,
                     CAST(FLOOR((1 - ln(tan(radians(lat))
                                        + 1/cos(radians(lat)))/pi())/2
                                * pow(2, 12)) AS BIGINT) AS y
              FROM qpts)
            SELECT event_id, x, y,
                   array_to_string(list_transform(range(1, 13), i ->
                     CAST(((y // CAST(power(2, 12 - i) AS BIGINT)) % 2) * 2
                          + ((x // CAST(power(2, 12 - i) AS BIGINT)) % 2)
                          AS VARCHAR)), '') AS quadkey
            FROM qxy
        """,
        "allen_census": r"""
            WITH iv AS (
              SELECT user_id, event_id, epoch_us(ts) AS s,
                     epoch_us(ts)
                       + (greatest(CAST(round_even(value * 100.0, 0)
                                        AS BIGINT), 0) + 1) * 10000 AS en
              FROM events),
            p AS (
              SELECT a.user_id,
                     CASE WHEN a.s < b.s THEN
                            CASE WHEN a.en < b.s THEN 'before'
                                 WHEN a.en = b.s THEN 'meets'
                                 WHEN a.en < b.en THEN 'overlaps'
                                 WHEN a.en = b.en THEN 'finished_by'
                                 ELSE 'contains' END
                          WHEN a.en < b.en THEN 'starts'
                          ELSE 'equals' END AS rel
              FROM iv a JOIN iv b ON b.user_id = a.user_id
               AND (a.s < b.s OR (a.s = b.s AND (a.en < b.en
                    OR (a.en = b.en AND a.event_id < b.event_id)))))
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS n_pairs,
                   CAST(sum(CASE WHEN rel = 'before' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_before,
                   CAST(sum(CASE WHEN rel = 'meets' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_meets,
                   CAST(sum(CASE WHEN rel = 'overlaps' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_overlaps,
                   CAST(sum(CASE WHEN rel = 'finished_by' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_finished_by,
                   CAST(sum(CASE WHEN rel = 'contains' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_contains,
                   CAST(sum(CASE WHEN rel = 'starts' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_starts,
                   CAST(sum(CASE WHEN rel = 'equals' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_equals
            FROM p GROUP BY 1
        """,
        "luhn_validate": _luhn_sql(),
        "calibration_bins": """
            WITH pads AS (
              SELECT ' ' || lower(text) || ' ' AS pad,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
              FROM documents),
            scored AS (
              SELECT least((((length(pad) - length(replace(pad, ' the ', ''))) + (length(pad) - length(replace(pad, ' and ', ''))) + (length(pad) - length(replace(pad, ' of ', ''))) + (length(pad) - length(replace(pad, ' to ', ''))) + (length(pad) - length(replace(pad, ' is ', '')))) * 40000) // length(pad),
                           10000) AS s_fp,
                     CAST(y AS BIGINT) AS y
              FROM pads),
            binned AS (
              SELECT least(s_fp * 10 // 10000, 9) AS bin, s_fp, y,
                     (s_fp - y * 10000) * (s_fp - y * 10000) AS e2
              FROM scored)
            SELECT CAST(bin AS BIGINT) AS bin,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(y) AS BIGINT) AS n_pos,
                   CAST(sum(s_fp) AS BIGINT) AS sum_score,
                   CAST(sum(e2) AS BIGINT) AS brier_num
            FROM binned GROUP BY 1
        """,
        "ntt_autocorr": """
            WITH ev AS (
              SELECT user_id,
                     (epoch_us(ts) // 86400000000) % 32 AS bin
              FROM events),
            cnts AS (
              SELECT user_id, bin,
                     least(CAST(count(*) AS BIGINT), 1000) AS x
              FROM ev GROUP BY 1, 2),
            users AS (SELECT DISTINCT user_id FROM cnts),
            grid AS MATERIALIZED (
              SELECT u.user_id, b.bin, coalesce(c.x, 0) AS x
              FROM users u
              CROSS JOIN (SELECT unnest(range(0, 32)) AS bin) b
              LEFT JOIN cnts c ON c.user_id = u.user_id AND c.bin = b.bin),
            lags AS (SELECT unnest(range(0, 32)) AS lag)
            SELECT a.user_id, CAST(l.lag AS BIGINT) AS lag,
                   CAST(sum(a.x * b.x) AS BIGINT) AS autocorr
            FROM grid a CROSS JOIN lags l
            JOIN grid b ON b.user_id = a.user_id
                       AND b.bin = (a.bin + l.lag) % 32
            GROUP BY 1, 2
        """,
        "cramer_von_mises": """
            WITH e AS (
              SELECT user_id, event_id,
                     CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g1,
                     CAST(round_even(value * 1000000.0, 0) AS BIGINT) AS v
              FROM events WHERE event_type IN ('click', 'view')),
            ranked AS (
              SELECT user_id, g1,
                     CAST(row_number() OVER (PARTITION BY user_id
                            ORDER BY v, g1, event_id) AS BIGINT)
                     - CAST(row_number() OVER (PARTITION BY user_id, g1
                            ORDER BY v, g1, event_id) AS BIGINT) AS d
              FROM e),
            agg AS (
              SELECT user_id,
                     CAST(sum(g1) AS BIGINT) AS n1,
                     CAST(sum(1 - g1) AS BIGINT) AS n2,
                     CAST(sum(CASE WHEN g1 = 1 THEN d * d ELSE 0 END)
                          AS BIGINT) AS s1,
                     CAST(sum(CASE WHEN g1 = 0 THEN d * d ELSE 0 END)
                          AS BIGINT) AS s2
              FROM ranked GROUP BY 1)
            SELECT user_id, n1, n2,
                   CAST(n1 * s1 + n2 * s2 AS BIGINT) AS u_stat
            FROM agg
        """,
        "matrix_profile": """
            WITH ev AS (
              SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
            cnts AS (
              SELECT user_id, day, CAST(count(*) AS BIGINT) AS c
              FROM ev GROUP BY 1, 2),
            bounds AS (SELECT min(day) AS lo, max(day) AS hi,
                              max(day) - min(day) + 1 AS t FROM cnts),
            bins AS (
              SELECT unnest(range((SELECT lo FROM bounds),
                                  (SELECT hi FROM bounds) + 1)) AS day),
            users AS (SELECT DISTINCT user_id FROM cnts),
            filled AS MATERIALIZED (
              SELECT u.user_id, b.day - (SELECT lo FROM bounds) AS t,
                     CAST(coalesce(c.c, 0) AS BIGINT) AS x
              FROM users u CROSS JOIN bins b
              LEFT JOIN cnts c ON c.user_id = u.user_id AND c.day = b.day),
            ws AS (SELECT unnest(range(0, (SELECT t FROM bounds) - 6)) AS wi),
            win AS MATERIALIZED (
              SELECT f.user_id, w.wi, f.t - w.wi AS pos, f.x
              FROM filled f JOIN ws w
                ON f.t >= w.wi AND f.t < w.wi + 7),
            d2 AS (
              SELECT a.user_id, a.wi AS i, b.wi AS j,
                     CAST(sum((a.x - b.x) * (a.x - b.x)) AS BIGINT) AS d2
              FROM win a JOIN win b
                ON b.user_id = a.user_id AND b.pos = a.pos
               AND abs(a.wi - b.wi) >= 4
              GROUP BY 1, 2, 3),
            rk AS (
              SELECT user_id, i, d2, j,
                     row_number() OVER (PARTITION BY user_id, i
                                        ORDER BY d2, j) AS rn
              FROM d2)
            SELECT user_id, CAST(i AS BIGINT) AS wi,
                   CAST(d2 AS BIGINT) AS mp_dist2,
                   CAST(j AS BIGINT) AS mp_idx
            FROM rk WHERE rn = 1
        """,
        "burst_detect": _burst_sql(32, 2),
        "adler32": _adler32_oracle_sql(),
        "zonemap_audit": """
            WITH blocks AS (
              SELECT doc_id // 100 AS blk,
                     min(n_chars) AS mn, max(n_chars) AS mx,
                     CAST(count(*) AS BIGINT) AS n_rows
              FROM documents GROUP BY 1),
            th AS (SELECT unnest([500, 2000, 8000]) AS t)
            SELECT CAST(t AS BIGINT) AS t,
                   CAST(count(*) AS BIGINT) AS n_blocks,
                   CAST(sum(CASE WHEN mx <= t THEN 1 ELSE 0 END) AS BIGINT)
                     AS prunable,
                   CAST(sum(CASE WHEN mx <= t THEN n_rows ELSE 0 END)
                        AS BIGINT) AS rows_skipped
            FROM blocks CROSS JOIN th GROUP BY 1
        """,
        "cidr_match": _cidr_sql(),
        "lttb_downsample": _lttb_sql(32, 10),
        "friedman_test": """
            WITH counts AS (
              SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2),
            complete AS (
              SELECT user_id FROM counts GROUP BY 1 HAVING count(*) = 5),
            ranked AS (
              SELECT c.event_type,
                     CAST(row_number() OVER (PARTITION BY c.user_id
                            ORDER BY c.n, c.event_type) AS BIGINT) AS r
              FROM counts c JOIN complete u ON u.user_id = c.user_id)
            SELECT event_type, CAST(sum(r) AS BIGINT) AS r_sum,
                   CAST(count(*) AS BIGINT) AS n_blocks
            FROM ranked GROUP BY 1
        """,
        "h_index": """
            WITH nd AS (SELECT count(*) AS n FROM documents),
            inl AS (
              SELECT (1000 // (1 + (event_id % 1000))) % (SELECT n FROM nd)
                       AS doc_id,
                     CAST(count(*) AS BIGINT) AS inlinks
              FROM events GROUP BY 1),
            pages AS (
              SELECT d.source, d.doc_id,
                     CAST(coalesce(i.inlinks, 0) AS BIGINT) AS inlinks
              FROM documents d LEFT JOIN inl i ON i.doc_id = d.doc_id),
            ranked AS (
              SELECT source, inlinks,
                     CAST(row_number() OVER (PARTITION BY source
                            ORDER BY inlinks DESC, doc_id) AS BIGINT) AS rk
              FROM pages)
            SELECT source,
                   CAST(max(least(rk, inlinks)) AS BIGINT) AS h_index,
                   CAST(count(*) AS BIGINT) AS n_pages,
                   CAST(sum(inlinks) AS BIGINT) AS total_inlinks
            FROM ranked GROUP BY 1
        """,
        "qq_points": """
            WITH ranked AS (
              SELECT lang, CAST(n_chars AS BIGINT) AS v,
                     CAST(row_number() OVER (PARTITION BY lang
                            ORDER BY n_chars, doc_id) AS BIGINT) AS rk
              FROM documents WHERE lang IN ('en', 'de')),
            nper AS (SELECT lang, max(rk) AS n FROM ranked GROUP BY 1),
            qs AS (SELECT unnest(range(1, 10)) AS q),
            picks AS (
              SELECT r.lang, CAST(q.q AS BIGINT) AS q, r.v
              FROM ranked r JOIN nper n ON n.lang = r.lang
              CROSS JOIN qs q
              WHERE r.rk = (n.n * q.q) // 10 + 1)
            SELECT e.q, e.v AS v_en, d.v AS v_de
            FROM (SELECT q, v FROM picks WHERE lang = 'en') e
            JOIN (SELECT q, v FROM picks WHERE lang = 'de') d
              ON d.q = e.q
        """,
        "max_window": """
            WITH ev AS (
              SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
            lo AS (SELECT min(day) AS lo FROM ev),
            cnts AS (
              SELECT user_id, day - (SELECT lo FROM lo) AS t,
                     CAST(count(*) AS BIGINT) AS c
              FROM ev
              WHERE day - (SELECT lo FROM lo) BETWEEN 0 AND 31
              GROUP BY 1, 2),
            users AS (SELECT DISTINCT user_id FROM cnts),
            filled AS MATERIALIZED (
              SELECT u.user_id, b.t,
                     CAST(coalesce(c.c, 0) AS BIGINT) - 2 AS x
              FROM users u
              CROSS JOIN (SELECT unnest(range(0, 32)) AS t) b
              LEFT JOIN cnts c ON c.user_id = u.user_id AND c.t = b.t),
            pref AS (
              SELECT user_id, t,
                     sum(x) OVER (PARTITION BY user_id ORDER BY t
                       ROWS UNBOUNDED PRECEDING) AS p
              FROM filled),
            pre AS (
              SELECT user_id, t, p,
                     least(0, coalesce(min(p) OVER (PARTITION BY user_id
                       ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0)) AS m
              FROM pref),
            scored AS (
              SELECT user_id, t, p - m AS s,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY p - m DESC, t) AS rn
              FROM pre)
            SELECT user_id, CAST(s AS BIGINT) AS best_sum,
                   CAST(t AS BIGINT) AS end_t
            FROM scored WHERE rn = 1
        """,
        "roc_auc": """
            WITH pads AS (
              SELECT ' ' || lower(text) || ' ' AS pad,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
              FROM documents),
            scored AS (
              SELECT least((((length(pad) - length(replace(pad, ' the ', ''))) + (length(pad) - length(replace(pad, ' and ', ''))) + (length(pad) - length(replace(pad, ' of ', ''))) + (length(pad) - length(replace(pad, ' to ', ''))) + (length(pad) - length(replace(pad, ' is ', '')))) * 40000) // length(pad),
                           10000) AS s_fp,
                     CAST(y AS BIGINT) AS y
              FROM pads),
            grp AS (
              SELECT s_fp, CAST(sum(y) AS BIGINT) AS p,
                     CAST(sum(1 - y) AS BIGINT) AS q
              FROM scored GROUP BY 1),
            cum AS (
              SELECT p, q,
                     coalesce(sum(q) OVER (ORDER BY s_fp
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS cq
              FROM grp)
            SELECT CAST(sum(p * cq) AS BIGINT) AS u_strict,
                   CAST(sum(p * q) AS BIGINT) AS tie_pairs,
                   CAST(sum(p) AS BIGINT) AS n_pos,
                   CAST(sum(q) AS BIGINT) AS n_neg
            FROM cum
        """,
        "text_tiling": r"""
            WITH toks AS (
              SELECT doc_id, i - 1 AS pos, arr[i] AS tok
              FROM (SELECT doc_id,
                           string_split_regex(trim(lower(text)), '\s+') AS arr
                    FROM documents),
                   unnest(range(1, len(arr) + 1)) t(i)
              WHERE length(arr[i]) > 0),
            blocks AS MATERIALIZED (
              SELECT doc_id, pos // 10 AS w, tok,
                     CAST(count(*) AS BIGINT) AS c
              FROM toks GROUP BY 1, 2, 3),
            norms AS (
              SELECT doc_id, w, CAST(sum(c * c) AS BIGINT) AS n2
              FROM blocks GROUP BY 1, 2),
            dots AS (
              SELECT a.doc_id, a.w, CAST(sum(a.c * b.c) AS BIGINT) AS dot
              FROM blocks a JOIN blocks b
                ON b.doc_id = a.doc_id AND b.tok = a.tok
               AND b.w = a.w + 1
              GROUP BY 1, 2),
            pairs AS (
              SELECT na.doc_id, na.w AS boundary,
                     CAST(coalesce(d.dot, 0) AS BIGINT) AS dot,
                     na.n2 AS n2a, nb.n2 AS n2b
              FROM norms na
              JOIN norms nb ON nb.doc_id = na.doc_id AND nb.w = na.w + 1
              LEFT JOIN dots d ON d.doc_id = na.doc_id AND d.w = na.w)
            SELECT doc_id, boundary, dot, n2a, n2b,
                   CAST(CASE WHEN dot * dot * 100 < n2a * n2b * 9
                        THEN 1 ELSE 0 END AS INT) AS is_boundary
            FROM pairs
        """,
        "perm_test": _perm_test_sql(32),
        "pr_curve": """
            WITH pads AS (
              SELECT ' ' || lower(text) || ' ' AS pad,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
              FROM documents),
            scored AS (
              SELECT least((((length(pad) - length(replace(pad, ' the ', ''))) + (length(pad) - length(replace(pad, ' and ', ''))) + (length(pad) - length(replace(pad, ' of ', ''))) + (length(pad) - length(replace(pad, ' to ', ''))) + (length(pad) - length(replace(pad, ' is ', '')))) * 40000) // length(pad),
                           10000) AS s_fp,
                     CAST(y AS BIGINT) AS y
              FROM pads),
            grp AS (
              SELECT s_fp, CAST(sum(y) AS BIGINT) AS p,
                     CAST(sum(1 - y) AS BIGINT) AS q
              FROM scored GROUP BY 1)
            SELECT CAST(s_fp AS BIGINT) AS s_fp,
                   CAST(sum(p) OVER (ORDER BY s_fp DESC
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
                   CAST(sum(q) OVER (ORDER BY s_fp DESC
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp
            FROM grp
        """,
        "bh_fdr": _bh_fdr_sql(),
        "capture_recapture": _capture_recapture_sql(),
        "spatial_keyword": _spatial_keyword_sql(),
        "boruvka_emst": _boruvka_sql(),
        "toponym_resolve": _toponym_sql(),
        "vw_simplify": _vw_sql(),
        "interval_schedule": _interval_sched_sql(),
        "gale_shapley": _gale_shapley_sql(),
        "knapsack_pack": _knapsack_sql(),
        "radiation_model": _radiation_sql(),
        "hash_ring": _hash_ring_sql(),
        "min_circle": _min_circle_sql(),
        "schnabel": _schnabel_sql(),
        "mood_median": """
            WITH e AS MATERIALIZED (
              SELECT event_type AS g, event_id,
                     CAST(round_even(value * 1000000.0, 0) AS BIGINT)
                       AS v
              FROM events),
            med AS (
              SELECT v AS med FROM (
                SELECT v, row_number() OVER (ORDER BY v, event_id)
                         AS rk,
                       count(*) OVER () AS n
                FROM e) z
              WHERE rk = (n + 1) // 2)
            SELECT g,
                   CAST(sum(CASE WHEN v > (SELECT med FROM med)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
                   CAST(sum(CASE WHEN v = (SELECT med FROM med)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_at,
                   CAST(sum(CASE WHEN v < (SELECT med FROM med)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_below
            FROM e GROUP BY 1
        """,
        "ansari_bradley": """
            WITH e AS MATERIALIZED (
              SELECT event_type AS g,
                     CAST(round_even(value * 1000000.0, 0) AS BIGINT)
                       AS v
              FROM events WHERE event_type IN ('click', 'view')),
            vals AS (
              SELECT v, CAST(count(*) AS BIGINT) AS cnt
              FROM e GROUP BY 1),
            nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
            ranked AS MATERIALIZED (
              SELECT v,
                     2 * COALESCE(sum(cnt) OVER (ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) + cnt + 1 AS r2
              FROM vals),
            scored AS (
              SELECT v,
                     least(r2, 2 * ((SELECT n FROM nn) + 1) - r2)
                       AS s2
              FROM ranked)
            SELECT e.g, CAST(count(*) AS BIGINT) AS n_g,
                   CAST(sum(s.s2) AS BIGINT) AS s2_sum
            FROM e JOIN scored s ON s.v = e.v
            GROUP BY 1
        """,
        "page_trend": """
            WITH base AS (
              SELECT user_id, (epoch_us(ts) // 86400000000) % 7 AS w,
                     CAST(count(*) AS BIGINT) AS y
              FROM events GROUP BY 1, 2),
            users AS (SELECT DISTINCT user_id FROM base),
            wd AS (SELECT CAST(range AS BIGINT) AS w FROM range(7)),
            full0 AS MATERIALIZED (
              SELECT u.user_id, d.w, COALESCE(b.y, 0) AS y
              FROM users u CROSS JOIN wd d
              LEFT JOIN base b
                ON b.user_id = u.user_id AND b.w = d.w),
            vals AS (
              SELECT user_id, y, CAST(count(*) AS BIGINT) AS cnt
              FROM full0 GROUP BY 1, 2),
            ranked AS MATERIALIZED (
              SELECT user_id, y,
                     2 * COALESCE(sum(cnt) OVER (PARTITION BY user_id
                           ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) + cnt + 1 AS r2
              FROM vals)
            SELECT f.w, CAST(sum(r.r2) AS BIGINT) AS r2_sum,
                   CAST(count(*) AS BIGINT) AS n_blocks
            FROM full0 f JOIN ranked r
              ON r.user_id = f.user_id AND r.y = f.y
            GROUP BY 1
        """,
        "jonckheere": """
            WITH daily AS MATERIALIZED (
              SELECT event_type AS g,
                     epoch_us(ts) // 86400000000 - 19723 AS x,
                     CAST(count(*) AS BIGINT) AS y
              FROM events GROUP BY 1, 2),
            d2 AS (SELECT g, x % 7 AS w, x, y FROM daily),
            pairs AS (
              SELECT a.g, a.y AS yi, b.y AS yj
              FROM d2 a JOIN d2 b ON b.g = a.g AND a.w < b.w)
            SELECT g,
                   CAST(sum(CASE WHEN yi < yj THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_lt,
                   CAST(sum(CASE WHEN yi = yj THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_eq,
                   CAST(count(*) AS BIGINT) AS n_pairs
            FROM pairs GROUP BY 1
        """,
        "hist_equalize": """
            WITH d AS (
              SELECT doc_id, CAST(n_chars AS BIGINT) AS len
              FROM documents),
            lv AS (
              SELECT len, CAST(count(*) AS BIGINT) AS c
              FROM d GROUP BY 1),
            cdf AS MATERIALIZED (
              SELECT len, CAST(sum(c) OVER (ORDER BY len
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cdf
              FROM lv),
            mins AS (
              SELECT CAST(min(cdf) AS BIGINT) AS cdf_min,
                     CAST(max(cdf) AS BIGINT) AS n_total
              FROM cdf)
            SELECT d.doc_id, d.len,
                   CAST(CASE WHEN m.n_total = m.cdf_min THEN 0
                        ELSE ((c.cdf - m.cdf_min) * 255)
                             // (m.n_total - m.cdf_min) END AS BIGINT)
                     AS eq
            FROM d JOIN cdf c ON c.len = d.len CROSS JOIN mins m
        """,
        "quantile_map": """
            WITH a AS (
              SELECT doc_id, CAST(n_chars AS BIGINT) AS len
              FROM documents WHERE source = 'src0'),
            b AS (
              SELECT CAST(n_chars AS BIGINT) AS blen,
                     CAST(row_number() OVER (ORDER BY n_chars, doc_id)
                          AS BIGINT) AS bidx
              FROM documents WHERE source = 'src1'),
            ar AS MATERIALIZED (
              SELECT doc_id, len,
                     CAST(row_number() OVER (ORDER BY len, doc_id)
                          AS BIGINT) AS rk
              FROM a),
            ns AS (
              SELECT (SELECT max(rk) FROM ar) AS na,
                     (SELECT max(bidx) FROM b) AS nb)
            SELECT ar.doc_id, ar.len,
                   CAST(((ar.rk - 1) * ns.nb) // ns.na + 1 AS BIGINT)
                     AS bidx,
                   bb.blen AS mapped_len
            FROM ar CROSS JOIN ns
            JOIN b bb ON bb.bidx = ((ar.rk - 1) * ns.nb) // ns.na + 1
        """,
        "interval_depth": """
            WITH iv AS (
              SELECT user_id, event_id, epoch_us(ts) AS s_us,
                     epoch_us(ts) + (1 + event_id % 120) * 60000000
                       AS e_us
              FROM events),
            bounds AS (
              SELECT user_id, s_us AS t, 1 AS delta, event_id FROM iv
              UNION ALL
              SELECT user_id, e_us AS t, -1 AS delta, event_id FROM iv),
            depth AS MATERIALIZED (
              SELECT user_id, t, event_id,
                     CAST(sum(delta) OVER (PARTITION BY user_id
                            ORDER BY t, delta, event_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS depth
              FROM bounds),
            mx AS (
              SELECT user_id, CAST(max(depth) AS BIGINT) AS max_depth
              FROM depth GROUP BY 1)
            SELECT m.user_id, m.max_depth,
                   CAST(min(d.t) AS BIGINT) AS at_t
            FROM mx m JOIN depth d
              ON d.user_id = m.user_id AND d.depth = m.max_depth
            GROUP BY 1, 2
        """,
        "max_drawdown": """
            WITH e AS (
              SELECT user_id, event_id, epoch_us(ts) AS us,
                     CAST(round_even(value * 1000000.0, 0) AS BIGINT)
                       - 245000000 AS v
              FROM events),
            pref AS MATERIALIZED (
              SELECT user_id, us, event_id,
                     CAST(sum(v) OVER w AS BIGINT) AS p
              FROM e
              WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                           ROWS UNBOUNDED PRECEDING)),
            dd AS (
              SELECT user_id,
                     CAST(max(p) OVER w - p AS BIGINT) AS dd, p,
                     row_number() OVER (PARTITION BY user_id
                       ORDER BY us DESC, event_id DESC) AS rev
              FROM pref
              WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                           ROWS UNBOUNDED PRECEDING))
            SELECT user_id, CAST(max(dd) AS BIGINT) AS max_dd,
                   CAST(max(CASE WHEN rev = 1 THEN p END) AS BIGINT)
                     AS final_cum
            FROM dd GROUP BY 1
        """,
        "kdtree_split": f"""
            WITH t0 AS MATERIALIZED (
              SELECT event_id,
                     CAST(round_even(({LON_IN}) * 1000000.0, 0)
                          AS BIGINT) AS x,
                     CAST(round_even(({LAT_IN}) * 1000000.0, 0)
                          AS BIGINT) AS y,
                     CAST(0 AS BIGINT) AS node
              FROM events),
            t1 AS MATERIALIZED (
              SELECT event_id, x, y,
                     node * 2 + CASE WHEN rk <= (cnt + 1) // 2
                                     THEN 0 ELSE 1 END AS node
              FROM (SELECT event_id, x, y, node,
                           row_number() OVER (PARTITION BY node
                             ORDER BY x, event_id) AS rk,
                           count(*) OVER (PARTITION BY node) AS cnt
                    FROM t0) z),
            t2 AS MATERIALIZED (
              SELECT event_id, x, y,
                     node * 2 + CASE WHEN rk <= (cnt + 1) // 2
                                     THEN 0 ELSE 1 END AS node
              FROM (SELECT event_id, x, y, node,
                           row_number() OVER (PARTITION BY node
                             ORDER BY y, event_id) AS rk,
                           count(*) OVER (PARTITION BY node) AS cnt
                    FROM t1) z),
            t3 AS MATERIALIZED (
              SELECT event_id, x, y,
                     node * 2 + CASE WHEN rk <= (cnt + 1) // 2
                                     THEN 0 ELSE 1 END AS node
              FROM (SELECT event_id, x, y, node,
                           row_number() OVER (PARTITION BY node
                             ORDER BY x, event_id) AS rk,
                           count(*) OVER (PARTITION BY node) AS cnt
                    FROM t2) z),
            t4 AS MATERIALIZED (
              SELECT event_id, x, y,
                     node * 2 + CASE WHEN rk <= (cnt + 1) // 2
                                     THEN 0 ELSE 1 END AS node
              FROM (SELECT event_id, x, y, node,
                           row_number() OVER (PARTITION BY node
                             ORDER BY y, event_id) AS rk,
                           count(*) OVER (PARTITION BY node) AS cnt
                    FROM t3) z)
            SELECT node AS leaf, CAST(count(*) AS BIGINT) AS n,
                   CAST(min(x) AS BIGINT) AS min_x,
                   CAST(max(x) AS BIGINT) AS max_x,
                   CAST(min(y) AS BIGINT) AS min_y,
                   CAST(max(y) AS BIGINT) AS max_y
            FROM t4 GROUP BY 1
        """,
        "hhi_concentration": """
            WITH counts AS (
              SELECT lang, source, CAST(count(*) AS BIGINT) AS n_i
              FROM documents GROUP BY 1, 2)
            SELECT lang, CAST(count(*) AS BIGINT) AS n_sources,
                   CAST(sum(n_i) AS BIGINT) AS n_total,
                   CAST(sum(n_i * n_i) AS BIGINT) AS hhi_num,
                   CAST(max(n_i) AS BIGINT) AS cr1_num
            FROM counts GROUP BY 1
        """,
        "type_tile_affinity": f"""
            WITH cells AS MATERIALIZED (
              SELECT g, cx, cy, CAST(count(*) AS BIGINT) AS c FROM (
                SELECT event_type AS g,
                       CAST(round(({LON_IN}) * 1000000.0, 0) AS BIGINT)
                         // 200 AS cx,
                       CAST(round(({LAT_IN}) * 1000000.0, 0) AS BIGINT)
                         // 200 AS cy
                FROM events) z
              GROUP BY 1, 2, 3),
            norms AS MATERIALIZED (
              SELECT g, CAST(sum(c * c) AS BIGINT) AS nn
              FROM cells GROUP BY 1),
            dots AS (
              SELECT a.g AS ga, b.g AS gb,
                     CAST(sum(a.c * b.c) AS BIGINT) AS dot,
                     CAST(count(*) AS BIGINT) AS n_shared_tiles
              FROM cells a JOIN cells b
                ON b.cx = a.cx AND b.cy = a.cy AND a.g < b.g
              GROUP BY 1, 2)
            SELECT d.ga, d.gb, d.dot, d.n_shared_tiles,
                   na.nn AS naa, nb.nn AS nbb
            FROM dots d
            JOIN norms na ON na.g = d.ga
            JOIN norms nb ON nb.g = d.gb
        """,
        "sd_ellipse": f"""
            WITH pts AS (
              SELECT event_type AS g,
                     CAST(round_even(({LON_IN}) * 1000000000.0, 0)
                          AS BIGINT)
                       - CAST(round_even(CAST(-111.9750833333 AS DOUBLE)
                              * 1000000000.0, 0) AS BIGINT) AS x,
                     CAST(round_even(({LAT_IN}) * 1000000000.0, 0)
                          AS BIGINT)
                       - CAST(round_even(CAST(33.0745 AS DOUBLE)
                              * 1000000000.0, 0) AS BIGINT) AS y
              FROM events)
            SELECT g, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * x) AS BIGINT) AS sxx,
                   CAST(sum(y * y) AS BIGINT) AS syy,
                   CAST(sum(x * y) AS BIGINT) AS sxy
            FROM pts GROUP BY 1
        """,
        "privacy_audit": """
            WITH q AS (
              SELECT lang, source,
                     CAST(n_chars // 128 AS BIGINT) AS band,
                     split_part(text, ' ', 1) AS sens
              FROM documents)
            SELECT lang, source, band, CAST(count(*) AS BIGINT) AS n,
                   CAST(count(DISTINCT sens) AS BIGINT) AS l_div,
                   CAST(CASE WHEN count(*) < 5 THEN 1 ELSE 0 END
                        AS BIGINT) AS k_viol
            FROM q GROUP BY 1, 2, 3
        """,
        "basket_lift": """
            WITH b AS MATERIALIZED (
              SELECT DISTINCT user_id, event_type AS it FROM events),
            singles AS MATERIALIZED (
              SELECT it, CAST(count(*) AS BIGINT) AS n_it
              FROM b GROUP BY 1),
            nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT)
                     AS n_users FROM b),
            pairs AS (
              SELECT a.it AS ia, b2.it AS ib, '' AS ic,
                     CAST(count(*) AS BIGINT) AS n_set
              FROM b a JOIN b b2
                ON b2.user_id = a.user_id AND a.it < b2.it
              GROUP BY 1, 2),
            triples AS (
              SELECT a.it AS ia, b2.it AS ib, c.it AS ic,
                     CAST(count(*) AS BIGINT) AS n_set
              FROM b a
              JOIN b b2 ON b2.user_id = a.user_id AND a.it < b2.it
              JOIN b c ON c.user_id = a.user_id AND b2.it < c.it
              GROUP BY 1, 2, 3),
            allsets AS (
              SELECT * FROM pairs UNION ALL SELECT * FROM triples)
            SELECT s.ia, s.ib, s.ic, s.n_set,
                   sa.n_it AS n_ia, sb.n_it AS n_ib,
                   CAST(COALESCE(sc.n_it, 0) AS BIGINT) AS n_ic,
                   (SELECT n_users FROM nu) AS n_users
            FROM allsets s
            JOIN singles sa ON sa.it = s.ia
            JOIN singles sb ON sb.it = s.ib
            LEFT JOIN singles sc ON sc.it = s.ic
        """,
        "debruijn_euler": r"""
            WITH toks AS MATERIALIZED (
              SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
              FROM documents WHERE length(trim(text)) > 0),
            edges AS MATERIALIZED (
              SELECT doc_id, tk[i] AS a, tk[i + 1] AS b
              FROM toks,
                   unnest(range(1, greatest(len(tk), 1))) t(i)),
            deg AS (
              SELECT doc_id, node, CAST(sum(o) AS BIGINT) AS outd,
                     CAST(sum(i) AS BIGINT) AS ind
              FROM (
                SELECT doc_id, a AS node, 1 AS o, 0 AS i FROM edges
                UNION ALL
                SELECT doc_id, b AS node, 0 AS o, 1 AS i FROM edges) u
              GROUP BY 1, 2),
            agg AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_nodes,
                     CAST(sum(CASE WHEN outd - ind = 1 THEN 1 ELSE 0
                              END) AS BIGINT) AS n_plus,
                     CAST(sum(CASE WHEN ind - outd = 1 THEN 1 ELSE 0
                              END) AS BIGINT) AS n_minus,
                     CAST(sum(CASE WHEN abs(outd - ind) > 1 THEN 1
                              ELSE 0 END) AS BIGINT) AS n_bad
              FROM deg GROUP BY 1),
            ecnt AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_edges
              FROM edges GROUP BY 1)
            SELECT a.doc_id, a.n_nodes, e.n_edges, a.n_plus,
                   a.n_minus, a.n_bad,
                   CAST(CASE WHEN a.n_plus <= 1 AND a.n_minus <= 1
                              AND a.n_bad = 0
                        THEN 1 ELSE 0 END AS BIGINT) AS euler_ok
            FROM agg a JOIN ecnt e ON e.doc_id = a.doc_id
        """,
        "seasonal_mk": """
            WITH daily AS MATERIALIZED (
              SELECT event_type AS g,
                     epoch_us(ts) // 86400000000 - 19723 AS x,
                     CAST(count(*) AS BIGINT) AS y
              FROM events GROUP BY 1, 2),
            d2 AS (SELECT g, x % 7 AS w, x, y FROM daily),
            pairs AS (
              SELECT a.g, a.w, a.x AS xi, a.y AS yi, b.x AS xj,
                     b.y AS yj
              FROM d2 a JOIN d2 b
                ON b.g = a.g AND b.w = a.w AND a.x < b.x)
            SELECT g, w,
                   CAST(sum(CASE WHEN yj > yi THEN 1
                                 WHEN yj < yi THEN -1
                                 ELSE 0 END) AS BIGINT) AS s_gw,
                   CAST(count(*) AS BIGINT) AS n_pairs,
                   CAST(count(DISTINCT xi) AS BIGINT) AS n_w_minus1
            FROM pairs GROUP BY 1, 2
        """,
        "cochran_armitage": """
            WITH e AS (
              SELECT (epoch_us(ts) // 86400000000) % 7 AS w,
                     CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS r
              FROM events),
            g AS (
              SELECT w, CAST(count(*) AS BIGINT) AS n_g,
                     CAST(sum(r) AS BIGINT) AS r_g
              FROM e GROUP BY 1)
            SELECT CAST(sum(n_g) AS BIGINT) AS n_total,
                   CAST(sum(r_g) AS BIGINT) AS r_total,
                   CAST(sum(w * n_g) AS BIGINT) AS swn,
                   CAST(sum(w * r_g) AS BIGINT) AS swr,
                   CAST(sum(w * w * n_g) AS BIGINT) AS swwn
            FROM g
        """,
        "seasonal_decompose": """
            WITH daily AS MATERIALIZED (
              SELECT event_type AS g,
                     epoch_us(ts) // 86400000000 - 19723 AS x,
                     CAST(count(*) AS BIGINT) AS y
              FROM events GROUP BY 1, 2),
            trended AS MATERIALIZED (
              SELECT g, x, x % 7 AS w, y, t7, 7 * y - t7 AS d7 FROM (
                SELECT g, x, y,
                       CAST(sum(y) OVER win AS BIGINT) AS t7,
                       count(*) OVER win AS c7
                FROM daily
                WINDOW win AS (PARTITION BY g ORDER BY x
                               ROWS BETWEEN 3 PRECEDING
                               AND 3 FOLLOWING)) z
              WHERE c7 = 7),
            seas AS (
              SELECT g, w, CAST(sum(d7) AS BIGINT) AS s_sum,
                     CAST(count(*) AS BIGINT) AS s_cnt
              FROM trended GROUP BY 1, 2)
            SELECT t.g, t.x, t.w, t.y, t.t7, t.d7, s.s_sum, s.s_cnt
            FROM trended t JOIN seas s ON s.g = t.g AND s.w = t.w
        """,
        "cochran_q": """
            WITH e AS (
              SELECT DISTINCT user_id, event_type FROM events
              WHERE event_type IN ('click', 'view', 'purchase')),
            pu AS (
              SELECT user_id,
                     CAST(max(CASE WHEN event_type = 'click'
                              THEN 1 ELSE 0 END) AS BIGINT) AS xc,
                     CAST(max(CASE WHEN event_type = 'view'
                              THEN 1 ELSE 0 END) AS BIGINT) AS xv,
                     CAST(max(CASE WHEN event_type = 'purchase'
                              THEN 1 ELSE 0 END) AS BIGINT) AS xp
              FROM e GROUP BY 1),
            agg AS (
              SELECT CAST(count(*) AS BIGINT) AS n_users,
                     CAST(sum(xc) AS BIGINT) AS c_click,
                     CAST(sum(xv) AS BIGINT) AS c_view,
                     CAST(sum(xp) AS BIGINT) AS c_purchase,
                     CAST(sum(xc + xv + xp) AS BIGINT) AS sr,
                     CAST(sum((xc + xv + xp) * (xc + xv + xp)) AS BIGINT)
                       AS srr
              FROM pu)
            SELECT n_users, c_click, c_view, c_purchase,
                   CAST(2 * (3 * (c_click * c_click + c_view * c_view
                                  + c_purchase * c_purchase)
                        - (c_click + c_view + c_purchase)
                          * (c_click + c_view + c_purchase)) AS BIGINT)
                     AS q_num,
                   CAST(3 * sr - srr AS BIGINT) AS q_den
            FROM agg
        """,
        "mcnemar": """
            WITH e AS (
              SELECT user_id,
                     CASE WHEN event_type = 'purchase'
                           AND epoch_us(ts) // 86400000000 < 19738
                          THEN 1 ELSE 0 END AS pre,
                     CASE WHEN event_type = 'purchase'
                           AND epoch_us(ts) // 86400000000 >= 19738
                          THEN 1 ELSE 0 END AS post
              FROM events),
            pu AS (
              SELECT user_id, CAST(max(pre) AS BIGINT) AS a,
                     CAST(max(post) AS BIGINT) AS b
              FROM e GROUP BY 1),
            agg AS (
              SELECT CAST(sum(a * b) AS BIGINT) AS n11,
                     CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
                     CAST(sum((1 - a) * b) AS BIGINT) AS n01,
                     CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
              FROM pu)
            SELECT n00, n01, n10, n11,
                   CAST((n01 - n10) * (n01 - n10) AS BIGINT) AS mcnemar_num,
                   CAST(n01 + n10 AS BIGINT) AS mcnemar_den
            FROM agg
        """,
        "kruskal_wallis": """
            WITH e AS MATERIALIZED (
              SELECT event_type AS g,
                     CAST(round_even(value * 1000000.0, 0) AS BIGINT) AS v
              FROM events),
            vals AS (
              SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM e GROUP BY 1),
            ranked AS MATERIALIZED (
              SELECT v, cnt,
                     2 * COALESCE(sum(cnt) OVER (ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0)
                       + cnt + 1 AS r2
              FROM vals),
            gl0 AS (
              SELECT CAST(sum(cnt) AS BIGINT) AS n_total,
                     CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_sum
              FROM ranked),
            per_g AS (
              SELECT e.g, CAST(count(*) AS BIGINT) AS n_g,
                     CAST(sum(r.r2) AS BIGINT) AS s2_g
              FROM e JOIN ranked r ON r.v = e.v GROUP BY 1)
            SELECT g, n_g, s2_g, n_total, tie_sum
            FROM per_g CROSS JOIN gl0
        """,
        "durbin_watson": """
            WITH daily AS MATERIALIZED (
              SELECT event_type AS g,
                     epoch_us(ts) // 86400000000 - 19723 AS x,
                     CAST(count(*) AS BIGINT) AS y
              FROM events GROUP BY 1, 2),
            sums AS MATERIALIZED (
              SELECT g, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(x) AS BIGINT) AS sx,
                     CAST(sum(y) AS BIGINT) AS sy,
                     CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS BIGINT)
                       AS sxxn,
                     CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS BIGINT)
                       AS sxyn
              FROM daily GROUP BY 1),
            resid AS (
              SELECT d.g, d.x,
                     s.n * s.sxxn * d.y
                       - (s.sy * s.sxxn - s.sxyn * s.sx)
                       - s.n * s.sxyn * d.x AS e
              FROM daily d JOIN sums s ON s.g = d.g),
            lagged AS (
              SELECT g, CAST(e AS HUGEINT) AS ed,
                     CAST(lag(e) OVER (PARTITION BY g ORDER BY x)
                          AS HUGEINT) AS ep
              FROM resid),
            agg AS (
              SELECT g, CAST(count(*) AS BIGINT) AS n_days,
                     sum(CASE WHEN ep IS NOT NULL
                              THEN (ed - ep) * (ed - ep)
                              ELSE CAST(0 AS HUGEINT) END) AS dw_num,
                     sum(ed * ed) AS dw_den
              FROM lagged GROUP BY 1)
            SELECT g, n_days,
                   CAST((dw_num * 1000000) // dw_den AS BIGINT) AS dw_fp
            FROM agg WHERE dw_den > 0
        """,
        "brown_forsythe": """
            WITH e AS MATERIALIZED (
              SELECT user_id, event_id, event_type AS g,
                     CAST(round_even(value * 1000000.0, 0) AS BIGINT) AS v
              FROM events WHERE event_type IN ('click', 'view')),
            ranked AS (
              SELECT user_id, g, v,
                     row_number() OVER (PARTITION BY user_id, g
                                        ORDER BY v, event_id) AS rk,
                     count(*) OVER (PARTITION BY user_id, g) AS ng
              FROM e),
            med AS MATERIALIZED (
              SELECT user_id, g, v AS med FROM ranked
              WHERE rk = (ng + 1) // 2),
            dev AS (
              SELECT e.user_id, e.g, abs(e.v - m.med) AS ad
              FROM e JOIN med m ON m.user_id = e.user_id AND m.g = e.g)
            SELECT user_id, g, CAST(count(*) AS BIGINT) AS n_g,
                   CAST(sum(ad) AS BIGINT) AS s_g,
                   CAST(sum(ad * ad) AS BIGINT) AS q_g
            FROM dev GROUP BY 1, 2
        """,
        "wilcoxon_signed": """
            WITH e AS (
              SELECT user_id, epoch_us(ts) // 86400000000 AS day,
                     CASE WHEN event_type = 'click' THEN 1 ELSE -1 END AS s
              FROM events WHERE event_type IN ('click', 'view')),
            diffs AS (
              SELECT user_id, day, CAST(sum(s) AS BIGINT) AS d
              FROM e GROUP BY 1, 2 HAVING sum(s) != 0),
            ranked AS (
              SELECT user_id, d,
                     CAST(row_number() OVER (PARTITION BY user_id
                            ORDER BY abs(d), day) AS BIGINT) AS rk
              FROM diffs)
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_eff,
                   CAST(sum(CASE WHEN d > 0 THEN rk ELSE 0 END) AS BIGINT)
                     AS w_plus
            FROM ranked GROUP BY 1
        """,
        "salt_plan": """
            WITH cells AS (
              SELECT 4096 // (1 + (event_id % 4096)) AS cell FROM events),
            counts AS (
              SELECT CAST(cell AS BIGINT) AS cell,
                     CAST(count(*) AS BIGINT) AS n
              FROM cells GROUP BY 1)
            SELECT cell, n,
                   CAST((n + 499) // 500 AS BIGINT) AS salt,
                   CAST((n + ((n + 499) // 500) - 1)
                        // ((n + 499) // 500) AS BIGINT) AS max_load
            FROM counts WHERE n > 500
        """,
    }

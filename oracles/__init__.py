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
    _BANNER1,
    _BANNER2,
    _EVENT_TYPES,
    _LR_ANCHOR,
    _LR_PATH,
    _MIX_WEIGHTS,
    _NORM_P0,
    _NORM_P2,
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


_PREFIX_JOIN_SQL = r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
      FROM documents),
    shm AS (
      SELECT DISTINCT doc_id AS doc,
             array_to_string(tk[i:i+2], ' ') AS shingle
      FROM toks, unnest(range(1, greatest(len(tk) - 2, 1) + 1)) t(i)),
    freq AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df
             FROM shm GROUP BY 1),
    ranked AS (
      SELECT doc, shingle,
             CAST(row_number() OVER (PARTITION BY doc
                  ORDER BY df, shingle) AS BIGINT) AS rk,
             CAST(count(*) OVER (PARTITION BY doc) AS BIGINT) AS sz
      FROM shm JOIN freq USING (shingle)),
    pref AS MATERIALIZED (
      SELECT doc, shingle FROM ranked
      WHERE rk <= sz - (50 * sz + 99) // 100 + 1),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
      FROM pref a JOIN pref b USING (shingle)
      WHERE a.doc < b.doc),
    shared AS (
      SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS inter
      FROM cand c
      JOIN shm sa ON sa.doc = c.id_a
      JOIN shm sb ON sb.doc = c.id_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2),
    sizes AS (SELECT doc, CAST(count(*) AS BIGINT) AS sz
              FROM shm GROUP BY 1)
    SELECT id_a, id_b, inter, za.sz + zb.sz - inter AS uni,
           za.sz AS sza, zb.sz AS szb
    FROM shared
    JOIN sizes za ON za.doc = id_a
    JOIN sizes zb ON zb.doc = id_b
    WHERE 100 * inter >= 50 * (za.sz + zb.sz - inter)
"""


_MUTUAL_KNN_SQL = """
    WITH sub AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id < 400),
    tk AS MATERIALIZED (
      SELECT query_id, neighbor_id, rank FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY a.vec_id
                 ORDER BY list_cosine_similarity(a.v, b.v) DESC,
                          b.vec_id ASC) AS rank
        FROM sub a JOIN sub b ON a.vec_id <> b.vec_id)
      WHERE rank <= 5)
    SELECT ab.query_id AS id_a, ab.neighbor_id AS id_b,
           CAST(ab.rank AS INT) AS rank_ab, CAST(ba.rank AS INT) AS rank_ba
    FROM tk ab JOIN tk ba
      ON ba.query_id = ab.neighbor_id AND ba.neighbor_id = ab.query_id
    WHERE ab.query_id < ab.neighbor_id
"""


def _principal_axis_sql(rounds: int = 6, dim: int = 64) -> str:
    stages = []
    prev = "u0"
    for i in range(1, rounds + 1):
        stages.append(f"""
        s{i} AS (
          SELECT q.vec_id, CAST(sum(q.qv * u.u) AS BIGINT) AS s
          FROM q JOIN {prev} u ON u.j = q.j GROUP BY 1),
        t{i} AS MATERIALIZED (
          SELECT q.j, CAST(sum(q.qv * s.s) AS BIGINT) AS t
          FROM q JOIN s{i} s ON s.vec_id = q.vec_id GROUP BY 1),
        m{i} AS (
          SELECT max(abs(t)) AS mx,
                 greatest(length(bin(max(abs(t)))) - 20, 0) AS sh FROM t{i}),
        -- zero-matvec edge (ADVICE r4): the engine BREAKS on max|t| = 0 and
        -- keeps the previous iterate; mirror it by carrying p.u forward when
        -- mx is 0 (all-zero t) or NULL (empty t under an empty input).
        u{i} AS MATERIALIZED (
          SELECT p.j, CASE WHEN coalesce(m.mx, 0) = 0 THEN p.u
                           WHEN t.t < 0
                           THEN -((-t.t) // CAST(pow(2, m.sh) AS BIGINT))
                           ELSE t.t // CAST(pow(2, m.sh) AS BIGINT) END AS u
          FROM {prev} p LEFT JOIN t{i} t ON t.j = p.j CROSS JOIN m{i} m)""")
        prev = f"u{i}"
    body = ",".join(stages)
    return f"""
        WITH q AS MATERIALIZED (
          SELECT vec_id, j,
                 CAST(round_even(CAST(embedding[j + 1] AS DOUBLE) * 1000, 0)
                      AS BIGINT) AS qv
          FROM (SELECT vec_id, embedding, unnest(range({dim})) AS j
                FROM embeddings)),
        u0 AS (SELECT j, CAST({1 << 19} AS BIGINT) AS u
               FROM (SELECT unnest(range({dim})) AS j)),
        {body}
        SELECT j AS dim, CAST(u AS BIGINT) AS u_fp FROM {prev}
    """


_RRF_FUSION_SQL = """
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT query_id, vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY list_cosine_similarity(qv, CAST(embedding AS DOUBLE[])) DESC,
                        vec_id ASC) AS r_cos,
             row_number() OVER (PARTITION BY query_id
               ORDER BY list_distance(qv, CAST(embedding AS DOUBLE[])) ASC,
                        vec_id ASC) AS r_l2
      FROM embeddings, q WHERE vec_id <> query_id),
    fusedt AS (
      SELECT query_id, neighbor_id, r_cos, r_l2,
             1.0 / (60.0 + CAST(r_cos AS DOUBLE))
               + 1.0 / (60.0 + CAST(r_l2 AS DOUBLE)) AS fused
      FROM scored)
    SELECT query_id, neighbor_id, CAST(r_cos AS INT) AS r_cos,
           CAST(r_l2 AS INT) AS r_l2, fused,
           CAST(rrf_rank AS INT) AS rrf_rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY fused DESC, neighbor_id ASC) AS rrf_rank
      FROM fusedt) z
    WHERE rrf_rank <= 5
"""


def _mmr_sql(k_cand: int = 20, k_sel: int = 3, n_queries: int = 3) -> str:
    stages = []
    for i in range(1, k_sel + 1):
        if i == 1:
            scored = """
        scored1 AS (
          SELECT query_id, doc_id, 2 * rel AS score FROM cand)"""
        else:
            prev_sel = " UNION ALL ".join(
                f"SELECT query_id, doc_id FROM p{j}" for j in range(1, i)
            )
            scored = f"""
        sel{i} AS ({prev_sel}),
        ms{i} AS (
          SELECT s.query_id, s.id_a AS doc_id, max(s.sim) AS max_sim
          FROM csims s JOIN sel{i} t
            ON s.query_id = t.query_id AND s.id_b = t.doc_id
          GROUP BY 1, 2),
        scored{i} AS (
          SELECT c.query_id, c.doc_id, 2 * c.rel - m.max_sim AS score
          FROM cand c JOIN ms{i} m USING (query_id, doc_id)
          WHERE NOT EXISTS (
            SELECT 1 FROM sel{i} x
            WHERE x.query_id = c.query_id AND x.doc_id = c.doc_id))"""
        stages.append(scored + f""",
        p{i} AS MATERIALIZED (
          SELECT query_id, doc_id, score FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY score DESC, doc_id ASC) AS rn
            FROM scored{i}) z
          WHERE rn = 1)""")
    body = ",".join(stages)
    final = " UNION ALL ".join(
        f"SELECT query_id, CAST({i} AS INT) AS pick, doc_id, score FROM p{i}"
        for i in range(1, k_sel + 1)
    )
    return f"""
        WITH enc AS (
          SELECT vec_id,
                 list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
                   / CAST(127.0 AS DOUBLE) AS scale,
                 embedding AS v
          FROM embeddings),
        qv AS MATERIALIZED (
          SELECT vec_id,
                 list_transform(v, x -> CAST(round_even(CAST(x AS DOUBLE) / scale, 0) AS INT)) AS q
          FROM enc WHERE scale > 0),
        relp AS (
          SELECT a.vec_id AS query_id, b.vec_id AS doc_id, b.q AS cq,
                 CAST(list_inner_product(CAST(a.q AS DOUBLE[]),
                                         CAST(b.q AS DOUBLE[])) AS BIGINT) AS rel
          FROM qv a JOIN qv b ON b.vec_id <> a.vec_id
          WHERE a.vec_id < {n_queries}),
        cand AS MATERIALIZED (
          SELECT query_id, doc_id, rel, cq FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY rel DESC, doc_id ASC) AS rk
            FROM relp) z
          WHERE rk <= {k_cand}),
        csims AS MATERIALIZED (
          SELECT a.query_id, a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(list_inner_product(CAST(a.cq AS DOUBLE[]),
                                         CAST(b.cq AS DOUBLE[])) AS BIGINT) AS sim
          FROM cand a JOIN cand b
            ON a.query_id = b.query_id AND a.doc_id <> b.doc_id),
        {body}
        {final}
    """


def _hll_intersect_sql(p: int = 5) -> str:
    from extractors_metadata_spark.operators.sketches import (
        HLL_SCALE,
        _hll_alpha,
    )

    m = 1 << p
    alpha = _hll_alpha(m)

    def _regs(name: str, where: str) -> str:
        return f"""
        keys_{name} AS (
          SELECT CAST(user_id AS VARCHAR) || ':'
                 || CAST(epoch_us(ts) // 3600000000 AS VARCHAR) AS k
          FROM events WHERE {where}),
        h0_{name} AS (SELECT {_poly_sql('k', 131)} AS wr,
                             {_poly_sql('k', 137)} AS br FROM keys_{name}),
        h1_{name} AS (SELECT {_mix31_sql('wr')} AS w,
                             {_mix31_sql('br')} AS bh FROM h0_{name}),
        rnk_{name} AS (SELECT bh % {m} AS bucket,
               CASE WHEN w = 0 THEN 32 ELSE 32 - length(bin(w)) END AS rho
               FROM h1_{name}),
        pregs_{name} AS (SELECT bucket, max(rho) AS rho
                         FROM rnk_{name} GROUP BY bucket),
        regs_{name} AS MATERIALIZED (
          SELECT t.bucket, CAST(coalesce(pregs_{name}.rho, 0) AS INTEGER) AS rho
          FROM (SELECT range AS bucket FROM range(0, {m})) t
          LEFT JOIN pregs_{name} USING (bucket))"""

    def _est(src: str) -> str:
        raw = (
            f"(CAST({alpha!r} AS DOUBLE) * CAST({float(m * m)!r} AS DOUBLE)"
            f" * CAST({float(1 << HLL_SCALE)!r} AS DOUBLE)"
            f" / CAST(harm_{src} AS DOUBLE))"
        )
        lc = (
            f"(CAST({float(m)!r} AS DOUBLE)"
            f" * ln(CAST({float(m)!r} AS DOUBLE) / CAST(nz_{src} AS DOUBLE)))"
        )
        return (
            f"round(round(CASE WHEN {raw} <= CAST({2.5 * m!r} AS DOUBLE)"
            f" AND nz_{src} > 0 THEN {lc} ELSE {raw} END, 6), 3)"
        )

    return f"""
        WITH {_regs('a', "event_type = 'click'")},
        {_regs('b', "event_type = 'view'")},
        regs_u AS (
          SELECT a.bucket, greatest(a.rho, b.rho) AS rho
          FROM regs_a a JOIN regs_b b USING (bucket)),
        agg AS (
          SELECT
            (SELECT sum(CAST(power(2, {HLL_SCALE} - rho) AS HUGEINT))
             FROM regs_a) AS harm_a,
            (SELECT sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END)
             FROM regs_a) AS nz_a,
            (SELECT sum(CAST(power(2, {HLL_SCALE} - rho) AS HUGEINT))
             FROM regs_b) AS harm_b,
            (SELECT sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END)
             FROM regs_b) AS nz_b,
            (SELECT sum(CAST(power(2, {HLL_SCALE} - rho) AS HUGEINT))
             FROM regs_u) AS harm_u,
            (SELECT sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END)
             FROM regs_u) AS nz_u),
        est AS (
          SELECT {_est('a')} AS est_a, {_est('b')} AS est_b,
                 {_est('u')} AS est_u
          FROM agg)
        SELECT CAST({m} AS INTEGER) AS m, est_a, est_b, est_u,
               est_a + est_b - est_u AS est_inter
        FROM est
    """


def _chunk_sql(src: str, chunk: int = 24, overlap: int = 8) -> str:
    """chunk_documents mirror over any (doc_id, text) relation ``src``."""
    stride = chunk - overlap
    return f"""
    SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           CAST(least({chunk}, len(w) - chunk_idx * {stride}) AS INT) AS n_tokens,
           array_to_string(w[chunk_idx*{stride}+1 : chunk_idx*{stride}+{chunk}], ' ') AS chunk_text
    FROM (
      SELECT doc_id, w,
             unnest(range(greatest((len(w) - {overlap} + {stride - 1}) // {stride}, 1))) AS chunk_idx
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM {src}))
    """


_CHUNK_DOCS_SQL = _chunk_sql("documents")


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


def _sql_chr_str(s: str) -> str:
    """Render a Python string as a DuckDB expression, spelling every
    non-printable as chr(n) — so probe literals with controls/CR/tabs are
    constructed byte-identically on both engines."""
    parts: list[str] = []
    buf = ""
    for ch in s:
        if 32 <= ord(ch) < 127 and ch != "'":
            buf += ch
        else:
            if buf:
                parts.append(f"'{buf}'")
                buf = ""
            parts.append(f"chr({ord(ch)})")
    if buf:
        parts.append(f"'{buf}'")
    return " || ".join(parts) if parts else "''"


def _text_normalize_sql() -> str:
    from extractors_metadata_spark.functions.textnorm import norm_rules_sql

    return f"""
        WITH probe AS (
          SELECT doc_id,
                 text || CASE CAST(doc_id % 4 AS INT)
                   WHEN 0 THEN {_sql_chr_str(_NORM_P0)}
                   WHEN 2 THEN {_sql_chr_str(_NORM_P2)}
                   ELSE '' END AS t
          FROM documents),
        n AS (SELECT doc_id, {norm_rules_sql('t')} AS norm FROM probe)
        SELECT doc_id, norm, length(norm) AS n_len FROM n
    """


_EMBED_CENTROIDS_SQL = """
    WITH e AS (
      SELECT label, CAST(i AS INT) AS dim, embedding[i + 1] AS v
      FROM (SELECT label, embedding, unnest(range(len(embedding))) AS i
            FROM embeddings)),
    agg AS (
      SELECT label, dim, count(*) AS n,
             CAST(sum(CAST(round_even(CAST(v AS DOUBLE) * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS sum_u
      FROM e GROUP BY 1, 2)
    SELECT label, dim, n, sum_u,
           CAST(sum_u AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0) AS mean
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


def _cms_join_sql(d: int = 4, w: int = 1024) -> str:
    from extractors_metadata_spark.functions.vhash import P31, perm_coeffs

    def grid(sfx: str, filt: str) -> str:
        cells = "\n          UNION ALL ".join(
            f"SELECT {i} AS r, (({a} * h + {b}) % {P31}) % {w} AS c FROM hm_{sfx}"
            for i, (a, b) in enumerate(perm_coeffs(d))
        )
        return f"""
        keys_{sfx} AS (SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS k
                      FROM events WHERE {filt}),
        h0_{sfx} AS (SELECT k, {_poly_sql('k', 131)} AS hr FROM keys_{sfx}),
        hm_{sfx} AS MATERIALIZED (SELECT {_mix31_sql('hr')} AS h FROM h0_{sfx}),
        cells_{sfx} AS ({cells}),
        grid_{sfx} AS (SELECT r, c, count(*) AS cnt FROM cells_{sfx} GROUP BY r, c)"""

    return f"""
        WITH {grid('a', 'event_id % 2 = 0')},
        {grid('b', 'event_id % 3 = 0')},
        dots AS (
          SELECT a.r, CAST(sum(a.cnt * b.cnt) AS BIGINT) AS dot
          FROM grid_a a JOIN grid_b b ON a.r = b.r AND a.c = b.c
          GROUP BY a.r)
        SELECT CAST(min(dot) AS BIGINT) AS join_size_est FROM dots
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


def _hll_set_sql(p: int = 8) -> str:
    """hll_set_estimates mirror: per-population register replay (the
    _hll_cte_sql block, suffixed + filtered), greatest()-merged union
    registers, and the hll_estimate arithmetic applied to all three."""
    from extractors_metadata_spark.operators.sketches import HLL_SCALE, _hll_alpha

    m = 1 << p
    alpha = _hll_alpha(m)

    def regs(sfx: str, filt: str) -> str:
        return f"""
        keys_{sfx} AS (SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS k
                 FROM events WHERE {filt}),
        h0_{sfx} AS (SELECT {_poly_sql('k', 131)} AS wr, {_poly_sql('k', 137)} AS br
               FROM keys_{sfx}),
        h1_{sfx} AS (SELECT {_mix31_sql('wr')} AS w, {_mix31_sql('br')} AS bh FROM h0_{sfx}),
        rnk_{sfx} AS (SELECT bh % {m} AS bucket,
                       CASE WHEN w = 0 THEN 32 ELSE 32 - length(bin(w)) END AS rho
                FROM h1_{sfx}),
        regs_{sfx} AS (SELECT bucket, max(rho) AS rho FROM rnk_{sfx} GROUP BY bucket),
        full_regs_{sfx} AS (
          SELECT t.bucket, CAST(coalesce(regs_{sfx}.rho, 0) AS INTEGER) AS rho
          FROM (SELECT range AS bucket FROM range(0, {m})) t
          LEFT JOIN regs_{sfx} USING (bucket))"""

    raw = (
        f"(CAST({alpha!r} AS DOUBLE) * CAST({float(m * m)!r} AS DOUBLE)"
        f" * CAST({float(1 << HLL_SCALE)!r} AS DOUBLE) / CAST(harm AS DOUBLE))"
    )
    lc = (
        f"(CAST({float(m)!r} AS DOUBLE)"
        f" * ln(CAST({float(m)!r} AS DOUBLE) / CAST(n_zero AS DOUBLE)))"
    )

    def est(sfx: str, src: str) -> str:
        return f"""
        agg_{sfx} AS (SELECT sum(CAST(power(2, {HLL_SCALE} - rho) AS HUGEINT)) AS harm,
                       sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS n_zero
                FROM {src}),
        est_{sfx} AS (SELECT round(round(CASE WHEN {raw} <= CAST({2.5 * m!r} AS DOUBLE)
                                 AND n_zero > 0 THEN {lc} ELSE {raw} END, 6), 3) AS est
                FROM agg_{sfx})"""

    return f"""
        WITH {regs('a', 'event_id % 2 = 0')},
        {regs('b', 'event_id % 3 = 0')},
        full_regs_u AS (
          SELECT a.bucket, greatest(a.rho, b.rho) AS rho
          FROM full_regs_a a JOIN full_regs_b b USING (bucket)),
        {est('ea', 'full_regs_a')},
        {est('eb', 'full_regs_b')},
        {est('eu', 'full_regs_u')}
        SELECT ea.est AS est_a, eb.est AS est_b, eu.est AS est_union,
               round(ea.est + eb.est - eu.est, 3) AS est_intersection
        FROM est_ea ea, est_eb eb, est_eu eu
    """


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


def _shingle_cosine_sql(max_df: int = 50, min_sim_fp: int = 200_000_000) -> str:
    return rf"""
        WITH toks AS (
          SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
          FROM documents),
        shm AS (
          SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS shingle
          FROM toks, unnest(range(1, greatest(len(tk) - 2, 1) + 1)) t(i)),
        tf0 AS MATERIALIZED (
          SELECT doc_id, shingle, count(*) AS tf FROM shm GROUP BY 1, 2),
        band AS MATERIALIZED (
          SELECT tf0.* FROM tf0 JOIN (
            SELECT shingle FROM tf0 GROUP BY shingle
            HAVING count(*) <= {max_df}) s USING (shingle)),
        norms AS (SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS n2
                  FROM band GROUP BY 1),
        dots AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
          FROM band a JOIN band b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        scored AS (
          SELECT id_a, id_b, dot, na.n2 AS na2, nb.n2 AS nb2,
                 CAST(round_even(dot / sqrt(CAST(na.n2 AS DOUBLE)
                   * CAST(nb.n2 AS DOUBLE)) * 1000000000.0, 0) AS BIGINT)
                   AS sim_fp
          FROM dots
          JOIN norms na ON na.doc_id = id_a
          JOIN norms nb ON nb.doc_id = id_b)
        SELECT * FROM scored WHERE sim_fp >= {min_sim_fp}
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


def _textrank_sql(iters: int = 5, min_shared: int = 2, top_k: int = 2) -> str:
    """textrank.textrank_chunks mirror: the shared _chunk_sql CTE, the
    doc-local shared-token pair threshold, the pagerank iteration body
    unrolled (the _pagerank_sql recipe verbatim), the frozen cut."""
    from extractors_metadata_spark.operators.linkgraph import PR_MASS

    its = []
    prev = "r0"
    for i in range(1, iters + 1):
        its.append(f"""
        it{i} AS (
          SELECT nodes.node,
                 CAST((15 * ({PR_MASS} // (SELECT n FROM nn))) // 100
                      + (85 * coalesce(s.insum, 0)) // 100 AS BIGINT) AS rank
          FROM nodes LEFT JOIN (
            SELECT e.dst AS node, sum(r.rank // o.outdeg) AS insum
            FROM edges e JOIN {prev} r ON e.src = r.node
                         JOIN outdeg o ON e.src = o.src
            GROUP BY e.dst) s ON nodes.node = s.node)""")
        prev = f"it{i}"
    body = ",".join(its)
    return f"""
        WITH chunks AS MATERIALIZED ({_chunk_sql("documents", 16, 0)}),
        toks AS (
          SELECT DISTINCT doc_id, chunk_idx,
                 unnest(string_split(chunk_text, ' ')) AS tok
          FROM chunks),
        pairs AS MATERIALIZED (
          SELECT a.doc_id, a.chunk_idx AS ca, b.chunk_idx AS cb
          FROM toks a JOIN toks b
            ON a.doc_id = b.doc_id AND a.tok = b.tok
               AND a.chunk_idx < b.chunk_idx
          GROUP BY 1, 2, 3
          HAVING count(*) >= {min_shared}),
        edges AS MATERIALIZED (
          SELECT doc_id * 64 + ca AS src, doc_id * 64 + cb AS dst FROM pairs
          UNION ALL
          SELECT doc_id * 64 + cb AS src, doc_id * 64 + ca AS dst FROM pairs),
        nodes AS MATERIALIZED (
          SELECT doc_id * 64 + chunk_idx AS node FROM chunks),
        nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
        outdeg AS MATERIALIZED (
          SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
        r0 AS (SELECT node, {PR_MASS} // (SELECT n FROM nn) AS rank FROM nodes),
        {body},
        unp AS (
          SELECT node // 64 AS doc_id, CAST(node % 64 AS INT) AS chunk_idx,
                 rank
          FROM {prev}),
        cut AS (
          SELECT doc_id, chunk_idx, rank,
                 CAST(row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY rank DESC, chunk_idx ASC) AS INT) AS pos
          FROM unp)
        SELECT doc_id, chunk_idx, rank, pos FROM cut WHERE pos <= {top_k}
    """


def _weighted_sample_sql(k: int = 20) -> str:
    ph = _poly_sql("'wsample:' || CAST(doc_id AS VARCHAR)", 131)
    return f"""
        WITH h0 AS (
          SELECT doc_id, lang, n_chars, {ph} AS hr FROM documents
          WHERE n_chars > 0),
        h1 AS (SELECT doc_id, lang, n_chars, {_mix31_sql('hr')} AS hv FROM h0),
        a AS (
          SELECT doc_id, lang, n_chars,
                 ln((CAST(hv AS DOUBLE) + 0.5) / 2147483648.0)
                   / CAST(n_chars AS DOUBLE) AS akey
          FROM h1),
        r AS (
          SELECT doc_id, lang, n_chars, akey,
                 CAST(row_number() OVER (
                   PARTITION BY lang ORDER BY akey DESC, doc_id) AS INT) AS rank
          FROM a)
        SELECT doc_id, lang, n_chars, rank FROM r WHERE rank <= {k}
    """


def _kmeans_ctes(
    k: int = 8, iters: int = 3, dim: int = 64, src: str = "embeddings"
) -> list[str]:
    """The unrolled Lloyd-round CTE stages shared by the kmeans_verify and
    semdedup oracles; the final CTE ``df`` holds (vec_id, cid, d2) exact
    squared distances to the final centroids. ``src`` is the (vec_id,
    embedding) relation to cluster — a probe-augmented CTE for semdedup."""
    from extractors_metadata_spark.operators.kmeans import OFFSET, SCALE

    ph = _poly_sql("'km:' || CAST(vec_id AS VARCHAR)", 131)
    ctes = [
        f"""q AS MATERIALIZED (
          SELECT vec_id,
                 list_transform(embedding,
                   x -> CAST(round_even(CAST(x AS DOUBLE) * {SCALE!r}, 0) AS BIGINT)
                        + {OFFSET}) AS v
          FROM {src})""",
        f"h0 AS (SELECT vec_id, v, {ph} AS hr FROM q)",
        f"h1 AS (SELECT vec_id, v, {_mix31_sql('hr')} AS hv FROM h0)",
        f"""c0 AS MATERIALIZED (
          SELECT CAST(rn - 1 AS INT) AS cid, v AS c FROM (
            SELECT v, row_number() OVER (ORDER BY hv, vec_id) AS rn FROM h1)
          WHERE rn <= {k})""",
    ]
    half_even = (
        "CAST(CASE WHEN 2 * (s % n) > n OR (2 * (s % n) = n AND (s // n) % 2 = 1) "
        "THEN s // n + 1 ELSE s // n END AS BIGINT)"
    )
    for r in range(1, iters + 1):
        p = r - 1
        ctes += [
            f"""d{r} AS (
              SELECT q.vec_id, c{p}.cid,
                     CAST(list_sum(list_transform(list_zip(q.v, c{p}.c),
                       p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d2
              FROM q CROSS JOIN c{p})""",
            f"""a{r} AS MATERIALIZED (
              SELECT vec_id, cid AS cluster, d2 FROM (
                SELECT vec_id, cid, d2,
                       row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
                FROM d{r}) WHERE rn = 1)""",
            f"""s{r} AS (
              SELECT a{r}.cluster, t.i, sum(q.v[t.i + 1]) AS s, count(*) AS n
              FROM a{r} JOIN q USING (vec_id), unnest(range({dim})) t(i)
              GROUP BY 1, 2)""",
            f"n{r} AS (SELECT cluster, i, {half_even} AS coord FROM s{r})",
            f"""c{r} AS MATERIALIZED (
              SELECT c{p}.cid, COALESCE(nc.c, c{p}.c) AS c
              FROM c{p} LEFT JOIN (
                SELECT cluster AS cid, list(coord ORDER BY i) AS c
                FROM n{r} GROUP BY 1) nc USING (cid))""",
        ]
    ctes.append(
        f"""df AS (
          SELECT q.vec_id, c{iters}.cid,
                 CAST(list_sum(list_transform(list_zip(q.v, c{iters}.c),
                   p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d2
          FROM q CROSS JOIN c{iters})"""
    )
    return ctes


def _kmeans_sql(k: int = 8, iters: int = 3, dim: int = 64) -> str:
    body = ",\n        ".join(_kmeans_ctes(k, iters, dim))
    return f"""
        WITH {body}
        SELECT vec_id, CAST(cluster AS INT) AS cluster, d2 FROM (
          SELECT vec_id, cid AS cluster, d2,
                 row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
          FROM df) WHERE rn = 1
    """


def _semdedup_sql(k: int = 8, iters: int = 3, tau_pct: int = 99) -> str:
    """SemDeDup replay: the kmeans CTE stages give the final assignment;
    vectors re-quantize at SD_SCALE=500 (round_even == JVM bround at 0
    decimals), and the cosine >= tau_pct/100 decision is the pure-integer
    10000*dot^2 >= tau^2*na*nb inside the cluster-local a.vec_id < b.vec_id
    self-join (nar is referenced twice -> MATERIALIZED per the engine's
    DuckDB re-inline pitfall). Greedy-by-id: b is a dup iff some lower-id a
    in its cluster clears tau. The input is probe-augmented: every
    vec_id % 7 == 0 vector gets a x1.02 scaled copy at vec_id + 100000
    (cosine exactly 1 pre-quantization) so the dup branch is genuinely
    exercised — the synth embeddings' natural within-cluster |cos| tops out
    ~0.51. max|x| ~ 0.58 so 1.02x keeps the kmeans |x| <= 1 precondition."""
    from extractors_metadata_spark.operators.semdedup import SD_SCALE

    ctes = [
        """emb2 AS MATERIALIZED (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
          FROM embeddings
          UNION ALL
          SELECT vec_id + 100000 AS vec_id,
                 list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(1.02 AS DOUBLE)) AS embedding
          FROM embeddings WHERE vec_id % 7 = 0)""",
    ]
    ctes += _kmeans_ctes(k, iters, src="emb2")
    ctes += [
        f"""asg AS MATERIALIZED (
          SELECT vec_id, CAST(cid AS INT) AS cluster FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
            FROM df) WHERE rn = 1)""",
        f"""uq AS (
          SELECT vec_id,
                 list_transform(embedding,
                   x -> CAST(round_even(CAST(x AS DOUBLE) * {SD_SCALE!r}, 0) AS BIGINT)) AS u
          FROM emb2)""",
        """nar AS MATERIALIZED (
          SELECT asg.vec_id, asg.cluster, uq.u,
                 CAST(list_sum(list_transform(uq.u, x -> x * x)) AS BIGINT) AS n2
          FROM asg JOIN uq USING (vec_id))""",
        f"""dup AS (
          SELECT DISTINCT vec_id FROM (
            SELECT b.vec_id,
                   CAST(list_sum(list_transform(list_zip(a.u, b.u),
                     p -> p[1] * p[2])) AS BIGINT) AS dot,
                   a.n2 AS na, b.n2 AS nb
            FROM nar a JOIN nar b
              ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
          WHERE dot > 0
            AND 10000 * dot * dot >= {tau_pct * tau_pct} * na * nb)""",
    ]
    body = ",\n        ".join(ctes)
    return f"""
        WITH {body}
        SELECT asg.vec_id, asg.cluster,
               CAST(CASE WHEN dup.vec_id IS NULL THEN 0 ELSE 1 END AS INT) AS is_dup
        FROM asg LEFT JOIN dup USING (vec_id)
    """


def _exact_split_sql() -> str:
    return f"""
        WITH h AS (
          SELECT doc_id, lang,
                 {_mix31_sql(_poly_sql("'xsplit:' || CAST(doc_id AS VARCHAR)", 131))} AS hv
          FROM documents),
        w AS (
          SELECT doc_id, lang,
                 row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rn,
                 count(*) OVER (PARTITION BY lang) AS n
          FROM h)
        SELECT doc_id, lang,
               CASE WHEN rn <= n - ((n * 50) // 1000) - ((n * 50) // 1000)
                    THEN 'train'
                    WHEN rn <= n - ((n * 50) // 1000) THEN 'val'
                    ELSE 'test' END AS split
        FROM w
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


_SLOPE_ASPECT_SQL = f"""
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
      SELECT (x - dx + 4096) % 4096 AS x, y - dy AS y,
             cnt * dx * (2 - abs(dy)) AS wgx,
             cnt * dy * (2 - abs(dx)) AS wgy
      FROM counts, offx, offy
      WHERE NOT (dx = 0 AND dy = 0)
        AND y - dy >= 0 AND y - dy < 4096),
    g AS (
      SELECT x, y, CAST(sum(wgx) AS BIGINT) AS gx,
             CAST(sum(wgy) AS BIGINT) AS gy
      FROM scatter GROUP BY 1, 2)
    SELECT 12 AS z, x, y, gx, gy, gx * gx + gy * gy AS slope2,
           CAST(CASE
             WHEN gx = 0 AND gy = 0 THEN -1
             WHEN (abs(gx) + abs(gy)) * (abs(gx) + abs(gy)) < 2 * gx * gx
               THEN CASE WHEN gx > 0 THEN 0 ELSE 4 END
             WHEN (abs(gx) + abs(gy)) * (abs(gx) + abs(gy)) < 2 * gy * gy
               THEN CASE WHEN gy > 0 THEN 2 ELSE 6 END
             WHEN gx > 0 AND gy > 0 THEN 1
             WHEN gx < 0 AND gy > 0 THEN 3
             WHEN gx < 0 AND gy < 0 THEN 5
             ELSE 7 END AS INT) AS octant
    FROM g
"""


_BLOCKLIST_PATS = ["slow query", "big table", "fast merge", "hash value", "table scan"]

_BLOCKLIST_SQL = (
    "SELECT doc_id, "
    + " + ".join(
        f"((length(text) - length(replace(text, '{p}', ''))) // {len(p)})"
        for p in _BLOCKLIST_PATS
    )
    + " AS hits, "
    + " + ".join(
        f"CAST(length(text) != length(replace(text, '{p}', '')) AS BIGINT)"
        for p in _BLOCKLIST_PATS
    )
    + " AS n_patterns, ("
    + " + ".join(
        f"(length(text) - length(replace(text, '{p}', '')))"
        for p in _BLOCKLIST_PATS
    )
    + ") = 0 AS keep FROM documents"
)


def _dsir_sql(buckets: int = 128, k: int = 100, target: str = "en") -> str:
    """DSIR importance-resampling oracle: the naive_bayes tokenization +
    vhash bucket replay + two per-term 1e-9 fixed-point ln ratios."""
    return rf"""
    WITH arrs AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> length(x) > 0) AS arr
      FROM documents),
    toks AS (SELECT doc_id, lang, unnest(arr) AS tok FROM arrs),
    h0 AS (SELECT doc_id, lang,
                  {_poly_sql("'dsir:' || tok", 131)} AS hr FROM toks),
    tb AS MATERIALIZED (
      SELECT doc_id, lang, {_mix31_sql('hr')} % {buckets} AS b FROM h0),
    bc AS MATERIALIZED (
      SELECT b, CAST(count(*) AS BIGINT) AS rb,
             CAST(count(*) FILTER (WHERE lang = '{target}') AS BIGINT) AS tbc
      FROM tb GROUP BY 1),
    tot AS (SELECT CAST(sum(tbc) AS BIGINT) AS tt,
                   CAST(sum(rb) AS BIGINT) AS rr FROM bc),
    w AS (
      SELECT b,
             CAST(round_even(ln(CAST(tbc + 1 AS DOUBLE)
                  / CAST(t.tt + {buckets} AS DOUBLE)) * 1e9, 0) AS BIGINT)
           - CAST(round_even(ln(CAST(rb + 1 AS DOUBLE)
                  / CAST(t.rr + {buckets} AS DOUBLE)) * 1e9, 0) AS BIGINT)
               AS w_fp
      FROM bc CROSS JOIN tot t),
    sc AS (
      SELECT doc_id, CAST(sum(w_fp) AS BIGINT) AS score_fp,
             CAST(count(*) AS BIGINT) AS n_tokens
      FROM tb JOIN w USING (b) GROUP BY 1)
    SELECT doc_id, score_fp, n_tokens FROM sc
    ORDER BY score_fp DESC, doc_id ASC LIMIT {k}
"""


# shared D8 pointer stages: z22 count surface -> steepest strictly-lower
# occupied neighbor under the frozen (steep2 desc, dir asc) rule
_D8_NXT_CTES = f"""pts AS (
      SELECT ({LAT_IN}) AS lat, ({LON_IN}) AS lon FROM events),
    counts AS MATERIALIZED (
      SELECT CAST(FLOOR((lon + 180) / 360 * pow(2, 22)) AS BIGINT) AS x,
             CAST(FLOOR((1 - ln(tan(radians(lat)) + 1/cos(radians(lat)))/pi())/2
                  * pow(2, 22)) AS BIGINT) AS y,
             CAST(count(*) AS BIGINT) AS cnt
      FROM pts GROUP BY 1, 2),
    dirs AS (
      SELECT * FROM (VALUES
        (0, 1, 0), (1, 1, 1), (2, 0, 1), (3, -1, 1),
        (4, -1, 0), (5, -1, -1), (6, 0, -1), (7, 1, -1)
      ) AS t(dir, dx, dy)),
    cand AS (
      SELECT c.x, c.y, d.dir, nb.x AS nx, nb.y AS ny,
             (c.cnt - nb.cnt) * (c.cnt - nb.cnt)
               * (CASE WHEN d.dx * d.dy = 0 THEN 2 ELSE 1 END) AS steep2
      FROM counts c
      CROSS JOIN dirs d
      JOIN counts nb
        ON nb.x = (c.x + d.dx + 4194304) % 4194304 AND nb.y = c.y + d.dy
      WHERE nb.cnt < c.cnt AND c.y + d.dy >= 0 AND c.y + d.dy < 4194304),
    nxt AS MATERIALIZED (
      SELECT x, y, dir, nx, ny FROM (
        SELECT *, row_number() OVER (
          PARTITION BY x, y ORDER BY steep2 DESC, dir ASC) AS rn
        FROM cand) WHERE rn = 1)"""


_D8_FLOW_SQL = f"""
    WITH RECURSIVE {_D8_NXT_CTES},
    closure AS (
      SELECT x AS sx, y AS sy, x AS cx, y AS cy FROM counts
      UNION ALL
      SELECT cl.sx, cl.sy, n.nx, n.ny
      FROM closure cl JOIN nxt n ON n.x = cl.cx AND n.y = cl.cy),
    acc AS (
      SELECT cx AS x, cy AS y, CAST(count(*) AS BIGINT) AS acc
      FROM closure GROUP BY 1, 2)
    SELECT CAST(22 AS INT) AS z, c.x, c.y, c.cnt,
           CAST(coalesce(n.dir, -1) AS INT) AS dir, a.acc
    FROM counts c
    LEFT JOIN nxt n ON n.x = c.x AND n.y = c.y
    JOIN acc a ON a.x = c.x AND a.y = c.y
"""


_VIEWSHED_SQL = f"""
    WITH pts AS (
      SELECT ({LAT_IN}) AS lat, ({LON_IN}) AS lon FROM events),
    counts AS MATERIALIZED (
      SELECT CAST(FLOOR((lon + 180) / 360 * pow(2, 22)) AS BIGINT) AS x,
             CAST(FLOOR((1 - ln(tan(radians(lat)) + 1/cos(radians(lat)))/pi())/2
                  * pow(2, 22)) AS BIGINT) AS y,
             CAST(count(*) AS BIGINT) AS cnt
      FROM pts GROUP BY 1, 2),
    obs AS (
      SELECT x AS ox, y AS oy, cnt AS h_obs FROM counts
      ORDER BY cnt DESC, x ASC, y ASC LIMIT 1),
    tgt AS MATERIALIZED (
      SELECT c.x, c.y, c.cnt, o.ox, o.oy, o.h_obs,
             c.x - o.ox AS dx, c.y - o.oy AS dy,
             greatest(abs(c.x - o.ox), abs(c.y - o.oy)) AS steps
      FROM counts c CROSS JOIN obs o
      WHERE c.x != o.ox OR c.y != o.oy),
    smp AS (
      SELECT g.x, g.y, g.cnt, g.h_obs, g.steps, u.t,
             g.ox + (CASE WHEN g.dx < 0 THEN -1 WHEN g.dx > 0 THEN 1
                          ELSE 0 END)
                  * ((2 * u.t * abs(g.dx) + g.steps) // (2 * g.steps)) AS xi,
             g.oy + (CASE WHEN g.dy < 0 THEN -1 WHEN g.dy > 0 THEN 1
                          ELSE 0 END)
                  * ((2 * u.t * abs(g.dy) + g.steps) // (2 * g.steps)) AS yi
      FROM tgt g, unnest(range(1, g.steps)) AS u(t)),
    blk AS (
      SELECT s.x, s.y,
             max(CASE WHEN (coalesce(e.cnt, 0) - s.h_obs) * s.steps
                           >= (s.cnt - s.h_obs) * s.t
                      THEN 1 ELSE 0 END) AS blocked
      FROM smp s
      LEFT JOIN counts e ON e.x = s.xi AND e.y = s.yi
      CROSS JOIN obs o
      WHERE (s.xi != o.ox OR s.yi != o.oy)
        AND (s.xi != s.x OR s.yi != s.y)
      GROUP BY 1, 2)
    SELECT CAST(22 AS INT) AS z, t.x, t.y, t.cnt, t.steps,
           coalesce(b.blocked, 0) = 0 AS visible
    FROM tgt t LEFT JOIN blk b ON b.x = t.x AND b.y = t.y
"""


_WATERSHED_SQL = f"""
    WITH RECURSIVE {_D8_NXT_CTES},
    walk AS (
      SELECT x AS sx, y AS sy, x AS cx, y AS cy FROM counts
      UNION ALL
      SELECT w.sx, w.sy, n.nx, n.ny
      FROM walk w JOIN nxt n ON n.x = w.cx AND n.y = w.cy),
    term AS MATERIALIZED (
      SELECT sx, sy, cx AS sink_x, cy AS sink_y FROM walk
      WHERE NOT EXISTS (
        SELECT 1 FROM nxt n WHERE n.x = walk.cx AND n.y = walk.cy)),
    sizes AS (
      SELECT sink_x, sink_y, CAST(count(*) AS BIGINT) AS basin_n
      FROM term GROUP BY 1, 2)
    SELECT CAST(22 AS INT) AS z, t.sx AS x, t.sy AS y,
           t.sink_x, t.sink_y, s.basin_n
    FROM term t JOIN sizes s USING (sink_x, sink_y)
"""


_TILE_BLOBS_SQL = f"""
    WITH RECURSIVE pts AS (
      SELECT ({LAT_IN}) AS lat, ({LON_IN}) AS lon FROM events),
    counts AS MATERIALIZED (
      SELECT CAST(FLOOR((lon + 180) / 360 * pow(2, 22)) AS BIGINT) AS x,
             CAST(FLOOR((1 - ln(tan(radians(lat)) + 1/cos(radians(lat)))/pi())/2
                  * pow(2, 22)) AS BIGINT) AS y,
             CAST(count(*) AS BIGINT) AS cnt
      FROM pts GROUP BY 1, 2),
    offs AS (SELECT dx, dy FROM (SELECT unnest([-1, 0, 1]) AS dx),
                                (SELECT unnest([-1, 0, 1]) AS dy)
             WHERE NOT (dx = 0 AND dy = 0)),
    adj AS MATERIALIZED (
      SELECT c.x, c.y, nb.x AS nx, nb.y AS ny
      FROM counts c CROSS JOIN offs o
      JOIN counts nb
        ON nb.x = (c.x + o.dx + 4194304) % 4194304 AND nb.y = c.y + o.dy
      WHERE c.y + o.dy >= 0 AND c.y + o.dy < 4194304),
    nbrc AS (SELECT x, y, CAST(count(*) AS BIGINT) AS nnbr
             FROM adj GROUP BY 1, 2),
    edges AS MATERIALIZED (
      SELECT x * 67108864 + y AS src, nx * 67108864 + ny AS dst FROM adj),
    reach AS (
      SELECT src AS id, dst AS r FROM edges
      UNION
      SELECT e.src, rch.r FROM edges e JOIN reach rch ON rch.id = e.dst),
    labels AS (SELECT id, least(id, min(r)) AS blob FROM reach GROUP BY id),
    lab AS MATERIALIZED (
      SELECT c.x, c.y, c.cnt,
             coalesce(l.blob, c.x * 67108864 + c.y) AS blob
      FROM counts c LEFT JOIN labels l ON l.id = c.x * 67108864 + c.y),
    stats AS (SELECT blob, CAST(count(*) AS BIGINT) AS blob_n,
                     CAST(sum(cnt) AS BIGINT) AS blob_mass
              FROM lab GROUP BY 1)
    SELECT CAST(22 AS INT) AS z, a.x, a.y, a.cnt,
           a.blob // 67108864 AS blob_x, a.blob % 67108864 AS blob_y,
           s.blob_n, s.blob_mass,
           coalesce(nb.nnbr, 0) < 8 AS is_boundary
    FROM lab a JOIN stats s USING (blob)
    LEFT JOIN nbrc nb ON nb.x = a.x AND nb.y = a.y
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


_Z22_COUNTS_CTES = f"""pts AS (
      SELECT ({LAT_IN}) AS lat, ({LON_IN}) AS lon FROM events),
    counts AS MATERIALIZED (
      SELECT CAST(FLOOR((lon + 180) / 360 * pow(2, 22)) AS BIGINT) AS x,
             CAST(FLOOR((1 - ln(tan(radians(lat)) + 1/cos(radians(lat)))/pi())/2
                  * pow(2, 22)) AS BIGINT) AS y,
             CAST(count(*) AS BIGINT) AS cnt
      FROM pts GROUP BY 1, 2)"""


def _morph_close_sql() -> str:
    """Oracle twin of rasterops.morph_close: dilate (9-offset scatter +
    DISTINCT), erode (support count = 9 over the dilated set), left join
    the occupancy back for the fill flag — verbatim set algebra."""
    return f"""
    WITH {_Z22_COUNTS_CTES},
    box AS (SELECT dx, dy FROM (SELECT unnest([-1, 0, 1]) AS dx),
                                (SELECT unnest([-1, 0, 1]) AS dy)),
    dil AS MATERIALIZED (
      SELECT DISTINCT (c.x + o.dx + 4194304) % 4194304 AS x, c.y + o.dy AS y
      FROM counts c CROSS JOIN box o
      WHERE c.y + o.dy >= 0 AND c.y + o.dy < 4194304),
    sup AS (
      SELECT (d.x + o.dx + 4194304) % 4194304 AS x, d.y + o.dy AS y,
             count(*) AS sup
      FROM dil d CROSS JOIN box o
      WHERE d.y + o.dy >= 0 AND d.y + o.dy < 4194304
      GROUP BY 1, 2),
    closed AS (
      SELECT s.x, s.y FROM sup s JOIN dil USING (x, y) WHERE s.sup = 9)
    SELECT CAST(22 AS INT) AS z, cl.x, cl.y,
           CAST(CASE WHEN c.cnt IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
             AS occupied,
           CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
    FROM closed cl LEFT JOIN counts c ON c.x = cl.x AND c.y = cl.y
"""


def _erosion_depth_sql(max_r: int = 3) -> str:
    """Oracle twin of rasterops.erosion_depth: the SAME ring-tagged
    offset disk (single-sourced from rasterops.offset_disk) + grid
    equi-join + first-incomplete-ring CASE."""
    from extractors_metadata_spark.operators.rasterops import offset_disk

    vals = ", ".join(f"({dx}, {dy}, {r})" for dx, dy, r in offset_disk(1, max_r))
    sums = ",\n             ".join(
        f"sum(CASE WHEN o.r = {r} THEN 1 ELSE 0 END) AS r{r}"
        for r in range(1, max_r + 1)
    )
    case = " ".join(
        f"WHEN coalesce(rc.r{r}, 0) < {8 * r} THEN {r}"
        for r in range(1, max_r + 1)
    )
    return f"""
    WITH {_Z22_COUNTS_CTES},
    offs AS (SELECT * FROM (VALUES {vals}) AS t(dx, dy, r)),
    rc AS (
      SELECT c.x, c.y,
             {sums}
      FROM counts c CROSS JOIN offs o
      JOIN counts nb
        ON nb.x = (c.x + o.dx + 4194304) % 4194304 AND nb.y = c.y + o.dy
      WHERE c.y + o.dy >= 0 AND c.y + o.dy < 4194304
      GROUP BY 1, 2)
    SELECT CAST(22 AS INT) AS z, c.x, c.y, c.cnt,
           CAST(CASE {case} ELSE {max_r + 1} END AS BIGINT) AS depth
    FROM counts c LEFT JOIN rc ON rc.x = c.x AND rc.y = c.y
"""


_RASTER_RLE_SQL = f"""
    WITH {_Z22_COUNTS_CTES},
    strt AS (
      SELECT y, x, cnt,
             CASE WHEN x - lag(x) OVER (PARTITION BY y ORDER BY x) = 1
                  THEN 0 ELSE 1 END AS nw
      FROM counts),
    rr AS (
      SELECT y, x, cnt,
             sum(nw) OVER (PARTITION BY y ORDER BY x
                           ROWS UNBOUNDED PRECEDING) AS run
      FROM strt)
    SELECT CAST(22 AS INT) AS z, y, min(x) AS x_start,
           CAST(count(*) AS BIGINT) AS run_len,
           CAST(sum(cnt) AS BIGINT) AS mass
    FROM rr GROUP BY y, run
"""


_VORONOI_ALLOC_SQL = f"""
    WITH {_Z22_COUNTS_CTES},
    seeds AS (
      SELECT x AS sx, y AS sy FROM (
        SELECT x, y, row_number() OVER (ORDER BY cnt DESC, x ASC, y ASC) AS rk
        FROM counts) WHERE rk <= 12),
    scored AS (
      SELECT c.x, c.y, c.cnt, s.sx, s.sy,
             least(abs(c.x - s.sx), 4194304 - abs(c.x - s.sx))
               * least(abs(c.x - s.sx), 4194304 - abs(c.x - s.sx))
               + (c.y - s.sy) * (c.y - s.sy) AS d2
      FROM counts c CROSS JOIN seeds s),
    ranked AS (
      SELECT x, y, cnt, sx, sy, d2,
             row_number() OVER (PARTITION BY x, y
                                ORDER BY d2 ASC, sx ASC, sy ASC) AS rk
      FROM scored)
    SELECT CAST(22 AS INT) AS z, x, y, cnt,
           sx AS seed_x, sy AS seed_y, CAST(d2 AS BIGINT) AS d2
    FROM ranked WHERE rk = 1
"""


_ANCHOR_PAGES_CTE = r"""pg AS (
      SELECT 'https://site.example/e' || CAST(event_id AS VARCHAR) AS src_url,
             '<html><body>'
             || '<a href="https://h' || CAST(((event_id + 1) % 2000) % 7 AS VARCHAR)
             || '.example/e' || CAST((event_id + 1) % 2000 AS VARCHAR) || '">x</a>'
             || '<a href="https://h' || CAST(((event_id * 7 + 3) % 2000) % 7 AS VARCHAR)
             || '.example/e' || CAST((event_id * 7 + 3) % 2000 AS VARCHAR) || '">x</a>'
             || CASE WHEN event_id % 3 = 0 THEN
                  '<a href="https://h' || CAST((event_id // 3) % 7 AS VARCHAR)
                  || '.example/e' || CAST(event_id // 3 AS VARCHAR) || '">x</a>'
                ELSE '' END
             || '</body></html>' AS html
      FROM events WHERE event_id < 2000),
    lk AS (
      SELECT src_url,
             regexp_extract_all(html, '<a href="([^"]+)"', 1) AS arr
      FROM pg),
    links AS (
      SELECT src_url, CAST(u.p AS INT) AS pos, arr[u.p] AS dst_url
      FROM lk, unnest(range(1, len(arr) + 1)) AS u(p))"""


_ROBOTS_RULES = [("/e1", False), ("/e12", True), ("/e3", False), ("/e", True)]

_ROBOTS_SQL = (
    "WITH "
    + _ANCHOR_PAGES_CTE.split(",\n    lk AS")[0]  # pg CTE only
    + """,
    scored AS (
      SELECT src_url AS url,
             regexp_extract(src_url, '^https?://[^/]+(/.*)$', 1) AS path
      FROM pg)
    SELECT url, path,
           GREATEST("""
    + ", ".join(
        f"CASE WHEN starts_with(path, '{p}') THEN {len(p) * 2 + (1 if a else 0)} ELSE -1 END"
        for p, a in _ROBOTS_RULES
    )
    + """) AS rule_score,
           (GREATEST("""
    + ", ".join(
        f"CASE WHEN starts_with(path, '{p}') THEN {len(p) * 2 + (1 if a else 0)} ELSE -1 END"
        for p, a in _ROBOTS_RULES
    )
    + """) < 0 OR GREATEST("""
    + ", ".join(
        f"CASE WHEN starts_with(path, '{p}') THEN {len(p) * 2 + (1 if a else 0)} ELSE -1 END"
        for p, a in _ROBOTS_RULES
    )
    + """) % 2 = 1) AS crawlable
    FROM scored
"""
)


_OUTLINKS_SQL = f"""
    WITH {_ANCHOR_PAGES_CTE}
    SELECT src_url, pos, dst_url FROM links
"""


_HOST_GRAPH_SQL = f"""
    WITH {_ANCHOR_PAGES_CTE}
    SELECT regexp_extract(src_url, '^https?://([^/]+)/', 1) AS src_host,
           regexp_extract(dst_url, '^https?://([^/]+)/', 1) AS dst_host,
           CAST(count(*) AS BIGINT) AS n_links
    FROM links GROUP BY 1, 2
"""


def _crawl_schedule_sql(n_workers: int = 8, delay_ms: int = 1000) -> str:
    """plans/links.crawl_schedule mirror: the anchor-pages link CTE, the
    per-host fetch-queue window, and the literal mix31(poly) host->worker
    pin."""
    return f"""
        WITH {_ANCHOR_PAGES_CTE},
        fr AS (SELECT dst_url AS url,
                      regexp_extract(dst_url, '^https?://([^/]+)/', 1) AS host,
                      CAST(count(DISTINCT src_url) AS BIGINT) AS n_inlinks
               FROM links GROUP BY 1, 2),
        ph AS (SELECT url, host, n_inlinks,
                      {_poly_sql("'w:' || host", 131)} AS phh
               FROM fr),
        rk AS (SELECT url, host, n_inlinks, phh,
                      CAST(row_number() OVER (
                        PARTITION BY host
                        ORDER BY n_inlinks DESC, url ASC) AS INT) AS fetch_rank
               FROM ph)
        SELECT url, host, n_inlinks, fetch_rank,
               CAST((fetch_rank - 1) AS BIGINT) * {int(delay_ms)} AS fetch_time_ms,
               CAST(({_mix31_sql("phh")}) % {int(n_workers)} AS INT) AS worker
        FROM rk
    """


def _dtw_sql(
    max_users: int = 30,
    max_len: int = 24,
    band: int = 6,
    mode: str = "minplus",
    out_col: str = "dtw",
    eps: int = 0,
) -> str:
    """operators/dtw.dtw_pairs mirror: capped ordered tracks, the banded
    DP lattice, and the recurrence unrolled as ANTI-DIAGONAL stages —
    diagonal k reads only diagonals k-1 and k-2, so each stage is two
    LEFT JOINs against the previous stage plus one against the stage
    before it (MATERIALIZED: each is referenced by the next two stages
    and the ends union). Out-of-band/boundary predecessors coalesce to
    the same sentinel the engine uses: INF for the min modes, 0 (the
    empty-prefix LCS value) for ``lcss``, whose lattice column d is the
    0/1 eps-match flag instead of the Manhattan cost."""
    inf = 1 << 61
    kmax = 2 * max_len - 2
    lcss = mode == "lcss"
    sw = mode == "swalign"
    edr = mode == "edr"
    stages = []
    for k in range(1, kmax + 1):
        p3 = (
            f"""LEFT JOIN dw{k - 2} p3 ON p3.u_a = l.u_a AND p3.u_b = l.u_b
                       AND p3.i = l.i - 1 AND p3.j = l.j - 1"""
            if k >= 2
            else ""
        )
        if lcss:
            p3cost = "coalesce(p3.cost, 0)" if k >= 2 else "0"
            combine = (
                f"""CASE WHEN l.d = 1 THEN 1 + {p3cost}
                         ELSE greatest(coalesce(p1.cost, 0),
                                       coalesce(p2.cost, 0)) END"""
            )
        elif sw:
            p3cost = "coalesce(p3.cost, 0)" if k >= 2 else "0"
            combine = (
                f"""greatest(0,
                             {p3cost} + CASE WHEN l.d = 1 THEN 2 ELSE -1 END,
                             coalesce(p1.cost, 0) - 1,
                             coalesce(p2.cost, 0) - 1)"""
            )
        elif edr:
            p3cost = f"coalesce(p3.cost, {inf})" if k >= 2 else str(inf)
            combine = (
                f"""least(coalesce(p1.cost, {inf}) + 1,
                             coalesce(p2.cost, {inf}) + 1,
                             {p3cost}
                               + CASE WHEN l.d = 1 THEN 0 ELSE 1 END)"""
            )
        else:
            p3cost = f"coalesce(p3.cost, {inf})" if k >= 2 else str(inf)
            best = (
                f"""least(coalesce(p1.cost, {inf}),
                             coalesce(p2.cost, {inf}),
                             {p3cost})"""
            )
            combine = (
                f"l.d + {best}"
                if mode == "minplus"
                else f"greatest(l.d, {best})"
            )
        stages.append(f"""
        dw{k} AS MATERIALIZED (
          SELECT l.u_a, l.u_b, l.i, l.j,
                 {combine} AS cost
          FROM lat l
          LEFT JOIN dw{k - 1} p1 ON p1.u_a = l.u_a AND p1.u_b = l.u_b
                     AND p1.i = l.i - 1 AND p1.j = l.j
          LEFT JOIN dw{k - 1} p2 ON p2.u_a = l.u_a AND p2.u_b = l.u_b
                     AND p2.i = l.i AND p2.j = l.j - 1
          {p3}
          WHERE l.i + l.j = {k})""")
    if sw:
        # local alignment: the answer is the best cell ANYWHERE in the
        # lattice (zero floor restarts), not the end cell
        allcells = "\n            UNION ALL\n".join(
            f"            SELECT u_a, u_b, cost FROM dw{k}"
            for k in range(0, kmax + 1)
        )
        ends = f"""          SELECT p.u_a, p.u_b, p.n_a, p.n_b,
                 CAST(greatest(max(ac.cost), 0) AS BIGINT) AS {out_col}
          FROM prs p JOIN (
{allcells}) ac ON ac.u_a = p.u_a AND ac.u_b = p.u_b
          GROUP BY p.u_a, p.u_b, p.n_a, p.n_b"""
    else:
        ends = "\n          UNION ALL\n".join(
            f"""          SELECT p.u_a, p.u_b, p.n_a, p.n_b, dk.cost AS {out_col}
          FROM dw{k} dk JOIN prs p ON p.u_a = dk.u_a AND p.u_b = dk.u_b
          WHERE dk.i = p.n_a - 1 AND dk.j = p.n_b - 1"""
            for k in range(0, kmax + 1)
        )
    return f"""
        WITH seqp AS MATERIALIZED (
          SELECT user_id AS u,
                 CAST(round_even(({LON_IN}) * 1000000.0, 0) AS BIGINT)
                   + 180000000 AS qx,
                 CAST(round_even(({LAT_IN}) * 1000000.0, 0) AS BIGINT)
                   + 90000000 AS qy,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS s
          FROM events WHERE user_id < {max_users}),
        tp AS MATERIALIZED (
          SELECT u, qx, qy, s - 1 AS idx FROM seqp WHERE s <= {max_len}),
        sz AS (SELECT u, CAST(count(*) AS BIGINT) AS n FROM tp GROUP BY u),
        prs AS MATERIALIZED (
          SELECT a.u AS u_a, b.u AS u_b, a.n AS n_a, b.n AS n_b
          FROM sz a JOIN sz b ON a.u < b.u
          WHERE abs(a.n - b.n) <= {band}),
        lat AS MATERIALIZED (
          SELECT p.u_a, p.u_b, x.idx AS i, y.idx AS j,
                 {f"CASE WHEN abs(x.qx - y.qx) <= {eps} AND abs(x.qy - y.qy) <= {eps} THEN 1 ELSE 0 END" if (lcss or sw or edr) else "abs(x.qx - y.qx) + abs(x.qy - y.qy)"} AS d
          FROM prs p
          JOIN tp x ON x.u = p.u_a
          JOIN tp y ON y.u = p.u_b
          WHERE abs(x.idx - y.idx) <= {band}),
        dw0 AS MATERIALIZED (
          SELECT u_a, u_b, i, j,
                 CAST({"CASE WHEN d = 1 THEN 2 ELSE 0 END" if sw else ("CASE WHEN d = 1 THEN 0 ELSE 1 END" if edr else "d")} AS BIGINT) AS cost
          FROM lat WHERE i = 0 AND j = 0),
        {",".join(stages)}
{ends}
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
    MATERIALIZED stage per step (stage t reads only stage t-1 — the
    sequential bpe/cost_distance shape, t_len stages), then the
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


def _simrank_sql(
    rounds: int = 3, node_cap: int = 200, c_num: int = 4, c_den: int = 5
) -> str:
    """operators/linkgraph.simrank mirror: the zipf induced subgraph,
    identity start, each round one in-neighbor-pair scatter + floor
    division, unrolled verbatim (the pagerank stage recipe)."""
    from extractors_metadata_spark.operators.linkgraph import SR_MASS

    stages = []
    prev = "s0"
    for t in range(1, rounds + 1):
        stages.append(f"""
        o{t} AS MATERIALIZED (
          SELECT q.a, q.b,
                 ({c_num} * q.num) // ({c_den} * d1.din * d2.din) AS s
          FROM (SELECT e1.dst AS a, e2.dst AS b,
                       CAST(sum(p.s) AS BIGINT) AS num
                FROM {prev} p
                JOIN el e1 ON e1.src = p.a
                JOIN el e2 ON e2.src = p.b
                WHERE e1.dst != e2.dst GROUP BY 1, 2) q
          JOIN din d1 ON d1.node = q.a
          JOIN din d2 ON d2.node = q.b),
        s{t} AS MATERIALIZED (
          SELECT a, b, s FROM s0
          UNION ALL SELECT a, b, s FROM o{t} WHERE s > 0)""")
        prev = f"s{t}"
    return f"""
        WITH edges0 AS (
          SELECT DISTINCT (event_id * 131 + user_id) % 1000 AS src,
                 1000 // (1 + (event_id % 1000)) AS dst
          FROM events),
        el AS MATERIALIZED (
          SELECT DISTINCT src, dst FROM edges0
          WHERE src != dst AND src < {node_cap} AND dst < {node_cap}),
        din AS (SELECT dst AS node, CAST(count(*) AS BIGINT) AS din
                FROM el GROUP BY 1),
        nodes AS (SELECT DISTINCT node FROM (
            SELECT src AS node FROM el
            UNION ALL SELECT dst AS node FROM el) q),
        s0 AS (SELECT node AS a, node AS b,
                      CAST({SR_MASS} AS BIGINT) AS s FROM nodes),
        {",".join(stages)}
        SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
               s AS simrank_fp
        FROM {prev} WHERE a < b
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


def _redirects_sql(rounds: int = 12, n: int = 1000) -> str:
    """plans/links.resolve_redirects mirror: the synthetic functional
    graph (terminals v % 5 = 0 as self-loops, else t = (3v+7) % n —
    2v = -7 mod n has no solution, so no accidental fixpoints), the
    min-carry pointer doubling unrolled, the fixpoint/loop CASE."""
    stages = []
    prev = "pt0"
    for k in range(1, rounds + 1):
        stages.append(f"""
        pt{k} AS MATERIALIZED (
          SELECT a.v, b.p AS p, least(a.mn, b.mn) AS mn
          FROM {prev} a JOIN {prev} b ON b.v = a.p)""")
        prev = f"pt{k}"
    return f"""
        WITH rd AS MATERIALIZED (
          SELECT DISTINCT event_id AS v,
                 CASE WHEN event_id % 5 = 0 THEN event_id
                      ELSE (3 * event_id + 7) % {n} END AS t
          FROM events WHERE event_id < {n}),
        pt0 AS (SELECT v, t AS p, least(v, t) AS mn FROM rd),
        {",".join(stages)},
        fix AS (SELECT v AS p FROM rd WHERE v = t)
        SELECT CAST(a.v AS BIGINT) AS url_id,
               CAST(CASE WHEN f.p IS NOT NULL THEN a.p ELSE m.mn END
                 AS BIGINT) AS resolved_id,
               CASE WHEN f.p IS NOT NULL THEN 'canonical'
                    ELSE 'loop' END AS status
        FROM {prev} a
        LEFT JOIN fix f ON f.p = a.p
        JOIN {prev} m ON m.v = a.p
    """


def _anchor_text_sql(k: int = 3, n_pages: int = 2000) -> str:
    """plans/links.anchor_text_index mirror over the varying-text probe:
    symbolic page construction with the ANCHOR_WORDS literal list
    (imported — single source), regexp_extract_all per group, subscript
    zip, the same (n DESC, text) top-k window."""
    from extractors_metadata_spark.plans.links import (
        ANCHOR_TEXT_RE,
        ANCHOR_WORDS,
    )

    wl = "[" + ", ".join(f"'{w}'" for w in ANCHOR_WORDS) + "]"

    def anchor(jexpr: str, o: int) -> str:
        return (
            f"'<a href=\"https://h' || CAST(({jexpr}) % 7 AS VARCHAR)"
            f" || '.example/e' || CAST({jexpr} AS VARCHAR) || '\">'"
            f" || ({wl})[CAST((event_id * 13 + {o}) % 8 AS INT) + 1]"
            f" || '</a>'"
        )

    return f"""
        WITH pg AS (
          SELECT '<html><body>'
                 || {anchor(f"(event_id + 1) % {n_pages}", 1)}
                 || {anchor(f"(event_id * 7 + 3) % {n_pages}", 2)}
                 || CASE WHEN event_id % 3 = 0
                         THEN {anchor(f"event_id // 3", 3)}
                         ELSE '' END
                 || '</body></html>' AS html
          FROM events WHERE event_id < {n_pages}),
        lk AS (
          SELECT regexp_extract_all(html, '{ANCHOR_TEXT_RE}', 1) AS hl,
                 regexp_extract_all(html, '{ANCHOR_TEXT_RE}', 2) AS tl
          FROM pg),
        pairs AS (
          SELECT hl[u.p] AS dst_url, tl[u.p] AS text
          FROM lk, unnest(range(1, len(hl) + 1)) AS u(p)),
        cnts AS (
          SELECT dst_url, text, CAST(count(*) AS BIGINT) AS n
          FROM pairs GROUP BY 1, 2),
        rk AS (
          SELECT dst_url, text, n,
                 CAST(row_number() OVER (
                   PARTITION BY dst_url
                   ORDER BY n DESC, text ASC) AS BIGINT) AS rnk
          FROM cnts)
        SELECT dst_url, rnk, text, n FROM rk WHERE rnk <= {k}
    """


def _bootstrap_sql(b: int = 32) -> str:
    """operators/sampling.bootstrap_stats mirror: the SAME
    poisson_cutoffs integer thresholds (imported from the operator —
    single source, the sprt_constants rule), the replayable hash
    family, one rep-keyed agg."""
    from extractors_metadata_spark.operators.sampling import (
        poisson_cutoffs,
    )

    wexpr = " + ".join(
        f"CASE WHEN h >= {c} THEN 1 ELSE 0 END" for c in poisson_cutoffs()
    )
    tok = (
        r"CASE WHEN length(trim(text)) = 0 THEN 0 "
        r"ELSE len(string_split_regex(trim(text), '\s+')) END"
    )
    ph = _poly_sql(
        "'boot:' || CAST(rep_id AS VARCHAR) || ':' || CAST(id AS VARCHAR)",
        131,
    )
    return f"""
        WITH base AS MATERIALIZED (
          SELECT doc_id AS id, CAST({tok} AS BIGINT) AS n_tok
          FROM documents),
        ex AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(sum(n_tok) AS BIGINT) AS tokens FROM base),
        reps AS (SELECT b.id, b.n_tok, r.range AS rep_id
                 FROM base b, range({b}) r),
        h0 AS (SELECT rep_id, n_tok, {ph} AS hr FROM reps),
        h1 AS (SELECT rep_id, n_tok, {_mix31_sql('hr')} AS h FROM h0),
        wg AS (SELECT rep_id, n_tok, {wexpr} AS w FROM h1),
        st AS (SELECT rep_id, CAST(sum(w) AS BIGINT) AS n_docs_w,
                      CAST(sum(w * n_tok) AS BIGINT) AS tokens_w
               FROM wg GROUP BY rep_id)
        SELECT CAST(rep_id AS BIGINT) AS rep_id, n_docs_w, tokens_w,
               n_docs, tokens
        FROM st, ex
    """


def _anf_sql(hops: int = 4, p: int = 6, n_groups: int = 16) -> str:
    """operators/linkgraph.anf_registers mirror: the zipf subgraph
    (full 1000-node graph), hll_sketch's bucket/rank construction per
    node, ``hops`` unrolled register-max rounds, per-hop group rollups
    unioned."""
    m = 1 << p
    ph = _poly_sql("'anf:' || CAST(node AS VARCHAR)", 131)
    pb = _poly_sql("'anf:' || CAST(node AS VARCHAR)", 137)
    stages = []
    outs = []
    prev = "r0"
    for h in range(1, hops + 1):
        stages.append(f"""
        r{h} AS MATERIALIZED (
          SELECT node, bucket, max(rho) AS rho FROM (
            SELECT node, bucket, rho FROM {prev}
            UNION ALL
            SELECT el.src AS node, pr.bucket, pr.rho
            FROM el JOIN {prev} pr ON pr.node = el.dst) q
          GROUP BY node, bucket)""")
        outs.append(f"""          SELECT CAST({h} AS BIGINT) AS hop,
                 CAST(node % {n_groups} AS BIGINT) AS grp,
                 CAST(bucket AS BIGINT) AS bucket,
                 CAST(max(rho) AS BIGINT) AS max_rho
          FROM r{h} GROUP BY 2, 3""")
        prev = f"r{h}"
    body = "\n          UNION ALL\n".join(outs)
    return f"""
        WITH edges0 AS (
          SELECT DISTINCT (event_id * 131 + user_id) % 1000 AS src,
                 1000 // (1 + (event_id % 1000)) AS dst
          FROM events),
        el AS MATERIALIZED (
          SELECT src, dst FROM edges0 WHERE src != dst),
        nodes AS (SELECT DISTINCT node FROM (
            SELECT src AS node FROM el
            UNION ALL SELECT dst AS node FROM el) q),
        kh AS (SELECT node, {ph} AS wr, {pb} AS br FROM nodes),
        km AS (SELECT node, {_mix31_sql('wr')} AS w,
                      {_mix31_sql('br')} AS bh FROM kh),
        r0 AS MATERIALIZED (
          SELECT node, bh % {m} AS bucket,
                 CASE WHEN w = 0 THEN 32
                      ELSE 32 - length(bin(w)) END AS rho
          FROM km),
        {",".join(stages)}
{body}
    """


def _jenks_sql(k: int = 5, n: int = 864) -> str:
    """operators/jenks.jenks_breaks mirror: same lattice values, prefix
    sums (tie order irrelevant — equal values commute through P/PP),
    the 2^-20 fixed-point cost table, k unrolled DP stages with the
    packed (F*1024 + j) argmin, scalar-subquery backtrack chain."""
    kfp = 1 << 20
    stages = []
    prev = None
    for t in range(2, k + 1):
        stages.append(f"""
        f{t} AS MATERIALIZED (
          SELECT i, key // 1024 AS fv, key % 1024 AS bk FROM (
            SELECT c.i, min((f.fv + c.cst) * 1024 + c.j) AS key
            FROM cost c JOIN f{t - 1} f ON f.i = c.j
            GROUP BY c.i) q)""")
        prev = f"f{t}"
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


def _bowtie_sql(hops: int = 4) -> str:
    """operators/linkgraph.bowtie_classes mirror: the zipf edge map,
    max-degree seed (row_number tie-break), TWO directed delta-BFS
    unrolls (forward on src->dst, backward on the reversed arcs — the
    _k_hop_sql stage recipe without symmetrization), the 4-way class
    CASE, one group count."""

    def stages(tag: str, src: str, dst: str) -> tuple[list[str], str]:
        out = []
        prev_s, prev_f = f"{tag}0", f"{tag}0"
        for i in range(1, hops + 1):
            out.append(f"""
        {tag}n{i} AS (
          SELECT DISTINCT el.{dst} AS node
          FROM el JOIN {prev_f} f ON el.{src} = f.node),
        {tag}new{i} AS MATERIALIZED (
          SELECT node FROM (
            SELECT node FROM {tag}n{i}
            EXCEPT SELECT node FROM {prev_s}) q),
        {tag}{i} AS MATERIALIZED (
          SELECT node FROM {prev_s}
          UNION ALL SELECT node FROM {tag}new{i})""")
            prev_s, prev_f = f"{tag}{i}", f"{tag}new{i}"
        return out, prev_s

    fw, flast = stages("fw", "src", "dst")
    bw, blast = stages("bw", "dst", "src")
    return f"""
        WITH edges AS (
          SELECT DISTINCT (event_id * 131 + user_id) % 1000 AS src,
                 1000 // (1 + (event_id % 1000)) AS dst
          FROM events),
        el AS MATERIALIZED (SELECT src, dst FROM edges WHERE src != dst),
        nodes AS (SELECT DISTINCT node FROM (
            SELECT src AS node FROM edges
            UNION ALL SELECT dst AS node FROM edges) q),
        deg AS (SELECT node, CAST(count(*) AS BIGINT) AS dg FROM (
            SELECT src AS node FROM el
            UNION ALL SELECT dst AS node FROM el) q GROUP BY 1),
        sd AS (SELECT node FROM (
            SELECT node, row_number() OVER (ORDER BY dg DESC, node) AS rn
            FROM deg) q WHERE rn = 1),
        fw0 AS (SELECT node FROM sd),
        bw0 AS (SELECT node FROM sd),
        {",".join(fw + bw)},
        clsf AS (
          SELECT CASE WHEN f.node IS NOT NULL AND b.node IS NOT NULL
                        THEN 'core'
                      WHEN b.node IS NOT NULL THEN 'in'
                      WHEN f.node IS NOT NULL THEN 'out'
                      ELSE 'disconnected' END AS cls
          FROM nodes n
          LEFT JOIN (SELECT DISTINCT node FROM {flast}) f
            ON f.node = n.node
          LEFT JOIN (SELECT DISTINCT node FROM {blast}) b
            ON b.node = n.node)
        SELECT cls, CAST(count(*) AS BIGINT) AS n_nodes
        FROM clsf GROUP BY 1
    """


def _polyline_sql(max_len: int = 24) -> str:
    """operators/polyline.polyline_tracks mirror: same capped ordered
    tracks and micro-degree round_even quantize, delta -> zigzag ->
    5-bit chunk emission unrolled to 7 fixed CASE stages per value
    (chunk i is final iff value >> 5(i+1) = 0; empty iff the value ran
    out and i > 0), string_agg ORDER BY the sequence."""

    def chunks(col: str) -> str:
        parts = []
        for i in range(7):
            sh = 5 * i
            final = f"chr(CAST(63 + (({col} >> {sh}) & 31) AS INTEGER))"
            cont = f"chr(CAST(95 + (({col} >> {sh}) & 31) AS INTEGER))"
            if i == 0:
                parts.append(
                    f"CASE WHEN ({col} >> 5) = 0 THEN {final} ELSE {cont} END"
                )
            else:
                parts.append(
                    f"""CASE WHEN ({col} >> {sh}) = 0 THEN ''
                         WHEN ({col} >> {sh + 5}) = 0 THEN {final}
                         ELSE {cont} END"""
                )
        return " || ".join(parts)

    return f"""
        WITH seqp AS MATERIALIZED (
          SELECT user_id AS u,
                 CAST(round_even(({LAT_IN}) * 1000000.0, 0) AS BIGINT) AS qy,
                 CAST(round_even(({LON_IN}) * 1000000.0, 0) AS BIGINT) AS qx,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS s
          FROM events),
        tp AS MATERIALIZED (
          SELECT u, qy, qx, s FROM seqp WHERE s <= {max_len}),
        dl AS (
          SELECT u, s,
                 qy - coalesce(lag(qy) OVER w, 0) AS dy,
                 qx - coalesce(lag(qx) OVER w, 0) AS dx
          FROM tp WINDOW w AS (PARTITION BY u ORDER BY s)),
        zz AS (
          SELECT u, s,
                 CASE WHEN dy < 0 THEN (-dy) * 2 - 1 ELSE dy * 2 END AS sy,
                 CASE WHEN dx < 0 THEN (-dx) * 2 - 1 ELSE dx * 2 END AS sx
          FROM dl),
        enc AS (
          SELECT u, s, ({chunks("sy")}) || ({chunks("sx")}) AS pt
          FROM zz)
        SELECT u AS user_id, CAST(count(*) AS BIGINT) AS n_pts,
               string_agg(pt, '' ORDER BY s) AS polyline
        FROM enc GROUP BY u
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


_INGEST_RULES = [("/d1", False), ("/d12", True), ("/d3", False), ("/d", True)]


def _ingest_gate_sql() -> str:
    """q_ingest_gate mirror: robots longest-match GREATEST literals over
    the doc-path ruleset, the encoding replay as a derived table, contains
    blocklist (equivalent to the replace-length keep: both test 'no phrase
    occurs'), same first-match CASE."""
    score = ", ".join(
        f"CASE WHEN starts_with(path, '{p}') THEN {len(p) * 2 + (1 if a else 0)} ELSE -1 END"
        for p, a in _INGEST_RULES
    )
    bl_any = " OR ".join(f"contains(text, '{p}')" for p in _BLOCKLIST_PATS)
    return f"""
        WITH ig AS (
          SELECT doc_id, text,
                 'https://' || source || '.example/d' || CAST(doc_id AS VARCHAR)
                   AS url,
                 '/d' || CAST(doc_id AS VARCHAR) AS path
          FROM documents),
        igr AS (
          SELECT doc_id, text, url,
                 GREATEST({score}) AS rule_score
          FROM ig),
        ige AS (SELECT * FROM ({_encoding_scan_sql()}) t),
        igj AS (
          SELECT r.doc_id, r.url,
                 (r.rule_score < 0 OR r.rule_score % 2 = 1) AS crawlable,
                 e.encoding_ok,
                 NOT ({bl_any}) AS bl_keep
          FROM igr r JOIN ige e ON e.doc_id = r.doc_id)
        SELECT doc_id, url,
               CASE WHEN NOT crawlable THEN 'not_crawlable'
                    WHEN NOT encoding_ok THEN 'bad_encoding'
                    WHEN NOT bl_keep THEN 'blocklisted'
                    ELSE 'admitted' END AS reason,
               (crawlable AND encoding_ok AND bl_keep) AS admitted
        FROM igj
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


def _cost_distance_sql(rounds: int = 48) -> str:
    """q_cost_distance mirror: z22 counts, the (cnt_a+cnt_b)*{{2,3}}
    grid edge table, the hotspot seed, and ``rounds`` unrolled
    Bellman-Ford relaxation stages (the shortest_paths recipe)."""
    stages = []
    prev = "d0"
    for i in range(1, rounds + 1):
        stages.append(f"""
        d{i} AS MATERIALIZED (
          SELECT node, min(dist) AS dist FROM (
            SELECT node, dist FROM {prev}
            UNION ALL
            SELECT ew.dst AS node, d.dist + ew.w AS dist
            FROM ew JOIN {prev} d ON d.node = ew.src)
          GROUP BY node)""")
        prev = f"d{i}"
    body = ",".join(stages)
    return f"""
    WITH pts AS (
      SELECT ({LAT_IN}) AS lat, ({LON_IN}) AS lon FROM events),
    counts AS MATERIALIZED (
      SELECT CAST(FLOOR((lon + 180) / 360 * pow(2, 22)) AS BIGINT) AS x,
             CAST(FLOOR((1 - ln(tan(radians(lat)) + 1/cos(radians(lat)))/pi())/2
                  * pow(2, 22)) AS BIGINT) AS y,
             CAST(count(*) AS BIGINT) AS cnt
      FROM pts GROUP BY 1, 2),
    offs AS (SELECT dx, dy, CASE WHEN dx * dy = 0 THEN 2 ELSE 3 END AS m
             FROM (SELECT unnest([-1, 0, 1]) AS dx),
                  (SELECT unnest([-1, 0, 1]) AS dy)
             WHERE NOT (dx = 0 AND dy = 0)),
    ew AS MATERIALIZED (
      SELECT c.x * 67108864 + c.y AS src,
             nb.x * 67108864 + nb.y AS dst,
             (c.cnt + nb.cnt) * o.m AS w
      FROM counts c CROSS JOIN offs o
      JOIN counts nb
        ON nb.x = (c.x + o.dx + 4194304) % 4194304 AND nb.y = c.y + o.dy
      WHERE c.y + o.dy >= 0 AND c.y + o.dy < 4194304),
    obs AS (SELECT x * 67108864 + y AS node FROM counts
            ORDER BY cnt DESC, x ASC, y ASC LIMIT 1),
    d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM obs),
    {body}
    SELECT node // 67108864 AS x, node % 67108864 AS y,
           CAST(dist AS BIGINT) AS cost
    FROM {prev}
"""


def _isochrone_sql(band_width: int = 512, rounds: int = 48) -> str:
    """q_isochrone_bands mirror: the cost-distance chain as a wrapped
    CTE, cells banded by cost // band_width, the 8-offset scatter joined
    to the occupied grid, the different-band-or-unreachable boundary
    flag, and the per-band rollup."""
    return f"""
    WITH cd AS MATERIALIZED ({_cost_distance_sql(rounds)}),
    ibands AS MATERIALIZED (
      SELECT x, y, cost // {band_width} AS band FROM cd),
    ipts AS (SELECT ({LAT_IN}) AS lat, ({LON_IN}) AS lon FROM events),
    icounts AS MATERIALIZED (
      SELECT CAST(FLOOR((lon + 180) / 360 * pow(2, 22)) AS BIGINT) AS x,
             CAST(FLOOR((1 - ln(tan(radians(lat)) + 1/cos(radians(lat)))/pi())/2
                  * pow(2, 22)) AS BIGINT) AS y
      FROM ipts GROUP BY 1, 2),
    ioffs AS (SELECT dx, dy
              FROM (SELECT unnest([-1, 0, 1]) AS dx),
                   (SELECT unnest([-1, 0, 1]) AS dy)
              WHERE NOT (dx = 0 AND dy = 0)),
    inbr AS (
      SELECT b.x, b.y, b.band,
             (b.x + o.dx + 4194304) % 4194304 AS nx, b.y + o.dy AS ny
      FROM ibands b CROSS JOIN ioffs o
      WHERE b.y + o.dy >= 0 AND b.y + o.dy < 4194304),
    iflag AS (
      SELECT r.x, r.y, r.band,
             max(CASE WHEN nb.band IS NULL OR nb.band <> r.band
                 THEN 1 ELSE 0 END) AS b
      FROM inbr r JOIN icounts c ON c.x = r.nx AND c.y = r.ny
      LEFT JOIN ibands nb ON nb.x = r.nx AND nb.y = r.ny
      GROUP BY 1, 2, 3)
    SELECT bb.band, CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(coalesce(f.b, 0)) AS BIGINT) AS n_boundary
    FROM ibands bb LEFT JOIN iflag f
      ON f.x = bb.x AND f.y = bb.y AND f.band = bb.band
    GROUP BY bb.band
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


_EXACT_SUBSTR_SQL = r"""
    WITH arrs AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> length(x) > 0) AS arr
      FROM documents),
    base AS MATERIALIZED (
      SELECT doc_id, arr, len(arr) AS n FROM arrs WHERE len(arr) >= 20),
    win AS MATERIALIZED (
      SELECT doc_id, i AS pos, array_to_string(arr[i + 1 : i + 20], ' ') AS wkey
      FROM (SELECT doc_id, arr, unnest(range(len(arr) - 19)) AS i FROM base)),
    cnt AS (SELECT wkey, count(*) AS c FROM win GROUP BY 1),
    dup AS (
      SELECT w.doc_id, w.pos
      FROM win w JOIN cnt ON cnt.wkey = w.wkey WHERE cnt.c >= 2),
    isl AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS isl
      FROM (SELECT doc_id, pos,
                   CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                          ORDER BY pos) > 20 THEN 1 ELSE 0 END AS brk
            FROM dup)),
    seg AS (
      SELECT doc_id, isl, max(pos) - min(pos) + 20 AS cov,
             count(*) AS nw
      FROM isl GROUP BY 1, 2),
    per_doc AS (
      SELECT doc_id, CAST(sum(cov) AS BIGINT) AS dup_token_cov,
             CAST(sum(nw) AS BIGINT) AS dup_windows
      FROM seg GROUP BY 1)
    SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tokens,
           coalesce(p.dup_windows, 0) AS dup_windows,
           coalesce(p.dup_token_cov, 0) AS dup_token_cov
    FROM base b LEFT JOIN per_doc p ON p.doc_id = b.doc_id
"""


_SOURCE_DIVERGENCE_SQL = r"""
    WITH arrs AS (
      SELECT source, string_split_regex(trim(lower(text)), '\s+') AS arr
      FROM documents),
    tt AS (
      SELECT source, arr[i + 1] AS tok
      FROM (SELECT source, arr, unnest(range(len(arr))) AS i FROM arrs)
      WHERE length(arr[i + 1]) > 0),
    csw AS MATERIALIZED (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS csw
      FROM tt GROUP BY 1, 2),
    cw AS (SELECT tok, CAST(sum(csw) AS BIGINT) AS cw FROM csw GROUP BY 1),
    ns AS MATERIALIZED (
      SELECT source, CAST(sum(csw) AS BIGINT) AS ns FROM csw GROUP BY 1),
    n AS (SELECT CAST(sum(csw) AS BIGINT) AS n FROM csw),
    terms AS (
      SELECT c.source,
             CAST(round_even(
               (c.csw / s.ns) * ln((c.csw / s.ns) * (t.n / w.cw)) * 1e12,
               0) AS BIGINT) AS term_fp
      FROM csw c
      JOIN cw w ON w.tok = c.tok
      JOIN ns s ON s.source = c.source
      CROSS JOIN n t)
    SELECT t.source, CAST(count(*) AS BIGINT) AS n_words,
           s.ns AS n_tokens, CAST(sum(term_fp) AS BIGINT) AS kl_fp
    FROM terms t JOIN ns s ON s.source = t.source
    GROUP BY 1, 3
"""


_LM_QUALITY_SQL = r"""
    WITH arrs AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> length(x) > 0) AS arr
      FROM documents),
    big AS MATERIALIZED (
      SELECT doc_id, arr[i + 1] AS w1, arr[i + 2] AS w2
      FROM (SELECT doc_id, arr, unnest(range(len(arr) - 1)) AS i FROM arrs)),
    tr AS MATERIALIZED (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
      FROM big WHERE doc_id % 2 = 0 GROUP BY 1, 2),
    ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM tr GROUP BY 1),
    v AS (
      SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vsz
      FROM (SELECT w1 AS tok FROM big WHERE doc_id % 2 = 0
            UNION ALL
            SELECT w2 AS tok FROM big WHERE doc_id % 2 = 0)),
    terms AS (
      SELECT b.doc_id,
             CASE WHEN t.c12 IS NULL THEN 1 ELSE 0 END AS oov,
             CAST(round_even(
               ln(CAST(coalesce(t.c12, 0) + 1 AS DOUBLE)
                  / (coalesce(c.c1, 0) + v.vsz)) * 1e9, 0) AS BIGINT) AS fp
      FROM big b
      LEFT JOIN tr t ON t.w1 = b.w1 AND t.w2 = b.w2
      LEFT JOIN ctx c ON c.w1 = b.w1
      CROSS JOIN v
      WHERE b.doc_id % 2 = 1)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(oov) AS BIGINT) AS oov_bigrams,
           CAST(sum(fp) AS BIGINT) AS logprob_fp
    FROM terms GROUP BY 1
"""


_NAIVE_BAYES_SQL = r"""
    WITH arrs AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> length(x) > 0) AS arr
      FROM documents),
    toks AS MATERIALIZED (
      SELECT doc_id, lang, unnest(arr) AS tok FROM arrs),
    tr AS MATERIALIZED (
      SELECT lang, tok, CAST(count(*) AS BIGINT) AS cwc
      FROM toks WHERE doc_id % 2 = 0 GROUP BY 1, 2),
    tc AS MATERIALIZED (
      SELECT lang, CAST(sum(cwc) AS BIGINT) AS tc FROM tr GROUP BY 1),
    v AS (
      SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vsz
      FROM toks WHERE doc_id % 2 = 0),
    pri AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS nc
      FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
    ntr AS (SELECT CAST(count(*) AS BIGINT) AS n
            FROM documents WHERE doc_id % 2 = 0),
    prif AS (
      SELECT lang,
             CAST(round_even(ln(CAST(nc AS DOUBLE) / CAST(n AS DOUBLE))
                             * 1e9, 0) AS BIGINT) AS prior_fp
      FROM pri CROSS JOIN ntr),
    terms AS (
      SELECT t.doc_id, c.lang,
             CAST(round_even(
               ln(CAST(coalesce(w.cwc, 0) + 1 AS DOUBLE)
                  / CAST(c.tc + v.vsz AS DOUBLE)) * 1e9, 0) AS BIGINT) AS fp
      FROM toks t CROSS JOIN tc c
      LEFT JOIN tr w ON w.lang = c.lang AND w.tok = t.tok
      CROSS JOIN v
      WHERE t.doc_id % 2 = 1),
    sc AS MATERIALIZED (
      SELECT doc_id, lang, CAST(sum(fp) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n_tokens
      FROM terms GROUP BY 1, 2),
    scp AS (
      SELECT sc.doc_id, sc.lang, sc.s + p.prior_fp AS score_fp, sc.n_tokens
      FROM sc JOIN prif p USING (lang))
    SELECT b.doc_id, d.lang AS true_lang, b.lang AS pred_lang,
           CAST(b.score_fp AS BIGINT) AS score_fp, b.n_tokens
    FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                ORDER BY score_fp DESC, lang ASC) AS rn
      FROM scp) b
    JOIN documents d ON d.doc_id = b.doc_id
    WHERE b.rn = 1
"""


def _bpe_stages_sql(rounds: int, final: str | None = None) -> str:
    """Generated oracle for q_bpe_merges / q_bpe_encode: tokenize -> word
    frequencies -> ``rounds`` unrolled (pair-count argmax -> islands+parity
    merge) stage groups. Every s{r} is referenced twice (next round's pair
    count AND explode) -> MATERIALIZED (CLAUDE.md re-inlining rule).
    ``final`` overrides the closing SELECT (default: the merge table).

    bst{r} joins via LEFT JOIN ON 1=1, NOT CROSS JOIN: when the vocabulary
    exhausts before ``rounds`` (pr{r} empty), a cross join would empty
    every later stage, while the left join leaves b.l/b.r NULL -> cand=0
    -> s{r} = s{p} (identity round), mirroring the engine's early break
    in _learn (ADVICE r4)."""
    parts = [
        r"""
    WITH arrs AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS arr
      FROM documents),
    tt AS MATERIALIZED (
      SELECT doc_id, arr[i + 1] AS tok
      FROM (SELECT doc_id, arr, unnest(range(len(arr))) AS i FROM arrs)
      WHERE length(arr[i + 1]) > 0),
    s0 AS MATERIALIZED (
      SELECT tok AS word, CAST(count(*) AS BIGINT) AS freq,
             list_append(string_split(tok, ''), '</w>') AS syms
      FROM tt GROUP BY 1)"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(f"""
    pr{r} AS (
      SELECT syms[i + 1] AS l, syms[i + 2] AS r, CAST(sum(freq) AS BIGINT) AS cnt
      FROM (SELECT freq, syms, unnest(range(len(syms) - 1)) AS i FROM s{p})
      GROUP BY 1, 2),
    bst{r} AS MATERIALIZED (
      SELECT l, r, cnt FROM (
        SELECT *, row_number() OVER (ORDER BY cnt DESC, l ASC, r ASC) AS rn
        FROM pr{r})
      WHERE rn = 1),
    cd{r} AS (
      SELECT e.*, CASE WHEN s = b.l AND s_next IS NOT DISTINCT FROM b.r
                       THEN 1 ELSE 0 END AS cand
      FROM (SELECT word, freq, i, s,
                   lead(s) OVER (PARTITION BY word ORDER BY i) AS s_next
            FROM (SELECT word, freq, unnest(range(len(syms))) AS i,
                         unnest(syms) AS s FROM s{p})) e
      LEFT JOIN bst{r} b ON 1 = 1),
    gp{r} AS (
      SELECT *, sum(run_head) OVER (PARTITION BY word ORDER BY i
                                    ROWS UNBOUNDED PRECEDING) AS grp
      FROM (SELECT *, CASE WHEN cand = 1 AND coalesce(
                     lag(cand) OVER (PARTITION BY word ORDER BY i), 0) = 0
                 THEN 1 ELSE 0 END AS run_head FROM cd{r})),
    sl{r} AS (
      SELECT *, CASE WHEN cand = 1 AND (i - run_start) % 2 = 0
                     THEN 1 ELSE 0 END AS selected
      FROM (SELECT *, min(CASE WHEN cand = 1 THEN i END)
                        OVER (PARTITION BY word, grp) AS run_start
            FROM gp{r})),
    s{r} AS MATERIALIZED (
      SELECT word, freq,
             list(CASE WHEN selected = 1 THEN s || s_next ELSE s END
                  ORDER BY i) AS syms
      FROM (SELECT *, coalesce(lag(selected)
                        OVER (PARTITION BY word ORDER BY i), 0) AS absorbed
            FROM sl{r})
      WHERE absorbed = 0 GROUP BY word, freq)""")
    if final is None:
        final = "\n    UNION ALL ".join(
            f"SELECT {r} AS round, l AS left_sym, r AS right_sym, cnt AS pair_freq"
            f" FROM bst{r}"
            for r in range(1, rounds + 1)
        )
    return ",".join(parts) + "\n    " + final


def _bpe_encode_sql(rounds: int = 8) -> str:
    return _bpe_stages_sql(
        rounds,
        final=f"""
    SELECT tt.doc_id, CAST(count(*) AS BIGINT) AS ws_tokens,
           CAST(sum(len(s{rounds}.syms)) AS BIGINT) AS bpe_tokens
    FROM tt JOIN s{rounds} ON s{rounds}.word = tt.tok
    GROUP BY 1""",
    )


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


# Emerging-hotspot analysis (q_emerging_hotspots): the mann_kendall replay
# with a 3x3 scatter stage prepended — per (cell, day) the neighborhood
# activity sum (Gi* numerator per slice), then the exact S + tie-corrected
# variance numerator over each dilated cell's zero-filled daily series.
_EMERGING_HOTSPOTS_SQL = f"""
    WITH pts AS (
      SELECT (CAST(round_even(({LON_IN}) * 1000000000.0, 0) AS BIGINT)
              + 120000000000) // 200000 AS cx,
             CAST(round_even(({LAT_IN}) * 1000000000.0, 0) AS BIGINT)
               // 200000 AS cy,
             epoch_us(ts) // 86400000000 AS day
      FROM events),
    cnt AS (
      SELECT cx, cy, day, CAST(count(*) AS BIGINT) AS n
      FROM pts GROUP BY 1, 2, 3),
    offs AS (SELECT dx, dy
             FROM (SELECT unnest([-1, 0, 1]) AS dx),
                  (SELECT unnest([-1, 0, 1]) AS dy)),
    nbsum AS MATERIALIZED (
      SELECT c.cx + o.dx AS cx, c.cy + o.dy AS cy, c.day,
             CAST(sum(c.n) AS BIGINT) AS s
      FROM cnt c CROSS JOIN offs o
      GROUP BY 1, 2, 3),
    rng AS MATERIALIZED (
      SELECT min(day) AS lo, max(day) AS hi FROM nbsum),
    days AS MATERIALIZED (
      SELECT unnest(generate_series(lo, hi)) AS day FROM rng),
    grid AS MATERIALIZED (
      SELECT k.cx, k.cy, g.day, COALESCE(c.s, 0) AS c
      FROM (SELECT DISTINCT cx, cy FROM nbsum) k
      CROSS JOIN days g
      LEFT JOIN nbsum c ON c.cx = k.cx AND c.cy = k.cy AND c.day = g.day),
    s AS (
      SELECT a.cx, a.cy,
             CAST(sum(CASE WHEN b.c > a.c THEN 1
                           WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT)
               AS s_stat
      FROM grid a JOIN grid b
        ON a.cx = b.cx AND a.cy = b.cy AND b.day > a.day
      GROUP BY 1, 2),
    ties AS (
      SELECT cx, cy,
             CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS ties
      FROM (SELECT cx, cy, c, CAST(count(*) AS BIGINT) AS t
            FROM grid GROUP BY 1, 2, 3) q
      GROUP BY 1, 2),
    nb AS (SELECT hi - lo + 1 AS n_bins FROM rng)
    SELECT s.cx, s.cy,
           CAST((SELECT n_bins FROM nb) AS BIGINT) AS n_bins,
           s.s_stat,
           CAST((SELECT n_bins FROM nb) * ((SELECT n_bins FROM nb) - 1)
                * (2 * (SELECT n_bins FROM nb) + 5) - ties.ties AS BIGINT)
             AS var18
    FROM s JOIN ties ON s.cx = ties.cx AND s.cy = ties.cy
"""


# Mann-Kendall per-cell trend (operators/trend.py): exact S + tie-corrected
# var numerator over the ZERO-FILLED daily count series of every occupied
# cell. Same cell/day derivation as hotspot_persist; grid/cnt/rng are each
# referenced 2+ times -> MATERIALIZED per the DuckDB CTE re-inlining rule.
_MANN_KENDALL_SQL = f"""
    WITH pts AS (
      SELECT (CAST(round_even(({LON_IN}) * 1000000000.0, 0) AS BIGINT)
              + 120000000000) // 200000 AS cx,
             CAST(round_even(({LAT_IN}) * 1000000000.0, 0) AS BIGINT)
               // 200000 AS cy,
             epoch_us(ts) // 86400000000 AS day
      FROM events),
    cnt AS MATERIALIZED (
      SELECT cx, cy, day, CAST(count(*) AS BIGINT) AS n
      FROM pts GROUP BY 1, 2, 3),
    rng AS MATERIALIZED (
      SELECT min(day) AS lo, max(day) AS hi FROM cnt),
    days AS MATERIALIZED (
      SELECT unnest(generate_series(lo, hi)) AS day FROM rng),
    grid AS MATERIALIZED (
      SELECT k.cx, k.cy, g.day, COALESCE(c.n, 0) AS c
      FROM (SELECT DISTINCT cx, cy FROM cnt) k
      CROSS JOIN days g
      LEFT JOIN cnt c ON c.cx = k.cx AND c.cy = k.cy AND c.day = g.day),
    s AS (
      SELECT a.cx, a.cy,
             CAST(sum(CASE WHEN b.c > a.c THEN 1
                           WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT)
               AS s_stat
      FROM grid a JOIN grid b
        ON a.cx = b.cx AND a.cy = b.cy AND b.day > a.day
      GROUP BY 1, 2),
    ties AS (
      SELECT cx, cy,
             CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS ties
      FROM (SELECT cx, cy, c, CAST(count(*) AS BIGINT) AS t
            FROM grid GROUP BY 1, 2, 3) q
      GROUP BY 1, 2),
    nb AS (SELECT hi - lo + 1 AS n_bins FROM rng)
    SELECT s.cx, s.cy,
           CAST((SELECT n_bins FROM nb) AS BIGINT) AS n_bins,
           s.s_stat,
           CAST((SELECT n_bins FROM nb) * ((SELECT n_bins FROM nb) - 1)
                * (2 * (SELECT n_bins FROM nb) + 5) - ties.ties AS BIGINT)
             AS var18
    FROM s JOIN ties ON s.cx = ties.cx AND s.cy = ties.cy
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


def _tile_hll_density_sql(p: int = 8) -> str:
    from extractors_metadata_spark.operators.sketches import (
        HLL_SCALE,
        _hll_alpha,
    )

    m = 1 << p
    alpha = _hll_alpha(m)
    harm = (
        f"(harm_obs + CAST(({m} - n_obs) AS HUGEINT)"
        f" * CAST({1 << HLL_SCALE} AS HUGEINT))"
    )
    raw = (
        f"(CAST({alpha!r} AS DOUBLE) * CAST({float(m * m)!r} AS DOUBLE)"
        f" * CAST({float(1 << HLL_SCALE)!r} AS DOUBLE) / CAST({harm} AS DOUBLE))"
    )
    lc = (
        f"(CAST({float(m)!r} AS DOUBLE)"
        f" * ln(CAST({float(m)!r} AS DOUBLE) / CAST({m} - n_obs AS DOUBLE)))"
    )
    return f"""
        WITH pts AS (
          SELECT CAST(user_id AS VARCHAR) AS k,
            CAST(FLOOR((({LON_IN}) + 180) / 360 * pow(2, 20)) AS BIGINT) AS x,
            CAST(FLOOR((1 - ln(tan(radians(({LAT_IN}))) + 1/cos(radians(({LAT_IN}))))/pi())/2 * pow(2, 20)) AS BIGINT) AS y
          FROM events),
        h0 AS (SELECT x, y, {_poly_sql('k', 131)} AS wr, {_poly_sql('k', 137)} AS br
               FROM pts),
        h1 AS (SELECT x, y, {_mix31_sql('wr')} AS w, {_mix31_sql('br')} AS bh FROM h0),
        rnk AS (SELECT x, y, bh % {m} AS bucket,
                       CASE WHEN w = 0 THEN 32 ELSE 32 - length(bin(w)) END AS rho
                FROM h1),
        regs AS (SELECT x, y, bucket, max(rho) AS rho FROM rnk GROUP BY 1, 2, 3),
        agg AS (SELECT x, y,
                       sum(CAST(power(2, {HLL_SCALE} - rho) AS HUGEINT)) AS harm_obs,
                       count(*) AS n_obs
                FROM regs GROUP BY 1, 2)
        SELECT x, y, CAST({m} - n_obs AS BIGINT) AS n_zero,
               round(round(CASE WHEN {raw} <= {2.5 * m} AND {m} - n_obs > 0
                                THEN {lc} ELSE {raw} END, 6), 3) AS estimate
        FROM agg
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


def _hll_pyramid_sql(p: int = 8, z_max: int = 20, z_min: int = 16) -> str:
    from extractors_metadata_spark.operators.sketches import (
        HLL_SCALE,
        _hll_alpha,
    )

    m = 1 << p
    alpha = _hll_alpha(m)
    harm = (
        f"(harm_obs + CAST(({m} - n_obs) AS HUGEINT)"
        f" * CAST({1 << HLL_SCALE} AS HUGEINT))"
    )
    raw = (
        f"(CAST({alpha!r} AS DOUBLE) * CAST({float(m * m)!r} AS DOUBLE)"
        f" * CAST({float(1 << HLL_SCALE)!r} AS DOUBLE) / CAST({harm} AS DOUBLE))"
    )
    lc = (
        f"(CAST({float(m)!r} AS DOUBLE)"
        f" * ln(CAST({float(m)!r} AS DOUBLE) / CAST({m} - n_obs AS DOUBLE)))"
    )
    blocks = []
    for z in range(z_max, z_min - 1, -1):
        blocks.append(f"""
        SELECT {z} AS z, x, y, CAST({m} - n_obs AS BIGINT) AS n_zero,
               round(round(CASE WHEN {raw} <= {2.5 * m} AND {m} - n_obs > 0
                                THEN {lc} ELSE {raw} END, 6), 3) AS estimate
        FROM (
          SELECT x, y,
                 sum(CAST(power(2, {HLL_SCALE} - rho) AS HUGEINT)) AS harm_obs,
                 count(*) AS n_obs
          FROM (
            SELECT x, y, bucket, max(rho) AS rho FROM (
              SELECT
                CAST(FLOOR((lon + 180) / 360 * pow(2, {z})) AS BIGINT) AS x,
                CAST(FLOOR((1 - ln(tan(radians(lat)) + 1/cos(radians(lat)))/pi())/2 * pow(2, {z})) AS BIGINT) AS y,
                {_mix31_sql('bh')} % {m} AS bucket,
                CASE WHEN {_mix31_sql('wr')} = 0 THEN 32
                     ELSE 32 - length(bin({_mix31_sql('wr')})) END AS rho
              FROM (
                SELECT ({LON_IN}) AS lon, ({LAT_IN}) AS lat,
                       {_poly_sql("CAST(user_id AS VARCHAR)", 131)} AS wr,
                       {_poly_sql("CAST(user_id AS VARCHAR)", 137)} AS bh
                FROM events) base)
            GROUP BY 1, 2, 3)
          GROUP BY 1, 2)""")
    return "\n        UNION ALL".join(blocks)


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


_STREAM_TILES_SQL = f"""
    WITH pts AS (
      SELECT event_id, ({LAT_IN}) AS lat, ({LON_IN}) AS lon FROM events),
    zs AS (SELECT unnest([12, 20]) AS z)
    SELECT z,
      CAST(FLOOR((lon + 180) / 360 * pow(2, z)) AS BIGINT) AS x,
      CAST(FLOOR((1 - ln(tan(radians(lat)) + 1/cos(radians(lat)))/pi())/2 * pow(2, z)) AS BIGINT) AS y,
      count(*) AS n
    FROM pts, zs GROUP BY 1, 2, 3
"""


_STREAM_UPSERT_SQL = """
    SELECT key, version, event_type, v_u FROM (
      SELECT event_id % 997 AS key, event_id AS version, event_type,
             CAST(round_even(value * 1000000.0, 0) AS BIGINT) AS v_u,
             row_number() OVER (
               PARTITION BY event_id % 997 ORDER BY event_id DESC) AS rn
      FROM events) WHERE rn = 1
"""


_STREAM_JOIN_SQL = """
    WITH l AS (
      SELECT user_id, event_id AS lid, epoch_us(ts) AS lt_us FROM events
      WHERE event_type IN ('view', 'click')),
    r AS (
      SELECT user_id, event_id AS rid, epoch_us(ts) AS rt_us FROM events
      WHERE event_type IN ('signup', 'purchase'))
    SELECT l.user_id, lid, rid, lt_us, rt_us
    FROM l JOIN r ON l.user_id = r.user_id
      AND rt_us >= lt_us - 86400000000 AND rt_us <= lt_us + 86400000000
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


def _source_mix_sql(weights: dict[str, int]) -> str:
    """mix_sources mirror: HUGEINT replay of the exact Python-bigint
    threshold arithmetic + the same mix31-finalized poly-hash keep rule
    (raw poly is biased on sequential keys — see mix_sources)."""
    from extractors_metadata_spark.functions.vhash import M31

    W = sum(weights.values())
    langs = ", ".join(f"'{g}'" for g in weights)
    wvals = ", ".join(
        f"('{g}', CAST({w} AS HUGEINT))" for g, w in weights.items()
    )
    return f"""
        WITH counts AS (
          SELECT lang AS g, CAST(count(*) AS HUGEINT) AS n FROM documents
          WHERE lang IN ({langs}) GROUP BY 1),
        w(g, wt) AS (VALUES {wvals}),
        j AS (SELECT counts.g, n, wt FROM counts JOIN w USING (g)),
        nn AS (SELECT min(n * {W} // wt) AS nt FROM j),
        thr AS MATERIALIZED (
          SELECT g, (wt * nt // {W}) * CAST({M31} AS HUGEINT) // n AS thr
          FROM j, nn),
        h0 AS (SELECT doc_id, lang,
                      {_poly_sql("'mix:' || CAST(doc_id AS VARCHAR)", 131)} AS hr
               FROM documents),
        h AS (SELECT doc_id, lang, {_mix31_sql('hr')} AS hk FROM h0)
        SELECT h.doc_id, h.lang FROM h JOIN thr ON h.lang = thr.g
        WHERE hk < thr
    """


_LINE_DEDUP_SQL = f"""
    WITH probe AS (
      SELECT doc_id,
             '{_BANNER1} ' ||
             (CASE WHEN doc_id % 2 = 0 THEN '{_BANNER2} ' ELSE '' END) ||
             text AS text
      FROM documents),
    words AS (SELECT doc_id, string_split(text, ' ') AS w FROM probe),
    idx AS (SELECT doc_id, w, unnest(range((len(w) + 7) // 8)) AS pos
            FROM words),
    lines AS (SELECT doc_id, pos,
                     array_to_string(w[pos*8+1 : pos*8+8], ' ') AS line
              FROM idx),
    ranked AS (
      SELECT doc_id, pos, line,
             row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
      FROM lines)
    SELECT doc_id,
           count(*) AS n_lines,
           count(*) FILTER (WHERE rn = 1) AS n_kept,
           coalesce(string_agg(line, ' ' ORDER BY pos) FILTER (WHERE rn = 1),
                    '') AS clean_text
    FROM ranked GROUP BY doc_id
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


_DECONTAMINATE_SQL = """
    WITH twords AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    ewords AS (SELECT w[6:35] AS ew FROM twords WHERE doc_id % 50 = 0),
    eg AS (SELECT DISTINCT array_to_string(ew[i+1:i+13], ' ') AS gram
           FROM (SELECT ew, unnest(range(len(ew) - 12)) AS i
                 FROM ewords WHERE len(ew) >= 13)),
    tg AS (SELECT doc_id, array_to_string(w[i+1:i+13], ' ') AS gram
           FROM (SELECT doc_id, w, unnest(range(len(w) - 12)) AS i
                 FROM twords WHERE len(w) >= 13)),
    hits AS (SELECT doc_id, count(*) AS n_hits
             FROM tg JOIN eg USING (gram) GROUP BY doc_id)
    SELECT t.doc_id,
           greatest(len(w) - 12, 0) AS n_grams,
           coalesce(n_hits, 0) AS n_hits,
           CAST(coalesce(n_hits, 0) > 0 AS INT) AS contaminated
    FROM twords t LEFT JOIN hits USING (doc_id)
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


def _sq_topk_sql(k: int = 5, n_queries: int = 10) -> str:
    """sq_topk mirror: encode (max-abs scale, round_even int8), exact
    integer dot/norms via list_inner_product over exact-int doubles
    (every term and sum << 2^53), identical float division/sqrt."""
    return f"""
        WITH enc AS (
          SELECT vec_id,
                 list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
                   / CAST(127.0 AS DOUBLE) AS scale,
                 embedding AS v
          FROM embeddings),
        qv AS MATERIALIZED (
          SELECT vec_id,
                 list_transform(v, x -> CAST(round_even(CAST(x AS DOUBLE) / scale, 0) AS INT)) AS q
          FROM enc WHERE scale > 0),
        n AS MATERIALIZED (
          SELECT vec_id, q,
                 CAST(list_inner_product(CAST(q AS DOUBLE[]), CAST(q AS DOUBLE[])) AS BIGINT) AS qn
          FROM qv),
        pairs AS (
          SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                 CAST(list_inner_product(CAST(a.q AS DOUBLE[]), CAST(b.q AS DOUBLE[])) AS BIGINT) AS dot,
                 a.qn AS qa, b.qn AS qb
          FROM n a JOIN n b ON b.vec_id <> a.vec_id
          WHERE a.vec_id < {n_queries}),
        sims AS (
          SELECT query_id, neighbor_id,
                 CAST(dot AS DOUBLE) / sqrt(CAST(qa * qb AS DOUBLE)) AS qsim,
                 row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY CAST(dot AS DOUBLE) / sqrt(CAST(qa * qb AS DOUBLE)) DESC,
                            neighbor_id ASC) AS rank
          FROM pairs)
        SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, qsim
        FROM sims WHERE rank <= {k}
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


def _hll_cte_sql(p: int = 8) -> str:
    """Shared CTE block for the two HLL oracles: poly hash -> mix31 ->
    bucket/rank -> per-bucket max -> zero-filled full register table.
    Mirrors operators/sketches.hll_sketch literally."""
    m = 1 << p
    return f"""
        keys AS (SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS k
                 FROM events),
        h0 AS (SELECT {_poly_sql('k', 131)} AS wr, {_poly_sql('k', 137)} AS br
               FROM keys),
        h1 AS (SELECT {_mix31_sql('wr')} AS w, {_mix31_sql('br')} AS bh FROM h0),
        rnk AS (SELECT bh % {m} AS bucket,
                       CASE WHEN w = 0 THEN 32 ELSE 32 - length(bin(w)) END AS rho
                FROM h1),
        regs AS (SELECT bucket, max(rho) AS rho FROM rnk GROUP BY bucket),
        full_regs AS (
          SELECT t.bucket, CAST(coalesce(regs.rho, 0) AS INTEGER) AS rho
          FROM (SELECT range AS bucket FROM range(0, {m})) t
          LEFT JOIN regs USING (bucket))"""


def _hll_estimate_sql(p: int = 8) -> str:
    """hll_estimate mirror: exact integer harmonic sum (power-of-two terms,
    HUGEINT), then the identical literal double arithmetic for the raw
    estimator; the linear-counting CASE branch matches the Spark predicate
    but does not fire at sf0.01 (see q_hll_estimate docstring)."""
    from extractors_metadata_spark.operators.sketches import HLL_SCALE, _hll_alpha

    m = 1 << p
    alpha = _hll_alpha(m)
    # every float literal CAST AS DOUBLE — a bare decimal literal is
    # DECIMAL-typed in DuckDB and overflows the fixed-point multiply
    raw = (
        f"(CAST({alpha!r} AS DOUBLE) * CAST({float(m * m)!r} AS DOUBLE)"
        f" * CAST({float(1 << HLL_SCALE)!r} AS DOUBLE) / CAST(harm AS DOUBLE))"
    )
    lc = (
        f"(CAST({float(m)!r} AS DOUBLE)"
        f" * ln(CAST({float(m)!r} AS DOUBLE) / CAST(n_zero AS DOUBLE)))"
    )
    return f"""
        WITH {_hll_cte_sql(p)},
        agg AS (SELECT sum(CAST(power(2, {HLL_SCALE} - rho) AS HUGEINT)) AS harm,
                       sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS n_zero
                FROM full_regs)
        SELECT CAST({m} AS INTEGER) AS m,
               CAST(n_zero AS BIGINT) AS n_zero,
               CAST(harm AS VARCHAR) AS harm_num,
               round(round(CASE WHEN {raw} <= CAST({2.5 * m!r} AS DOUBLE) AND n_zero > 0
                           THEN {lc} ELSE {raw} END, 6), 3) AS estimate
        FROM agg
    """


def _cms_sql(d: int = 4, w: int = 1024) -> str:
    """cms_sketch + cms_lookup mirror: the d affine cell hashes come from
    vhash.perm_coeffs — the same literals the Spark expressions use."""
    from extractors_metadata_spark.functions.vhash import P31, perm_coeffs

    cs = perm_coeffs(d)
    cells = "\n          UNION ALL ".join(
        f"SELECT {i} AS r, (({a} * h + {b}) % {P31}) % {w} AS c FROM hm"
        for i, (a, b) in enumerate(cs)
    )
    probe = "\n          UNION ALL ".join(
        f"SELECT k, exact, {i} AS r, (({a} * h + {b}) % {P31}) % {w} AS c FROM kx"
        for i, (a, b) in enumerate(cs)
    )
    return f"""
        WITH keys AS (SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS k
                      FROM events),
        h0 AS (SELECT k, {_poly_sql('k', 131)} AS hr FROM keys),
        hm AS MATERIALIZED (SELECT k, {_mix31_sql('hr')} AS h FROM h0),
        cells AS ({cells}),
        grid AS MATERIALIZED (SELECT r, c, count(*) AS cnt FROM cells GROUP BY r, c),
        kx AS MATERIALIZED (SELECT k, h, count(*) AS exact FROM hm GROUP BY k, h),
        probe AS ({probe}),
        est AS (SELECT k, exact, min(coalesce(g.cnt, 0)) AS est
                FROM probe p LEFT JOIN grid g ON p.r = g.r AND p.c = g.c
                GROUP BY k, exact)
        SELECT k, est, exact, est - exact AS overcount FROM est
    """


def _cms_grid_sql(d: int = 4, w: int = 1024) -> str:
    """cms_sketch GRID mirror (cells only, no probe) — the oracle for the
    streamed count-min state: since the batch-id guard applies each
    micro-batch exactly once and cell counts add, the streamed end state
    must equal this one-shot grid cell-for-cell."""
    from extractors_metadata_spark.functions.vhash import P31, perm_coeffs

    cells = "\n          UNION ALL ".join(
        f"SELECT {i} AS r, (({a} * h + {b}) % {P31}) % {w} AS c FROM hm"
        for i, (a, b) in enumerate(perm_coeffs(d))
    )
    return f"""
        WITH keys AS (SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS k
                      FROM events),
        h0 AS (SELECT k, {_poly_sql('k', 131)} AS hr FROM keys),
        hm AS MATERIALIZED (SELECT {_mix31_sql('hr')} AS h FROM h0),
        cells AS ({cells})
        SELECT r AS "row", c AS "col", count(*) AS cnt FROM cells GROUP BY r, c
    """


def _bloom_sql(n_bits: int = 2048, k: int = 5) -> str:
    """bloom_build + bloom_prune mirror: k bit positions per key from the
    perm_coeffs affine family over the mix31-finalized poly hash; a probe
    key survives iff all k positions are set, then is flagged by true
    membership (hit=0 rows are the filter's false positives)."""
    from extractors_metadata_spark.functions.vhash import P31, perm_coeffs

    cs = perm_coeffs(k)
    bcells = "\n          UNION ALL ".join(
        f"SELECT (({a} * h + {b}) % {P31}) % {n_bits} AS p FROM bh" for a, b in cs
    )
    pcells = "\n          UNION ALL ".join(
        f"SELECT k, (({a} * h + {b}) % {P31}) % {n_bits} AS p FROM ph" for a, b in cs
    )
    return f"""
        WITH build AS MATERIALIZED (
          SELECT DISTINCT user_id AS k FROM events
          WHERE event_type = 'error' AND user_id % 3 = 0),
        bh0 AS (SELECT k, {_poly_sql('CAST(k AS VARCHAR)', 131)} AS hr FROM build),
        bh AS MATERIALIZED (SELECT k, {_mix31_sql('hr')} AS h FROM bh0),
        pos AS MATERIALIZED (SELECT DISTINCT p FROM ({bcells})),
        probe AS (SELECT rn - 1 AS k FROM (
                    SELECT row_number() OVER (ORDER BY event_id) AS rn
                    FROM events) q
                  WHERE rn <= 2 * (SELECT max(user_id) + 1 FROM events)),
        ph0 AS (SELECT k, {_poly_sql('CAST(k AS VARCHAR)', 131)} AS hr FROM probe),
        ph AS MATERIALIZED (SELECT k, {_mix31_sql('hr')} AS h FROM ph0),
        pc AS ({pcells}),
        hits AS (SELECT pc.k, count(*) AS nh
                 FROM pc JOIN pos USING (p) GROUP BY pc.k)
        SELECT hits.k,
               CAST(CASE WHEN build.k IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS hit
        FROM hits LEFT JOIN build ON hits.k = build.k
        WHERE nh = {k}
    """


def _pagerank_sql(iters: int = 5) -> str:
    """linkgraph.pagerank mirror: the damped integer fixed-point update
    unrolled as one CTE stage per iteration (the repo's DuckDB rule:
    iterative folds become generated stages). All arithmetic is integer
    floor division — HUGEINT sums, BIGINT ranks — so the replay is exact."""
    from extractors_metadata_spark.operators.linkgraph import PR_MASS

    its = []
    prev = "r0"
    for i in range(1, iters + 1):
        its.append(f"""
        it{i} AS (
          SELECT nodes.node,
                 CAST((15 * ({PR_MASS} // (SELECT n FROM nn))) // 100
                      + (85 * coalesce(s.insum, 0)) // 100 AS BIGINT) AS rank
          FROM nodes LEFT JOIN (
            SELECT e.dst AS node, sum(r.rank // o.outdeg) AS insum
            FROM edges e JOIN {prev} r ON e.src = r.node
                         JOIN outdeg o ON e.src = o.src
            GROUP BY e.dst) s ON nodes.node = s.node)""")
        prev = f"it{i}"
    body = ",".join(its)
    return f"""
        WITH nn AS MATERIALIZED (SELECT max(user_id) + 1 AS n FROM events),
        nodes AS MATERIALIZED (
          SELECT rn - 1 AS node FROM (
            SELECT row_number() OVER (ORDER BY event_id) AS rn FROM events) q
          WHERE rn <= (SELECT n FROM nn)),
        edges AS MATERIALIZED (
          SELECT DISTINCT src, dst FROM (
            SELECT user_id AS src,
                   (user_id * 131 + event_id * 7) % (SELECT n FROM nn) AS dst
            FROM events
            UNION ALL
            SELECT node AS src, (node + 1) % (SELECT n FROM nn) AS dst FROM nodes)),
        outdeg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
        r0 AS (SELECT node, {PR_MASS} // (SELECT n FROM nn) AS rank FROM nodes),
        {body}
        SELECT node, rank FROM {prev}
    """


def _ppr_sql(iters: int = 5) -> str:
    """q_ppr_seeds mirror: the pagerank unrolled-stage recipe with the
    teleport term restricted to the node % 17 = 0 seed set — r0 puts
    PR_MASS // |seeds| on seeds (0 elsewhere) and each stage adds the
    base only on seed rows. All integer floor arithmetic; exact."""
    from extractors_metadata_spark.operators.linkgraph import PR_MASS

    its = []
    prev = "r0"
    for i in range(1, iters + 1):
        its.append(f"""
        it{i} AS (
          SELECT nodes.node,
                 CAST(CASE WHEN nodes.node % 17 = 0
                      THEN (15 * ({PR_MASS} // (SELECT n FROM ns))) // 100
                      ELSE 0 END
                      + (85 * coalesce(s.insum, 0)) // 100 AS BIGINT) AS rank
          FROM nodes LEFT JOIN (
            SELECT e.dst AS node, sum(r.rank // o.outdeg) AS insum
            FROM edges e JOIN {prev} r ON e.src = r.node
                         JOIN outdeg o ON e.src = o.src
            GROUP BY e.dst) s ON nodes.node = s.node)""")
        prev = f"it{i}"
    body = ",".join(its)
    return f"""
        WITH nn AS MATERIALIZED (SELECT max(user_id) + 1 AS n FROM events),
        nodes AS MATERIALIZED (
          SELECT rn - 1 AS node FROM (
            SELECT row_number() OVER (ORDER BY event_id) AS rn FROM events) q
          WHERE rn <= (SELECT n FROM nn)),
        edges AS MATERIALIZED (
          SELECT DISTINCT src, dst FROM (
            SELECT user_id AS src,
                   (user_id * 131 + event_id * 7) % (SELECT n FROM nn) AS dst
            FROM events
            UNION ALL
            SELECT node AS src, (node + 1) % (SELECT n FROM nn) AS dst FROM nodes)),
        outdeg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
        ns AS MATERIALIZED (SELECT count(*) AS n FROM nodes WHERE node % 17 = 0),
        r0 AS (SELECT node,
                      CASE WHEN node % 17 = 0
                           THEN {PR_MASS} // (SELECT n FROM ns)
                           ELSE 0 END AS rank
               FROM nodes),
        {body}
        SELECT node, rank FROM {prev}
    """


def _greedy_cover_sql(rounds: int = 8) -> str:
    """corpus.greedy_cover mirror: the 3-word-shingle unit (the
    vocab_growth slice recipe), then per round an ANTI JOIN gain count,
    the row_number()-over-(gain DESC, doc_id) composite argmax (the
    DuckDB min_by rule), and the covered-shingle union. c{r} is
    referenced twice (next gain stage + next union) -> MATERIALIZED per
    the CTE re-inlining rule."""
    stages = []
    finals = []
    for r in range(1, rounds + 1):
        stages.append(f"""
        g{r} AS (
          SELECT t.doc_id, CAST(count(*) AS BIGINT) AS gain
          FROM toks t ANTI JOIN c{r - 1} c USING (tok)
          GROUP BY t.doc_id),
        p{r} AS MATERIALIZED (
          SELECT doc_id, gain FROM (
            SELECT doc_id, gain,
                   row_number() OVER (ORDER BY gain DESC, doc_id ASC) AS rn
            FROM g{r}) q WHERE rn = 1),
        c{r} AS MATERIALIZED (
          SELECT tok FROM c{r - 1}
          UNION
          SELECT tok FROM toks
          WHERE doc_id = (SELECT doc_id FROM p{r}))""")
        finals.append(
            f"SELECT CAST({r} AS INTEGER) AS round, doc_id, gain FROM p{r}"
        )
    body = ",".join(stages)
    tail = "\nUNION ALL\n".join(finals)
    return rf"""
        WITH tk AS (
          SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
          FROM documents),
        toks AS MATERIALIZED (
          SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS tok
          FROM tk, unnest(range(1, greatest(len(tk) - 2, 1) + 1)) t(i)),
        c0 AS (SELECT CAST(NULL AS VARCHAR) AS tok WHERE false),
        {body}
        {tail}
    """


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


def _wavefront_sql(hops: int = 4) -> str:
    """q_wavefront_profile mirror: the pagerank edge recipe, the
    node % 97 seed sample, and ``hops`` unrolled delta-BFS stages keyed
    (seed, node) — join, DISTINCT, ANTI JOIN settle — then the
    (seed, hop) rollup."""
    stages = []
    prev = "s0"
    for r in range(1, hops + 1):
        stages.append(f"""
        s{r} AS MATERIALIZED (
          SELECT * FROM {prev}
          UNION ALL
          SELECT seed, node, {r} AS hop FROM (
            SELECT DISTINCT f.seed, e.dst AS node
            FROM wedges e JOIN {prev} f ON f.node = e.src
          ) nx ANTI JOIN {prev} USING (seed, node))""")
        prev = f"s{r}"
    body = ",".join(stages)
    return f"""
        WITH nn AS MATERIALIZED (SELECT max(user_id) + 1 AS n FROM events),
        wnodes AS MATERIALIZED (
          SELECT rn - 1 AS node FROM (
            SELECT row_number() OVER (ORDER BY event_id) AS rn FROM events) q
          WHERE rn <= (SELECT n FROM nn)),
        wedges AS MATERIALIZED (
          SELECT DISTINCT src, dst FROM (
            SELECT user_id AS src,
                   (user_id * 131 + event_id * 7) % (SELECT n FROM nn) AS dst
            FROM events
            UNION ALL
            SELECT node AS src, (node + 1) % (SELECT n FROM nn) AS dst
            FROM wnodes)),
        s0 AS MATERIALIZED (
          SELECT node AS seed, node, 0 AS hop FROM wnodes WHERE node % 97 = 0),
        {body}
        SELECT seed, CAST(hop AS INTEGER) AS hop,
               CAST(count(*) AS BIGINT) AS n_nodes
        FROM {prev} GROUP BY 1, 2
    """


def _rake_sql(top_k: int = 3) -> str:
    """rake.rake_keywords mirror: tokenize with the same RE2 pattern,
    gaps-and-islands phrase grouping (pos - row_number), deg/freq word
    fixed points via round_even on the identical IEEE division, int64
    phrase sums, row_number rank with the frozen tie-break. Stopword
    list imported from the single source. kept/ph are each referenced
    2+ times -> MATERIALIZED per the CTE re-inlining rule."""
    from extractors_metadata_spark.operators.rake import RAKE_STOPWORDS

    stop = ", ".join(f"'{w}'" for w in RAKE_STOPWORDS)
    return rf"""
        WITH arrs AS (
          SELECT doc_id,
                 regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')
                   AS arr
          FROM documents WHERE text IS NOT NULL),
        tok AS (
          SELECT doc_id, arr[i + 1] AS tok, i AS pos
          FROM arrs, unnest(range(len(arr))) u(i)),
        kept AS MATERIALIZED (
          SELECT doc_id, pos, tok,
                 pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS grp
          FROM tok
          WHERE regexp_matches(tok, '^[a-z0-9]+$')
            AND tok NOT IN ({stop})),
        ph AS MATERIALIZED (
          SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS plen,
                 string_agg(tok, ' ' ORDER BY pos) AS phrase
          FROM kept GROUP BY 1, 2),
        wordstat AS (
          SELECT k.doc_id, k.tok,
                 CAST(count(*) AS BIGINT) AS freq,
                 CAST(sum(p.plen) AS BIGINT) AS deg
          FROM kept k JOIN ph p ON p.doc_id = k.doc_id AND p.grp = k.grp
          GROUP BY 1, 2),
        wfp AS (
          SELECT doc_id, tok,
                 CAST(round_even((1000000000.0 * deg) / freq, 0) AS BIGINT)
                   AS wfp
          FROM wordstat),
        pscore AS (
          SELECT k.doc_id, k.grp,
                 CAST(sum(w.wfp) AS BIGINT) AS score_fp
          FROM kept k JOIN wfp w ON w.doc_id = k.doc_id AND w.tok = k.tok
          GROUP BY 1, 2),
        dist AS (
          SELECT p.doc_id, p.phrase, max(s.score_fp) AS score_fp
          FROM ph p JOIN pscore s ON s.doc_id = p.doc_id AND s.grp = p.grp
          GROUP BY 1, 2)
        SELECT doc_id, CAST(rn AS INT) AS rank, phrase, score_fp FROM (
          SELECT doc_id, phrase, score_fp,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score_fp DESC, phrase) AS rn
          FROM dist) q
        WHERE rn <= {top_k}
    """


def _random_walks_sql(length: int = 4) -> str:
    """walks.random_walks mirror: the hash-guided successor rule unrolled
    as one argmin stage per step (the composite-argmin rule: row_number
    over (ORDER BY mix31 key, dst) = 1 — DuckDB min_by rejects struct
    vals). Each w{t} is referenced twice (next stage + final union) ->
    MATERIALIZED per the CTE re-inlining rule. Graph CTEs are the
    pagerank event graph verbatim."""
    stages = []
    prev = "w0"
    for t in range(1, length + 1):
        stages.append(f"""
        k{t} AS (
          SELECT w.walk_id, e.dst,
                 (w.cur * 131 + {t} * 7 + e.dst * 13) % 2147483648 AS hin
          FROM {prev} w JOIN edges e ON e.src = w.cur),
        w{t} AS MATERIALIZED (
          SELECT walk_id, dst AS cur FROM (
            SELECT walk_id, dst,
                   row_number() OVER (PARTITION BY walk_id
                                      ORDER BY {_mix31_sql('hin')}, dst)
                     AS rn
            FROM k{t}) q WHERE rn = 1)""")
        prev = f"w{t}"
    body = ",".join(stages)
    union = "\n          UNION ALL ".join(
        f"SELECT walk_id, CAST({t} AS BIGINT) AS step, cur AS node FROM w{t}"
        for t in range(length + 1)
    )
    return f"""
        WITH nn AS MATERIALIZED (SELECT max(user_id) + 1 AS n FROM events),
        nodes AS MATERIALIZED (
          SELECT rn - 1 AS node FROM (
            SELECT row_number() OVER (ORDER BY event_id) AS rn FROM events) q
          WHERE rn <= (SELECT n FROM nn)),
        edges AS MATERIALIZED (
          SELECT DISTINCT src, dst FROM (
            SELECT user_id AS src,
                   (user_id * 131 + event_id * 7) % (SELECT n FROM nn) AS dst
            FROM events
            UNION ALL
            SELECT node AS src, (node + 1) % (SELECT n FROM nn) AS dst FROM nodes)),
        w0 AS MATERIALIZED (SELECT node AS walk_id, node AS cur FROM nodes),
        {body}
        {union}
    """


def _hits_sql(rounds: int = 4) -> str:
    """linkgraph.hits mirror: per round one authority half-step (in-edge
    hub sum over the pagerank event graph, coalesce 0, power-of-two shift
    from length(bin(max)) — all scores nonnegative so // is the engine's
    div) then one hub half-step; unrolled per the DuckDB iteration rule."""
    from extractors_metadata_spark.operators.linkgraph import HITS_TARGET_BITS

    tb = HITS_TARGET_BITS
    stages = []
    prev_h = "h0"
    for r in range(1, rounds + 1):
        stages.append(f"""
        at{r} AS MATERIALIZED (
          SELECT n.node, coalesce(x.s, 0) AS s FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, CAST(sum(p.s) AS BIGINT) AS s
            FROM edges e JOIN {prev_h} p ON e.src = p.node GROUP BY 1) x
          USING (node)),
        am{r} AS (SELECT greatest(length(bin(max(s))) - {tb}, 0) AS sh FROM at{r}),
        a{r} AS MATERIALIZED (
          SELECT node, CAST(s // CAST(pow(2, sh) AS BIGINT) AS BIGINT) AS s
          FROM at{r} CROSS JOIN am{r}),
        ht{r} AS MATERIALIZED (
          SELECT n.node, coalesce(x.s, 0) AS s FROM nodes n LEFT JOIN (
            SELECT e.src AS node, CAST(sum(p.s) AS BIGINT) AS s
            FROM edges e JOIN a{r} p ON e.dst = p.node GROUP BY 1) x
          USING (node)),
        hm{r} AS (SELECT greatest(length(bin(max(s))) - {tb}, 0) AS sh FROM ht{r}),
        h{r} AS MATERIALIZED (
          SELECT node, CAST(s // CAST(pow(2, sh) AS BIGINT) AS BIGINT) AS s
          FROM ht{r} CROSS JOIN hm{r})""")
        prev_h = f"h{r}"
    body = ",".join(stages)
    return f"""
        WITH nn AS MATERIALIZED (SELECT max(user_id) + 1 AS n FROM events),
        nodes AS MATERIALIZED (
          SELECT rn - 1 AS node FROM (
            SELECT row_number() OVER (ORDER BY event_id) AS rn FROM events) q
          WHERE rn <= (SELECT n FROM nn)),
        edges AS MATERIALIZED (
          SELECT DISTINCT src, dst FROM (
            SELECT user_id AS src,
                   (user_id * 131 + event_id * 7) % (SELECT n FROM nn) AS dst
            FROM events
            UNION ALL
            SELECT node AS src, (node + 1) % (SELECT n FROM nn) AS dst FROM nodes)),
        h0 AS (SELECT node, CAST({1 << (tb - 1)} AS BIGINT) AS s FROM nodes),
        {body}
        SELECT h.node, h.s AS hub_fp, a.s AS auth_fp
        FROM h{rounds} h JOIN a{rounds} a USING (node)
    """


_ASSORTATIVITY_SQL = """
    WITH nn AS MATERIALIZED (SELECT max(user_id) + 1 AS n FROM events),
    nodes AS MATERIALIZED (
      SELECT rn - 1 AS node FROM (
        SELECT row_number() OVER (ORDER BY event_id) AS rn FROM events) q
      WHERE rn <= (SELECT n FROM nn)),
    edges AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT user_id AS src,
               (user_id * 131 + event_id * 7) % (SELECT n FROM nn) AS dst
        FROM events
        UNION ALL
        SELECT node AS src, (node + 1) % (SELECT n FROM nn) AS dst FROM nodes)),
    outdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS dx FROM edges GROUP BY 1),
    indeg AS (SELECT dst, CAST(count(*) AS BIGINT) AS dy FROM edges GROUP BY 1)
    SELECT CAST(count(*) AS BIGINT) AS m,
           CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
           CAST(sum(dx * dy) AS BIGINT) AS sxy,
           CAST(sum(dx * dx) AS BIGINT) AS sxx,
           CAST(sum(dy * dy) AS BIGINT) AS syy
    FROM edges JOIN outdeg USING (src) JOIN indeg USING (dst)
"""


def _k_core_sql(k: int = 7, rounds: int = 8) -> str:
    stages = []
    prev = "e0"
    for i in range(1, rounds + 1):
        stages.append(f"""
        k{i} AS (
          SELECT v FROM (
            SELECT a AS v FROM {prev} UNION ALL SELECT b AS v FROM {prev})
          GROUP BY v HAVING count(*) >= {k}),
        e{i} AS MATERIALIZED (
          SELECT {prev}.a, {prev}.b FROM {prev}
          JOIN k{i} ka ON {prev}.a = ka.v
          JOIN k{i} kb ON {prev}.b = kb.v)""")
        prev = f"e{i}"
    body = ",".join(stages)
    return f"""
        WITH edges AS (
          SELECT DISTINCT (event_id * 131 + user_id) % 1000 AS src,
                 1000 // (1 + (event_id % 1000)) AS dst
          FROM events),
        e0 AS MATERIALIZED (
          SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          FROM edges WHERE src != dst),
        {body}
        SELECT a, b FROM {prev}
    """


def _k_truss_sql(k: int = 4, rounds: int = 6) -> str:
    """linkgraph.k_truss mirror on the zipf link graph: per unrolled round,
    edge support via the plain common-neighbor adjacency join (identical
    counts to the engine's oriented enumeration), HAVING-filtered at k-2.
    adj/e stages MATERIALIZED (each referenced twice — the CTE re-inline
    rule)."""
    t = int(k) - 2
    stages = []
    prev = "e0"
    for i in range(1, int(rounds) + 1):
        stages.append(f"""
        adj{i} AS MATERIALIZED (
          SELECT a AS u, b AS v FROM {prev}
          UNION ALL SELECT b, a FROM {prev}),
        sup{i} AS (
          SELECT e.a, e.b FROM {prev} e
          JOIN adj{i} x ON x.u = e.a
          JOIN adj{i} y ON y.u = e.b AND y.v = x.v
          GROUP BY e.a, e.b HAVING count(*) >= {t}),
        e{i} AS MATERIALIZED (
          SELECT e.a, e.b FROM {prev} e
          JOIN sup{i} s ON s.a = e.a AND s.b = e.b)""")
        prev = f"e{i}"
    body = ",".join(stages)
    return f"""
        WITH edges AS (
          SELECT DISTINCT (event_id * 131 + user_id) % 1000 AS src,
                 1000 // (1 + (event_id % 1000)) AS dst
          FROM events),
        e0 AS MATERIALIZED (
          SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          FROM edges WHERE src != dst),
        {body}
        SELECT a, b FROM {prev}
    """


def _wl_refine_sql(rounds: int = 3) -> str:
    """linkgraph.wl_refine mirror on the zipf link graph: degree init,
    per unrolled round the sorted-neighbor-multiset canonical string
    (string_agg ORDER BY the INTEGER color — numeric, matching Spark's
    sort-then-render) hashed through poly/mix31 in two short-reference
    stages (the mix31 8x-duplication rule)."""
    stages = []
    prev = "wc0"
    for r in range(1, int(rounds) + 1):
        stages.append(f"""
        wn{r} AS (
          SELECT s.u AS node,
                 string_agg(CAST(cn.c AS VARCHAR), ',' ORDER BY cn.c) AS ns
          FROM sym s JOIN {prev} cn ON cn.node = s.v
          GROUP BY s.u),
        ws{r} AS (
          SELECT n.node, CAST(o.c AS VARCHAR) || '|' || n.ns AS sig
          FROM wn{r} n JOIN {prev} o ON o.node = n.node),
        wp{r} AS (SELECT node, {_poly_sql("sig", 131)} AS p FROM ws{r}),
        wc{r} AS MATERIALIZED (
          SELECT node, {_mix31_sql("p")} AS c FROM wp{r})""")
        prev = f"wc{r}"
    return f"""
        WITH edges AS (
          SELECT DISTINCT (event_id * 131 + user_id) % 1000 AS src,
                 1000 // (1 + (event_id % 1000)) AS dst
          FROM events),
        und AS (
          SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          FROM edges WHERE src != dst),
        sym AS MATERIALIZED (
          SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und),
        wc0 AS MATERIALIZED (
          SELECT u AS node, CAST(count(*) AS BIGINT) AS c
          FROM sym GROUP BY u),
        {",".join(stages)}
        SELECT node, c AS wl_color FROM {prev}
    """


def _k_hop_sql(hops: int = 4) -> str:
    stages = []
    prev_s = "s0"
    prev_f = "s0"
    for i in range(1, hops + 1):
        stages.append(f"""
        n{i} AS (
          SELECT DISTINCT sym.dst AS node
          FROM sym JOIN {prev_f} f ON sym.src = f.node),
        new{i} AS MATERIALIZED (
          SELECT node, {i} AS hop FROM (
            SELECT node FROM n{i} EXCEPT SELECT node FROM {prev_s}) q),
        s{i} AS MATERIALIZED (
          SELECT node, hop FROM {prev_s}
          UNION ALL SELECT node, hop FROM new{i})""")
        prev_s = f"s{i}"
        prev_f = f"new{i}"
    body = ",".join(stages)
    return f"""
        WITH edges AS (
          SELECT DISTINCT (event_id * 131 + user_id) % 1000 AS src,
                 1000 // (1 + (event_id % 1000)) AS dst
          FROM events),
        sym AS MATERIALIZED (
          SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM edges WHERE src != dst
            UNION ALL
            SELECT dst AS src, src AS dst FROM edges WHERE src != dst)),
        s0 AS (SELECT CAST(0 AS BIGINT) AS node, 0 AS hop),
        {body}
        SELECT node, hop FROM {prev_s}
    """


def _shortest_paths_sql(rounds: int = 6) -> str:
    stages = []
    prev = "d0"
    for i in range(1, rounds + 1):
        stages.append(f"""
        d{i} AS MATERIALIZED (
          SELECT node, min(dist) AS dist FROM (
            SELECT node, dist FROM {prev}
            UNION ALL
            SELECT ew.dst AS node, d.dist + ew.w AS dist
            FROM ew JOIN {prev} d ON d.node = ew.src)
          GROUP BY node)""")
        prev = f"d{i}"
    body = ",".join(stages)
    return f"""
        WITH edges AS (
          SELECT DISTINCT (event_id * 131 + user_id) % 1000 AS src,
                 1000 // (1 + (event_id % 1000)) AS dst
          FROM events),
        ew AS MATERIALIZED (
          SELECT src, dst, CAST(1 + (src + 3 * dst) % 7 AS BIGINT) AS w
          FROM edges),
        d0 AS (SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist),
        {body}
        SELECT node, dist FROM {prev}
    """


def _label_prop_sql(rounds: int = 4) -> str:
    stages = []
    prev = "lbl0"
    for i in range(1, rounds + 1):
        stages.append(f"""
        c{i} AS (
          SELECT s.dst AS node, l.label, count(*) AS cnt
          FROM sym s JOIN {prev} l ON l.node = s.src
          GROUP BY 1, 2),
        lbl{i} AS MATERIALIZED (
          SELECT node, label FROM (
            SELECT *, row_number() OVER (PARTITION BY node
                      ORDER BY cnt DESC, label ASC) AS rn
            FROM c{i})
          WHERE rn = 1)""")
        prev = f"lbl{i}"
    body = ",".join(stages)
    return f"""
        WITH edges AS (
          SELECT DISTINCT (event_id * 131 + user_id) % 1000 AS src,
                 1000 // (1 + (event_id % 1000)) AS dst
          FROM events),
        sym AS MATERIALIZED (
          SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM edges WHERE src != dst
            UNION ALL
            SELECT dst AS src, src AS dst FROM edges WHERE src != dst)),
        lbl0 AS (SELECT DISTINCT src AS node, src AS label FROM sym),
        {body}
        SELECT node, label FROM {prev}
    """


def _clustering_sql() -> str:
    return f"""
        WITH tri AS ({_triangles_sql()}),
        nn2 AS (SELECT max(user_id) + 1 AS n FROM events),
        edges2 AS MATERIALIZED (
          SELECT DISTINCT src, dst FROM (
            SELECT user_id AS src,
                   (user_id * 131 + event_id * 7) % (SELECT n FROM nn2) AS dst
            FROM events
            UNION ALL
            SELECT rn - 1 AS src, rn % (SELECT n FROM nn2) AS dst
            FROM (SELECT row_number() OVER (ORDER BY event_id) AS rn
                  FROM events) q
            WHERE rn <= (SELECT n FROM nn2))),
        und2 AS MATERIALIZED (
          SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          FROM edges2 WHERE src != dst),
        deg2 AS (
          SELECT v, count(*) AS deg FROM (
            SELECT a AS v FROM und2 UNION ALL SELECT b AS v FROM und2)
          GROUP BY 1)
        SELECT t.n_triangles, w.n_wedges FROM
          (SELECT CAST(count(*) AS BIGINT) AS n_triangles FROM tri) t
        CROSS JOIN
          (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
           FROM deg2) w
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


def _adamic_adar_sql(k: int = 50) -> str:
    """linkgraph.adamic_adar mirror: event-graph replay, per-center
    half-even 1e-9 fixed point of 1/ln(deg), int64 wedge sums, anti-join
    of existing edges, frozen (aa_fp desc, u, w) cut."""
    return f"""
        WITH nn AS MATERIALIZED (SELECT max(user_id) + 1 AS n FROM events),
        nodes AS MATERIALIZED (
          SELECT rn - 1 AS node FROM (
            SELECT row_number() OVER (ORDER BY event_id) AS rn FROM events) q
          WHERE rn <= (SELECT n FROM nn)),
        edges AS MATERIALIZED (
          SELECT DISTINCT src, dst FROM (
            SELECT user_id AS src,
                   (user_id * 131 + event_id * 7) % (SELECT n FROM nn) AS dst
            FROM events
            UNION ALL
            SELECT node AS src, (node + 1) % (SELECT n FROM nn) AS dst FROM nodes)),
        und AS MATERIALIZED (
          SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          FROM edges WHERE src != dst),
        adj AS MATERIALIZED (
          SELECT a AS v, b AS nbr FROM und
          UNION ALL SELECT b AS v, a AS nbr FROM und),
        deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY 1),
        wfp AS MATERIALIZED (
          SELECT v, CAST(round_even(1e9 / ln(CAST(deg AS DOUBLE)), 0) AS BIGINT)
                 AS w_fp
          FROM deg WHERE deg >= 2),
        wed AS (
          SELECT l.nbr AS u, r.nbr AS w, f.w_fp
          FROM adj l JOIN adj r ON l.v = r.v AND l.nbr < r.nbr
          JOIN wfp f ON f.v = l.v),
        agg AS MATERIALIZED (
          SELECT u, w, CAST(count(*) AS BIGINT) AS cn,
                 CAST(sum(w_fp) AS BIGINT) AS aa_fp
          FROM wed GROUP BY 1, 2)
        SELECT u, w, cn, aa_fp FROM agg
        WHERE NOT EXISTS (SELECT 1 FROM und WHERE und.a = agg.u AND und.b = agg.w)
        ORDER BY aa_fp DESC, u ASC, w ASC LIMIT {k}
    """


def _triangles_sql() -> str:
    return """
        WITH nn AS MATERIALIZED (SELECT max(user_id) + 1 AS n FROM events),
        nodes AS MATERIALIZED (
          SELECT rn - 1 AS node FROM (
            SELECT row_number() OVER (ORDER BY event_id) AS rn FROM events) q
          WHERE rn <= (SELECT n FROM nn)),
        edges AS MATERIALIZED (
          SELECT DISTINCT src, dst FROM (
            SELECT user_id AS src,
                   (user_id * 131 + event_id * 7) % (SELECT n FROM nn) AS dst
            FROM events
            UNION ALL
            SELECT node AS src, (node + 1) % (SELECT n FROM nn) AS dst FROM nodes)),
        und AS MATERIALIZED (
          SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          FROM edges WHERE src != dst),
        deg AS (
          SELECT v, count(*) AS deg FROM (
            SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und)
          GROUP BY 1),
        ann AS (
          SELECT a, b, da.deg AS dega, db.deg AS degb
          FROM und JOIN deg da ON da.v = a JOIN deg db ON db.v = b),
        ori AS MATERIALIZED (
          SELECT CASE WHEN dega < degb OR (dega = degb AND a < b)
                      THEN a ELSE b END AS u,
                 CASE WHEN dega < degb OR (dega = degb AND a < b)
                      THEN b ELSE a END AS w,
                 CASE WHEN dega < degb OR (dega = degb AND a < b)
                      THEN degb ELSE dega END AS dw
          FROM ann),
        wedge AS (
          SELECT o1.u AS u, o1.w AS v, o2.w AS w
          FROM ori o1 JOIN ori o2 ON o1.u = o2.u
          WHERE o1.dw < o2.dw OR (o1.dw = o2.dw AND o1.w < o2.w)),
        tri AS (
          SELECT u, v, w FROM wedge
          WHERE EXISTS (SELECT 1 FROM ori WHERE ori.u = wedge.v AND ori.w = wedge.w))
        SELECT least(u, v, w) AS x,
               (u + v + w) - least(u, v, w) - greatest(u, v, w) AS y,
               greatest(u, v, w) AS z
        FROM tri
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


def _minhash_match_sum(num_perm: int = 64) -> str:
    """Slot-match count between signature rows aliased ``sa`` and ``sb``."""
    return " + ".join(
        f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)" for i in range(num_perm)
    )


def _minhash_sql(
    threshold: float,
    num_perm: int = 64,
    bands: int = 16,
    where: str = "",
    sfx: str = "",
    materialize: bool = False,
) -> str:
    """Shared CTE chain for the verifiable MinHash oracle: word shingles ->
    rolling hash -> affine permutation mins -> banded buckets -> candidate
    pairs -> slot-match Jaccard estimate. Coefficients come from
    vhash.perm_coeffs — the same literals the Spark expressions use. Ends
    with CTE ``tpairs{sfx}(id_a, id_b, je)`` (est >= threshold, unrounded).
    ``where`` filters the source docs; ``sfx`` suffixes every CTE name so two
    chains (e.g. the incremental oracle's two batches) can share one WITH;
    ``materialize`` marks the multiply-referenced CTEs (sigs/bands/tpairs)
    AS MATERIALIZED — required when the chain is consumed by further
    multiply-referencing CTEs (DuckDB otherwise re-inlines the whole
    shingle->signature pipeline per reference and the plan explodes)."""
    from extractors_metadata_spark.functions.vhash import perm_coeffs

    rpb = num_perm // bands
    mins = ", ".join(
        f"min(({a} * t + {b}) % 2147483647) AS m{i}"
        for i, (a, b) in enumerate(perm_coeffs(num_perm))
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {cols} AS bucket FROM sigs{sfx}".format(
            b=b,
            sfx=sfx,
            cols=" || ',' || ".join(
                f"CAST(m{b * rpb + r} AS VARCHAR)" for r in range(rpb)
            ),
        )
        for b in range(bands)
    )
    match_sum = _minhash_match_sum(num_perm)
    denom = f"{float(num_perm)}"
    mat = "MATERIALIZED " if materialize else ""
    return rf"""
        toks{sfx} AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
                 FROM documents {where}),
        sh{sfx} AS (SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS shingle
               FROM toks{sfx}, unnest(range(1, greatest(len(tk) - 2, 1) + 1)) t(i)),
        th{sfx} AS (SELECT doc_id, {_poly_sql('shingle', 131)} AS t FROM sh{sfx}),
        sigs{sfx} AS {mat}(SELECT doc_id, {mins} FROM th{sfx} GROUP BY doc_id),
        bands{sfx} AS {mat}({band_selects}),
        cpairs{sfx} AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                   FROM bands{sfx} a JOIN bands{sfx} b
                     ON a.band = b.band AND a.bucket = b.bucket
                        AND a.doc_id < b.doc_id),
        tpairs{sfx} AS {mat}(SELECT id_a, id_b, ({match_sum}) / {denom} AS je
                   FROM cpairs{sfx}
                   JOIN sigs{sfx} sa ON sa.doc_id = id_a
                   JOIN sigs{sfx} sb ON sb.doc_id = id_b
                   WHERE ({match_sum}) / {denom} >= {threshold})
    """


def _incremental_dedup_sql(threshold: float = 0.6, num_perm: int = 64) -> str:
    """Two-batch incremental near-dedup replay (oracle for
    q_incremental_dedup_verify). Batch 1 = even doc ids: global near-dedup
    (the same recursive-components machinery as near_dedup_minhash_verify);
    its SURVIVORS' signatures are the committed state. Batch 2 = odd ids:
    any doc whose slot-match estimate vs a STATE signature clears the
    threshold drops (dedup.incremental_near_dedup step 2-4); the rest
    near-dedup among themselves. Mirrors dedup.py:incremental_near_dedup
    exactly, including that only survivor signatures enter the state."""
    match_sum = _minhash_match_sum(num_perm)
    denom = f"{float(num_perm)}"
    return f"""
        {_minhash_sql(threshold, num_perm, where="WHERE doc_id % 2 = 0", sfx="1", materialize=True)},
        edges1 AS (SELECT id_a AS src, id_b AS dst FROM tpairs1
                   UNION SELECT id_b, id_a FROM tpairs1),
        reach1 AS (
          SELECT src AS id, dst AS r FROM edges1
          UNION
          SELECT e.src, rch.r FROM edges1 e JOIN reach1 rch ON rch.id = e.dst
        ),
        labels1 AS (SELECT id, min(r) AS mn FROM reach1 GROUP BY id),
        surv1 AS MATERIALIZED (
                  SELECT d.doc_id
                  FROM documents d LEFT JOIN labels1 ON labels1.id = d.doc_id
                  WHERE d.doc_id % 2 = 0
                    AND (labels1.id IS NULL OR least(d.doc_id, labels1.mn) = d.doc_id)),
        {_minhash_sql(threshold, num_perm, where="WHERE doc_id % 2 = 1", sfx="2", materialize=True)},
        statebands AS (SELECT b.* FROM bands1 b JOIN surv1 s ON s.doc_id = b.doc_id),
        vs_old AS (SELECT DISTINCT n.doc_id AS id_a, o.doc_id AS id_b
                   FROM bands2 n JOIN statebands o
                     ON n.band = o.band AND n.bucket = o.bucket),
        dup2 AS MATERIALIZED (
                 SELECT DISTINCT v.id_a AS doc_id
                 FROM vs_old v
                 JOIN sigs2 sa ON sa.doc_id = v.id_a
                 JOIN sigs1 sb ON sb.doc_id = v.id_b
                 WHERE ({match_sum}) / {denom} >= {threshold}),
        tp2f AS MATERIALIZED (
                 SELECT t.id_a, t.id_b, t.je
                 FROM tpairs2 t
                 LEFT JOIN dup2 da ON da.doc_id = t.id_a
                 LEFT JOIN dup2 db ON db.doc_id = t.id_b
                 WHERE da.doc_id IS NULL AND db.doc_id IS NULL),
        edges2 AS (SELECT id_a AS src, id_b AS dst FROM tp2f
                   UNION SELECT id_b, id_a FROM tp2f),
        reach2 AS (
          SELECT src AS id, dst AS r FROM edges2
          UNION
          SELECT e.src, rch.r FROM edges2 e JOIN reach2 rch ON rch.id = e.dst
        ),
        labels2 AS (SELECT id, min(r) AS mn FROM reach2 GROUP BY id),
        surv2 AS MATERIALIZED (
                  SELECT d.doc_id
                  FROM documents d
                  LEFT JOIN labels2 ON labels2.id = d.doc_id
                  LEFT JOIN dup2 dd ON dd.doc_id = d.doc_id
                  WHERE d.doc_id % 2 = 1
                    AND dd.doc_id IS NULL
                    AND (labels2.id IS NULL OR least(d.doc_id, labels2.mn) = d.doc_id))
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


def _srp_pairs_sql(threshold: float = 0.25, n_bits: int = 6, dim: int = 64) -> str:
    """SRP bucket codes + exact-cosine verify in SQL: the seed-42 hyperplanes
    (similarity._hyperplanes — the very arrays the pandas UDF matmuls against)
    inlined as literal DOUBLE lists; bucket bit i = sign of v . plane_i."""
    from extractors_metadata_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_bits)  # (dim, n_bits)
    bits = " + ".join(
        "(CASE WHEN list_inner_product(v, [{vals}]) > 0 THEN {w} ELSE 0 END)".format(
            vals=", ".join(f"CAST({planes[j, i]!r} AS DOUBLE)" for j in range(dim)),
            w=1 << i,
        )
        for i in range(n_bits)
    )
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        coded AS (SELECT vec_id, v, {bits} AS bucket FROM e)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(round(list_cosine_similarity(a.v, b.v), 6), 3) AS sim
        FROM coded a JOIN coded b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {threshold}
    """


def _weblines_ctes(with_header: bool = False) -> str:
    """Shared CTE chain replaying operators/weblines.doc_lines: pseudo-line
    segmentation (8 + doc_id%5 tokens per line) + the four deterministic
    probe augmentations (policy token / brace / lorem / terminal punct —
    moduli mirrored from weblines.py literally). Ends with
    ``wl_aug(doc_id, source, line_idx, txt)``; ``with_header`` appends the
    per-host navigation header on even docs as ``wl_lines``."""
    aug = r"""
        wl_base AS (SELECT doc_id, source,
                           list_filter(string_split_regex(trim(lower(text)), '\s+'),
                                       x -> length(x) > 0) AS tk
                    FROM documents),
        wl_p AS (SELECT doc_id, source, tk, len(tk) AS n, 8 + doc_id % 5 AS L
                 FROM wl_base),
        wl_aug AS (
          SELECT doc_id, source, CAST(i AS INT) AS line_idx,
                 array_to_string(tk[(i*L+1):(i*L+L)], ' ')
                 || CASE WHEN (doc_id*13 + i) % 107 = 0 THEN ' javascript required' ELSE '' END
                 || CASE WHEN (doc_id*17 + i) % 103 = 0 THEN ' {' ELSE '' END
                 || CASE WHEN (doc_id*31 + i) % 101 = 0 THEN ' lorem ipsum dolor' ELSE '' END
                 || CASE WHEN (doc_id + i) % 5 <> 0 THEN '.' ELSE '' END AS txt
          FROM wl_p, unnest(range(0, greatest(1, (n + L - 1) // L))) t(i))
    """
    if not with_header:
        return aug
    return aug + r""",
        wl_lines AS (
          SELECT doc_id, source, line_idx, txt FROM wl_aug
          UNION ALL
          SELECT doc_id, source, -1, 'nav ' || source || ' home about contact login.'
          FROM documents WHERE doc_id % 2 = 0)
    """


def _readability_sql() -> str:
    """Replay operators/textscreen.readability_stats: exact int64
    sufficient statistics + the integer-compared grade band (constants
    imported from the operator module — single source, no drift)."""
    from extractors_metadata_spark.operators.textscreen import (
        FK_A,
        FK_B,
        FK_C,
        FK_BASIC_MAX,
        FK_INTER_MAX,
        SYLLABLE_RE,
    )

    num = (
        f"({FK_A}*n_words*n_words + {FK_B}*n_syllables*n_sentences"
        f" + ({FK_C})*n_sentences*n_words)"
    )
    return rf"""
        WITH rb AS (
          SELECT doc_id,
                 CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(lower(text)), '\s+'))
                      END AS BIGINT) AS n_words,
                 CAST(len(regexp_extract_all(trim(lower(text)), '{SYLLABLE_RE}'))
                      AS BIGINT) AS n_syllables,
                 8 + doc_id % 5 AS L
          FROM documents),
        rs AS (SELECT doc_id, n_words,
                      CAST(greatest(1, (n_words + L - 1) // L) AS BIGINT)
                        AS n_sentences,
                      n_syllables
               FROM rb)
        SELECT doc_id, n_words, n_sentences, n_syllables,
               CAST({num} AS BIGINT) AS fk_num,
               CAST(n_sentences*n_words AS BIGINT) AS fk_den,
               CASE WHEN {num} < {FK_BASIC_MAX}*n_sentences*n_words THEN 'basic'
                    WHEN {num} < {FK_INTER_MAX}*n_sentences*n_words THEN 'intermediate'
                    ELSE 'advanced' END AS grade_band
        FROM rs
    """


def _encoding_scan_sql() -> str:
    """Replay operators/textscreen.encoding_scan: identical probe-suffix
    construction + literal-alternation counts (probe strings and patterns
    imported from the operator module)."""
    from extractors_metadata_spark.operators.textscreen import (
        CONTROL_MOD,
        CONTROL_PROBE,
        CONTROL_RE,
        MOJIBAKE_MOD,
        MOJIBAKE_PROBE,
        MOJIBAKE_RE,
        REPLACEMENT_MOD,
        REPLACEMENT_PROBE,
        REPLACEMENT_RE,
    )

    return f"""
        WITH es AS (
          SELECT doc_id,
                 text
                 || CASE WHEN doc_id % {MOJIBAKE_MOD} = 0 THEN '{MOJIBAKE_PROBE}' ELSE '' END
                 || CASE WHEN doc_id % {REPLACEMENT_MOD} = 0 THEN '{REPLACEMENT_PROBE}' ELSE '' END
                 || CASE WHEN doc_id % {CONTROL_MOD} = 0 THEN '{CONTROL_PROBE}' ELSE '' END AS t
          FROM documents),
        ec AS (SELECT doc_id,
                      CAST(len(regexp_extract_all(t, '{MOJIBAKE_RE}')) AS BIGINT) AS n_mojibake,
                      CAST(len(regexp_extract_all(t, '{REPLACEMENT_RE}')) AS BIGINT) AS n_replacement,
                      CAST(len(regexp_extract_all(t, '{CONTROL_RE}')) AS BIGINT) AS n_control
               FROM es)
        SELECT doc_id, n_mojibake, n_replacement, n_control,
               n_mojibake = 0 AND n_replacement = 0 AND n_control = 0 AS encoding_ok
        FROM ec
    """


def _rep_ctes() -> str:
    """Shared CTE chain for the repetition-signal oracles; ends with
    ``rep(doc_id, n_words, dup_word_frac, top_bigram_frac)`` (docs with
    zero words absent — mirroring corpus.repetition_stats)."""
    return r"""
        base AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
                 FROM documents),
        words AS (SELECT doc_id, tok
                  FROM (SELECT doc_id, unnest(tk) AS tok FROM base)
                  WHERE length(tok) > 0),
        wstats AS (SELECT doc_id, count(*) AS n_words, count(DISTINCT tok) AS n_distinct
                   FROM words GROUP BY doc_id),
        bigrams AS (SELECT doc_id, array_to_string(tk[i:i+1], ' ') AS bg
                    FROM base, unnest(range(1, greatest(len(tk), 1))) t(i)),
        btop AS (SELECT doc_id, max(c) AS top_bigram
                 FROM (SELECT doc_id, bg, count(*) AS c FROM bigrams GROUP BY 1, 2)
                 GROUP BY doc_id),
        rep AS (SELECT w.doc_id, n_words,
                       round(1.0 - n_distinct / n_words, 6) AS dup_word_frac,
                       CASE WHEN n_words >= 2
                            THEN round(coalesce(top_bigram, 0) / (n_words - 1), 6)
                            ELSE 0.0 END AS top_bigram_frac
                FROM wstats w LEFT JOIN btop USING (doc_id))
    """


def _simhash_sql(n_bits: int = 31) -> str:
    votes = ", ".join(
        f"sum(CASE WHEN (h & {1 << i}) <> 0 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(n_bits)
    )
    sim = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(n_bits)
    )
    return rf"""
        WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
                      FROM documents),
        th AS (SELECT doc_id, {_poly_sql('tok', 131)} AS h
               FROM toks WHERE length(tok) > 0),
        votes AS (SELECT doc_id, {votes} FROM th GROUP BY doc_id)
        SELECT doc_id, CAST({sim} AS BIGINT) AS simhash FROM votes
    """


def _winnow_sel_sql() -> str:
    """Winnowing selection replay (operators/winnow.py): mix31(poly131) gram
    hashes, packed integer key fp*1024 + (1023 - i), ONE window-min over the
    4-frame with the rightmost-minimum tie-break encoded in the key — never
    an argmin. Emits CTEs ending in ``wsel(doc_id, key)``."""
    return f"""
        d0 AS (
          SELECT doc_id,
                 substr(regexp_replace(lower(trim(text)), '[^ -~]', '', 'g'),
                        1, 512) AS s
          FROM documents),
        g AS (
          SELECT doc_id, i, substr(s, i + 1, 7) AS gm
          FROM (SELECT doc_id, s, unnest(range(length(s) - 6)) AS i
                FROM d0 WHERE length(s) >= 7)),
        h0 AS (SELECT doc_id, i, {_poly_sql('gm', 131)} AS hr FROM g),
        h1 AS MATERIALIZED (
          SELECT doc_id, i, {_mix31_sql('hr')} AS fp FROM h0),
        keys AS (
          SELECT doc_id, i, fp * 1024 + (1023 - i) AS key,
                 max(i) OVER (PARTITION BY doc_id) AS max_i
          FROM h1),
        wins AS (
          SELECT doc_id, i, max_i,
                 min(key) OVER (PARTITION BY doc_id ORDER BY i
                                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                   AS key
          FROM keys),
        wsel AS MATERIALIZED (
          SELECT DISTINCT doc_id, key FROM wins WHERE i + 3 <= max_i)"""


_WINNOW_FPS_SQL = f"""
    WITH {_winnow_sel_sql()}
    SELECT doc_id, 1023 - (key % 1024) AS pos, key // 1024 AS fp FROM wsel
"""

_WINNOW_PAIRS_SQL = f"""
    WITH {_winnow_sel_sql()},
    fps AS MATERIALIZED (
      SELECT DISTINCT doc_id, key // 1024 AS fp FROM wsel),
    live AS (
      SELECT fp FROM (SELECT fp, count(*) AS df FROM fps GROUP BY 1)
      WHERE df <= 10),
    kept AS MATERIALIZED (
      SELECT f.doc_id, f.fp FROM fps f JOIN live l ON l.fp = f.fp)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS shared
    FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= 5
"""


def _rabin_spans_sql() -> str:
    """Content-defined chunking replay (operators/cdc.py): mix31(poly131)
    gram hashes, boundary where fp % 64 = 0, spans via lead() over the cut
    set. Emits CTEs ending in ``sp2(doc_id, start, len, s)``."""
    return f"""
        d0 AS (
          SELECT doc_id,
                 substr(regexp_replace(lower(trim(text)), '[^ -~]', '', 'g'),
                        1, 1024) AS s
          FROM documents),
        g AS (
          SELECT doc_id, i, substr(s, i + 1, 7) AS gm
          FROM (SELECT doc_id, s, unnest(range(length(s) - 6)) AS i
                FROM d0 WHERE length(s) >= 7)),
        h0 AS (SELECT doc_id, i, {_poly_sql('gm', 131)} AS hr FROM g),
        h1 AS (SELECT doc_id, i, {_mix31_sql('hr')} AS fp FROM h0),
        cuts AS (SELECT doc_id, i + 7 AS cut FROM h1 WHERE fp % 64 = 0),
        dl AS MATERIALIZED (
          SELECT doc_id, length(s) AS ln, s FROM d0 WHERE length(s) > 0),
        starts AS (
          SELECT doc_id, CAST(0 AS BIGINT) AS start FROM dl
          UNION ALL
          SELECT c.doc_id, CAST(c.cut AS BIGINT)
          FROM cuts c JOIN dl d ON d.doc_id = c.doc_id WHERE c.cut < d.ln),
        spans AS (
          SELECT doc_id, start,
                 lead(start) OVER (PARTITION BY doc_id ORDER BY start) AS nxt
          FROM starts),
        sp2 AS MATERIALIZED (
          SELECT sp.doc_id, sp.start,
                 coalesce(sp.nxt, d.ln) - sp.start AS len, d.s
          FROM spans sp JOIN dl d ON d.doc_id = sp.doc_id
          WHERE coalesce(sp.nxt, d.ln) - sp.start > 0)"""


_RABIN_FP = (
    f"({_poly_sql('substr(s, start + 1, len)', 131)}) * 2147483648"
    f" + ({_poly_sql('substr(s, start + 1, len)', 137)})"
)

_RABIN_CHUNKS_SQL = f"""
    WITH {_rabin_spans_sql()}
    SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start)
                AS INT) AS chunk_idx,
           start, len, {_RABIN_FP} AS chunk_fp
    FROM sp2
"""

_RABIN_DEDUP_SQL = f"""
    WITH {_rabin_spans_sql()},
    ch AS (SELECT doc_id, len, {_RABIN_FP} AS chunk_fp FROM sp2)
    SELECT chunk_fp, min(len) AS chunk_len,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM ch GROUP BY 1 HAVING count(*) >= 2
"""


_FEAT_TOK = (
    r"CASE WHEN length(trim(text)) = 0 THEN 0 "
    r"ELSE len(string_split_regex(trim(text), '\s+')) END"
)
_FEAT_DIG = r"length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))"


_RIDGE_SQL = f"""
    WITH feat AS (
      SELECT lang,
             CAST({_FEAT_TOK} AS BIGINT) AS x1,
             CAST({_FEAT_DIG} AS BIGINT) AS x2,
             CAST(n_chars AS BIGINT) AS y
      FROM documents),
    agg AS (
      SELECT lang,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x1) AS HUGEINT) AS s1,
             CAST(sum(x2) AS HUGEINT) AS s2,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(x1 * x1) AS HUGEINT) + 10000 AS a11,
             CAST(sum(x1 * x2) AS HUGEINT) AS a12,
             CAST(sum(x2 * x2) AS HUGEINT) + 10000 AS a22,
             CAST(sum(x1 * y) AS HUGEINT) AS s1y,
             CAST(sum(x2 * y) AS HUGEINT) AS s2y
      FROM feat GROUP BY 1),
    alg AS (
      SELECT lang, n,
             n * (a11 * a22 - a12 * a12)
               - s1 * (s1 * a22 - a12 * s2)
               + s2 * (s1 * a12 - a11 * s2) AS det,
             sy * (a11 * a22 - a12 * a12)
               - s1 * (s1y * a22 - a12 * s2y)
               + s2 * (s1y * a12 - a11 * s2y) AS n0,
             n * (s1y * a22 - a12 * s2y)
               - sy * (s1 * a22 - a12 * s2)
               + s2 * (s1 * s2y - s1y * s2) AS n1,
             n * (a11 * s2y - s1y * a12)
               - s1 * (s1 * s2y - s1y * s2)
               + sy * (s1 * a12 - a11 * s2) AS n2
      FROM agg)
    SELECT lang, CAST(n AS BIGINT) AS n,
           CAST((n0 * 1000000) // det AS BIGINT) AS w0_fp,
           CAST((n1 * 1000000) // det AS BIGINT) AS w1_fp,
           CAST((n2 * 1000000) // det AS BIGINT) AS w2_fp
    FROM alg
"""


def _perceptron_sql(rounds: int = 5) -> str:
    """Unrolled round-by-round replay of the batch perceptron: each
    round r computes the misclassified-set sums under w_{r-1} (m{r}),
    then w{r} = w{r-1} + delta. Every m/w CTE is referenced twice (the
    next stage and the final UNION), so all are MATERIALIZED (the
    minhash re-inlining lesson)."""
    parts = [
        f"""f AS MATERIALIZED (
          SELECT CAST({_FEAT_TOK} AS BIGINT) AS x1,
                 CAST({_FEAT_DIG} AS BIGINT) AS x2,
                 CAST(CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS BIGINT) AS y
          FROM documents)""",
        "w0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,"
        " CAST(0 AS BIGINT) AS w2)",
    ]
    for r in range(1, rounds + 1):
        parts.append(f"""m{r} AS MATERIALIZED (
          SELECT
            sum(CASE WHEN y * (w.w0 + w.w1 * x1 + w.w2 * x2) <= 0
                     THEN 1 ELSE 0 END) AS ne,
            sum(CASE WHEN y * (w.w0 + w.w1 * x1 + w.w2 * x2) <= 0
                     THEN y ELSE 0 END) AS d0,
            sum(CASE WHEN y * (w.w0 + w.w1 * x1 + w.w2 * x2) <= 0
                     THEN y * x1 ELSE 0 END) AS d1,
            sum(CASE WHEN y * (w.w0 + w.w1 * x1 + w.w2 * x2) <= 0
                     THEN y * x2 ELSE 0 END) AS d2
          FROM f CROSS JOIN w{r - 1} w)""")
        parts.append(f"""w{r} AS MATERIALIZED (
          SELECT w.w0 + m.d0 AS w0, w.w1 + m.d1 AS w1, w.w2 + m.d2 AS w2
          FROM w{r - 1} w CROSS JOIN m{r} m)""")
    finals = [
        f"""SELECT CAST({r} AS BIGINT) AS round,
               CAST(m{r}.ne AS BIGINT) AS n_err,
               CAST(w{r}.w0 AS BIGINT) AS w0,
               CAST(w{r}.w1 AS BIGINT) AS w1,
               CAST(w{r}.w2 AS BIGINT) AS w2
        FROM m{r} CROSS JOIN w{r}"""
        for r in range(1, rounds + 1)
    ]
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(finals)


def _huffman_sql(stages: int = 25) -> str:
    """Unrolled Huffman construction (operators/huffman.py): stage k
    merges the two (w, id)-smallest nodes per lang (merged id = 25 + k,
    the engine's sequential-id tie-break) and banks the merged weight;
    langs already down to one node pass through untouched. total_bits =
    the banked sum (external path length = sum of internal weights).
    Every stage CTE is multiply-referenced -> MATERIALIZED throughout
    (the minhash re-inlining lesson)."""
    sums = ",\n                 ".join(
        f"sum(length(t) - length(replace(t, '{chr(97 + i)}', ''))) AS w{i}"
        for i in range(26)
    )
    arms = "\n              UNION ALL ".join(
        f"SELECT lang, {i} AS sym, w{i} AS w FROM g" for i in range(26)
    )
    parts = [
        f"""g AS MATERIALIZED (
          SELECT lang,
                 {sums}
          FROM (SELECT lang, lower(text) AS t FROM documents)
          GROUP BY lang)""",
        f"""s0 AS MATERIALIZED (
          SELECT lang, CAST(sym AS BIGINT) AS id, CAST(w AS BIGINT) AS w
          FROM ({arms})
          WHERE w > 0)""",
    ]
    for k in range(1, stages + 1):
        parts.append(f"""r{k} AS MATERIALIZED (
          SELECT lang, id, w,
                 row_number() OVER (PARTITION BY lang ORDER BY w, id) AS rn,
                 count(*) OVER (PARTITION BY lang) AS cnt
          FROM s{k - 1})""")
        parts.append(f"""mg{k} AS MATERIALIZED (
          SELECT lang, sum(w) AS mw
          FROM r{k} WHERE rn <= 2 AND cnt >= 2 GROUP BY lang)""")
        parts.append(f"""s{k} AS MATERIALIZED (
          SELECT lang, id, w FROM r{k} WHERE rn > 2 OR cnt < 2
          UNION ALL
          SELECT lang, {25 + k} AS id, mw AS w FROM mg{k})""")
    mgall = "\n       UNION ALL ".join(
        f"SELECT lang, mw FROM mg{k}" for k in range(1, stages + 1)
    )
    return (
        "WITH " + ",\n".join(parts) + f""",
    base AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_syms,
             CAST(sum(w) AS BIGINT) AS total_w
      FROM s0 GROUP BY 1),
    cost AS (
      SELECT lang, CAST(sum(mw) AS BIGINT) AS total_bits
      FROM ({mgall}) GROUP BY 1)
    SELECT b.lang, b.n_syms, b.total_w,
           CAST(coalesce(c.total_bits, 0) AS BIGINT) AS total_bits
    FROM base b LEFT JOIN cost c ON c.lang = b.lang"""
    )


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


def _harmonic_sql(hops: int = 4, n_seeds: int = 10) -> str:
    """harmonic_centrality replay: the zipf symmetrized edge set, then
    ``hops`` unrolled delta-BFS stages — new nodes at hop r = frontier
    neighbors EXCEPT everything settled (the k_hop oracle discipline) —
    and the lcm//hop rollup per seed."""
    import math as _math

    lcm = 1
    for d in range(1, hops + 1):
        lcm = lcm * d // _math.gcd(lcm, d)
    parts = [
        """edges0 AS (
          SELECT DISTINCT (event_id * 131 + user_id) % 1000 AS src,
                 1000 // (1 + (event_id % 1000)) AS dst
          FROM events)""",
        """sym AS MATERIALIZED (
          SELECT src, dst FROM edges0 WHERE src != dst
          UNION
          SELECT dst AS src, src AS dst FROM edges0 WHERE src != dst)""",
        f"""s0 AS MATERIALIZED (
          SELECT seed, seed AS node, 0 AS hop
          FROM (SELECT unnest(range(0, {n_seeds})) AS seed))""",
    ]
    prev_s, prev_f = "s0", "s0"
    for r in range(1, hops + 1):
        parts.append(f"""n{r} AS MATERIALIZED (
          SELECT seed, node, {r} AS hop FROM (
            SELECT DISTINCT f.seed, e.dst AS node
            FROM {prev_f} f JOIN sym e ON e.src = f.node
            EXCEPT
            SELECT seed, node FROM {prev_s}))""")
        parts.append(f"""s{r} AS MATERIALIZED (
          SELECT seed, node, hop FROM {prev_s}
          UNION ALL SELECT seed, node, hop FROM n{r})""")
        prev_s, prev_f = f"s{r}", f"n{r}"
    return (
        "WITH " + ",\n".join(parts) + f""",
    perseed AS (
      SELECT seed, CAST(count(*) AS BIGINT) AS n_reached,
             CAST(sum({lcm} // hop) AS BIGINT) AS harm_num
      FROM {prev_s} WHERE hop > 0 GROUP BY 1)
    SELECT sd.seed,
           CAST(coalesce(p.n_reached, 0) AS BIGINT) AS n_reached,
           CAST(coalesce(p.harm_num, 0) AS BIGINT) AS harm_num,
           CAST({lcm} AS BIGINT) AS den
    FROM (SELECT CAST(unnest(range(0, {n_seeds})) AS BIGINT) AS seed) sd
    LEFT JOIN perseed p ON p.seed = sd.seed"""
    )


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


def _critical_path_sql(rounds: int = 8) -> str:
    """longest_paths replay: the acyclic src<dst zipf subgraph, every
    node seeded at 0, ``rounds`` unrolled max-relaxation stages (the
    _shortest_paths_sql recipe with max-plus)."""
    stages = []
    prev = "d0"
    for i in range(1, rounds + 1):
        stages.append(f"""
        d{i} AS MATERIALIZED (
          SELECT node, max(dist) AS dist FROM (
            SELECT node, dist FROM {prev}
            UNION ALL
            SELECT ew.dst AS node, d.dist + ew.w AS dist
            FROM ew JOIN {prev} d ON d.node = ew.src)
          GROUP BY node)""")
        prev = f"d{i}"
    body = ",".join(stages)
    return f"""
        WITH edges AS (
          SELECT DISTINCT (event_id * 131 + user_id) % 1000 AS src,
                 1000 // (1 + (event_id % 1000)) AS dst
          FROM events),
        ew AS MATERIALIZED (
          SELECT src, dst, CAST(1 + (src + 3 * dst) % 7 AS BIGINT) AS w
          FROM edges WHERE src < dst),
        d0 AS (
          SELECT CAST(node AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
          FROM (SELECT src AS node FROM ew UNION SELECT dst FROM ew)),
        {body}
        SELECT node, dist FROM {prev}
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


def _robustness_sql(ks=(0, 8), rounds: int = 10) -> str:
    """attack_robustness replay: zipf symmetrized edges, frozen degree
    rank, per k the hub-removed subgraph and EXACTLY ``rounds`` unrolled
    min-label stages (no early exit on either engine), then the per-k
    rollup rows unioned."""
    parts = [
        """edges0 AS (
          SELECT DISTINCT (event_id * 131 + user_id) % 1000 AS src,
                 1000 // (1 + (event_id % 1000)) AS dst
          FROM events)""",
        """sym AS MATERIALIZED (
          SELECT src, dst FROM edges0 WHERE src != dst
          UNION
          SELECT dst AS src, src AS dst FROM edges0 WHERE src != dst)""",
        """rk AS MATERIALIZED (
          SELECT node, row_number() OVER (ORDER BY deg DESC, node) AS rk
          FROM (SELECT src AS node, count(*) AS deg FROM sym GROUP BY 1))""",
    ]
    finals = []
    for k in ks:
        parts.append(f"""el{k} AS MATERIALIZED (
          SELECT s.src, s.dst FROM sym s
          WHERE NOT EXISTS (SELECT 1 FROM rk r
                            WHERE r.rk <= {k} AND r.node = s.src)
            AND NOT EXISTS (SELECT 1 FROM rk r
                            WHERE r.rk <= {k} AND r.node = s.dst))""")
        parts.append(f"""lbl{k}_0 AS MATERIALIZED (
          SELECT node, CAST(node AS BIGINT) AS label
          FROM (SELECT src AS node FROM el{k}
                UNION SELECT dst FROM el{k}))""")
        prev = f"lbl{k}_0"
        for r in range(1, rounds + 1):
            parts.append(f"""lbl{k}_{r} AS MATERIALIZED (
              SELECT node, min(label) AS label FROM (
                SELECT node, label FROM {prev}
                UNION ALL
                SELECT e.dst AS node, l.label
                FROM el{k} e JOIN {prev} l ON l.node = e.src)
              GROUP BY node)""")
            prev = f"lbl{k}_{r}"
        finals.append(f"""            SELECT CAST({k} AS BIGINT) AS k_removed,
                   (SELECT CAST(count(*) AS BIGINT) FROM {prev}) AS n_nodes,
                   (SELECT CAST(count(*) AS BIGINT) FROM el{k}) AS n_arcs,
                   (SELECT CAST(max(sz) AS BIGINT) FROM (
                      SELECT count(*) AS sz FROM {prev} GROUP BY label))
                     AS giant_size,
                   (SELECT CAST(count(DISTINCT label) AS BIGINT) FROM {prev})
                     AS n_components"""
        )
    return (
        "WITH " + ",\n".join(parts) + "\n"
        + "\n            UNION ALL\n".join(finals)
    )


def _temporal_reach_sql(rounds: int = 6, n_seeds: int = 5) -> str:
    """temporal_reach replay: timed zipf edges, seeds at -2^62, per
    round UNION the time-admissible relaxations and take the (seed,
    node) min — the _shortest_paths_sql recipe with the t >= arrive
    filter."""
    stages = []
    prev = "a0"
    for i in range(1, rounds + 1):
        stages.append(f"""
        a{i} AS MATERIALIZED (
          SELECT seed, node, min(at) AS at FROM (
            SELECT seed, node, at FROM {prev}
            UNION ALL
            SELECT p.seed, e.dst AS node, e.t AS at
            FROM ew e JOIN {prev} p ON p.node = e.src
            WHERE e.t >= p.at)
          GROUP BY 1, 2)""")
        prev = f"a{i}"
    body = ",".join(stages)
    return f"""
        WITH ew AS MATERIALIZED (
          SELECT (event_id * 131 + user_id) % 1000 AS src,
                 1000 // (1 + (event_id % 1000)) AS dst,
                 epoch_us(ts) AS t
          FROM events
          WHERE (event_id * 131 + user_id) % 1000
                != 1000 // (1 + (event_id % 1000))),
        a0 AS (
          SELECT CAST(seed AS BIGINT) AS seed, CAST(seed AS BIGINT) AS node,
                 CAST(-4611686018427387904 AS BIGINT) AS at
          FROM (SELECT unnest(range(0, {n_seeds})) AS seed)),
        {body}
        SELECT seed, node,
               CAST(greatest(at, 0) AS BIGINT) AS arrive_t
        FROM {prev}
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


def _entropy_bound_sql() -> str:
    sums = ",\n                 ".join(
        f"sum(length(t) - length(replace(t, '{chr(97 + i)}', ''))) AS w{i}"
        for i in range(26)
    )
    arms = "\n              UNION ALL ".join(
        f"SELECT lang, {i} AS sym, w{i} AS w FROM g" for i in range(26)
    )
    return f"""
        WITH g AS MATERIALIZED (
          SELECT lang,
                 {sums}
          FROM (SELECT lang, lower(text) AS t FROM documents)
          GROUP BY lang),
        base AS MATERIALIZED (
          SELECT lang, CAST(sym AS BIGINT) AS sym, CAST(w AS BIGINT) AS w
          FROM ({arms})
          WHERE w > 0),
        tot AS (SELECT lang, CAST(sum(w) AS BIGINT) AS total_w
                FROM base GROUP BY 1),
        terms AS (
          SELECT b.lang, t.total_w,
                 b.w * CAST(round_even(
                   ln(CAST(t.total_w AS DOUBLE) / CAST(b.w AS DOUBLE)) * 1e9,
                   0) AS BIGINT) AS term
          FROM base b JOIN tot t ON t.lang = b.lang)
        SELECT lang, CAST(count(*) AS BIGINT) AS n_syms,
               CAST(min(total_w) AS BIGINT) AS total_w,
               CAST(sum(term) AS BIGINT) AS h_num
        FROM terms GROUP BY 1
    """


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


def _coloring_sql(n_sub: int = 24) -> str:
    """greedy_coloring replay: the Welsh-Powell walk unrolled as n_sub
    pick stages (smallest free color via a range NOT IN per stage)."""
    parts = [f"""
        e0 AS (
          SELECT DISTINCT (event_id * 131 + user_id) % 1000 AS src,
                 1000 // (1 + (event_id % 1000)) AS dst
          FROM events),
        und AS MATERIALIZED (
          SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM e0
            UNION ALL SELECT dst AS src, src AS dst FROM e0) u
          WHERE src <> dst AND src < {n_sub} AND dst < {n_sub}),
        nd AS (SELECT CAST(range AS BIGINT) AS node FROM range({n_sub})),
        deg AS MATERIALIZED (
          SELECT n.node, CAST(COALESCE(c.d, 0) AS BIGINT) AS deg
          FROM nd n LEFT JOIN (
            SELECT src AS node, count(*) AS d FROM und GROUP BY 1) c
            ON c.node = n.node),
        ord0 AS MATERIALIZED (
          SELECT node, deg,
                 row_number() OVER (ORDER BY deg DESC, node) AS pos
          FROM deg),
        c0 AS (SELECT CAST(NULL AS BIGINT) AS node,
                      CAST(NULL AS BIGINT) AS color
               WHERE FALSE)"""]
    for i in range(1, n_sub + 1):
        parts.append(f"""
        cur{i} AS (SELECT node FROM ord0 WHERE pos = {i}),
        used{i} AS (
          SELECT DISTINCT c.color FROM c{i - 1} c
          JOIN und e ON e.src = (SELECT node FROM cur{i})
                    AND e.dst = c.node),
        pick{i} AS MATERIALIZED (
          SELECT cur.node,
                 (SELECT CAST(min(r.range) AS BIGINT) FROM range({n_sub}) r
                  WHERE r.range NOT IN (SELECT color FROM used{i}))
                   AS color
          FROM cur{i} cur),
        c{i} AS MATERIALIZED (
          SELECT * FROM c{i - 1} UNION ALL SELECT * FROM pick{i})""")
    return (
        "WITH "
        + ",".join(parts)
        + f"""
        SELECT c.node, c.color, d.deg
        FROM c{n_sub} c JOIN deg d ON d.node = c.node
    """
    )


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


def _sa_stage_parts(max_len: int, stages: int) -> list:
    """Shared docs + prefix-doubling CTE stages (pos0..pos{stages}) for
    the suffix-order oracles (suffix_lrs, bwt_runs)."""
    parts = [f"""
        docs AS MATERIALIZED (
          SELECT doc_id, substr(COALESCE(text, ''), 1, {max_len}) AS t
          FROM documents),
        pos0 AS MATERIALIZED (
          SELECT d.doc_id, CAST(g.range AS BIGINT) AS i,
                 CAST(ascii(substr(d.t, CAST(g.range AS INT) + 1, 1))
                      AS BIGINT) AS r
          FROM docs d CROSS JOIN range({max_len}) g
          WHERE g.range < length(d.t))"""]
    for st in range(1, stages + 1):
        off = 1 << (st - 1)
        parts.append(f"""
        pos{st} AS MATERIALIZED (
          SELECT a.doc_id, a.i,
                 CAST(dense_rank() OVER (PARTITION BY a.doc_id
                        ORDER BY a.r, COALESCE(b.r, -1)) AS BIGINT) AS r
          FROM pos{st - 1} a
          LEFT JOIN pos{st - 1} b
            ON b.doc_id = a.doc_id AND b.i = a.i + {off})""")
    return parts


def _bwt_runs_sql(max_len: int = 256, stages: int = 8) -> str:
    """bwt_runs replay: the shared doubling stages + one lag over
    suffix rank counting value changes (virtual sentinel -1 at i=0)."""
    parts = _sa_stage_parts(max_len, stages)
    return (
        "WITH "
        + ",".join(parts)
        + f"""
        , bwt AS (
          SELECT o.doc_id, o.r,
                 CASE WHEN o.i = 0 THEN -1
                      ELSE CAST(ascii(substr(d.t, CAST(o.i AS INT), 1))
                               AS BIGINT) END AS b
          FROM pos{stages} o JOIN docs d ON d.doc_id = o.doc_id),
        runs AS (
          SELECT doc_id,
                 1 + sum(CASE WHEN pb IS NOT NULL AND b <> pb
                              THEN 1 ELSE 0 END) AS runs
          FROM (SELECT doc_id, b,
                       lag(b) OVER (PARTITION BY doc_id ORDER BY r)
                         AS pb
                FROM bwt) z
          GROUP BY 1)
        SELECT d.doc_id, CAST(length(d.t) AS BIGINT) AS n_used,
               CAST(COALESCE(r.runs, 0) AS BIGINT) AS runs
        FROM docs d LEFT JOIN runs r ON r.doc_id = d.doc_id
    """
    )


def _string_period_sql(max_len: int = 256) -> str:
    """string_period oracle — INDEPENDENT derivation: the definitional
    minimal shift p with t[0:n-p] == t[p:n] over a bounded shift dim
    (the engine runs KMP; two algorithms, one answer)."""
    return f"""
        WITH docs AS MATERIALIZED (
          SELECT doc_id, substr(COALESCE(text, ''), 1, {max_len}) AS t
          FROM documents),
        cand AS (
          SELECT d.doc_id, CAST(g.range AS BIGINT) AS p
          FROM docs d CROSS JOIN range(1, {max_len} + 1) g
          WHERE g.range <= length(d.t)
            AND substr(d.t, 1,
                       length(d.t) - CAST(g.range AS INT))
                = substr(d.t, CAST(g.range AS INT) + 1)),
        minp AS (SELECT doc_id, min(p) AS period FROM cand GROUP BY 1)
        SELECT d.doc_id, CAST(length(d.t) AS BIGINT) AS n_used,
               CAST(length(d.t) - COALESCE(m.period, 0) AS BIGINT)
                 AS border_len,
               CAST(COALESCE(m.period, 0) AS BIGINT) AS period
        FROM docs d LEFT JOIN minp m ON m.doc_id = d.doc_id
    """


def _suffix_lrs_sql(max_len: int = 256, stages: int = 8) -> str:
    """suffix_lrs replay: Manber-Myers prefix doubling unrolled as
    ``stages`` dense_rank CTE stages (2^stages must cover max_len), then
    adjacent-suffix LCP via sequential binary-lifting stages (one CTE
    per power so the text stays linear), LRS = max."""
    parts = _sa_stage_parts(max_len, stages)
    # LCP via SEQUENTIAL binary-lifting stages (k referenced a constant
    # number of times per stage) — a one-expression recurrence nests its
    # own text 3x per level, which at max_pow=256 is an ~800 KB
    # expression tree; staging keeps it linear (measured 395s -> fast).
    parts.append(f"""
        ordered AS (
          SELECT p.doc_id, p.i, p.r,
                 lag(p.i) OVER (PARTITION BY p.doc_id ORDER BY p.r)
                   AS prev_i
          FROM pos{stages} p),
        lcp0 AS (
          SELECT o.doc_id,
                 substr(d.t, CAST(o.i AS INT) + 1) AS sa,
                 substr(d.t, CAST(o.prev_i AS INT) + 1) AS sb,
                 CAST(0 AS BIGINT) AS k
          FROM ordered o JOIN docs d ON d.doc_id = o.doc_id
          WHERE o.prev_i IS NOT NULL)""")
    powers = []
    p = int(max_len)
    while p >= 1:
        powers.append(p)
        p //= 2
    for j, pw in enumerate(powers, start=1):
        parts.append(f"""
        lcp{j} AS (
          SELECT doc_id, sa, sb,
                 k + CASE WHEN substr(sa, 1, CAST(k + {pw} AS INT))
                            = substr(sb, 1, CAST(k + {pw} AS INT))
                          THEN {pw} ELSE 0 END AS k
          FROM lcp{j - 1})""")
    last = len(powers)
    return (
        "WITH "
        + ",".join(parts)
        + f"""
        SELECT d.doc_id, CAST(length(d.t) AS BIGINT) AS n_used,
               CAST(COALESCE(m.lrs, 0) AS BIGINT) AS lrs_len
        FROM docs d LEFT JOIN (
          SELECT doc_id,
                 max(least(k, length(sa), length(sb))) AS lrs
          FROM lcp{last} GROUP BY 1) m
          ON m.doc_id = d.doc_id
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
    referenced 2+ times is MATERIALIZED (the minhash recursion lesson).
    Empty late rounds flow through harmlessly (LEFT JOIN carries c{r}
    forward — the bpe exhausted-vocab lesson applied up front)."""
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


def _stress_sql(rounds: int = 4, n_seeds: int = 16) -> str:
    """bfs_sigma + stress_centrality replay: the sigma recurrence unrolled
    as ``rounds`` CTE stages (the k_hop discipline), then the verbatim
    seed-pair path-through join."""
    stages = []
    for h in range(1, rounds + 1):
        stages.append(f"""
        f{h} AS MATERIALIZED (
          SELECT f.seed, e.dst AS node, CAST({h} AS BIGINT) AS dist,
                 CAST(sum(f.sigma) AS BIGINT) AS sigma
          FROM f{h - 1} f JOIN und e ON e.src = f.node
          LEFT JOIN v{h - 1} vis ON vis.seed = f.seed AND vis.node = e.dst
          WHERE vis.node IS NULL
          GROUP BY 1, 2),
        v{h} AS MATERIALIZED (
          SELECT * FROM v{h - 1} UNION ALL SELECT * FROM f{h})""")
    return f"""
        WITH e0 AS (
          SELECT DISTINCT (event_id * 131 + user_id) % 1000 AS src,
                 1000 // (1 + (event_id % 1000)) AS dst
          FROM events),
        und AS MATERIALIZED (
          SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM e0
            UNION ALL SELECT dst AS src, src AS dst FROM e0) u
          WHERE src <> dst),
        v0 AS MATERIALIZED (
          SELECT CAST(range AS BIGINT) AS seed, CAST(range AS BIGINT) AS node,
                 CAST(0 AS BIGINT) AS dist, CAST(1 AS BIGINT) AS sigma
          FROM range({n_seeds})),
        f0 AS (SELECT * FROM v0),{",".join(stages)},
        p AS MATERIALIZED (
          SELECT seed AS s, node AS t, dist AS dst_d FROM v{rounds}
          WHERE node < {n_seeds} AND seed < node)
        SELECT b1.node, CAST(sum(b1.sigma * b2.sigma) AS BIGINT) AS stress,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM v{rounds} b1
        JOIN v{rounds} b2 ON b2.node = b1.node AND b1.seed < b2.seed
        JOIN p ON p.s = b1.seed AND p.t = b2.seed
        WHERE b1.node <> b1.seed AND b1.node <> b2.seed
          AND b1.dist + b2.dist = p.dst_d
        GROUP BY 1
    """


def _aho_scan_sql() -> str:
    from .shared import AHO_PATTERNS

    vals = ", ".join(
        f"({i}, '{p}', {len(p)})" for i, p in enumerate(AHO_PATTERNS)
    )
    return f"""
        WITH pats(pid, p, plen) AS (VALUES {vals}),
        occ AS MATERIALIZED (
          SELECT d.doc_id, pt.pid,
                 CAST((length(d.text) - length(replace(d.text, pt.p, '')))
                      // pt.plen AS BIGINT) AS o
          FROM documents d CROSS JOIN pats pt),
        agg AS (
          SELECT doc_id, CAST(sum(o) AS BIGINT) AS total_hits,
                 CAST(sum(CASE WHEN o > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS distinct_hits
          FROM occ GROUP BY 1),
        topp AS (
          SELECT doc_id, pid FROM (
            SELECT doc_id, pid, o,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY o DESC, pid) AS rk
            FROM occ) t
          WHERE rk = 1 AND o > 0)
        SELECT a.doc_id, a.total_hits, a.distinct_hits,
               CAST(COALESCE(t.pid, -1) AS BIGINT) AS top_pid
        FROM agg a LEFT JOIN topp t ON t.doc_id = a.doc_id
    """


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
    en_occ = lambda m: f"(length(pad) - length(replace(pad, '{m}', ''))) / {len(m)}"
    en_sum = " + ".join(en_occ(m) for m in [" the ", " and ", " of ", " to ", " is "])
    de_sum = " + ".join(en_occ(m) for m in [" der ", " und ", " die ", " das ", " ist "])
    tok = r"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\s+')) END"
    punct = r"CASE WHEN length(text) = 0 THEN 0.0 ELSE length(regexp_replace(text, '[^!-/:-@\[-`{-~]', '', 'g')) / length(text) END"
    upper = r"CASE WHEN length(text) = 0 THEN 0.0 ELSE length(regexp_replace(text, '[^A-Z]', '', 'g')) / length(text) END"
    mwl = rf"CASE WHEN ({tok}) = 0 THEN 0.0 ELSE length(regexp_replace(trim(text), '\s+', '', 'g')) / ({tok}) END"

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
        "prefix_remap": """
            WITH p AS (
              SELECT event_id,
                     CASE WHEN event_id % 3 = 0
                          THEN '/gantry_data/raw/' || event_type || '/' || event_id
                          WHEN event_id % 3 = 1
                          THEN '/gantry_data/derived/' || event_id
                          ELSE '/other/' || event_id END AS path
              FROM events)
            SELECT event_id,
                   CASE WHEN path LIKE '/gantry_data/raw/%'
                        THEN '/home/extractor/raw/' || substr(path, 18)
                        WHEN path LIKE '/gantry_data/%'
                        THEN '/data/' || substr(path, 14)
                        ELSE path END AS path
            FROM p
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
        "dedup_exact": """
            SELECT doc_id,
                   min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
                   count(*) OVER (PARTITION BY md5(text)) AS group_size
            FROM documents
        """,
        "token_stats": f"""
            SELECT doc_id,
                   CAST({tok} AS INT) AS n_tokens,
                   round({mwl}, 6) AS mean_word_len,
                   round({punct}, 6) AS punct_ratio
            FROM documents
        """,
        "word_tokens": r"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS INT) AS n_units
            FROM documents
        """,
        "lang_id": f"""
            WITH t AS (SELECT doc_id, ' ' || lower(text) || ' ' AS pad FROM documents)
            SELECT doc_id,
                   CASE WHEN ({en_sum}) > ({de_sum}) AND ({en_sum}) > 0 THEN 'en'
                        WHEN ({de_sum}) > ({en_sum}) AND ({de_sum}) > 0 THEN 'de'
                        ELSE 'unknown' END AS pred_lang
            FROM t
        """,
        "langid_confusion": f"""
            WITH t AS (SELECT lang, ' ' || lower(text) || ' ' AS pad
                       FROM documents),
            p AS (
              SELECT lang,
                     CASE WHEN ({en_sum}) > ({de_sum}) AND ({en_sum}) > 0 THEN 'en'
                          WHEN ({de_sum}) > ({en_sum}) AND ({de_sum}) > 0 THEN 'de'
                          ELSE 'unknown' END AS pred_lang
              FROM t)
            SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
            FROM p GROUP BY 1, 2
        """,
        "one_rule": """
            WITH base AS (
              SELECT CAST(length(text) AS BIGINT) AS x, lang AS lbl
              FROM documents),
            nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
            cnt AS (SELECT x, lbl, CAST(count(*) AS BIGINT) AS c
                    FROM base GROUP BY 1, 2),
            xs AS (SELECT DISTINCT x FROM cnt),
            ls AS (SELECT DISTINCT lbl FROM cnt),
            tot AS (SELECT lbl, CAST(sum(c) AS BIGINT) AS t
                    FROM cnt GROUP BY 1),
            grid AS (SELECT xs.x, ls.lbl, coalesce(cnt.c, 0) AS c
                     FROM xs CROSS JOIN ls
                     LEFT JOIN cnt ON cnt.x = xs.x AND cnt.lbl = ls.lbl),
            cum AS (SELECT g.x, g.lbl,
                           CAST(sum(g.c) OVER (
                             PARTITION BY g.lbl ORDER BY g.x
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS BIGINT) AS lc,
                           t.t
                    FROM grid g JOIN tot t ON t.lbl = g.lbl),
            cum2 AS (SELECT x, lbl, lc, CAST(t - lc AS BIGINT) AS rc
                     FROM cum),
            lpick AS (SELECT x, lbl AS left_label, lc AS lmax FROM (
                SELECT x, lbl, lc, row_number() OVER (
                  PARTITION BY x ORDER BY lc DESC, lbl) AS rn
                FROM cum2) q WHERE rn = 1),
            rpick AS (SELECT x, lbl AS right_label, rc AS rmax FROM (
                SELECT x, lbl, rc, row_number() OVER (
                  PARTITION BY x ORDER BY rc DESC, lbl) AS rn
                FROM cum2) q WHERE rn = 1),
            sc AS (SELECT l.x AS threshold, l.left_label, r.right_label,
                          CAST(l.lmax + r.rmax AS BIGINT) AS n_correct
                   FROM lpick l JOIN rpick r ON r.x = l.x),
            best AS (SELECT sc.*, nt.n, row_number() OVER (
                       ORDER BY nt.n - n_correct ASC, threshold ASC) AS rn
                     FROM sc, nt)
            SELECT threshold, left_label, right_label, n_correct,
                   CAST(n - n_correct AS BIGINT) AS n_errors,
                   n AS n_total
            FROM best WHERE rn = 1
        """,
        "cohens_kappa": f"""
            WITH t AS (SELECT lang, ' ' || lower(text) || ' ' AS pad
                       FROM documents),
            p AS (
              SELECT lang,
                     CASE WHEN ({en_sum}) > ({de_sum}) AND ({en_sum}) > 0 THEN 'en'
                          WHEN ({de_sum}) > ({en_sum}) AND ({de_sum}) > 0 THEN 'de'
                          ELSE 'unknown' END AS pred_lang
              FROM t),
            conf AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
                     FROM p GROUP BY 1, 2),
            rows_m AS (SELECT lang AS lbl, CAST(sum(n) AS BIGINT) AS row_n
                       FROM conf GROUP BY 1),
            cols_m AS (SELECT pred_lang AS lbl, CAST(sum(n) AS BIGINT) AS col_n
                       FROM conf GROUP BY 1),
            ch AS (SELECT CAST(sum(coalesce(r.row_n, 0)
                                   * coalesce(c.col_n, 0)) AS BIGINT)
                            AS chance_num
                   FROM rows_m r FULL JOIN cols_m c ON c.lbl = r.lbl),
            tt AS (SELECT CAST(sum(n) AS BIGINT) AS n_total,
                          CAST(sum(CASE WHEN lang = pred_lang THEN n
                                        ELSE 0 END) AS BIGINT) AS n_agree
                   FROM conf)
            SELECT n_total, n_agree, chance_num,
                   n_total * n_agree - chance_num AS kappa_num,
                   n_total * n_total - chance_num AS kappa_den
            FROM tt, ch
        """,
        "quality_score": f"""
            WITH t AS (
              SELECT doc_id, text, ' ' || lower(text) || ' ' AS pad,
                     {tok} AS n_tok, {mwl} AS mwl, {punct} AS pr, {upper} AS ur
              FROM documents
            )
            SELECT doc_id,
                   round(
                     least(n_tok / 100.0, 1.0) * 0.3
                     + (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.0 END) * 0.2
                     + least((CASE WHEN n_tok = 0 THEN 0.0 ELSE ({en_sum}) / n_tok END) * 4.0, 1.0) * 0.3
                     + greatest(0.0, 1.0 - pr * 4.0 - ur * 2.0) * 0.2,
                   6) AS quality
            FROM t
        """,
        "ngram_jaccard": """
            WITH grams AS (
              SELECT DISTINCT doc_id, substr(lower(text), i, 3) AS gram
              FROM documents, unnest(range(1, greatest(length(text) - 1, 2))) AS t(i)
              WHERE doc_id < 30
            ), sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
              FROM grams a JOIN grams b USING (gram)
              WHERE a.doc_id < b.doc_id GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(common / (sa.n + sb.n - common), 6) AS jaccard
            FROM pairs
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE common / (sa.n + sb.n - common) >= 0.3
        """,
        "near_dedup_exact": """
            WITH RECURSIVE grams AS (
              SELECT DISTINCT doc_id, substr(lower(text), i, 3) AS gram
              FROM documents, unnest(range(1, greatest(length(text) - 1, 2))) AS t(i)
              WHERE doc_id < 120
            ), sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
            cpairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
              FROM grams a JOIN grams b USING (gram)
              WHERE a.doc_id < b.doc_id GROUP BY 1, 2
            ),
            pairs AS (
              SELECT id_a, id_b FROM cpairs
              JOIN sizes sa ON sa.doc_id = id_a
              JOIN sizes sb ON sb.doc_id = id_b
              WHERE round(common / (sa.n + sb.n - common), 6) >= 0.4
            ),
            edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                      UNION SELECT id_b, id_a FROM pairs),
            reach AS (
              SELECT src AS id, dst AS r FROM edges
              UNION
              SELECT e.src, rch.r FROM edges e JOIN reach rch ON rch.id = e.dst
            ),
            labels AS (SELECT id, min(r) AS mn FROM reach GROUP BY id)
            SELECT d.doc_id, d.lang, d.n_chars
            FROM documents d LEFT JOIN labels ON labels.id = d.doc_id
            WHERE d.doc_id < 120
              AND (labels.id IS NULL OR least(d.doc_id, labels.mn) = d.doc_id)
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
        "minhash_verify": f"""
            WITH {_minhash_sql(0.2)}
            SELECT id_a, id_b, round(je, 6) AS jaccard_est FROM tpairs
        """,
        "near_dedup_minhash_verify": f"""
            WITH RECURSIVE {_minhash_sql(0.6)},
            edges AS (SELECT id_a AS src, id_b AS dst FROM tpairs
                      UNION SELECT id_b, id_a FROM tpairs),
            reach AS (
              SELECT src AS id, dst AS r FROM edges
              UNION
              SELECT e.src, rch.r FROM edges e JOIN reach rch ON rch.id = e.dst
            ),
            labels AS (SELECT id, min(r) AS mn FROM reach GROUP BY id)
            SELECT d.doc_id, d.lang, d.n_chars
            FROM documents d LEFT JOIN labels ON labels.id = d.doc_id
            WHERE labels.id IS NULL OR least(d.doc_id, labels.mn) = d.doc_id
        """,
        "incremental_dedup_verify": f"""
            WITH RECURSIVE {_incremental_dedup_sql(0.6)}
            SELECT d.doc_id, 1 AS batch, d.lang, d.n_chars
            FROM documents d JOIN surv1 s ON s.doc_id = d.doc_id
            UNION ALL
            SELECT d.doc_id, 2 AS batch, d.lang, d.n_chars
            FROM documents d JOIN surv2 s ON s.doc_id = d.doc_id
        """,
        "simhash_verify": _simhash_sql(31),
        "fingerprint_verify": rf"""
            WITH norm AS (
              SELECT doc_id,
                     trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                                         '\s+', ' ', 'g')) AS nt
              FROM documents),
            fps AS (SELECT doc_id,
                           {_poly_sql('nt', 131)} * 2147483648 + {_poly_sql('nt', 137)} AS fp
                    FROM norm)
            SELECT doc_id, fp,
                   min(doc_id) OVER (PARTITION BY fp) AS canonical_id,
                   count(*) OVER (PARTITION BY fp) AS group_size
            FROM fps
        """,
        "jaccard_pairs": """
            WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
            pairs AS (
              SELECT doc_id AS id_a, doc_id + 1 AS id_b FROM d WHERE doc_id + 1 < 100
            ),
            grams AS (
              SELECT DISTINCT doc_id, substr(lower(text), i, 3) AS gram
              FROM d, unnest(range(1, greatest(length(text) - 1, 2))) AS t(i)
            ),
            sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
            common AS (
              SELECT p.id_a, p.id_b, count(*) AS c
              FROM pairs p
              JOIN grams ga ON ga.doc_id = p.id_a
              JOIN grams gb ON gb.doc_id = p.id_b AND gb.gram = ga.gram
              GROUP BY 1, 2
            )
            SELECT p.id_a, p.id_b,
                   round(coalesce(c, 0) / (sa.n + sb.n - coalesce(c, 0)), 6) AS jaccard
            FROM pairs p
            LEFT JOIN common USING (id_a, id_b)
            JOIN sizes sa ON sa.doc_id = p.id_a
            JOIN sizes sb ON sb.doc_id = p.id_b
        """,
        "cosine_pairs_exact": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings WHERE vec_id < 300)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(round(list_cosine_similarity(a.v, b.v), 6), 3) AS sim
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.2
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
        "ann_ivf_exhaustive": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10)
            SELECT query_id, vec_id AS neighbor_id, CAST(rank AS INT) AS rank FROM (
              SELECT query_id, vec_id,
                     row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY list_cosine_similarity(qv, CAST(embedding AS DOUBLE[])) DESC,
                                vec_id ASC) AS rank
              FROM embeddings, q WHERE vec_id <> query_id)
            WHERE rank <= 5
        """,
        "vocab_topk": r"""
            WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
                          FROM documents),
            tt AS (SELECT doc_id, tok FROM toks WHERE length(tok) > 0)
            SELECT tok AS word, count(*) AS tf, count(DISTINCT doc_id) AS df_docs
            FROM tt GROUP BY tok
            ORDER BY tf DESC, word ASC LIMIT 100
        """,
        "theil_decomp": r"""
            WITH vals AS (
              SELECT lang AS g, CAST(n_chars AS BIGINT) AS x
              FROM documents WHERE n_chars > 0),
            grp AS MATERIALIZED (
              SELECT g, CAST(count(*) AS BIGINT) AS n_g,
                     CAST(sum(x) AS BIGINT) AS s_g
              FROM vals GROUP BY 1),
            globl AS (SELECT CAST(sum(n_g) AS BIGINT) AS n,
                            CAST(sum(s_g) AS BIGINT) AS s FROM grp),
            terms AS (
              SELECT v.g,
                     CAST(round_even(
                       (v.x / gr.s_g) * ln((v.x / gr.s_g) * (gr.n_g / 1))
                       * 1e12, 0) AS BIGINT) AS term_fp
              FROM vals v JOIN grp gr ON gr.g = v.g),
            within AS (
              SELECT g, CAST(sum(term_fp) AS BIGINT) AS t_g_fp
              FROM terms GROUP BY 1)
            SELECT gr.g AS lang, gr.n_g, gr.s_g, w.t_g_fp,
                   CAST(round_even(
                     (gr.s_g / gl.s) * ln((gr.s_g / gl.s) * (gl.n / gr.n_g))
                     * 1e12, 0) AS BIGINT) AS between_fp,
                   gl.n, gl.s
            FROM grp gr JOIN within w ON w.g = gr.g CROSS JOIN globl gl
        """,
        "stem_vocab": r"""
            WITH toks AS (
              SELECT doc_id,
                     unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
              FROM documents),
            tk AS (SELECT doc_id, tok FROM toks WHERE length(tok) > 0),
            st AS (
              SELECT doc_id, tok,
                     CASE
                       WHEN length(tok) < 3 THEN tok
                       WHEN ends_with(tok, 'ies') AND NOT ends_with(tok, 'eies')
                            AND NOT ends_with(tok, 'aies')
                         THEN left(tok, length(tok) - 3) || 'y'
                       WHEN NOT ends_with(tok, 'ies') AND ends_with(tok, 'es')
                            AND NOT ends_with(tok, 'aes')
                            AND NOT ends_with(tok, 'ees')
                            AND NOT ends_with(tok, 'oes')
                         THEN left(tok, length(tok) - 1)
                       WHEN ends_with(tok, 's') AND NOT ends_with(tok, 'us')
                            AND NOT ends_with(tok, 'ss')
                            AND NOT ends_with(tok, 'es')
                            AND NOT ends_with(tok, 'ies')
                         THEN left(tok, length(tok) - 1)
                       ELSE tok
                     END AS stem
              FROM tk)
            SELECT stem, CAST(count(*) AS BIGINT) AS tf,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS df_docs,
                   CAST(count(DISTINCT tok) AS BIGINT) AS n_forms
            FROM st GROUP BY 1
        """,
        "good_turing": r"""
            WITH toks AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS tk
                          FROM documents),
            shm AS (SELECT array_to_string(tk[i:i+1], ' ') AS gram
                    FROM toks,
                         unnest(range(1, greatest(len(tk) - 1, 1) + 1)) t(i)),
            voc AS (SELECT gram, count(*) AS tf FROM shm
                    WHERE length(gram) > 0 GROUP BY gram),
            freq AS (SELECT tf AS r, CAST(count(*) AS BIGINT) AS n_r
                     FROM voc GROUP BY tf HAVING tf <= 31)
            SELECT CAST(f.r AS BIGINT) AS r, f.n_r,
                   CAST(coalesce(nx.n_r, 0) AS BIGINT) AS n_r_next,
                   CAST((f.r + 1) * coalesce(nx.n_r, 0) AS BIGINT)
                     AS r_star_num
            FROM freq f LEFT JOIN freq nx ON nx.r = f.r + 1
            WHERE f.r <= 30
        """,
        "prefix_join": _PREFIX_JOIN_SQL,
        "vocab_growth": r"""
            WITH toks AS (
              SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
              FROM documents),
            shm AS (
              SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS shingle
              FROM toks, unnest(range(1, greatest(len(tk) - 2, 1) + 1)) t(i)),
            nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
            firsts AS (SELECT shingle, min(doc_id) AS fd FROM shm GROUP BY 1),
            counts AS (
              SELECT (fd * 10) // (SELECT n FROM nn) AS bucket,
                     CAST(count(*) AS BIGINT) AS n_new
              FROM firsts GROUP BY 1)
            SELECT bucket, n_new,
                   CAST(sum(n_new) OVER (ORDER BY bucket
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
            FROM counts
        """,
        "heaps_fit": r"""
            WITH toks AS (
              SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
              FROM documents),
            shm AS (
              SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS shingle
              FROM toks, unnest(range(1, greatest(len(tk) - 2, 1) + 1)) t(i)),
            nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
            firsts AS (SELECT shingle, min(doc_id) AS fd FROM shm GROUP BY 1),
            counts AS (
              SELECT (fd * 10) // (SELECT n FROM nn) AS bucket,
                     CAST(count(*) AS BIGINT) AS n_new
              FROM firsts GROUP BY 1),
            curve AS (
              SELECT bucket,
                     CAST(sum(n_new) OVER (ORDER BY bucket
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
              FROM counts),
            pts AS (
              SELECT CAST(round_even(ln(CAST(
                       (((SELECT n FROM nn) * (bucket + 1)) + 9) // 10
                       AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS x,
                     CAST(round_even(ln(CAST(cum_vocab AS DOUBLE))
                       * 1000000.0, 0) AS BIGINT) AS y
              FROM curve)
            SELECT CAST(count(*) AS BIGINT) AS n_points,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * y) AS BIGINT) AS sxy,
                   CAST(sum(x * x) AS BIGINT) AS sxx
            FROM pts
        """,
        "tfidf_topk": r"""
            WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
                          FROM documents),
            tt AS (SELECT doc_id, tok FROM toks WHERE length(tok) > 0),
            doc_tf AS (SELECT doc_id, tok AS word, count(*) AS tf FROM tt GROUP BY 1, 2),
            word_df AS (SELECT tok AS word, count(DISTINCT doc_id) AS df_docs FROM tt GROUP BY 1),
            scored AS (
              SELECT doc_id, word, tf,
                     tf * ln((SELECT CAST(count(*) AS DOUBLE) FROM documents) / df_docs) AS score
              FROM doc_tf JOIN word_df USING (word))
            SELECT doc_id, word, tf, round(score, 6) AS score, CAST(rank AS INT) AS rank
            FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                               ORDER BY score DESC, word ASC) AS rank
                  FROM scored)
            WHERE rank <= 5
        """,
        "repetition_stats": rf"""
            WITH {_rep_ctes()}
            SELECT doc_id, n_words, dup_word_frac, top_bigram_frac FROM rep
        """,
        "curation_filter": rf"""
            WITH {_rep_ctes()},
            qual AS (SELECT doc_id, text, ' ' || lower(text) || ' ' AS pad,
                            {tok} AS n_tok, {mwl} AS mwl, {punct} AS pr, {upper} AS ur
                     FROM documents),
            q2 AS (SELECT doc_id, n_tok,
                          round(least(n_tok / 100.0, 1.0) * 0.3
                            + (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.0 END) * 0.2
                            + least((CASE WHEN n_tok = 0 THEN 0.0 ELSE ({en_sum}) / n_tok END) * 4.0, 1.0) * 0.3
                            + greatest(0.0, 1.0 - pr * 4.0 - ur * 2.0) * 0.2, 6) AS quality
                   FROM qual),
            r AS (SELECT q2.doc_id,
                         CASE WHEN n_tok < 10 THEN 'too_short'
                              WHEN dup_word_frac > 0.6 THEN 'repetitive_words'
                              WHEN top_bigram_frac > 0.4 THEN 'repetitive_bigrams'
                              WHEN quality < 0.3 THEN 'low_quality'
                              ELSE 'keep' END AS reject_reason
                  FROM q2 LEFT JOIN rep ON rep.doc_id = q2.doc_id)
            SELECT doc_id, reject_reason, reject_reason = 'keep' AS keep FROM r
        """,
        "pii_counts": r"""
            WITH p AS (
              SELECT doc_id,
                     text || (CASE WHEN doc_id % 3 = 0
                                   THEN ' contact a' || CAST(doc_id AS VARCHAR)
                                        || '@ex.com via https://ex.co/' || CAST(doc_id AS VARCHAR)
                                        || ' tel 555-000-' || printf('%04d', CAST(doc_id % 10000 AS INT))
                                   ELSE '' END) AS t
              FROM documents)
            SELECT doc_id,
                   CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
                   CAST(len(regexp_extract_all(t, 'https?://[^\s]+')) AS INT) AS n_urls,
                   CAST(len(regexp_extract_all(t, '\+?[0-9][0-9()\- ]{6,}[0-9]')) AS INT) AS n_phones
            FROM p
        """,
        "hash_split": f"""
            WITH b AS (SELECT doc_id,
                              {_poly_sql("'split:' || CAST(doc_id AS VARCHAR)", 131)} % 1000 AS bk
                       FROM documents)
            SELECT doc_id,
                   CASE WHEN bk < 800 THEN 'train'
                        WHEN bk < 900 THEN 'val'
                        ELSE 'test' END AS split
            FROM b
        """,
        "stratified_sample": f"""
            WITH b AS (SELECT doc_id, lang,
                              {_poly_sql("'sample:' || CAST(doc_id AS VARCHAR)", 131)} % 1000000 AS bk
                       FROM documents)
            SELECT doc_id, lang FROM b
            WHERE bk < (CASE WHEN lang = 'en' THEN 500000
                             WHEN lang = 'de' THEN 250000
                             ELSE 100000 END)
        """,
        "pack_sequences": f"""
            WITH t AS (SELECT doc_id, lang, CAST({tok} AS BIGINT) AS n_tokens FROM documents),
            c AS (SELECT doc_id, lang, n_tokens,
                         sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS cum_tokens
                  FROM t)
            SELECT doc_id, lang, n_tokens, cum_tokens,
                   (cum_tokens - n_tokens) // 256 AS bin_id
            FROM c
        """,
        "length_quantiles": """
            SELECT lang, count(*) AS n_docs,
                   round(quantile_cont(n_chars, 0.25), 6) AS q25,
                   round(quantile_cont(n_chars, 0.5), 6) AS q50,
                   round(quantile_cont(n_chars, 0.75), 6) AS q75,
                   round(quantile_cont(n_chars, 0.9), 6) AS q90
            FROM documents GROUP BY lang
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
        "srp_pairs_verify": _srp_pairs_sql(0.25, 6, 64),
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
        "url_dedup": """
            -- Closed-form derivation: the canonical URL is computed directly
            -- from the construction arithmetic (NOT by replaying the Spark
            -- regexes), so the engine's regex parsing path is independently
            -- cross-checked.
            WITH u AS (
              SELECT doc_id, source,
                     doc_id % 2 AS m2, doc_id % 3 AS m3, doc_id % 4 AS m4,
                     doc_id % 5 AS m5, doc_id % 10 AS m10
              FROM documents),
            m AS (
              SELECT doc_id,
                     (CASE WHEN m3 = 0 THEN 'HTTP'
                           WHEN m3 = 1 THEN 'https' ELSE 'HTTPS' END)
                     || '://' || (CASE WHEN m2 = 0 THEN 'WWW.' ELSE '' END)
                     || (CASE WHEN m4 < 2 THEN upper(source) ELSE source END)
                     || (CASE WHEN m4 = 0 THEN '.Example.CO.uk'
                              ELSE '.Example.COM' END)
                     || (CASE WHEN m5 = 0 THEN
                           (CASE WHEN m3 = 0 THEN ':80' ELSE ':443' END)
                         ELSE '' END)
                     || '/p/' || CAST(m10 AS VARCHAR)
                     || (CASE WHEN m2 = 1 THEN '/' ELSE '' END)
                     || (CASE WHEN m3 = 0 THEN ''
                         ELSE '?utm_source=track&z=' || CAST(m3 AS VARCHAR)
                              || '&a=1' END)
                     || (CASE WHEN m2 = 1 THEN '#frag' ELSE '' END) AS url,
                     (CASE WHEN m3 = 0 THEN 'http' ELSE 'https' END) || '://'
                     || lower(source)
                     || (CASE WHEN m4 = 0 THEN '.example.co.uk'
                              ELSE '.example.com' END)
                     || '/p/' || CAST(m10 AS VARCHAR)
                     || (CASE WHEN m3 = 0 THEN ''
                         ELSE '?a=1&z=' || CAST(m3 AS VARCHAR) END)
                       AS url_canonical,
                     (CASE WHEN m4 = 0 THEN 'example.co.uk'
                           ELSE 'example.com' END) AS domain
              FROM u)
            SELECT doc_id, url, url_canonical, domain,
                   CAST(doc_id = min(doc_id) OVER (PARTITION BY url_canonical)
                        AS INT) AS keep
            FROM m
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
        "rrf_fusion": _RRF_FUSION_SQL,
        "mmr_select": _mmr_sql(20, 3, 3),
        "hll_registers": f"WITH {_hll_cte_sql(8)}\n"
        "        SELECT bucket, rho FROM full_regs",
        "hll_estimate": _hll_estimate_sql(8),
        "hll_intersect": _hll_intersect_sql(5),
        "cms_verify": _cms_sql(4, 1024),
        "bloom_prune": _bloom_sql(2048, 5),
        "pagerank": _pagerank_sql(5),
        # streamed sketch end-states are exactly the batch sketches (HLL:
        # max-merge idempotence; CMS: manifest batch-id guard), so their
        # oracles are the same one-shot SQL replays
        "stream_hll_verify": f"WITH {_hll_cte_sql(8)}\n"
        "        SELECT bucket, rho FROM full_regs",
        "stream_cms_verify": _cms_grid_sql(4, 1024),
        "quantile_sketch_verify": _quantile_sketch_sql(6),
        "quantile_estimate_verify": _quantile_estimate_sql(
            (0.25, 0.5, 0.75, 0.9, 0.99), 6
        ),
        "quantile_grouped_verify": _quantile_grouped_sql((0.5, 0.9, 0.99), 6),
        "sketch_gate": _sketch_gate_sql(6),
        "sq_topk": _sq_topk_sql(5, 10),
        "source_mix": _source_mix_sql(_MIX_WEIGHTS),
        "line_dedup": _LINE_DEDUP_SQL,
        "zorder_key": _zorder_key_sql(),
        "decontaminate": _DECONTAMINATE_SQL,
        "bbox_overlap": _BBOX_OVERLAP_SQL,
        "profile_table": _PROFILE_SQL,
        "stream_tiles_verify": _STREAM_TILES_SQL,
        "chunk_documents": _CHUNK_DOCS_SQL,
        "radius_pairs": _RADIUS_PAIRS_SQL,
        "colocation_pi": _COLOCATION_PI_SQL,
        "spatial_cluster": _SPATIAL_CLUSTER_SQL,
        "tile_smooth": _TILE_SMOOTH_SQL,
        "cdc_verify": _CDC_SQL,
        "text_normalize": _text_normalize_sql(),
        "ivm_counts": _IVM_COUNTS_SQL,
        "exact_split": _exact_split_sql(),
        "scan_legs": _SCAN_LEGS_SQL,
        "hll_set_ops": _hll_set_sql(8),
        "cell_compact": _s2_compact_sql(8),
        "cms_join_size": _cms_join_sql(4, 1024),
        "polygon_stats": _POLYGON_STATS_SQL,
        "zonal_stats": _ZONAL_STATS_SQL,
        "embed_centroids": _EMBED_CENTROIDS_SQL,
        "geohash": _geohash_oracle_sql(),
        "tile_hll_density": _tile_hll_density_sql(8),
        "tile_pyramid": _tile_pyramid_sql(),
        "weighted_sample": _weighted_sample_sql(),
        "kmeans_verify": _kmeans_sql(),
        "stay_points": _stay_points_sql(),
        "shingle_cosine": _shingle_cosine_sql(),
        "rollup_stats": _ROLLUP_STATS_SQL,
        "resample_track": _resample_sql(),
        "sliding_windows": _sliding_windows_sql(),
        "rolling_window": _ROLLING_WINDOW_SQL,
        "full_outer": _FULL_OUTER_SQL,
        "mad_outliers": _MAD_OUTLIERS_SQL,
        "funnel_steps": _funnel_sql(),
        "event_transitions": _TRANSITIONS_SQL,
        "triangles": _triangles_sql(),
        "assortativity": _ASSORTATIVITY_SQL,
        "k_core": _k_core_sql(7, 8),
        "k_hop": _k_hop_sql(4),
        "stream_upsert_verify": _STREAM_UPSERT_SQL,
        "overlay_area": _overlay_sql(),
        "stream_join_verify": _STREAM_JOIN_SQL,
        "snap_to_path": _snap_to_path_sql(),
        "od_matrix": _OD_MATRIX_SQL,
        "ripley_k": _RIPLEY_K_SQL,
        "session_rules": _SESSION_RULES_SQL,
        "overlay_alloc": _overlay_alloc_sql(),
        "hll_pyramid": _hll_pyramid_sql(),
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
        "lm_quality": _LM_QUALITY_SQL,
        "bpe_merges": _bpe_stages_sql(8),
        "shortest_paths": _shortest_paths_sql(6),
        "quadtree": _quadtree_sql(18, 24, 40),
        "label_prop": _label_prop_sql(4),
        "rich_club": r"""
            WITH zedges AS (
              SELECT DISTINCT (event_id * 131 + user_id) % 1000 AS src,
                     1000 // (1 + (event_id % 1000)) AS dst
              FROM events),
            und AS MATERIALIZED (
              SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
              FROM zedges WHERE src != dst),
            dg AS MATERIALIZED (
              SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
                SELECT a AS node FROM und
                UNION ALL SELECT b AS node FROM und)
              GROUP BY 1),
            ks AS (SELECT CAST(unnest(range(1, 17)) AS BIGINT) AS k),
            nk AS (
              SELECT k, CAST(count(*) AS BIGINT) AS n_k
              FROM dg CROSS JOIN ks WHERE dg.deg > ks.k GROUP BY 1),
            md AS (
              SELECT least(da.deg, db.deg) AS md
              FROM und JOIN dg da ON da.node = und.a
                       JOIN dg db ON db.node = und.b),
            ek AS (
              SELECT k, CAST(count(*) AS BIGINT) AS e_k
              FROM md CROSS JOIN ks WHERE md.md > ks.k GROUP BY 1)
            SELECT ks.k, CAST(coalesce(nk.n_k, 0) AS BIGINT) AS n_k,
                   CAST(coalesce(ek.e_k, 0) AS BIGINT) AS e_k
            FROM ks LEFT JOIN nk USING (k) LEFT JOIN ek USING (k)
        """,
        "modularity": f"""
            WITH lp AS (SELECT * FROM ({_label_prop_sql(4)})),
            zedges AS (
              SELECT DISTINCT (event_id * 131 + user_id) % 1000 AS src,
                     1000 // (1 + (event_id % 1000)) AS dst
              FROM events),
            und AS MATERIALIZED (
              SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
              FROM zedges WHERE src != dst),
            mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
            dg AS (
              SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
                SELECT a AS node FROM und
                UNION ALL SELECT b AS node FROM und)
              GROUP BY 1),
            ein AS (
              SELECT la.label, CAST(count(*) AS BIGINT) AS e_in
              FROM und JOIN lp la ON la.node = und.a
                       JOIN lp lb ON lb.node = und.b
              WHERE la.label = lb.label GROUP BY 1),
            com AS (
              SELECT lp.label, CAST(count(*) AS BIGINT) AS n_nodes,
                     CAST(sum(dg.deg) AS BIGINT) AS deg_sum
              FROM lp JOIN dg ON dg.node = lp.node GROUP BY 1)
            SELECT com.label, com.n_nodes, com.deg_sum,
                   CAST(coalesce(ein.e_in, 0) AS BIGINT) AS e_in,
                   mm.m,
                   CAST(4 * mm.m * coalesce(ein.e_in, 0)
                        - com.deg_sum * com.deg_sum AS BIGINT) AS q_term
            FROM com LEFT JOIN ein USING (label) CROSS JOIN mm
        """,
        "mutual_knn": _MUTUAL_KNN_SQL,
        "source_divergence": _SOURCE_DIVERGENCE_SQL,
        "principal_axis": _principal_axis_sql(6, 64),
        "exact_substr": _EXACT_SUBSTR_SQL,
        "contact_crossings": _CONTACT_CROSSINGS_SQL,
        "convex_hull": _convex_hull_sql(5),
        "twap": _TWAP_SQL,
        "user_mad": _MAD_SQL,
        "emd_drift": _EMD_SQL,
        "locf_resample": _LOCF_SQL,
        "sax_words": _SAX_SQL,
        "attribution": _ATTRIBUTION_SQL,
        "clustering_coeff": _clustering_sql(),
        "haar2d": _HAAR2D_SQL,
        "knox_test": _KNOX_SQL,
        "bpe_encode": _bpe_encode_sql(8),
        "line_density": _LINE_DENSITY_SQL,
        "ccf_lags": _CCF_SQL,
        "getis_ord": _GETIS_ORD_SQL,
        "radius_gyration": _RADIUS_GYRATION_SQL,
        "mobility_entropy": _MOBILITY_ENTROPY_SQL,
        "hill_tail": _HILL_SQL,
        "transition_entropy": _TRANSITION_ENTROPY_SQL,
        "quality_percentile": f"""
            WITH t AS (
              SELECT doc_id, source, text, ' ' || lower(text) || ' ' AS pad,
                     {tok} AS n_tok, {mwl} AS mwl, {punct} AS pr, {upper} AS ur
              FROM documents),
            q AS (
              SELECT doc_id, source,
                     round(
                       least(n_tok / 100.0, 1.0) * 0.3
                       + (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.0 END) * 0.2
                       + least((CASE WHEN n_tok = 0 THEN 0.0 ELSE ({en_sum}) / n_tok END) * 4.0, 1.0) * 0.3
                       + greatest(0.0, 1.0 - pr * 4.0 - ur * 2.0) * 0.2,
                     6) AS quality
              FROM t),
            r AS (
              SELECT doc_id, source, quality,
                     CAST(row_number() OVER (
                       PARTITION BY source ORDER BY quality DESC, doc_id)
                       AS BIGINT) AS rk,
                     count(*) OVER (PARTITION BY source) AS n
              FROM q)
            SELECT doc_id, source, quality, rk, n,
                   CAST((rk - 1) * 1000 // greatest(n - 1, 1) AS BIGINT) AS permille
            FROM r
        """,
        "pip_bigdim": f"""
            SELECT event_id,
                   ({RANGE_OF_LAT_IN}) || '-' || ({PASS_OF_LON_IN}) AS plot_id
            FROM events
        """,
        "winnow_fingerprints": _WINNOW_FPS_SQL,
        "winnow_pairs": _WINNOW_PAIRS_SQL,
        "rabin_chunks": _RABIN_CHUNKS_SQL,
        "rabin_dedup": _RABIN_DEDUP_SQL,
        "pii_redact": r"""
            WITH p AS (
              SELECT doc_id,
                     text || (CASE WHEN doc_id % 3 = 0
                                   THEN ' contact a' || CAST(doc_id AS VARCHAR)
                                        || '@ex.com via https://ex.co/' || CAST(doc_id AS VARCHAR)
                                        || ' tel 555-000-' || printf('%04d', CAST(doc_id % 10000 AS INT))
                                   ELSE '' END) AS t
              FROM documents),
            r AS (
              SELECT doc_id,
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(t,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                           '<EMAIL>', 'g'),
                         'https?://[^\s]+', '<URL>', 'g'),
                       '\+?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g') AS redacted
              FROM p)
            SELECT doc_id, redacted, length(redacted) AS r_len FROM r
        """,
        "semdedup": _semdedup_sql(),
        "hits": _hits_sql(4),
        "naive_bayes": _NAIVE_BAYES_SQL,
        "mann_kendall": _MANN_KENDALL_SQL,
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
        "runs_test": r"""
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
            med AS MATERIALIZED (
              SELECT user_id, c AS med FROM (
                SELECT user_id, c,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY c, day) AS rn
                FROM filled)
              WHERE rn = ((SELECT t FROM bounds) + 1) // 2),
            sided AS (
              SELECT f.user_id, f.day,
                     CASE WHEN f.c > m.med THEN 1 ELSE 0 END AS s
              FROM filled f JOIN med m ON m.user_id = f.user_id
              WHERE f.c != m.med),
            runs AS (
              SELECT user_id, s,
                     CASE WHEN s = lag(s) OVER (PARTITION BY user_id
                                                ORDER BY day)
                          THEN 0 ELSE 1 END AS nw
              FROM sided),
            agg AS (
              SELECT user_id, CAST(sum(s) AS BIGINT) AS n_above,
                     CAST(sum(1 - s) AS BIGINT) AS n_below,
                     CAST(sum(nw) AS BIGINT) AS n_runs
              FROM runs GROUP BY 1)
            SELECT m.user_id, m.med,
                   CAST(coalesce(a.n_above, 0) AS BIGINT) AS n_above,
                   CAST(coalesce(a.n_below, 0) AS BIGINT) AS n_below,
                   CAST(coalesce(a.n_runs, 0) AS BIGINT) AS n_runs
            FROM med m LEFT JOIN agg a ON a.user_id = m.user_id
        """,
        "changepoint_split": r"""
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
            ps AS (
              SELECT user_id, day, c,
                     sum(c) OVER (PARTITION BY user_id ORDER BY day
                                  ROWS UNBOUNDED PRECEDING) AS psum,
                     sum(c) OVER (PARTITION BY user_id) AS stot
              FROM filled),
            sp AS (
              SELECT user_id, day AS split_bin,
                     day - (SELECT lo FROM bounds) + 1 AS n_l,
                     psum AS s_l,
                     (SELECT t FROM bounds) - (day - (SELECT lo FROM bounds) + 1)
                       AS n_r,
                     stot - psum AS s_r
              FROM ps WHERE day < (SELECT hi FROM bounds)),
            g AS (
              SELECT user_id, split_bin, n_l, s_l, n_r, s_r,
                     s_l * s_l * (2329089562800 // n_l)
                       + s_r * s_r * (2329089562800 // n_r) AS g_fp
              FROM sp),
            rk AS (
              SELECT *, row_number() OVER (PARTITION BY user_id
                          ORDER BY g_fp DESC, split_bin ASC) AS r
              FROM g)
            SELECT user_id, split_bin, n_l, s_l, n_r, s_r,
                   CAST(g_fp AS BIGINT) AS g_fp,
                   CAST(2329089562800 AS BIGINT) AS den
            FROM rk WHERE r = 1
        """,
        "holt_forecast": r"""
            WITH RECURSIVE ev AS (
              SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
            cnts AS (
              SELECT user_id, day, CAST(count(*) AS BIGINT) AS c
              FROM ev GROUP BY 1, 2),
            bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM cnts),
            bins AS (
              SELECT unnest(range((SELECT lo FROM bounds),
                                  (SELECT hi FROM bounds) + 1)) AS day),
            users AS (SELECT DISTINCT user_id FROM cnts),
            filled AS MATERIALIZED (
              SELECT u.user_id, b.day, CAST(coalesce(c.c, 0) AS BIGINT) AS c
              FROM users u CROSS JOIN bins b
              LEFT JOIN cnts c ON c.user_id = u.user_id AND c.day = b.day),
            rec AS (
              SELECT user_id, day, c * 65536 AS l, CAST(0 AS BIGINT) AS b
              FROM filled WHERE day = (SELECT lo FROM bounds)
              UNION ALL
              SELECT user_id, day,
                     l,
                     ((l - pl + pb) - (((l - pl + pb) % 2 + 2) % 2)) // 2 AS b
              FROM (
                SELECT r.user_id, f.day,
                       ((f.c * 65536 + r.l + r.b)
                         - (((f.c * 65536 + r.l + r.b) % 2 + 2) % 2)) // 2 AS l,
                       r.l AS pl, r.b AS pb
                FROM rec r JOIN filled f
                  ON f.user_id = r.user_id AND f.day = r.day + 1) t)
            SELECT user_id, CAST(l AS BIGINT) AS l_fp, CAST(b AS BIGINT) AS b_fp,
                   CAST(l + 7 * b AS BIGINT) AS fc_fp,
                   CAST(65536 AS BIGINT) AS scale
            FROM rec WHERE day = (SELECT hi FROM bounds)
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
        "isotonic_fit": r"""
            WITH ev AS (
              SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
            cnts AS (
              SELECT user_id, day, CAST(count(*) AS BIGINT) AS c
              FROM ev GROUP BY 1, 2),
            bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM cnts),
            bins AS (
              SELECT unnest(range((SELECT lo FROM bounds),
                                  (SELECT hi FROM bounds) + 1)) AS day),
            users AS (SELECT DISTINCT user_id FROM cnts),
            filled AS MATERIALIZED (
              SELECT u.user_id, b.day, CAST(coalesce(c.c, 0) AS BIGINT) AS c
              FROM users u CROSS JOIN bins b
              LEFT JOIN cnts c ON c.user_id = u.user_id AND c.day = b.day),
            ps AS MATERIALIZED (
              SELECT user_id, day, c,
                     sum(c) OVER (PARTITION BY user_id ORDER BY day
                                  ROWS UNBOUNDED PRECEDING) AS psum
              FROM filled),
            pairs AS (
              SELECT a.user_id, a.day AS a, b.day AS bb,
                     (b.psum - (a.psum - a.c))
                       * (2329089562800 // (b.day - a.day + 1)) AS mfp
              FROM ps a JOIN ps b
                ON b.user_id = a.user_id AND b.day >= a.day),
            sufmin AS (
              SELECT user_id, a, bb,
                     min(mfp) OVER (PARTITION BY user_id, a ORDER BY bb DESC
                                    ROWS UNBOUNDED PRECEDING) AS m
              FROM pairs),
            fit AS (
              SELECT user_id, bb AS day, CAST(max(m) AS BIGINT) AS fitted_fp
              FROM sufmin GROUP BY 1, 2)
            SELECT f.user_id, f.day, fl.c AS y, f.fitted_fp,
                   CAST(2329089562800 AS BIGINT) AS den
            FROM fit f JOIN filled fl
              ON fl.user_id = f.user_id AND fl.day = f.day
        """,
        "random_walks": _random_walks_sql(4),
        "rake_keywords": _rake_sql(3),
        "slope_aspect": _SLOPE_ASPECT_SQL,
        "hausdorff_pairs": _HAUSDORFF_SQL,
        "d8_flow": _D8_FLOW_SQL,
        "watershed": _WATERSHED_SQL,
        "blocklist_hits": _BLOCKLIST_SQL,
        "dsir_select": _dsir_sql(),
        "viewshed": _VIEWSHED_SQL,
        "ripley_per_user": _RIPLEY_SQL,
        "tile_blobs": _TILE_BLOBS_SQL,
        "semivariogram": _variogram_sql(),
        "morph_close": _morph_close_sql(),
        "erosion_depth": _erosion_depth_sql(3),
        "raster_rle": _RASTER_RLE_SQL,
        "voronoi_alloc": _VORONOI_ALLOC_SQL,
        "outlinks": _OUTLINKS_SQL,
        "anchor_text": _anchor_text_sql(3),
        "redirect_resolve": _redirects_sql(12, 1000),
        "host_graph": _HOST_GRAPH_SQL,
        "adamic_adar": _adamic_adar_sql(),
        "z_range_plan": _z_range_plan_sql(),
        "window_ranks": _WINDOW_RANKS_SQL,
        "textrank": _textrank_sql(),
        "robots_filter": _ROBOTS_SQL,
        "tile_median": _TILE_MEDIAN_SQL,
        "cost_distance": _cost_distance_sql(),
        "ppr_seeds": _ppr_sql(5),
        "greedy_cover": _greedy_cover_sql(8),
        "emerging_hotspots": _EMERGING_HOTSPOTS_SQL,
        "kcenter_coreset": _kcenter_sql(8),
        # LSH candidate-quality evaluation: the shared poly-minhash chain
        # (est >= 0.5) against the exact word-3-shingle Jaccard >= 1/2
        # truth (integer cross-multiplication), one marker-join confusion
        # row. shx materializes the chain's shingle CTE before the
        # multi-reference self-join (the CTE re-inlining rule).
        "lsh_eval": f"""
            WITH {_minhash_sql(0.2, materialize=True)},
            pred AS (SELECT id_a, id_b, 1 AS p FROM tpairs),
            shx AS MATERIALIZED (SELECT doc_id, shingle FROM sh),
            szx AS MATERIALIZED (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
              FROM shx GROUP BY 1),
            intr AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     CAST(count(*) AS BIGINT) AS i
              FROM shx a JOIN shx b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            truth AS (
              SELECT x.id_a, x.id_b, 1 AS t
              FROM intr x JOIN szx sa ON sa.doc_id = x.id_a
                          JOIN szx sb ON sb.doc_id = x.id_b
              WHERE 3 * x.i >= sa.sz + sb.sz)
            SELECT CAST(count(p.p) AS BIGINT) AS n_pred,
                   CAST(count(t.t) AS BIGINT) AS n_truth,
                   CAST(count(CASE WHEN p.p IS NOT NULL AND t.t IS NOT NULL
                              THEN 1 END) AS BIGINT) AS tp,
                   CAST(count(CASE WHEN p.p IS NOT NULL AND t.t IS NULL
                              THEN 1 END) AS BIGINT) AS fp,
                   CAST(count(CASE WHEN p.p IS NULL AND t.t IS NOT NULL
                              THEN 1 END) AS BIGINT) AS fn
            FROM pred p FULL JOIN truth t
              ON p.id_a = t.id_a AND p.id_b = t.id_b
        """,
        # Asymmetric containment pairs: the probe-augmented corpus (every
        # doc_id % 13 == 0 doc gains a first-third excerpt at +200000),
        # the word-3-shingle self-join, and the exact integer threshold
        # 5*inter >= 4*least(sz_a, sz_b).
        "containment_pairs": r"""
            WITH aug AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 200000,
                     array_to_string(tk[1:greatest(len(tk) // 3, 3)], ' ')
              FROM (SELECT doc_id,
                           string_split_regex(trim(lower(text)), '\s+') AS tk
                    FROM documents WHERE doc_id % 13 = 0) e),
            tkk AS (
              SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
              FROM aug),
            shx AS MATERIALIZED (
              SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS shingle
              FROM tkk, unnest(range(1, greatest(len(tk) - 2, 1) + 1)) t(i)),
            szx AS MATERIALIZED (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
              FROM shx GROUP BY 1),
            intr AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     CAST(count(*) AS BIGINT) AS inter
              FROM shx a JOIN shx b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT x.id_a, x.id_b, x.inter, sa.sz AS sz_a, sb.sz AS sz_b
            FROM intr x JOIN szx sa ON sa.doc_id = x.id_a
                        JOIN szx sb ON sb.doc_id = x.id_b
            WHERE 5 * x.inter >= 4 * least(sa.sz, sb.sz)
        """,
        "isochrone_bands": _isochrone_sql(512, 48),
        # Per-document novelty: distinct 3-word shingles per doc + how
        # many it introduces (min-doc_id arrival rule).
        "doc_novelty": r"""
            WITH tkk AS (
              SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
              FROM documents),
            shx AS MATERIALIZED (
              SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS shingle
              FROM tkk, unnest(range(1, greatest(len(tk) - 2, 1) + 1)) t(i)),
            per_doc AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
              FROM shx GROUP BY 1),
            news AS (
              SELECT fd, CAST(count(*) AS BIGINT) AS n_new FROM (
                SELECT shingle, min(doc_id) AS fd FROM shx GROUP BY 1) q
              GROUP BY 1)
            SELECT p.doc_id, p.n_shingles,
                   CAST(coalesce(n.n_new, 0) AS BIGINT) AS n_new
            FROM per_doc p LEFT JOIN news n ON n.fd = p.doc_id
        """,
        # One-row event-link-graph structural profile (the pagerank edge
        # recipe): counts, self-loops, reciprocated edges, degree maxima.
        "graph_profile": """
            WITH nn AS MATERIALIZED (SELECT max(user_id) + 1 AS n FROM events),
            gnodes AS MATERIALIZED (
              SELECT rn - 1 AS node FROM (
                SELECT row_number() OVER (ORDER BY event_id) AS rn FROM events) q
              WHERE rn <= (SELECT n FROM nn)),
            gedges AS MATERIALIZED (
              SELECT DISTINCT src, dst FROM (
                SELECT user_id AS src,
                       (user_id * 131 + event_id * 7) % (SELECT n FROM nn) AS dst
                FROM events
                UNION ALL
                SELECT node AS src, (node + 1) % (SELECT n FROM nn) AS dst
                FROM gnodes))
            SELECT (SELECT CAST(count(*) AS BIGINT) FROM gnodes) AS n_nodes,
                   (SELECT CAST(count(*) AS BIGINT) FROM gedges) AS n_edges,
                   (SELECT CAST(sum(CASE WHEN src = dst THEN 1 ELSE 0 END)
                           AS BIGINT) FROM gedges) AS n_self,
                   (SELECT CAST(count(*) AS BIGINT) FROM gedges e
                    WHERE EXISTS (SELECT 1 FROM gedges r
                                  WHERE r.src = e.dst AND r.dst = e.src))
                     AS n_recip,
                   (SELECT CAST(max(d) AS BIGINT) FROM (
                      SELECT count(*) AS d FROM gedges GROUP BY src) q)
                     AS max_outdeg,
                   (SELECT CAST(max(d) AS BIGINT) FROM (
                      SELECT count(*) AS d FROM gedges GROUP BY dst) q)
                     AS max_indeg
        """,
        # Near-dup cluster-size histogram: the shared minhash chain, the
        # recursive-CTE component labels (the near_dedup_minhash_verify
        # recipe), per-cluster sizes, then the size histogram.
        "dup_cluster_sizes": f"""
            WITH RECURSIVE {_minhash_sql(0.6, materialize=True)},
            edges AS (SELECT id_a AS src, id_b AS dst FROM tpairs
                      UNION SELECT id_b, id_a FROM tpairs),
            reach AS (
              SELECT src AS id, dst AS r FROM edges
              UNION
              SELECT e.src, rch.r FROM edges e JOIN reach rch ON rch.id = e.dst
            ),
            labels AS (SELECT id, least(id, min(r)) AS canon
                       FROM reach GROUP BY id),
            csz AS (SELECT canon, CAST(count(*) AS BIGINT) AS sz
                    FROM labels GROUP BY 1)
            SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters
            FROM csz GROUP BY sz
        """,
        "wavefront_profile": _wavefront_sql(4),
        # Curation yield funnel: the rep/quality fragments give the kept
        # set (kq), the minhash chain WHERE-restricted to kq feeds the
        # recursive-CTE survivor labels, then one per-source rollup of
        # exact counts and whitespace-token sums.
        "curation_yield": rf"""
            WITH RECURSIVE {_rep_ctes()},
            qual AS (SELECT doc_id, text, ' ' || lower(text) || ' ' AS pad,
                            {tok} AS n_tok, {mwl} AS mwl, {punct} AS pr, {upper} AS ur
                     FROM documents),
            q2 AS (SELECT doc_id, n_tok,
                          round(least(n_tok / 100.0, 1.0) * 0.3
                            + (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.0 END) * 0.2
                            + least((CASE WHEN n_tok = 0 THEN 0.0 ELSE ({en_sum}) / n_tok END) * 4.0, 1.0) * 0.3
                            + greatest(0.0, 1.0 - pr * 4.0 - ur * 2.0) * 0.2, 6) AS quality
                   FROM qual),
            kq AS MATERIALIZED (
              SELECT q2.doc_id FROM q2 LEFT JOIN rep ON rep.doc_id = q2.doc_id
              WHERE NOT (n_tok < 10) AND NOT (dup_word_frac > 0.6)
                AND NOT (top_bigram_frac > 0.4) AND NOT (quality < 0.3)),
            {_minhash_sql(0.6, where="WHERE doc_id IN (SELECT doc_id FROM kq)", materialize=True)},
            yedges AS (SELECT id_a AS src, id_b AS dst FROM tpairs
                       UNION SELECT id_b, id_a FROM tpairs),
            yreach AS (
              SELECT src AS id, dst AS r FROM yedges
              UNION
              SELECT e.src, rch.r FROM yedges e JOIN yreach rch ON rch.id = e.dst
            ),
            ylabels AS (SELECT id, min(r) AS mn FROM yreach GROUP BY id),
            ysurv AS MATERIALIZED (
              SELECT k.doc_id FROM kq k LEFT JOIN ylabels l ON l.id = k.doc_id
              WHERE l.id IS NULL OR least(k.doc_id, l.mn) = k.doc_id)
            SELECT d.source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_after_quality,
                   CAST(sum(CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_after_dedup,
                   CAST(sum(q2.n_tok) AS BIGINT) AS tokens_in,
                   CAST(sum(CASE WHEN s.doc_id IS NOT NULL THEN q2.n_tok
                            ELSE 0 END) AS BIGINT) AS tokens_kept
            FROM documents d
            JOIN q2 ON q2.doc_id = d.doc_id
            LEFT JOIN kq k ON k.doc_id = d.doc_id
            LEFT JOIN ysurv s ON s.doc_id = d.doc_id
            GROUP BY d.source
        """,
        "c4_filters": rf"""
            WITH {_weblines_ctes()},
            wlr AS (SELECT doc_id,
                           CASE WHEN NOT ends_with(txt, '.') THEN 'no_punct'
                                WHEN len(string_split(txt, ' ')) < 5 THEN 'too_short'
                                WHEN contains(txt, 'javascript') THEN 'policy'
                                ELSE 'keep' END AS reason,
                           contains(txt, '{{') AS hb,
                           contains(txt, 'lorem ipsum') AS hl
                    FROM wl_aug),
            wlagg AS (SELECT doc_id,
                             CAST(count(*) AS BIGINT) AS n_lines,
                             CAST(sum(CASE WHEN reason = 'keep' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                             CAST(sum(CASE WHEN reason = 'no_punct' THEN 1 ELSE 0 END) AS BIGINT) AS n_no_punct,
                             CAST(sum(CASE WHEN reason = 'too_short' THEN 1 ELSE 0 END) AS BIGINT) AS n_too_short,
                             CAST(sum(CASE WHEN reason = 'policy' THEN 1 ELSE 0 END) AS BIGINT) AS n_policy,
                             bool_or(hb) AS has_brace,
                             bool_or(hl) AS has_lorem
                      FROM wlr GROUP BY doc_id)
            SELECT doc_id, n_lines, n_kept, n_no_punct, n_too_short, n_policy,
                   has_brace, has_lorem,
                   (NOT has_brace) AND (NOT has_lorem) AND n_kept >= 3 AS doc_keep
            FROM wlagg
        """,
        "boilerplate_lines": rf"""
            WITH {_weblines_ctes(with_header=True)},
            wl_hd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
            wl_lf AS (SELECT source, txt, count(DISTINCT doc_id) AS c
                      FROM wl_lines GROUP BY 1, 2),
            wl_bl AS (SELECT source, txt
                      FROM wl_lf JOIN wl_hd USING (source)
                      WHERE c >= 2 AND c * 5 >= n_docs)
            SELECT l.doc_id, l.source,
                   CAST(count(*) AS BIGINT) AS n_lines,
                   CAST(sum(CASE WHEN b.txt IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
            FROM wl_lines l
            LEFT JOIN wl_bl b ON b.source = l.source AND b.txt = l.txt
            GROUP BY l.doc_id, l.source
        """,
        "readability": _readability_sql(),
        "encoding_scan": _encoding_scan_sql(),
        "kmv_distinct": f"""
            WITH kb AS (SELECT lang, doc_id,
                               {_poly_sql("'kmv:' || CAST(doc_id AS VARCHAR)", 131)} AS ph
                        FROM documents),
            km AS (SELECT DISTINCT lang, {_mix31_sql("ph")} AS hv FROM kb),
            kr AS (SELECT lang, hv,
                          row_number() OVER (PARTITION BY lang ORDER BY hv) AS rnk
                   FROM km),
            ka AS (SELECT lang, CAST(count(*) AS BIGINT) AS k_used,
                          max(hv) AS kth_hash
                   FROM kr WHERE rnk <= 64 GROUP BY lang),
            kx AS (SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT)
                            AS exact_distinct
                   FROM documents GROUP BY lang)
            SELECT ka.lang, k_used, kth_hash,
                   CAST(CASE WHEN k_used < 64 THEN k_used
                        ELSE (63 * 2147483648) // greatest(kth_hash, 1)
                        END AS BIGINT) AS est_distinct,
                   exact_distinct
            FROM ka JOIN kx ON kx.lang = ka.lang
        """,
        "knn_classify": """
            WITH q AS (SELECT vec_id AS query_id,
                              CAST(embedding AS DOUBLE[]) AS qv,
                              label AS tl
                       FROM embeddings WHERE vec_id % 20 = 0),
            nn AS (SELECT query_id, vec_id, label AS nl,
                          row_number() OVER (
                            PARTITION BY query_id
                            ORDER BY list_cosine_similarity(
                                       qv, CAST(embedding AS DOUBLE[])) DESC,
                                     vec_id ASC) AS rank
                   FROM embeddings, q WHERE vec_id <> query_id),
            votes AS (SELECT query_id, nl, count(*) AS n
                      FROM nn WHERE rank <= 5 GROUP BY 1, 2),
            pred AS (SELECT query_id, nl AS pred_label FROM (
                       SELECT query_id, nl,
                              row_number() OVER (PARTITION BY query_id
                                                 ORDER BY n DESC, nl ASC) AS r
                       FROM votes) WHERE r = 1)
            SELECT q.tl AS true_label, p.pred_label,
                   CAST(count(*) AS BIGINT) AS n_queries
            FROM pred p JOIN q ON q.query_id = p.query_id
            GROUP BY 1, 2
        """,
        "ktruss": _k_truss_sql(4, 6),
        "crawl_schedule": _crawl_schedule_sql(8, 1000),
        "ccnet_buckets": f"""
            WITH lmq AS MATERIALIZED (SELECT * FROM ({_LM_QUALITY_SQL}) q),
            jb AS (SELECT l.doc_id, d.lang, l.n_bigrams,
                          ((0 - l.logprob_fp) * 1000)
                            // (l.n_bigrams * 1000000000) AS nll_milli
                   FROM lmq l JOIN documents d ON d.doc_id = l.doc_id),
            rk AS (SELECT doc_id, lang, n_bigrams, nll_milli,
                          row_number() OVER (PARTITION BY lang
                                             ORDER BY nll_milli, doc_id) AS r,
                          count(*) OVER (PARTITION BY lang) AS n
                   FROM jb)
            SELECT doc_id, lang, n_bigrams,
                   CAST(nll_milli AS BIGINT) AS nll_milli,
                   CASE WHEN r * 3 <= n THEN 'head'
                        WHEN r * 3 <= 2 * n THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM rk
        """,
        "dtw_pairs": _dtw_sql(30, 24, 6),
        "frechet_pairs": _dtw_sql(30, 24, 6, mode="minimax", out_col="frechet"),
        "lcss_pairs": _dtw_sql(30, 24, 6, mode="lcss", out_col="lcss", eps=80),
        "swalign_pairs": _dtw_sql(30, 24, 6, mode="swalign", out_col="sw", eps=80),
        "edr_pairs": _dtw_sql(30, 24, 6, mode="edr", out_col="edr", eps=80),
        "viterbi_match": _viterbi_sql(12, 40),
        "polyline_encode": _polyline_sql(24),
        "bowtie_classes": _bowtie_sql(4),
        "shapley_attribution": _shapley_sql(),
        "jenks_breaks": _jenks_sql(5, 864),
        "anf_registers": _anf_sql(4, 6, 16),
        "bootstrap_stats": _bootstrap_sql(32),
        "ransac_lines": _ransac_sql(32, 50),
        "simrank": _simrank_sql(3, 200),
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
        "ams_f2": f"""
            WITH toks AS (
              SELECT string_split_regex(trim(lower(text)), '\\s+') AS tk
              FROM documents),
            shm AS (SELECT array_to_string(tk[i:i+1], ' ') AS gram
                    FROM toks,
                         unnest(range(1, greatest(len(tk) - 1, 1) + 1)) t(i)),
            voc AS MATERIALIZED (
              SELECT gram, CAST(count(*) AS BIGINT) AS tf
              FROM shm WHERE length(gram) > 0 GROUP BY gram),
            ex AS (SELECT CAST(sum(tf * tf) AS BIGINT) AS exact_f2
                   FROM voc),
            rws AS (SELECT v.gram, v.tf, r.range AS row_id
                    FROM voc v, range(16) r),
            h0 AS (SELECT row_id, tf,
                          {_poly_sql("'f2:' || CAST(row_id AS VARCHAR) || ':' || gram", 131)}
                            AS hr
                   FROM rws),
            h1 AS (SELECT row_id, tf, {_mix31_sql('hr')} AS h FROM h0),
            sg AS (SELECT row_id,
                          CAST(sum(tf * ((h % 2) * 2 - 1)) AS BIGINT)
                            AS signed_sum
                   FROM h1 GROUP BY row_id)
            SELECT CAST(row_id AS BIGINT) AS row_id, signed_sum,
                   signed_sum * signed_sum AS f2_est, exact_f2
            FROM sg, ex
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
        "gopher_rules": r"""
            WITH base AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(lower(text)), '\s+'),
                                 x -> length(x) > 0) AS arr,
                     string_split(text, chr(10)) AS lines,
                     length(text) - length(replace(text, '#', ''))
                       + (length(text)
                          - length(replace(text, '...', ''))) // 3
                       AS n_symbols
              FROM documents),
            m AS (
              SELECT doc_id,
                     CAST(len(arr) AS BIGINT) AS n_words,
                     CAST(coalesce(list_sum(
                       list_transform(arr, x -> length(x))), 0) AS BIGINT)
                       AS word_chars,
                     CAST(len(list_filter(arr,
                       x -> regexp_full_match(x, '[a-z]+'))) AS BIGINT)
                       AS n_alpha,
                     CAST(len(list_distinct(list_filter(arr,
                       x -> list_contains(['the','be','to','of','and',
                                           'that','have','with'], x))))
                       AS BIGINT) AS n_stop_distinct,
                     CAST(n_symbols AS BIGINT) AS n_symbols,
                     CAST(len(lines) AS BIGINT) AS n_lines,
                     CAST(len(list_filter(lines,
                       x -> starts_with(x, '- ') OR starts_with(x, '* ')))
                       AS BIGINT) AS n_bullet_lines,
                     CAST(len(list_filter(lines,
                       x -> ends_with(x, '...'))) AS BIGINT)
                       AS n_ellipsis_lines
              FROM base),
            r AS (
              SELECT m.*,
                     CASE
                       WHEN n_words < 50 OR n_words > 100000
                         THEN 'word_count'
                       WHEN word_chars < 3 * n_words
                            OR word_chars > 10 * n_words
                         THEN 'mean_word_length'
                       WHEN 10 * n_symbols > n_words THEN 'symbol_ratio'
                       WHEN 10 * n_bullet_lines > 9 * n_lines
                         THEN 'bullet_lines'
                       WHEN 10 * n_ellipsis_lines > 3 * n_lines
                         THEN 'ellipsis_lines'
                       WHEN 5 * n_alpha < 4 * n_words THEN 'alpha_frac'
                       WHEN n_stop_distinct < 2 THEN 'stopwords'
                       ELSE 'pass' END AS first_fail
              FROM m)
            SELECT doc_id, n_words, word_chars, n_alpha, n_stop_distinct,
                   n_symbols, n_lines, n_bullet_lines, n_ellipsis_lines,
                   first_fail, first_fail = 'pass' AS keep
            FROM r
        """,
        "kneser_ney": r"""
            WITH arrs AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(lower(text)), '\s+'),
                                 x -> length(x) > 0) AS arr
              FROM documents),
            big AS MATERIALIZED (
              SELECT doc_id, arr[i + 1] AS w1, arr[i + 2] AS w2
              FROM (SELECT doc_id, arr, unnest(range(len(arr) - 1)) AS i
                    FROM arrs)),
            c12 AS MATERIALIZED (
              SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
              FROM big GROUP BY 1, 2),
            hist AS (SELECT w1, CAST(sum(c) AS BIGINT) AS hist_count,
                            CAST(count(*) AS BIGINT) AS follow_types
                     FROM c12 GROUP BY 1),
            prec AS (SELECT w2, CAST(count(*) AS BIGINT) AS prec_types
                     FROM c12 GROUP BY 1),
            ty AS (SELECT CAST(count(*) AS BIGINT) AS bigram_types FROM c12)
            SELECT b.w1, b.w2, b.c, h.hist_count, h.follow_types,
                   p.prec_types, ty.bigram_types,
                   greatest(4 * b.c - 3, 0) * ty.bigram_types
                     + 3 * h.follow_types * p.prec_types AS p_num,
                   4 * h.hist_count * ty.bigram_types AS p_den
            FROM c12 b
            JOIN hist h ON h.w1 = b.w1
            JOIN prec p ON p.w2 = b.w2
            CROSS JOIN ty
            ORDER BY b.c DESC, b.w1, b.w2 LIMIT 200
        """,
        "wl_colors": _wl_refine_sql(3),
        "zipf_fit": r"""
            WITH zt AS (
              SELECT lang,
                     unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                                        x -> length(x) > 0)) AS word
              FROM documents),
            zf AS (SELECT lang, word, CAST(count(*) AS BIGINT) AS f
                   FROM zt GROUP BY 1, 2),
            zr AS (SELECT lang, f,
                          row_number() OVER (PARTITION BY lang
                                             ORDER BY f DESC, word ASC) AS r
                   FROM zf),
            zx AS (SELECT lang,
                          CAST(round_even(ln(CAST(r AS DOUBLE)) * 1000000.0, 0)
                               AS BIGINT) AS x,
                          CAST(round_even(ln(CAST(f AS DOUBLE)) * 1000000.0, 0)
                               AS BIGINT) AS y
                   FROM zr WHERE r <= 500)
            SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * y) AS BIGINT) AS sxy,
                   CAST(sum(x * x) AS BIGINT) AS sxx
            FROM zx GROUP BY lang
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
        "ingest_gate": _ingest_gate_sql(),
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
        "ridge_fit": _RIDGE_SQL,
        "perceptron_fit": _perceptron_sql(5),
        "huffman_cost": _huffman_sql(25),
        "luhn_validate": _luhn_sql(),
        "harmonic_centrality": _harmonic_sql(4, 10),
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
        "critical_path": _critical_path_sql(8),
        "attack_robustness": _robustness_sql((0, 8), 10),
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
        "temporal_reach": _temporal_reach_sql(6, 5),
        "cidr_match": _cidr_sql(),
        "lttb_downsample": _lttb_sql(32, 10),
        "entropy_bound": _entropy_bound_sql(),
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
        "triad_census": """
            WITH edges0 AS (
              SELECT DISTINCT (event_id * 131 + user_id) % 1000 AS src,
                     1000 // (1 + (event_id % 1000)) AS dst
              FROM events),
            und AS MATERIALIZED (
              SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
              FROM edges0 WHERE src != dst),
            deg AS (
              SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
                SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und)
              GROUP BY 1),
            st AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(d) // 2 AS BIGINT) AS m,
                     CAST(sum(d * (d - 1) // 2) AS BIGINT) AS wedges
              FROM deg),
            tr AS (
              SELECT CAST(count(*) AS BIGINT) AS t
              FROM und e1
              JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
              JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b)
            SELECT n, m, wedges, t AS triangles,
                   CAST(wedges - 3 * t AS BIGINT) AS paths,
                   CAST(m * (n - 2) - 2 * wedges + 3 * t AS BIGINT)
                     AS one_edge,
                   CAST(n * (n - 1) // 2 * (n - 2) // 3
                        + wedges - t - m * (n - 2) AS BIGINT) AS empty
            FROM st CROSS JOIN tr
        """,
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
        "aho_scan": _aho_scan_sql(),
        "spatial_keyword": _spatial_keyword_sql(),
        "stress_centrality": _stress_sql(),
        "boruvka_emst": _boruvka_sql(),
        "toponym_resolve": _toponym_sql(),
        "suffix_lrs": _suffix_lrs_sql(),
        "vw_simplify": _vw_sql(),
        "interval_schedule": _interval_sched_sql(),
        "gale_shapley": _gale_shapley_sql(),
        "string_period": _string_period_sql(),
        "knapsack_pack": _knapsack_sql(),
        "radiation_model": _radiation_sql(),
        "hash_ring": _hash_ring_sql(),
        "greedy_coloring": _coloring_sql(),
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
        "dyad_census": """
            WITH g AS MATERIALIZED (
              SELECT DISTINCT (event_id * 131 + user_id) % 1000 AS src,
                     1000 // (1 + (event_id % 1000)) AS dst
              FROM events),
            g2 AS MATERIALIZED (
              SELECT src, dst FROM g WHERE src <> dst),
            nodes AS (
              SELECT DISTINCT v FROM (
                SELECT src AS v FROM g2
                UNION ALL SELECT dst AS v FROM g2) u),
            m AS (
              SELECT CAST(count(*) AS BIGINT) AS m2
              FROM g2 a JOIN g2 b
                ON b.src = a.dst AND b.dst = a.src),
            s AS (
              SELECT (SELECT CAST(count(*) AS BIGINT) FROM g2)
                       AS n_arcs,
                     (SELECT CAST(count(*) AS BIGINT) FROM nodes)
                       AS n_nodes,
                     (SELECT m2 FROM m) AS m2)
            SELECT n_nodes, n_arcs,
                   CAST(m2 // 2 AS BIGINT) AS mutual,
                   CAST(n_arcs - m2 AS BIGINT) AS asym,
                   CAST((n_nodes * (n_nodes - 1)) // 2 - m2 // 2
                        - (n_arcs - m2) AS BIGINT) AS nulld
            FROM s
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
        "bwt_runs": _bwt_runs_sql(),
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

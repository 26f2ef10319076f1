"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship spatial pipeline; ``queries()`` /
``oracle_sql()`` cover SURVEY.md §2's operator inventory plus the engine's
training-data ops; the driver checks each query against DuckDB at sf=0.01.

Design notes for exact Spark<->DuckDB agreement:
- spatial probe points derive from the ``events`` table with arithmetic written
  as identical literal expressions on both sides (same IEEE op order), offset
  so no point lands within 1e-7 deg of a plot/tile boundary;
- money aggregates run in decimal (exact in both engines), then round+cast;
- every computed column is aliased identically on both sides;
- kernels whose PRODUCTION hash has no SQL analog (xxhash64 MinHash/SimHash/
  fingerprint, SRP pandas-UDF buckets, FNV media decode, frozen extract_text)
  each carry an ORACLE TWIN: the same operator run under a replayable kernel
  (functions/vhash.py poly family, literal hyperplanes, HUGEINT FNV, RE2
  regex replay), so the plumbing is hash-checked and only the leaf hash
  differs in the rows-only production query. Still rows-only with no twin:
  H3/S2 encode (pinned by the JVM-twin cross-check + property tests) and
  IVF-flat (approximate by design; recall-floor pytest).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from oracles import (  # noqa: F401  (re-exported driver/test API)
    oracle_sql,
    _poly_sql,
    _mix31_sql,
    _bpe_stages_sql,
    _bpe_encode_sql,
    _principal_axis_sql,
)
from oracles.shared import (  # noqa: F401
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
    AHO_PATTERNS as _AHO_PATTERNS,
    SKW_TERMS as _SKW_TERMS,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _event_points(spark: SparkSession, sf_dir: str, lat_expr: str = LAT_IN) -> DataFrame:
    return _t(spark, sf_dir, "events").select(
        "event_id",
        F.expr(lat_expr).alias("centroid_lat"),
        F.expr(LON_IN).alias("centroid_lon"),
    )


def _plots_pdf():
    from extractors_metadata_spark.synth import plot_rings

    return plot_rings()


def _sf_of(sf_dir: str) -> float:
    import re

    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.01


# --- flagship ------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: spatial resolve of sf0.001 event-derived points against the
    Maricopa plot grid via the one-pass lookup kernel (containment, else
    nearest)."""
    from extractors_metadata_spark.operators.pip_knn import resolve_plots

    pts = _event_points(spark, "/root/testdata/sf0.001")
    return resolve_plots(spark, pts, _plots_pdf()).select(
        "event_id", "plot_id", "matched_via", "centroid_lat", "centroid_lon"
    )


# --- queries ---------------------------------------------------------------------


def q_pip_contains(spark, sf_dir):
    from extractors_metadata_spark.operators.pip_knn import pip_join

    pts = _event_points(spark, sf_dir)
    out = pip_join(spark, pts, _plots_pdf())
    return out.select("event_id", "plot_id")


def q_pip_bigdim(spark, sf_dir):
    """Point-in-polygon with a DISTRIBUTED polygon dim
    (operators/pip_bigdim.py — the non-broadcastable-dim regime: covering
    cells built in one Arrow pass over the polygon table, candidates via a
    shuffle_hash cell equi-join, refine = the SAME frozen raycast kernel as
    the broadcast path). Same probe and FULL oracle as pip_contains, so the
    two regimes are checked against the identical closed-form truth."""
    import numpy as np

    from extractors_metadata_spark.operators.pip_bigdim import pip_join_bigdim

    pdf = _plots_pdf().copy()
    pdf["ring"] = [
        [[float(v[0]), float(v[1])] for v in np.asarray(r)] for r in pdf["ring"]
    ]
    polys = spark.createDataFrame(pdf[["plot_id", "ring"]])
    pts = _event_points(spark, sf_dir)
    out = pip_join_bigdim(spark, pts, polys, point_id="event_id")
    return out.select("event_id", "plot_id")


def q_knn_nearest(spark, sf_dir):
    """k=1 nearest over the FULL point range, with dist_m oracle-checked
    numerically (the knn_topk SQL machinery at rank<=1 — round to cm, see
    q_knn_topk on why 2 decimals)."""
    from extractors_metadata_spark.operators.pip_knn import knn_join

    pts = _event_points(spark, sf_dir, lat_expr=LAT_SOUTH)
    # probe points sit 33-89 m south of the grid. res 13 (~3.6 m hexes) +
    # ring 21 guarantees ~91 m reach while the per-cell interval prune's band
    # (2 cell radii ~8.6 m) keeps ~3x fewer candidates/point than res 12 +
    # ring 8 (~22 m band): measured 7.0 s -> 4.5 s at sf0.1. The dilated dim
    # build is memoized (_poly_cells), so only the first call pays it.
    out = knn_join(spark, pts, _plots_pdf(), k=1, res=13, ring=21)
    return out.select("event_id", "plot_id", F.round("dist_m", 2).alias("dist_m"))


def q_knn_topk(spark, sf_dir):
    """kNN at k=3 with exact distances and ranks: the DuckDB oracle brute-
    forces point-to-rectangle distance over all 864 plots with the engine
    kernel's literal arithmetic (geometry.PreparedPolygons.distance_m);
    dist_m is rounded to cm — the synthetic lat offsets are odd multiples of
    ~0.278 m, which lands EXACTLY on 3-decimal round midpoints, so mm rounding
    would let libm cos/sqrt ulp drift flip equality (observed once in 6000)."""
    from extractors_metadata_spark.operators.pip_knn import knn_join

    pts = _event_points(spark, sf_dir, lat_expr=LAT_SOUTH).filter(
        F.col("event_id") < 2000
    )
    out = knn_join(spark, pts, _plots_pdf(), k=3, ring=8)
    return out.select(
        "event_id",
        "plot_id",
        F.col("knn_rank").cast("int").alias("rank"),
        F.round("dist_m", 2).alias("dist_m"),
    )


def q_huff_model(spark, sf_dir):
    """Huff spatial-interaction split (operators/huff.py, Huff 1963):
    each probe point's unit mass distributed over its 3 nearest plots as
    the EXACT integer rational prod-of-other-d2 / den with d2 =
    max(dist_cm^2, 1) — distance quantized to the proven integer-cm
    surface, probabilities never floated (the pack_sequences rule). All
    the work is the proven kNN machinery + one point-keyed pivot. FULL
    oracle: the knn brute-force SQL nested as a derived table + the same
    pivot/product algebra."""
    from extractors_metadata_spark.operators.huff import huff_model

    pts = _event_points(spark, sf_dir, lat_expr=LAT_SOUTH).filter(
        F.col("event_id") < 2000
    )
    return huff_model(spark, pts, _plots_pdf())


def q_tile_assign(spark, sf_dir):
    from extractors_metadata_spark.operators.tile_assign import tile_assign

    pts = _event_points(spark, sf_dir).select(
        "event_id",
        (F.col("centroid_lat") - 0.0002).alias("min_lat"),
        (F.col("centroid_lat") + 0.0002).alias("max_lat"),
        (F.col("centroid_lon") - 0.0003).alias("min_lon"),
        (F.col("centroid_lon") + 0.0003).alias("max_lon"),
    )
    return tile_assign(pts, zooms=(10, 11, 12), id_cols=("event_id",)).select(
        "event_id", "z", "x", "y"
    )


def q_tile_density(spark, sf_dir):
    """Skew-safe exact distinct count per tile (salted two-phase aggregation;
    hot Maricopa tiles are the skew case the north rule names)."""
    from extractors_metadata_spark.operators.skew import salted_distinct_count
    from extractors_metadata_spark.operators.tile_assign import tile_assign

    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr(LAT_IN).alias("lat"),
        F.expr(LON_IN).alias("lon"),
    )
    pts = e.select(
        "event_id", "user_id",
        F.col("lat").alias("min_lat"), F.col("lat").alias("max_lat"),
        F.col("lon").alias("min_lon"), F.col("lon").alias("max_lon"),
    )
    tiles = tile_assign(pts, zooms=(12,), id_cols=("event_id", "user_id"))
    return salted_distinct_count(tiles, ["z", "x", "y"], "user_id", n_salts=8)


def q_cells_encode(spark, sf_dir):
    """H3-style + S2-style cell IDs under a FULL oracle: DuckDB independently
    replays both public kernel constructions (Lambert/axial/cube-round and
    face/(u,v)->(s,t)/Hilbert-fold) — see _cells_sql for the bit-exactness
    preconditions verified on this host."""
    from extractors_metadata_spark.functions.spark_udfs import h3_udf, s2_udf

    pts = _event_points(spark, sf_dir)
    return pts.select(
        "event_id",
        h3_udf(9)("centroid_lat", "centroid_lon").alias("cell_r9"),
        s2_udf(16)("centroid_lat", "centroid_lon").alias("s2_cell"),
    )


def q_pipeline_datapoints(spark, sf_dir):
    """Full document pipeline on the deterministically synthesized input_hint
    table (rows-only: UTM footprint kernel has no SQL analog).

    Oracle twin: pipeline_envelope_verify."""
    from extractors_metadata_spark.plans.pipeline import datapoints
    from extractors_metadata_spark.synth import synth_webpages

    n = max(1000, int(200_000 * _sf_of(sf_dir)))
    pages = synth_webpages(spark, n)
    dp = datapoints(spark, pages, _plots_pdf())
    return dp.select("url", "plot_id", "matched_via", "stream", "date")


def q_pipeline_plots(spark, sf_dir):
    """The flagship E1 pipeline under a FULL DuckDB oracle (rows+schema+hash):
    probe webpages are synthesized from the events table — real html with the
    LemnaTec JSON block — and run through the ACTUAL pipeline (JVM regexp/
    from_json parse -> Arrow UTM footprint kernel -> res-13 cell-pruned
    resolve). The oracle replays gantry -> UTM -> WGS84 via the literal
    transverse-Mercator inverse series (functions/geodesy.to_latlon, public
    Snyder/USGS formulation; reference analog error_estimation.py:22-41) in
    SQL and assigns plots by the synth grid's closed form. Probe positions
    target plot centers (see PLOT_GY_CENTERS) so the discrete comparison is
    drift-proof."""
    from extractors_metadata_spark.plans.pipeline import datapoints

    dp = datapoints(spark, _probe_pages(spark, sf_dir), _plots_pdf())
    return dp.select("url", "plot_id", "matched_via", "stream", "date")


def _probe_pages(spark, sf_dir, max_events: int | None = None, gx=None):
    """Deterministic event-derived webpages whose gantry metadata the DuckDB
    oracles can replay symbolically — the shared front end of pipeline_plots,
    pipeline_nearest_verify and multi_render_verify.
    ``gx``: optional Column overriding the default plot-center walk (the
    nearest-path probes place gx south of the whole grid)."""
    e = _t(spark, sf_dir, "events")
    if max_events is not None:
        e = e.filter(F.col("event_id") < max_events)
    # PLOT_GX_EXPR built from float lits (Spark SQL would parse the literals
    # as Decimal — format_string needs DOUBLE; sub-margin drift is irrelevant)
    if gx is None:
        gx = F.lit(3.8) + ((F.col("event_id") % 50).cast("double") + F.lit(0.5)) * F.lit(4.06)
    cs = F.array(*[F.lit(v) for v in PLOT_GY_CENTERS])
    gy = F.element_at(cs, (F.col("event_id") % 6).cast("int") + 1) - F.lit(
        0.009301
    ) * (gx - F.lit(105.0))
    sensor = F.when(F.col("event_id") % 2 == 0, "stereoTop").otherwise("Scanner3D")
    day = F.format_string("%02d", (F.col("event_id") % 28 + 1).cast("int"))
    ds_name = F.concat(sensor, F.lit(" - 2016-05-"), day, F.lit("__15-58-43-000"))
    gvm = F.create_map(
        F.lit("Time"), F.lit("05/07/2016 15:58:43"),
        F.lit("Position x [m]"), F.format_string("%.6f", gx),
        F.lit("Position y [m]"), F.format_string("%.6f", gy),
        F.lit("Position z [m]"), F.lit("1.000000"),
    )
    sfm = F.create_map(
        F.lit("location in camera box X [m]"), F.lit("0.000000"),
        F.lit("location in camera box Y [m]"), F.lit("0.000000"),
        F.lit("field of view X [m]"), F.lit("1.000000"),
        F.lit("field of view Y [m]"), F.lit("1.000000"),
    )
    lmm = F.struct(
        F.struct(
            gvm.alias("gantry_system_variable_metadata"),
            sfm.alias("sensor_fixed_metadata"),
        ).alias("lemnatec_measurement_metadata"),
        ds_name.alias("dataset_name"),
    )
    html = F.concat(
        F.lit('<html><body><script type="application/json" id="lemnatec">'),
        F.to_json(lmm),
        F.lit("</script></body></html>"),
    )
    return e.select(
        F.concat(F.lit("https://site.example/e"), F.col("event_id").cast("string")).alias("url"),
        F.col("ts").alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        F.lit("probe").alias("text"),
        F.lit("en").alias("lang"),
    )


def q_pipeline_nearest_verify(spark, sf_dir):
    """The fused resolve's kNN FALLBACK branch under a FULL oracle, through
    the whole pipeline (html parse -> footprint -> resolve): probes sit south
    of every plot, so matched_via='nearest' and the winning plot is '1-<pass>'
    with the pass replayed from the UTM-inverse longitude in SQL — the same
    drift-proof machinery as pipeline_plots, aimed at the other branch."""
    from extractors_metadata_spark.plans.pipeline import datapoints

    gx = F.lit(3.8) - (F.lit(20.5) + (F.col("event_id") % 40).cast("double"))
    pages = _probe_pages(spark, sf_dir, max_events=3000, gx=gx)
    dp = datapoints(spark, pages, _plots_pdf())
    return dp.select("url", "plot_id", "matched_via", "stream", "date")


def q_pipeline_envelope_verify(spark, sf_dir):
    """The assembled D6 datapoint ENVELOPE under a FULL oracle — the flagship
    surface that stayed rows-only through round 3. Replays symbolically in
    SQL, through the REAL pipeline (html parse -> Arrow UTM footprint ->
    fused resolve -> envelope assembly):

    - stream = sensor + ' Datasets'
      (/root/reference/sensorposition/terra_sensorposition.py:59);
    - the properties map entries source_dataset/dataset_name (dpmetadata,
      terra_sensorposition.py:60-64), projected to scalar columns because the
      driver's canonicalizer hashes sorted scalar values;
    - the scan interval start == end == scan_time
      (terra_sensorposition.py:85,93), emitted as two timestamp columns both
      derived from the envelope's scan_time.

    Plot resolution reuses pipeline_plots' drift-proof plot-center machinery;
    pipeline_datapoints stays as the rows-only twin running the same
    ``datapoints()`` assembly over the arbitrary-position synth table."""
    from extractors_metadata_spark.plans.pipeline import datapoints

    dp = datapoints(
        spark, _probe_pages(spark, sf_dir, max_events=3000), _plots_pdf()
    )
    return dp.select(
        "url",
        "plot_id",
        "matched_via",
        "stream",
        "date",
        F.col("scan_time").alias("start_time"),
        F.col("scan_time").alias("end_time"),
        F.element_at("properties", F.lit("source_dataset")).alias("prop_source"),
        F.element_at("properties", F.lit("dataset_name")).alias("prop_dataset"),
    )


def q_multi_render_verify(spark, sf_dir):
    """F17 multi-format rendering under a FULL oracle: the probe pages go
    through the real parse (html regexp -> from_json -> key cleaning -> typed
    projection) and multi_render; the oracle rebuilds all three renderings
    symbolically — JSON double fields rely on both engines emitting
    shortest-round-trip decimal repr (Jackson and DuckDB both do; verified
    empirically on this corpus)."""
    from extractors_metadata_spark.plans.parse import parse_metadata
    from extractors_metadata_spark.plans.render import multi_render

    return multi_render(parse_metadata(_probe_pages(spark, sf_dir)))


# --- relational parity (SURVEY.md §2.2-2.8) ---------------------------------------


def q_q1_pricing(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    price = F.col("l_extendedprice").cast("decimal(20,2)")
    disc = F.col("l_discount").cast("decimal(7,6)")
    tax = F.col("l_tax").cast("decimal(7,6)")
    one = F.lit(1).cast("decimal(7,6)")
    # (1-disc)*(1+tax) first: keeps every decimal product exact (<=38 digits)
    # in BOTH engines — see oracle_sql, which mirrors the structure.
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum(price), 2).cast("double").alias("sum_base_price"),
            F.round(F.sum(price * (one - disc)), 2)
            .cast("double")
            .alias("sum_disc_price"),
            F.round(F.sum(price * ((one - disc) * (one + tax))), 2)
            .cast("double")
            .alias("sum_charge"),
            F.round(F.sum("l_quantity") / F.count(F.lit(1)), 6).alias("avg_qty"),
            F.round(F.sum(price).cast("double") / F.count(F.lit(1)), 6).alias("avg_price"),
            F.round(F.sum(disc).cast("double") / F.count(F.lit(1)), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_multi_join(spark, sf_dir):
    # TPC-H Q3-shaped 3-way join + agg (join-reordering left to Catalyst)
    c = _t(spark, sf_dir, "customer").filter(F.col("c_nationkey") < 10)
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(20,2)")
    disc = F.col("l_discount").cast("decimal(7,6)")
    one = F.lit(1).cast("decimal(7,6)")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey")
        .agg(
            F.round(F.sum(price * (one - disc)), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_filter_gate(spark, sf_dir):
    # P1/P2: type + presence gates
    return (
        _t(spark, sf_dir, "events")
        .filter((F.col("event_type") == "view") & F.col("value").isNotNull())
        .select("event_id", "user_id", "value")
    )


def q_suffix_filter(spark, sf_dir):
    # P5: filename-suffix predicate analog
    return (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").endswith("e"))
        .select("p_partkey", "p_name")
    )


def q_json_extract(spark, sf_dir):
    # F14/S3: embedded JSON payload parse
    return _t(spark, sf_dir, "events").select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_val"),
    )


def q_anti_join(spark, sf_dir):
    # P3/T2: idempotency anti-join (customers with no orders per nation)
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return (
        c.join(o.select(F.col("o_custkey").alias("c_custkey")).distinct(), "c_custkey", "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_inactive"))
    )


def q_semi_join(spark, sf_dir):
    # J4: existence semi-join
    n = _t(spark, sf_dir, "nation")
    s = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 5000)
    return n.join(
        s.select(F.col("s_nationkey").alias("n_nationkey")).distinct(), "n_nationkey", "left_semi"
    ).select("n_nationkey", "n_name")


def q_theta_suffix_join(spark, sf_dir):
    # J3: endswith theta join (broadcast nested loop)
    import pandas as pd

    targets = spark.createDataFrame(pd.DataFrame({"suffix": ["bolt", "gear", "widget"]}))
    p = _t(spark, sf_dir, "part")
    return (
        p.join(F.broadcast(targets), F.expr("endswith(p_name, suffix)"))
        .groupBy("suffix")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


def q_argmin(spark, sf_dir):
    # A1/J2: deterministic argmin per group (running-min analog)
    from pyspark.sql import Window

    s = _t(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.col("s_acctbal").asc(), F.col("s_suppkey").asc())
    return (
        s.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("s_nationkey", "s_suppkey", "s_acctbal")
    )


def q_window_topk(spark, sf_dir):
    # §2.5/2.6: per-key top-k
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        o.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "rk")
    )


def q_all_targets(spark, sf_dir):
    # A4/J3: all-expected-outputs-present check
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus").isin("O", "F"))
    return (
        o.groupBy("o_custkey")
        .agg(F.countDistinct("o_orderstatus").alias("n_status"))
        .filter(F.col("n_status") == 2)
        .select("o_custkey", "n_status")
    )


def q_timestamp_parse(spark, sf_dir):
    # F6: the reference's 'MM/dd/yyyy HH:mm:ss' scan-time parse
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.to_timestamp(
            F.date_format("ts", "MM/dd/yyyy HH:mm:ss"), "MM/dd/yyyy HH:mm:ss"
        ).alias("parsed_ts"),
    )


def q_name_split(spark, sf_dir):
    # P7/F1: '<sensor> - <timestamp>' name split + date extraction
    e = _t(spark, sf_dir, "events")
    name = F.concat_ws(" - ", F.col("event_type"), F.date_format("ts", "yyyy-MM-dd__HH-mm-ss"))
    parts = F.split(name, " - ")
    return e.select(
        "event_id",
        F.element_at(parts, 1).alias("sensor"),
        F.element_at(F.split(F.element_at(parts, 2), "__"), 1).alias("date_part"),
    )


def q_map_lookup(spark, sf_dir):
    # P13/F15: literal map lookup with '99' default
    e = _t(spark, sf_dir, "events")
    m = F.create_map(F.lit("view"), F.lit("1"), F.lit("click"), F.lit("2"), F.lit("purchase"), F.lit("3"))
    return e.select(
        "event_id",
        F.coalesce(F.element_at(m, F.col("event_type")), F.lit("99")).alias("stream_id"),
    )


def q_url_tail(spark, sf_dir):
    # F5: url.split('/')[-1]
    e = _t(spark, sf_dir, "events")
    url = F.concat_ws("/", F.lit("https://host.example/datasets"), F.col("event_type"), F.col("event_id"))
    return e.select(
        "event_id", F.element_at(F.split(url, "/"), -1).alias("tail")
    )


# --- training-data ops --------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    from extractors_metadata_spark.operators.dedup import dedup_exact

    return dedup_exact(_t(spark, sf_dir, "documents")).select(
        "doc_id", "canonical_id", "group_size"
    )


def q_dedup_fingerprint(spark, sf_dir):
    """Normalized-content fingerprint dedup (rows-only: xxhash64 kernel).

    Oracle twin: fingerprint_verify."""
    from extractors_metadata_spark.operators.dedup import dedup_fingerprint

    return dedup_fingerprint(_t(spark, sf_dir, "documents")).select(
        "doc_id", "canonical_id", "group_size"
    )


def q_token_stats(spark, sf_dir):
    from extractors_metadata_spark.functions import textstats as ts

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        ts.token_count(F.col("text")).cast("int").alias("n_tokens"),
        F.round(ts.mean_word_len(F.col("text")), 6).alias("mean_word_len"),
        F.round(ts.punct_ratio(F.col("text")), 6).alias("punct_ratio"),
    )


def q_word_tokens(spark, sf_dir):
    # BPE-ish pre-tokenization: word pieces + punctuation counted separately
    from extractors_metadata_spark.functions import textstats as ts

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", ts.word_token_count(F.col("text")).cast("int").alias("n_units")
    )


def q_lang_id(spark, sf_dir):
    from extractors_metadata_spark.functions import textstats as ts

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", ts.lang_id(F.col("text")).alias("pred_lang"))


def q_langid_confusion(spark, sf_dir):
    """Language-ID confusion matrix — the evaluation query for the
    lang_id classifier against the corpus's labeled `lang` column:
    exact (label, prediction) cell counts; accuracy / per-class
    precision-recall are consumer-side ratios of the emitted ints. The
    registry's classifier-eval shape (every other op is verified against
    an oracle; this one is ALSO scored against ground truth). FULL
    oracle."""
    from extractors_metadata_spark.functions import textstats as ts

    d = _t(spark, sf_dir, "documents")
    return (
        d.select("lang", ts.lang_id(F.col("text")).alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_one_rule(spark, sf_dir):
    """1R decision stump (Holte 1993, the baseline every classifier
    must beat): the error-minimizing single threshold on text length
    predicting the language label, each side its majority class —
    exact integer counting end to end, frozen smaller-label /
    smaller-threshold tie rules. FULL oracle: the same zero-filled
    cumulative grid + composite argmaxes in SQL."""
    from extractors_metadata_spark.operators.naivebayes import (
        one_rule_stump,
    )

    d = _t(spark, sf_dir, "documents")
    return one_rule_stump(d, F.length("text"), "lang")


def q_cohens_kappa(spark, sf_dir):
    """Cohen's kappa over the language-ID confusion matrix — chance-
    corrected classifier agreement as the exact rational (N*agree -
    sum row*col) / (N^2 - sum row*col), pure int64 (accuracy flatters
    under class imbalance; kappa discounts the marginal-preserving
    random rater). Composes langid_confusion's exact cells with
    operators/assoc.cohens_kappa. FULL oracle: the same marginal
    products in SQL."""
    from extractors_metadata_spark.functions import textstats as ts
    from extractors_metadata_spark.operators.assoc import cohens_kappa

    d = _t(spark, sf_dir, "documents")
    conf = (
        d.select("lang", ts.lang_id(F.col("text")).alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return cohens_kappa(conf, "lang", "pred_lang", "n")


def q_quality_score(spark, sf_dir):
    from extractors_metadata_spark.functions import textstats as ts

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", ts.quality_score(F.col("text")).alias("quality"))


def q_prefix_join(spark, sf_dir):
    """EXACT all-pairs Jaccard >= 0.5 via prefix filtering
    (operators/dedup.prefix_jaccard_join — the AllPairs/PPJoin family):
    the exact complement to the MinHash LSH path — zero recall loss,
    candidate volume bounded by the prefix theorem (a qualifying pair
    MUST share a token in each side's rarest-first |d|-ceil(t|d|)+1
    prefix). Verify is pure integer: 100*inter >= t*union. FULL
    oracle."""
    from extractors_metadata_spark.operators.dedup import prefix_jaccard_join

    return prefix_jaccard_join(
        _t(spark, sf_dir, "documents"), threshold_pct=50
    )


def q_ngram_jaccard(spark, sf_dir):
    from extractors_metadata_spark.operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    return ngram_jaccard_pairs(d, n=3, threshold=0.3)


def q_minhash_pairs(spark, sf_dir):
    """MinHash-LSH near-dup candidates (rows-only: xxhash64 signatures).

    Oracle twin: minhash_verify."""
    from extractors_metadata_spark.operators.dedup import minhash_lsh_dedup

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return minhash_lsh_dedup(d, threshold=0.5)


def q_near_dedup_survivors(spark, sf_dir):
    """Full near-dedup pipeline: MinHash-LSH pairs -> connected components ->
    canonical survivors (rows-only: xxhash64 kernels).

    Oracle twin: near_dedup_minhash_verify."""
    from extractors_metadata_spark.operators.dedup import (
        minhash_lsh_dedup,
        near_dedup_survivors,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_dedup(d, threshold=0.6)
    return near_dedup_survivors(d, pairs).select("doc_id", "lang", "n_chars")


def q_near_dedup_exact(spark, sf_dir):
    """Exact near-dedup (char-3-gram Jaccard pairs -> connected components ->
    min-id survivors) — the SQL-expressible twin of near_dedup_survivors:
    DuckDB replays the clustering with a recursive CTE."""
    from extractors_metadata_spark.operators.dedup import (
        near_dedup_survivors,
        ngram_jaccard_pairs,
    )

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    pairs = ngram_jaccard_pairs(d, n=3, threshold=0.4)
    return near_dedup_survivors(d, pairs).select("doc_id", "lang", "n_chars")


def q_simhash(spark, sf_dir):
    """SimHash fingerprints (rows-only: xxhash64 bit votes).

    Oracle twin: simhash_verify."""
    from extractors_metadata_spark.operators.dedup import simhash

    return simhash(_t(spark, sf_dir, "documents")).select("doc_id", "simhash")


# --- verifiable-hash-family twins (functions/vhash.py) ----------------------------
#
# The production dedup kernels hash with xxhash64 (no DuckDB analog -> the
# driver records rows-only for them). Each *_verify query below runs the SAME
# operator code under the 'poly' hash family — polynomial rolling hash mod
# 2^31-1 with affine MinHash permutations, every step exact int64 arithmetic —
# which DuckDB replays literally, so the full operator plumbing (shingle
# fan-out, banded LSH join, bit votes, components, survivor anti-join) sits
# under rows+schema+hash oracles; the xxhash64 twins then differ only in the
# leaf hash.


def q_minhash_verify(spark, sf_dir):
    """MinHash-LSH near-dup candidates + estimated Jaccard under the
    verifiable hash family — FULL oracle twin of minhash_pairs."""
    from extractors_metadata_spark.operators.dedup import minhash_lsh_dedup

    d = _t(spark, sf_dir, "documents")
    # max_bucket effectively off: the SQL twin has no cap, so the Spark side
    # must not cap either or the equality breaks at larger SFs
    pairs = minhash_lsh_dedup(
        d, threshold=0.2, hash_family="poly", max_bucket=1_000_000_000
    )
    return pairs.select("id_a", "id_b", F.round("jaccard_est", 6).alias("jaccard_est"))


def q_near_dedup_minhash_verify(spark, sf_dir):
    """The FULL minhash near-dedup pipeline (signatures -> banded LSH ->
    threshold pairs -> connected components -> min-id survivors) under the
    verifiable family — oracle twin of near_dedup_survivors; DuckDB replays
    the clustering with a recursive CTE."""
    from extractors_metadata_spark.operators.dedup import (
        minhash_lsh_dedup,
        near_dedup_survivors,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_dedup(
        d, threshold=0.6, hash_family="poly", max_bucket=1_000_000_000
    )
    return near_dedup_survivors(d, pairs).select("doc_id", "lang", "n_chars")


def q_incremental_dedup_verify(spark, sf_dir):
    """Incremental near-dedup (dedup.incremental_near_dedup — the
    daily-crawl-increment shape with durable signature state) under the
    verifiable hash family, as a TWO-BATCH replay: batch 1 (even doc ids)
    seeds the state table with its survivors' signatures; batch 2 (odd ids)
    drops docs matching the committed state, then near-dedups among itself.
    The oracle replays both batches as pure CTEs — including the state carry
    (batch-1 SURVIVOR signatures only feed the cross-batch estimate) — over
    the same poly/affine arithmetic as minhash_verify. The state table is a
    fresh temp dir per invocation, so the query is deterministic."""
    import tempfile

    from extractors_metadata_spark.operators.dedup import incremental_near_dedup

    d = _t(spark, sf_dir, "documents")
    state = tempfile.mkdtemp(prefix="incdedup_state_") + "/sigs"
    kw = dict(threshold=0.6, hash_family="poly", max_bucket=1_000_000_000)
    s1 = incremental_near_dedup(
        spark, d.filter(F.col("doc_id") % 2 == 0), state, **kw
    )
    s2 = incremental_near_dedup(
        spark, d.filter(F.col("doc_id") % 2 == 1), state, **kw
    )
    return s1.select(
        "doc_id", F.lit(1).alias("batch"), "lang", "n_chars"
    ).unionByName(s2.select("doc_id", F.lit(2).alias("batch"), "lang", "n_chars"))


def q_simhash_verify(spark, sf_dir):
    """31-bit SimHash under the verifiable family — every token's rolling
    hash and all 31 bit votes replayed in SQL; oracle twin of simhash."""
    from extractors_metadata_spark.operators.dedup import simhash

    return simhash(_t(spark, sf_dir, "documents"), hash_family="poly").select(
        "doc_id", F.col("simhash").cast("long").alias("simhash")
    )


def q_fingerprint_verify(spark, sf_dir):
    """Normalized-content fingerprint dedup under the verifiable double
    rolling hash — oracle twin of dedup_fingerprint (same normalization,
    same grouping plan)."""
    from extractors_metadata_spark.operators.dedup import dedup_fingerprint

    return dedup_fingerprint(_t(spark, sf_dir, "documents"), hash_family="poly").select(
        "doc_id", "fp", "canonical_id", "group_size"
    )


def q_mutual_knn(spark, sf_dir):
    """Mutual-kNN graph (operators/similarity.mutual_knn): unordered pairs
    where each vector is in the other's exact cosine top-5 — the
    hubness-suppressed kNN structure (UMAP/HDBSCAN-style graph edges,
    dedup clusters). Ranks-only output (exact ints — orderings agree
    cross-engine, raw float sums never emitted). One top-k pass + one
    reversed-key self-join. FULL oracle."""
    from extractors_metadata_spark.operators.similarity import mutual_knn

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 400)
    return mutual_knn(emb, k=5)


def q_principal_axis(spark, sf_dir):
    """Exact-integer power iteration (operators/spectral.principal_axis):
    the embedding cloud's dominant Gram-matrix eigendirection after 6
    rounds — milli-unit quantize-once, int64 matvecs, power-of-two
    renormalization from the max bit length (never a float norm), sign-
    split truncation identical in both engines. FULL oracle: rounds
    unrolled as generated CTE stages, shift from length(bin(max))."""
    from extractors_metadata_spark.operators.spectral import principal_axis

    return principal_axis(_t(spark, sf_dir, "embeddings"), rounds=6)


def q_rrf_fusion(spark, sf_dir):
    """Reciprocal-rank fusion of two retrieval rankings (the serving-side
    ensemble primitive): per query, rank the corpus by exact cosine AND
    by L2, fuse with RRF(60) = 1/(60+r_cos) + 1/(60+r_l2), take top-5 by
    fused score (neighbor-id tie-break). Ranks are exact ints once each
    metric's ORDERING agrees cross-engine (only orderings are compared,
    never raw float sums), and the fused score is then an identical-path
    double of exact ints — emitted unrounded.
    One broadcast of the 10-query side; all three windows share the one
    query-keyed Exchange. FULL oracle."""
    from extractors_metadata_spark.operators.similarity import _cosine

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    j = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
    sim = _cosine(F.col("qv"), F.col("cv"))
    d2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda s, v: s + v,
    )
    wq = Window.partitionBy("query_id")
    scored = j.select(
        "query_id", "neighbor_id",
        F.row_number().over(
            wq.orderBy(sim.desc(), F.col("neighbor_id").asc())
        ).alias("r_cos"),
        F.row_number().over(
            wq.orderBy(d2.asc(), F.col("neighbor_id").asc())
        ).alias("r_l2"),
    )
    fused = (
        F.lit(1.0) / (F.lit(60.0) + F.col("r_cos").cast("double"))
        + F.lit(1.0) / (F.lit(60.0) + F.col("r_l2").cast("double"))
    )
    out = scored.select(
        "query_id", "neighbor_id", "r_cos", "r_l2", fused.alias("fused"),
        F.row_number().over(
            wq.orderBy(fused.desc(), F.col("neighbor_id").asc())
        ).alias("rrf_rank"),
    )
    return out.filter(F.col("rrf_rank") <= 5).select(
        "query_id", "neighbor_id",
        F.col("r_cos").cast("int").alias("r_cos"),
        F.col("r_l2").cast("int").alias("r_l2"),
        "fused",
        F.col("rrf_rank").cast("int").alias("rrf_rank"),
    )


def q_mmr_select(spark, sf_dir):
    """MMR diversified top-3 (operators/similarity.mmr_select): greedy
    relevance-vs-redundancy re-ranking where BOTH terms are exact
    int8-quantization dot products, so every greedy decision is exact
    int64 (score = 2*rel - max sim to selected, lambda=1/2 scaled x2).
    Candidates = top-20 by integer relevance per query (3 queries).
    FULL oracle: the greedy rounds unroll as generated CTE stages with
    row_number argmax (the k_core strategy applied to a serving-side
    loop)."""
    from extractors_metadata_spark.operators.similarity import mmr_select

    emb = _t(spark, sf_dir, "embeddings")
    return mmr_select(
        emb.filter(F.col("vec_id") < 3), emb, k_cand=20, k_sel=3
    )


def q_jaccard_pairs(spark, sf_dir):
    """Pair-scoped exact-Jaccard verify (the post-LSH 100 TB path): score a
    GIVEN candidate list — here consecutive doc ids, including dissimilar
    pairs, which must come back with their true (possibly 0) score."""
    from extractors_metadata_spark.operators.dedup import jaccard_for_pairs

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    pairs = d.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    ).filter(F.col("id_b") < 100)
    return jaccard_for_pairs(d, pairs, n=3)


def q_cosine_pairs_exact(spark, sf_dir):
    """Exact cosine near-duplicate pairs (brute force, JVM zip_with/aggregate
    dot products): the correctness baseline the SRP-bucketed
    cosine_near_pairs approximates; fully SQL-expressible so it carries a
    DuckDB oracle (list_cosine_similarity)."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    from extractors_metadata_spark.operators.similarity import cosine_pairs_exact

    # checked at 3 decimals (mirrored double-round in the oracle SQL): the two
    # engines fold the dot product in different orders, so the raw doubles
    # agree only to ~1e-15 relative — coarse rounding makes midpoint flips
    # measure-zero for this deterministic input set
    out = cosine_pairs_exact(emb, threshold=0.2)
    return out.select("id_a", "id_b", F.round("sim", 3).alias("sim"))


def q_embed_near_pairs(spark, sf_dir):
    """Embedding-cosine near-dup pairs (rows-only: SRP bucket kernel).

    Oracle twin: srp_pairs_verify."""
    from extractors_metadata_spark.operators.similarity import cosine_near_pairs

    emb = _t(spark, sf_dir, "embeddings")
    # threshold low enough that random 64-dim data yields a non-empty,
    # deterministic pair set (rows-only check should not be vacuous)
    return cosine_near_pairs(emb, dim=64, threshold=0.25, n_bits=6).select(
        "id_a", "id_b", "sim"
    )


def q_kring_verify(spark, sf_dir):
    """k-ring expansion under a FULL oracle: the NumPy res-9 encode feeds the
    JVM h3_kring_col fan-out (unpack -> 19 axial offsets -> repack, k=2);
    DuckDB replays encode via _cells_sql and the ring via the same bit
    arithmetic — pins the kNN candidate-expansion primitive AND the cell-id
    bit layout."""
    from extractors_metadata_spark.functions.hexgrid import h3_kring_col
    from extractors_metadata_spark.functions.spark_udfs import h3_udf

    pts = _event_points(spark, sf_dir).filter(F.col("event_id") < 3000)
    cells = pts.withColumn("cell", h3_udf(9)("centroid_lat", "centroid_lon"))
    return cells.select(
        "event_id", F.explode(h3_kring_col(F.col("cell"), 2)).alias("ring_cell")
    )


def q_ann_ivf_exhaustive(spark, sf_dir):
    """IVF-flat at nprobe == nlist (every list probed): the approximate
    machinery (k-means training, list assignment UDF, probe-list explode,
    bucket join, re-rank) must return EXACTLY the brute-force answer — an
    oracle on the full IVF plumbing in its exact limit."""
    from extractors_metadata_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    out = ivf_topk(spark, queries_df, emb, k=5, nlist=8, nprobe=8)
    return out.select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"))


def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition quality signals (dup-word fraction, top-bigram
    fraction) — exact SQL replay of both aggregates."""
    from extractors_metadata_spark.operators.corpus import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


def q_curation_filter(spark, sf_dir):
    """The composed keep/drop curation decision with first-match reject
    reasons (too_short -> repetitive_words -> repetitive_bigrams ->
    low_quality -> keep) — the funnel a curation run filters on while
    logging reasons for audit."""
    from extractors_metadata_spark.operators.corpus import curation_filter

    return curation_filter(_t(spark, sf_dir, "documents"))


def q_pii_counts(spark, sf_dir):
    """PII-surface triage counts. The synth corpus carries no PII, so every
    third document gets a deterministic probe suffix (one email, one url,
    one phone) BOTH sides construct identically — non-vacuous counts, frozen
    regex classes chosen for Java-regex == RE2 byte parity."""
    from extractors_metadata_spark.functions.textstats import pii_counts

    d = _t(spark, sf_dir, "documents")
    ids = F.col("doc_id").cast("string")
    probe = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" contact a"), ids, F.lit("@ex.com via https://ex.co/"),
                ids, F.lit(" tel 555-000-"),
                F.format_string("%04d", (F.col("doc_id") % 10000).cast("int")),
            ),
        ).otherwise(F.lit("")),
    )
    cols = pii_counts(probe)
    return d.select(
        "doc_id",
        cols["n_emails"].alias("n_emails"),
        cols["n_urls"].alias("n_urls"),
        cols["n_phones"].alias("n_phones"),
    )


def q_hash_split(spark, sf_dir):
    """Deterministic train/val/test assignment (hash-mod permille buckets on
    the verifiable hash — reproducible across runs AND engines)."""
    from extractors_metadata_spark.operators.sampling import hash_split

    d = _t(spark, sf_dir, "documents")
    return hash_split(d, "doc_id").select("doc_id", "split")


def q_stratified_sample(spark, sf_dir):
    """Content-stable per-language sampling: en 50%, de 25%, others 10% —
    membership is a pure function of doc_id, replayed exactly in SQL."""
    from extractors_metadata_spark.operators.sampling import stratified_sample

    d = _t(spark, sf_dir, "documents")
    out = stratified_sample(
        d, "lang", {"en": 0.5, "de": 0.25}, key_col="doc_id", default_fraction=0.1
    )
    return out.select("doc_id", "lang")


def q_pack_sequences(spark, sf_dir):
    """Sequence-packing prepass: per-language token-budget bins (budget 256)
    over doc_id order — running-sum window replayed verbatim in SQL."""
    from extractors_metadata_spark.operators.sampling import pack_sequences

    d = _t(spark, sf_dir, "documents")
    out = pack_sequences(d, budget=256, shard_col="lang", order_col="doc_id")
    return out.select("doc_id", "lang", "n_tokens", "cum_tokens", "bin_id")


def q_stem_vocab(spark, sf_dir):
    """Stemmed vocabulary (operators/corpus.stem_vocab): Harman's
    S-stemmer (1991) as a frozen suffix-class CASE partition (-ies->-y,
    -es->-e, -s->'' with the published exception lists; first match by
    suffix class) folded through ONE stem-keyed aggregate -> (stem, tf,
    df_docs, n_forms) — the conflation dictionary an IR index builds.
    Pure codegen, no regex, no UDF. FULL oracle: identical endswith/
    substring algebra in SQL."""
    from extractors_metadata_spark.operators.corpus import stem_vocab

    return stem_vocab(_t(spark, sf_dir, "documents"))


def q_vocab_topk(spark, sf_dir):
    """Corpus vocabulary: top-100 words by term frequency (+ doc frequency) —
    the tokenizer-training / stopword-mining primitive."""
    from extractors_metadata_spark.operators.corpus import vocab_topk

    return vocab_topk(_t(spark, sf_dir, "documents"), k=100)


def q_theil_decomp(spark, sf_dir):
    """Theil inequality decomposition (operators/corpus.theil_decomp,
    Theil 1967) of document sizes across languages: per group the exact
    int64 sum of per-doc 1e12 ln fixed-point terms (T_g) plus the
    between-group term — T = T_between + T_within assembled consumer-
    side from the emitted integers (the additive decomposability that
    makes Theil THE grouped inequality index; gini/lorenz hold the
    non-decomposable view). The _kl_term_fp_udf kernel verbatim. FULL
    oracle: identical factor-wise ratios + round_even 1e12."""
    from extractors_metadata_spark.operators.corpus import theil_decomp

    return theil_decomp(_t(spark, sf_dir, "documents"))


def q_heaps_fit(spark, sf_dir):
    """Heaps'-law regression moments over the vocab_growth curve — the
    second corpus power law beside zipf_fit: exact int64 OLS moments of
    (ln cum docs, ln cum vocabulary), 1e6 half-even fixed points per
    the zipf recipe; slope = the Heaps exponent, consumer-side. FULL
    oracle: the vocab_growth chain + same ln fixed points in SQL."""
    from extractors_metadata_spark.operators.corpus import heaps_fit

    return heaps_fit(_t(spark, sf_dir, "documents"))


def q_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier survival curve (operators/survival.py) over
    (user, event_type) subject lifetimes: duration = last - first active
    day, right-censored iff
    still active in the log's final day. Life table (t, n_risk, d, c)
    is exact counting; the curve ships in LOG space as the exact int
    sum of per-step 1e9 ln fixed points, with the d=n absorbing step an
    integer flag (never an infinity). One subject agg; all windows run
    on the bounded distinct-duration dim. FULL oracle: same life-table
    CTEs + literal ln arithmetic."""
    from extractors_metadata_spark.operators.survival import (
        kaplan_meier,
        user_lifetimes,
    )

    e = _t(spark, sf_dir, "events").select(
        F.concat_ws(":", F.col("user_id"), F.col("event_type")).alias("subj"),
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("day"),
    )
    return kaplan_meier(user_lifetimes(e, "subj", "day"))


def q_holt_forecast(spark, sf_dir):
    """Integer Holt double-exponential smoothing (operators/trend.
    holt_forecast) per user over the zero-filled daily series: with
    alpha = beta = 1/2 the level/trend update is a pure floor-halving
    recurrence on 2^16 fixed-point state (floor built explicitly on both
    engines — the linedda recipe; b goes negative on down-trends), final
    state + 7-day forecast l + 7b. Recurrence runs vectorized across
    keys in ONE Arrow pass, sequential only in the bounded 30-step time
    axis. FULL oracle: recursive day-join replay of the identical
    integer recurrence."""
    from extractors_metadata_spark.operators.trend import holt_forecast

    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("day"),
    )
    counts = e.groupBy("user_id", "day").agg(F.count(F.lit(1)).alias("n"))
    return holt_forecast(counts, ["user_id"], bin_col="day", n_col="n")


def q_isotonic_fit(spark, sf_dir):
    """Per-user isotonic regression (operators/trend.isotonic_fit) of the
    zero-filled daily event-count series — monotone calibration via the
    exact minimax PAVA characterization fitted[i] = max_{a<=i} min_{b>=i}
    mean(y[a..b]) (Barlow 1972), the closed form that distributes AND
    replays (PAVA's pooling scan is inherently serial). Every mean is the
    exact integer sum * (lcm(1..30) div len) — no float ever emitted
    (the pack_sequences rule). O(T^2) per key with T=30 a bounded
    literal; one key-partitioned Exchange end to end. FULL oracle:
    verbatim window/pair replay."""
    from extractors_metadata_spark.operators.trend import isotonic_fit

    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("day"),
    )
    counts = e.groupBy("user_id", "day").agg(F.count(F.lit(1)).alias("n"))
    return isotonic_fit(counts, ["user_id"], bin_col="day", n_col="n")


def q_hodges_lehmann(spark, sf_dir):
    """Hodges-Lehmann location (operators/robust.hodges_lehmann) per
    user over the zero-filled daily series: the median of Walsh
    (pairwise) means — 29% breakdown at ~95% Gaussian efficiency, the
    estimate the Wilcoxon signed-rank inverts. Every Walsh average is
    its exact integer SUM (den = 2); the median is the lower-median
    order statistic by (sum, i, j) — no interpolation, frozen ties.
    O(T^2) per key, one key Exchange. FULL oracle: verbatim pair/rank
    replay."""
    from extractors_metadata_spark.operators.robust import hodges_lehmann

    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("day"),
    )
    counts = e.groupBy("user_id", "day").agg(F.count(F.lit(1)).alias("n"))
    return hodges_lehmann(counts, ["user_id"], bin_col="day", n_col="n")


def q_runs_test(spark, sf_dir):
    """Wald-Wolfowitz runs test ingredients (operators/trend.runs_test)
    per user over the zero-filled daily series: dichotomize against the
    exact lower-median order statistic ((value, day) rank (T+1) div 2 —
    no interpolation), drop median ties (classical), count same-side
    runs in time order — too few runs = trending, too many =
    oscillating; the z against the runs distribution stays consumer-
    side. All windows share one key Exchange. FULL oracle: identical
    rank/lag replay."""
    from extractors_metadata_spark.operators.trend import runs_test

    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("day"),
    )
    counts = e.groupBy("user_id", "day").agg(F.count(F.lit(1)).alias("n"))
    return runs_test(counts, ["user_id"], bin_col="day", n_col="n")


def q_changepoint_split(spark, sf_dir):
    """Per-user single change-point (operators/trend.changepoint_split):
    the binary-segmentation / CART split minimizing two-segment SSE on
    the zero-filled daily series, decided on the EXACT integer
    g = S_L^2 (lcm div n_L) + S_R^2 (lcm div n_R) (total Sum y^2 is
    split-invariant, so argmin SSE = argmax g; the isotonic_fit
    fixed-point discipline, ties to the earliest split). One
    key-partitioned window pass + one max_by argmax. FULL oracle:
    verbatim prefix-sum algebra + the row_number composite-argmax
    recipe."""
    from extractors_metadata_spark.operators.trend import changepoint_split

    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("day"),
    )
    counts = e.groupBy("user_id", "day").agg(F.count(F.lit(1)).alias("n"))
    return changepoint_split(counts, ["user_id"], bin_col="day", n_col="n")


def q_good_turing(spark, sf_dir):
    """Good-Turing frequency-of-frequencies over word bigrams (r <= 30;
    the closed 31-word unigram vocabulary has no low-r tail — the
    vocab_growth lesson): N_r counts-of-counts plus the exact
    smoothed-count numerator (r+1)*N_{r+1} — the classical unseen-mass /
    LM-smoothing estimator (Gale & Sampson 1995), emitted as unreduced
    integers so no float exists anywhere. FULL oracle: the same two
    aggregations in SQL."""
    from extractors_metadata_spark.operators.corpus import good_turing

    return good_turing(_t(spark, sf_dir, "documents"), max_r=30)


def q_bootstrap_stats(spark, sf_dir):
    """Poisson bootstrap over the corpus (32 replicates): per replicate
    each doc enters w ~ Poisson(1) times via the replayable hash family
    against integer CDF cutoffs (single-sourced from the operator) —
    the at-scale confidence-interval recipe, no resample materialized,
    every replicate statistic exact int64. FULL oracle: same cutoffs,
    same hash, same aggs."""
    from extractors_metadata_spark.operators.sampling import (
        bootstrap_stats,
    )

    return bootstrap_stats(_t(spark, sf_dir, "documents"), b=32)


def q_ams_f2(spark, sf_dir):
    """AMS tug-of-war F2 sketch over word bigrams (Alon-Matias-Szegedy
    1996) beside the exact second moment: 16 sketch rows of replayable
    +-1 signs (mix31(poly) parity), signed sums and their squares pure
    int64, mergeable map-side at 100 TB by construction. FULL oracle:
    the same hash family replayed in SQL (the hll_estimate
    exact-beside-estimate discipline)."""
    from extractors_metadata_spark.operators.sketches import ams_f2

    return ams_f2(_t(spark, sf_dir, "documents"), rows=16)


def q_gopher_rules(spark, sf_dir):
    """The published Gopher document-quality ruleset (Rae et al. 2021,
    Table A1) with every ratio decided by integer cross-multiplication —
    measurements + frozen first-fail reason per document, the doc-level
    complement of the line-level c4_filters. Pure codegen (zero UDFs,
    zero shuffles). FULL oracle: identical integer rules in SQL."""
    from extractors_metadata_spark.operators.corpus import gopher_rules

    return gopher_rules(_t(spark, sf_dir, "documents"))


def q_kneser_ney(spark, sf_dir):
    """Interpolated Kneser-Ney bigram smoothing statistics (top-200
    bigrams by count): continuation counts N1+(.w)/N1+(w.) plus the
    exact rational P_KN numerator/denominator at discount 3/4 — the
    state-of-the-art count-based LM smoother, emitted as pure int64
    products so no float exists anywhere (Chen & Goodman 1999). FULL
    oracle: the same marginal aggregations in SQL."""
    from extractors_metadata_spark.operators.lm_quality import (
        kneser_ney_counts,
    )

    return kneser_ney_counts(_t(spark, sf_dir, "documents"), k=200)


def q_tfidf_topk(spark, sf_dir):
    """Per-document top-5 tf-idf terms (keyword extraction / quality signal);
    score = tf * ln(N/df) with the ranking on the unrounded score and the
    projection rounded to 6 (identical literal arithmetic in the oracle)."""
    from extractors_metadata_spark.operators.corpus import tf_idf_topk

    out = tf_idf_topk(_t(spark, sf_dir, "documents"), k=5)
    return out.select(
        "doc_id", "word", "tf",
        F.round("score", 6).alias("score"),
        F.col("rank").cast("int").alias("rank"),
    )


def q_vocab_growth(spark, sf_dir):
    """Heaps-law vocabulary growth (operators/corpus.vocab_growth): new
    3-word shingles + cumulative shingle vocabulary per doc-id decile,
    where a unit arrives at its FIRST document — one shingle-keyed
    aggregate, never a cumulative-distinct window. (Shingles, not words:
    this corpus's closed 31-word vocabulary saturates by doc 8.) All
    exact integers. FULL oracle."""
    from extractors_metadata_spark.operators.corpus import vocab_growth

    return vocab_growth(_t(spark, sf_dir, "documents"), n_buckets=10)


def q_length_quantiles(spark, sf_dir):
    """Exact per-language doc-length quantiles (corpus-health profile);
    Spark native percentile (type-7 interpolation) == DuckDB quantile_cont."""
    from extractors_metadata_spark.operators.corpus import length_quantiles

    return length_quantiles(_t(spark, sf_dir, "documents"))


def q_polyfill_verify(spark, sf_dir):
    """The covering-cell arrays the WHOLE spatial engine broadcasts, under a
    FULL oracle: plot_rings()' res-9 polyfill output (the very arrays
    pip/knn/resolve join against) exploded to (plot_id, cell); DuckDB
    independently replays hexgrid.polyfill — Lambert projection, inflated
    bbox, axial corner ranges, center-in-bbox filter, bit packing — from the
    closed-form grid. Soundness (covering never loses a containing cell) is
    property-tested; this pins the exact enumerations."""
    df = spark.createDataFrame(_plots_pdf()[["plot_id", "cells_r9"]])
    return df.select("plot_id", F.explode("cells_r9").alias("cell"))


def q_srp_pairs_verify(spark, sf_dir):
    """SRP-bucketed embedding near-pairs under a FULL oracle: the seed-42
    hyperplanes are inlined as SQL literals (single source:
    similarity._hyperplanes), so DuckDB replays the bucket codes AND the
    exact-cosine verify — oracle twin of embed_near_pairs. sim uses the
    round(round(.,6),3) double-round (cross-engine fold-order drift)."""
    from extractors_metadata_spark.operators.similarity import cosine_near_pairs

    emb = _t(spark, sf_dir, "embeddings")
    # cap off: the SQL twin has no bucket cap (see minhash_verify)
    out = cosine_near_pairs(
        emb, dim=64, threshold=0.25, n_bits=6, max_bucket=1_000_000_000
    )
    return out.select("id_a", "id_b", F.round("sim", 3).alias("sim"))


def q_extract_text_probe(spark, sf_dir):
    """The FROZEN extract_text function under a true independent-replay
    oracle: probe html (built from event_id) exercises every behavior —
    script/style stripping, tag removal, all six entities, whitespace
    collapse — and DuckDB replays the same regex pipeline with RE2. This is
    the per-row byte-identity invariant (BASELINE input_hint) as a
    hash-checked query rather than a pytest-only golden."""
    from extractors_metadata_spark.functions.spark_udfs import extract_text_udf

    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    ids = F.col("event_id").cast("string")
    html = F.concat(
        F.lit("<html><head><title>T"), ids,
        F.lit("</title><style>p { color: red; }</style></head><body><h1>Doc &amp; "),
        ids,
        F.lit('</h1><script>var x = "1 < 2";</script><p>A &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end '),
        ids, F.lit(".</p></body></html>"),
    )
    pages = e.select("event_id", F.encode(html, "UTF-8").alias("html"))
    return pages.select("event_id", extract_text_udf()("html").alias("text"))


def q_prefix_remap(spark, sf_dir):
    # P11: longest-prefix mount-path rewrite (terra_mdcleaner.py:118-125)
    from extractors_metadata_spark.functions.textstats import remap_prefix

    e = _t(spark, sf_dir, "events")
    path = F.when(
        F.col("event_id") % 3 == 0,
        F.concat(F.lit("/gantry_data/raw/"), F.col("event_type"), F.lit("/"), F.col("event_id").cast("string")),
    ).when(
        F.col("event_id") % 3 == 1,
        F.concat(F.lit("/gantry_data/derived/"), F.col("event_id").cast("string")),
    ).otherwise(F.concat(F.lit("/other/"), F.col("event_id").cast("string")))
    remapped = remap_prefix(
        path, {"/gantry_data/raw/": "/home/extractor/raw/", "/gantry_data/": "/data/"}
    )
    return e.select("event_id", remapped.alias("path"))


def q_lv1_remap(spark, sf_dir):
    # J5: lv1_types name remap -> metadata fetch from the raw dataset
    # (terra_mdcleaner.py:52-62); 'purchase' maps to scanner3DTop, which is
    # outside LV1_TYPES, exercising the identity branch.
    from extractors_metadata_spark.plans.cleaner import lv1_remap_join

    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    sensor = (
        F.when(F.col("event_type") == "view", "RGB GeoTIFFs")
        .when(F.col("event_type") == "click", "Thermal IR GeoTIFFs")
        .otherwise("scanner3DTop")
    )
    raw_sensor = (
        F.when(F.col("event_type") == "view", "stereoTop")
        .when(F.col("event_type") == "click", "flirIrCamera")
        .otherwise("scanner3DTop")
    )
    derived = e.select(
        "event_id",
        F.concat(sensor, F.lit(" - "), F.col("event_id").cast("string")).alias("name"),
    )
    raw = e.filter(F.col("value").isNotNull()).select(
        F.concat(raw_sensor, F.lit(" - "), F.col("event_id").cast("string")).alias(
            "raw_name"
        ),
        F.col("value").alias("raw_value"),
    )
    return lv1_remap_join(derived, raw).select(
        "event_id", "sensor_type", "raw_sensor", "raw_value"
    )


def q_callback_fanout(spark, sf_dir):
    # sensor -> callbacks dim fan-out (terra_repairer.py:136-152)
    from extractors_metadata_spark.plans.cleaner import (
        REPAIRER_CALLBACKS,
        callback_fanout,
    )

    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    raw_sensor = (
        F.when(F.col("event_type") == "view", "stereoTop")
        .when(F.col("event_type") == "click", "flirIrCamera")
        .otherwise("scanner3DTop")
    )
    df = e.select("event_id", raw_sensor.alias("sensor"))
    return callback_fanout(df, "sensor", callbacks=REPAIRER_CALLBACKS).select(
        "event_id", "sensor", "callback"
    )


def q_targets_complete(spark, sf_dir):
    # repairer all-targets completeness check (terra_repairer.py:41-49)
    from extractors_metadata_spark.plans.cleaner import targets_complete

    e = _t(spark, sf_dir, "events")
    sensor = (
        F.when(F.col("user_id") % 3 == 0, "stereoTop")
        .when(F.col("user_id") % 3 == 1, "flirIrCamera")
        .otherwise("scanner3DTop")
    )
    suffix = F.when(F.col("event_id") % 2 == 0, "_left.bin").otherwise("_right.bin")
    files = e.select(
        F.col("user_id").alias("dataset"),
        sensor.alias("sensor"),
        F.concat(F.lit("f"), F.col("event_id").cast("string"), suffix).alias("filename"),
    )
    return targets_complete(spark, files)


def q_files_probe(spark, sf_dir):
    # repairer files_created validity probe (terra_repairer.py:59-66): each
    # dataset records two output URLs; the second (event_id+1) may reference a
    # file missing from the live inventory -> dataset joins the repair set.
    from extractors_metadata_spark.plans.cleaner import files_created_repair_set

    e = _t(spark, sf_dir, "events")
    md = e.select(
        F.col("event_id").alias("dataset"),
        F.array(
            F.concat(F.lit("https://host.example/files/f"), F.col("event_id").cast("string")),
            F.concat(F.lit("https://host.example/files/f"), (F.col("event_id") + 1).cast("string")),
        ).alias("files_created"),
    )
    inv = e.filter(F.col("event_id") % 7 != 0).select(
        F.concat(F.lit("f"), F.col("event_id").cast("string")).alias("file_id")
    )
    return files_created_repair_set(md, inv)


def q_multi_render(spark, sf_dir):
    """F17: one parse -> JSON/XML/CDL renderings (rows-only: html-derived).

    Oracle twin: multi_render_verify."""
    from extractors_metadata_spark.plans.parse import parse_metadata
    from extractors_metadata_spark.plans.render import multi_render
    from extractors_metadata_spark.synth import synth_webpages

    n = max(1000, int(100_000 * _sf_of(sf_dir)))
    return multi_render(parse_metadata(synth_webpages(spark, n)))


def q_extract_text_verify(spark, sf_dir):
    """The byte-identical invariant (BASELINE input_hint: text ==
    extract_text(html) per url) as an ORACLE-BACKED query: re-extract text
    from the synth html and count matches. The oracle pins n_identical ==
    n_docs — if extract_text (or the synth contract) drifted by one byte on
    one document, the equality breaks. n replays the query's
    max(1000, 100_000*sf) sizing from the events row count (events = 10^6*sf
    per TESTDATA.md). extract_text's per-byte behavior is separately
    hash-checked by extract_text_probe and the frozen pytest goldens."""
    from extractors_metadata_spark.functions.spark_udfs import extract_text_udf
    from extractors_metadata_spark.synth import synth_webpages

    n = max(1000, int(100_000 * _sf_of(sf_dir)))
    pages = synth_webpages(spark, n)
    return (
        pages.withColumn("re_extracted", extract_text_udf()("html"))
        .select(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("re_extracted") == F.col("text")).cast("int")).alias("n_identical"),
        )
    )


def q_session_stats(spark, sf_dir):
    """Gap-based sessionization + per-session rollup (operators/sessions.py)
    over the events table: 30-min inactivity gap, exact int64-microsecond
    arithmetic, (ts, event_id) tie-break, decimal value sums. One shuffle
    keyed by user_id (plan-shape pinned in test_sessions.py). FULL oracle:
    DuckDB replays the identical lag/running-sum/aggregate pipeline."""
    from extractors_metadata_spark.operators.sessions import session_stats

    return session_stats(_t(spark, sf_dir, "events"), gap_s=1800)


def q_url_dedup(spark, sf_dir):
    """URL-level exact dedup (operators/dedup.url_dedup over the
    functions/urltools.py frozen canonical rule set). The messy URL is
    synthesized deterministically from doc_id/source so every rule fires
    (case, www, default port, tracking params, param sort, trailing slash,
    fragment); the oracle derives the expected canonical form in CLOSED FORM
    from the same arithmetic — an independent derivation, so the regex
    parsing path is genuinely cross-checked, not replayed. Canonicalization
    is pure codegen; the survivor flag is ONE shuffle keyed by the canonical
    string (hash-uniform at crawl scale)."""
    from extractors_metadata_spark.operators.dedup import url_dedup

    d = _t(spark, sf_dir, "documents")
    m = F.col("doc_id")
    m2, m3, m4, m5, m10 = m % 2, m % 3, m % 4, m % 5, m % 10
    url = F.concat(
        F.when(m3 == 0, F.lit("HTTP"))
        .when(m3 == 1, F.lit("https"))
        .otherwise(F.lit("HTTPS")),
        F.lit("://"),
        F.when(m2 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.when(m4 < 2, F.upper("source")).otherwise(F.col("source")),
        F.when(m4 == 0, F.lit(".Example.CO.uk")).otherwise(F.lit(".Example.COM")),
        F.when(
            m5 == 0, F.when(m3 == 0, F.lit(":80")).otherwise(F.lit(":443"))
        ).otherwise(F.lit("")),
        F.lit("/p/"),
        m10.cast("string"),
        F.when(m2 == 1, F.lit("/")).otherwise(F.lit("")),
        F.when(m3 == 0, F.lit("")).otherwise(
            F.concat(F.lit("?utm_source=track&z="), m3.cast("string"), F.lit("&a=1"))
        ),
        F.when(m2 == 1, F.lit("#frag")).otherwise(F.lit("")),
    )
    messy = d.select("doc_id", url.alias("url"))
    return url_dedup(messy).select(
        "doc_id", "url", "url_canonical", "domain", F.col("keep").cast("int").alias("keep")
    )


def q_asof_join(spark, sf_dir):
    """Backward as-of join (operators/asof.py): each purchase matched with
    the user's most recent view at-or-before it, 1-day staleness bound.
    The union/last-carry-forward plan is ONE key-hash shuffle (no range
    explosion); the oracle is DuckDB's NATIVE ASOF LEFT JOIN — a genuinely
    independent implementation of the same semantics."""
    from extractors_metadata_spark.operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    left = e.filter(F.col("event_type") == "purchase")
    right = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id"
    )
    out = asof_join(left, right, on="user_id", left_id="event_id", tolerance_s=86400)
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.col("event_id_r").alias("view_event_id"),
        "asof_gap_us",
    )


def q_domain_cap(spark, sf_dir):
    """Per-domain document quota (operators/skew.domain_cap): keep k=5 docs
    per source by verifiable-hash priority via the skew-safe two-phase
    salted top-k (top_k_per_key). The oracle replays the poly hash and a
    single-window ranking — also cross-checking that the salted two-phase
    plan equals the plain window exactly."""
    from extractors_metadata_spark.operators.skew import domain_cap

    d = _t(spark, sf_dir, "documents")
    return domain_cap(d, key_col="source", id_col="doc_id", k=5).select(
        "doc_id", "source", "priority", "rank"
    )


def q_interval_join(spark, sf_dir):
    """Temporal interval join (operators/rangejoin.py): clicks inside the
    2-day window after each signup, per user. The bucket-decomposed plan
    (probe side never exploded, interval side fans out <= 3 buckets at
    bucket_s=86400) is checked against the semantically-primitive SQL theta
    join — so the covering-bucket rewrite itself is what the oracle tests."""
    from extractors_metadata_spark.operators.rangejoin import interval_join

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    iv = e.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        "user_id",
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 2 DAYS")).alias("hi"),
    )
    out = interval_join(clicks, iv, on="user_id", bucket_s=86400)
    return out.select(
        "event_id",
        "user_id",
        "signup_id",
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("lo").cast("timestamp"))
        ).alias("offset_us"),
    )


def _sketch_key():
    return F.concat_ws(":", F.col("user_id"), F.col("event_type"))


def q_hll_registers(spark, sf_dir):
    """HyperLogLog register table (operators/sketches.hll_sketch) for the
    distinct count of user:event_type — all 256 (bucket, rho) rows, exact
    integers. FULL oracle: DuckDB replays poly hash -> mix31 avalanche ->
    bucket/leading-zero rank -> per-bucket max, bit-identical (max is
    order-independent, so the register CONTENT is exactly checkable)."""
    from extractors_metadata_spark.operators.sketches import hll_sketch

    return hll_sketch(_t(spark, sf_dir, "events"), _sketch_key(), p=8)


def q_hll_estimate(spark, sf_dir):
    """HLL distinct-count estimate (operators/sketches.hll_estimate): the
    harmonic sum runs as an exact 2^(60-rho) integer sum (DECIMAL(38,0),
    emitted as a string), and only the final alpha*m^2*2^60/num division is
    a double — same literal arithmetic both engines, double-rounded. The
    linear-counting branch (JVM log vs DuckDB ln, not bit-pinned) does not
    fire at the driver's sf0.01 (raw estimate ~750 > 2.5m = 640)."""
    from extractors_metadata_spark.operators.sketches import hll_estimate, hll_sketch

    regs = hll_sketch(_t(spark, sf_dir, "events"), _sketch_key(), p=8)
    return hll_estimate(regs, p=8).select(
        "m",
        "n_zero",
        F.col("harm_num").cast("string").alias("harm_num"),
        "estimate",
    )


def q_hll_intersect(spark, sf_dir):
    """HLL set-intersection estimate by inclusion-exclusion (the one set
    operation register-max merging cannot express directly): sketch the
    click-side and view-side (user, hour) presence sets at p=5, merge
    registers bucket-wise (union), and estimate |A inter B| as
    est(A) + est(B) - est(A u B) on the emitted double-rounded
    estimates — identical-path arithmetic on identical inputs. p=5 keeps
    all three raw estimates above the 2.5m linear-counting threshold
    (the branch whose ln is not bit-pinned — the hll_estimate rule), so
    only HUGEINT harmonic sums + one literal double chain are compared.
    FULL oracle."""
    from extractors_metadata_spark.operators.sketches import (
        hll_estimate,
        hll_sketch,
    )

    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.expr("unix_micros(cast(ts as timestamp)) div 3600000000")
        .alias("hour"),
    )
    key = F.concat_ws(":", F.col("user_id"), F.col("hour"))
    a = hll_sketch(e.filter(F.col("event_type") == "click"), key, p=5)
    b = hll_sketch(e.filter(F.col("event_type") == "view"), key, p=5)
    u = a.unionByName(b).groupBy("bucket").agg(F.max("rho").alias("rho"))
    ea = hll_estimate(a, p=5).select(F.col("estimate").alias("est_a"))
    eb = hll_estimate(b, p=5).select(F.col("estimate").alias("est_b"))
    eu = hll_estimate(u, p=5).select("m", F.col("estimate").alias("est_u"))
    return eu.crossJoin(ea).crossJoin(eb).select(
        "m", "est_a", "est_b", "est_u",
        (F.col("est_a") + F.col("est_b") - F.col("est_u"))
        .alias("est_inter"),
    )


def q_cms_verify(spark, sf_dir):
    """Count-min sketch round-trip (operators/sketches.cms_sketch +
    cms_lookup): build the d=4 x w=1024 counter grid over user:event_type,
    then estimate every distinct key and report est vs exact count and the
    overcount (the CMS guarantee est >= exact is visible in the data:
    over >= 0 on every row). FULL oracle: grid cells, min-over-rows and
    exact counts are all integers DuckDB replays literally."""
    from extractors_metadata_spark.operators.sketches import cms_lookup, cms_sketch

    e = _t(spark, sf_dir, "events")
    grid = cms_sketch(e, _sketch_key(), d=4, w=1024)
    keys = e.select(_sketch_key().alias("k")).groupBy("k").agg(
        F.count(F.lit(1)).alias("exact")
    )
    est = cms_lookup(grid, keys, F.col("k"), d=4, w=1024)
    return est.select(
        "k", "est", "exact", (F.col("est") - F.col("exact")).alias("overcount")
    )


def q_bloom_prune(spark, sf_dir):
    """Bloom-filter runtime pruning (operators/sketches.bloom_build +
    bloom_prune): the build side is the ~N/6 users with error events and
    user_id % 3 == 0; the probe is 2N sequential ids, so half can never
    match. Output = probe keys PASSING the 2048-bit/5-hash filter, each
    flagged hit=1 (true member) or 0 (false positive) — no false negative
    can exist by construction and the oracle proves it on real data. FULL
    oracle: bit positions and the all-k-hits count replay exactly."""
    from extractors_metadata_spark.operators.sketches import bloom_build, bloom_prune

    e = _t(spark, sf_dir, "events")
    build = (
        e.filter((F.col("event_type") == "error") & (F.col("user_id") % 3 == 0))
        .select(F.col("user_id").alias("k"))
        .distinct()
    )
    n = e.agg(F.max("user_id")).first()[0] + 1
    probe = spark.range(2 * n).select(F.col("id").alias("k"))
    pos = bloom_build(build, F.col("k").cast("string"), n_bits=2048, k=5)
    kept = bloom_prune(probe, pos, F.col("k").cast("string"), n_bits=2048, k=5)
    return kept.join(
        build.select("k", F.lit(1).alias("hit")), "k", "left"
    ).select("k", F.coalesce("hit", F.lit(0)).cast("int").alias("hit"))


def q_pagerank(spark, sf_dir):
    """Integer fixed-point PageRank (operators/linkgraph.pagerank), 5
    damped iterations over the deterministic event link graph
    (user -> (user*131 + event*7) mod N, plus the outdeg-guaranteeing
    ring). Ranks are int64 micro-units with floor division everywhere, so
    the result is bit-identical under any partitioning — the property that
    makes a FULL oracle possible at all (float PageRank is aggregation-
    order dependent). DuckDB replays the 5 iterations as unrolled CTE
    stages per the repo's DuckDB iteration rule."""
    from extractors_metadata_spark.operators.linkgraph import (
        event_link_graph,
        pagerank,
    )

    edges, nodes = event_link_graph(_t(spark, sf_dir, "events"))
    return pagerank(edges, nodes, iterations=5)


def q_hits(spark, sf_dir):
    """Kleinberg HITS hubs/authorities (operators/linkgraph.hits), 4
    exact-integer mutual-reinforcement rounds over the same deterministic
    event link graph as pagerank. Each half-step is an int64 in-/out-edge
    sum renormalized by a POWER-OF-TWO shift from the max score's bit
    length (the principal_axis recipe) — never a float L2 norm — so scores
    are bit-identical under any partitioning. FULL oracle: 4 unrolled
    half-step CTE pairs replaying the sum, the length(bin(max)) shift pick
    and the same exact division."""
    from extractors_metadata_spark.operators.linkgraph import (
        event_link_graph,
        hits,
    )

    edges, nodes = event_link_graph(_t(spark, sf_dir, "events"))
    return hits(edges, nodes, rounds=4)


def q_random_walks(spark, sf_dir):
    """Deterministic random-walk corpus (operators/walks.random_walks):
    one 4-step walk per node of the pagerank event link graph — the
    DeepWalk/node2vec training-corpus sampler, with the successor drawn
    by argmin of mix31((cur*131 + step*7 + dst*13) mod 2^31) with dst
    tie-break instead of an RNG, so every walk is a pure function of the
    graph: bit-identical under any partitioning and literally replayable
    in SQL. Per step one src-keyed shuffle join + one map-side-combining
    min_by; `length` a bounded literal. FULL oracle: unrolled per-step
    row_number argmin stages over the same edges."""
    from extractors_metadata_spark.operators.linkgraph import event_link_graph
    from extractors_metadata_spark.operators.walks import random_walks

    edges, nodes = event_link_graph(_t(spark, sf_dir, "events"))
    return random_walks(edges, nodes, length=4)


def q_naive_bayes(spark, sf_dir):
    """Multinomial Naive Bayes language classifier
    (operators/naivebayes.naive_bayes_langid): trained in-engine on the
    even-doc_id split (label = lang), classifying the odd split — the
    learned counterpart of the heuristic lang_id. Every ln argument is a
    ratio of exact int64 counts emitted as 1e-9 fixed point per term (the
    bm25/lm_quality recipe), summed as int64, argmax with the frozen
    (score desc, lang asc) tie-break — bit-identical under any
    partitioning. Scoring fans each token out only |C| ways on a broadcast
    class dim. FULL oracle: same counts, same literal ln arithmetic,
    row_number argmax."""
    from extractors_metadata_spark.operators.naivebayes import naive_bayes_langid

    return naive_bayes_langid(_t(spark, sf_dir, "documents"))


def q_rake_keywords(spark, sf_dir):
    """RAKE keyword extraction (operators/rake.rake_keywords): top-3 key
    phrases per document — candidate phrases are maximal stopword/
    punctuation-free word runs, each word scored deg/freq as a 1e9 fixed
    point (round_even on one IEEE division of exact int64 counts — the
    np.rint == DuckDB round_even pairing), phrase score the int64 SUM of
    member word fixed points, frozen (score desc, phrase asc) tie-break.
    Fully document-local: one fused Arrow pass, ZERO shuffles. FULL
    oracle: the same tokenize/island/deg-freq/rank arithmetic in SQL."""
    from extractors_metadata_spark.operators.rake import rake_keywords

    return rake_keywords(_t(spark, sf_dir, "documents"))


def q_slope_aspect(spark, sf_dir):
    """Horn gradient + aspect octants (operators/terrain.slope_aspect)
    over the z12 per-tile event-count surface: gx/gy from the 3x3 Horn
    kernel in SCATTER form (x8 literal fan-out, pure codegen, ONE
    map-side-combining re-sum; x wraps mod 2^z, absent tiles are real
    zeros), slope2 = gx^2 + gy^2 exact int64, and the 8-sector aspect
    decided ENTIRELY in integers — the true 22.5-degree boundaries via
    (|gx|+|gy|)^2 vs 2*gx^2 (boundary equality frozen to the diagonal).
    FULL oracle: the same scatter weights and octant CASE in DuckDB."""
    from extractors_metadata_spark.operators.terrain import slope_aspect
    from extractors_metadata_spark.operators.tile_assign import tile_assign

    lat, lon = _latlon_dbl()
    e = _t(spark, sf_dir, "events").select("event_id", lat, lon)
    pts = e.select(
        "event_id",
        F.col("lat").alias("min_lat"), F.col("lat").alias("max_lat"),
        F.col("lon").alias("min_lon"), F.col("lon").alias("max_lon"),
    )
    tiles = tile_assign(pts, zooms=(12,), id_cols=("event_id",))
    counts = tiles.groupBy("x", "y").agg(F.count(F.lit(1)).alias("cnt"))
    return slope_aspect(counts, z=12)


def _z22_counts(spark, sf_dir):
    """Shared raster front end: the z22 per-tile event-count surface,
    persisted via the scoped-cache registry — the raster operators
    (d8_flow, watershed, viewshed, tile_blobs, semivariogram) each
    reference the counts frame 2-5 times in one plan, and the persist
    collapses the repeated tile-footprint Arrow pass to ONE execution
    (pinned by tests/test_plan_shapes_s5.py)."""
    from extractors_metadata_spark.operators.pip_knn import _cache_scoped
    from extractors_metadata_spark.operators.tile_assign import tile_assign

    lat, lon = _latlon_dbl()
    e = _t(spark, sf_dir, "events").select("event_id", lat, lon)
    pts = e.select(
        "event_id",
        F.col("lat").alias("min_lat"), F.col("lat").alias("max_lat"),
        F.col("lon").alias("min_lon"), F.col("lon").alias("max_lon"),
    )
    tiles = tile_assign(pts, zooms=(22,), id_cols=("event_id",))
    counts = tiles.groupBy("x", "y").agg(F.count(F.lit(1)).alias("cnt"))
    return _cache_scoped("z22_counts", counts)


def q_d8_flow(spark, sf_dir):
    """D8 flow direction + accumulation (operators/d8flow.d8_flow) over
    the z22 per-tile event-count surface: each occupied tile points at
    its steepest STRICTLY-lower occupied 8-neighbor (steep2 = drop^2 *
    2/dist^2 compared in exact int64; ties frozen to the smallest
    direction index; no lower neighbor = sink, dir -1), and acc counts
    the cells draining through each tile (self included) — strict
    descent makes the pointer forest acyclic by construction.  Candidate
    stage = the slope_aspect x8 scatter + ONE grid-keyed equi-join;
    pointer pick = max_by struct aggregate (no window sort);
    accumulation = inflow-sum rounds along the forest, localCheckpoint
    per round, early exit on the monotone total, loud failure past the
    bound.  FULL oracle: same candidates/tie-breaks via row_number, acc
    via a WITH RECURSIVE pointer-path closure — also proves the
    iterative inflow-sum equals the closure count exactly."""
    from extractors_metadata_spark.operators.d8flow import d8_flow

    counts = _z22_counts(spark, sf_dir)
    return d8_flow(counts, z=22)


_BLOCKLIST = ["slow query", "big table", "fast merge", "hash value", "table scan"]


def q_blocklist_hits(spark, sf_dir):
    """Literal-phrase blocklist screen (operators/blocklist.py — the
    C4-badwords/RefinedWeb content-filter stage): per-doc total hits,
    distinct-phrase count, and the keep verdict over a frozen 5-phrase
    blocklist.  Counts via the replace-length identity with INTEGER div
    (both engines' replace scans leftmost non-overlapping); ALL phrase
    counters are literal codegen expressions in ONE projection — zero
    shuffle, zero fan-out, the text never duplicates.  FULL oracle: the
    same identity with // in DuckDB."""
    from extractors_metadata_spark.operators.blocklist import blocklist_hits

    return blocklist_hits(_t(spark, sf_dir, "documents"), _BLOCKLIST)


def q_dsir_select(spark, sf_dir):
    """DSIR importance resampling (operators/dsir.dsir_select — Xie et
    al. 2023): top-100 documents whose hashed-unigram distribution is
    most target-like (target = the lang='en' slice, raw = the whole
    table).  Two add-1-smoothed bucket models over B=128 mix31(poly)
    buckets; each ln term a ratio of exact int64 counts emitted as 1e-9
    fixed point (the naive_bayes recipe), int64 sums, frozen (score
    desc, doc_id asc) top-k via TakeOrderedAndProject.  FULL oracle:
    same hash replay, same literal ln arithmetic, ORDER BY ... LIMIT."""
    from extractors_metadata_spark.operators.dsir import dsir_select

    return dsir_select(_t(spark, sf_dir, "documents"))


def q_watershed(spark, sf_dir):
    """Watershed basin labeling (operators/d8flow.watershed) over the
    z22 D8 pointer forest: every tile labeled by the TERMINAL SINK its
    steepest-descent path drains into + the basin's cell count — the
    drainage-structure partition of the activity surface.  This is the
    POINTER-DOUBLING form (ptr <- ptr(ptr), sinks self-fixpoints making
    the doubling join total): a path of length L settles in ceil(log2 L)
    self-equi-join rounds, not L — the continental-scale path d8_flow's
    inflow-sum documents; localCheckpoint lineage, early exit when no
    pointer moves, loud failure past the bound.  FULL oracle: the shared
    D8 pointer CTEs + a WITH RECURSIVE walk to the sink per cell — also
    proves log-round doubling lands on the exact per-cell terminal."""
    from extractors_metadata_spark.operators.d8flow import watershed

    counts = _z22_counts(spark, sf_dir)
    return watershed(counts, z=22)


def q_viewshed(spark, sf_dir):
    """Grid viewshed (operators/viewshed.py — the R2 line-of-sight
    raster classic) from the max-count hotspot cell (ties min x, min y)
    over the z22 event-count surface: a target is hidden iff some DDA
    ray sample rises above the sightline, tested by exact cross-
    multiplication (h_t - h_obs)*L >= (h_tgt - h_obs)*t; samples at
    sign(c)*((2t|c|+L) div 2L) per axis — half-away-from-zero rounding
    formed on NONNEGATIVE ints only (Spark div truncates, DuckDB //
    floors; negatives never enter).  Absent cells are real zeros; ray
    fan-out is sequence-explode per target (the R2 cost, radius-bounded
    via max_steps at scale); elevation lookups ONE grid-keyed left
    join; zero UDFs.  FULL oracle: same observer pick, same integer
    ray replay with unnest(range)."""
    from extractors_metadata_spark.operators.viewshed import viewshed

    counts = _z22_counts(spark, sf_dir)
    obs = (
        counts.orderBy(F.desc("cnt"), F.asc("x"), F.asc("y")).limit(1).collect()[0]
    )
    return viewshed(counts, z=22, obs_x=obs["x"], obs_y=obs["y"])


def q_tile_blobs(spark, sf_dir):
    """Raster region labeling (operators/blobs.tile_blobs): 8-connected
    blobs over the occupied z22 tiles — each cell labeled by its
    component's min-(x,y) member (ids pack as x*2^26+y so id order IS
    lex order), plus blob cell count, blob mass, and the boundary flag
    (fewer than 8 occupied neighbors).  Adjacency = the slope_aspect
    scatter + ONE grid equi-join; components = the proven pointer-
    jumping cluster_pairs (O(log diameter) rounds).  FULL oracle: same
    adjacency + recursive reachability with min-label (the
    spatial_cluster idiom) + the same neighbor-count boundary test."""
    from extractors_metadata_spark.operators.blobs import tile_blobs

    counts = _z22_counts(spark, sf_dir)
    return tile_blobs(counts, z=22)


def q_semivariogram(spark, sf_dir):
    """Empirical semivariogram (operators/variogram.semivariogram) of
    the z22 count surface: per Euclidean lag shell k (exact squared
    boundaries (k-1)^2 < d2 <= k^2, no sqrt crosses the boundary) the
    pair count and int64 sum of squared count differences — the
    kriging-range structure function, normalization consumer-side.
    Unordered pairs generated ONCE via the lexicographic half-plane
    offset table (a literal explode), ONE grid equi-join, ONE tiny
    lag-keyed aggregate; pure codegen.  FULL oracle: the same generated
    offset VALUES table and shell arithmetic."""
    from extractors_metadata_spark.operators.variogram import semivariogram

    counts = _z22_counts(spark, sf_dir)
    return semivariogram(counts, z=22, max_lag=8)


def q_morph_close(spark, sf_dir):
    """3x3 binary closing (operators/rasterops.morph_close) of the z22
    occupancy raster — dilation then erosion, the de-speckling step
    before blob extraction: (z, x, y, occupied, filled-cell cnt=0).
    Two x9 literal scatters + one distinct + one grid-keyed support
    count; shuffles linear in occupied cells.  FULL oracle: the same
    set algebra over the identical counts CTE."""
    from extractors_metadata_spark.operators.rasterops import morph_close

    counts = _z22_counts(spark, sf_dir)
    return morph_close(counts, z=22)


def q_erosion_depth(spark, sf_dir):
    """Bounded Chebyshev distance transform (rasterops.erosion_depth):
    per occupied z22 cell the distance to the nearest EMPTY cell (ring
    1..3, capped at 4) = the number of 3x3 erosions the cell survives —
    the core-vs-fringe classifier of the mask.  ONE ring-tagged 48-
    offset scatter + grid equi-join + conditional ring-count aggregate.
    FULL oracle: same offsets VALUES (single-sourced from
    rasterops.offset_disk) + first-incomplete-ring CASE."""
    from extractors_metadata_spark.operators.rasterops import erosion_depth

    counts = _z22_counts(spark, sf_dir)
    return erosion_depth(counts, z=22, max_r=3)


def q_raster_rle(spark, sf_dir):
    """Per-row run-length encoding (rasterops.rle_runs) of the z22
    occupancy: maximal x-consecutive runs per raster row with run mass
    — the scanline/compression view of the mask.  One row-keyed window
    (lag + running start-sum, the interval_union idiom) + one
    (row, run)-keyed aggregate; all exact int64.  FULL oracle: verbatim
    window replay."""
    from extractors_metadata_spark.operators.rasterops import rle_runs

    counts = _z22_counts(spark, sf_dir)
    return rle_runs(counts, z=22)


def q_voronoi_alloc(spark, sf_dir):
    """Discrete Voronoi allocation (rasterops.voronoi_alloc): every
    occupied z22 cell labeled with the nearest of the 12 densest cells
    (the GIS allocation / service-area raster) by exact integer squared
    distance with x-wrap; seed order and argmin ties frozen
    lexicographic. Bounded seed collect + broadcast crossJoin + one
    min_by — per-cell work O(12). FULL oracle: row_number seed pick +
    identical distance algebra + the row_number composite-argmin recipe
    (DuckDB min_by rejects struct vals)."""
    from extractors_metadata_spark.operators.rasterops import voronoi_alloc

    counts = _z22_counts(spark, sf_dir)
    return voronoi_alloc(counts, z=22, n_seeds=12)


def _anchor_pages(spark, sf_dir, n_pages: int = 2000):
    """Probe pages with deterministic outlinks: page i links to
    (i+1) % N and (i*7+3) % N, plus (i div 3) when i % 3 == 0, each
    hosted on https://h{j%7}.example — a multi-host web graph BOTH
    engines construct symbolically from event_id (the pii_counts probe
    recipe), then genuinely parse with the frozen href regex."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < n_pages)
    i = F.col("event_id")

    def anchor(j):
        return F.concat(
            F.lit('<a href="https://h'),
            (j % 7).cast("string"),
            F.lit(".example/e"),
            j.cast("string"),
            F.lit('">x</a>'),
        )

    html = F.concat(
        F.lit("<html><body>"),
        anchor((i + 1) % n_pages),
        anchor((i * 7 + 3) % n_pages),
        F.when(i % 3 == 0, anchor(F.expr("event_id div 3"))).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    return e.select(
        F.concat(F.lit("https://site.example/e"), i.cast("string")).alias("url"),
        F.encode(html, "UTF-8").alias("html"),
    )


def _anchor_text_pages(spark, sf_dir, n_pages: int = 2000):
    """The _anchor_pages probe graph with VARYING anchor texts: anchor
    number ``o`` on page i carries word[(i*13 + o) % 8] from the
    ANCHOR_WORDS literal list (single-sourced into the oracle) — so the
    inbound text distribution per target is nontrivial and both engines
    construct it symbolically, then genuinely parse it."""
    from extractors_metadata_spark.plans.links import ANCHOR_WORDS

    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < n_pages)
    i = F.col("event_id")
    words = F.array(*[F.lit(w) for w in ANCHOR_WORDS])

    def anchor(j, o):
        return F.concat(
            F.lit('<a href="https://h'),
            (j % 7).cast("string"),
            F.lit(".example/e"),
            j.cast("string"),
            F.lit('">'),
            F.element_at(words, ((i * 13 + o) % 8 + 1).cast("int")),
            F.lit("</a>"),
        )

    html = F.concat(
        F.lit("<html><body>"),
        anchor((i + 1) % n_pages, 1),
        anchor((i * 7 + 3) % n_pages, 2),
        F.when(i % 3 == 0, anchor(F.expr("event_id div 3"), 3)).otherwise(
            F.lit("")
        ),
        F.lit("</body></html>"),
    )
    return e.select(
        F.concat(F.lit("https://site.example/e"), i.cast("string")).alias(
            "url"
        ),
        F.encode(html, "UTF-8").alias("html"),
    )


def q_redirect_resolve(spark, sf_dir):
    """Redirect-chain resolution with loop detection (the crawl
    frontier's canonicalization step): min-carry pointer doubling over
    a synthetic functional graph (terminals v%5==0 self-loop, else
    t = (3v+7) % 1000 — tails AND genuine cycles), 12 fixed rounds
    (2^12 covers any chain; the watershed log-doubling recipe). Loop
    pages canonicalize to their cycle's minimum member — a stable
    dedup key. FULL oracle: the doubling unrolled verbatim."""
    from extractors_metadata_spark.plans.links import resolve_redirects

    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    rd = e.select(
        F.col("event_id").alias("v"),
        F.when(F.col("event_id") % 5 == 0, F.col("event_id"))
        .otherwise((3 * F.col("event_id") + 7) % 1000)
        .alias("t"),
    ).distinct()
    return resolve_redirects(rd, rounds=12)


def q_anchor_text(spark, sf_dir):
    """Inbound anchor-text index (plans/links.anchor_text_index): per
    link target its top-3 inbound anchor texts by count (ties lex) —
    the classical strongest web-search ranking signal (Brin & Page 1998
    indexed anchor text separately); parsed from raw HTML with one
    frozen Java==RE2 two-group pattern, positionally zipped. FULL
    oracle: the same symbolic page construction + regexp_extract_all
    per group + subscript zip + the same window."""
    from extractors_metadata_spark.plans.links import anchor_text_index

    return anchor_text_index(_anchor_text_pages(spark, sf_dir), k=3)


def q_outlinks(spark, sf_dir):
    """Outlink extraction (plans/links.extract_outlinks — the web-graph
    construction step between fetch and pagerank): every anchor target
    per page in document order (pos 1-based), parsed from the raw HTML
    with the frozen Java==RE2 href regex over the _anchor_pages probe
    graph.  One projection over one scan, posexplode bounded by
    outdegree, zero UDFs.  FULL oracle: DuckDB builds the SAME pages
    symbolically and runs the SAME regexp_extract_all — string equality
    on urls is the strongest driver check."""
    from extractors_metadata_spark.plans.links import extract_outlinks

    return extract_outlinks(_anchor_pages(spark, sf_dir))


def q_host_graph(spark, sf_dir):
    """Host-level link graph (plans/links.host_graph): the outlink edge
    list rolled up to (src_host, dst_host, n_links) — the pagerank/hits
    input surface.  One map-side-combining aggregate over the frozen
    host regex.  FULL oracle: same rollup in SQL."""
    from extractors_metadata_spark.plans.links import extract_outlinks, host_graph

    return host_graph(extract_outlinks(_anchor_pages(spark, sf_dir)))


def q_adamic_adar(spark, sf_dir):
    """Adamic-Adar link prediction (operators/linkgraph.adamic_adar):
    top-50 non-adjacent pairs of the undirected event graph by
    hub-discounted common-neighbor score — per-center weight
    rint(1e9/ln(deg)) emitted ONCE on the degree dim (half-even fixed
    point, the bm25 recipe), AA = int64 wedge sums, existing edges out
    via one anti-join, frozen (aa_fp desc, u, w) TakeOrdered cut.
    Wedge fan-out = sum(deg^2) with the max_degree hub cap as the scale
    lever.  FULL oracle: event-graph replay + identical fixed-point and
    cut."""
    from extractors_metadata_spark.operators.linkgraph import (
        adamic_adar,
        event_link_graph,
    )

    edges, _nodes = event_link_graph(_t(spark, sf_dir, "events"))
    # pack_ids: event-graph node ids < max(user_id)+1 << 2^31 by
    # construction — the wedge exchange keys on one packed long (r6)
    return adamic_adar(edges, k=50, pack_ids=True)


def q_z_range_plan(spark, sf_dir):
    """Z-order range planner (operators/zplan.z_range_plan — the query
    half of the z_order_key layout): each user's bbox on a 256x256 grid
    over the field (exact integer scaling of micro-degree coords)
    compiles to the MINIMAL sorted Morton ranges whose union is exactly
    the box — quadtree descent with aligned-prefix emission (corner
    interleave IS the range start), literal per-level shifts, then the
    interval-union adjacent merge.  All-integer; per level one x4
    literal explode, no joins until the bounded per-box merge window.
    FULL oracle: unrolled per-level CTEs + the z_stages_sql interleave
    replay + the same merge window."""
    from extractors_metadata_spark.operators.zplan import z_range_plan

    lat, lon = _latlon_dbl()
    e = _t(spark, sf_dir, "events").select("user_id", lat, lon)
    pts = e.select(
        "user_id",
        (F.bround(F.col("lon") * 1000000.0, 0).cast("long")
         + F.lit(180000000)).alias("qx"),
        (F.bround(F.col("lat") * 1000000.0, 0).cast("long")
         + F.lit(90000000)).alias("qy"),
    )
    fld = pts.agg(
        F.min("qx").alias("mnx"), F.max("qx").alias("mxx"),
        F.min("qy").alias("mny"), F.max("qy").alias("mxy"),
    )
    g = pts.crossJoin(F.broadcast(fld)).select(
        "user_id",
        F.expr("((qx - mnx) * 256) div (mxx - mnx + 1)").alias("gx"),
        F.expr("((qy - mny) * 256) div (mxy - mny + 1)").alias("gy"),
    )
    boxes = g.groupBy("user_id").agg(
        F.min("gx").alias("x0"), F.max("gx").alias("x1"),
        F.min("gy").alias("y0"), F.max("gy").alias("y1"),
    )
    return z_range_plan(boxes, depth=8, key_col="user_id")


def q_window_ranks(spark, sf_dir):
    """The SQL ranking-function surface in exact integers: per user over
    the hour-bucketed event stream — rank and dense_rank over the
    TIE-BEARING hour key (deterministic under ties by definition),
    ntile(4) over the TOTAL (hour, event_id) order (ntile is only
    deterministic under a total order; both engines put remainder rows
    in the leading tiles), percent_rank as its exact integer numerator
    (rank - 1, denominator n - 1 alongside), and cume_dist as the exact
    RANGE-frame peer count — no fraction ever crosses the engine
    boundary (the pack_sequences integer-emission rule).  One window
    stage, no UDFs.  FULL oracle: the same windows verbatim."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.expr("unix_micros(cast(ts as timestamp)) div 3600000000").alias("hour"),
    )
    from pyspark.sql import Window

    tie = Window.partitionBy("user_id").orderBy("hour")
    tot = Window.partitionBy("user_id").orderBy("hour", "event_id")
    rng = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    per = Window.partitionBy("user_id")
    return e.select(
        "user_id",
        "event_id",
        "hour",
        F.rank().over(tie).alias("rnk"),
        F.dense_rank().over(tie).alias("drnk"),
        F.ntile(4).over(tot).alias("nt4"),
        (F.rank().over(tie) - 1).alias("pr_num"),
        (F.count(F.lit(1)).over(per) - 1).alias("pr_den"),
        F.count(F.lit(1)).over(rng).alias("cd_num"),
        F.count(F.lit(1)).over(per).alias("n"),
    )


def q_textrank(spark, sf_dir):
    """TextRank extractive summarization (operators/textrank.py —
    Mihalcea-Tarau 2004): top-2 chunks per document by PageRank over
    the shared-token chunk similarity graph (>= 2 shared distinct
    tokens, symmetric edges).  Every doc's graph is a disjoint
    component of ONE global graph (node = doc_id*64 + chunk_idx), so a
    single run of the partition-invariant integer pagerank ranks the
    corpus at once; the pair join is doc-local.  FULL oracle: the
    shared _chunk_sql CTE + same pair threshold + the pagerank
    iteration stages unrolled + the frozen summary cut."""
    from extractors_metadata_spark.operators.chunking import chunk_documents
    from extractors_metadata_spark.operators.textrank import textrank_chunks

    chunks = chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=16, overlap=0
    ).select("doc_id", "chunk_idx", "chunk_text")
    return textrank_chunks(chunks, iterations=5, min_shared=2, top_k=2)


_ROBOTS_RULES = [("/e1", False), ("/e12", True), ("/e3", False), ("/e", True)]


def q_robots_filter(spark, sf_dir):
    """Robots-exclusion evaluation (plans/links.robots_filter — RFC 9309
    longest-match): per url the winning rule over a frozen ruleset —
    '/e' allows everything, '/e1' disallows the e1-prefixed pages,
    '/e12' re-allows e12*, '/e3' disallows e3* — folded into ONE integer
    score = prefix_len*2 + allow and a single GREATEST over literal
    conditionals (the blocklist_hits zero-shuffle codegen shape); equal-
    length Allow beats Disallow by the +1.  FULL oracle: the same
    GREATEST CASE literals."""
    from extractors_metadata_spark.plans.links import robots_filter

    pages = _anchor_pages(spark, sf_dir)
    return robots_filter(pages, _ROBOTS_RULES)


def q_ripley_per_user(spark, sf_dir):
    """Per-user Ripley's K sufficient statistics (operators/ripley.py)
    at radii 50/100/200 microdeg: exact (n_points, n_pairs) per user and
    radius — the classic point-pattern clustering function, float
    normalization left consumer-side (the mann_kendall rule).
    Micro-degree integer coords via the bround==round_even pairing; the
    pair join is KEY-LOCAL (bounded per-user stream, the theil_sen
    contract), all radii counted from ONE pair set filtered to the
    largest.  FULL oracle: same quantization, same integer squares and
    conditional sums."""
    from extractors_metadata_spark.operators.ripley import ripley_k

    lat, lon = _latlon_dbl()
    e = _t(spark, sf_dir, "events").select("user_id", "event_id", lat, lon)
    pts = e.select(
        "user_id",
        "event_id",
        (F.bround(F.col("lon") * 1000000.0, 0).cast("long")
         + F.lit(180000000)).alias("qx"),
        (F.bround(F.col("lat") * 1000000.0, 0).cast("long")
         + F.lit(90000000)).alias("qy"),
    )
    return ripley_k(pts, radii=(50, 100, 200))


def q_tile_median(spark, sf_dir):
    """3x3 median filter (operators/heatmap.tile_median) over the z22
    zero-filled count surface — the robust smoother beside tile_smooth's
    linear kernel: element 5 of the 9 sorted window values, exact int64
    (no interpolation exists at window 9).  x9 literal gather + ONE
    grid-keyed left join + a constant-9 codegen sort; zero UDFs; reads
    the scoped-cached counts front end.  FULL oracle: same offsets
    VALUES + list_sort[5]."""
    from extractors_metadata_spark.operators.heatmap import tile_median

    counts = _z22_counts(spark, sf_dir)
    return tile_median(counts, z=22)


def _cost_distance_parts(spark, sf_dir):
    """Shared cost-distance front end: returns (counts, dist) where dist
    is the (x, y, cost) least-cost surface from the hotspot seed — the
    q_cost_distance construction (see its docstring), factored so
    isochrone_bands reuses one recipe."""
    from extractors_metadata_spark.operators.linkgraph import (
        minplus_square,
        shortest_paths,
    )

    counts = _z22_counts(spark, sf_dir)
    n = 1 << 22
    pack = 1 << 26
    nb = counts.select(
        F.col("x").alias("_nx"), F.col("y").alias("_ny"), F.col("cnt").alias("_ncnt")
    )
    offsets = F.array(
        *[
            F.struct(
                F.lit(dx).alias("dx"), F.lit(dy).alias("dy"),
                F.lit(2 if dx * dy == 0 else 3).alias("m"),
            )
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
            if not (dx == 0 and dy == 0)
        ]
    )
    edges = (
        counts.select("x", "y", "cnt", F.explode(offsets).alias("o"))
        .select(
            "x", "y", "cnt", F.col("o.m").alias("m"),
            ((F.col("x") + F.col("o.dx") + n) % n).alias("_nx"),
            (F.col("y") + F.col("o.dy")).alias("_ny"),
        )
        .filter((F.col("_ny") >= 0) & (F.col("_ny") < n))
        .join(nb, ["_nx", "_ny"])
        .select(
            (F.col("x") * pack + F.col("y")).alias("src"),
            (F.col("_nx") * pack + F.col("_ny")).alias("dst"),
            ((F.col("cnt") + F.col("_ncnt")) * F.col("m")).alias("w"),
        )
    )
    loops = counts.select(
        (F.col("x") * pack + F.col("y")).alias("src")
    ).select("src", F.col("src").alias("dst"), F.lit(0).cast("long").alias("w"))
    e4 = minplus_square(minplus_square(edges.unionByName(loops))).localCheckpoint(
        eager=True
    )
    obs = (
        counts.orderBy(F.desc("cnt"), F.asc("x"), F.asc("y")).limit(1).collect()[0]
    )
    seeds = spark.createDataFrame(
        [(obs["x"] * pack + obs["y"],)], "node long"
    )
    dist = shortest_paths(e4, seeds, rounds=12).select(
        F.expr(f"node div {pack}").alias("x"),
        (F.col("node") % pack).alias("y"),
        F.col("dist").alias("cost"),
    )
    return counts, dist


def q_cost_distance(spark, sf_dir):
    """Grid cost-distance (the raster least-cost-path classic, composed
    from operators/linkgraph.shortest_paths over the z22 surface):
    minimum accumulated traversal cost from the max-count hotspot to
    every reachable occupied tile, where crossing from cell a to
    neighbor b costs (cnt_a + cnt_b) * 2 orthogonally and * 3
    diagonally — the exact-integer rational freeze of the classic
    (cost_a+cost_b)/2 * dist metric (sqrt(2) ~ 3/2 relative to
    orthogonal 2/2; frozen for bit-exactness, still a metric).  Node
    ids pack as x*2^26+y (the blobs rule); the path bound is 48 base
    edges — run as TWO min-plus edge squarings (zero-weight self-loops
    make each squared edge cover <= 2 base edges; linkgraph.
    minplus_square) + 12 delta-Bellman-Ford super-rounds, the log-step
    contraction that replaces 48 rounds of per-action overhead with a
    bounded-stencil edge blowup (8 -> 25 -> 81 per cell) and one
    checkpointed edge frame.  FULL oracle: the same base edge table + 48
    unrolled PLAIN relaxation stages (the shortest_paths recipe) — the
    searched path set (<= 48 edges) is identical by construction."""
    _, dist = _cost_distance_parts(spark, sf_dir)
    return dist


def q_isochrone_bands(spark, sf_dir):
    """Isochrone ring structure over the cost-distance surface — the
    service-area classic: reachable cells banded by cost div 512, and
    per band (n_cells, n_boundary) where a BOUNDARY cell has an occupied
    8-neighbor that is unreachable or in a DIFFERENT band (frozen rule:
    off-grid neighbors don't count). The ring counts are the discrete
    isochrone contours; everything is exact int64. Shape: one 8-offset
    scatter + one occupied-join + one left band-join + two keyed
    aggregates over the checkpointed band frame. FULL oracle: the
    cost-distance stage chain wrapped as a CTE + the same scatter/join/
    flag replay."""
    counts, dist = _cost_distance_parts(spark, sf_dir)
    n = 1 << 22
    bands = dist.select(
        "x", "y", F.expr("cost div 512").alias("band")
    ).localCheckpoint()
    off8 = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
            if not (dx == 0 and dy == 0)
        ]
    )
    nbr = (
        bands.select("x", "y", "band", F.explode(off8).alias("o"))
        .select(
            "x", "y", "band",
            ((F.col("x") + F.col("o.dx") + n) % n).alias("_nx"),
            (F.col("y") + F.col("o.dy")).alias("_ny"),
        )
        .filter((F.col("_ny") >= 0) & (F.col("_ny") < n))
    )
    occ = counts.select(F.col("x").alias("_nx"), F.col("y").alias("_ny"))
    nbb = nbr.join(occ, ["_nx", "_ny"]).join(
        bands.select(
            F.col("x").alias("_nx"), F.col("y").alias("_ny"),
            F.col("band").alias("_nband"),
        ),
        ["_nx", "_ny"],
        "left",
    )
    flag = nbb.groupBy("x", "y", "band").agg(
        F.max(
            F.when(
                F.col("_nband").isNull() | (F.col("_nband") != F.col("band")),
                1,
            ).otherwise(0)
        ).alias("b")
    )
    cells = bands.join(flag, ["x", "y", "band"], "left").select(
        "band", F.coalesce("b", F.lit(0)).alias("b")
    )
    return cells.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("b").cast("long").alias("n_boundary"),
    )


def q_ppr_seeds(spark, sf_dir):
    """Personalized PageRank (operators/linkgraph.personalized_pagerank):
    TrustRank-style seed-relative authority — ALL teleport mass returns
    to the deterministic seed whitelist (node % 17 == 0) of the event
    link graph, 5 damped iterations. The crawl-frontier / trusted-host
    curation primitive: rank relative to a seed set, not the uniform
    prior. Same int64 floor-division fixed point as pagerank (bit-
    identical under any partitioning); per-iteration one dst-keyed
    partial-agg shuffle with broadcast ranks. FULL oracle: the pagerank
    unrolled-stage recipe with a seed-conditional base term and the
    seed-restricted r0."""
    from extractors_metadata_spark.operators.linkgraph import (
        event_link_graph,
        personalized_pagerank,
    )

    edges, nodes = event_link_graph(_t(spark, sf_dir, "events"))
    seeds = nodes.filter(F.col("node") % 17 == 0)
    return personalized_pagerank(edges, nodes, seeds, iterations=5)


def q_greedy_cover(spark, sf_dir):
    """Greedy maximum-coverage corpus selection (operators/corpus.
    greedy_cover): 8 rounds of the (1-1/e) submodular greedy — each round
    picks the document adding the most not-yet-covered vocabulary
    (tie-break gain DESC, doc_id ASC), the diversity-driven data-
    selection primitive. Corpus touched once (distinct doc-token grams,
    checkpoint-pinned); per round one anti-join vs the bounded covered
    set + a 1-row composite min_by argmax. FULL oracle: unrolled
    per-round stages replaying the anti-join count, the row_number pick
    and the covered union."""
    from extractors_metadata_spark.operators.corpus import greedy_cover

    return greedy_cover(_t(spark, sf_dir, "documents"), rounds=8)


def q_emerging_hotspots(spark, sf_dir):
    """Emerging-hotspot analysis — the GIS space-time-cube classic
    (ESRI's Emerging Hot Spot Analysis shape): per 200k-nanodegree cell,
    the Mann-Kendall monotone-trend statistics of its DAILY 3x3
    NEIGHBORHOOD activity sum (the Getis-Ord Gi* numerator per time
    slice) — a cell whose neighborhood count trends up is an emerging
    hotspot, down is fading. getis_ord gives one-slice hot/cold,
    mann_kendall per-cell self-count trends; this is the composed
    space-time statistic over the spatially-smoothed series.

    All exact int64: the 9-offset scatter + (cell, day)-keyed sum is the
    tile_smooth shape (bounded literal fan-out, one grid-keyed
    aggregate); the trend stage is operators/trend.mann_kendall on the
    zero-filled bounded day grid (per-cell O(T^2), T a corpus literal).
    Output domain = cells within 1 of any occupied cell on any day.
    FULL oracle: the same scatter stage prepended to the mann_kendall
    replay."""
    from extractors_metadata_spark.operators.trend import mann_kendall

    lat, lon = _latlon_dbl()
    pts = _t(spark, sf_dir, "events").select(
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"), lat, lon,
    ).select(
        ((F.bround(F.col("lon") * 1000000000.0, 0).cast("long")
          + F.lit(120000000000)) / F.lit(200000)).cast("long").alias("cx"),
        (F.bround(F.col("lat") * 1000000000.0, 0).cast("long")
         / F.lit(200000)).cast("long").alias("cy"),
        F.expr("us div 86400000000").alias("day"),
    )
    counts = pts.groupBy("cx", "cy", "day").agg(F.count(F.lit(1)).alias("n"))
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
        ]
    )
    nbsum = (
        counts.select("cx", "cy", "day", "n", F.explode(offs).alias("o"))
        .select(
            (F.col("cx") + F.col("o.dx")).alias("cx"),
            (F.col("cy") + F.col("o.dy")).alias("cy"),
            "day",
            "n",
        )
        .groupBy("cx", "cy", "day")
        .agg(F.sum("n").alias("s"))
    )
    return mann_kendall(nbsum, ["cx", "cy"], bin_col="day", n_col="s")


def q_kcenter_coreset(spark, sf_dir):
    """Gonzalez k-center greedy coreset (operators/kcenter.py): 8
    farthest-point picks over the milli-unit-quantized embedding table —
    the embedding-space diversity-selection counterpart of greedy_cover
    (2-approx k-center; the kmeans++-style diverse-seed primitive).
    Quantize once (round_even(v*1000) int64 — the spectral/semdedup
    rule), exact int64 squared L2 everywhere, frozen argmax tie-break
    (mind2 DESC, id ASC), per round one codegen projection against a
    64-int literal center + one bounded min_by collect.  FULL oracle:
    the rounds unrolled as CTE stages (row_number argmax + least()
    relax)."""
    from extractors_metadata_spark.operators.kcenter import kcenter_coreset

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.bround(x * 1000.0, 0).cast("long"),
        ).alias("qv"),
    )
    return kcenter_coreset(emb, k=8)


def q_lsh_eval(spark, sf_dir):
    """LSH candidate-quality evaluation — the dedup-pipeline QA metric:
    confusion counts of the MinHash-LSH near-dup pairs (verifiable poly
    family, est >= 0.2) against the EXACT word-3-shingle Jaccard >= 1/2
    ground truth over the documents table (all-pairs truth is the
    deliberately-quadratic evaluation regime — run on a sample at
    production scale; the scoring path stays pair-scoped). The compare is pure
    integers (3*|A∩B| >= |A|+|B| — the rational cross-multiplication
    rule, no float Jaccard anywhere); the output is ONE exact row
    (n_pred, n_truth, tp, fp, fn) from a full-outer marker join. FULL
    oracle: the shared _minhash_sql chain + the same shingle self-join
    truth + the same marker aggregate."""
    from extractors_metadata_spark.operators.dedup import (
        minhash_lsh_dedup,
        word_shingles,
    )

    d = _t(spark, sf_dir, "documents")
    pred = minhash_lsh_dedup(
        d, threshold=0.2, hash_family="poly", max_bucket=1_000_000_000
    ).select("id_a", "id_b", F.lit(1).alias("p"))
    sh = word_shingles(d, "text", "doc_id", w=3)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    truth = (
        inter.join(
            sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sa")),
            "id_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sb")),
            "id_b",
        )
        .filter(3 * F.col("i") >= F.col("sa") + F.col("sb"))
        .select("id_a", "id_b", F.lit(1).alias("t"))
    )
    j = pred.join(truth, ["id_a", "id_b"], "full_outer")
    return j.agg(
        F.count("p").alias("n_pred"),
        F.count("t").alias("n_truth"),
        F.count(F.when(F.col("p").isNotNull() & F.col("t").isNotNull(), 1)).alias("tp"),
        F.count(F.when(F.col("p").isNotNull() & F.col("t").isNull(), 1)).alias("fp"),
        F.count(F.when(F.col("p").isNull() & F.col("t").isNotNull(), 1)).alias("fn"),
    )


def q_containment_pairs(spark, sf_dir):
    """Asymmetric shingle-containment dedup (operators/dedup.
    containment_pairs): pairs with |A∩B|/min(|A|,|B|) >= 4/5 in exact
    integers — the excerpt/quote-inclusion detector symmetric Jaccard
    misses. Probe-augmented input (the semdedup/pii_redact pattern):
    every doc_id % 13 == 0 document gets a FIRST-THIRD-of-tokens excerpt
    at doc_id + 200000 — containment ~1 but Jaccard ~1/3, so the
    asymmetric branch is genuinely exercised (the corpus's natural
    near-dup pairs are all symmetric). Exact mode (every shingle-sharing
    pair scored; the bounded evaluation regime — max_df candidate
    capping is the production path). FULL oracle: same excerpt
    construction, shingle self-join, and integer threshold."""
    from extractors_metadata_spark.operators.dedup import containment_pairs

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    probe = (
        d.filter(F.col("doc_id") % 13 == 0)
        .withColumn("_n", F.size(toks))
        .select(
            (F.col("doc_id") + 200000).alias("doc_id"),
            F.concat_ws(
                " ", F.slice(toks, 1, F.expr("greatest(_n div 3, 3)"))
            ).alias("text"),
        )
    )
    return containment_pairs(d.unionByName(probe), num=4, den=5)


def q_doc_novelty(spark, sf_dir):
    """Per-document novelty in ingest order — the dedup-aware curation
    signal (vocab_growth's per-BUCKET curve, resolved to the document):
    for every doc its distinct 3-word-shingle count and how many of
    those shingles it INTRODUCES (first document by min doc_id — the
    frozen arrival rule). Sum(n_new) telescopes to the corpus vocabulary
    — a boring near-duplicate contributes ~0. One shingle-keyed min
    aggregate + one doc-keyed count + a left join back; no windows, no
    cumulative-distinct. FULL oracle: same min/count/join."""
    from extractors_metadata_spark.operators.dedup import word_shingles

    sh = word_shingles(_t(spark, sf_dir, "documents"), "text", "doc_id", w=3)
    per_doc = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    news = (
        sh.groupBy("shingle")
        .agg(F.min("doc_id").alias("fd"))
        .groupBy("fd")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    return per_doc.join(
        news, per_doc.doc_id == news.fd, "left"
    ).select(
        "doc_id", "n_shingles", F.coalesce("n_new", F.lit(0)).alias("n_new")
    )


def q_graph_profile(spark, sf_dir):
    """One-row structural profile of the event link graph — the
    graph-QA summary a crawl/link pipeline checks before heavier
    analytics: node and edge counts, self-loop count, RECIPROCATED edge
    count (u->v with v->u present — the reciprocity numerator), and the
    max out-/in-degree (the skew indicator that decides broadcast-rank
    vs salting strategies downstream). All exact int64 one-pass
    aggregates; reciprocity via one left-semi join against the reversed
    edge table. FULL oracle: same counts via IN-subquery semi join."""
    from extractors_metadata_spark.operators.linkgraph import event_link_graph

    edges, nodes = event_link_graph(_t(spark, sf_dir, "events"))
    edges = edges.localCheckpoint()
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    n_nodes = nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
    base = edges.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum(F.when(F.col("src") == F.col("dst"), 1).otherwise(0))
        .cast("long")
        .alias("n_self"),
    )
    recip = (
        edges.join(rev, ["src", "dst"], "left_semi")
        .agg(F.count(F.lit(1)).alias("n_recip"))
    )
    max_out = (
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        .agg(F.max("d").alias("max_outdeg"))
    )
    max_in = (
        edges.groupBy("dst").agg(F.count(F.lit(1)).alias("d"))
        .agg(F.max("d").alias("max_indeg"))
    )
    out = n_nodes.crossJoin(base).crossJoin(recip)
    return out.crossJoin(max_out).crossJoin(max_in)


def q_dup_cluster_sizes(spark, sf_dir):
    """Near-dup cluster-size histogram — the dedup-QA distribution every
    large-scale dedup run reports (how much of the corpus sits in
    2-clusters vs mega-piles; the mega-pile tail is what max_bucket
    capping and exact-dedup prefiltering exist for): MinHash-LSH pairs
    (poly family) -> pointer-jumping connected components -> per-cluster
    size -> (sz, n_clusters). FULL oracle: the shared minhash chain +
    the recursive-CTE component replay + the same two aggregates."""
    from extractors_metadata_spark.operators.dedup import (
        cluster_pairs,
        minhash_lsh_dedup,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_dedup(
        d, threshold=0.6, hash_family="poly", max_bucket=1_000_000_000
    ).select("id_a", "id_b")
    comp = cluster_pairs(pairs)
    sizes = comp.groupBy("canonical_id").agg(F.count(F.lit(1)).alias("sz"))
    return sizes.groupBy("sz").agg(F.count(F.lit(1)).alias("n_clusters"))


def q_wavefront_profile(spark, sf_dir):
    """Per-seed BFS wavefront profile over the DIRECTED event link graph
    — the closeness-centrality sufficient statistic on a deterministic
    seed sample (node % 97 == 0): for each seed and hop <= 4, how many
    nodes are first reached at that hop (hop 0 = the seed). The crawl
    blast-radius / influence-reach summary; harmonic or closeness
    centrality is a consumer-side ratio of the emitted integers. Delta
    BFS keyed by (seed, node): per hop one src-keyed equi-join + one
    distinct + one anti-join settle, localCheckpoint per hop (the k_hop
    discipline, widened with the seed key). FULL oracle: 4 unrolled
    join/ANTI JOIN stages."""
    from extractors_metadata_spark.operators.linkgraph import event_link_graph

    edges, nodes = event_link_graph(_t(spark, sf_dir, "events"))
    edges = edges.localCheckpoint()
    settled = (
        nodes.filter(F.col("node") % 97 == 0)
        .select(
            F.col("node").alias("seed"), "node", F.lit(0).alias("hop")
        )
        .localCheckpoint()
    )
    frontier = settled.select("seed", "node")
    for i in range(1, 5):
        nbrs = (
            edges.join(frontier.withColumnRenamed("node", "src"), "src")
            .select("seed", F.col("dst").alias("node"))
            .distinct()
        )
        new = (
            nbrs.join(settled.select("seed", "node"), ["seed", "node"], "left_anti")
            .select("seed", "node", F.lit(i).alias("hop"))
            .localCheckpoint()
        )
        settled = settled.unionByName(new).localCheckpoint()
        frontier = new.select("seed", "node")
    return settled.groupBy("seed", "hop").agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


def q_curation_yield(spark, sf_dir):
    """End-to-end curation YIELD accounting — the per-source funnel
    report every large-scale data pipeline publishes: docs in -> docs
    surviving the quality gate (curation_filter's frozen first-match
    rules) -> docs surviving near-dedup among the kept set (MinHash poly
    pairs at 0.6 -> components -> min-id survivors), plus whitespace-
    token totals in/kept. One composed run of three proven kernels; all
    emitted values exact int64 counts/sums. FULL oracle: the rep/quality
    CTE fragments + the minhash chain WHERE-restricted to the kept set +
    the recursive-CTE survivor replay + the same rollup."""
    from extractors_metadata_spark.functions.textstats import token_count
    from extractors_metadata_spark.operators.corpus import curation_filter
    from extractors_metadata_spark.operators.dedup import (
        minhash_lsh_dedup,
        near_dedup_survivors,
    )

    from extractors_metadata_spark.operators.pip_knn import _cache_scoped

    d = _t(spark, sf_dir, "documents")
    # r6: cf feeds BOTH the kept semi-join and the final flags join —
    # persist, or the quality-rule chain runs twice; kept is narrowed to
    # (doc_id, text) (the only columns the dedup leg reads) and persisted
    # instead of RDD-checkpointing the full-width corpus
    cf = _cache_scoped("cy_cf", curation_filter(d).select("doc_id", "keep"))
    kept = _cache_scoped(
        "cy_kept",
        d.select("doc_id", "text").join(
            cf.filter(F.col("keep")).select("doc_id"), "doc_id", "left_semi"
        ),
    )
    pairs = minhash_lsh_dedup(
        kept, threshold=0.6, hash_family="poly", max_bucket=1_000_000_000
    ).select("id_a", "id_b")
    surv = near_dedup_survivors(kept.select("doc_id"), pairs).select(
        "doc_id", F.lit(1).alias("_s")
    )
    base = d.select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tok")
    )
    flags = (
        base.join(cf, "doc_id", "left")
        .join(surv, "doc_id", "left")
        .select(
            "source",
            "n_tok",
            F.when(F.col("keep"), 1).otherwise(0).alias("k"),
            F.coalesce("_s", F.lit(0)).alias("s"),
        )
    )
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("k").cast("long").alias("n_after_quality"),
        F.sum("s").cast("long").alias("n_after_dedup"),
        F.sum("n_tok").cast("long").alias("tokens_in"),
        F.sum(F.col("s") * F.col("n_tok")).cast("long").alias("tokens_kept"),
    )


def q_hausdorff_pairs(spark, sf_dir):
    """Symmetric Hausdorff track-pair join (operators/hausdorff.py):
    near-duplicate trajectory detection — all user pairs whose symmetric
    Hausdorff distance is <= r = 100 microdeg, exactly. Candidates are
    cell-local (distinct per-user cells at side S = r, one-ring dilation
    on the tiny cell frame — complete by the triangle argument), the
    verify pair-scoped with both directed maxes from ONE aggregation
    chain (x2 role explode collapsed by the map-side min). Coordinates
    are micro-degree integers via the bround==round_even 0-decimal
    pairing with a nonneg shift; users bounded < 40 (the spatial_cluster
    restriction — the synthetic field is a single block, so unbounded
    pair counts grow quadratically by construction, not by geometry).
    FULL oracle: BRUTE-FORCE all-pairs replay in DuckDB — also proves
    the ring blocking loses no pair."""
    from extractors_metadata_spark.operators.hausdorff import hausdorff_pairs

    lat, lon = _latlon_dbl()
    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 40)
        .select("user_id", lat, lon)
    )
    pts = e.select(
        "user_id",
        (F.bround(F.col("lon") * 1000000.0, 0).cast("long")
         + F.lit(180000000)).alias("qx"),
        (F.bround(F.col("lat") * 1000000.0, 0).cast("long")
         + F.lit(90000000)).alias("qy"),
    )
    return hausdorff_pairs(pts, r=100)


def q_stream_hll_verify(spark, sf_dir):
    """Structured-Streaming sketch maintenance under a FULL oracle
    (streaming/sketch_stream.stream_hll_distinct): the events table is
    drained through an AvailableNow stream in 3-file micro-batches, each
    batch max-merging its own HLL sketch into a durable snapshot state
    table. Because the per-bucket max merge is associative/commutative/
    idempotent, the streamed END STATE must be bit-identical to the
    one-shot batch sketch — so the oracle is literally hll_registers' SQL
    replay. This is the rare shape where a streaming pipeline gets an
    exact value-hash check, not a rows-only pass."""
    import tempfile

    from extractors_metadata_spark.sources.snapshot import read_table
    from extractors_metadata_spark.streaming.sketch_stream import (
        stream_hll_distinct,
    )

    base = tempfile.mkdtemp(prefix="q_shll_")
    events = _t(spark, sf_dir, "events")
    events.repartition(8).write.parquet(base + "/in")
    q = stream_hll_distinct(
        spark, base + "/in", base + "/state", base + "/ckpt",
        key=_sketch_key(), p=8, max_files_per_trigger=3, schema=events.schema,
    )
    q.awaitTermination(600)
    return read_table(spark, base + "/state").select("bucket", "rho")


def q_stream_cms_verify(spark, sf_dir):
    """Streamed count-min maintenance under a FULL oracle
    (streaming/sketch_stream.stream_cms_counts): same AvailableNow drain
    of the events table, but counts ADD — correctness rests on the
    manifest batch-id guard applying every micro-batch exactly once, so
    the final grid equals the one-shot cms_sketch of the whole table and
    the oracle replays that grid cell-exactly (vhash affine family)."""
    import tempfile

    from extractors_metadata_spark.sources.snapshot import read_table
    from extractors_metadata_spark.streaming.sketch_stream import (
        stream_cms_counts,
    )

    base = tempfile.mkdtemp(prefix="q_scms_")
    events = _t(spark, sf_dir, "events")
    events.repartition(8).write.parquet(base + "/in")
    q = stream_cms_counts(
        spark, base + "/in", base + "/state", base + "/ckpt",
        key=_sketch_key(), d=4, w=1024, max_files_per_trigger=3,
        schema=events.schema,
    )
    q.awaitTermination(600)
    return read_table(spark, base + "/state").select("row", "col", "cnt")


def q_chunk_documents(spark, sf_dir):
    """Sliding-window document chunking (operators/chunking.py — the dual
    of pack_sequences: split long docs into overlapping fixed-token
    windows, zero shuffles). chunk=24, overlap=8 over the documents table
    (~25-100 words/doc -> 2-6 windows each, short docs exercise the
    single-whole-doc branch). FULL oracle: exact integer window arithmetic
    + exact list slicing replayed in SQL."""
    from extractors_metadata_spark.operators.chunking import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=24, overlap=8
    )


def _latlon_dbl():
    """LAT_IN/LON_IN as explicit DOUBLE Column arithmetic — bit-equal to
    the DuckDB/Python double chain (pytest-checked). F.expr parses the
    same literals as decimal(38,11), whose ~2e-10 deg value drift is fine
    behind floor()/margins but NOT under a cm-rounded distance output."""
    lat = F.lit(33.0745) + (
        (F.col("event_id") % 1000).cast("double") + F.lit(0.5)
    ) / F.lit(1000.0) * F.lit(54.0) * F.lit(0.0000365)
    lon = F.lit(-111.9750833333) + (
        (F.col("event_id") % 640).cast("double") + F.lit(0.5)
    ) / F.lit(640.0) * F.lit(16.0) * F.lit(0.00005)
    return lat.alias("lat"), lon.alias("lon")


def q_radius_pairs(spark, sf_dir):
    """Within-radius point<->point self-join (operators/radius_join.py —
    the no-broadcast-side distance join: cell-bucketed shuffle equi-join,
    one side explodes a bounded k-ring, each unordered pair survives
    exactly once via id_a < id_b, exact equirect refine to INTEGER cm with
    the threshold on the integer — dist_m derived as dist_cm / 100.0, no
    fractional rounding anywhere; ADVICE r4). FULL oracle: brute-force O(n^2)
    theta join over the first 3000 events with the literal identical
    distance arithmetic — an independent derivation that also proves the
    ring bound loses no pair."""
    from extractors_metadata_spark.operators.radius_join import (
        radius_self_join,
    )

    lat, lon = _latlon_dbl()
    pts = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 3000)
        .select("event_id", lat, lon)
    )
    return radius_self_join(spark, pts, radius_m=1.0)


def q_colocation_pi(spark, sf_dir):
    """Spatial co-location participation index (operators/colocation.py,
    Shekhar/Huang SSTD 2001): per unordered event-type pair the exact
    integer participation ingredients over within-2m neighbor pairs —
    PI = min(part_a/n_a, part_b/n_b) consumer-side (floats never
    emitted). Candidates from the proven cell-bucketed radius join;
    participation = countDistinct inside a tiny pair-keyed agg. FULL
    oracle: brute-force O(n^2) distance pairs (identical integer-cm
    threshold) + the same orientation and distinct counts."""
    from extractors_metadata_spark.operators.colocation import colocation_pi

    lat, lon = _latlon_dbl()
    pts = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 3000)
        .select("event_id", "event_type", lat, lon)
    )
    return colocation_pi(
        spark, pts, radius_m=2.0, feature_col="event_type"
    )


def q_line_density(spark, sf_dir):
    """Line-density raster: per nanodegree grid cell, how many movement
    SEGMENTS cross it — the GIS line-density / corridor-heat classic
    (tile_smooth rasterizes points; this rasterizes the edges between
    them). Exact rasterization, no supercover recursion: candidate cells
    are the segment's bbox cell range (bounded fan-out — cell size is
    chosen ~ segment scale), membership is the separating-axis test in
    exact integers (bbox overlap by construction + the four cell corners
    must straddle the segment line: min orient <= 0 <= max orient).
    Shifted-nonneg quantize-once coords; one narrow fan-out + one
    map-side-combining cell count. FULL oracle.

    Orientation precondition (ADVICE r4): per-segment coordinate spans
    must stay < 2^31 nanodeg (~2 deg) for the int64 cross products —
    holds by construction here (consecutive same-user events on the
    synth field; a general caller with longer segments pre-scales to
    coarser units, see operators/hull._orient)."""
    S = 200000
    lat, lon = _latlon_dbl()
    wnd = Window.partitionBy("user_id").orderBy("ts", "event_id")
    segs = (
        _t(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", lat, lon)
        .select(
            "user_id", "ts", "event_id",
            (F.bround(F.col("lon") * 1000000000.0, 0).cast("long")
             + F.lit(120000000000)).alias("ax"),
            F.bround(F.col("lat") * 1000000000.0, 0).cast("long").alias("ay"),
        )
        .withColumn("bx", F.lead("ax").over(wnd))
        .withColumn("by", F.lead("ay").over(wnd))
        .filter(F.col("bx").isNotNull())
        .select("ax", "ay", "bx", "by")
    )
    cand = segs.select(
        "ax", "ay", "bx", "by",
        F.explode(
            F.sequence(
                F.expr(f"least(ax, bx) div {S}"),
                F.expr(f"greatest(ax, bx) div {S}"),
            )
        ).alias("cx"),
    ).select(
        "ax", "ay", "bx", "by", "cx",
        F.explode(
            F.sequence(
                F.expr(f"least(ay, by) div {S}"),
                F.expr(f"greatest(ay, by) div {S}"),
            )
        ).alias("cy"),
    )

    def o(px, py):
        return (F.col("bx") - F.col("ax")) * (py - F.col("ay")) - (
            F.col("by") - F.col("ay")
        ) * (px - F.col("ax"))

    x0, y0 = F.col("cx") * S, F.col("cy") * S
    x1, y1 = x0 + S, y0 + S
    o1, o2, o3, o4 = o(x0, y0), o(x1, y0), o(x0, y1), o(x1, y1)
    hit = (F.least(o1, o2, o3, o4) <= 0) & (F.greatest(o1, o2, o3, o4) >= 0)
    return (
        cand.filter(hit)
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("n_segments"))
    )


def q_ccf_lags(spark, sf_dir):
    """Lead-lag cross-correlation ingredients between the click and
    purchase hourly series (the bivariate widening of acf): for every
    lag in [-3, 3], exact integer Pearson moments (n, sums, cross
    products) of (click_t, purchase_{t+lag}) over the shared hour grid
    (zero-filled, so quiet hours count); r per lag is a consumer-side
    ratio of the emitted exact ints. Which way does the funnel lead?
    One 7x band self-join of the tiny hourly frame. FULL oracle."""
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000").alias("h"),
    ).filter(F.col("event_type").isin("click", "purchase"))
    span = e.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = span.select(F.explode(F.sequence("h0", "h1")).alias("h"))
    cnt = (
        grid.join(
            e.groupBy("h").agg(
                F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("x"),
                F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("y"),
            ),
            "h",
            "left",
        )
        .select(
            "h",
            F.coalesce(F.col("x"), F.lit(0)).alias("x"),
            F.coalesce(F.col("y"), F.lit(0)).alias("y"),
        )
    )
    a = cnt.select("h", "x")
    b = cnt.select(F.col("h").alias("h2"), "y")
    return (
        a.join(b, (F.col("h2") >= F.col("h") - 3) & (F.col("h2") <= F.col("h") + 3))
        .select((F.col("h2") - F.col("h")).alias("lag"), "x", "y")
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )


def q_knox_test(spark, sf_dir):
    """Knox space-time interaction statistic (epidemiology/crime-cluster
    classic): over the first 3000 events, the pair counts that feed
    Knox's X = observed space-AND-time-close pairs vs the marginal
    expectation — (n, total_pairs, space_pairs, time_pairs,
    joint_pairs), all exact ints, the ratio consumer-side. Space-close
    (<= 2 m, decided on INTEGER cm — dist_cm <= 200, the 0-decimal
    rounding pairing, never a fractional round; ADVICE r4) comes from the
    bounded radius_self_join; time-close (<= 1 h) is computed WITHOUT the n^2
    scan: τ-width bins make every same-bin pair close by construction
    and the only refinement is the adjacent-bin band join (bin-keyed,
    per-bin bounded) — the interval_join discipline on pair COUNTING.
    FULL oracle (brute-force n^2 replay on the bounded subset)."""
    from extractors_metadata_spark.operators.radius_join import radius_self_join

    tau = 3_600_000_000
    lat, lon = _latlon_dbl()
    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 3000).select(
        F.col("event_id").alias("id"),
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("us"),
        lat, lon,
    )
    pts = e.select(F.col("id").alias("event_id"), "lat", "lon")
    sp = radius_self_join(spark, pts, radius_m=2.0).select("id_a", "id_b")
    space_pairs = sp.agg(F.count(F.lit(1)).alias("space_pairs"))
    ts_dim = e.select("id", "us")
    joint = (
        sp.join(ts_dim.withColumnRenamed("id", "id_a").withColumnRenamed("us", "us_a"), "id_a")
        .join(ts_dim.withColumnRenamed("id", "id_b").withColumnRenamed("us", "us_b"), "id_b")
        .filter(F.abs(F.col("us_a") - F.col("us_b")) <= tau)
        .agg(F.count(F.lit(1)).alias("joint_pairs"))
    )
    binned = e.select("id", "us", F.expr(f"us div {tau}").alias("b"))
    same_bin = (
        binned.groupBy("b").agg(F.count(F.lit(1)).alias("m"))
        .agg(F.sum(F.expr("m * (m - 1) div 2")).alias("p"))
    )
    nxt = binned.select((F.col("b") - 1).alias("b"),
                        F.col("us").alias("us2"), F.col("id").alias("id2"))
    adj = (
        binned.join(nxt, "b")
        .filter(F.col("us2") - F.col("us") <= tau)
        .agg(F.count(F.lit(1)).alias("p"))
    )
    time_pairs = same_bin.crossJoin(adj.withColumnRenamed("p", "p2")).select(
        (F.coalesce(F.col("p"), F.lit(0)) + F.coalesce(F.col("p2"), F.lit(0)))
        .alias("time_pairs")
    )
    n = e.agg(F.count(F.lit(1)).alias("n")).select(
        "n", F.expr("n * (n - 1) div 2").alias("total_pairs")
    )
    return (
        n.crossJoin(space_pairs).crossJoin(time_pairs).crossJoin(joint)
    )


def q_text_normalize(spark, sf_dir):
    """Frozen training-text normalization (functions/textnorm.normalize_text:
    line-ending unification -> control strip -> horizontal-run collapse ->
    line-edge trim -> blank-stack cap -> outer trim; pure codegen, zero
    shuffle). The synth corpus is clean, so deterministic artifact suffixes
    are appended to doc_id%4 in {0,2} BOTH sides (chr()-spelled in SQL).
    FULL oracle: the identical Java==RE2 regex chain replayed via
    norm_rules_sql — the pii_counts pairing extended from extraction to
    rewriting."""
    from extractors_metadata_spark.functions.textnorm import normalize_text

    d = _t(spark, sf_dir, "documents")
    probe = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 4 == 0, F.lit(_NORM_P0))
        .when(F.col("doc_id") % 4 == 2, F.lit(_NORM_P2))
        .otherwise(F.lit("")),
    )
    return d.select(
        "doc_id", normalize_text(probe).alias("norm")
    ).withColumn("n_len", F.length("norm"))


def q_embed_centroids(spark, sf_dir):
    """Deterministic embedding centroids (similarity.embedding_centroids):
    per-label dimension-wise means via exact half-even integer micro-unit
    sums — the reproducible IVF-training aggregate (float vector means are
    aggregation-order dependent; this is bit-identical under any
    partitioning). FULL oracle: unnest-with-ordinality replay + identical
    round_even/division arithmetic."""
    from extractors_metadata_spark.operators.similarity import (
        embedding_centroids,
    )

    return embedding_centroids(_t(spark, sf_dir, "embeddings"))


def q_zonal_stats(spark, sf_dir):
    """Zonal statistics: the region-analytics composition (J1 pip join ->
    per-polygon rollup). Narrow-first per the engine's fan-out rule: only
    (event_id, lat, lon) flows through the lookup kernel, measures join
    back by id, ONE plot-keyed aggregate. Every aggregate is
    exactness-safe: counts + exact distinct + min/max (order-free) + a sum
    of per-row HALF-EVEN-rounded integer micro-units (F.bround == DuckDB
    round_even), never a raw double sum. FULL oracle: closed-form grid
    plot assignment + the identical aggregate arithmetic."""
    from extractors_metadata_spark.operators.pip_knn import pip_join

    pts = _event_points(spark, sf_dir)
    hits = pip_join(spark, pts, _plots_pdf()).select(
        "event_id", "plot_id"
    )
    m = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    return (
        hits.join(m, "event_id")
        .groupBy("plot_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(
                F.bround(F.col("value") * 1000000.0, 0).cast("long")
            ).alias("value_sum_u"),
            F.min("value").alias("value_min"),
            F.max("value").alias("value_max"),
        )
    )


def q_polygon_stats(spark, sf_dir):
    """Footprint polygon area/perimeter (operators/polystats.polygon_stats):
    per-event quad rings (the tile_assign probe offsets) measured on the
    frozen equirect plane anchored at the ring's first vertex — each
    shoelace cross term and each edge rounded HALF-EVEN to exact integer
    µm²/cm before order-independent int64 sums. FULL oracle: the quad
    unrolls to closed-form SQL with the identical per-term arithmetic
    (np.rint == round_even; NumPy trig == DuckDB trig on this host)."""
    from extractors_metadata_spark.operators.polystats import polygon_stats

    lat, lon = _latlon_dbl()
    e = _t(spark, sf_dir, "events").select("event_id", lat, lon)
    la0 = F.col("lat") - 0.0002
    la1 = F.col("lat") + 0.0002
    lo0 = F.col("lon") - 0.0003
    lo1 = F.col("lon") + 0.0003
    rings = e.select(
        "event_id",
        F.array(la0, la0, la1, la1).alias("ring_lats"),
        F.array(lo0, lo1, lo1, lo0).alias("ring_lons"),
    )
    return polygon_stats(rings).select("event_id", "area2_um2", "perim_cm")


def q_cms_join_size(spark, sf_dir):
    """Join-cardinality estimation from count-min sketches
    (sketches.cms_join_size): |A JOIN B on user:event_type| estimated as
    the min over rows of the grids' inner product — the planner-side
    sketch consult, costing one constant-size cell join. Populations are
    the hll_set_ops pair (event_id%2==0 vs %3==0). FULL oracle: both
    filtered grids replayed (poly/mix31 + affine cell family) + the
    identical exact-int dot/min arithmetic."""
    from extractors_metadata_spark.operators.sketches import (
        cms_join_size,
        cms_sketch,
    )

    e = _t(spark, sf_dir, "events")
    ca = cms_sketch(e.filter("event_id % 2 = 0"), _sketch_key(), d=4, w=1024)
    cb = cms_sketch(e.filter("event_id % 3 = 0"), _sketch_key(), d=4, w=1024)
    return cms_join_size(ca, cb)


def q_cell_compact(spark, sf_dir):
    """Quadtree cell-set compaction (operators/cellset.s2_compact): the
    CellUnion-normalization op — complete sibling quartets merge into
    parents recursively, level 8 down to 0. Input cells are constructed
    from event ids in exact int arithmetic (the s2 ENCODING pathway is
    proven separately by cells_encode; this isolates the set algebra on a
    trivially replayable set: a solid pos range compacts massively, its
    ragged boundary must survive verbatim). FULL oracle: every per-level
    round replayed as a generated CTE stage (the hilbert-stages pattern)."""
    from extractors_metadata_spark.operators.cellset import s2_compact

    cells = _t(spark, sf_dir, "events").selectExpr(
        "CAST((event_id % 50000) * 32 + 8 AS BIGINT) AS cell"
    )
    return s2_compact(cells, min_level=0)


def q_hll_set_ops(spark, sf_dir):
    """HLL distinct-count set algebra (sketches.hll_set_estimates): union
    by exact per-bucket max-merge, intersection by inclusion-exclusion,
    over two overlapping event populations (event_id%2==0 vs %3==0 —
    their key sets genuinely overlap). FULL oracle: three full register
    replays (poly/mix31 family) + the identical estimator arithmetic +
    the one extra literal double subtraction."""
    from extractors_metadata_spark.operators.sketches import (
        hll_set_estimates,
        hll_sketch,
    )

    e = _t(spark, sf_dir, "events")
    ra = hll_sketch(e.filter("event_id % 2 = 0"), _sketch_key(), p=8)
    rb = hll_sketch(e.filter("event_id % 3 = 0"), _sketch_key(), p=8)
    return hll_set_estimates(ra, rb, p=8)


def q_scan_legs(spark, sf_dir):
    """Trajectory scan-leg segmentation (operators/trajectory.scan_legs):
    per-user maximal constant-heading runs — lag window + change-flag
    cumulative sum + (user, leg) rollup all on ONE user-keyed Exchange.
    FULL oracle: the direction-code CASE, the running break sum, and the
    frozen equirect step distance (rounded to exact int cm BEFORE the
    order-independent sum) replayed in DuckDB window SQL."""
    from extractors_metadata_spark.operators.trajectory import scan_legs

    lat, lon = _latlon_dbl()
    pts = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", lat, lon
    )
    return scan_legs(pts)


def q_stay_points(spark, sf_dir):
    """Stay-point detection (operators/staypoints.stay_points): maximal
    within-30m runs per user over the gantry position stream — dwell
    analysis, the movement-pause complement of scan_legs. FULL oracle:
    same frozen equirect step kernel + half-up cm (the scan_legs pairing),
    round_even 1e-7-deg centroid fixed point with nonneg-shifted HALF-EVEN
    integer division (the kmeans rule), exact microsecond durations
    (unix_micros == epoch_us), is_stay emitted as a labeled column so the
    oracle sees negatives too."""
    from extractors_metadata_spark.operators.staypoints import stay_points

    lat, lon = _latlon_dbl()
    e = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", lat, lon)
    return stay_points(e, d_cm=3000, min_dur_s=36_000, min_pings=3)


def q_shingle_cosine(spark, sf_dir):
    """Sparse tf-cosine doc pairs (operators/sparse_sim.shingle_cosine_pairs):
    the weighted cousin of ngram_jaccard — exact int64 dots/norms in
    banded 3-word-shingle space (max_df caps the worst shingle's df^2
    fan-out AND defines the vector space), cosine as half-even 1e-9 fixed
    point; IEEE sqrt/divide are correctly rounded in every engine, so the
    whole operator is pure JVM codegen with no Arrow pass. FULL oracle:
    the minhash suite's shingle CTE + literal arithmetic."""
    from extractors_metadata_spark.operators.sparse_sim import shingle_cosine_pairs

    return shingle_cosine_pairs(
        _t(spark, sf_dir, "documents"), w=3, max_df=50, min_sim_fp=200_000_000
    )


def q_rollup_stats(spark, sf_dir):
    """Multi-level ROLLUP aggregate (operators/rollup_stats.rollup_stats):
    per-(event_type, month) detail + per-type subtotals + grand total in
    ONE grouping-set aggregate (one shuffle, N levels — never N scans).
    grouping_id disambiguates subtotal rows from NULL dim values (Spark
    bit order == DuckDB GROUPING(dims...)). FULL oracle: GROUP BY ROLLUP
    with the zonal_stats fixed-point value sums."""
    from extractors_metadata_spark.operators.rollup_stats import rollup_stats

    e = _t(spark, sf_dir, "events").select(
        "event_type",
        # integer month key: subtotal rows carry NULL dims, and a nullable
        # DATE round-trips as parse-hostile strings in compare harnesses —
        # exact ints never do
        (F.year(F.col("ts").cast("timestamp")) * 100
         + F.month(F.col("ts").cast("timestamp"))).cast("int").alias("month"),
        "user_id",
        "value",
    )
    return rollup_stats(e, ["event_type", "month"])


def q_resample_track(spark, sf_dir):
    """Trajectory resampling (operators/resample.resample_track): hourly
    linear interpolation within <= 12 h segments (longer gaps are data
    gaps — not interpolated; both branches fire at this SF). Pure-codegen
    exact int64: µs grid arithmetic + signed half-even rational
    interpolation (DQ_MAX-shifted numerator — truncating division ==
    floor once nonnegative). FULL oracle: identical integer forms."""
    from extractors_metadata_spark.operators.resample import resample_track

    lat, lon = _latlon_dbl()
    e = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", lat, lon)
    return resample_track(e, grid_s=3600, max_gap_s=43_200)


def q_sliding_windows(spark, sf_dir):
    """Sliding event-time windows (operators/timewin.sliding_window_stats):
    2 h windows sliding every 30 min — every event lands in exactly 4
    windows via Spark's native F.window Expand, ONE map-side-combining
    (window, key) aggregate. FULL oracle: the epoch-aligned window set
    replayed as w_j = (t - t mod s) - j*s in µs integers."""
    from extractors_metadata_spark.operators.timewin import sliding_window_stats

    e = _t(spark, sf_dir, "events")
    return sliding_window_stats(e, duration="2 hours", slide="30 minutes")


def q_quality_percentile(spark, sf_dir):
    """Per-source percentile normalization of the frozen quality score
    (operators/corpus.quality_percentile) — cross-source score
    calibration; rank/count/permille are ALL exact integers on ONE
    group-keyed Exchange. FULL oracle: the proven quality composite +
    identical window/`div` arithmetic."""
    from extractors_metadata_spark.operators.corpus import quality_percentile

    return quality_percentile(_t(spark, sf_dir, "documents"), by="source")


def q_rolling_window(spark, sf_dir):
    """Trailing 7-day RANGE-frame rolling aggregates per user
    (operators/timewin.rolling_user_stats) — value-based frames (time
    horizon, not row count), exact µs bounds + fixed-point sums, one
    user-keyed Exchange. FULL oracle: identical RANGE window in DuckDB."""
    from extractors_metadata_spark.operators.timewin import rolling_user_stats

    return rolling_user_stats(_t(spark, sf_dir, "events"), range_s=7 * 86_400)


def q_full_outer(spark, sf_dir):
    """FULL OUTER reconciliation join (§2.3 completeness): restricted
    customer dim vs per-customer order rollup — matched, dim-only and
    fact-only rows all surface with presence flags (the reconciliation
    shape: neither side's orphans may silently drop). Exact counts +
    fixed-point money. FULL oracle: same FULL OUTER in DuckDB."""
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 7 != 0)
        .select("c_custkey")
    )
    o = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.bround(F.col("o_totalprice") * 100.0, 0).cast("long")
            ).alias("total_c"),
        )
    )
    j = c.join(o, c.c_custkey == o.o_custkey, "full_outer")
    return j.select(
        F.coalesce(F.col("c_custkey"), F.col("o_custkey")).alias("custkey"),
        F.col("c_custkey").isNotNull().alias("has_cust"),
        F.col("o_custkey").isNotNull().alias("has_orders"),
        F.coalesce(F.col("n_orders"), F.lit(0)).cast("long").alias("n_orders"),
        F.coalesce(F.col("total_c"), F.lit(0)).cast("long").alias("total_c"),
    )


def q_mad_outliers(spark, sf_dir):
    """Robust per-type outlier flags (operators/robust.mad_outliers):
    median/MAD via Spark native percentile == DuckDB quantile_cont (the
    length_quantiles pairing), identical-path threshold compare so even
    boundary rows flag identically; k=1.5 here so both branches fire on
    the uniform synthetic values (production default 4.4478). FULL
    oracle, med/mad emitted unrounded."""
    from extractors_metadata_spark.operators.robust import mad_outliers

    return mad_outliers(_t(spark, sf_dir, "events"), k=1.5)


def q_funnel_steps(spark, sf_dir):
    """Strict-progression funnel (operators/funnel.funnel_steps): per-user
    view -> click -> signup -> purchase times in ONE shuffle via a JVM
    higher-order sorted fold (no UDF); strictness makes the fold and the
    min-chain provably equivalent, and the FULL oracle exploits that:
    DuckDB replays k unrolled min-chain CTEs (its list_reduce struct
    folds are broken — CLAUDE.md)."""
    from extractors_metadata_spark.operators.funnel import funnel_steps

    return funnel_steps(_t(spark, sf_dir, "events"))


def q_event_transitions(spark, sf_dir):
    """Markov transition counts (operators/funnel.event_transitions):
    per-user ordered event-type bigrams -> global (prev, next) counts.
    One user-keyed Exchange + one map-side-combining count. FULL oracle."""
    from extractors_metadata_spark.operators.funnel import event_transitions

    return event_transitions(_t(spark, sf_dir, "events"))


def q_weighted_sample(spark, sf_dir):
    """A-ES weighted order sampling (sampling.weighted_order_sample):
    top-20 docs per language with inclusion probability proportional to
    n_chars, as a pure function of doc_id (reproducible across runs /
    engines / backfills — the data-mixing upgrade over uniform
    stratified_sample). FULL oracle: mix31 hash replay -> exact double
    u -> ln(u)/w ordering; the compared output is the SELECTED SET + rank
    (+ exact weight), not the raw key — NumPy's SIMD log and DuckDB's libm
    ln differ by 1 ulp on ~15% of inputs (measured here; the z20 tile
    oracle hides the same drift behind floor()), which cannot flip an
    ordering unless two keys collide within 1 ulp."""
    from extractors_metadata_spark.operators.sampling import weighted_order_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    out = weighted_order_sample(
        d, weight_col="n_chars", k=20, key_col="doc_id", per_col="lang"
    )
    return out.select("doc_id", "lang", "n_chars", "rank")


def q_kmeans_verify(spark, sf_dir):
    """Distributed exact-integer k-means (operators/kmeans.kmeans_assign):
    3 Lloyd rounds, k=8, over the quantized embedding table — every step
    int64 (fixed-point quantize, int argmin assignment, per-(cluster, dim)
    integer sums, HALF-EVEN integer-division centroid update), so the
    result is bit-identical under any partitioning AND fully SQL-
    replayable. FULL oracle: unrolled CTE stages per round (the Hilbert/
    PageRank strategy) — hash-ranked seeds, cross-join assign with
    (d2, cid) tie-break, the same integer rounding, empty clusters carry
    forward."""
    from extractors_metadata_spark.operators.kmeans import kmeans_assign

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_assign(spark, emb, k=8, iters=3)


def q_exact_split(spark, sf_dir):
    """Exactly-sized per-stratum train/val/test splits
    (sampling.exact_count_split): rows rank by the salted mix31 hash
    within each language, integer-permille boundaries cut EXACT counts
    (hash_split is proportional only in expectation — eval sets need
    exact sizes). One stratum-keyed Exchange. FULL oracle: the poly/mix31
    rank order and the DIV-1000 boundary CASE replayed verbatim."""
    from extractors_metadata_spark.operators.sampling import exact_count_split

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return exact_count_split(d, "lang", "doc_id")


def q_ivm_counts(spark, sf_dir):
    """Incremental view maintenance under a FULL oracle (operators/ivm):
    a per-language (n, sum_u) view initialized from the BEFORE state is
    maintained through the cdc_verify change feed (insert/update/delete
    on deterministic documents slices) and must hash-equal the
    closed-form aggregate of the AFTER state — the IVM identity
    agg(to) == apply(agg(from), changes), exact int64 throughout."""
    import tempfile

    from extractors_metadata_spark.operators.ivm import (
        counts_of,
        maintain_counts,
    )
    from extractors_metadata_spark.sources.snapshot import (
        delete_keys,
        read_table,
        table_changes,
        upsert_snapshot_mor,
        write_snapshot,
    )

    base = tempfile.mkdtemp(prefix="q_ivm_") + "/t"
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    m0 = write_snapshot(
        docs.filter("doc_id % 3 != 2"), base, "append", key_cols=("doc_id",)
    )
    ups = docs.filter("doc_id % 5 = 0").withColumn(
        "n_chars",
        F.col("n_chars")
        + F.when(F.col("lang") == "en", F.lit(1000)).otherwise(F.lit(0)),
    )
    upsert_snapshot_mor(ups, base, ("doc_id",))
    m2 = delete_keys(
        spark, base, docs.filter("doc_id % 7 = 3").select("doc_id"), ("doc_id",)
    )
    state = counts_of(
        read_table(spark, base, as_of=m0["snapshot_id"]), "lang", "n_chars"
    )
    changes = table_changes(
        spark, base, m0["snapshot_id"], m2["snapshot_id"], ("doc_id",)
    )
    return maintain_counts(state, changes, "lang", "n_chars")


def q_cdc_verify(spark, sf_dir):
    """Snapshot CDC under a FULL oracle (sources/snapshot.table_changes —
    the Iceberg table_changes / Delta CDF analog). Builds a snapshot table
    from deterministic slices of documents: base append (doc_id%3!=2),
    merge-on-read upsert (doc_id%5==0, n_chars+1000 for lang='en' only —
    non-en upserts are byte-identical and must emit NOTHING), then an
    equality-delete (doc_id%7==3, including never-present keys which must
    also emit nothing). The diff of the two time-travel states must equal
    the closed-form insert/delete/update_pre/update_post sets the oracle
    derives straight from documents."""
    import tempfile

    from extractors_metadata_spark.sources.snapshot import (
        delete_keys,
        table_changes,
        upsert_snapshot_mor,
        write_snapshot,
    )

    base = tempfile.mkdtemp(prefix="q_cdc_") + "/t"
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    m0 = write_snapshot(
        docs.filter("doc_id % 3 != 2"), base, "append", key_cols=("doc_id",)
    )
    ups = docs.filter("doc_id % 5 = 0").withColumn(
        "n_chars",
        F.col("n_chars")
        + F.when(F.col("lang") == "en", F.lit(1000)).otherwise(F.lit(0)),
    )
    upsert_snapshot_mor(ups, base, ("doc_id",))
    m2 = delete_keys(
        spark, base, docs.filter("doc_id % 7 = 3").select("doc_id"), ("doc_id",)
    )
    return table_changes(
        spark, base, m0["snapshot_id"], m2["snapshot_id"], ("doc_id",)
    )


def q_tile_smooth(spark, sf_dir):
    """Tile-grid kernel smoothing (operators/heatmap.tile_smooth): the
    heatmap rendering primitive — sparse z12 per-tile event counts
    convolved with the separable binomial 3x3 kernel in SCATTER form
    (x9 literal fan-out, pure codegen, ONE map-side-combining re-sum;
    support dilates one ring, x wraps mod 2^z, y clamps at the poles).
    FULL oracle: exact int64 scatter replayed in DuckDB with the kernel's
    closed form (2-|dx|)*(2-|dy|)."""
    from extractors_metadata_spark.operators.heatmap import tile_smooth
    from extractors_metadata_spark.operators.tile_assign import tile_assign

    lat, lon = _latlon_dbl()
    e = _t(spark, sf_dir, "events").select("event_id", lat, lon)
    pts = e.select(
        "event_id",
        F.col("lat").alias("min_lat"), F.col("lat").alias("max_lat"),
        F.col("lon").alias("min_lon"), F.col("lon").alias("max_lon"),
    )
    tiles = tile_assign(pts, zooms=(12,), id_cols=("event_id",))
    counts = tiles.groupBy("x", "y").agg(F.count(F.lit(1)).alias("cnt"))
    return tile_smooth(counts, z=12)


def q_spatial_cluster(spark, sf_dir):
    """Single-linkage spatial clustering (radius_join.spatial_cluster):
    connected components of the within-1m pair graph over the first 3000
    events -> (id, cluster_id, cluster_size), cluster_id = min id in the
    component, singletons included. Composition of the proven radius_pairs
    edge generator and the cluster_pairs label propagation. FULL oracle:
    the O(n^2) literal-identical distance pairs + a recursive-CTE
    reachability closure (min-reachable-id == propagated min label)."""
    from extractors_metadata_spark.operators.radius_join import spatial_cluster

    lat, lon = _latlon_dbl()
    pts = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 3000)
        .select("event_id", lat, lon)
    )
    return spatial_cluster(spark, pts, radius_m=1.0)


def q_dbscan(spark, sf_dir):
    """DBSCAN (radius_join.dbscan): eps = 1 m, min_pts = 3 over the first
    3000 events — core/border/noise with the border ambiguity resolved
    DETERMINISTICALLY (min core-neighbor cluster id; order-dependence is
    what an exact oracle cannot tolerate). FULL oracle: brute-force
    eps-graph + degrees + recursive components over core-core edges +
    the same border rule."""
    from extractors_metadata_spark.operators.radius_join import dbscan

    lat, lon = _latlon_dbl()
    pts = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 3000)
        .select("event_id", lat, lon)
    )
    return dbscan(spark, pts, eps_m=1.0, min_pts=3)


def q_kdist(spark, sf_dir):
    """k-distance curve (DBSCAN's eps-selection companion): per point the
    distance to its 4th-nearest neighbor within a 5 m cap, from ONE
    cell-bucketed radius join (points with < 4 capped neighbors are
    excluded — the curve's tail beyond the cap is exactly what the cap
    prices, stated not hidden). Ranking on the cm-rounded distance with
    neighbor-id tie-break. FULL oracle: brute-force replay."""
    from extractors_metadata_spark.operators.radius_join import radius_self_join

    lat, lon = _latlon_dbl()
    pts = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 3000)
        .select("event_id", lat, lon)
    )
    pairs = radius_self_join(spark, pts, radius_m=5.0)
    sym = pairs.select(
        F.col("id_a").alias("id"), F.col("id_b").alias("nbr"), "dist_cm"
    ).unionByName(
        pairs.select(
            F.col("id_b").alias("id"), F.col("id_a").alias("nbr"), "dist_cm"
        )
    )
    w = Window.partitionBy("id").orderBy(
        F.col("dist_cm").asc(), F.col("nbr").asc()
    )
    return (
        sym.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 4)
        .select("id", F.col("dist_cm").alias("kdist_cm"))
    )


def q_co_movement(spark, sf_dir):
    """Spatiotemporal co-movement: user pairs sharing >= 2 distinct
    (z22 tile, UTC hour) buckets — co_visitation's temporal upgrade (same
    place AND same time), the co-travel detection shape. Same candidate
    discipline: distinct presence first, bucket-keyed self-join. FULL
    oracle."""
    from extractors_metadata_spark.functions.spark_udfs import tile_xy_udf

    lat, lon = _latlon_dbl()
    e = _t(spark, sf_dir, "events").select(
        "user_id", lat, lon,
        (F.unix_micros(F.col("ts").cast("timestamp"))
         - F.pmod(F.unix_micros(F.col("ts").cast("timestamp")), 3_600_000_000)
         ).alias("hour_us"),
    )
    t = e.withColumn("_t", tile_xy_udf(22)("lat", "lon")).select(
        F.col("_t.x").alias("x"), F.col("_t.y").alias("y"), "hour_us", "user_id"
    )
    pres = t.distinct()
    a = pres.select("x", "y", "hour_us", F.col("user_id").alias("u_a"))
    b = pres.select("x", "y", "hour_us", F.col("user_id").alias("u_b"))
    return (
        a.join(b, ["x", "y", "hour_us"])
        .filter(F.col("u_a") < F.col("u_b"))
        .groupBy("u_a", "u_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


def q_winsorized_mean(spark, sf_dir):
    """Per-type winsorized mean (robust.winsorized_mean): clamp to the
    group's [p05, p95] (bit-equal interpolated percentiles), then the
    exact fixed-point mean (half-even micro-units -> int sums -> half-even
    integer division). FULL oracle."""
    from extractors_metadata_spark.operators.robust import winsorized_mean

    return winsorized_mean(_t(spark, sf_dir, "events"))


def q_type_entropy(spark, sf_dir):
    """Per-user behavioral diversity: Shannon entropy + HHI concentration
    of the event-type distribution. Counts are exact; p = c/n is one
    correctly-rounded division; entropy terms p*ln(p) round HALF-EVEN to
    1e-9 fixed point BEFORE the order-free int sum (the bm25 ln-margin
    recipe), HHI terms are pure rational fixed point. FULL oracle."""
    e = _t(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    n = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    j = c.join(n, "user_id")
    p = F.col("c").cast("double") / F.col("n").cast("double")
    ent_term = F.bround(-(p * F.log(p)) * 1000000000.0, 0).cast("long")
    hhi_term = F.bround(p * p * 1000000000.0, 0).cast("long")
    return (
        j.select("user_id", "n", ent_term.alias("_e"), hhi_term.alias("_h"))
        .groupBy("user_id", "n")
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.sum("_e").alias("entropy_fp"),
            F.sum("_h").alias("hhi_fp"),
        )
    )


def q_radius_gyration(spark, sf_dir):
    """Radius of gyration per user (Gonzalez et al. — THE human-mobility
    extent statistic): emitted as exact int64 nanodegree moments
    (n, sx, sy, sxx, syy); rg^2 = (sxx+syy)/n - (sx/n)^2 - (sy/n)^2 is a
    consumer-side ratio (it has the squares of means; everything emitted
    is exact). One map-side-combining aggregate. Quantize-once; shifted
    lon keeps the moments nonneg. sxx magnitude ~(2e9)^2 * n — the
    shifted-lon square would overflow int64, so coords are re-centered
    to the field corner first (span ~2e6, squares ~4e12 * n: safe).
    FULL oracle."""
    lat, lon = _latlon_dbl()
    pts = _t(spark, sf_dir, "events").select("user_id", lat, lon).select(
        "user_id",
        (F.bround(F.col("lon") * 1000000000.0, 0).cast("long")
         + F.lit(111_976_000_000)).alias("x"),
        (F.bround(F.col("lat") * 1000000000.0, 0).cast("long")
         - F.lit(33_074_000_000)).alias("y"),
    )
    return pts.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )


def q_mobility_entropy(spark, sf_dir):
    """Per-user mobility entropy (Song et al. predictability): Shannon
    entropy of the user's TILE-visit distribution — the type_entropy
    recipe applied to the spatial key (exact counts, one correctly-
    rounded division, per-term half-even 1e-9 fixed point before the
    order-free int sum). Low entropy = predictable movement. FULL
    oracle."""
    lat, lon = _latlon_dbl()
    pts = _t(spark, sf_dir, "events").select("user_id", lat, lon).select(
        "user_id",
        ((F.bround(F.col("lon") * 1000000000.0, 0).cast("long")
          + F.lit(120000000000)) / F.lit(200000)).cast("long").alias("cx"),
        (F.bround(F.col("lat") * 1000000000.0, 0).cast("long")
         / F.lit(200000)).cast("long").alias("cy"),
    )
    c = pts.groupBy("user_id", "cx", "cy").agg(F.count(F.lit(1)).alias("c"))
    n = pts.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    j = c.join(n, "user_id")
    p = F.col("c").cast("double") / F.col("n").cast("double")
    ent_term = F.bround(-(p * F.log(p)) * 1000000000.0, 0).cast("long")
    return (
        j.select("user_id", "n", ent_term.alias("_e"))
        .groupBy("user_id", "n")
        .agg(
            F.count(F.lit(1)).alias("n_tiles"),
            F.sum("_e").alias("entropy_fp"),
        )
    )


def q_hill_tail(spark, sf_dir):
    """Hill tail-index estimator over document lengths — web corpora are
    heavy-tailed and the tail exponent drives storage/packing planning:
    1/alpha-hat = mean over the top-k order statistics of
    ln(x_(i) / x_(k+1)). The k+1 largest lengths are an exact
    TakeOrdered (n_chars desc, doc_id asc frozen tie-break); each term
    is ln of a ratio of EXACT ints (one correctly-rounded division),
    half-even 1e-9 fixed point before the order-free int sum (the bm25
    recipe). Emits (k, x_kplus1, hill_fp_sum); alpha consumer-side.
    FULL oracle."""
    k = 100
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    top = (
        d.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
        .limit(k + 1)
    )
    wnd = Window.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    ranked = top.withColumn("rk", F.row_number().over(wnd))
    thresh = ranked.filter(F.col("rk") == k + 1).select(
        F.col("n_chars").alias("x_kplus1")
    )
    terms = (
        ranked.filter(F.col("rk") <= k)
        .crossJoin(F.broadcast(thresh))
        .select(
            "x_kplus1",
            F.bround(
                F.log(
                    F.col("n_chars").cast("double")
                    / F.col("x_kplus1").cast("double")
                )
                * 1000000000.0,
                0,
            ).cast("long").alias("t"),
        )
    )
    return terms.groupBy("x_kplus1").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("t").alias("hill_fp_sum"),
    ).select("k", "x_kplus1", "hill_fp_sum")


def q_transition_entropy(spark, sf_dir):
    """First-order mobility predictability (the mobility_entropy sequel —
    Song et al.'s 'actual entropy' proxy): per user, the conditional
    entropy H(next tile | current tile) of consecutive tile transitions
    = sum over transitions of -(c_ij/n) ln(c_ij/c_i). Exact transition /
    context counts, per-term half-even 1e-9 fixed point before the
    order-free int sum. A user who circulates a fixed route has near-zero
    H even with many tiles visited. FULL oracle."""
    lat, lon = _latlon_dbl()
    pts = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", lat, lon
    ).select(
        "user_id", "ts", "event_id",
        ((F.bround(F.col("lon") * 1000000000.0, 0).cast("long")
          + F.lit(120000000000)) / F.lit(200000)).cast("long").alias("cx"),
        (F.bround(F.col("lat") * 1000000000.0, 0).cast("long")
         / F.lit(200000)).cast("long").alias("cy"),
    )
    wnd = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        pts.withColumn("nx", F.lead("cx").over(wnd))
        .withColumn("ny", F.lead("cy").over(wnd))
        .filter(F.col("nx").isNotNull())
    )
    cij = tr.groupBy("user_id", "cx", "cy", "nx", "ny").agg(
        F.count(F.lit(1)).alias("cij")
    )
    ci = cij.groupBy("user_id", "cx", "cy").agg(F.sum("cij").alias("ci"))
    n = cij.groupBy("user_id").agg(F.sum("cij").alias("n"))
    j = cij.join(ci, ["user_id", "cx", "cy"]).join(n, "user_id")
    term = F.bround(
        -(
            (F.col("cij").cast("double") / F.col("n").cast("double"))
            * F.log(F.col("cij").cast("double") / F.col("ci").cast("double"))
        )
        * 1000000000.0,
        0,
    ).cast("long")
    return (
        j.select("user_id", "n", term.alias("t"))
        .groupBy("user_id", "n")
        .agg(
            F.count(F.lit(1)).alias("n_transitions_distinct"),
            F.sum("t").alias("cond_entropy_fp"),
        )
    )


def q_cusum(spark, sf_dir):
    """CUSUM change detection (operators/cusum.cusum_detect) — the
    sequential fold rewritten as running-sum-minus-running-min windows
    (s_t = P_t - min(0, min P_j)), so a 'needs a UDF' statistic becomes
    one key-partitioned Exchange of exact int64 codegen. FULL oracle:
    identical window forms."""
    from extractors_metadata_spark.operators.cusum import cusum_detect

    return cusum_detect(_t(spark, sf_dir, "events"))


def q_theil_sen(spark, sf_dir):
    """Theil-Sen robust trend per user: the median of all pairwise slopes
    (v_j - v_i) / hours_between — outlier-immune where OLS is not. The
    per-user pair fan-out is n^2/2 (bounded by per-key stream length —
    the operator contract; at 10^12 rows sample per key first). Slopes
    are identical-path doubles from exact ints, so the interpolated
    median (percentile == quantile_cont) is bit-equal and emitted
    UNROUNDED. FULL oracle."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.bround(F.col("value") * 1000000.0, 0).cast("long").alias("v_u"),
    )
    a = e.select("user_id", F.col("event_id").alias("i"),
                 F.col("us").alias("t_i"), F.col("v_u").alias("v_i"))
    b = e.select("user_id", F.col("event_id").alias("j"),
                 F.col("us").alias("t_j"), F.col("v_u").alias("v_j"))
    pairs = a.join(b, "user_id").filter(
        (F.col("i") < F.col("j")) & (F.col("t_i") != F.col("t_j"))
    )
    # slope in value-units per hour: exact-int delta ratio, one division
    slope = (F.col("v_j") - F.col("v_i")).cast("double") / (
        (F.col("t_j") - F.col("t_i")).cast("double") / F.lit(3600000000.0)
    )
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.percentile(slope, F.lit(0.5)).alias("slope_med"),
    )


def q_ols_slope(spark, sf_dir):
    """Per-user OLS trend (the classical contrast to theil_sen): slope =
    (n*Stv - St*Sv) / (n*Stt - St^2) over EXACT integer moment sums —
    time centered per user to SECONDS since the user's first event so
    every moment fits int64 (t' <= ~1e7, t'^2 sums ~1e16; the µs overflow
    is why centering is part of the semantics, not an optimization); the
    final combination crosses into doubles only where products exceed
    2^63, with every factor exactly representable (< 2^53) so both
    engines compute the identical slope, emitted UNROUNDED. FULL
    oracle."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.bround(F.col("value") * 1000000.0, 0).cast("long").alias("v_u"),
    )
    t0 = e.groupBy("user_id").agg(F.min("us").alias("us0"))
    c = e.join(t0, "user_id").select(
        "user_id",
        F.expr("(us - us0) div 1000000").alias("t"),
        "v_u",
    )
    m = c.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("st"),
        F.sum("v_u").alias("sv"),
        F.sum(F.col("t") * F.col("v_u")).alias("stv"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
    )
    num = (F.col("n") * F.col("stv")).cast("double") - F.col("st").cast(
        "double"
    ) * F.col("sv").cast("double")
    den = (F.col("n") * F.col("stt")).cast("double") - F.col("st").cast(
        "double"
    ) * F.col("st").cast("double")
    return m.filter(F.col("n") >= 2).select(
        "user_id", "n", (num / den).alias("slope_u_per_s")
    )


def q_mann_whitney(spark, sf_dir):
    """Mann-Whitney U between 'click' and 'error' values — the
    hypothesis-test statistic family, EXACT: tie mid-ranks carried as
    doubled integers (2*mr = 2*cnt_less + cnt_eq + 1, from one running
    sum over the distinct-value frame), U in doubled units (u1_x2 =
    2*R1 - n1*(n1+1)); no floats anywhere. FULL oracle."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "error")
    ).select(
        "event_type",
        F.bround(F.col("value") * 1000000.0, 0).cast("long").alias("v"),
    )
    vc = e.groupBy("v").agg(
        F.count(F.lit(1)).alias("eq"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("eq1"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = vc.withColumn(
        "cum_less", F.coalesce(F.sum("eq").over(w), F.lit(0)).cast("long")
    ).withColumn("mr2", 2 * F.col("cum_less") + F.col("eq") + 1)
    agg = ranked.agg(
        F.sum("eq1").alias("n1"),
        F.sum(F.col("eq") - F.col("eq1")).alias("n2"),
        F.sum(F.col("mr2") * F.col("eq1")).alias("r1_x2"),
    )
    u1 = F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1)
    return agg.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        u1.cast("long").alias("u1_x2"),
        (2 * F.col("n1") * F.col("n2") - u1).cast("long").alias("u2_x2"),
    )


def q_chi_square(spark, sf_dir):
    """Chi-square independence test over the (event_type x user cohort)
    contingency table: observed counts exact ints, expected = row*col/N a
    single identical-path division, per-cell (O-E)^2/E contributions
    HALF-EVEN rounded to 1e-6 fixed point before the order-free sum.
    Emits the table-level statistic + dof — the categorical counterpart
    of mann_whitney. FULL oracle."""
    e = _t(spark, sf_dir, "events").select(
        "event_type", (F.col("user_id") % 4).alias("cohort")
    )
    obs = e.groupBy("event_type", "cohort").agg(F.count(F.lit(1)).alias("o"))
    rows = obs.groupBy("event_type").agg(F.sum("o").alias("r"))
    cols = obs.groupBy("cohort").agg(F.sum("o").alias("c"))
    n = e.count()
    j = obs.join(F.broadcast(rows), "event_type").join(F.broadcast(cols), "cohort")
    expd = (F.col("r") * F.col("c")).cast("double") / F.lit(float(n))
    cell = F.bround(
        (F.col("o").cast("double") - expd)
        * (F.col("o").cast("double") - expd)
        / expd
        * 1000000.0,
        0,
    ).cast("long")
    nr = rows.count()
    nc = cols.count()
    return j.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(cell).alias("chi2_fp"),
        F.lit((nr - 1) * (nc - 1)).cast("long").alias("dof"),
    )


def q_scd2_intervals(spark, sf_dir):
    """Type-2 slowly-changing-dimension build from the event stream: a
    user's 'current event type' is a dimension attribute; each CHANGE
    opens a new validity interval [valid_from, valid_to) closed by the
    next change (exact µs lead window), the final row open-ended
    (valid_to = -1 sentinel, is_current = 1 — a sentinel, not NULL:
    null-ordering conventions differ across engines but exact ints
    never do). Change rows are the streak islands' FIRST rows, so the
    whole dimension history is two windows on one user-keyed Exchange.
    The warehouse-history shape (Kimball SCD2) the snapshot layer's
    time travel complements: time travel versions the TABLE, SCD2
    versions the KEY. FULL oracle."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    changes = e.select(
        "user_id", "event_type", "us", "event_id",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            F.lit(1),
        ).otherwise(F.lit(0)).alias("is_change"),
    ).filter(F.col("is_change") == 1)
    w2 = Window.partitionBy("user_id").orderBy("us", "event_id")
    out = changes.select(
        "user_id",
        F.col("event_type").alias("attr"),
        F.col("us").alias("valid_from"),
        F.coalesce(
            F.lead("us").over(w2), F.lit(-1).cast("long")
        ).alias("valid_to"),
        F.lead("us").over(w2).isNull().cast("int").alias("is_current"),
    )
    return out


def q_streaks(spark, sf_dir):
    """Longest same-event-type streak per user: value-change islands
    (new streak where the lagged type differs — the dual of
    interval_union's overlap islands) over the frozen (ts, event_id)
    order, then min_by argmax on (len desc, start asc) — the exact
    deterministic tie-break, aggregation not window sort (the CLAUDE.md
    top-1 rule). One user-keyed Exchange serves both windows and the
    rollup. All exact ints + a categorical. FULL oracle."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    marked = e.select(
        "user_id", "event_id", "event_type", "us",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            F.lit(1),
        ).otherwise(F.lit(0)).alias("is_new"),
    ).select(
        "user_id", "event_type", "us",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("streak"),
    )
    streaks = marked.groupBy("user_id", "streak").agg(
        F.any_value("event_type").alias("stype"),
        F.count(F.lit(1)).alias("len"),
        F.min("us").alias("s0"),
    )
    # argmax by (len desc, s0 asc): min_by on the exact composite key
    return streaks.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("len").alias("best_len"),
        F.min_by(
            "stype", F.struct((-F.col("len")).alias("a"), F.col("s0").alias("b"))
        ).alias("best_type"),
    )


def q_interval_union(spark, sf_dir):
    """Per-user interval-union coverage (gaps-and-islands sweep): each
    event spans [ts, ts + value seconds] in exact µs ints; islands open
    where start exceeds the running max of all PRECEDING ends (one
    ordered window pass, the CUSUM window-identity discipline — no
    interval self-join, which is quadratic per user), then two exact
    aggregates give covered time + island count. Touching intervals
    (start == prev end) merge. The calendar/occupancy primitive the
    interval_join family lacked: union length, not pair matching.
    FULL oracle."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            + F.bround(F.col("value") * 100.0, 0).cast("long") * F.lit(10000)
        ).alias("en"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "en", "event_id")
    prev_max = F.max("en").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    stepped = e.select(
        "user_id", "event_id", "s", "en",
        (prev_max.isNull() | (F.col("s") > prev_max))
        .cast("long").alias("is_new"),
    ).select(
        "user_id", "s", "en",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("island"),
    )
    islands = stepped.groupBy("user_id", "island").agg(
        F.min("s").alias("i_s"),
        F.max("en").alias("i_en"),
        F.count(F.lit(1)).alias("n_iv"),
    )
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("i_en") - F.col("i_s")).alias("covered_us"),
        F.sum("n_iv").alias("n_intervals"),
    )


def q_acf(spark, sf_dir):
    """Per-user lag-k autocorrelation moments (k = 1..3): each user's
    value series ordered by the frozen (ts, event_id) tie-break, lagged
    pairs built by ONE window pass computing all three leads (never three
    shuffles), then a narrow struct-explode x3 and exact int64 Pearson
    moments per (user, lag) — n, sums, cross/product sums all exact
    cents integers, the autocorrelation r is a consumer-side ratio (the
    kendall rule). The time-series primitive the stats family lacked:
    spearman/ols correlate value against TIME, acf correlates the series
    against ITSELF. int64 budget: cents^2 * series length ~1e12 per user
    — five orders of slack. FULL oracle."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.bround(F.col("value") * 100.0, 0).cast("long").alias("v"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    led = e.select(
        "user_id", "v",
        *[F.lead("v", k).over(w).alias(f"v{k}") for k in (1, 2, 3)],
    )
    pairs = (
        led.select(
            "user_id", "v",
            F.explode(F.array(*[
                F.struct(F.lit(k).alias("lag_k"), F.col(f"v{k}").alias("y"))
                for k in (1, 2, 3)
            ])).alias("p"),
        )
        .select("user_id", "v", "p.lag_k", "p.y")
        .filter(F.col("y").isNotNull())
    )
    return pairs.groupBy("user_id", "lag_k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("v") * F.col("y")).alias("sxy"),
        F.sum(F.col("v") * F.col("v")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )


def q_haar_energy(spark, sf_dir):
    """Single-level Haar decomposition of the hourly arrival series per
    event type: hours pair as (2k, 2k+1); approx = sum, detail = diff —
    EXACT integers (the Haar transform needs no floats when the signal
    is counts), and the energy split sum(a^2) vs sum(d^2) measures how
    much structure lives at the finest time scale (white noise splits
    ~proportionally; smooth load puts energy in approx). A missing hour
    whose pair-sibling exists counts 0; pairs with BOTH hours empty
    emit no row (stated contract, identical both engines). One
    aggregate onto the exact pair key hour div 2. FULL oracle."""
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "unix_micros(cast(ts as timestamp)) div 3600000000"
        ).alias("hour"),
    )
    counts = e.groupBy("event_type", "hour").agg(
        F.count(F.lit(1)).alias("n")
    )
    # dense per-pair aggregate: missing hours contribute 0 implicitly
    # because sum/diff run over whichever parity rows exist
    paired = counts.select(
        "event_type",
        F.expr("hour div 2").alias("pair"),
        F.when(F.col("hour") % 2 == 0, F.col("n"))
        .otherwise(F.lit(0)).alias("even_n"),
        F.when(F.col("hour") % 2 == 1, F.col("n"))
        .otherwise(F.lit(0)).alias("odd_n"),
    ).groupBy("event_type", "pair").agg(
        F.sum("even_n").alias("a0"),
        F.sum("odd_n").alias("a1"),
    )
    a = F.col("a0") + F.col("a1")
    d = F.col("a0") - F.col("a1")
    return paired.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(a * a).alias("energy_approx"),
        F.sum(d * d).alias("energy_detail"),
    )


def q_benford_audit(spark, sf_dir):
    """Benford first-digit audit of the money column — the classic
    fabricated-data screen: observed first-significant-digit counts of
    positive cents vs the Benford expectation log10(1 + 1/d). Digit
    extraction is EXACT via string head (no log10 on the data path —
    transcendentals only enter as Python-precomputed literals shared by
    both engines); per-digit chi contributions are the 1e-6 fixed-point
    chi_square recipe. FULL oracle."""
    import math

    e = _t(spark, sf_dir, "events").select(
        F.bround(F.col("value") * 100.0, 0).cast("long").alias("cents")
    ).filter(F.col("cents") > 0)
    digit = F.substring(F.col("cents").cast("string"), 1, 1).cast("int")
    obs = e.select(digit.alias("d")).groupBy("d").agg(
        F.count(F.lit(1)).alias("n")
    )
    n_tot = e.count()
    # Benford expected share literals, precomputed once in Python
    p = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}
    exp_share = F.when(F.col("d") == 1, F.lit(p[1]))
    for d in range(2, 10):
        exp_share = exp_share.when(F.col("d") == d, F.lit(p[d]))
    expd = exp_share * F.lit(float(n_tot))
    cell = F.bround(
        (F.col("n").cast("double") - expd)
        * (F.col("n").cast("double") - expd) / expd * 1000000.0, 0,
    ).cast("long")
    return obs.select("d", "n", cell.alias("chi_fp"))


def q_fano_burstiness(spark, sf_dir):
    """Fano-factor burstiness per event type: dispersion of hourly
    arrival counts (variance / mean over the hour grid — F >> 1 means
    bursty, ~1 Poisson-like). Moments are EXACT int64 (counts, count
    squares over the exact hour key); the factor is the identical-path
    double ((q/k) - (s/k)^2) / (s/k), emitted unrounded. The time-
    dispersion sibling of anova's cross-group decomposition. Hours with
    zero events are NOT imputed (documented: the grid is the observed
    hour set per type, identical predicate both engines). FULL oracle."""
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "unix_micros(cast(ts as timestamp)) div 3600000000"
        ).alias("hour"),
    )
    counts = e.groupBy("event_type", "hour").agg(
        F.count(F.lit(1)).alias("n")
    )
    agg = counts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("s"),
        F.sum(F.col("n") * F.col("n")).alias("q"),
    )
    kd = F.col("k").cast("double")
    sd = F.col("s").cast("double")
    qd = F.col("q").cast("double")
    return agg.select(
        "event_type", "k", "s", "q",
        ((qd / kd - (sd / kd) * (sd / kd)) / (sd / kd)).alias("fano"),
    )


def q_trigram_paths(spark, sf_dir):
    """Top-20 length-3 event paths: per-user ordered type trigrams from
    ONE window pass computing both leads (the acf discipline), global
    counts, top-k as distributed TakeOrdered with the (count desc, path
    asc) frozen tie-break — sequence mining one step past
    event_transitions' bigrams, where the interesting structure
    (view>click>purchase vs view>view>view) actually lives. FULL
    oracle."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    tri = e.select(
        F.col("event_type").alias("a"),
        F.lead("event_type", 1).over(w).alias("b"),
        F.lead("event_type", 2).over(w).alias("c"),
    ).filter(F.col("c").isNotNull())
    return (
        tri.groupBy(
            F.concat_ws(">", F.col("a"), F.col("b"), F.col("c"))
            .alias("path")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("path").asc())
        .limit(20)
    )


def q_forecast_backtest(spark, sf_dir):
    """Seasonal-naive forecast backtest: predict each hour's event count
    by the SAME HOUR ONE DAY EARLIER (the baseline every real forecaster
    must beat), scored per event type over every hour with a lagged
    observation — MAE numerator and totals as EXACT integer sums
    (|count - count_lag24| is an int; no float ever enters), MAE itself
    an identical-path double. Missing base hours are skipped (not
    zero-filled) — documented contract, identical predicate both
    engines. One (type, hour) aggregate + one equi-join on the exact
    (type, hour - 24) key — a VALUE shift, not a 24-ROW window lag,
    which silently misaligns after any missing hour. The model-eval
    primitive (backtesting) the stats family lacked. FULL oracle."""
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "unix_micros(cast(ts as timestamp)) div 3600000000"
        ).alias("hour"),
    )
    counts = e.groupBy("event_type", "hour").agg(
        F.count(F.lit(1)).alias("n")
    )
    base = counts.select(
        "event_type",
        (F.col("hour") + F.lit(24)).alias("hour"),
        F.col("n").alias("n24"),
    )
    lagged = counts.join(base, ["event_type", "hour"])
    return lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(F.abs(F.col("n") - F.col("n24"))).alias("abs_err_sum"),
        F.sum("n").alias("actual_sum"),
        (
            F.sum(F.abs(F.col("n") - F.col("n24"))).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mae"),
    )


def q_psi_drift(spark, sf_dir):
    """Population-stability-index drift monitor: the value distribution
    of the FIRST time-half of the corpus vs the SECOND (split at the
    exact integer mid hour), over 10 fixed decile bins — the standard
    ML-serving input-drift gauge. Bin counts exact ints; per-bin
    (p-q)*ln(p/q) is an identical-path double HALF-EVEN rounded to 1e-9
    fixed point BEFORE the order-free sum (the bm25 recipe — ~9 orders
    of slack over the JVM-vs-DuckDB ln ulp), psi total rides every row
    via a full-frame window. Bins empty on either side are excluded
    IDENTICALLY on both engines (documented contract; this corpus
    populates all 10). FULL oracle."""
    e = _t(spark, sf_dir, "events").select(
        F.bround(F.col("value") * 100.0, 0).cast("long").alias("cents"),
        F.expr(
            "unix_micros(cast(ts as timestamp)) div 3600000000"
        ).alias("hour"),
    )
    lohi = e.agg(F.min("hour"), F.max("hour")).first()
    mid = (int(lohi[0]) + int(lohi[1]) + 1) // 2
    binned = e.select(
        F.least(F.expr("cents div 1000"), F.lit(9).cast("long")).alias("bin"),
        (F.col("hour") < mid).cast("long").alias("s1"),
    )
    counts = binned.groupBy("bin").agg(
        F.sum("s1").alias("n1"),
        F.sum(F.lit(1) - F.col("s1")).alias("n2"),
    ).filter((F.col("n1") > 0) & (F.col("n2") > 0))
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    nt1 = F.sum("n1").over(wall)
    nt2 = F.sum("n2").over(wall)
    p = F.col("n1").cast("double") / nt1.cast("double")
    q = F.col("n2").cast("double") / nt2.cast("double")
    term_fp = F.bround((p - q) * F.log(p / q) * 1000000000.0, 0).cast("long")
    scored = counts.select("bin", "n1", "n2", term_fp.alias("term_fp"))
    return scored.select(
        "bin", "n1", "n2", "term_fp",
        F.sum("term_fp").over(wall).alias("psi_fp"),
    )


def q_event_study(spark, sf_dir):
    """Event-study around purchases (the econometrics before/after
    shape): every same-user event within 1 hour of a purchase anchor is
    binned pre/post (same-timestamp rows are DROPPED — no defensible
    side; the anchor excludes itself by event id), then one exact
    aggregate yields n/sum per side and the diff-in-means as an
    identical-path double, unrounded. The pair fan-out is per-user
    anchors x events — the kendall per-key bounded contract. FULL
    oracle."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.bround(F.col("value") * 100.0, 0).cast("long").alias("cents"),
        "event_type",
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("pid"),
        F.col("us").alias("pus"),
    )
    j = e.join(p, "user_id").filter(
        (F.col("event_id") != F.col("pid"))
        & (F.abs(F.col("us") - F.col("pus")) <= 3600000000)
        & (F.col("us") != F.col("pus"))
    )
    pre = (F.col("us") < F.col("pus")).cast("long")
    post = (F.col("us") > F.col("pus")).cast("long")
    agg = j.agg(
        F.sum(pre).alias("n_pre"),
        F.sum(pre * F.col("cents")).alias("s_pre"),
        F.sum(post).alias("n_post"),
        F.sum(post * F.col("cents")).alias("s_post"),
    )
    return agg.select(
        "n_pre", "s_pre", "n_post", "s_post",
        (
            F.col("s_post").cast("double") / F.col("n_post").cast("double")
            - F.col("s_pre").cast("double") / F.col("n_pre").cast("double")
        ).alias("did_cents"),
    )


def q_lorenz_points(spark, sf_dir):
    """Lorenz-curve / ABC concentration points per event type: the
    revenue share captured by the top 10% and top 50% of users — gini's
    rank machinery read as the planner actually uses it (which slice of
    the key space carries the mass). Exact ints: descending rank,
    top-k%% membership via the exact rank identity rk <= (p*n + 99) div
    100, shares as identical-path doubles unrounded. FULL oracle."""
    e = _t(spark, sf_dir, "events").select(
        "event_type", "user_id",
        F.bround(F.col("value") * 100.0, 0).cast("long").alias("cents"),
    )
    tot = e.groupBy("event_type", "user_id").agg(
        F.sum("cents").alias("x")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("x").desc(), F.col("user_id").asc()
    )
    ranked = tot.select(
        "event_type", "x",
        F.row_number().over(w).cast("long").alias("rk"),
        F.count(F.lit(1)).over(
            Window.partitionBy("event_type")
        ).cast("long").alias("n"),
    )
    agg = ranked.groupBy("event_type").agg(
        F.max("n").alias("n_users"),
        F.sum("x").alias("total"),
        F.sum(
            F.when(
                F.col("rk") <= F.expr("(10 * n + 99) div 100"), F.col("x")
            ).otherwise(F.lit(0))
        ).alias("top10"),
        F.sum(
            F.when(
                F.col("rk") <= F.expr("(50 * n + 99) div 100"), F.col("x")
            ).otherwise(F.lit(0))
        ).alias("top50"),
    )
    return agg.select(
        "event_type", "n_users", "total", "top10", "top50",
        (F.col("top10").cast("double") / F.col("total").cast("double"))
        .alias("share10"),
        (F.col("top50").cast("double") / F.col("total").cast("double"))
        .alias("share50"),
    )


def q_embed_drift(spark, sf_dir):
    """Embedding-centroid drift between corpus halves — the vector twin
    of psi_drift for ML monitoring: per dimension, the exact-integer
    micro-unit centroids (the embedding_centroids discipline) of
    vec_id-even vs vec_id-odd vectors; the squared per-dim mean shift is
    HALF-EVEN 1e-9 fixed point BEFORE the order-free int sum (double
    sums over 64 dims are fold-order dependent). One posexplode + one
    (half, dim) aggregate. FULL oracle."""
    e = _t(spark, sf_dir, "embeddings").select(
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(F.col("embedding")).alias("dim", "v"),
    )
    agg = e.groupBy("half", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.bround(F.col("v").cast("double") * 1000000.0, 0).cast("long")
        ).alias("sum_u"),
    )
    a = agg.filter(F.col("half") == 0).select(
        "dim", F.col("n").alias("n0"), F.col("sum_u").alias("s0")
    )
    b = agg.filter(F.col("half") == 1).select(
        "dim", F.col("n").alias("n1"), F.col("sum_u").alias("s1")
    )
    j = a.join(b, "dim")
    d = (
        F.col("s0").cast("double") / F.col("n0").cast("double")
        - F.col("s1").cast("double") / F.col("n1").cast("double")
    )
    term = F.bround(d * d * 1000.0, 0).cast("long")
    return j.agg(
        F.count(F.lit(1)).alias("n_dims"),
        F.max("n0").alias("n_even"),
        F.max("n1").alias("n_odd"),
        F.sum(term).alias("shift2_fp"),
    )


def q_rfm_scores(spark, sf_dir):
    """RFM segmentation (recency / frequency / monetary) — the marketing
    staple, made exact: per-user last-purchase µs, purchase count and
    cents sum, each mapped to a quintile by the EXACT rank identity
    ((rank - 1) * 5) div n (never ntile, whose tie placement is
    engine-dependent; ranks tie-break on user_id so the mapping is a
    pure function). Emits the three quintiles + the packed RFM code.
    One user aggregate + three rank windows over the same Exchange.
    Scale note: global rank windows single-task past ~10^8 users —
    there, swap the exact rank for range-partitioned rank (sort +
    per-partition offsets) or quantile-sketch bucket edges. FULL
    oracle."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.bround(F.col("value") * 100.0, 0).cast("long").alias("cents"),
    )
    u = e.groupBy("user_id").agg(
        F.max("us").alias("last_us"),
        F.count(F.lit(1)).alias("freq"),
        F.sum("cents").alias("money"),
    )
    n = F.count(F.lit(1)).over(
        Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    ).cast("long")
    ranked = u.select(
        "user_id", "last_us", "freq", "money",
        F.row_number().over(
            Window.orderBy(F.col("last_us").desc(), F.col("user_id").asc())
        ).cast("long").alias("r_rk"),
        F.row_number().over(
            Window.orderBy(F.col("freq").desc(), F.col("user_id").asc())
        ).cast("long").alias("f_rk"),
        F.row_number().over(
            Window.orderBy(F.col("money").desc(), F.col("user_id").asc())
        ).cast("long").alias("m_rk"),
        n.alias("nu"),
    )
    out = ranked.select(
        "user_id",
        F.expr("((r_rk - 1) * 5) div nu").alias("r_q"),
        F.expr("((f_rk - 1) * 5) div nu").alias("f_q"),
        F.expr("((m_rk - 1) * 5) div nu").alias("m_q"),
    )
    return out.select(
        "user_id", "r_q", "f_q", "m_q",
        (
            F.col("r_q") * F.lit(100) + F.col("f_q") * F.lit(10)
            + F.col("m_q")
        ).alias("rfm_code"),
    )


def q_cohort_retention(spark, sf_dir):
    """Cohort retention matrix — the product-analytics staple: users
    cohorted by their FIRST event week (exact µs div), each later week
    of activity lands in (cohort_week, week_offset) with a distinct-user
    count; retention rate = n_active / cohort_size, an identical-path
    double emitted unrounded. Two aggregates + one broadcast-shaped
    cohort join (first-event table is |users|), all exact ints; the
    week key is integer `div` (the hotspot_persist µs rule). FULL
    oracle."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select(
        "user_id",
        F.expr(
            "unix_micros(cast(ts as timestamp)) div 86400000000"
        ).alias("week"),
    )
    first = e.groupBy("user_id").agg(F.min("week").alias("cohort"))
    sizes = first.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    act = (
        e.join(F.broadcast(first), "user_id")
        .select("cohort", (F.col("week") - F.col("cohort")).alias("offset"),
                "user_id")
        .distinct()
        .groupBy("cohort", "offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return act.join(F.broadcast(sizes), "cohort").select(
        "cohort", "offset", "n_active", "cohort_users",
        (
            F.col("n_active").cast("double")
            / F.col("cohort_users").cast("double")
        ).alias("retention"),
    )


def q_referential_audit(spark, sf_dir):
    """Referential-integrity audit across the warehouse FKs — the data-
    quality gate a 100 TB ingest runs before publishing a snapshot:
    for each declared FK edge (lineitem.l_orderkey -> orders,
    orders.o_custkey -> customer, customer.c_nationkey -> nation,
    supplier.s_nationkey -> nation), the EXACT count of child rows,
    orphan child rows (left-anti), and distinct orphan keys. Each edge
    is one anti-join against the (broadcastable) parent key set — four
    independent scans, no cross-edge shuffle. FULL oracle."""
    def edge(name, child, ckey, parent, pkey):
        c = _t(spark, sf_dir, child).select(F.col(ckey).alias("k"))
        p = _t(spark, sf_dir, parent).select(F.col(pkey).alias("k")).distinct()
        orphans = c.join(F.broadcast(p), "k", "left_anti")
        return (
            c.agg(F.count(F.lit(1)).alias("child_rows")).crossJoin(
                orphans.agg(
                    F.count(F.lit(1)).alias("orphan_rows"),
                    F.countDistinct("k").alias("orphan_keys"),
                )
            ).select(
                F.lit(name).alias("fk"),
                "child_rows", "orphan_rows", "orphan_keys",
            )
        )

    edges = [
        edge("lineitem.orderkey", "lineitem", "l_orderkey",
             "orders", "o_orderkey"),
        edge("orders.custkey", "orders", "o_custkey",
             "customer", "c_custkey"),
        edge("customer.nationkey", "customer", "c_nationkey",
             "nation", "n_nationkey"),
        edge("supplier.nationkey", "supplier", "s_nationkey",
             "nation", "n_nationkey"),
    ]
    out = edges[0]
    for e in edges[1:]:
        out = out.unionByName(e)
    return out


def q_join_profile(spark, sf_dir):
    """Join-skew profile WITHOUT running the join — the planning
    diagnostic behind this repo's salting rules: for orders JOIN lineitem
    ON custkey-derived keys, the exact output cardinality is
    sum_k n1_k * n2_k over the key histograms (two aggregates + one
    key-keyed equi-join of COUNTS — never the join itself), plus the
    skew shape that decides salting: max and top-decile per-key pair
    counts, distinct/matched key counts. All exact int64. At 100 TB this
    is the cheap pre-flight that catches the 10^12-pair hot key before
    it takes the cluster down. (The rank window runs over the MATCHED
    KEY histogram — already two aggregations smaller than the data; at
    10^10 keys swap the exact decile for a pairs-weighted quantile
    sketch.) FULL oracle."""
    o = _t(spark, sf_dir, "orders").groupBy(
        F.col("o_custkey").alias("k")
    ).agg(F.count(F.lit(1)).alias("n1"))
    l = _t(spark, sf_dir, "lineitem").groupBy(
        (F.col("l_orderkey") % 1500).alias("k")
    ).agg(F.count(F.lit(1)).alias("n2"))
    m = o.join(l, "k")
    pairs = (F.col("n1") * F.col("n2")).alias("pairs")
    per_key = m.select("k", pairs)
    w = Window.orderBy(F.col("pairs").desc(), F.col("k").asc())
    ranked = per_key.select(
        "pairs",
        F.row_number().over(w).cast("long").alias("rn"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("long").alias("nk"),
    )
    return ranked.agg(
        F.sum("pairs").alias("total_pairs"),
        F.max("nk").alias("matched_keys"),
        F.max("pairs").alias("max_key_pairs"),
        # top-decile mass: the salting trigger — pairs carried by the
        # hottest 10% of keys (rank <= ceil(nk/10), exact ints)
        F.sum(
            F.when(
                F.col("rn") <= F.expr("(nk + 9) div 10"),
                F.col("pairs"),
            ).otherwise(F.lit(0))
        ).alias("top_decile_pairs"),
    )


def q_skyline(spark, sf_dir):
    """2D skyline (Pareto frontier) of users on (total spend, activity):
    a user survives iff no other user strictly dominates on both axes.
    The textbook sort-order identity replaces the O(n^2) dominance
    self-join: ordered by (x desc, y desc, id), a point is dominated iff
    some PRECEDING point has strictly larger x AND y — equivalently
    iff max(y) over preceding rows with larger x exceeds y; with equal
    x never dominating on x, that is the prefix-max of per-x-block y
    maxima over the [unbounded, 1 PRECEDING] frame — one group
    aggregate + one window. Implemented with exact ints only: spend cents
    and event counts. ONE sort-shuffle, zero joins. Scale note: the
    unpartitioned window runs on ONE task over the distinct-x frame
    (already aggregated — narrow and far smaller than the input); past
    ~10^8 distinct values, range-partition by x and stitch the per-range
    prefix maxima (an associative scan). FULL oracle."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.bround(F.col("value") * 100.0, 0).cast("long").alias("cents"),
    )
    u = e.groupBy("user_id").agg(
        F.sum("cents").alias("x"),
        F.count(F.lit(1)).alias("y"),
    )
    # prefix max of y over all rows with STRICTLY larger x: rank x-blocks
    # descending, take each block's max y, then the running max of all
    # PRECEDING blocks (lag of the cumulative max over block rows).
    wb = Window.orderBy(F.col("x").desc())
    blocks = (
        u.groupBy("x").agg(F.max("y").alias("block_max"))
        .select(
            "x",
            F.max("block_max").over(
                wb.rowsBetween(Window.unboundedPreceding, -1)
            ).alias("prev_max_y"),
        )
    )
    return (
        u.join(blocks, "x")
        .filter(
            F.col("prev_max_y").isNull()
            | (F.col("y") >= F.col("prev_max_y"))
        )
        .select("user_id", "x", "y")
    )


def q_decay_score(spark, sf_dir):
    """Recency-decayed engagement score per user with a POWER-OF-TWO
    half-life (1 hour): score = sum(cents_i * 2^(32 - age_h)) for ages
    <= 32 hours before the corpus max hour, else 0 — the exponential-
    decay ranking signal made EXACT int64 (2^k scaling only shifts the
    exponent, the tile_pyramid halving identity applied to TIME; float
    exp() decay is fold-order dependent and unreplayable). Budget:
    cents*2^32*rows ~ 4e17 << 2^63. Consumers normalize by 2^32 — the
    ratio is the conventional decayed score. The as-of point is the
    corpus max hour (exact int, same aggregate both engines).
    FULL oracle."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.bround(F.col("value") * 100.0, 0).cast("long").alias("cents"),
        F.expr(
            "unix_micros(cast(ts as timestamp)) div 3600000000"
        ).alias("hour"),
    )
    mx = e.agg(F.max("hour")).first()[0]
    age = F.lit(int(mx)) - F.col("hour")
    term = F.when(
        age <= 32,
        F.col("cents")
        * F.pow(F.lit(2.0), (F.lit(32) - age).cast("double")).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    return e.groupBy("user_id").agg(
        F.sum(term).alias("decayed_fp"),
        F.sum((age <= 32).cast("long")).alias("n_live"),
        F.lit(int(mx)).cast("long").alias("as_of_hour"),
    )


def q_gini(spark, sf_dir):
    """Gini concentration of per-user spend within each event type: the
    inequality statistic via the exact rank-moment identity
    num = sum((2i - n - 1) * x_(i)) over the ascending-sorted user
    totals — within a tied block the coefficient multiset is fixed and x
    constant, so the numerator is TIE-ORDER INVARIANT (exact int64, no
    midranks needed; ranks use the (x, user) order purely for
    determinism). G = num / (n * S) is consumer-side; also emitted as an
    identical-path double, unrounded. One group-keyed Exchange serves
    the ranking window and the aggregate. FULL oracle."""
    e = _t(spark, sf_dir, "events").select(
        "event_type", "user_id",
        F.bround(F.col("value") * 100.0, 0).cast("long").alias("cents"),
    )
    tot = e.groupBy("event_type", "user_id").agg(
        F.sum("cents").alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("x", "user_id")
    ranked = tot.select(
        "event_type", "x",
        F.row_number().over(w).cast("long").alias("i"),
        F.count(F.lit(1)).over(
            Window.partitionBy("event_type")
        ).cast("long").alias("n"),
    )
    agg = ranked.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.sum("x").alias("s"),
        F.sum(
            (F.lit(2) * F.col("i") - F.col("n") - F.lit(1)) * F.col("x")
        ).alias("num"),
    )
    return agg.select(
        "event_type", "n", "s", "num",
        (
            F.col("num").cast("double")
            / (F.col("n").cast("double") * F.col("s").cast("double"))
        ).alias("gini"),
    )


def q_anova(spark, sf_dir):
    """One-way ANOVA F over event_type groups on exact fixed-point cents:
    per-group moments (n_g, S_g, Q_g) are exact int64; each group's
    S_g^2/n_g between-term is an identical-path double FLOOR-quantized
    to 1e-6 fixed point BEFORE the order-free int64 sum (the chi_square
    recipe — double sums over groups are order-dependent, int sums are
    not; floor, NOT half-even: S^2*1e6/n lands on EXACT .5 ties at
    ~2^52 magnitude where DuckDB round_even mis-rounds away from even —
    measured r5s8, CLAUDE.md pin; floor of the identical double is
    tie-free), and F itself is a pure ratio of those exact ints via
    identical-path divisions, emitted UNROUNDED (identical-exact-int
    rule). The S*S products go through double FIRST (cast then multiply)
    so no integer overflow exists at any SF; Q*1e6 bounds the int64
    budget at ~1e18 per 600k-row group (stated contract, the ols_slope
    rule). Completes the classical-test family (mann_whitney / chi_square
    / ks_test) with the k-group mean comparison. FULL oracle."""
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.bround(F.col("value") * 100.0, 0).cast("long").alias("x"),
    )
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum("x").alias("s_g"),
        F.sum(F.col("x") * F.col("x")).alias("q_g"),
    )
    t_g = F.floor(
        F.col("s_g").cast("double") * F.col("s_g").cast("double")
        / F.col("n_g").cast("double") * 1000000.0
    ).cast("long")
    tot = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("s"),
        F.sum("q_g").alias("q"),
        F.sum(t_g).alias("t_groups"),
    )
    t_all = F.floor(
        F.col("s").cast("double") * F.col("s").cast("double")
        / F.col("n").cast("double") * 1000000.0
    ).cast("long")
    ssb = F.col("t_groups") - t_all
    ssw = F.col("q") * F.lit(1000000) - F.col("t_groups")
    return tot.select(
        "k", "n",
        ssb.alias("ssb_fp"),
        ssw.alias("ssw_fp"),
        (
            ssb.cast("double") / (F.col("k") - F.lit(1)).cast("double")
            / (ssw.cast("double") / (F.col("n") - F.col("k")).cast("double"))
        ).alias("f_stat"),
    )


def q_time_to_convert(spark, sf_dir):
    """Time-to-convert distribution: per user, µs from the FIRST view to
    the first purchase strictly after it (two argmin aggregates + one
    user-keyed band join — never a window over the full event stream),
    then exact-µs quantiles over converting users (Spark native
    percentile == DuckDB quantile_cont bit-equal, the length_quantiles
    pairing). The funnel's latency profile — funnel_steps counts who
    converts, this measures how fast. FULL oracle."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    v0 = e.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("us").alias("v0")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("us").alias("pus")
    )
    conv = (
        p.join(F.broadcast(v0), "user_id")
        .filter(F.col("pus") > F.col("v0"))
        .groupBy("user_id")
        .agg((F.min("pus") - F.min("v0")).alias("gap"))
    )
    qs = F.percentile(F.col("gap"), F.array(
        F.lit(0.25), F.lit(0.5), F.lit(0.9)
    ))
    return conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        qs.getItem(0).alias("p25_us"),
        qs.getItem(1).alias("p50_us"),
        qs.getItem(2).alias("p90_us"),
    )


def q_ab_test(spark, sf_dir):
    """Two-proportion A/B report: users split into arms by id parity
    (the hash_split discipline — assignment is a pure function of the
    key), conversion = purchase share of events per arm; exact counts
    plus the pooled two-proportion z statistic as an identical-path
    double of exact ints (single correctly-rounded sqrt/divisions),
    emitted unrounded. The experimentation primitive the stats family
    lacked — chi_square tests the whole table, this tests ONE contrast.
    FULL oracle."""
    e = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 2).alias("arm"),
        (F.col("event_type") == "purchase").cast("long").alias("conv"),
    )
    g = e.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("conv").alias("x"),
    )
    a = g.filter(F.col("arm") == 0).select(
        F.col("n").alias("n1"), F.col("x").alias("x1")
    )
    b = g.filter(F.col("arm") == 1).select(
        F.col("n").alias("n2"), F.col("x").alias("x2")
    )
    j = a.crossJoin(b)
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    p1 = F.col("x1").cast("double") / n1d
    p2 = F.col("x2").cast("double") / n2d
    pp = (F.col("x1") + F.col("x2")).cast("double") / (
        (F.col("n1") + F.col("n2")).cast("double")
    )
    z = (p1 - p2) / F.sqrt(
        pp * (F.lit(1.0) - pp) * (F.lit(1.0) / n1d + F.lit(1.0) / n2d)
    )
    return j.select("n1", "x1", "n2", "x2", z.alias("z"))


def q_mutual_info(spark, sf_dir):
    """Mutual information of (event_type, user cohort) — the information-
    theoretic sibling of chi_square on the same contingency table:
    MI = sum p_ij * ln(p_ij / (p_i * q_j)), each cell an identical-path
    double HALF-EVEN rounded to 1e-9 fixed point before the order-free
    int sum (the bm25/psi ln recipe; all probability inputs are exact
    integer counts over one N). FULL oracle."""
    e = _t(spark, sf_dir, "events").select(
        "event_type", (F.col("user_id") % 4).alias("cohort")
    )
    obs = e.groupBy("event_type", "cohort").agg(F.count(F.lit(1)).alias("o"))
    rows = obs.groupBy("event_type").agg(F.sum("o").alias("r"))
    cols = obs.groupBy("cohort").agg(F.sum("o").alias("c"))
    n = e.count()
    j = obs.join(F.broadcast(rows), "event_type").join(
        F.broadcast(cols), "cohort"
    )
    nd = F.lit(float(n))
    pij = F.col("o").cast("double") / nd
    pi = F.col("r").cast("double") / nd
    qj = F.col("c").cast("double") / nd
    cell = F.bround(
        pij * F.log(pij / (pi * qj)) * 1000000000.0, 0
    ).cast("long")
    return j.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.lit(int(n)).cast("long").alias("n"),
        F.sum(cell).alias("mi_fp"),
    )


def q_kendall(spark, sf_dir):
    """Kendall concordance counts per user (value vs time): for every
    event pair, classify concordant / discordant / value-tie by the sign
    of (dt * dv) — PURE exact counting, no ranks, no floats; tau-b is a
    consumer-side ratio of these exact counts. Pair fan-out bounded by
    per-key stream length (the theil_sen contract). FULL oracle."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.bround(F.col("value") * 1000000.0, 0).cast("long").alias("v"),
    )
    a = e.select("user_id", F.col("event_id").alias("i"),
                 F.col("us").alias("t_i"), F.col("v").alias("v_i"))
    b = e.select("user_id", F.col("event_id").alias("j"),
                 F.col("us").alias("t_j"), F.col("v").alias("v_j"))
    p = a.join(b, "user_id").filter(
        (F.col("i") < F.col("j")) & (F.col("t_i") != F.col("t_j"))
    )
    dt = F.col("t_j") - F.col("t_i")
    dv = F.col("v_j") - F.col("v_i")
    # sign comparison, never the product (dt_us * dv_u overflows int64)
    conc = ((dt > 0) & (dv > 0)) | ((dt < 0) & (dv < 0))
    disc = ((dt > 0) & (dv < 0)) | ((dt < 0) & (dv > 0))
    return p.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(conc.cast("long")).alias("nc"),
        F.sum(disc.cast("long")).alias("nd"),
        F.sum((dv == 0).cast("long")).alias("n_vtie"),
    )


def q_spearman(spark, sf_dir):
    """Spearman rank-correlation moments per user (value vs time): both
    variables converted to DOUBLED tie mid-ranks (2*mr = 2*(rank-1) +
    cnt_eq + 1, all integers — the mann_whitney rank machinery applied
    per-key to two variables), then the exact integer moments n, sum(rx*ry),
    sum(rx^2), sum(ry^2); rho is a consumer-side ratio (sum(r) == n(n+1)
    identically, so first moments are derivable and omitted). Doubled
    midranks <= 2n keep every moment within int64 up to ~1e6 rows per key
    (the theil_sen per-key contract). One shuffle on user_id serves both
    rank windows and the final aggregate. FULL oracle."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("x"),
        F.bround(F.col("value") * 1000000.0, 0).cast("long").alias("y"),
    )

    def mr2(col):
        rank_w = Window.partitionBy("user_id").orderBy(col)
        eq_w = Window.partitionBy("user_id", col)
        return (2 * (F.rank().over(rank_w) - 1) + F.count(F.lit(1)).over(eq_w))

    r = e.select(
        "user_id", mr2("x").alias("rx2"), mr2("y").alias("ry2")
    )
    return r.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("rx2") * F.col("ry2")).cast("long").alias("sxy2"),
        F.sum(F.col("rx2") * F.col("rx2")).cast("long").alias("sxx2"),
        F.sum(F.col("ry2") * F.col("ry2")).cast("long").alias("syy2"),
    )


def q_ks_test(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov D per user ('click' vs 'view'
    values), EXACT: D's numerator max|n2*F1(v) - n1*F2(v)| over the
    distinct-value frame is a pure integer (cumulative counts times
    sample sizes; D = d_num/(n1*n2) consumer-side) — the ECDF-statistic
    sibling of mann_whitney's rank machinery, one running sum per group
    over the same frame. Products bounded by n^2 per key (int64-safe to
    ~3e9 rows/key). FULL oracle."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    ).select(
        "user_id",
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("g1"),
        F.bround(F.col("value") * 1000000.0, 0).cast("long").alias("v"),
    )
    c = e.groupBy("user_id", "v").agg(
        F.sum("g1").cast("long").alias("eq1"),
        F.sum(1 - F.col("g1")).cast("long").alias("eq2"),
    )
    cum_w = Window.partitionBy("user_id").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    all_w = Window.partitionBy("user_id")
    w = c.select(
        "user_id",
        F.sum("eq1").over(cum_w).alias("cum1"),
        F.sum("eq2").over(cum_w).alias("cum2"),
        F.sum("eq1").over(all_w).alias("n1"),
        F.sum("eq2").over(all_w).alias("n2"),
    )
    return (
        w.filter((F.col("n1") > 0) & (F.col("n2") > 0))
        .groupBy("user_id")
        .agg(
            F.max("n1").cast("long").alias("n1"),
            F.max("n2").cast("long").alias("n2"),
            F.max(
                F.abs(F.col("n2") * F.col("cum1") - F.col("n1") * F.col("cum2"))
            ).cast("long").alias("d_num"),
        )
    )


def q_pivot_counts(spark, sf_dir):
    """Long->wide pivot (the groupBy().pivot() API surface — §2.4's other
    reshaping op beside ROLLUP/CUBE): per user one column pair per event
    type (count + exact fixed-point cents sum). The pivot VALUES are
    declared explicitly — never the two-pass collect-distinct Spark falls
    back to, which is a full extra scan at 100 TB and nondeterministic
    column order. One shuffle; missing cells are 0-filled so the wide
    schema is total. FULL oracle (conditional-aggregation replay)."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.bround(F.col("value") * 100.0, 0).cast("long").alias("cents"),
    )
    wide = (
        e.groupBy("user_id")
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents"),
        )
    )
    cols = [F.col("user_id")]
    for t in _EVENT_TYPES:
        cols.append(F.coalesce(F.col(f"{t}_n"), F.lit(0)).cast("long").alias(f"{t}_n"))
        cols.append(F.coalesce(F.col(f"{t}_cents"), F.lit(0)).cast("long").alias(f"{t}_cents"))
    return wide.select(*cols)


def q_unpivot(spark, sf_dir):
    """Wide->long unpivot (DataFrame.unpivot / SQL stack()): melts the
    pivoted per-user matrix back to (user_id, event_type, n, cents) rows
    and drops all-empty cells — the exact inverse of q_pivot_counts, so
    the pair is a round-trip identity on the engine side. Zero extra
    shuffle beyond the pivot's own: unpivot is a narrow row-generator.
    FULL oracle (the long form is just the grouped aggregate)."""
    wide = q_pivot_counts(spark, sf_dir)
    pairs = []
    for t in _EVENT_TYPES:
        pairs.append(F.struct(
            F.lit(t).alias("event_type"),
            F.col(f"{t}_n").alias("n"),
            F.col(f"{t}_cents").alias("cents"),
        ))
    return (
        wide.select("user_id", F.explode(F.array(*pairs)).alias("m"))
        .select("user_id", "m.event_type", "m.n", "m.cents")
        .filter(F.col("n") > 0)
    )


def q_edge_churn(spark, sf_dir):
    """Graph-evolution churn: the co-visitation edge set (pairs sharing
    >= 2 distinct tiles) built independently on the FIRST and SECOND
    time-halves of the corpus, then compared as sets — stable /
    disappeared / new edge counts and the identical-path Jaccard
    stability ratio. The monitoring layer for every graph operator in
    the repo: how fast does the relationship structure drift? One
    presence pass per half (same scan, split by the exact mid hour),
    full-outer pair join with presence flags (the snapshot_diff shape
    on a DERIVED table). FULL oracle."""
    from extractors_metadata_spark.functions.spark_udfs import tile_xy_udf

    lat, lon = _latlon_dbl()
    e = _t(spark, sf_dir, "events").select(
        "user_id", lat, lon,
        F.expr(
            "unix_micros(cast(ts as timestamp)) div 3600000000"
        ).alias("hour"),
    )
    lohi = e.agg(F.min("hour"), F.max("hour")).first()
    mid = (int(lohi[0]) + int(lohi[1]) + 1) // 2
    t = e.withColumn("_t", tile_xy_udf(22)("lat", "lon")).select(
        F.col("_t.x").alias("x"), F.col("_t.y").alias("y"),
        "user_id",
        (F.col("hour") < mid).cast("int").alias("early"),
    )
    pres = t.distinct()

    def pair_edges(flag):
        p = pres.filter(F.col("early") == flag)
        a = p.select("x", "y", F.col("user_id").alias("u_a"))
        b = p.select("x", "y", F.col("user_id").alias("u_b"))
        return (
            a.join(b, ["x", "y"])
            .filter(F.col("u_a") < F.col("u_b"))
            .groupBy("u_a", "u_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= 2)
            .select("u_a", "u_b")
        )

    e1 = pair_edges(1).withColumn("p1", F.lit(1))
    e2 = pair_edges(0).withColumn("p2", F.lit(1))
    j = e1.join(e2, ["u_a", "u_b"], "full_outer")
    agg = j.agg(
        F.sum(F.coalesce(F.col("p1"), F.lit(0))).alias("n_early"),
        F.sum(F.coalesce(F.col("p2"), F.lit(0))).alias("n_late"),
        F.sum(
            (F.col("p1").isNotNull() & F.col("p2").isNotNull())
            .cast("long")
        ).alias("n_stable"),
        F.count(F.lit(1)).alias("n_union"),
    )
    return agg.select(
        "n_early", "n_late", "n_stable", "n_union",
        (
            F.col("n_stable").cast("double") / F.col("n_union").cast("double")
        ).alias("jaccard"),
    )


def q_convoy_pairs(spark, sf_dir):
    """Convoy detection (flock mining): user pairs co-located in the
    same z22 tile for >= 3 CONSECUTIVE hours — co_movement's bucket
    pairs upgraded with the temporal-contiguity requirement via the
    islands discipline (hour-gap > 1 opens a new run) applied to PAIR
    presence. Emits per-pair total co-located hours, run count and the
    longest run, keeping only pairs whose max run >= 3. Candidate
    generation stays bucket-local (distinct presence -> bucket-keyed
    self-join — the pmi/co_visitation discipline); the pair-keyed
    windows ride one Exchange. FULL oracle."""
    from extractors_metadata_spark.functions.spark_udfs import tile_xy_udf

    lat, lon = _latlon_dbl()
    e = _t(spark, sf_dir, "events").select(
        "user_id", lat, lon,
        F.expr(
            "unix_micros(cast(ts as timestamp)) div 3600000000"
        ).alias("hour"),
    )
    t = e.withColumn("_t", tile_xy_udf(22)("lat", "lon")).select(
        F.col("_t.x").alias("x"), F.col("_t.y").alias("y"),
        "user_id", "hour",
    )
    pres = t.select("x", "y", "hour", "user_id").distinct()
    a = pres.select("x", "y", "hour", F.col("user_id").alias("u_a"))
    b = pres.select("x", "y", "hour", F.col("user_id").alias("u_b"))
    ph = (
        a.join(b, ["x", "y", "hour"])
        .filter(F.col("u_a") < F.col("u_b"))
        .select("u_a", "u_b", "hour")
        .distinct()
    )
    w = Window.partitionBy("u_a", "u_b").orderBy("hour")
    marked = ph.select(
        "u_a", "u_b", "hour",
        F.when(
            F.lag("hour").over(w).isNull()
            | ((F.col("hour") - F.lag("hour").over(w)) > 1),
            F.lit(1),
        ).otherwise(F.lit(0)).alias("is_new"),
    ).select(
        "u_a", "u_b", "hour",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("run"),
    )
    runs = marked.groupBy("u_a", "u_b", "run").agg(
        F.count(F.lit(1)).alias("len")
    )
    return runs.groupBy("u_a", "u_b").agg(
        F.sum("len").alias("n_hours"),
        F.count(F.lit(1)).alias("n_runs"),
        F.max("len").alias("max_run"),
    ).filter(F.col("max_run") >= 3)


def q_gravity_residuals(spark, sf_dir):
    """Gravity-model residuals over the step-level OD flow matrix — the
    spatial-interaction analysis classic: observed flow n_ij between
    origin/destination cells vs the marginal-product expectation
    O_i * D_j / T, emitting per-flow exact counts, the identical-path
    expectation and the 1e-6 fixed-point chi residual (O-E)^2/E (the
    chi_square recipe on a SPATIAL contingency). Flows from consecutive
    same-user steps (one lag window), cells nanodegree-quantized with
    nonneg shift. Marginals broadcast back onto the flow table. FULL
    oracle."""
    lat, lon = _latlon_dbl()
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        lat, lon,
    ).select(
        "user_id", "us", "event_id",
        ((F.bround(F.col("lon") * 1000000000.0, 0).cast("long")
          + F.lit(120000000000)) / F.lit(200000)).cast("long").alias("cx"),
        (F.bround(F.col("lat") * 1000000000.0, 0).cast("long")
         / F.lit(200000)).cast("long").alias("cy"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    steps = e.select(
        F.lag("cx").over(w).alias("ox"),
        F.lag("cy").over(w).alias("oy"),
        F.col("cx").alias("dx"),
        F.col("cy").alias("dy"),
    ).filter(F.col("ox").isNotNull())
    flows = steps.groupBy("ox", "oy", "dx", "dy").agg(
        F.count(F.lit(1)).alias("n")
    )
    og = flows.groupBy("ox", "oy").agg(F.sum("n").alias("o_tot"))
    dg = flows.groupBy("dx", "dy").agg(F.sum("n").alias("d_tot"))
    t = steps.count()
    j = flows.join(F.broadcast(og), ["ox", "oy"]).join(
        F.broadcast(dg), ["dx", "dy"]
    )
    expd = (F.col("o_tot") * F.col("d_tot")).cast("double") / F.lit(float(t))
    resid = F.bround(
        (F.col("n").cast("double") - expd)
        * (F.col("n").cast("double") - expd) / expd * 1000000.0, 0,
    ).cast("long")
    return j.select(
        "ox", "oy", "dx", "dy", "n", "o_tot", "d_tot",
        resid.alias("resid_fp"),
    )


def q_turn_stats(spark, sf_dir):
    """Per-user turning behavior: consecutive step-vector pairs
    classified left / right / straight-on / reverse by the SIGNS of the
    exact integer cross and dot products (the track_crossings
    orientation discipline applied to successive steps — zero trig,
    like move_rose but about CHANGE of heading, not heading). Zero
    steps are dropped before pairing so every classified turn is
    well-defined. Nanodegree quantize-once; cross/dot ~1e12 << 2^63.
    FULL oracle."""
    lat, lon = _latlon_dbl()
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        lat, lon,
    ).select(
        "user_id", "event_id", "us",
        F.bround(F.col("lon") * 1000000000.0, 0).cast("long").alias("xi"),
        F.bround(F.col("lat") * 1000000000.0, 0).cast("long").alias("yi"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    steps = e.select(
        "user_id", "us", "event_id",
        (F.col("xi") - F.lag("xi").over(w)).alias("dx"),
        (F.col("yi") - F.lag("yi").over(w)).alias("dy"),
    ).filter(
        F.col("dx").isNotNull() & ~((F.col("dx") == 0) & (F.col("dy") == 0))
    )
    w2 = Window.partitionBy("user_id").orderBy("us", "event_id")
    pairs = steps.select(
        "user_id",
        F.lag("dx").over(w2).alias("ax"),
        F.lag("dy").over(w2).alias("ay"),
        F.col("dx").alias("bx"),
        F.col("dy").alias("by"),
    ).filter(F.col("ax").isNotNull())
    cross = F.col("ax") * F.col("by") - F.col("ay") * F.col("bx")
    dot = F.col("ax") * F.col("bx") + F.col("ay") * F.col("by")
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum((cross > 0).cast("long")).alias("n_left"),
        F.sum((cross < 0).cast("long")).alias("n_right"),
        F.sum(((cross == 0) & (dot > 0)).cast("long")).alias("n_straight"),
        F.sum(((cross == 0) & (dot < 0)).cast("long")).alias("n_reverse"),
    )


def q_rdp_simplify(spark, sf_dir):
    """Bounded-depth RDP polyline simplification
    (operators/trajectory.rdp_keep): per-user kept vertices at depth 2,
    eps = 600 microdegrees — perpendicular tests as exact integer
    cross^2 > eps^2*chord^2 comparisons (MICROdegrees, not nano: the
    depth-2 cross^2 budget), splitter = (|cross| desc, seq asc) exact
    argmax. FULL oracle: both levels replayed with row_number argmax
    (the DuckDB min_by-struct fallback)."""
    from extractors_metadata_spark.operators.trajectory import rdp_keep

    lat, lon = _latlon_dbl()
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        lat, lon,
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    pts = e.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("seq"),
        F.bround(F.col("lon") * 1000000.0, 0).cast("long").alias("x"),
        F.bround(F.col("lat") * 1000000.0, 0).cast("long").alias("y"),
    )
    return rdp_keep(pts, eps=600)


def q_move_rose(spark, sf_dir):
    """Movement direction rose: per-user consecutive step vectors
    (nanodegree ints, quantize-once) classified into 8 compass octants
    with ZERO trig — sector boundaries at 45-degree multiples are exact
    integer sign/magnitude comparisons (half-open [k*45, (k+1)*45), the
    branch chain proven per-boundary in test_move_rose). Zero steps
    drop. Emits per (user, sector) step counts + exact Chebyshev step
    mass. The compass-histogram primitive without a single
    transcendental — contrast idw/tiles where the trig is quantized
    once; here it is eliminated. FULL oracle."""
    lat, lon = _latlon_dbl()
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        lat, lon,
    ).select(
        "user_id", "event_id", "us",
        F.bround(F.col("lon") * 1000000000.0, 0).cast("long").alias("xi"),
        F.bround(F.col("lat") * 1000000000.0, 0).cast("long").alias("yi"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    dx = F.col("xi") - F.lag("xi").over(w)
    dy = F.col("yi") - F.lag("yi").over(w)
    steps = e.select("user_id", dx.alias("dx"), dy.alias("dy")).filter(
        F.col("dx").isNotNull() & ~((F.col("dx") == 0) & (F.col("dy") == 0))
    )
    from extractors_metadata_spark.operators.trajectory import octant_sector

    dxc, dyc = F.col("dx"), F.col("dy")
    sector = octant_sector(dxc, dyc)
    return steps.groupBy("user_id", sector.alias("sector")).agg(
        F.count(F.lit(1)).alias("n_steps"),
        F.sum(F.greatest(F.abs(dxc), F.abs(dyc))).alias("cheb_sum"),
    )


def q_track_crossings(spark, sf_dir):
    """Trajectory self-intersection counts (trajectory.track_crossings):
    strictly-proper segment crossings per user via four exact-integer
    orientation sign tests on nanodegree-quantized coordinates — the
    sweep-line primitive of geometry engines as a per-key bounded pair
    join. The quantize-once rule (idw_surface) makes the doubles
    bit-identical before they become ints; everything downstream is
    exact. FULL oracle."""
    from extractors_metadata_spark.operators.trajectory import track_crossings

    lat, lon = _latlon_dbl()
    e = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", lat, lon
    ).select(
        "user_id", "ts", "event_id",
        F.bround(F.col("lon") * 1000000000.0, 0).cast("long").alias("xi"),
        F.bround(F.col("lat") * 1000000000.0, 0).cast("long").alias("yi"),
    )
    return track_crossings(e)


def q_contact_crossings(spark, sf_dir):
    """Cross-user path-crossing join (trajectory.contact_crossings):
    strictly-proper intersections between two users' SAME-HOUR movement
    segments — encounter mining with temporal blocking as the scale
    contract (per-hour bounded pair fan-out, never all user pairs).
    Nanodegree quantize-once coords, integer bbox reject, four
    orientation sign tests. FULL oracle."""
    from extractors_metadata_spark.operators.trajectory import contact_crossings

    lat, lon = _latlon_dbl()
    e = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", lat, lon
    ).select(
        "user_id", "ts", "event_id",
        F.bround(F.col("lon") * 1000000000.0, 0).cast("long").alias("xi"),
        F.bround(F.col("lat") * 1000000000.0, 0).cast("long").alias("yi"),
    )
    return contact_crossings(e)


def q_convex_hull(spark, sf_dir):
    """Per-user convex hull vertex set (operators/hull.
    convex_hull_vertices): bounded-depth-5 QuickHull on nanodegree
    quantize-once integers — farthest-point argmax per chord (frozen
    cross-desc/lex tie-break), strict orientation sign tests, disjoint
    sub-chord reassignment (proved in the operator docstring). Unordered
    vertex SET output keeps it exact without a traversal order. FULL
    oracle: levels unrolled as generated CTE stages, row_number argmax."""
    from extractors_metadata_spark.operators.hull import convex_hull_vertices

    lat, lon = _latlon_dbl()
    e = _t(spark, sf_dir, "events").select("user_id", lat, lon).select(
        "user_id",
        F.bround(F.col("lon") * 1000000000.0, 0).cast("long").alias("px"),
        F.bround(F.col("lat") * 1000000000.0, 0).cast("long").alias("py"),
    )
    return convex_hull_vertices(e, depth=5)


def q_twap(spark, sf_dir):
    """Time-weighted average value per user (the TWAP/IoT integral
    aggregate): each observation holds until the next ((ts, id)-ordered,
    the frozen tie-break), weight = exact µs gap, value = exact cents —
    sum(cents*µs) and sum(µs) are exact int64 (products ~1e13/row), the
    TWAP itself one correctly-rounded division emitted unrounded (the
    identical-path rule). One user-keyed Exchange. FULL oracle."""
    e = _t(spark, sf_dir, "events")
    wnd = Window.partitionBy("user_id").orderBy("ts", "event_id")
    rows = e.select(
        "user_id", "ts", "event_id",
        F.bround(F.col("value") * 100.0, 0).cast("long").alias("cents"),
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("us"),
    ).withColumn("dt", F.lead("us", 1).over(wnd) - F.col("us")).filter(
        F.col("dt").isNotNull()
    )
    agg = rows.groupBy("user_id").agg(
        F.sum("dt").alias("span_us"),
        F.sum(F.col("cents") * F.col("dt")).alias("vdt_sum"),
    )
    return agg.select(
        "user_id", "span_us", "vdt_sum",
        (F.col("vdt_sum").cast("double") / F.col("span_us").cast("double"))
        .alias("twap_cents"),
    )


def q_user_mad(spark, sf_dir):
    """Robust per-USER dispersion + outlier counts — the all-integer
    sibling of the per-type mad_outliers (operators/robust): median and
    MAD in exact DOUBLED/QUADRUPLED cent units (the mann_whitney
    doubled-int trick — percentile interpolation lands on halves, x2
    restores exact ints; Spark percentile == DuckDB quantile_cont, the
    length_quantiles pairing), outliers = dev > 3*MAD decided entirely
    in integers (dev4 > 3*mad4), so boundary rows cannot ulp-flip even
    in principle. FULL oracle."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.bround(F.col("value") * 100.0, 0).cast("long").alias("c"),
    )
    med = e.groupBy("user_id").agg(
        (F.percentile(F.col("c"), F.lit(0.5)) * 2).cast("long").alias("med2"),
        F.count(F.lit(1)).alias("n"),
    )
    dev = e.join(med, "user_id").select(
        "user_id", "n", "med2",
        F.abs(F.col("c") * 2 - F.col("med2")).alias("dev2"),
    )
    mad = dev.groupBy("user_id", "n", "med2").agg(
        (F.percentile(F.col("dev2"), F.lit(0.5)) * 2).cast("long").alias("mad4")
    )
    out = (
        dev.join(mad.select("user_id", "mad4"), "user_id")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("dev2") * 2 > 3 * F.col("mad4"), 1).otherwise(0)
            ).alias("n_outliers")
        )
    )
    return mad.join(out, "user_id").select(
        "user_id", "n", "med2", "mad4", "n_outliers"
    )


def q_emd_drift(spark, sf_dir):
    """1D earth-mover distance between event-type hour-of-day profiles:
    EMD = sum_h |F_a(h) - F_b(h)| — the INTEGRAL counterpart of ks_test's
    max, computed with the same cross-multiplied integer trick
    (|cum_a*n_b - cum_b*n_a| summed over the 24 shared hour bins; the
    /(n_a*n_b) normalization is consumer-side). All unordered type
    pairs. FULL oracle."""
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "(unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000) % 24"
        ).alias("h"),
    )
    hours = spark.range(24).select(F.col("id").alias("h"))
    types = e.select("event_type").distinct()
    cnt = (
        types.crossJoin(hours)
        .join(
            e.groupBy("event_type", "h").agg(F.count(F.lit(1)).alias("c")),
            ["event_type", "h"],
            "left",
        )
        .select(
            "event_type", "h", F.coalesce(F.col("c"), F.lit(0)).alias("c")
        )
    )
    wnd = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = cnt.select(
        "event_type", "h", F.sum("c").over(wnd).alias("cum")
    )
    tot = cnt.groupBy("event_type").agg(F.sum("c").alias("n"))
    a = cum.join(tot, "event_type").select(
        F.col("event_type").alias("type_a"), "h",
        F.col("cum").alias("cum_a"), F.col("n").alias("n_a"),
    )
    b = cum.join(tot, "event_type").select(
        F.col("event_type").alias("type_b"), "h",
        F.col("cum").alias("cum_b"), F.col("n").alias("n_b"),
    )
    return (
        a.join(b, "h")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b", "n_a", "n_b")
        .agg(
            F.sum(
                F.abs(
                    F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")
                )
            ).alias("emd_num")
        )
    )


def q_locf_resample(spark, sf_dir):
    """Gap-filled hourly resampling (last observation carried forward):
    each user's value series becomes a REGULAR hourly grid over the
    user's own span, holes filled with the latest prior observation —
    the time-series regularization every downstream window model needs.
    Observations pre-collapse to one per (user, µs) (max event_id wins,
    frozen rule); the fill is the group-trick LOCF (cumulative count of
    observations partitions grid rows to exactly one donor — no IGNORE
    NULLS dependence, no quadratic as-of scan); grid rows ride the SAME
    user-keyed Exchange as the window. Users < 30 bound the grid for the
    compare harness. FULL oracle."""
    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 30)
        .select(
            "user_id", "event_id",
            F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("us"),
            F.bround(F.col("value") * 100.0, 0).cast("long").alias("c"),
        )
    )
    obs = e.groupBy("user_id", "us").agg(
        F.max_by(F.col("c"), F.col("event_id")).alias("c")
    )
    span = obs.groupBy("user_id").agg(
        F.min("us").alias("mn"), F.max("us").alias("mx")
    ).select(
        "user_id",
        F.expr("mn div 3600000000").alias("h0"),
        F.expr("mx div 3600000000").alias("h1"),
    )
    grid = span.select(
        "user_id", F.explode(F.sequence("h0", "h1")).alias("hr")
    )
    u = grid.select(
        "user_id",
        (F.col("hr") * 3600000000).alias("us"),
        F.lit(1).alias("side"),
        F.lit(None).cast("long").alias("c"),
    ).unionByName(
        obs.select("user_id", "us", F.lit(0).alias("side"), "c")
    )
    wnd = (
        Window.partitionBy("user_id")
        .orderBy("us", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.withColumn("grp", F.count("c").over(wnd)).withColumn(
        "fill", F.max("c").over(Window.partitionBy("user_id", "grp"))
    )
    return filled.filter(F.col("side") == 1).select(
        "user_id",
        F.expr("us div 3600000000").alias("hr"),
        F.col("fill").alias("cents"),
        F.when(F.col("grp") > 0, F.lit(1)).otherwise(F.lit(0)).alias("has_obs"),
    )


def q_sax_words(spark, sf_dir):
    """SAX-style symbolic series (PAA + quartile alphabet): each user's
    (ts, id)-ordered value series splits into 8 segments by the exact
    rank identity ((rk-1)*8 div n — the RFM rule, never ntile), each
    segment's MEAN is classified against the user's own quartile
    breakpoints ENTIRELY in integers (2*sum vs q2*count cross-multiply;
    quartiles in exact doubled cents — the mad_outliers pairing), and
    the symbols concatenate into the user's sax word. The time-series
    shape fingerprint (motif grouping, drift eyeballing). FULL oracle."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.bround(F.col("value") * 100.0, 0).cast("long").alias("c"),
    )
    wnd = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = e.withColumn("rk", F.row_number().over(wnd))
    stats = ranked.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        (F.percentile(F.col("c"), F.lit(0.25)) * 2).cast("long").alias("q1_2"),
        (F.percentile(F.col("c"), F.lit(0.5)) * 2).cast("long").alias("q2_2"),
        (F.percentile(F.col("c"), F.lit(0.75)) * 2).cast("long").alias("q3_2"),
    )
    seg = (
        ranked.join(stats, "user_id")
        .select(
            "user_id", "q1_2", "q2_2", "q3_2",
            F.expr("(rk - 1) * 8 div n").alias("seg"),
            "c",
        )
        .groupBy("user_id", "seg", "q1_2", "q2_2", "q3_2")
        .agg(F.sum("c").alias("s"), F.count(F.lit(1)).alias("m"))
    )
    sym = seg.select(
        "user_id", "seg",
        (
            F.when(F.col("s") * 2 > F.col("q1_2") * F.col("m"), 1).otherwise(0)
            + F.when(F.col("s") * 2 > F.col("q2_2") * F.col("m"), 1).otherwise(0)
            + F.when(F.col("s") * 2 > F.col("q3_2") * F.col("m"), 1).otherwise(0)
        ).alias("sym"),
    )
    return sym.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.sort_array(F.collect_list(F.struct("seg", "sym"))),
                lambda x: F.char(F.lit(97) + x["sym"]),
            ),
        ).alias("sax_word"),
        F.count(F.lit(1)).alias("n_segments"),
    )


def q_shapley_attribution(spark, sf_dir):
    """Shapley-value channel attribution (the game-theoretic upgrade of
    first/last-touch): v(T) = conversions whose pre-first-purchase
    touch set fits in T; per-channel Shapley emitted as the EXACT x6
    integer (|C| = 3 -> denominator 3!), with the efficiency invariant
    sum = 6*(v(C) - v_empty) checkable from the output. Data-sized work
    = one purchase argmin + one touch distinct; all Shapley algebra
    runs on the 8-row mask dim. FULL oracle: same subset sums in SQL."""
    from extractors_metadata_spark.operators.funnel import (
        shapley_attribution,
    )

    return shapley_attribution(_t(spark, sf_dir, "events"))


def q_attribution(spark, sf_dir):
    """First/last-touch attribution: every purchase is credited to the
    latest and the earliest view/click touch inside its 24h lookback —
    the marketing-attribution classic. The variable time bound is a
    RANGE frame on exact µs (rangeBetween(-24h, 0)), the touch row is
    resolved by a second join against the (user, µs)-collapsed touch dim
    (max event_id wins — frozen rule; avoids cross-engine struct-max,
    which DuckDB's binder rejects). Purchases with no touch keep nulls
    (visible, the curation logging rule). One user-keyed Exchange for
    the windows + two narrow dim joins. FULL oracle."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("us"),
    )
    is_touch = F.col("event_type").isin("view", "click")
    wnd = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-86_400_000_000, 0)
    )
    marked = e.withColumn("tus", F.when(is_touch, F.col("us")))
    purch = (
        marked.withColumn("last_us", F.max("tus").over(wnd))
        .withColumn("first_us", F.min("tus").over(wnd))
        .withColumn(
            "n_touches",
            F.count("tus").over(wnd),
        )
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "us", "n_touches", "last_us", "first_us")
    )
    touch_dim = (
        e.filter(is_touch)
        .groupBy("user_id", "us")
        .agg(
            F.max_by(F.col("event_type"), F.col("event_id")).alias("t_type")
        )
    )
    last_d = touch_dim.select(
        "user_id", F.col("us").alias("last_us"), F.col("t_type").alias("last_type")
    )
    first_d = touch_dim.select(
        "user_id", F.col("us").alias("first_us"), F.col("t_type").alias("first_type")
    )
    return (
        purch.join(last_d, ["user_id", "last_us"], "left")
        .join(first_d, ["user_id", "first_us"], "left")
        .select(
            "user_id", "event_id", "n_touches",
            (F.col("us") - F.col("last_us")).alias("last_gap_us"),
            "last_type",
            (F.col("us") - F.col("first_us")).alias("first_gap_us"),
            "first_type",
        )
    )


def q_haar2d(spark, sf_dir):
    """Single-level 2D Haar energy decomposition of the spatial count
    field (the 2D widening of haar_energy): per 2x2 block of nanodegree
    grid cells, separable approx/detail coefficients (LL/LH/HL/HH) from
    exact integer counts, band energies as exact int64 sums of squares —
    where the spatial mass sits in frequency (smooth field vs
    checkerboard noise). Two map-side-combining aggregates, zero
    floats. FULL oracle."""
    lat, lon = _latlon_dbl()
    pts = _t(spark, sf_dir, "events").select(lat, lon).select(
        ((F.bround(F.col("lon") * 1000000000.0, 0).cast("long")
          + F.lit(120000000000)) / F.lit(200000)).cast("long").alias("cx"),
        (F.bround(F.col("lat") * 1000000000.0, 0).cast("long")
         / F.lit(200000)).cast("long").alias("cy"),
    )
    cells = pts.groupBy("cx", "cy").agg(F.count(F.lit(1)).alias("n"))
    quad = cells.select(
        F.expr("cx div 2").alias("bx"),
        F.expr("cy div 2").alias("by"),
        (F.col("cx") % 2).alias("qx"),
        (F.col("cy") % 2).alias("qy"),
        "n",
    )
    blk = quad.groupBy("bx", "by").agg(
        F.sum(F.when((F.col("qx") == 0) & (F.col("qy") == 0), F.col("n")).otherwise(0)).alias("a"),
        F.sum(F.when((F.col("qx") == 1) & (F.col("qy") == 0), F.col("n")).otherwise(0)).alias("b"),
        F.sum(F.when((F.col("qx") == 0) & (F.col("qy") == 1), F.col("n")).otherwise(0)).alias("c"),
        F.sum(F.when((F.col("qx") == 1) & (F.col("qy") == 1), F.col("n")).otherwise(0)).alias("d"),
    )
    co = blk.select(
        (F.col("a") + F.col("b") + F.col("c") + F.col("d")).alias("ll"),
        (F.col("a") - F.col("b") + F.col("c") - F.col("d")).alias("lh"),
        (F.col("a") + F.col("b") - F.col("c") - F.col("d")).alias("hl"),
        (F.col("a") - F.col("b") - F.col("c") + F.col("d")).alias("hh"),
    )
    return co.agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(F.col("ll") * F.col("ll")).alias("ll_energy"),
        F.sum(F.col("lh") * F.col("lh")).alias("lh_energy"),
        F.sum(F.col("hl") * F.col("hl")).alias("hl_energy"),
        F.sum(F.col("hh") * F.col("hh")).alias("hh_energy"),
    )


def q_getis_ord(spark, sf_dir):
    """Getis-Ord Gi* hotspot ingredients — the ESDA companion of
    local_moran (LISA finds covariation, Gi* finds HOT/COLD spots): per
    occupied cell the 3x3 neighborhood sum INCLUDING self (s_i = x +
    lag), the actual occupied-neighbor count k_i = w_deg + 1, plus the
    broadcast global exact moments (n_cells, s_tot, s2_tot) every row
    needs for the z-score — which stays consumer-side (it has a sqrt;
    everything emitted is exact int64). Reuses the queen spatial-lag
    machinery. FULL oracle."""
    from extractors_metadata_spark.operators.spatial_autocorr import local_moran

    lat, lon = _latlon_dbl()
    pts = _t(spark, sf_dir, "events").select(
        lat, lon,
        F.bround(F.col("value") * 100.0, 0).cast("long").alias("cents"),
    ).select(
        ((F.bround(F.col("lon") * 1000000000.0, 0).cast("long")
          + F.lit(120000000000)) / F.lit(50000)).cast("long").alias("cx"),
        (F.bround(F.col("lat") * 1000000000.0, 0).cast("long")
         / F.lit(100000)).cast("long").alias("cy"),
        "cents",
    )
    cells = pts.groupBy("cx", "cy").agg(F.sum("cents").alias("x"))
    lm = local_moran(cells)
    glob = cells.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("x").alias("s_tot"),
        F.sum(F.col("x") * F.col("x")).alias("s2_tot"),
    )
    return lm.crossJoin(F.broadcast(glob)).select(
        "cx", "cy",
        (F.col("x") + F.col("lag")).alias("s_i"),
        (F.col("w_deg") + 1).alias("k_i"),
        "n_cells", "s_tot", "s2_tot",
    )


def q_zonal_majority(spark, sf_dir):
    """Zonal majority filter — the raster-GIS classic: per grid cell,
    the MODAL event type (count argmax, ties to the lexicographically
    smallest type — frozen rule) plus its count and the cell total.
    One (cell, type) aggregate + one min_by argmax per cell (the
    CLAUDE.md top-1 rule: aggregation, never a window sort); oracle
    replays with the row_number argmax fallback. Nanodegree
    quantize-once cells, nonneg shift before integer division. FULL
    oracle."""
    lat, lon = _latlon_dbl()
    pts = _t(spark, sf_dir, "events").select("event_type", lat, lon).select(
        ((F.bround(F.col("lon") * 1000000000.0, 0).cast("long")
          + F.lit(120000000000)) / F.lit(200000)).cast("long").alias("cx"),
        (F.bround(F.col("lat") * 1000000000.0, 0).cast("long")
         / F.lit(200000)).cast("long").alias("cy"),
        "event_type",
    )
    counts = pts.groupBy("cx", "cy", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    return counts.groupBy("cx", "cy").agg(
        F.sum("n").alias("cell_total"),
        F.min_by(
            F.struct(F.col("event_type").alias("t"), F.col("n").alias("c")),
            F.struct((-F.col("n")).alias("k1"),
                     F.col("event_type").alias("k2")),
        ).alias("m"),
    ).select(
        "cx", "cy",
        F.col("m.t").alias("majority_type"),
        F.col("m.c").alias("majority_n"),
        "cell_total",
    )


def q_quadtree(spark, sf_dir):
    """Adaptive quadtree histogram (operators/quadtree.quadtree_leaves):
    density-adaptive spatial binning — cells over 40 points split into
    their four children, z18 down to z24; output is the disjoint LEAF
    cover with exact counts. Trig runs ONCE at z_max (frozen kernel);
    every coarser cell is an exact integer shift (the tile_pyramid
    halving identity — never per-level trig, the idw lesson). Points are
    touched once; all decisions run on the occupied-tile frame. FULL
    oracle: identical base-tile formula + shift/count/min-when replay."""
    from extractors_metadata_spark.operators.quadtree import quadtree_leaves

    lat, lon = _latlon_dbl()
    pts = _t(spark, sf_dir, "events").select(lat, lon)
    return quadtree_leaves(pts, z_min=18, z_max=24, cap=40)


def q_exact_substr(spark, sf_dir):
    """ExactSubstr duplication coverage (operators/substr_dedup.
    exact_substr_coverage): Lee-et-al substring-level dedup statistic —
    per doc, how many 20-token windows repeat corpus-wide and how many
    token positions they cover (interval union via the islands
    discipline, one doc-keyed Exchange). Window keys are the literal
    token strings (exact replay; hash them at 100 TB). FULL oracle."""
    from extractors_metadata_spark.operators.substr_dedup import (
        exact_substr_coverage,
    )

    return exact_substr_coverage(_t(spark, sf_dir, "documents"), window=20)


def q_source_divergence(spark, sf_dir):
    """Per-source vocabulary drift (operators/corpus.source_divergence):
    KL(P_source || P_corpus) over word unigram distributions — the text
    twin of psi_drift's numeric bins, finite without smoothing because
    source words are corpus words. Per-word 1e12 fixed-point
    p_s ln(p_s/p_all) terms (factor-wise double ratios of exact int64
    counts — no int products, overflow-safe to 9e15 tokens; rint margin
    absorbs ln drift) summed as exact int64. FULL oracle: same
    tokenization + literal arithmetic."""
    from extractors_metadata_spark.operators.corpus import source_divergence

    return source_divergence(_t(spark, sf_dir, "documents"))


def q_lm_quality(spark, sf_dir):
    """CCNet-style n-gram LM perplexity scoring (operators/lm_quality.
    ngram_lm_score): an add-1 bigram model trained on the even-doc_id
    split scores every odd-doc_id document — exact bigram / OOV counts
    plus the total log-probability as per-term half-even 1e-9 fixed
    point (exact int64 num/den, one correctly-rounded division, rint
    margin absorbs ln ulp drift — the bm25 recipe) summed as exact
    int64 (order-free; the psi_drift discipline). Mean NLL /
    perplexity are consumer-side ratios of the emitted ints. FULL
    oracle: same tokenization, array-side pairing, counts, and literal
    arithmetic."""
    from extractors_metadata_spark.operators.lm_quality import ngram_lm_score

    return ngram_lm_score(_t(spark, sf_dir, "documents"))


def q_bpe_merges(spark, sf_dir):
    """BPE merge-rule induction (operators/bpe.bpe_merges): 8 rounds of
    most-frequent-adjacent-pair fusion over the corpus vocabulary —
    tokenizer training. Greedy in-word merging is expressed as islands +
    parity (even offsets within a candidate run), so the whole round is
    stacked windows on one word-keyed Exchange, and the oracle replays it
    literally as 8 unrolled CTE stage groups (the _hilbert_stages /
    k_core discipline — no sequential folds, DuckDB list_reduce is
    broken for struct state). Frozen tie-break (count desc, left asc,
    right asc); exact int64 pair counts. FULL oracle."""
    from extractors_metadata_spark.operators.bpe import bpe_merges

    return bpe_merges(_t(spark, sf_dir, "documents"), rounds=8)


def q_bpe_encode(spark, sf_dir):
    """Tokenizer applied at scale (operators/bpe.bpe_encode): per document
    the whitespace token count and the BPE token count under the learned
    8-merge vocabulary — encode costs one word-keyed join because the
    merge loop already holds every distinct word TYPE's final symbols.
    FULL oracle: the bpe_merges stage chain closed with the per-doc
    rollup instead of the merge table."""
    from extractors_metadata_spark.operators.bpe import bpe_encode

    return bpe_encode(_t(spark, sf_dir, "documents"), rounds=8)


def q_hotspot_persist(spark, sf_dir):
    """Spatio-temporal hotspot persistence: per grid cell, the
    consecutive-HOT-HOUR run structure (a cell is hot in an hour when
    its event count >= 13, the corpus median+1). Islands open where the
    hour gap exceeds 1 (the interval_union discipline applied to the
    TIME axis of a SPATIAL key — persistence, not momentary density:
    tile_density says where is busy, this says where STAYS busy).
    Nanodegree quantize-once cells, nonneg shift before integer
    division, exact hour buckets — all int64. FULL oracle."""
    lat, lon = _latlon_dbl()
    pts = _t(spark, sf_dir, "events").select(
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"), lat, lon,
    ).select(
        ((F.bround(F.col("lon") * 1000000000.0, 0).cast("long")
          + F.lit(120000000000)) / F.lit(200000)).cast("long").alias("cx"),
        (F.bround(F.col("lat") * 1000000000.0, 0).cast("long")
         / F.lit(200000)).cast("long").alias("cy"),
        # div, not /: at us ~ 1.7e15 the double quotient's half-ulp
        # (2.9e-11) exceeds the 1/3.6e9 fraction gap — cast could round up
        F.expr("us div 3600000000").alias("hour"),
    )
    hot = pts.groupBy("cx", "cy", "hour").agg(
        F.count(F.lit(1)).alias("n")
    ).filter(F.col("n") >= 13)
    w = Window.partitionBy("cx", "cy").orderBy("hour")
    marked = hot.select(
        "cx", "cy", "hour",
        F.when(
            F.lag("hour").over(w).isNull()
            | ((F.col("hour") - F.lag("hour").over(w)) > 1),
            F.lit(1),
        ).otherwise(F.lit(0)).alias("is_new"),
    ).select(
        "cx", "cy", "hour",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("run"),
    )
    runs = marked.groupBy("cx", "cy", "run").agg(
        F.count(F.lit(1)).alias("len")
    )
    return runs.groupBy("cx", "cy").agg(
        F.sum("len").alias("n_hot_hours"),
        F.count(F.lit(1)).alias("n_runs"),
        F.max("len").alias("max_run"),
    )


def q_local_moran(spark, sf_dir):
    """Local Moran spatial lag (operators/spatial_autocorr.local_moran):
    queen-adjacency neighbor sums per grid cell over exact fixed-point
    cell value sums — global Moran's I and per-cell LISA are consumer-side
    ratios of these exact integers. Adjacency is an 8-offset explode +
    one cell-keyed equi-join (never a distance self-join). Nanodegree
    quantize-once, nonneg shift before integer floor-division (trunc ==
    floor only on nonneg — both engines). FULL oracle."""
    from extractors_metadata_spark.operators.spatial_autocorr import local_moran

    lat, lon = _latlon_dbl()
    pts = _t(spark, sf_dir, "events").select(
        lat, lon,
        F.bround(F.col("value") * 100.0, 0).cast("long").alias("cents"),
    ).select(
        ((F.bround(F.col("lon") * 1000000000.0, 0).cast("long")
          + F.lit(120000000000)) / F.lit(50000)).cast("long").alias("cx"),
        (F.bround(F.col("lat") * 1000000000.0, 0).cast("long")
         / F.lit(100000)).cast("long").alias("cy"),
        "cents",
    )
    cells = pts.groupBy("cx", "cy").agg(
        F.sum("cents").cast("long").alias("x")
    )
    return local_moran(cells)


def q_geohash(spark, sf_dir):
    """Geohash encoding (functions/geohash.py — the interoperability index
    family completing H3-style/S2-style/XYZ/Z-order; pure codegen:
    quantize -> zcurve bit spread -> base-32 lookup). Precision 8 (even —
    the lon-on-the-shifted-slot parity branch; the odd branch is pinned
    against the public reference algorithm in pytest). FULL oracle: the
    identical mask stages + substr lookups replayed in SQL on bit-identical
    double inputs, so floor needs no margins."""
    from extractors_metadata_spark.functions.geohash import geohash_encode

    lat, lon = _latlon_dbl()
    pts = _t(spark, sf_dir, "events").select("event_id", lat, lon)
    return pts.select(
        "event_id", geohash_encode(F.col("lat"), F.col("lon"), 8).alias("gh")
    )


def q_tile_hll_density(spark, sf_dir):
    """Distinct users per z20 tile via GROUPED HLL
    (sketches.hll_sketch_grouped/hll_estimate_grouped) — the sketch path
    for tile_density's exact salted distinct: at 100 TB the exact form
    shuffles every distinct pair, the grouped sketch shuffles <= m rows
    per group per partition. FULL oracle: poly/mix31 hash replay -> sparse
    per-group registers -> exact HUGEINT harmonic sum (empty buckets as
    (m - n_obs)*2^60) -> the identical literal double estimator, incl. the
    linear-counting branch (which fires here: ~32 small tiles)."""
    from extractors_metadata_spark.functions.spark_udfs import tile_xy_udf
    from extractors_metadata_spark.operators.sketches import (
        hll_estimate_grouped,
        hll_sketch_grouped,
    )

    lat, lon = _latlon_dbl()
    e = _t(spark, sf_dir, "events").select("user_id", lat, lon)
    t = e.withColumn("_t", tile_xy_udf(20)("lat", "lon")).select(
        F.col("_t.x").alias("x"), F.col("_t.y").alias("y"), "user_id"
    )
    regs = hll_sketch_grouped(
        t, ("x", "y"), F.col("user_id").cast("string"), p=8
    )
    return hll_estimate_grouped(regs, ("x", "y"), p=8)


def q_tile_pyramid(spark, sf_dir):
    """Multi-resolution tile pyramid (operators/tile_rollup.tile_pyramid):
    per-tile (n_points, sum_fp) at every zoom z18..z24, where only the z24
    base aggregate touches the point table and each coarser level
    re-aggregates the previous LEVEL (parent = child >> 1) — the
    hypertable-rollup shape: cascade shuffle volume <= 4/3 of one base
    aggregate vs 7 full-table shuffles for per-zoom-from-raw. Values are
    per-point half-even fixed-point (F.bround == round_even at 0 decimals)
    so every level is exact int64. FULL oracle: DuckDB aggregates EVERY
    level directly from raw lat/lon with the literal slippy formula at that
    z — equality proves the floor(g*2^(z-1)) == floor(g*2^z) >> 1 halving
    identity end-to-end through the engine's cascade."""
    from extractors_metadata_spark.functions.spark_udfs import tile_xy_udf
    from extractors_metadata_spark.operators.tile_rollup import tile_pyramid

    lat, lon = _latlon_dbl()
    e = _t(spark, sf_dir, "events").select("event_id", "value", lat, lon)
    tiles = e.withColumn("_t", tile_xy_udf(24)("lat", "lon")).select(
        F.col("_t.x").alias("x"),
        F.col("_t.y").alias("y"),
        F.bround(F.col("value") * 100.0, 0).cast("long").alias("value_fp"),
    )
    out, _caches = tile_pyramid(tiles, z_max=24, z_min=18, value_fp_col="value_fp")
    return out


def q_hll_pyramid(spark, sf_dir):
    """Sketch pyramid (sketches.hll_tile_pyramid): distinct users per tile
    at z16..z20 via the register-max cascade — mergeability composed with
    the rollup (parent sketch = bucket-wise max of children; raw data
    touched once). FULL oracle: every level independently re-sketched
    from raw in SQL — equality proves cascade == direct per level."""
    from extractors_metadata_spark.functions.spark_udfs import tile_xy_udf
    from extractors_metadata_spark.operators.sketches import (
        hll_sketch_grouped,
        hll_tile_pyramid,
    )

    lat, lon = _latlon_dbl()
    e = _t(spark, sf_dir, "events").select("user_id", lat, lon)
    t = e.withColumn("_t", tile_xy_udf(20)("lat", "lon")).select(
        F.col("_t.x").alias("x"), F.col("_t.y").alias("y"), "user_id"
    )
    regs = hll_sketch_grouped(t, ("x", "y"), F.col("user_id").cast("string"), p=8)
    out, _caches = hll_tile_pyramid(regs, z_max=20, z_min=16, p=8)
    return out


def q_cube_stats(spark, sf_dir):
    """Full CUBE lattice (rollup_stats with cube=True): all four grouping
    sets over (event_type, cohort) — detail, both one-dim marginals, grand
    total — in ONE Expand + aggregate. Complements rollup_stats (which
    pins the hierarchy shape); gid disambiguates every lattice level.
    FULL oracle: GROUP BY CUBE replay."""
    from extractors_metadata_spark.operators.rollup_stats import rollup_stats

    e = _t(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 4).alias("cohort"),
        "user_id",
        "value",
    )
    return rollup_stats(e, ["event_type", "cohort"], cube=True)


def q_idw_surface(spark, sf_dir):
    """IDW value surface (operators/idw.idw_surface): per-z20-tile
    inverse-distance-weighted event values over the 3x3 neighborhood, in
    MERCATOR unit space (tile centers are linear — the only trig is the
    event's slippy-y chain, whose few-ulp drift the 1e-9 per-term
    fixed-point margin absorbs, the bm25 recipe). One Arrow pass + x9
    literal scatter + ONE map-side-combining tile aggregate. FULL
    oracle."""
    from extractors_metadata_spark.operators.idw import idw_surface

    lat, lon = _latlon_dbl()
    e = _t(spark, sf_dir, "events").select("value", lat, lon)
    return idw_surface(e, z=20)


def q_co_visitation(spark, sf_dir):
    """Co-visitation pairs: users sharing >= 3 distinct z22 tiles — the
    bipartite (tile, user) projection, the co-location analytics shape.
    Candidate discipline: DISTINCT presence first, then a tile-keyed
    self-join whose worst tile costs (users-in-tile)^2 — at scale a
    max_df band caps it (here the synth grid keeps tiles small; the band
    hook is max_users). FULL oracle."""
    from extractors_metadata_spark.functions.spark_udfs import tile_xy_udf

    lat, lon = _latlon_dbl()
    e = _t(spark, sf_dir, "events").select("user_id", lat, lon)
    t = e.withColumn("_t", tile_xy_udf(22)("lat", "lon")).select(
        F.col("_t.x").alias("x"), F.col("_t.y").alias("y"), "user_id"
    )
    pres = t.select("x", "y", "user_id").distinct()
    a = pres.select("x", "y", F.col("user_id").alias("u_a"))
    b = pres.select("x", "y", F.col("user_id").alias("u_b"))
    return (
        a.join(b, ["x", "y"])
        .filter(F.col("u_a") < F.col("u_b"))
        .groupBy("u_a", "u_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )


def q_snapshot_diff(spark, sf_dir):
    """Snapshot changelog (sources/snapshot.diff_snapshots): the CDC-read
    shape — added/removed/changed keys between two committed versions of
    a table, computed as ONE full-outer key join over two time-travel
    reads with null-safe value comparison. The table history is built
    deterministically from events (v1 = all keys; v2 = replace that
    drops id%97==0, bumps id%10==0, adds 500 shifted keys), so the diff
    is a pure function the oracle rebuilds from the same predicates —
    the snapshot machinery (commit, time travel, full-outer diff) is
    what is actually under test. FULL oracle."""
    import tempfile

    from extractors_metadata_spark.sources.snapshot import (
        diff_snapshots,
        write_snapshot,
    )

    base = tempfile.mkdtemp(prefix="q_sdiff_")
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        F.bround(F.col("value") * 100.0, 0).cast("long").alias("cents"),
    )
    m1 = write_snapshot(e, base, "append")
    v2 = (
        e.filter(F.col("event_id") % 97 != 0)
        .select(
            "event_id",
            F.when(F.col("event_id") % 10 == 0, F.col("cents") + 1)
            .otherwise(F.col("cents")).alias("cents"),
        )
        .unionByName(
            e.filter(F.col("event_id") < 500).select(
                (F.col("event_id") + F.lit(1000000)).alias("event_id"),
                "cents",
            )
        )
    )
    m2 = write_snapshot(v2, base, "replace")
    return diff_snapshots(
        spark, base, m1["snapshot_id"], m2["snapshot_id"], ("event_id",)
    )


def q_stream_tiles_verify(spark, sf_dir):
    """Streamed per-tile rollup under a FULL oracle
    (streaming/tile_stream.stream_tile_counts — the spatial x streaming
    fusion: live crawl heatmap as durable snapshot state). AvailableNow
    drain of the events table in multi-file micro-batches; counts ADD, so
    correctness rests on the manifest batch-id guard (exactly-once
    application); the end state must equal the one-shot per-tile counts,
    which the oracle computes independently from the tile formula."""
    import tempfile

    from extractors_metadata_spark.sources.snapshot import read_table
    from extractors_metadata_spark.streaming.tile_stream import (
        stream_tile_counts,
    )

    base = tempfile.mkdtemp(prefix="q_stile_")
    pts = _t(spark, sf_dir, "events").select(
        "event_id",
        F.expr(LAT_IN).cast("double").alias("lat"),
        F.expr(LON_IN).cast("double").alias("lon"),
    )
    pts.repartition(8).write.parquet(base + "/in")
    q = stream_tile_counts(
        spark, base + "/in", base + "/state", base + "/ckpt",
        schema=pts.schema, zooms=(12, 20), max_files_per_trigger=3,
    )
    q.awaitTermination(600)
    return read_table(spark, base + "/state").select("z", "x", "y", "n")


def q_stream_upsert_verify(spark, sf_dir):
    """Streaming last-write-wins upsert (streaming/upsert_stream): events
    as a keyed CDC feed (key = event_id % 997, version = event_id),
    drained AvailableNow in 3-file micro-batches into a snapshot state
    table. The per-key struct-max merge is associative/commutative/
    IDEMPOTENT — no batch-id guard needed; at-least-once is already
    exactly-right, and the end state is a pure function of the input SET.
    FULL oracle: the one-shot per-key argmax replay."""
    import tempfile

    from extractors_metadata_spark.sources.snapshot import read_table
    from extractors_metadata_spark.streaming.upsert_stream import stream_upsert

    base = tempfile.mkdtemp(prefix="q_supsert_")
    feed = _t(spark, sf_dir, "events").select(
        (F.col("event_id") % 997).alias("key"),
        F.col("event_id").alias("version"),
        F.col("event_type"),
        F.bround(F.col("value") * 1000000.0, 0).cast("long").alias("v_u"),
    )
    feed.repartition(9).write.parquet(base + "/in")
    q = stream_upsert(
        spark, base + "/in", base + "/state", base + "/ckpt",
        schema=feed.schema, key_col="key",
        ordered_cols=["version", "event_type", "v_u"],
    )
    q.awaitTermination(600)
    return read_table(spark, base + "/state").select(
        "key", "version", "event_type", "v_u"
    )


def q_stream_join_verify(spark, sf_dir):
    """Stream-stream interval join (streaming/join_stream): view/click
    events vs signup/purchase events of the same user within 24 h, both
    sides AvailableNow file streams with dual watermarks (the state-
    bounding contract). With watermark >= max disorder no valid match
    evicts, so the streamed output equals the batch interval join — a
    FULL value-hash oracle for a stateful dual-stream plan."""
    import tempfile

    from extractors_metadata_spark.streaming.join_stream import (
        stream_interval_join,
    )

    base = tempfile.mkdtemp(prefix="q_sjoin_")
    e = _t(spark, sf_dir, "events")
    left = e.filter(F.col("event_type").isin("view", "click")).select(
        "user_id", F.col("event_id").alias("lid"), "ts"
    )
    right = e.filter(F.col("event_type").isin("signup", "purchase")).select(
        "user_id", F.col("event_id").alias("rid"), "ts"
    )
    left.repartition(6).write.parquet(base + "/l")
    right.repartition(6).write.parquet(base + "/r")
    q = stream_interval_join(
        spark, base + "/l", base + "/r", base + "/out", base + "/ckpt",
        left_schema=left.schema, right_schema=right.schema, band_s=86_400,
    )
    q.awaitTermination(600)
    return spark.read.parquet(base + "/out").select(
        "user_id", "lid", "rid", "lt_us", "rt_us"
    )


def q_snap_to_path(spark, sf_dir):
    """Linear referencing (operators/linear_ref.snap_to_path): nearest
    path segment + cross-track distance + along-track chainage per event.
    ZERO runtime transcendentals (scale/len2/chainage are Python-
    precomputed literals shared by both engines; one IEEE sqrt), winner =
    pure-codegen array_min of per-segment structs — a narrow zero-Exchange
    projection. FULL oracle."""
    from extractors_metadata_spark.operators.linear_ref import (
        path_constants,
        snap_to_path,
    )

    lat, lon = _latlon_dbl()
    e = _t(spark, sf_dir, "events").select("event_id", lat, lon)
    return snap_to_path(e, path_constants(_LR_PATH, _LR_ANCHOR))


def q_od_matrix(spark, sf_dir):
    """Origin-destination matrix (trajectory composition): each user's
    first and last event (by ts, event_id — the frozen tie-break) assign
    z22 tiles; counts per (origin, destination) tile pair. min/max of
    struct(us, event_id) picks endpoints in ONE user-keyed aggregate
    (min_by discipline — no window sort); one tiny (o, d) count after.
    FULL oracle: epoch_us endpoint argmin/argmax + the literal tile
    formula."""
    from extractors_metadata_spark.functions.spark_udfs import tile_xy_udf

    lat, lon = _latlon_dbl()
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", lat, lon,
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    ends = e.groupBy("user_id").agg(
        F.min_by(F.struct("lat", "lon"), F.struct("us", "event_id")).alias("o"),
        F.max_by(F.struct("lat", "lon"), F.struct("us", "event_id")).alias("d"),
    )
    t = ends.select(
        "user_id",
        tile_xy_udf(22)(F.col("o.lat"), F.col("o.lon")).alias("ot"),
        tile_xy_udf(22)(F.col("d.lat"), F.col("d.lon")).alias("dt"),
    )
    return (
        t.groupBy(
            F.col("ot.x").alias("o_x"), F.col("ot.y").alias("o_y"),
            F.col("dt.x").alias("d_x"), F.col("dt.y").alias("d_y"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def q_ripley_k(spark, sf_dir):
    """Ripley's K pair counts (spatial point-pattern statistics): exact
    within-r pair counts at r = 5/10/20 m over the first 3000 events,
    computed from ONE cell-bucketed radius self-join at the largest radius
    (the proven radius_pairs machinery — never 3 separate joins) + a x3
    literal radius explode and a map-side-combining count. Thresholds
    compare INTEGER cm (dist_cm <= r_cm — the 0-decimal rounding pairing;
    ADVICE r4). FULL oracle: brute-force O(n^2) replay."""
    from extractors_metadata_spark.operators.radius_join import radius_self_join

    lat, lon = _latlon_dbl()
    pts = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 3000)
        .select("event_id", lat, lon)
    )
    pairs = radius_self_join(spark, pts, radius_m=20.0)
    return (
        pairs.select(
            F.explode(
                F.array(
                    F.lit(500).cast("long"),
                    F.lit(1000).cast("long"),
                    F.lit(2000).cast("long"),
                )
            ).alias("r_cm"),
            "dist_cm",
        )
        .filter(F.col("dist_cm") <= F.col("r_cm"))
        .groupBy((F.col("r_cm") / F.lit(100.0)).alias("r_m"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def q_session_rules(spark, sf_dir):
    """Association rules over sessions (operators/assoc.session_rules):
    basket = distinct event types per 12 h-gap session; support/confidence/
    lift as ratios of exact counts, 1e-9 half-even fixed point (exact
    int64 numerators, single correctly-rounded divisions). The distinct-
    first collapse caps pair fan-out by the TYPE vocabulary, not session
    length. FULL oracle: session replay + identical ratio arithmetic."""
    from extractors_metadata_spark.operators.assoc import session_rules

    return session_rules(_t(spark, sf_dir, "events"), gap_s=43_200)


def q_overlay_alloc(spark, sf_dir):
    """Areal interpolation (the overlay's consumer): each event's value
    reapportioned to its B-region by intersection share — share =
    area2_fp / (2 * A_SCALE * area(A)), a single identical-path division
    by a Python-constant denominator; allocation in half-even 1e-6 fixed
    point. FULL oracle: the overlay SQL as a derived table + the same
    literal arithmetic."""
    from extractors_metadata_spark.operators.clip import A_SCALE

    area_a = (2.0 * _OVL_W1) * (2.0 * _OVL_H1)
    denom = 2.0 * A_SCALE * area_a
    ov = q_overlay_area(spark, sf_dir)
    v = _t(spark, sf_dir, "events").select("event_id", "value")
    share = F.col("area2_fp").cast("double") / F.lit(denom)
    return ov.join(v, "event_id").select(
        "event_id",
        "n_vertices",
        "area2_fp",
        F.bround(F.col("value") * share * 1000000.0, 0)
        .cast("long")
        .alias("alloc_u"),
    )


def q_source_mix(spark, sf_dir):
    """Deterministic data-mixing down-sample (sampling.mix_sources): keep
    the largest corpus whose language proportions hit 4:2:2:1:1, rows
    chosen by the content-stable vhash rule (re-runs reproduce the same
    subset). FULL oracle: group counts -> N = min floor(n*W/w) -> integer
    thresholds replayed in HUGEINT, same poly hash filter."""
    from extractors_metadata_spark.operators.sampling import mix_sources

    docs = _t(spark, sf_dir, "documents")
    return mix_sources(docs, "lang", _MIX_WEIGHTS, "doc_id").select(
        "doc_id", "lang"
    )


def q_line_dedup(spark, sf_dir):
    """Corpus-wide first-occurrence LINE dedup (operators/linededup.py —
    CCNet/RefinedWeb-style boilerplate removal, the sub-document twin of
    dedup_exact). Duplicate lines are injected deterministically: every doc
    is prefixed with a shared 8-word cookie banner, even doc_ids with a
    second banner, so the first-occurrence rule fires at two duplication
    frequencies while the original word streams stay unique. The engine
    uses the skew-safe map-side-combining min(struct) aggregate; the FULL
    oracle independently replays with the window form (row_number = 1) —
    exact integers + exact strings end-to-end."""
    from extractors_metadata_spark.operators.linededup import line_dedup

    d = _t(spark, sf_dir, "documents")
    probe = d.select(
        "doc_id",
        F.concat(
            F.lit(_BANNER1 + " "),
            F.when(F.col("doc_id") % 2 == 0, F.lit(_BANNER2 + " ")).otherwise(
                F.lit("")
            ),
            F.col("text"),
        ).alias("text"),
    )
    return line_dedup(probe, id_col="doc_id", text_col="text", words_per_line=8)


def q_zorder_key(spark, sf_dir):
    """Z-order (Morton) write-layout key (functions/zcurve.py — the
    clustering key of an OPTIMIZE-ZORDER layout for Iceberg-scale file
    pruning): z12 tile coords of each event (the proven tile_assign
    kernel) interleaved by pure
    JVM-codegen magic-number spreads. FULL oracle: DuckDB replays the tile
    formula + the identical five mask stages as generated CTEs (exact int64
    shift/or/and — bit-identical by construction)."""
    from extractors_metadata_spark.functions.zcurve import z_value
    from extractors_metadata_spark.operators.tile_assign import tile_assign

    e = _t(spark, sf_dir, "events").select(
        "event_id", F.expr(LAT_IN).alias("lat"), F.expr(LON_IN).alias("lon")
    )
    pts = e.select(
        "event_id",
        F.col("lat").alias("min_lat"), F.col("lat").alias("max_lat"),
        F.col("lon").alias("min_lon"), F.col("lon").alias("max_lon"),
    )
    t = tile_assign(pts, zooms=(12,), id_cols=("event_id",))
    return t.select(
        "event_id", "x", "y", z_value(F.col("x"), F.col("y")).alias("zval")
    )


def q_profile_table(spark, sf_dir):
    """Per-column table statistics (operators/profile.py — the engine's
    ANALYZE TABLE): row/null/distinct counts + typed min/max, one scan via
    a melted single aggregate. Profiles the documents table's int/string
    columns (floats excluded: min/max go through string casts and double
    shortest-repr is the one cross-engine formatting surface; covered
    separately by multi_render_verify). FULL oracle: exact counts + casts
    replayed per column with UNION ALL."""
    from extractors_metadata_spark.operators.profile import profile_table

    d = _t(spark, sf_dir, "documents")
    return profile_table(d, cols=("doc_id", "lang", "source", "n_chars"))


def q_bbox_overlap(spark, sf_dir):
    """Polygon x bbox overlap join (operators/overlap.py — the REGION-query
    widening of the pip/kNN point suite): event-centered boxes
    (+-0.00004 lat, +-0.00006 lon — edge margins to the nearest plot
    boundary are >= 3.2e-8 deg ~ 3.6 mm, 8 orders above cross-engine float
    noise) vs the 864-plot broadcast dim. Engine path: bbox_cells_batch
    covering fan-out -> broadcast cell equi-join -> pair distinct -> exact
    rect_overlap refine (vertex-in-rect / corner-in-poly / edge
    intersection). FULL oracle: for axis-aligned plots, overlap reduces to
    closed-form interval comparisons — an independent derivation, so the
    whole covering+refine machinery is genuinely cross-checked. Output is
    the PAIR SET (event_id, plot_id) only: Spark parses the box-bound
    literals as decimal(38,11) while DuckDB computes doubles — a ~2e-10 deg
    value drift 2+ orders below the decision margins (the pair set is
    identical; the bound VALUES are not hash-comparable)."""
    from extractors_metadata_spark.operators.overlap import bbox_overlap_join
    from extractors_metadata_spark.synth import plot_rings

    boxes = _t(spark, sf_dir, "events").select(
        "event_id",
        (F.expr(LAT_IN) - 0.00004).alias("min_lat"),
        (F.expr(LON_IN) - 0.00006).alias("min_lon"),
        (F.expr(LAT_IN) + 0.00004).alias("max_lat"),
        (F.expr(LON_IN) + 0.00006).alias("max_lon"),
    )
    out = bbox_overlap_join(spark, boxes, plot_rings(), box_id="event_id")
    return out.select("event_id", "plot_id")


def q_decontaminate(spark, sf_dir):
    """Eval-set decontamination (operators/decontam.py — the GPT-3-style
    13-gram leakage check, cross-table containment vs the dedup suite's
    self-join). The eval set is synthesized deterministically as 30-word
    excerpts (words 6-35) of every 50th document — exactly the real shape:
    eval questions drawn verbatim from crawled pages — so the excerpt's
    source docs must come back contaminated and every other random stream
    clean. Exact strings + exact counts: FULL oracle (same slice/join gram
    assembly, clamping included, replayed in SQL)."""
    from extractors_metadata_spark.operators.decontam import decontaminate

    d = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    ev = d.filter(F.col("doc_id") % 50 == 0).select(
        "doc_id", F.array_join(F.slice(words, 6, 30), " ").alias("text")
    )
    return decontaminate(d, ev, n=13)


def q_quantile_sketch_verify(spark, sf_dir):
    """Mergeable HDR quantile sketch (operators/quantiles.quantile_sketch)
    over doc lengths — the SCALE path for length_quantiles (exact
    percentiles need a sort; this is one map-side-combining groupBy with
    shuffle bounded by the sketch size). FULL oracle: the bin mapping is
    exact int64 bit arithmetic (length(bin(v)), expression shifts) shared
    VERBATIM with DuckDB — the register-content check, like
    hll_registers."""
    from extractors_metadata_spark.operators.quantiles import quantile_sketch

    return quantile_sketch(_t(spark, sf_dir, "documents"), F.col("n_chars"), k=6)


def q_quantile_estimate_verify(spark, sf_dir):
    """Quantile answers off the sketch (operators/quantiles.
    quantile_estimate): first bin whose cumulative count reaches
    ceil(q*n), emitted with its exact [lo, hi] value bracket (relative
    width <= 2^-6; bracketing of the true rank statistic pinned in
    pytest). FULL oracle: cumulative window + q-join + bounds inversion
    replayed in DuckDB; the one float, ceil(q*n), uses identical literal
    double arithmetic both sides."""
    from extractors_metadata_spark.operators.quantiles import (
        quantile_estimate,
        quantile_sketch,
    )

    sk = quantile_sketch(_t(spark, sf_dir, "documents"), F.col("n_chars"), k=6)
    return quantile_estimate(sk, qs=(0.25, 0.5, 0.75, 0.9, 0.99), k=6)


def q_sketch_gate(spark, sf_dir):
    """Sketch-DRIVEN curation gate: the grouped quantile sketch actually
    steering a filter — per-language p10 doc-length brackets set the
    threshold (hi edge of the p10 bin, an exact integer), and docs at or
    below it drop. One broadcast join of the per-lang thresholds against
    the corpus; the sketch side never touches data rows beyond its one
    map-side-combining build. FULL oracle: the grouped sketch/estimate
    CTEs (shared bin/bounds SQL) + the identical integer join-filter."""
    from extractors_metadata_spark.operators.quantiles import (
        quantile_estimate_grouped,
        quantile_sketch_grouped,
    )

    docs = _t(spark, sf_dir, "documents")
    sk = quantile_sketch_grouped(docs, ("lang",), F.col("n_chars"), k=6)
    est = quantile_estimate_grouped(sk, ("lang",), qs=(0.1,), k=6)
    thr = est.select("lang", F.col("hi").alias("thr"))
    return (
        docs.join(F.broadcast(thr), "lang")
        .filter(F.col("n_chars") > F.col("thr"))
        .select("doc_id", "lang", "n_chars", "thr")
    )


def q_quantile_grouped_verify(spark, sf_dir):
    """Per-KEY quantile brackets off grouped sketches (operators/quantiles.
    quantile_sketch_grouped + quantile_estimate_grouped): p50/p90/p99 doc
    length per language — the scale path for per-key percentiles where
    corpus.length_quantiles' exact percentile buffer pays per-group sort
    state. The whole pipeline stays keyed: sketch = one map-side-combining
    groupBy(lang, bin), cumulative window PARTITIONED by lang, q-join on
    the key — nothing scales with rows, only with groups x bins. FULL
    oracle: same exact-int bin/bounds expressions (shared bin_sql/
    bounds_sql source) replayed per group in DuckDB."""
    from extractors_metadata_spark.operators.quantiles import (
        quantile_estimate_grouped,
        quantile_sketch_grouped,
    )

    sk = quantile_sketch_grouped(
        _t(spark, sf_dir, "documents"), ("lang",), F.col("n_chars"), k=6
    )
    return quantile_estimate_grouped(sk, ("lang",), qs=(0.5, 0.9, 0.99), k=6)


def q_sq_topk(spark, sf_dir):
    """Int8 scalar-quantized cosine top-k (similarity.sq_encode/sq_topk) —
    the ANN STORAGE scale path (4x smaller corpus scan). FULL oracle,
    unlike float ANN: max-abs scale + HALF_EVEN rounding (bround ==
    round_even == np.rint, the pinned rule) make the quantized vectors
    integer-exact, so dot/norms are order-independent int64 sums DuckDB
    replays bit-for-bit, and qsim's one float step (int / sqrt(int*int))
    is IEEE-exact from exact integers."""
    from extractors_metadata_spark.operators.similarity import sq_topk

    emb = _t(spark, sf_dir, "embeddings")
    out = sq_topk(emb.filter(F.col("vec_id") < 10), emb, k=5)
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "qsim"
    )


def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing document fingerprints (operators/winnow.py — Schleimer/
    Wilkerson/Aiken MOSS selection): mix31(poly131) char-7-gram hashes over
    the ASCII-normalized 512-char prefix, rightmost-minimum of each
    4-window selected via ONE integer window-min on the packed key
    fp*1024 + (1023 - pos) (never an argmin). Guarantees every shared run
    >= k+w-1 = 10 chars is caught at ~2/(w+1) density — the local
    near-dup primitive between minhash (set similarity) and exact-substring
    dedup. One Arrow pass per batch (concatenated-bytes rolling hash);
    output is the exploded distinct (pos, fp) set. FULL oracle: identical
    packed-key window-min replay."""
    from extractors_metadata_spark.operators.winnow import winnow_fingerprints

    return winnow_fingerprints(_t(spark, sf_dir, "documents"))


def q_winnow_pairs(spark, sf_dir):
    """Fingerprint-sharing near-dup pairs over the winnowing selection:
    drop fingerprints with document frequency > 10 (the synth corpus is
    template-heavy — median fingerprint df is 14, so boilerplate is the
    quadratic hot bucket; the drop is the LSH cap discipline, explicit and
    deterministic), join bucket-local on fp value, keep pairs sharing >= 5
    distinct fingerprints. FULL oracle."""
    from extractors_metadata_spark.operators.winnow import winnow_pairs

    return winnow_pairs(_t(spark, sf_dir, "documents"), min_shared=5, max_df=10)


def q_pii_redact(spark, sf_dir):
    """PII masking rewrite (functions/textstats.pii_redact) — the acting
    twin of pii_counts' triage: the same deterministic probe suffix, then
    the frozen email -> url -> phone replace-all chain; output is the
    REDACTED TEXT itself plus its length (string equality is the strongest
    check the driver hash can make). Pure codegen, zero shuffle. FULL
    oracle: verbatim RE2 replay of the same chain."""
    from extractors_metadata_spark.functions.textstats import pii_redact

    d = _t(spark, sf_dir, "documents")
    ids = F.col("doc_id").cast("string")
    probe = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" contact a"), ids, F.lit("@ex.com via https://ex.co/"),
                ids, F.lit(" tel 555-000-"),
                F.format_string("%04d", (F.col("doc_id") % 10000).cast("int")),
            ),
        ).otherwise(F.lit("")),
    )
    red = pii_redact(probe)
    return d.select("doc_id", red.alias("redacted"), F.length(red).alias("r_len"))


def q_semdedup(spark, sf_dir):
    """SemDeDup (operators/semdedup.semdedup — Abbas et al. 2023, the
    embedding-cluster-then-dedup curation primitive): k-means the embedding
    table with the proven exact-integer Lloyd rounds, then inside each
    cluster flag MEANING-level near-duplicates — cosine(a, b) >= 0.99
    decided as PURE INTEGERS (quantize once at SCALE 500, then
    10000*dot^2 >= 99^2*|a|^2*|b|^2, every product < 2^63) — keeping the
    lowest-id representative (greedy-by-id, the replayable analog of the
    paper's keep-one-per-group). The pair join is CLUSTER-LOCAL — the
    paper's own scaling lever (k ~ n/target bounds cluster size), never
    all-pairs. Probe-augmented input (the pii_redact pattern): every
    vec_id % 7 == 0 vector gets a x1.02 scaled copy at vec_id + 100000 —
    cosine exactly 1 pre-quantization, so the dup branch is genuinely
    exercised (the synth embeddings' natural within-cluster |cos| tops out
    ~0.51; max|x| ~ 0.58 keeps the kmeans |x| <= 1 precondition). FULL
    oracle: the unrolled kmeans CTE stages + the same integer threshold
    inside a materialized cluster self-join."""
    from extractors_metadata_spark.operators.semdedup import semdedup

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    probe = emb.filter(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.02)).alias("embedding"),
    )
    return semdedup(spark, emb.unionByName(probe), k=8, iters=3, tau_pct=99)


def q_rabin_chunks(spark, sf_dir):
    """Content-defined chunking (operators/cdc.py — the LBFS/rsync storage-
    dedup classic, STATELESS variant): a chunk boundary wherever
    mix31(poly131(char 7-gram)) % 64 == 0, so edges are content-anchored
    and an edit only re-chunks its neighborhood. No min/max clamps —
    production CDC's size clamps make boundaries sequential and oracle-
    unreplayable; the stateless predicate keeps full parallelism and the
    geometric size tail is documented. Chunk identity = 62-bit vhash poly
    fingerprint. FULL oracle: identical boundary predicate + span lead()
    replay."""
    from extractors_metadata_spark.operators.cdc import cdc_chunks

    return cdc_chunks(_t(spark, sf_dir, "documents"))


def q_rabin_dedup(spark, sf_dir):
    """Storage-dedup rollup over content-defined chunks: chunks stored more
    than once, (chunk_fp, chunk_len, n_copies, n_docs) — what a content-
    addressed store would dedupe. One map-side-combining groupBy(chunk_fp).
    FULL oracle."""
    from extractors_metadata_spark.operators.cdc import cdc_dedup_stats

    return cdc_dedup_stats(_t(spark, sf_dir, "documents"))


def q_mann_kendall(spark, sf_dir):
    """Per-cell Mann-Kendall trend (operators/trend.mann_kendall) — the
    emerging-hotspot engine: for every occupied 200k-nanodegree grid cell,
    the exact S statistic and tie-corrected variance numerator of its
    ZERO-FILLED daily event-count series (30 daily bins; the z score is a
    consumer-side ratio of the emitted integers). tile_density says where
    is busy, hotspot_persist where STAYS busy, this where is GETTING
    busier. Day bins via integer `div` per the µs-division rule; T is a
    bounded literal so per-cell work is O(T^2) = constant. FULL oracle:
    the same count/zero-fill/sign-pair/tie arithmetic replayed in SQL."""
    from extractors_metadata_spark.operators.trend import mann_kendall

    lat, lon = _latlon_dbl()
    pts = _t(spark, sf_dir, "events").select(
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"), lat, lon,
    ).select(
        ((F.bround(F.col("lon") * 1000000000.0, 0).cast("long")
          + F.lit(120000000000)) / F.lit(200000)).cast("long").alias("cx"),
        (F.bround(F.col("lat") * 1000000000.0, 0).cast("long")
         / F.lit(200000)).cast("long").alias("cy"),
        F.expr("us div 86400000000").alias("day"),
    )
    counts = pts.groupBy("cx", "cy", "day").agg(
        F.count(F.lit(1)).alias("n")
    )
    return mann_kendall(counts, ["cx", "cy"], bin_col="day", n_col="n")


def q_c4_filters(spark, sf_dir):
    """C4-style line-level document cleaning report: per doc the kept-line
    count, first-match line-drop reasons (no terminal punct -> < 5 words ->
    policy word), the two document kill flags (brace / lorem ipsum) and the
    >= 3-kept-lines document gate. Lines derived + probe-augmented by
    deterministic integer rules both engines replay literally (pii_counts
    pattern); output pure int/bool. One codegen projection + posexplode +
    one doc-keyed partial aggregate — no shuffle beyond the final groupBy,
    no Python. FULL oracle: the wl_aug CTE chain + same first-match CASE."""
    from extractors_metadata_spark.operators.weblines import c4_line_filter

    return c4_line_filter(_t(spark, sf_dir, "documents"))


def q_boilerplate_lines(spark, sf_dir):
    """Host-level boilerplate detection: a line occurring in >= 20% of one
    host's documents (distinct-doc count) is navigation chrome, not content
    — the per-host line-frequency join of production scrape pipelines. The
    probe header (even docs, 50% of each host) makes detection live; natural
    8-12-token lines never repeat. Plan: one (source, txt)-keyed aggregate
    over the line scan, dimension-broadcast host doc-counts, flag join back
    on the same key. FULL oracle: header CTE + the same >= n_docs/5 rule."""
    from extractors_metadata_spark.operators.weblines import boilerplate_lines

    return boilerplate_lines(_t(spark, sf_dir, "documents"))


def q_readability(spark, sf_dir):
    """Flesch-Kincaid readability grading from exact integer sufficient
    statistics (words / derived pseudo-sentences / vowel-group syllables).
    The grade is emitted as an int64 numerator/denominator pair and the
    band is decided by pure integer comparison — no float crosses the
    oracle boundary. One codegen projection; no shuffle, no Python."""
    from extractors_metadata_spark.operators.textscreen import readability_stats

    return readability_stats(_t(spark, sf_dir, "documents"))


def q_encoding_scan(spark, sf_dir):
    """Encoding-health triage: mojibake signatures (double-encoded UTF-8),
    U+FFFD replacement chars, C0 control bleed-through — counted via
    LITERAL-alternation patterns (no char-class ranges) so Java regex and
    RE2 agree by construction; probe suffixes injected deterministically
    (pii_counts pattern) keep the counters live on the clean corpus."""
    from extractors_metadata_spark.operators.textscreen import encoding_scan

    return encoding_scan(_t(spark, sf_dir, "documents"))


def q_kmv_distinct(spark, sf_dir):
    """KMV (bottom-k) distinct-count sketch per language — the third
    classical cardinality sketch beside HLL/CMS, and the one that doubles
    as a mergeable uniform sample of the key space. Hashes are the
    replayable mix31(poly) family; the estimator is one integer division;
    exact distinct counts ride along for the accuracy audit. FULL oracle:
    the poly/mix31 SQL replay + the same window rank and division."""
    from extractors_metadata_spark.operators.sketches import kmv_sketch

    return kmv_sketch(_t(spark, sf_dir, "documents"), ("lang",), "doc_id", 64)


def q_knn_classify(spark, sf_dir):
    """k-NN majority-vote classifier confusion matrix over the embedding
    table (queries = every 20th vector, k=5 exact cosine neighbors, vote
    ties to the smaller label) — the standard embedding-quality probe;
    accuracy/recall are consumer-side ratios of the emitted integers.
    FULL oracle: the list_cosine_similarity rank replay + the
    row_number-argmax vote."""
    from extractors_metadata_spark.operators.similarity import knn_classify

    emb = _t(spark, sf_dir, "embeddings")
    return knn_classify(emb.filter(F.col("vec_id") % 20 == 0), emb, k=5)


def q_ktruss(spark, sf_dir):
    """4-truss of the skewed (Zipf in-degree) deterministic link graph:
    bounded simultaneous support peeling, 6 rounds — the cohesion notion
    one level up from k_core (every surviving edge sits in >= 2 triangles
    of the surviving graph). Engine counts support via the degree-ordered
    triangle enumeration (arboricity-bounded); the oracle replays it as a
    plain common-neighbor join — identical integers, different plan, so
    the scale path is audited by the naive path. FULL oracle: unrolled
    peel stages."""
    from extractors_metadata_spark.operators.linkgraph import (
        k_truss,
        zipf_link_graph,
    )

    return k_truss(zipf_link_graph(_t(spark, sf_dir, "events")), k=4, rounds=6)


def q_crawl_schedule(spark, sf_dir):
    """Politeness-constrained crawl scheduling over the anchor-graph
    frontier: per-host fetch queues ranked by in-link count (ties to url),
    fetch_time = rank * delay, hosts pinned to workers via the replayable
    mix31(poly) hash — the fetcher-fleet planning step between link
    extraction and the crawl. FULL oracle: the anchor-pages CTE + same
    window + literal hash replay."""
    from extractors_metadata_spark.plans.links import (
        crawl_schedule,
        extract_outlinks,
    )

    return crawl_schedule(extract_outlinks(_anchor_pages(spark, sf_dir)))


def q_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity tertiles per language (Wenzek et
    al.) over the add-1 bigram LM scores — the published CommonCrawl
    curation recipe. Ranking key is the exact-integer milli-nat mean NLL
    (pure int64 floor division of the fixed-point LM output), so bucket
    edges are bit-identical in any engine. FULL oracle: the lm_quality
    replay wrapped in the same window/tertile SQL."""
    from extractors_metadata_spark.operators.lm_quality import ccnet_buckets

    return ccnet_buckets(_t(spark, sf_dir, "documents"))


def q_dtw_pairs(spark, sf_dir):
    """Banded dynamic-time-warping track-pair distances (operators/dtw):
    the order-respecting trajectory similarity (Hausdorff's complement) as
    exact min-plus integer DP — Manhattan cost over micro-degree ints,
    Sakoe-Chiba band 6, tracks capped at the first 24 points, user_id < 30
    (dimension-sized pair frame; at fleet scale the hausdorff cell-blocking
    generates candidates). FULL oracle: the DP unrolled as 46 anti-diagonal
    CTE stages (diagonal k reads only k-1 and k-2 — no within-stage
    recursion), INF sentinels identical on both sides."""
    from extractors_metadata_spark.operators.dtw import dtw_pairs, user_tracks

    lat, lon = _latlon_dbl()
    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 30)
        .select("user_id", "event_id", "ts", lat, lon)
    )
    pts = e.select(
        "user_id",
        "ts",
        "event_id",
        (F.bround(F.col("lon") * 1000000.0, 0).cast("long")
         + F.lit(180000000)).alias("qx"),
        (F.bround(F.col("lat") * 1000000.0, 0).cast("long")
         + F.lit(90000000)).alias("qy"),
    )
    return dtw_pairs(user_tracks(pts))


def q_frechet_pairs(spark, sf_dir):
    """Banded discrete Frechet (dog-leash) track-pair distances — the
    minimax sibling of dtw_pairs on the same lattice: the max link length
    of the best simultaneous monotone walk, the measure where one bad
    detour must dominate (route conformance). Same caps/band/exclusion as
    dtw_pairs. FULL oracle: the anti-diagonal stage generator in minimax
    mode (greatest(d, least(preds)))."""
    from extractors_metadata_spark.operators.dtw import (
        frechet_pairs,
        user_tracks,
    )

    lat, lon = _latlon_dbl()
    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 30)
        .select("user_id", "event_id", "ts", lat, lon)
    )
    pts = e.select(
        "user_id",
        "ts",
        "event_id",
        (F.bround(F.col("lon") * 1000000.0, 0).cast("long")
         + F.lit(180000000)).alias("qx"),
        (F.bround(F.col("lat") * 1000000.0, 0).cast("long")
         + F.lit(90000000)).alias("qy"),
    )
    return frechet_pairs(user_tracks(pts))


def q_lcss_pairs(spark, sf_dir):
    """Banded LCSS track-pair similarity — the outlier-robust third
    member of the lattice family (dtw min-plus, frechet minimax, lcss
    max-combine; Vlachos et al. ICDE 2002): the longest order-preserving
    chain of point pairs within 80 micro-degrees on BOTH axes. One GPS
    glitch costs DTW its full distance but LCSS only that one match.
    Same caps/band/exclusion as dtw_pairs; reference parity: the
    trajectory-similarity complement of gps_bounds-style footprint
    matching (full_day_to_tiles.py:24-33). FULL oracle: the shared
    anti-diagonal stage generator in lcss mode — match flag on the
    lattice, coalesce-to-0 empty-prefix sentinels."""
    from extractors_metadata_spark.operators.dtw import (
        lcss_pairs,
        user_tracks,
    )

    lat, lon = _latlon_dbl()
    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 30)
        .select("user_id", "event_id", "ts", lat, lon)
    )
    pts = e.select(
        "user_id",
        "ts",
        "event_id",
        (F.bround(F.col("lon") * 1000000.0, 0).cast("long")
         + F.lit(180000000)).alias("qx"),
        (F.bround(F.col("lat") * 1000000.0, 0).cast("long")
         + F.lit(90000000)).alias("qy"),
    )
    return lcss_pairs(user_tracks(pts), eps=80)


def q_swalign_pairs(spark, sf_dir):
    """Banded Smith-Waterman LOCAL alignment — the fourth lattice mode
    (dtw min-plus, frechet minimax, lcss global max-combine, SW local
    max-with-zero-floor; Smith & Waterman 1981): the best-scoring shared
    SUB-ROUTE of two tracks (eps-match +2, mismatch/gap -1, zero floor
    restarts, best cell anywhere wins) — detects a shared segment
    between otherwise-different routes that every global measure
    averages away. Same caps/band as dtw_pairs. FULL oracle: the shared
    anti-diagonal stage generator in swalign mode + a max-over-all-cells
    epilogue."""
    from extractors_metadata_spark.operators.dtw import (
        swalign_pairs,
        user_tracks,
    )

    lat, lon = _latlon_dbl()
    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 30)
        .select("user_id", "event_id", "ts", lat, lon)
    )
    pts = e.select(
        "user_id",
        "ts",
        "event_id",
        (F.bround(F.col("lon") * 1000000.0, 0).cast("long")
         + F.lit(180000000)).alias("qx"),
        (F.bround(F.col("lat") * 1000000.0, 0).cast("long")
         + F.lit(90000000)).alias("qy"),
    )
    return swalign_pairs(user_tracks(pts), eps=80)


def q_ransac_lines(spark, sf_dir):
    """Deterministic RANSAC line fitting over the event point cloud
    (Fischler-Bolles 1981): 32 candidate lines whose anchor pairs come
    from the replayable hash family (min-hash argmin per salt — a pure
    function of the data, bit-identical under any partitioning), scored
    by the Manhattan-normalized integer inlier rule |cross| <= 50 *
    L1(dir). Emits all candidates with inlier counts; the consensus
    line is the consumer-side argmax. FULL oracle: row_number argmin
    anchors + the same integer rule."""
    from extractors_metadata_spark.operators.ransac import ransac_lines

    lat, lon = _latlon_dbl()
    e = _t(spark, sf_dir, "events").select("event_id", lat, lon).select(
        F.col("event_id").alias("id"),
        F.bround(F.col("lon") * 1000000.0, 0).cast("long").alias("x"),
        F.bround(F.col("lat") * 1000000.0, 0).cast("long").alias("y"),
    )
    return ransac_lines(e, k=32, tol=50)


def q_track_diameter(spark, sf_dir):
    """Per-user track diameter: max squared separation between distinct
    visited positions (first 64 points, nanodegree quantize-once ints)
    plus the achieving pair under the frozen lexicographic tie-break —
    the maximum-displacement span sibling of radius_gyration, all int64
    (no sqrt, no float). Engine: capped distinct self-join + min_by
    composite argmax (pairs bounded 64^2 per key, never data-squared).
    FULL oracle: the same pair join with the row_number composite-argmax
    pattern (DuckDB min_by rejects struct vals)."""
    from extractors_metadata_spark.operators.trajectory import (
        track_diameter,
    )

    lat, lon = _latlon_dbl()
    e = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", lat, lon
    ).select(
        "user_id",
        "ts",
        "event_id",
        F.bround(F.col("lon") * 1000000000.0, 0).cast("long").alias("px"),
        F.bround(F.col("lat") * 1000000000.0, 0).cast("long").alias("py"),
    )
    return track_diameter(e, max_len=64)


def q_line_raster(spark, sf_dir):
    """Midpoint-DDA rasterization of track segments onto the plot grid
    (the Bresenham-equivalent, endpoints exact, max(|dr|,|dc|)+1 cells
    per segment) — the segment-based raster leg beside tile_assign's
    points: drawing a GPS trace onto tiles. Pure-integer interpolation
    with EXPLICIT floor division (Spark div truncates, DuckDB //
    floors — the pmod adjustment closes the trap). FULL oracle: same
    window pairs + lateral range + // interpolation."""
    from extractors_metadata_spark.operators.linedda import line_raster

    return line_raster(_t(spark, sf_dir, "events"))


def q_anf_registers(spark, sf_dir):
    """HyperANF register state over the zipf link graph (Boldi-Vigna
    WWW 2011 — the four-degrees-of-separation algorithm): per-node HLL
    registers of the h-hop out-ball propagated by register-MAX over
    edges, 4 bounded rounds, rolled up per 16 node groups — the
    emitted state is pure integer (the hll_sketch bucket/rank family),
    max-merge idempotent, so a stateful approximate-diameter engine is
    FULLY oracle-checkable. FULL oracle: unrolled register-max rounds."""
    from extractors_metadata_spark.operators.linkgraph import (
        anf_registers,
        zipf_link_graph,
    )

    return anf_registers(zipf_link_graph(_t(spark, sf_dir, "events")))


def q_simrank(spark, sf_dir):
    """SimRank structural similarity (Jeh-Widom KDD 2002: similar pages
    are pointed to by similar pages) over the zipf subgraph on nodes
    < 200, 3 bounded rounds of exact integer fixed point (floor
    division, partition-invariant; SimRank is quadratic by definition —
    the landmark-subset regime IS the fleet-scale recipe). FULL oracle:
    rounds unrolled verbatim."""
    from extractors_metadata_spark.operators.linkgraph import (
        simrank,
        zipf_link_graph,
    )

    return simrank(zipf_link_graph(_t(spark, sf_dir, "events")), rounds=3)


def q_bowtie_classes(spark, sf_dir):
    """Bow-tie decomposition of the zipf link graph (Broder et al.,
    WWW 2000 — the web-graph macro structure): from the max-degree hub
    seed, 4-hop forward AND backward directed reachability classify
    nodes core / in / out / disconnected (bounds ARE the semantics —
    the k_hop discipline). FULL oracle: two directed delta-BFS unrolls
    + the 4-way CASE in SQL."""
    from extractors_metadata_spark.operators.linkgraph import (
        bowtie_classes,
        zipf_link_graph,
    )

    return bowtie_classes(zipf_link_graph(_t(spark, sf_dir, "events")))


def q_polyline_encode(spark, sf_dir):
    """Encoded Polyline (polyline6) serialization of every user's track
    — the web-mapping wire format (Maps/OSRM/Valhalla), emitted
    character-for-character from micro-degree quantize-once ints: delta
    -> zigzag -> 5-bit continuation chunks -> ASCII+63. Output
    round-trips through any public polyline6 decoder. FULL oracle: the
    chunk loop unrolled to 7 fixed CASE stages per value, string_agg
    ordered."""
    from extractors_metadata_spark.operators.dtw import user_tracks
    from extractors_metadata_spark.operators.polyline import (
        polyline_tracks,
    )

    lat, lon = _latlon_dbl()
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", lat, lon
    )
    pts = e.select(
        "user_id",
        "ts",
        "event_id",
        F.bround(F.col("lon") * 1000000.0, 0).cast("long").alias("qx"),
        F.bround(F.col("lat") * 1000000.0, 0).cast("long").alias("qy"),
    )
    return polyline_tracks(user_tracks(pts))


def q_jenks_breaks(spark, sf_dir):
    """Jenks natural-breaks classification (the choropleth classifier
    every cartographic stack ships) of the 864-cell occupancy surface
    into 5 classes: the 1-D k-segmentation DP on the 2^-20 fixed-point
    SSE (one nonneg floor division per pair — identical in both
    engines), packed-key argmin ties to the smaller break. FULL oracle:
    cost table + k unrolled DP stages + scalar-subquery backtrack."""
    from extractors_metadata_spark.operators.jenks import jenks_breaks

    return jenks_breaks(_t(spark, sf_dir, "events"), k=5)


def q_grid_upsample(spark, sf_dir):
    """Bilinear 2x upsampling of the occupancy-count lattice (the
    image-pyramid UPSAMPLE beside tile_pyramid's downsample): 4x-scaled
    exact-int bilinear values on the doubled 107x31 grid, midpoints
    averaging 2 or 4 source cells. FULL oracle: same shifted joins in
    SQL."""
    from extractors_metadata_spark.operators.heatmap import grid_upsample
    from extractors_metadata_spark.operators.spatial_autocorr import (
        occupancy_flags,
    )

    e = _t(spark, sf_dir, "events")
    cnts = (
        e.select(
            F.expr("((event_id % 1000) * 108 + 54) div 2000").alias("r"),
            F.expr("((event_id % 640) * 50 + 25) div 2000").alias("c"),
        )
        .groupBy("r", "c")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    lat, _ = occupancy_flags(e)
    vals = lat.join(cnts, ["r", "c"], "left").select(
        "r", "c", F.coalesce(F.col("cnt"), F.lit(0)).alias("v")
    )
    return grid_upsample(vals)


def q_geary_c(spark, sf_dir):
    """Geary's C over the occupancy COUNT surface — the third canonical
    autocorrelation statistic beside Moran (local_moran) and the binary
    join counts: rook-weighted squared differences vs variance, emitted
    as the exact n-scaled integer rational (c_num, c_den) plus its
    sufficient statistics. FULL oracle: same edge joins + moment
    algebra in SQL."""
    from extractors_metadata_spark.operators.spatial_autocorr import (
        geary_c,
    )

    return geary_c(_t(spark, sf_dir, "events"))


def q_marching_squares(spark, sf_dir):
    """Marching squares over the binary occupancy surface — the
    raster->vector contouring classic (the north rule's raster<->vector
    pair, vector direction): per 2x2 block with a crossing, the 4-bit
    corner case and its segment count from the frozen 16-entry table
    (saddles reported, not resolved). Shares occupancy_flags with
    join_counts; O(lattice) after one count agg. FULL oracle: same
    corner joins + literal table."""
    from extractors_metadata_spark.operators.spatial_autocorr import (
        marching_squares,
    )

    return marching_squares(_t(spark, sf_dir, "events"))


def q_join_counts(spark, sf_dir):
    """Join-count statistics over the plot-grid occupancy surface
    (Cliff & Ord 1981): black = above-average event occupancy (the
    cross-multiplied integer predicate), BB/WW/BW rook-adjacency counts
    plus the hypergeometric expectations as exact rationals — the
    binary complement of local_moran, no float anywhere. FULL oracle:
    the same lattice/edge generators and integer rules in SQL."""
    from extractors_metadata_spark.operators.spatial_autocorr import (
        join_counts,
    )

    return join_counts(_t(spark, sf_dir, "events"))


def q_viterbi_match(spark, sf_dir):
    """Viterbi HMM map-matching (operators/mapmatch): jointly decode each
    user's 12-point track onto the plot grid — hidden states are the 3x3
    candidate cells around each observation, emission = Manhattan
    distance to the cell centroid, transition = centroid-to-centroid
    Manhattan (Newson & Krumm 2009; the track-level upgrade of the
    reference's per-point plotid_by_latlon resolve). PURE-INTEGER:
    observations live on a half-milli-cell lattice derived from event_id
    by exact int arithmetic, so no float exists anywhere. FULL oracle:
    forward DP unrolled as 11 sequential stages + the backtrack unrolled
    backwards with the same min(cost*1e6 + r*1000 + c) tie-break."""
    from extractors_metadata_spark.operators.mapmatch import viterbi_match

    return viterbi_match(_t(spark, sf_dir, "events"))


def q_wl_colors(spark, sf_dir):
    """1-WL (Weisfeiler-Leman) color refinement over the zipf link graph,
    3 rounds — the classical structural-role fingerprint (and the
    expressive ceiling of message-passing GNNs): nodes share wl_color iff
    1-WL cannot distinguish their 3-hop neighborhoods. Canonical strings
    are numerically-sorted neighbor multisets hashed through the
    replayable mix31(poly) family. FULL oracle: unrolled rounds with
    string_agg ORDER BY the integer color."""
    from extractors_metadata_spark.operators.linkgraph import (
        wl_refine,
        zipf_link_graph,
    )

    return wl_refine(zipf_link_graph(_t(spark, sf_dir, "events")), rounds=3)


def q_zipf_fit(spark, sf_dir):
    """Zipf rank-frequency regression moments per language over the
    top-500 vocabulary — the corpus-health diagnostic (natural text ~
    slope -1). ln rank / ln freq enter as per-term 1e6 half-even fixed
    points (cross products safely int64, np ulp drift absorbed); the
    slope is a consumer-side ratio of the emitted integer moments. FULL
    oracle: same window rank + round_even(ln * 1e6) + sums."""
    from extractors_metadata_spark.operators.corpus import zipf_fit

    return zipf_fit(_t(spark, sf_dir, "documents"), top_v=500)


def q_sprt_test(spark, sf_dir):
    """Wald sequential probability ratio test per user on the purchase
    rate (H0 p=0.10 vs H1 p=0.20, alpha=beta=0.05) — the classical
    early-stopping A/B walk. Per-event LLR increments and thresholds are
    compile-time 1e9 fixed-point integers from cusum.sprt_constants
    (single source for operator AND oracle), so the walk is an int64
    running sum and every decision an integer compare. FULL oracle: same
    window running sum + first-crossing join."""
    from extractors_metadata_spark.operators.cusum import sprt_test

    return sprt_test(_t(spark, sf_dir, "events"))


def q_quadkey_encode(spark, sf_dir):
    """Bing quadkey encoding at z12 — completes the tile-naming surface
    (XYZ, geohash, H3, S2, Z-order, quadkey): digit i = 2*bit(y)+bit(x)
    MSB-first, so children share their parent's prefix and prefix range
    scans ARE quadtree descent. x/y from the proven Arrow tile kernel;
    digits via the exact pow-cast bit idiom. FULL oracle: the z12 slippy
    replay + list_transform digit build."""
    from extractors_metadata_spark.functions.spark_udfs import tile_xy_udf
    from extractors_metadata_spark.functions.tiles import quadkey_expr

    e = _t(spark, sf_dir, "events").select(
        "event_id", F.expr(LAT_IN).alias("lat"), F.expr(LON_IN).alias("lon")
    )
    t = e.withColumn("_t", tile_xy_udf(12)("lat", "lon")).select(
        "event_id", F.col("_t.x").alias("x"), F.col("_t.y").alias("y")
    )
    return t.select("event_id", "x", "y", quadkey_expr("x", "y", 12).alias("quadkey"))


_INGEST_RULES = [("/d1", False), ("/d12", True), ("/d3", False), ("/d", True)]


def q_ingest_gate(spark, sf_dir):
    """Fetch-side admission funnel — the web mirror of curation_filter:
    per page one frozen first-match verdict composing the robots
    longest-match rule (doc-path ruleset, live branches by id digits),
    the encoding triage, and the literal-phrase blocklist:
    not_crawlable -> bad_encoding -> blocklisted -> admitted. Three
    zero-shuffle screens + two id-keyed joins. FULL oracle: the robots
    GREATEST literals + the encoding replay as a derived table + contains
    blocklist + the same CASE."""
    from extractors_metadata_spark.operators.blocklist import blocklist_hits
    from extractors_metadata_spark.operators.textscreen import encoding_scan
    from extractors_metadata_spark.plans.links import robots_filter

    d = _t(spark, sf_dir, "documents")
    pages = d.select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example/d"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    rb = robots_filter(pages, _INGEST_RULES).select("url", "crawlable")
    enc = encoding_scan(d).select("doc_id", "encoding_ok")
    bl = blocklist_hits(d, _BLOCKLIST).select(
        "doc_id", F.col("keep").alias("bl_keep")
    )
    j = pages.join(rb, "url").join(enc, "doc_id").join(bl, "doc_id")
    reason = (
        F.when(~F.col("crawlable"), "not_crawlable")
        .when(~F.col("encoding_ok"), "bad_encoding")
        .when(~F.col("bl_keep"), "blocklisted")
        .otherwise("admitted")
    )
    return j.select(
        "doc_id",
        "url",
        reason.alias("reason"),
        (reason == "admitted").alias("admitted"),
    )


def q_allen_census(spark, sf_dir):
    """Allen interval-algebra census (operators/sessions.allen_census)
    per user over event intervals [ts, ts + (max(round(value*100),0)+1)
    * 10ms]: every pair in canonical (s, e, id) order classified into
    the 7 forward Allen relations (before/meets/overlaps/finished_by/
    contains/starts/equals; inverses implied by orientation) by pure
    int64-microsecond comparisons. One user-keyed Exchange, per-key
    O(n^2/2) pairs (the theil_sen per-key contract, <=99 events/user in
    synth). FULL oracle: verbatim pair replay."""
    from extractors_metadata_spark.operators.sessions import allen_census

    e = _t(spark, sf_dir, "events")
    s = F.unix_micros(F.col("ts").cast("timestamp"))
    dur = (
        F.greatest(F.bround(F.col("value") * 100.0, 0).cast("long"), F.lit(0))
        + F.lit(1)
    ) * F.lit(10000)
    iv = e.select("event_id", "user_id", s.alias("s"), (s + dur).alias("en"))
    return allen_census(iv)


def q_ridge_fit(spark, sf_dir):
    """Closed-form exact-integer ridge regression
    (operators/linearfit.ridge_fit) per language over documents:
    n_chars ~ w0 + w1*tokens + w2*digits, lam=10000 on the slopes,
    solved by Cramer's rule on DECIMAL(38,0) (Spark) == HUGEINT
    (DuckDB) — decimal `div` and HUGEINT `//` both truncate toward
    zero (measured, incl. negative numerators), so the 1e6 fixed-point
    coefficients are bit-identical. One partial-aggregating groupBy (9
    sums) is the only Exchange. FULL oracle: verbatim Cramer replay."""
    from extractors_metadata_spark.functions.textstats import token_count
    from extractors_metadata_spark.operators.linearfit import ridge_fit

    d = _t(spark, sf_dir, "documents")
    feats = d.select(
        "lang",
        token_count(F.col("text")).cast("long").alias("x1"),
        (
            F.length("text")
            - F.length(F.regexp_replace(F.col("text"), "[0-9]", ""))
        ).cast("long").alias("x2"),
        F.col("n_chars").cast("long").alias("y"),
    )
    return ridge_fit(feats, ["lang"], "x1", "x2", "y", lam=10000)


def q_perceptron_fit(spark, sf_dir):
    """Batch perceptron (operators/linearfit.perceptron_fit), 5 rounds,
    separating lang='en' (+1) from the rest (-1) on (tokens, digits)
    features: integer weights, commutative integer gradient sums —
    deterministic under any partitioning; per-round error counts under
    the incoming weights. R bounded full-scan aggregates over a
    persisted 3-column frame; 1-row collect per round. FULL oracle:
    unrolled round-by-round CTE replay."""
    from extractors_metadata_spark.functions.textstats import token_count
    from extractors_metadata_spark.operators.linearfit import perceptron_fit

    d = _t(spark, sf_dir, "documents")
    feats = d.select(
        token_count(F.col("text")).cast("long").alias("x1"),
        (
            F.length("text")
            - F.length(F.regexp_replace(F.col("text"), "[0-9]", ""))
        ).cast("long").alias("x2"),
        F.when(F.col("lang") == "en", F.lit(1))
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("y"),
    )
    return perceptron_fit(feats, "x1", "x2", "y", rounds=5)


def q_huffman_cost(spark, sf_dir):
    """Optimal prefix-code cost (operators/huffman.py) per language:
    26 letter weights from length-arithmetic codegen (one partial agg,
    no explode/regex/UDF on the data-sized path), then the Huffman
    construction over the <=26-node alphabet in one applyInPandas pass
    — frozen (w, id) heap tie-break with sequential merge ids; emitted
    total_bits is additionally tie-break-invariant by optimality. FULL
    oracle: 25 unrolled merge stages (row_number min-2 + banked merged
    weights), MATERIALIZED throughout."""
    from extractors_metadata_spark.operators.huffman import (
        huffman_cost,
        letter_weights,
    )

    d = _t(spark, sf_dir, "documents")
    return huffman_cost(letter_weights(d, ["lang"]), ["lang"])


def q_luhn_validate(spark, sf_dir):
    """Luhn mod-10 validation (operators/checksum.py) of card-shaped
    candidates synthesized deterministically from doc_id ('4' + 14
    lpad digits + doc_id%10 pseudo check digit — ~1 in 10 validates):
    the PII-candidate screen after pii_counts' pattern extraction.
    Pure JVM higher-order functions (transform over sequence +
    aggregate fold — no explode, no Python); DuckDB replays with
    list_transform + list_sum on the shared lambda body. FULL oracle."""
    from extractors_metadata_spark.operators.checksum import luhn_sum, luhn_valid

    d = _t(spark, sf_dir, "documents")
    num = F.concat(
        F.lit("4"),
        F.lpad(
            ((F.col("doc_id") * 9973 + 12345) % F.lit(10**14)).cast("string"),
            14,
            "0",
        ),
        (F.col("doc_id") % 10).cast("string"),
    )
    cand = d.select("doc_id", num.alias("num"))
    return cand.select(
        "doc_id",
        "num",
        luhn_sum("num").cast("long").alias("luhn_sum"),
        luhn_valid("num").alias("valid"),
    )


def q_harmonic_centrality(spark, sf_dir):
    """Bounded-radius harmonic centrality (operators/linkgraph
    .harmonic_centrality, Boldi & Vigna 2014) of seed nodes 0..9 over
    the symmetrized zipf link graph, K=4: exact integer sum of
    lcm(1..4) div hop per reached node (den=12 emitted). (seed, node)-
    keyed delta BFS, anti-join settles, localCheckpoint rounds — the
    exact seed-set answer beside anf_registers' every-node sketch.
    FULL oracle: 4 unrolled reach stages with EXCEPT settles."""
    from extractors_metadata_spark.operators.linkgraph import (
        harmonic_centrality,
        zipf_link_graph,
    )

    edges = zipf_link_graph(_t(spark, sf_dir, "events"))
    seeds = spark.range(10).select(F.col("id").alias("node"))
    return harmonic_centrality(edges, seeds, hops=4)


def q_calibration_bins(spark, sf_dir):
    """Calibration audit (operators/calibration.calibration_bins) of the
    heuristic en-scorer against the true lang label: score = en-marker
    char mass over padded length, floor-quantized to 1e4 fixed point
    (least((hits*40000) div len, 10000) — exact ints both engines),
    binned into deciles; per bin the reliability (n, n_pos, sum_score)
    and Brier (sum (s - y*1e4)^2) sufficient statistics — no float
    leaves the operator. One projection + one 10-ary agg. FULL oracle."""
    from extractors_metadata_spark.operators.calibration import calibration_bins

    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        F.least(
            F.expr(
                "(("
                + " + ".join(
                    f"(length(concat(' ', lower(text), ' ')) - "
                    f"length(replace(concat(' ', lower(text), ' '), '{m}', '')))"
                    for m in [" the ", " and ", " of ", " to ", " is "]
                )
                + ") * 40000) div length(concat(' ', lower(text), ' '))"
            ),
            F.lit(10000).cast("long"),
        ).alias("s_fp"),
        F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0)).alias("y"),
    )
    return calibration_bins(scored, "s_fp", "y", scale=10000, n_bins=10)


def q_ntt_autocorr(spark, sf_dir):
    """Exact circular autocorrelation via number-theoretic transform
    (operators/ntt.py): per user the 32-bin (day mod 32) activity
    profile, counts capped at 1000 (r < p = 998244353 envelope), the
    radix-2 NTT over Z_p vectorized across keys in one Arrow pass —
    the exact-arithmetic FFT this engine's float rules forbid. THE
    ORACLE IS NOT A REPLAY: DuckDB computes the O(n^2) definition
    sum x[i]*x[(i+k) mod 32], so the butterfly pipeline is checked
    against the mathematics (the url_dedup closed-form discipline)."""
    from extractors_metadata_spark.operators.ntt import ntt_autocorr

    e = _t(spark, sf_dir, "events").select(
        "user_id",
        (
            F.expr("unix_micros(cast(ts as timestamp)) div 86400000000") % 32
        ).alias("bin"),
    )
    counts = e.groupBy("user_id", "bin").agg(F.count(F.lit(1)).alias("n"))
    return ntt_autocorr(counts, ["user_id"], n=32, cap=1000)


def q_cramer_von_mises(spark, sf_dir):
    """Two-sample Cramer-von Mises U per user ('click' vs 'view'
    values) — the INTEGRATED ECDF-distance sibling of ks_test's sup
    statistic (CvM weighs the whole distribution, KS only the worst
    point): with pooled ranks r_i / s_j and within-sample ranks i / j
    under the FROZEN unique ordering (v, sample, event_id),
    U = n1*sum(r_i - i)^2 + n2*sum(s_j - j)^2 — pure integers (the
    T statistic U/(n1 n2 N) - (4 n1 n2 - 1)/(6N) stays consumer-side).
    Deterministic tie handling (the runs_test discipline). Two
    same-ordered windows + one agg on one user Exchange. FULL oracle:
    verbatim rank replay."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    ).select(
        "user_id",
        "event_id",
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("g1"),
        F.bround(F.col("value") * 1000000.0, 0).cast("long").alias("v"),
    )
    wp = Window.partitionBy("user_id").orderBy("v", "g1", "event_id")
    ww = Window.partitionBy("user_id", "g1").orderBy("v", "g1", "event_id")
    ranked = e.select(
        "user_id",
        "g1",
        (F.row_number().over(wp).cast("long") - F.row_number().over(ww).cast("long")).alias("_d"),
    )
    agg = ranked.groupBy("user_id").agg(
        F.sum("g1").cast("long").alias("n1"),
        F.sum(1 - F.col("g1")).cast("long").alias("n2"),
        F.sum(F.when(F.col("g1") == 1, F.col("_d") * F.col("_d")).otherwise(0))
        .cast("long")
        .alias("_s1"),
        F.sum(F.when(F.col("g1") == 0, F.col("_d") * F.col("_d")).otherwise(0))
        .cast("long")
        .alias("_s2"),
    )
    return agg.select(
        "user_id",
        "n1",
        "n2",
        (F.col("n1") * F.col("_s1") + F.col("n2") * F.col("_s2")).alias("u_stat"),
    )


def q_matrix_profile(spark, sf_dir):
    """Matrix profile (operators/matrixprofile.py, Yeh/Keogh ICDM 2016)
    per user over the zero-filled daily count series: for every m=7-day
    window the exact integer squared distance to (and index of) its
    nearest neighbor window outside the |i-j| >= 4 exclusion zone —
    motif/discord detection for every event stream at once. Pairs
    vectorized across keys in one Arrow pass on the bounded 24x24 grid;
    ties freeze to the smallest index. FULL oracle: window/pair/argmin
    replay (range-join windows + composite row_number)."""
    from extractors_metadata_spark.operators.matrixprofile import matrix_profile

    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("day"),
    )
    counts = e.groupBy("user_id", "day").agg(F.count(F.lit(1)).alias("n"))
    return matrix_profile(counts, ["user_id"], bin_col="day", n_col="n")


def q_salt_plan(spark, sf_dir):
    """Skew-salting advisor (the operators/skew.py planning view): per
    hot cell key (tile z12 occupancy) the salt fan-out ceil(n/target)
    the repartitioner would apply, target = 2000 rows/task — the
    explicit-skew-handling story of the north rule made inspectable:
    emit every key whose count exceeds target with its n, salt factor
    and post-salt max partition load (exact ceil divisions via
    (n + t - 1) div t). One aggregate; the advisor output is dim-sized.
    FULL oracle."""
    e = _t(spark, sf_dir, "events")
    # the zipf hub mapping (zipf_link_graph's dst rule): cell c is hit by
    # ~the c-th harmonic share — REAL skew, which is what the advisor is for
    cells = e.select(
        F.expr("4096 div (1 + (event_id % 4096))").alias("cell")
    )
    counts = cells.groupBy("cell").agg(F.count(F.lit(1)).cast("long").alias("n"))
    t = 500
    hot = counts.filter(F.col("n") > t)
    return hot.select(
        "cell",
        "n",
        F.expr(f"(n + {t} - 1) div {t}").alias("salt"),
        F.expr(f"(n + ((n + {t} - 1) div {t}) - 1) div ((n + {t} - 1) div {t})").alias(
            "max_load"
        ),
    )


def q_burst_detect(spark, sf_dir):
    """Kleinberg burst detection (operators/burst.py, KDD 2002) per user
    over the 0-based daily series (T=32 literal bins): 2-state automaton
    (lam0 = n/32, lam1 = 2*lam0), Poisson bin costs as exact ints
    A_s - n_t*B_s off three per-key 1e9 ln fixed points (scalar libm log
    per unique rate — no SIMD ulp drift), burst entry pays the frozen
    ln(32) literal; min-cost path + backtrack in pure int64 with state-0
    tie-breaks, vectorized across keys in one Arrow pass. FULL oracle:
    32 unrolled forward + 31 backtrack MATERIALIZED stages (the
    viterbi_match shape)."""
    from extractors_metadata_spark.operators.burst import burst_detect

    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("day"),
    )
    lo = int(e.agg(F.min("day")).first()[0])  # bounded 1-row collect
    counts = (
        e.select("user_id", (F.col("day") - F.lit(lo)).alias("t"))
        .filter((F.col("t") >= 0) & (F.col("t") < 32))
        .groupBy("user_id", "t")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return burst_detect(counts, ["user_id"], bin_col="t", n_col="n")


def q_critical_path(spark, sf_dir):
    """Critical-path table (operators/linkgraph.longest_paths) over the
    ACYCLIC src<dst zipf subgraph with the shortest_paths weight rule —
    max path weight ending at each node, <= 8 edges (the max-plus
    mirror of the SSSP machinery: every node opens a path at 0, delta
    relaxation, int64 sums). FULL oracle: unrolled max-relaxation
    stages."""
    from extractors_metadata_spark.operators.linkgraph import (
        longest_paths,
        zipf_link_graph,
    )

    edges = (
        zipf_link_graph(_t(spark, sf_dir, "events"))
        .filter(F.col("src") < F.col("dst"))
        .withColumn("w", (F.lit(1) + (F.col("src") + 3 * F.col("dst")) % 7).cast("long"))
    )
    return longest_paths(edges, rounds=8)


def q_adler32(spark, sf_dir):
    """Adler-32 content checksums (operators/checksum.adler32, RFC
    1950) over ASCII resource keys (source '/' doc_id) — the zlib/rsync
    transfer-integrity checksum via the POSITION-WEIGHTED closed form
    (b = n + sum (n-i+1) d_i), turning the serial rolling scan into an
    order-free codegen aggregate both engines replay; grouped to per-
    source XOR-free sums (count + checksum sum fits int64). FULL
    oracle: identical closed form via list_transform + list_sum."""
    from extractors_metadata_spark.operators.checksum import adler32

    d = _t(spark, sf_dir, "documents")
    keyed = d.select(
        "source",
        F.concat_ws("/", F.col("source"), F.col("doc_id").cast("string")).alias(
            "rkey"
        ),
    )
    rows = keyed.select("source", adler32("rkey").alias("ck"))
    return rows.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("ck").cast("long").alias("ck_sum"),
        F.min("ck").cast("long").alias("ck_min"),
        F.max("ck").cast("long").alias("ck_max"),
    )


def q_zonemap_audit(spark, sf_dir):
    """Zone-map (min/max block statistics) pruning audit — the
    data-skipping effectiveness question behind every 100 TB scan plan:
    block docs by doc_id div 100, per block the n_chars min/max, then
    for each literal threshold how many blocks a `n_chars > T` scan
    PRUNES (max <= T) vs must read — the measurable version of this
    engine's PushedFilters discipline, and the audit that decides
    whether re-clustering (zorder_key) pays. One block agg + a 3-row
    broadcast threshold dim. FULL oracle."""
    d = _t(spark, sf_dir, "documents")
    blocks = d.groupBy(F.expr("doc_id div 100").alias("blk")).agg(
        F.min("n_chars").alias("mn"),
        F.max("n_chars").alias("mx"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    th = spark.createDataFrame([(500,), (2000,), (8000,)], "t long")
    joined = blocks.crossJoin(F.broadcast(th))
    return joined.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum((F.col("mx") <= F.col("t")).cast("long")).alias("prunable"),
        F.sum(
            F.when(F.col("mx") <= F.col("t"), F.col("n_rows")).otherwise(0)
        ).cast("long").alias("rows_skipped"),
    )


def q_attack_robustness(spark, sf_dir):
    """Attack-tolerance curve (operators/linkgraph.attack_robustness,
    Albert-Jeong-Barabasi 2000) of the symmetrized zipf graph: remove
    the top-k hubs (frozen degree-desc rank), components via the
    EXACTLY-10-round min-label iterate (no early exit — both engines
    compute the identical bounded iterate), per k the node/arc counts,
    giant-component size and component count. FULL oracle: degree rank
    + per-k 10 unrolled min-label stages."""
    from extractors_metadata_spark.operators.linkgraph import (
        attack_robustness,
        zipf_link_graph,
    )

    edges = zipf_link_graph(_t(spark, sf_dir, "events"))
    return attack_robustness(edges, ks=(0, 8), rounds=10)


def q_friedman_test(spark, sf_dir):
    """Friedman within-block rank test ingredients — the repeated-
    measures complement of mann_whitney/cramer_von_mises (do the 5
    event types differ in per-user volume, controlling for the user?):
    per COMPLETE block (users with all 5 types) rank the per-type
    counts 1..5 under the frozen (count, type) tie-break, emit per type
    the exact rank sum + block count; the chi^2_F statistic
    12/(nk(k+1)) * sum R_j^2 - 3n(k+1) stays consumer-side. Zero-fill
    is deliberate NOT applied: completeness is the classical contract
    (restriction replayed). Two windows + two aggs on one Exchange
    family. FULL oracle: verbatim rank replay."""
    e = _t(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    complete = (
        counts.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("k"))
        .filter(F.col("k") == 5)
        .select("user_id")
    )
    cc = counts.join(complete, "user_id")
    wr = Window.partitionBy("user_id").orderBy("n", "event_type")
    ranked = cc.select(
        "user_id", "event_type", F.row_number().over(wr).cast("long").alias("r")
    )
    return ranked.groupBy("event_type").agg(
        F.sum("r").alias("r_sum"),
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
    )


def q_temporal_reach(spark, sf_dir):
    """Time-respecting reachability (operators/linkgraph.temporal_reach,
    Holme & Saramaki 2012) from seeds 0..4 over the TIMED zipf graph
    (edge time = event µs): earliest non-decreasing-time arrival per
    (seed, node), <= 6 journey edges — the infection semantics static
    BFS gets wrong. Exact int64 µs; delta relaxation == full relaxation
    by the min-merge induction. FULL oracle: unrolled time-filtered
    relaxation stages."""
    from extractors_metadata_spark.operators.linkgraph import temporal_reach

    e = _t(spark, sf_dir, "events")
    edges = e.select(
        ((F.col("event_id") * 131 + F.col("user_id")) % 1000).alias("src"),
        F.expr("1000 div (1 + (event_id % 1000))").alias("dst"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
    ).filter(F.col("src") != F.col("dst"))
    seeds = spark.range(5).select(F.col("id").alias("node"))
    return temporal_reach(edges, seeds, rounds=6)


def q_cidr_match(spark, sf_dir):
    """Longest-prefix CIDR tagging — the geo/ASN enrichment step of a
    crawl pipeline: request IPs (Knuth-multiplicative spread of doc_id
    over 2^32) matched against a 3-level hierarchical CIDR dim (16 /4
    blocks covering the space, 32 disjoint /12 islands, 64 /20
    pinpoints — all closed-form literals), most-specific wins (max len;
    ties impossible: levels distinct, same-level blocks disjoint).
    One broadcast range join + per-ip argmax + block rollup — the
    prefix_remap discipline on integer ranges. FULL oracle: identical
    dim + BETWEEN join + row_number argmax."""
    d = _t(spark, sf_dir, "documents")
    ips = d.select(
        "doc_id",
        ((F.col("doc_id") * 2654435761) % F.lit(2**32)).alias("ip"),
    )
    rows = []
    for p in range(16):
        rows.append((4, p << 28, (p << 28) + (1 << 28) - 1))
    for i in range(32):
        pfx = (i * 131) % 4096
        rows.append((12, pfx << 20, (pfx << 20) + (1 << 20) - 1))
    for i in range(64):
        pfx = (i * 2479) % (1 << 20)
        rows.append((20, pfx << 12, (pfx << 12) + (1 << 12) - 1))
    blocks = spark.createDataFrame(rows, "len long, lo long, hi long")
    cand = ips.crossJoin(F.broadcast(blocks)).filter(
        (F.col("ip") >= F.col("lo")) & (F.col("ip") <= F.col("hi"))
    )
    best = cand.groupBy("doc_id").agg(
        F.max_by(F.struct("len", "lo"), "len").alias("b")
    )
    return best.groupBy(
        F.col("b.len").alias("pfx_len"), F.col("b.lo").alias("lo")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_matched"))


def q_lttb_downsample(spark, sf_dir):
    """LTTB shape-preserving downsampling (operators/lttb.py,
    Steinarsson 2013) of every user's 32-bin daily series to 10 points:
    triangle areas compared as exact cross-multiplied integers (2c*area
    — no division, no float), first/last pinned, ties frozen smallest-t,
    the bucket axis sequential but the recurrence vectorized across
    keys in one Arrow pass. FULL oracle: 8 unrolled selection stages
    with composite row_number argmax."""
    from extractors_metadata_spark.operators.lttb import lttb_select

    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("day"),
    )
    lo = int(e.agg(F.min("day")).first()[0])
    counts = (
        e.select("user_id", (F.col("day") - F.lit(lo)).alias("t"))
        .filter((F.col("t") >= 0) & (F.col("t") < 32))
        .groupBy("user_id", "t")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return lttb_select(counts, ["user_id"], bin_col="t", n_col="n")


def q_h_index(spark, sf_dir):
    """Per-source Hirsch index over page inlink counts (inlinks from
    the zipf graph keyed to docs by dst % n_docs): h = max h with >= h
    pages of >= h inlinks — the robust productivity-impact summary
    (immune to one viral page, unlike the mean; the citation classic
    applied to link authority). Exact: rank pages per source by
    (inlinks DESC, doc_id), h = max(least(rank, inlinks)) — one window
    + one agg on the same Exchange. FULL oracle: verbatim rank
    replay."""
    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "events")
    n_docs_row = d.agg(F.count(F.lit(1)).alias("n")).first()
    n_docs = int(n_docs_row["n"])
    inl = (
        e.select(
            (F.expr("1000 div (1 + (event_id % 1000))") % n_docs).alias("doc_id")
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("inlinks"))
    )
    pages = d.select("doc_id", "source").join(inl, "doc_id", "left").select(
        "source",
        "doc_id",
        F.coalesce(F.col("inlinks"), F.lit(0).cast("long")).alias("inlinks"),
    )
    wr = Window.partitionBy("source").orderBy(
        F.desc("inlinks"), F.asc("doc_id")
    )
    ranked = pages.select(
        "source",
        "inlinks",
        F.row_number().over(wr).cast("long").alias("rk"),
    )
    return ranked.groupBy("source").agg(
        F.max(F.least(F.col("rk"), F.col("inlinks"))).cast("long").alias("h_index"),
        F.count(F.lit(1)).cast("long").alias("n_pages"),
        F.sum("inlinks").cast("long").alias("total_inlinks"),
    )


def q_qq_points(spark, sf_dir):
    """Q-Q lattice between the en and de n_chars distributions: the 9
    exact decile order statistics of EACH sample under the frozen
    (value, doc_id) unique ordering (rank = (n*q) div 10 + 1 — lower
    order statistic, no interpolation, the hodges/runs_test median
    discipline), paired by decile — the distribution-comparison plot
    the ks/cvm statistics summarize. Two bounded rank windows + one
    9-row join. FULL oracle: verbatim rank replay."""
    d = _t(spark, sf_dir, "documents").filter(F.col("lang").isin("en", "de"))
    wq = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    ranked = d.select(
        "lang",
        F.col("n_chars").cast("long").alias("v"),
        F.row_number().over(wq).cast("long").alias("rk"),
    )
    nper = ranked.groupBy("lang").agg(F.max("rk").alias("n"))
    qs = spark.range(1, 10).select(F.col("id").cast("long").alias("q"))
    picks = (
        ranked.join(nper, "lang")
        .crossJoin(F.broadcast(qs))
        .filter(F.col("rk") == F.expr("(n * q) div 10 + 1"))
        .select("lang", "q", "v")
    )
    en = picks.filter(F.col("lang") == "en").select(
        "q", F.col("v").alias("v_en")
    )
    de = picks.filter(F.col("lang") == "de").select(
        "q", F.col("v").alias("v_de")
    )
    return en.join(de, "q")


def q_max_window(spark, sf_dir):
    """Maximum-sum activity window per user (Kadane's problem) over the
    32-bin baseline-adjusted daily series (x = count - 2): solved by
    the PREFIX identity best_t = prefix[t] - min(prefix[<t]) — one
    ordered window pass (running min via the [UNBOUNDED, 1 PRECEDING]
    frame, the skyline/interval_union idiom), argmax frozen (score
    DESC, t ASC) via min_by struct == row_number replay. The
    burst_detect counterpart with zero model assumptions. FULL
    oracle."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("day"),
    )
    lo = int(e.agg(F.min("day")).first()[0])
    counts = (
        e.select("user_id", (F.col("day") - F.lit(lo)).alias("t"))
        .filter((F.col("t") >= 0) & (F.col("t") < 32))
        .groupBy("user_id", "t")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    kdim = counts.select("user_id").distinct()
    bins = spark.range(0, 32).select(F.col("id").cast("long").alias("t"))
    filled = (
        kdim.crossJoin(F.broadcast(bins))
        .join(counts, ["user_id", "t"], "left")
        .select(
            "user_id",
            "t",
            (F.coalesce(F.col("n"), F.lit(0)).cast("long") - 2).alias("x"),
        )
    )
    wo = Window.partitionBy("user_id").orderBy("t")
    pre = filled.withColumn(
        "p", F.sum("x").over(wo.rowsBetween(Window.unboundedPreceding, 0))
    ).withColumn(
        "m",
        # min over {0} ∪ prior prefixes: the 0 option IS the window
        # anchored at t=0 (without it, all-positive series mis-anchor)
        F.least(
            F.lit(0).cast("long"),
            F.coalesce(
                F.min("p").over(wo.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0).cast("long"),
            ),
        ),
    )
    scored = pre.select(
        "user_id", "t", (F.col("p") - F.col("m")).alias("s")
    )
    best = scored.groupBy("user_id").agg(
        F.min_by(
            F.struct("s", "t"),
            F.struct((-F.col("s")).alias("k1"), F.col("t").alias("k2")),
        ).alias("b")
    )
    return best.select(
        "user_id",
        F.col("b.s").alias("best_sum"),
        F.col("b.t").alias("end_t"),
    )


def q_roc_auc(spark, sf_dir):
    """Exact ROC-AUC ingredients of the en-marker scorer (the
    calibration_bins scorer) against the true label: AUC =
    (u_strict + tie_pairs/2) / (n_pos*n_neg) with u_strict the count of
    strictly-ordered (pos > neg) pairs and tie_pairs the same-score
    cross pairs — emitted as exact ints, the rational AUC consumer-
    side. SCALE SHAPE: the data-sized work is ONE per-score aggregate
    (p_s, q_s counts); the pair counting then runs on the COLLAPSED
    distinct-score dim (<= 10001 rows — the quantile-sketch bounded-dim
    discipline): u_strict = sum_s p_s * cum_q(<s) via one ordered
    window on that dim. No global row rank anywhere. FULL oracle:
    verbatim replay."""
    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        F.least(
            F.expr(
                "(("
                + " + ".join(
                    f"(length(concat(' ', lower(text), ' ')) - "
                    f"length(replace(concat(' ', lower(text), ' '), '{m}', '')))"
                    for m in [" the ", " and ", " of ", " to ", " is "]
                )
                + ") * 40000) div length(concat(' ', lower(text), ' '))"
            ),
            F.lit(10000).cast("long"),
        ).alias("s_fp"),
        F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0)).alias("y"),
    )
    grp = scored.groupBy("s_fp").agg(
        F.sum("y").cast("long").alias("p"),
        F.sum(1 - F.col("y")).cast("long").alias("q"),
    )
    ws = Window.orderBy("s_fp").rowsBetween(Window.unboundedPreceding, -1)
    cum = grp.withColumn(
        "cq", F.coalesce(F.sum("q").over(ws), F.lit(0).cast("long"))
    )
    return cum.agg(
        F.sum(F.col("p") * F.col("cq")).cast("long").alias("u_strict"),
        F.sum(F.col("p") * F.col("q")).cast("long").alias("tie_pairs"),
        F.sum("p").cast("long").alias("n_pos"),
        F.sum("q").cast("long").alias("n_neg"),
    )


def q_entropy_bound(spark, sf_dir):
    """Shannon source-coding lower bound per language over the SAME
    letter weights as huffman_cost: h_num = sum w_i * rint(ln(total/
    w_i)*1e9) — per-term 1e9 ln fixed points (the naivebayes
    _ln_ratio_fp_udf kernel verbatim) summed exactly; H bits =
    h_num/(total*1e9*ln2) consumer-side, and H <= huffman bits <= H+1
    is the textbook sandwich (pinned cross-operator in pytest). One
    26-sum agg + one Arrow pass on the collapsed 26-row dim. FULL
    oracle: identical ratio/round_even replay."""
    from extractors_metadata_spark.operators.huffman import letter_weights
    from extractors_metadata_spark.operators.naivebayes import _ln_ratio_fp_udf

    d = _t(spark, sf_dir, "documents")
    w = letter_weights(d, ["lang"]).filter(F.col("w") > 0)
    tot = w.groupBy("lang").agg(F.sum("w").cast("long").alias("total_w"))
    fp = _ln_ratio_fp_udf()
    terms = w.join(F.broadcast(tot), "lang").select(
        "lang",
        "total_w",
        (F.col("w") * fp(F.col("total_w"), F.col("w").cast("long"))).alias("_t"),
    )
    return terms.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_syms"),
        F.min("total_w").alias("total_w"),
        F.sum("_t").cast("long").alias("h_num"),
    )


def q_text_tiling(spark, sf_dir):
    """TextTiling-style topic segmentation (Hearst 1997, exact-integer
    variant): per doc, 10-token blocks; adjacent-block vocabulary
    cosine decided by the rational cross-multiplication rule
    (100*dot^2 < 9*|a|^2*|b|^2 <=> cos < 0.3 — no float, no sqrt;
    dot >= 0 so squaring is monotone); emit per boundary the exact
    (dot, n2a, n2b, is_boundary). The document-structure signal a
    curation pipeline uses to split long pages for chunking. One
    (doc, block, token) agg + one token-aligned adjacent join — the
    shingle machinery's plan shape. FULL oracle: verbatim replay."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("pos", "tok"),
    ).filter(F.length("tok") > 0)
    blocks = toks.select(
        "doc_id", F.expr("pos div 10").alias("w"), "tok"
    ).groupBy("doc_id", "w", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    norms = blocks.groupBy("doc_id", "w").agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("n2")
    )
    a = blocks.select("doc_id", "w", "tok", F.col("c").alias("ca"))
    b = blocks.select(
        "doc_id", (F.col("w") - 1).alias("w"), "tok", F.col("c").alias("cb")
    )
    dots = (
        a.join(b, ["doc_id", "w", "tok"])
        .groupBy("doc_id", "w")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("long").alias("dot"))
    )
    na = norms.select("doc_id", "w", F.col("n2").alias("n2a"))
    nb = norms.select(
        "doc_id", (F.col("w") - 1).alias("w"), F.col("n2").alias("n2b")
    )
    pairs = (
        na.join(nb, ["doc_id", "w"])
        .join(dots, ["doc_id", "w"], "left")
        .select(
            "doc_id",
            F.col("w").alias("boundary"),
            F.coalesce(F.col("dot"), F.lit(0).cast("long")).alias("dot"),
            "n2a",
            "n2b",
        )
    )
    return pairs.withColumn(
        "is_boundary",
        (
            F.col("dot") * F.col("dot") * 100
            < F.col("n2a") * F.col("n2b") * 9
        ).cast("int"),
    )


def q_triad_census(spark, sf_dir):
    """Undirected triad census of the zipf graph in CLOSED FORM — the
    Holland-Leinhardt class counts without touching any triple: with
    n nodes, m edges, W = sum d(d-1)/2 wedges and T triangles (the
    proven degree/triangle machinery), paths = W - 3T, one-edge =
    m(n-2) - 2W + 3T, empty = C(n,3) - rest — every count an exact
    int64 identity, so the 'census' costs two aggregates. The
    completeness critic for clustering_coeff/triangles: the four
    counts must sum to C(n,3) (pinned in the oracle by construction).
    FULL oracle."""
    from extractors_metadata_spark.operators.linkgraph import (
        triangle_list,
        zipf_link_graph,
    )

    el0 = zipf_link_graph(_t(spark, sf_dir, "events")).filter(
        F.col("src") != F.col("dst")
    )
    sym = el0.unionByName(
        el0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    stats = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum("d") / 2).cast("long").alias("m"),
        F.sum(F.expr("d * (d - 1) div 2")).cast("long").alias("wedges"),
    )
    tri = triangle_list(el0.select("src", "dst"))
    t_total = tri.agg(F.count(F.lit(1)).cast("long").alias("t"))
    j = stats.crossJoin(t_total)
    return j.select(
        "n",
        "m",
        "wedges",
        F.col("t").alias("triangles"),
        (F.col("wedges") - 3 * F.col("t")).alias("paths"),
        (
            F.col("m") * (F.col("n") - 2)
            - 2 * F.col("wedges")
            + 3 * F.col("t")
        ).alias("one_edge"),
        (
            F.expr("n * (n - 1) div 2 * (n - 2) div 3")
            + F.col("wedges")
            - F.col("t")
            - F.col("m") * (F.col("n") - 2)
        ).alias("empty"),
    )


def q_pr_curve(spark, sf_dir):
    """Exact precision-recall curve of the en-marker scorer (roc_auc's
    companion): per distinct score threshold (descending) the
    cumulative (tp, fp) — precision/recall/average-precision are
    rationals of these ints, consumer-side. Same scale shape as
    roc_auc: ONE per-score agg, then a window on the COLLAPSED
    <= 10001-row score dim. FULL oracle: verbatim replay."""
    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        F.least(
            F.expr(
                "(("
                + " + ".join(
                    f"(length(concat(' ', lower(text), ' ')) - "
                    f"length(replace(concat(' ', lower(text), ' '), '{m}', '')))"
                    for m in [" the ", " and ", " of ", " to ", " is "]
                )
                + ") * 40000) div length(concat(' ', lower(text), ' '))"
            ),
            F.lit(10000).cast("long"),
        ).alias("s_fp"),
        F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0)).alias("y"),
    )
    grp = scored.groupBy("s_fp").agg(
        F.sum("y").cast("long").alias("p"),
        F.sum(1 - F.col("y")).cast("long").alias("q"),
    )
    wd = Window.orderBy(F.desc("s_fp")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return grp.select(
        "s_fp",
        F.sum("p").over(wd).cast("long").alias("tp"),
        F.sum("q").over(wd).cast("long").alias("fp"),
    )


def q_perm_test(spark, sf_dir):
    """Exact-replay PERMUTATION test per user (click vs view values) —
    the randomization-inference member of the stats family (mann
    whitney/cvm assume a null; the permutation test SIMULATES it): the
    cross-multiplied mean-difference statistic T = n*sum_1(v) -
    n1*sum(v) (exact int), re-computed under B=32 label permutations
    drawn from the REPLAYABLE vhash family (g_b = mix31((A_b*event_id
    + B_b) mod P) mod 2 — the weighted_sample discipline: both engines
    recompute the identical pseudo-randomness; coefficients from
    perm_coeffs, single source). Emits (n, n1, t_obs, n_extreme, n_b):
    the permutation p-value numerator counts |T_b| >= |T_obs|. One
    narrow 32x fan-out against a broadcast literal dim + two aggs.
    FULL oracle."""
    from extractors_metadata_spark.functions.vhash import P31, mix31, perm_coeffs

    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    ).select(
        "user_id",
        "event_id",
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("g1"),
        F.bround(F.col("value") * 1000000.0, 0).cast("long").alias("v"),
    )
    base = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("g1").cast("long").alias("n1"),
        F.sum("v").cast("long").alias("sv"),
        F.sum(F.col("g1") * F.col("v")).cast("long").alias("sv1"),
    ).withColumn("t_obs", F.col("n") * F.col("sv1") - F.col("n1") * F.col("sv"))
    coeffs = perm_coeffs(32)
    pdim = spark.createDataFrame(
        [(b, a, bb) for b, (a, bb) in enumerate(coeffs)],
        "b long, pa long, pb long",
    )
    fan = e.crossJoin(F.broadcast(pdim)).withColumn(
        "gb",
        mix31((F.col("pa") * F.col("event_id") + F.col("pb")) % F.lit(P31))
        % 2,
    )
    perms = fan.groupBy("user_id", "b").agg(
        F.sum("gb").cast("long").alias("n1b"),
        F.sum(F.col("gb") * F.col("v")).cast("long").alias("sv1b"),
    )
    tb = perms.join(F.broadcast(base.select("user_id", "n", "sv", "t_obs")), "user_id").withColumn(
        "t_b", F.col("n") * F.col("sv1b") - F.col("n1b") * F.col("sv")
    )
    ext = tb.groupBy("user_id").agg(
        F.sum(
            (F.abs(F.col("t_b")) >= F.abs(F.col("t_obs"))).cast("long")
        ).alias("n_extreme"),
        F.count(F.lit(1)).cast("long").alias("n_b"),
    )
    return base.select("user_id", "n", "n1", "t_obs").join(ext, "user_id")


def q_wilcoxon_signed(spark, sf_dir):
    """Wilcoxon SIGNED-rank ingredients per user — the PAIRED member
    the rank family lacked (mann_whitney is unpaired; hodges_lehmann
    is this test's point estimate): pairs are days, d = clicks - views
    per day over the observed day span; zero differences drop
    (classical), |d| ranks under the frozen (|d|, day) unique order,
    W+ = sum of ranks where d > 0. Emits (n_eff, w_plus) — the
    reference distribution is a function of n_eff, consumer-side. Two
    windows + aggs on one user Exchange. FULL oracle: verbatim
    replay."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    ).select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("day"),
        F.when(F.col("event_type") == "click", 1).otherwise(-1).alias("s"),
    )
    diffs = e.groupBy("user_id", "day").agg(
        F.sum("s").cast("long").alias("d")
    ).filter(F.col("d") != 0)
    wr = Window.partitionBy("user_id").orderBy(F.abs(F.col("d")), F.col("day"))
    ranked = diffs.select(
        "user_id",
        "d",
        F.row_number().over(wr).cast("long").alias("rk"),
    )
    return ranked.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_eff"),
        F.sum(F.when(F.col("d") > 0, F.col("rk")).otherwise(0))
        .cast("long")
        .alias("w_plus"),
    )


def q_bh_fdr(spark, sf_dir):
    """Benjamini-Hochberg FDR step-up over the perm_test p-values —
    multiple-testing control composed on randomization inference, and
    EXACT throughout because permutation p-values are rationals
    ne/n_b: with alpha = 1/4 and n_b = 32 the BH condition
    p_(i) <= i*alpha/m cross-multiplies to ne*m <= i*8 (pure int64);
    k* = max satisfying rank (frozen (ne, user) order), reject rank <=
    k*. Emits per test (user_id, ne, rk, rejected). One rank window on
    the collapsed per-user frame + a 1-row broadcast threshold. FULL
    oracle: verbatim replay."""
    tests = q_perm_test(spark, sf_dir).select(
        "user_id", F.col("n_extreme").alias("ne"), "n_b"
    )
    wr = Window.orderBy("ne", "user_id")
    ranked = tests.select(
        "user_id",
        "ne",
        F.row_number().over(wr).cast("long").alias("rk"),
    )
    m = ranked.agg(F.max("rk").alias("m"))
    cond = ranked.crossJoin(F.broadcast(m)).withColumn(
        "_ok", (F.col("ne") * F.col("m") <= F.col("rk") * 8).cast("int")
    )
    kstar = cond.agg(
        F.coalesce(
            F.max(F.when(F.col("_ok") == 1, F.col("rk"))),
            F.lit(0).cast("long"),
        ).alias("k")
    )
    return cond.crossJoin(F.broadcast(kstar)).select(
        "user_id",
        "ne",
        "rk",
        (F.col("rk") <= F.col("k")).cast("int").alias("rejected"),
    )


def q_brown_forsythe(spark, sf_dir):
    """Brown-Forsythe (median-Levene) variance-equality ingredients per
    user: absolute deviations of click/view values from each group's
    EXACT lower-median order statistic ((n+1) div 2 rank over (v, id) —
    the runs_test median discipline), emitted as the exact per-group
    integer sums (n_g, s_g = sum|dev|, q_g = sum dev^2) the F statistic
    is a rational of — robust to the non-normality Levene's mean
    version trips on. Median via one rank window on the same user
    Exchange as the aggregate. FULL oracle: verbatim replay."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    ).select(
        "user_id",
        "event_id",
        F.col("event_type").alias("g"),
        F.bround(F.col("value") * 1000000.0, 0).cast("long").alias("v"),
    )
    wg = Window.partitionBy("user_id", "g").orderBy("v", "event_id")
    ranked = e.withColumn("rk", F.row_number().over(wg)).withColumn(
        "ng", F.count(F.lit(1)).over(Window.partitionBy("user_id", "g"))
    )
    med = ranked.filter(
        F.col("rk") == F.expr("(ng + 1) div 2")
    ).select("user_id", "g", F.col("v").alias("med"))
    dev = e.join(med, ["user_id", "g"]).select(
        "user_id", "g", F.abs(F.col("v") - F.col("med")).alias("ad")
    )
    agg = dev.groupBy("user_id", "g").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("ad").cast("long").alias("s_g"),
        F.sum(F.col("ad") * F.col("ad")).cast("long").alias("q_g"),
    )
    return agg.select("user_id", "g", "n_g", "s_g", "q_g")


def q_capture_recapture(spark, sf_dir):
    """Lincoln-Petersen mark-recapture estimate of corpus coverage —
    the two-crawl overlap answer to "how big is the part we have not
    seen?" (the ecology classic applied to crawl/index coverage, for
    SAMPLED populations): two deterministic 'captures' via the
    replayable mix31 family (capture A: h % 5 < 2, capture B: h2 % 5 < 2
    on an independent mix), emit the exact (n_a, n_b, m_overlap) plus
    the Chapman-corrected numerator/denominator ints ((n_a+1)(n_b+1),
    m+1) — N_hat rationals stay consumer-side. One scan, two hash
    predicates, one agg. FULL oracle."""
    from extractors_metadata_spark.functions.vhash import P31, mix31

    d = _t(spark, sf_dir, "documents")
    h1 = mix31((F.col("doc_id") * 2654435761 + 12345) % F.lit(P31))
    h2 = mix31((F.col("doc_id") * 40503 + 99991) % F.lit(P31))
    caps = d.select(
        (h1 % 5 < 2).cast("long").alias("a"),
        (h2 % 5 < 2).cast("long").alias("b"),
    )
    agg = caps.agg(
        F.sum("a").cast("long").alias("n_a"),
        F.sum("b").cast("long").alias("n_b"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("m_overlap"),
        F.count(F.lit(1)).cast("long").alias("n_true"),
    )
    return agg.select(
        "n_a",
        "n_b",
        "m_overlap",
        "n_true",
        ((F.col("n_a") + 1) * (F.col("n_b") + 1)).alias("chapman_num"),
        (F.col("m_overlap") + 1).alias("chapman_den"),
    )


def q_cochran_q(spark, sf_dir):
    """Cochran's Q — the k-treatment extension of McNemar for matched
    BINARY responses (did each user engage with each of the 3 treatment
    surfaces click/view/purchase?): x_ij = [user i has >= 1 event of
    type j], Q = (k-1)[k*sum C_j^2 - (sum C_j)^2] / [k*sum R_i -
    sum R_i^2] — every term an exact int64 (rows with R_i in {0, k}
    contribute zero to the denominator, so the distinct-presence base
    loses nothing). One distinct + one per-user agg + one global agg.
    FULL oracle: verbatim replay."""
    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view", "purchase"))
        .select("user_id", "event_type")
        .distinct()
    )
    per_user = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("xc"),
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("xv"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("xp"),
    )
    r = (F.col("xc") + F.col("xv") + F.col("xp")).alias("r")
    agg = per_user.select("xc", "xv", "xp", r).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("xc").cast("long").alias("c_click"),
        F.sum("xv").cast("long").alias("c_view"),
        F.sum("xp").cast("long").alias("c_purchase"),
        F.sum("r").cast("long").alias("sr"),
        F.sum(F.col("r") * F.col("r")).cast("long").alias("srr"),
    )
    cc, cv, cp = F.col("c_click"), F.col("c_view"), F.col("c_purchase")
    return agg.select(
        "n_users",
        "c_click",
        "c_view",
        "c_purchase",
        (
            2 * (3 * (cc * cc + cv * cv + cp * cp)
                 - (cc + cv + cp) * (cc + cv + cp))
        ).alias("q_num"),
        (3 * F.col("sr") - F.col("srr")).alias("q_den"),
    )


def q_mcnemar(spark, sf_dir):
    """McNemar's paired test on purchase conversion before/after the
    mid-month boundary (absolute epoch-day < 19738, i.e. the first 15
    days of the 2024-01 window): per user a = [any purchase pre],
    b = [any purchase post] over the full event-user base, discordant
    cells n01/n10 and the chi-square ingredients (b-c)^2, b+c — exact
    ints, continuity corrections consumer-side. Day index via
    unix_micros div (positive epoch: truncation == floor on both
    engines). One per-user agg + one global agg. FULL oracle: verbatim
    replay."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        (
            (F.col("event_type") == "purchase")
            & (F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
               < F.lit(19738))
        ).cast("long").alias("pre"),
        (
            (F.col("event_type") == "purchase")
            & (F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
               >= F.lit(19738))
        ).cast("long").alias("post"),
    )
    per_user = e.groupBy("user_id").agg(
        F.max("pre").cast("long").alias("a"),
        F.max("post").cast("long").alias("b"),
    )
    agg = per_user.agg(
        F.sum((F.col("a") * F.col("b"))).cast("long").alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("long").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("long").alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast("long").alias("n00"),
    )
    d = F.col("n01") - F.col("n10")
    return agg.select(
        "n00",
        "n01",
        "n10",
        "n11",
        (d * d).alias("mcnemar_num"),
        (F.col("n01") + F.col("n10")).alias("mcnemar_den"),
    )


def q_kruskal_wallis(spark, sf_dir):
    """Kruskal-Wallis one-way rank test over the 5 event types —
    the k-group extension mann_whitney lacked. Mid-ranks doubled to
    stay integer: per DISTINCT quantized value (round_even(v*1e6) —
    the 0-decimal bround pairing), r2 = 2*avg_rank = 2*cum_prev +
    cnt + 1 off one [unbounded preceding, 1 preceding] window on the
    collapsed value dim; per-group s2_g = sum r2 and the tie term
    sum(t^3 - t) broadcast back onto every row. H and its tie
    correction are rationals of the emitted ints, consumer-side.
    One value-dim window + one equi-join + two aggs. FULL oracle:
    verbatim replay."""
    e = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"),
        F.bround(F.col("value") * 1000000.0, 0).cast("long").alias("v"),
    )
    vals = e.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    wv = (
        Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = vals.select(
        "v",
        "cnt",
        (
            2 * F.coalesce(F.sum("cnt").over(wv), F.lit(0))
            + F.col("cnt")
            + 1
        ).alias("r2"),
    )
    globals_ = ranked.agg(
        F.sum("cnt").cast("long").alias("n_total"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("long")
        .alias("tie_sum"),
    )
    per_g = (
        e.join(ranked.select("v", "r2"), "v")
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_g"),
            F.sum("r2").cast("long").alias("s2_g"),
        )
    )
    return per_g.join(F.broadcast(globals_), how="cross").select(
        "g", "n_g", "s2_g", "n_total", "tie_sum"
    )


def q_durbin_watson(spark, sf_dir):
    """Durbin-Watson first-order residual autocorrelation of the daily
    event-count trend per type: integer OLS on (x = epoch day - 19723,
    y = count), residuals scaled by n*SxxN (E_d = n*SxxN*y_d -
    (Sy*SxxN - SxyN*Sx) - n*SxyN*x_d — exact int64; the
    denominator-clearing trick from theil_sen/ols_slope), then
    DW = sum(dE^2)/sum(E^2) emitted as the 1e6 fixed point
    (num*1e6) div den on DECIMAL(38,0) == HUGEINT (both truncate
    toward zero; num, den >= 0). Day gaps follow the classical
    observation-order convention (lag over day order). Two aggs +
    one lag window per type-sized frame. FULL oracle: verbatim
    replay."""
    daily = (
        _t(spark, sf_dir, "events")
        .select(
            F.col("event_type").alias("g"),
            (
                F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
                - F.lit(19723)
            ).alias("x"),
        )
        .groupBy("g", "x")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    sums = daily.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    ).select(
        "g",
        "n",
        "sx",
        "sy",
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("sxxn"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("sxyn"),
    )
    resid = daily.join(F.broadcast(sums), "g").select(
        "g",
        "x",
        (
            F.col("n") * F.col("sxxn") * F.col("y")
            - (F.col("sy") * F.col("sxxn") - F.col("sxyn") * F.col("sx"))
            - F.col("n") * F.col("sxyn") * F.col("x")
        ).alias("e"),
    )
    wlag = Window.partitionBy("g").orderBy("x")
    lagged = resid.select(
        "g",
        F.col("e").cast("decimal(38,0)").alias("ed"),
        F.lag("e").over(wlag).cast("decimal(38,0)").alias("ep"),
    )
    agg = lagged.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(
            F.when(
                F.col("ep").isNotNull(),
                (F.col("ed") - F.col("ep")) * (F.col("ed") - F.col("ep")),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("dw_num"),
        F.sum(F.col("ed") * F.col("ed")).alias("dw_den"),
    )
    return agg.filter(F.col("dw_den") > 0).select(
        "g",
        "n_days",
        F.expr("CAST((dw_num * 1000000) div dw_den AS BIGINT)").alias(
            "dw_fp"
        ),
    )


def q_schnabel(spark, sf_dir):
    """Schnabel multi-sample mark-recapture — capture_recapture's
    k-occasion extension (three deterministic mix31 'crawls'): exact
    (C_t, M_t, R_t) per occasion with M_t = |union of prior captures|
    and R_t = |C_t intersect marked|, all conditional sums over ONE
    scan; N-hat = sum C_t M_t / sum R_t (Chapman +1 variant included)
    stays a consumer-side rational of the emitted ints. FULL oracle:
    verbatim replay."""
    from extractors_metadata_spark.functions.vhash import P31, mix31

    d = _t(spark, sf_dir, "documents")
    h = lambda m, c: (  # noqa: E731
        mix31((F.col("doc_id") * m + c) % F.lit(P31)) % 5 < 2
    ).cast("long")
    caps = d.select(
        h(2654435761, 12345).alias("a"),
        h(40503, 99991).alias("b"),
        h(69069, 777).alias("c"),
    )
    agg = caps.agg(
        F.sum("a").cast("long").alias("c1"),
        F.sum("b").cast("long").alias("c2"),
        F.sum("c").cast("long").alias("c3"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("r2"),
        F.sum(
            F.col("c")
            * F.greatest(F.col("a"), F.col("b"))
        ).cast("long").alias("r3"),
        F.sum(F.greatest(F.col("a"), F.col("b")))
        .cast("long")
        .alias("m3"),
        F.count(F.lit(1)).cast("long").alias("n_true"),
    )
    return agg.select(
        "c1",
        "c2",
        "c3",
        F.col("c1").alias("m2"),
        "m3",
        "r2",
        "r3",
        (F.col("c2") * F.col("c1") + F.col("c3") * F.col("m3")).alias(
            "schnabel_num"
        ),
        (F.col("r2") + F.col("r3")).alias("schnabel_den"),
        "n_true",
    )


def q_mood_median(spark, sf_dir):
    """Mood's median test across the 5 event types — the quick-and-
    robust k-sample location test (kruskal_wallis uses full ranks;
    Mood dichotomizes at the POOLED lower median): per type the exact
    (n_above, n_at, n_below) counts against the pooled exact
    lower-median order statistic of the quantized values ((N+1) div 2
    rank over (v, event_id) — the runs_test discipline); the chi-square
    is a rational of these, consumer-side. One global rank window on
    the frozen order + one agg. FULL oracle: verbatim replay."""
    e = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"),
        "event_id",
        F.bround(F.col("value") * 1000000.0, 0).cast("long").alias("v"),
    )
    n_tot = e.agg(F.count(F.lit(1)).cast("long").alias("n")).collect()[
        0
    ]["n"]
    w = Window.orderBy("v", "event_id")
    med = (
        e.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == int((n_tot + 1) // 2))
        .select(F.col("v").alias("med"))
    )
    return (
        e.crossJoin(F.broadcast(med))
        .groupBy("g")
        .agg(
            F.sum((F.col("v") > F.col("med")).cast("long"))
            .cast("long")
            .alias("n_above"),
            F.sum((F.col("v") == F.col("med")).cast("long"))
            .cast("long")
            .alias("n_at"),
            F.sum((F.col("v") < F.col("med")).cast("long"))
            .cast("long")
            .alias("n_below"),
        )
    )


def q_ansari_bradley(spark, sf_dir):
    """Ansari-Bradley scale test (click vs view) — the DISPERSION
    member of the two-sample rank family (mann_whitney shifts location;
    AB scores from BOTH ends so extreme values score low and central
    values high, detecting unequal spread): pooled doubled mid-ranks r2
    (the kruskal_wallis discipline), AB score DOUBLED s2 = min(r2,
    2(N+1) - r2), emitting per group the exact (n_g, s2_sum) — the
    statistic and its tie-corrected moments are rationals of these plus
    the value-dim score sums, consumer-side. One value-dim window + one
    join + one agg. FULL oracle: verbatim replay."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    ).select(
        F.col("event_type").alias("g"),
        F.bround(F.col("value") * 1000000.0, 0).cast("long").alias("v"),
    )
    vals = e.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = vals.select(
        "v",
        "cnt",
        (
            2 * F.coalesce(F.sum("cnt").over(wv), F.lit(0))
            + F.col("cnt")
            + 1
        ).alias("r2"),
    )
    n_tot = e.agg(F.count(F.lit(1)).cast("long").alias("n")).collect()[0][
        "n"
    ]
    scored = ranked.select(
        "v",
        F.least(
            F.col("r2"), F.lit(2 * (n_tot + 1)) - F.col("r2")
        ).alias("s2"),
    )
    return (
        e.join(scored, "v")
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_g"),
            F.sum("s2").cast("long").alias("s2_sum"),
        )
    )


def q_page_trend(spark, sf_dir):
    """Page's L trend test (Page 1963) — the ORDERED-alternative
    companion of friedman_test (Friedman is omnibus across conditions;
    Page weights the rank sums by the hypothesized order): blocks =
    users, ordered conditions = weekday 0..6, response = the user's
    event count that weekday; within-block mid-ranks DOUBLED to stay
    integer (2*avg_rank = 2*cum_prev + cnt + 1 — the kruskal_wallis
    discipline, here per block over the 7-condition dim), emitting per
    weekday the exact doubled rank sum and block count — L = sum
    w * R_w and its null moments are rationals of these,
    consumer-side. Missing (user, weekday) cells count 0 (the complete
    7-cell block every user has over a 30-day window). One per-block
    value window + one agg. FULL oracle: verbatim replay."""
    base = (
        _t(spark, sf_dir, "events")
        .select(
            "user_id",
            (
                F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
                % 7
            ).alias("w"),
        )
        .groupBy("user_id", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    users = base.select("user_id").distinct()
    wd = spark.range(7).select(F.col("id").cast("long").alias("w"))
    full = users.crossJoin(F.broadcast(wd)).join(
        base, ["user_id", "w"], "left"
    ).select(
        "user_id", "w", F.coalesce("y", F.lit(0)).cast("long").alias("y")
    )
    vals = full.groupBy("user_id", "y").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wv = Window.partitionBy("user_id").orderBy("y").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = vals.select(
        "user_id",
        "y",
        (
            2 * F.coalesce(F.sum("cnt").over(wv), F.lit(0))
            + F.col("cnt")
            + 1
        ).alias("r2"),
    )
    joined = full.join(ranked, ["user_id", "y"])
    return joined.groupBy("w").agg(
        F.sum("r2").cast("long").alias("r2_sum"),
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
    )


def q_min_circle(spark, sf_dir):
    """Minimum enclosing circle of 32 event sites (operators/mec.py —
    the coverage-radius placement question; sd_ellipse disperses,
    hull bounds, this COVERS): the MEC support theorem reduces the
    answer to diametral pairs (Thales dot-product test) and triple
    circumcircles (orientation-normalized incircle determinant), all
    exact integer predicates on re-centered micro-degree coords;
    candidates rank by the SHARED quantized key (r2*100 floor, kind,
    ids) so both engines pick identically. Python-int arithmetic in
    the kernel (incircle*orient reaches ~2e21 — numpy int64 would
    wrap, the ntt.py lesson class). Bounded-dim exact complement (the
    boruvka precedent; the scale path feeds hull vertices). FULL
    oracle: the pair/triple enumeration with NOT EXISTS covering
    tests."""
    from extractors_metadata_spark.operators.mec import mec

    lat, lon = _latlon_dbl()
    x0 = F.bround(
        F.lit(-111.9750833333) * 1000000.0, 0
    ).cast("long")
    y0 = F.bround(F.lit(33.0745) * 1000000.0, 0).cast("long")
    pts = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 32)
        .select("event_id", lat, lon)
        .select(
            F.col("event_id").alias("id"),
            (
                F.bround(F.col("lon") * 1000000.0, 0).cast("long") - x0
            ).alias("x"),
            (
                F.bround(F.col("lat") * 1000000.0, 0).cast("long") - y0
            ).alias("y"),
        )
    )
    return mec(pts)


def q_jonckheere(spark, sf_dir):
    """Jonckheere-Terpstra ordered-alternative k-sample trend test —
    kruskal_wallis detects ANY group difference, cochran_armitage
    trends binary rates; JT tests a MONOTONE shift in a numeric
    response across ordered doses (weekday 0..6) by summing pairwise
    Mann-Whitney counts over dose pairs i < j: per event type the
    exact (n_lt, n_eq, n_pairs) over its 30-day daily-count
    observations — the statistic and its tie-adjusted variance are
    rationals of these plus the per-dose n's, consumer-side. Bounded
    daily-dim self-join. FULL oracle: verbatim replay."""
    daily = (
        _t(spark, sf_dir, "events")
        .select(
            F.col("event_type").alias("g"),
            (
                F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
                - F.lit(19723)
            ).alias("x"),
        )
        .groupBy("g", "x")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
        .withColumn("w", F.col("x") % 7)
    )
    a = daily.select(
        "g", F.col("w").alias("wi"), F.col("x").alias("xi"),
        F.col("y").alias("yi"),
    )
    b = daily.select(
        "g", F.col("w").alias("wj"), F.col("x").alias("xj"),
        F.col("y").alias("yj"),
    )
    pairs = a.join(b, "g").filter(F.col("wi") < F.col("wj"))
    return pairs.groupBy("g").agg(
        F.sum((F.col("yi") < F.col("yj")).cast("long"))
        .cast("long")
        .alias("n_lt"),
        F.sum((F.col("yi") == F.col("yj")).cast("long"))
        .cast("long")
        .alias("n_eq"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )


def q_greedy_coloring(spark, sf_dir):
    """Largest-first greedy graph coloring (Welsh-Powell) of the
    induced 24-node link subgraph — the register-allocation /
    conflict-scheduling primitive (two linked hosts can't share a crawl
    slot): nodes in the FROZEN (induced degree DESC, node ASC) order
    each take the smallest color unused by already-colored neighbors —
    order-dependent in general, deterministic under the frozen order,
    and Welsh-Powell bounds colors by max-degree+1. The sequential
    walk runs on the bounded subgraph in one Arrow pass (the
    gale_shapley precedent); degrees are one agg. FULL oracle: the
    24-step walk unrolled as CTE stages (smallest-free-color via a
    range anti-join per stage)."""
    import pandas as pd
    from extractors_metadata_spark.operators.linkgraph import (
        zipf_link_graph,
    )

    n_sub = 24
    g = zipf_link_graph(_t(spark, sf_dir, "events"))
    und = (
        g.select("src", "dst")
        .unionByName(
            g.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .filter(
            (F.col("src") != F.col("dst"))
            & (F.col("src") < n_sub)
            & (F.col("dst") < n_sub)
        )
        .distinct()
    )

    seed = spark.createDataFrame([(-1, -1)], "src long, dst long")
    und = und.unionByName(seed)  # group always non-empty; kernel skips

    def f(pdf: pd.DataFrame) -> pd.DataFrame:
        adj: dict = {v: set() for v in range(n_sub)}
        for r in pdf.itertuples(index=False):
            if int(r.src) >= 0:
                adj[int(r.src)].add(int(r.dst))
        deg = {v: len(adj[v]) for v in range(n_sub)}
        order = sorted(range(n_sub), key=lambda v: (-deg[v], v))
        color: dict = {}
        for v in order:
            used = {color[u] for u in adj[v] if u in color}
            c = 0
            while c in used:
                c += 1
            color[v] = c
        return pd.DataFrame(
            {
                "node": list(range(n_sub)),
                "color": [color[v] for v in range(n_sub)],
                "deg": [deg[v] for v in range(n_sub)],
            }
        ).astype({"node": "int64", "color": "int64", "deg": "int64"})

    return und.groupBy(F.lit(1).alias("_g")).applyInPandas(
        f, "node long, color long, deg long"
    )


def q_hist_equalize(spark, sf_dir):
    """Histogram equalization of the document-length distribution —
    the image-processing CDF remap applied to corpus features (flatten
    the length histogram to a uniform 0..255 level, the rank-based
    normalization a curation mix step uses): eq = ((cdf - cdf_min) *
    255) div (N - cdf_min) on the exact integer CDF (one value-dim
    window), all-equal degenerate guarded to 0. FULL oracle: verbatim
    replay."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("len")
    )
    lv = d.groupBy("len").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wv = Window.orderBy("len").rowsBetween(Window.unboundedPreceding, 0)
    cdf = lv.select(
        "len", F.sum("c").over(wv).cast("long").alias("cdf")
    )
    mins = cdf.agg(
        F.min("cdf").cast("long").alias("cdf_min"),
        F.max("cdf").cast("long").alias("n_total"),
    )
    return (
        d.join(cdf, "len")
        .crossJoin(F.broadcast(mins))
        .select(
            "doc_id",
            "len",
            F.when(
                F.col("n_total") == F.col("cdf_min"), F.lit(0)
            ).otherwise(
                F.expr(
                    "((cdf - cdf_min) * 255) div (n_total - cdf_min)"
                )
            ).cast("long").alias("eq"),
        )
    )


def q_quantile_map(spark, sf_dir):
    """Cross-source quantile normalization — map src0's document
    lengths onto src1's length distribution by matched relative rank
    (the domain-adaptation remap a mixture-balancing step uses;
    length_quantiles summarizes one distribution, this TRANSFERS
    between two): rk of each src0 doc under the frozen (len, doc_id)
    order -> src1's order statistic at idx = ((rk-1)*nB) div nA + 1.
    Two rank windows + one broadcast equi-join on the rank dim. FULL
    oracle: verbatim replay."""
    d = _t(spark, sf_dir, "documents")
    a = d.filter(F.col("source") == "src0").select(
        "doc_id", F.col("n_chars").cast("long").alias("len")
    )
    b = d.filter(F.col("source") == "src1").select(
        "doc_id", F.col("n_chars").cast("long").alias("blen")
    )
    wa = Window.orderBy("len", "doc_id")
    ar = a.select(
        "doc_id", "len", F.row_number().over(wa).cast("long").alias("rk")
    )
    wb = Window.orderBy("blen", "doc_id")
    br = b.select(
        F.col("blen"), F.row_number().over(wb).cast("long").alias("bidx")
    )
    na = ar.agg(F.max("rk").alias("na"))
    nb = br.agg(F.max("bidx").alias("nb"))
    withn = ar.crossJoin(F.broadcast(na)).crossJoin(F.broadcast(nb))
    mapped = withn.select(
        "doc_id",
        "len",
        F.expr("((rk - 1) * nb) div na + 1").cast("long").alias("bidx"),
    )
    return mapped.join(F.broadcast(br), "bidx").select(
        "doc_id", "len", "bidx", F.col("blen").alias("mapped_len")
    )


def q_interval_depth(spark, sf_dir):
    """Maximum interval concurrency per user (the sweep-line +1/-1
    depth — interval_union measures the covered span, this finds the
    PEAK overlap and when it first happens, the capacity-planning
    number): events as [ts, ts + (1 + id%120) min] intervals, boundary
    events sorted by (t, delta, event_id) with ENDS BEFORE STARTS at
    equal t (touching intervals don't stack — the interval_schedule
    convention), running sum = depth, argmax via min_by struct (no
    second window). FULL oracle: verbatim replay."""
    iv = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s_us"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            + (1 + F.col("event_id") % 120) * 60000000
        ).alias("e_us"),
    )
    bounds = iv.select(
        "user_id",
        F.col("s_us").alias("t"),
        F.lit(1).alias("delta"),
        "event_id",
    ).unionByName(
        iv.select(
            "user_id",
            F.col("e_us").alias("t"),
            F.lit(-1).alias("delta"),
            "event_id",
        )
    )
    w = Window.partitionBy("user_id").orderBy(
        "t", "delta", "event_id"
    ).rowsBetween(Window.unboundedPreceding, 0)
    depth = bounds.select(
        "user_id",
        "t",
        "event_id",
        F.sum("delta").over(w).cast("long").alias("depth"),
    )
    flagged = depth.withColumn(
        "mx", F.max("depth").over(Window.partitionBy("user_id"))
    )
    return flagged.groupBy("user_id").agg(
        F.max("depth").cast("long").alias("max_depth"),
        F.min(
            F.when(
                F.col("depth") == F.col("mx"),
                F.struct("t", "event_id"),
            )
        ).alias("_at"),
    ).select(
        "user_id",
        "max_depth",
        F.col("_at.t").alias("at_t"),
    )


def q_max_drawdown(spark, sf_dir):
    """Maximum drawdown of each user's cumulative value series — the
    prefix-max mirror of max_window's Kadane identity (drawdown_t =
    running_max(prefix) - prefix_t; the max over t is the worst
    peak-to-trough drop): values in the proven 1e6 fixed point, prefix
    sums over the frozen (ts, event_id) order, running max via the
    pinned [unbounded preceding, CURRENT] frame (no nested window —
    the max INCLUDES the current prefix, so drawdown >= 0 always).
    Emits (user_id, max_dd, final_cum) ints. FULL oracle: verbatim
    replay."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        (
            F.bround(F.col("value") * 1000000.0, 0).cast("long")
            - F.lit(245000000)
        ).alias("v"),
    )
    wo = Window.partitionBy("user_id").orderBy("us", "event_id")
    pref = e.select(
        "user_id",
        "us",
        "event_id",
        F.sum("v").over(
            wo.rowsBetween(Window.unboundedPreceding, 0)
        ).cast("long").alias("p"),
    )
    wmax = Window.partitionBy("user_id").orderBy("us", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    dd = pref.select(
        "user_id",
        (F.max("p").over(wmax) - F.col("p")).alias("dd"),
        "p",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy(
                F.col("us").desc(), F.col("event_id").desc()
            )
        ).alias("rev"),
    )
    return dd.groupBy("user_id").agg(
        F.max("dd").cast("long").alias("max_dd"),
        F.max(F.when(F.col("rev") == 1, F.col("p"))).cast("long").alias(
            "final_cum"
        ),
    )


def q_kdtree_split(spark, sf_dir):
    """kd-tree median-split leaf layout — the DATA-DRIVEN member of
    the spatial-index family (quadtree = space-driven; the kd split
    follows the density itself, the balanced-partition planner salt_plan
    approximates): 4 alternating
    x/y levels, each node splitting at the exact lower-median RANK of
    (coord, event_id) — the frozen total order makes every split
    deterministic (the runs_test median discipline), left = rank <=
    (n+1) div 2. Emits the 16 leaf summaries (leaf code, n, bbox) —
    the partition manifest a balanced spatial shuffle would use. Four
    window passes, each re-partitioned by the growing node code; pure
    codegen. FULL oracle: 4 unrolled row_number stages."""
    lat, lon = _latlon_dbl()
    pts = _t(spark, sf_dir, "events").select(
        "event_id", lat, lon
    ).select(
        "event_id",
        F.bround(F.col("lon") * 1000000.0, 0).cast("long").alias("x"),
        F.bround(F.col("lat") * 1000000.0, 0).cast("long").alias("y"),
        F.lit(0).cast("long").alias("node"),
    )
    for level in range(4):
        axis = "x" if level % 2 == 0 else "y"
        w = Window.partitionBy("node").orderBy(F.col(axis), F.col("event_id"))
        wn = Window.partitionBy("node")
        pts = pts.select(
            "event_id",
            "x",
            "y",
            "node",
            F.row_number().over(w).alias("rk"),
            F.count(F.lit(1)).over(wn).alias("cnt"),
        ).select(
            "event_id",
            "x",
            "y",
            (
                F.col("node") * 2
                + F.when(
                    F.col("rk") <= F.expr("(cnt + 1) div 2"), F.lit(0)
                ).otherwise(F.lit(1))
            ).alias("node"),
        )
    return pts.groupBy(F.col("node").alias("leaf")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("x").cast("long").alias("min_x"),
        F.max("x").cast("long").alias("max_x"),
        F.min("y").cast("long").alias("min_y"),
        F.max("y").cast("long").alias("max_y"),
    )


def q_dyad_census(spark, sf_dir):
    """Holland-Leinhardt DYAD census of the directed zipf link graph —
    triad_census's little sibling and the reciprocity measure (how much
    of the web's linking is mutual): exact (n_nodes, n_arcs, mutual,
    asym, null) with mutual via one self-join on reversed arcs,
    null = C(n,2) - mutual - asym closed-form (no pair enumeration —
    the triad_census discipline). FULL oracle: verbatim replay."""
    from extractors_metadata_spark.operators.linkgraph import (
        zipf_link_graph,
    )

    g = zipf_link_graph(_t(spark, sf_dir, "events")).filter(
        F.col("src") != F.col("dst")
    )
    nodes = (
        g.select(F.col("src").alias("v"))
        .unionByName(g.select(F.col("dst").alias("v")))
        .distinct()
    )
    rev = g.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    mutual_arcs = g.intersect(rev)
    stats = (
        g.agg(F.count(F.lit(1)).cast("long").alias("n_arcs"))
        .crossJoin(
            nodes.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        )
        .crossJoin(
            mutual_arcs.agg(
                F.count(F.lit(1)).cast("long").alias("m2")
            )
        )
    )
    return stats.select(
        "n_nodes",
        "n_arcs",
        F.expr("m2 div 2").cast("long").alias("mutual"),
        (F.col("n_arcs") - F.col("m2")).alias("asym"),
        (
            F.expr("(n_nodes * (n_nodes - 1)) div 2")
            - F.expr("m2 div 2")
            - (F.col("n_arcs") - F.col("m2"))
        ).cast("long").alias("nulld"),
    )


def q_edr_pairs(spark, sf_dir):
    """Banded anchored-EDR track-pair edit counts (operators/dtw
    ._edr_udf — Chen & Ng 2004, the EDIT-DISTANCE member completing the
    lattice family: DTW accumulates, Frechet bottlenecks, LCSS
    max-matches, SW aligns locally; EDR counts eps-tolerant edits and
    is robust to the outlier points that dominate DTW's sum). eps=80
    microdeg, same caps/band as dtw_pairs, anchored start (documented
    variant — free leading gaps would need virtual boundary rows).
    FULL oracle: the shared anti-diagonal stage generator in edr mode
    (min of gap+1 moves and the 0/1-substitution diagonal)."""
    from extractors_metadata_spark.operators.dtw import (
        edr_pairs,
        user_tracks,
    )

    lat, lon = _latlon_dbl()
    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 30)
        .select("user_id", "event_id", "ts", lat, lon)
    )
    pts = e.select(
        "user_id",
        "ts",
        "event_id",
        (F.bround(F.col("lon") * 1000000.0, 0).cast("long")
         + F.lit(180000000)).alias("qx"),
        (F.bround(F.col("lat") * 1000000.0, 0).cast("long")
         + F.lit(90000000)).alias("qy"),
    )
    return edr_pairs(user_tracks(pts), eps=80)


def q_hhi_concentration(spark, sf_dir):
    """Herfindahl-Hirschman concentration of source shares per language
    — the antitrust-style concentration scalar the curation suite lacks
    (gini/theil measure inequality of a size DISTRIBUTION; HHI measures
    market concentration of shares): per lang, HHI = sum s_i^2 with
    s_i = n_i/N emitted as the exact integer pair (sum n_i^2, N) — the
    rational and its 1/N lower bound are consumer-side. Also emits
    n_sources and the top share numerator (max n_i, the CR1
    ingredient). One groupBy + one agg. FULL oracle: verbatim replay."""
    counts = (
        _t(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_i"))
    )
    return counts.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.sum("n_i").cast("long").alias("n_total"),
        F.sum(F.col("n_i") * F.col("n_i")).cast("long").alias("hhi_num"),
        F.max("n_i").cast("long").alias("cr1_num"),
    )


def q_type_tile_affinity(spark, sf_dir):
    """Spatial affinity between event types — exact integer cosine of
    their tile-count histograms (the footprint-overlap question
    colocation_pi answers at point scale, asked at TILE scale where the
    100 TB version actually runs): tile = (x div 200000, y div 200000)
    microdeg cells, per unordered type pair the exact (dot, naa, nbb)
    ints — cosine rationals consumer-side. One tile agg + one bounded
    pair join on the collapsed (type x tile) dim. FULL oracle: verbatim
    replay."""
    lat, lon = _latlon_dbl()
    cells = (
        _t(spark, sf_dir, "events")
        .select(F.col("event_type").alias("g"), lat, lon)
        .select(
            "g",
            F.round(F.col("lon") * F.lit(1000000.0), 0)
            .cast("long")
            .alias("mx"),
            F.round(F.col("lat") * F.lit(1000000.0), 0)
            .cast("long")
            .alias("my"),
        )
        .select("g", F.expr("mx div 200").alias("cx"),
                F.expr("my div 200").alias("cy"))
        .groupBy("g", "cx", "cy")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    norms = cells.groupBy("g").agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("nn")
    )
    a = cells.select(
        F.col("g").alias("ga"), "cx", "cy", F.col("c").alias("ca")
    )
    b = cells.select(
        F.col("g").alias("gb"), "cx", "cy", F.col("c").alias("cb")
    )
    dots = (
        a.join(b, ["cx", "cy"])
        .filter(F.col("ga") < F.col("gb"))
        .groupBy("ga", "gb")
        .agg(
            F.sum(F.col("ca") * F.col("cb")).cast("long").alias("dot"),
            F.count(F.lit(1)).cast("long").alias("n_shared_tiles"),
        )
    )
    na = norms.select(F.col("g").alias("ga"), F.col("nn").alias("naa"))
    nb = norms.select(F.col("g").alias("gb"), F.col("nn").alias("nbb"))
    return (
        dots.join(F.broadcast(na), "ga")
        .join(F.broadcast(nb), "gb")
        .select("ga", "gb", "dot", "n_shared_tiles", "naa", "nbb")
    )


def q_hash_ring(spark, sf_dir):
    """Consistent-hash ring assignment audit: 8 shards x 16 virtual nodes
    at mix31 positions, every document routed to its clockwise
    successor vnode ((h_v, shard, v) tie order, wraparound to the
    global min), emitting the per-shard load histogram + ring extent —
    the balance audit that motivates vnodes in the first place.
    Broadcast 128-row ring, one theta join + min-struct per doc, one
    agg. All replayable ints (the vhash family). FULL oracle: verbatim
    replay."""
    from extractors_metadata_spark.functions.vhash import P31, mix31

    ring = (
        spark.range(8)
        .select(F.col("id").alias("shard"))
        .crossJoin(spark.range(16).select(F.col("id").alias("v")))
        .select(
            "shard",
            "v",
            mix31(
                (F.col("shard") * 131 + F.col("v") * 29 + 7)
                % F.lit(P31)
            ).alias("h_v"),
        )
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        mix31((F.col("doc_id") * 2654435761 + 99) % F.lit(P31)).alias(
            "hk"
        ),
    )
    succ = (
        docs.join(F.broadcast(ring), F.col("h_v") >= F.col("hk"))
        .groupBy("doc_id")
        .agg(F.min(F.struct("h_v", "shard", "v")).alias("s"))
        .select("doc_id", F.col("s.shard").alias("shard"))
    )
    wrap = ring.agg(F.min(F.struct("h_v", "shard", "v")).alias("s")).select(
        F.col("s.shard").alias("wshard")
    )
    assigned = (
        docs.join(succ, "doc_id", "left")
        .crossJoin(F.broadcast(wrap))
        .select(
            "doc_id", F.coalesce("shard", "wshard").alias("shard")
        )
    )
    loads = assigned.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    extents = ring.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_vnodes"),
        F.min("h_v").cast("long").alias("min_hv"),
        F.max("h_v").cast("long").alias("max_hv"),
    )
    return loads.join(F.broadcast(extents), "shard").select(
        "shard", "n_docs", "n_vnodes", "min_hv", "max_hv"
    )


def q_sd_ellipse(spark, sf_dir):
    """Standard deviational ellipse ingredients (Lefever 1926) per
    event type — the directional-dispersion classic radius_gyration
    scalarizes away: exact integer first/second moments (n, sx, sy,
    sxx, syy, sxy) on round_even nanodegree coords; the ellipse
    orientation tan 2theta = 2*Cxy/(Cxx - Cyy) and axes are rationals/
    radicals of these, consumer-side. ONE partial-agg groupBy — the
    ridge_fit shape. FULL oracle: verbatim replay."""
    lat, lon = _latlon_dbl()
    pts = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"), lat, lon
    ).select(
        "g",
        F.bround(F.col("lon") * 1000000000.0, 0).cast("long").alias("x"),
        F.bround(F.col("lat") * 1000000000.0, 0).cast("long").alias("y"),
    )
    # re-center on the field origin to keep squared sums in int64
    # (|x|,|y| < ~2e6 after subtracting the constant corner).
    # ADVICE r5 row bound: sum(x*x) ~ n * 4e12, so int64 holds only to
    # ~2.3e6 rows per event type — safe at every swept sf (<= 6e5 rows
    # total); a deployment at millions of events per type must switch
    # the sxx/syy/sxy accumulators to decimal(38,0) (HUGEINT headroom)
    # on BOTH engines
    x0 = F.bround(F.lit(-111.9750833333) * 1000000000.0, 0).cast("long")
    y0 = F.bround(F.lit(33.0745) * 1000000000.0, 0).cast("long")
    c = pts.select(
        "g", (F.col("x") - x0).alias("x"), (F.col("y") - y0).alias("y")
    )
    return c.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )


def q_privacy_audit(spark, sf_dir):
    """k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala
    2007) — the privacy-release completion of the PII family
    (pii_counts finds identifiers; this audits the QUASI-identifier
    risk of a would-be release): QI = (lang, source, n_chars div 128),
    sensitive = the leading token; per QI group the exact size n and
    l-diversity (distinct sensitive values), plus the k<5 violation
    flag. One agg. FULL oracle: verbatim replay (substring_index ==
    split_part for space-tokenized text)."""
    d = _t(spark, sf_dir, "documents")
    q = d.select(
        "lang",
        "source",
        F.expr("n_chars div 128").cast("long").alias("band"),
        F.substring_index(F.col("text"), " ", 1).alias("sens"),
    )
    return q.groupBy("lang", "source", "band").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("sens").cast("long").alias("l_div"),
    ).select(
        "lang", "source", "band", "n", "l_div",
        (F.col("n") < 5).cast("long").alias("k_viol"),
    )


def q_basket_lift(spark, sf_dir):
    """Apriori-style frequent itemsets with lift ingredients — the
    TRANSACTIONAL co-occurrence member (market-basket over user
    event-type baskets):
    exact support of every 2- and 3-itemset over the 5-type alphabet
    (bounded — no candidate pruning needed at this arity), emitted with
    the per-item supports and the basket count so lift/confidence are
    consumer-side rationals. distinct -> two bounded self-joins.
    FULL oracle: verbatim replay."""
    b = (
        _t(spark, sf_dir, "events")
        .select("user_id", F.col("event_type").alias("it"))
        .distinct()
    )
    singles = b.groupBy("it").agg(
        F.count(F.lit(1)).cast("long").alias("n_it")
    )
    nu = b.select("user_id").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    a2 = b.select("user_id", F.col("it").alias("ia"))
    b2 = b.select("user_id", F.col("it").alias("ib"))
    c2 = b.select("user_id", F.col("it").alias("ic"))
    pairs = (
        a2.join(b2, "user_id")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).cast("long").alias("n_set"))
        .withColumn("ic", F.lit(""))
    )
    triples = (
        a2.join(b2, "user_id")
        .filter(F.col("ia") < F.col("ib"))
        .join(c2, "user_id")
        .filter(F.col("ib") < F.col("ic"))
        .groupBy("ia", "ib", "ic")
        .agg(F.count(F.lit(1)).cast("long").alias("n_set"))
    )
    allsets = pairs.select("ia", "ib", "ic", "n_set").unionByName(
        triples.select("ia", "ib", "ic", "n_set")
    )
    s = lambda col, alias: F.broadcast(  # noqa: E731
        singles.select(
            F.col("it").alias(col), F.col("n_it").alias(alias)
        )
    )
    return (
        allsets.join(s("ia", "n_ia"), "ia")
        .join(s("ib", "n_ib"), "ib")
        .join(s("ic", "n_ic"), "ic", "left")
        .crossJoin(F.broadcast(nu))
        .select(
            "ia", "ib", "ic", "n_set", "n_ia", "n_ib",
            F.coalesce("n_ic", F.lit(0)).cast("long").alias("n_ic"),
            "n_users",
        )
    )


def q_debruijn_euler(spark, sf_dir):
    """De Bruijn word-graph Eulerian-path audit — the assembly-style
    view of document structure (trigram_paths mines frequent paths;
    this asks whether the doc's bigram graph admits a single
    non-repeating traversal, the Eulerian condition on degree
    imbalance): per doc the exact node/edge counts and the
    out-in-degree imbalance census (n_plus = nodes at +1, n_minus at
    -1, n_bad beyond), euler_ok = [n_plus <= 1 AND n_minus <= 1 AND
    n_bad = 0] (the necessary degree condition; connectivity is the
    documents' trivially-connected chain). One window + two aggs.
    FULL oracle: verbatim replay on the shared split_regex
    tokenization."""
    d = _t(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    words = d.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.col("text")), r"\s+")).alias(
            "pos", "word"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    edges = words.select(
        "doc_id",
        F.col("word").alias("a"),
        F.lead("word").over(w).alias("b"),
    ).filter(F.col("b").isNotNull())
    deg = (
        edges.select("doc_id", F.col("a").alias("node"), F.lit(1).alias("o"), F.lit(0).alias("i"))
        .unionByName(
            edges.select("doc_id", F.col("b").alias("node"), F.lit(0).alias("o"), F.lit(1).alias("i"))
        )
        .groupBy("doc_id", "node")
        .agg(
            F.sum("o").cast("long").alias("outd"),
            F.sum("i").cast("long").alias("ind"),
        )
    )
    agg = deg.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum(
            F.when(F.col("outd") - F.col("ind") == 1, 1).otherwise(0)
        ).cast("long").alias("n_plus"),
        F.sum(
            F.when(F.col("ind") - F.col("outd") == 1, 1).otherwise(0)
        ).cast("long").alias("n_minus"),
        F.sum(
            F.when(
                F.abs(F.col("outd") - F.col("ind")) > 1, 1
            ).otherwise(0)
        ).cast("long").alias("n_bad"),
    )
    ecnt = edges.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_edges")
    )
    return agg.join(ecnt, "doc_id").select(
        "doc_id", "n_nodes", "n_edges", "n_plus", "n_minus", "n_bad",
        (
            (F.col("n_plus") <= 1)
            & (F.col("n_minus") <= 1)
            & (F.col("n_bad") == 0)
        ).cast("long").alias("euler_ok"),
    )


def q_knapsack_pack(spark, sf_dir):
    """Exact 0/1 knapsack data selection under a token budget
    (operators/knapsack.py — the exact-optimal member of the selection
    family: dsir_select samples by importance, curation_filter
    thresholds; this OPTIMIZES per-source value under capacity 64 with
    token cost w = n_chars div 16 + 1 and value v = ' the '-count div 5
    over the top-16 docs by the frozen (v DESC, doc_id) order). Scoring
    is one codegen scan + one window; the DP is one Arrow pass per
    source on the bounded 16 x 65 lattice; max-fold commutative ->
    bit-deterministic. Emits (source, best_v, c_min) — c_min the
    minimal capacity achieving the optimum (the canonical tie-free
    summary, no backtrack stages). FULL oracle: the DP recurrence
    unrolled as 16 CTE stages."""
    from extractors_metadata_spark.operators.knapsack import (
        knapsack_select,
    )

    d = _t(spark, sf_dir, "documents")
    pad = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    items = d.select(
        "source",
        "doc_id",
        (
            (F.length(pad) - F.length(F.replace(pad, F.lit(" the "), F.lit(""))))
        ).cast("long").alias("_d"),
        F.col("n_chars").cast("long").alias("_n"),
    ).select(
        "source",
        "doc_id",
        F.expr("_d div 5").cast("long").alias("v"),
        F.expr("(_n div 16) + 1").cast("long").alias("w"),
    )
    return knapsack_select(items, capacity=64, n_items=16)


def q_radiation_model(spark, sf_dir):
    """Radiation mobility model (Simini et al. 2012) — the
    parameter-free successor of the gravity model (gravity_residuals
    holds the gravity side): flows T_ij proportional to
    m_i m_j / ((m_i + s_ij)(m_i + m_j + s_ij)) where s_ij is the total
    mass STRICTLY closer to i than j is (the intervening-opportunities
    term). 64 event sites, integer masses 1 + id % 20, exact int64
    squared distances on round_even nanodegree coords; s_ij via one
    bounded (pairs x sites) codegen join — no trig, no floats; the
    rational flow ships as exact (num, den). Declared bounded dims; the
    scale path buckets s_ij by k-ring distance bands. FULL oracle:
    verbatim replay."""
    lat, lon = _latlon_dbl()
    pts = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 64)
        .select("event_id", lat, lon)
        .select(
            F.col("event_id").alias("id"),
            F.bround(F.col("lon") * 1000000000.0, 0)
            .cast("long")
            .alias("ix"),
            F.bround(F.col("lat") * 1000000000.0, 0)
            .cast("long")
            .alias("iy"),
            (1 + F.col("event_id") % 20).cast("long").alias("m"),
        )
    )
    a = pts.select(
        F.col("id").alias("i"), F.col("ix").alias("xi"),
        F.col("iy").alias("yi"), F.col("m").alias("m_i"),
    )
    b = pts.select(
        F.col("id").alias("j"), F.col("ix").alias("xj"),
        F.col("iy").alias("yj"), F.col("m").alias("m_j"),
    )
    pairs = a.join(b, F.col("i") != F.col("j")).select(
        "i", "j", "xi", "yi", "m_i", "m_j",
        (
            (F.col("xi") - F.col("xj")) * (F.col("xi") - F.col("xj"))
            + (F.col("yi") - F.col("yj")) * (F.col("yi") - F.col("yj"))
        ).alias("d2"),
    )
    k = pts.select(
        F.col("id").alias("k"), F.col("ix").alias("xk"),
        F.col("iy").alias("yk"), F.col("m").alias("m_k"),
    )
    closer = (
        pairs.join(F.broadcast(k), (F.col("k") != F.col("i")) & (F.col("k") != F.col("j")))
        .filter(
            (F.col("xi") - F.col("xk")) * (F.col("xi") - F.col("xk"))
            + (F.col("yi") - F.col("yk")) * (F.col("yi") - F.col("yk"))
            < F.col("d2")
        )
        .groupBy("i", "j")
        .agg(F.sum("m_k").cast("long").alias("s_ij"))
    )
    out = pairs.join(closer, ["i", "j"], "left").select(
        "i",
        "j",
        "m_i",
        "m_j",
        F.coalesce("s_ij", F.lit(0)).cast("long").alias("s_ij"),
    )
    return out.select(
        "i",
        "j",
        "m_i",
        "m_j",
        "s_ij",
        (F.col("m_i") * F.col("m_j")).alias("num"),
        (
            (F.col("m_i") + F.col("s_ij"))
            * (F.col("m_i") + F.col("m_j") + F.col("s_ij"))
        ).alias("den"),
    )


def q_string_period(spark, sf_dir):
    """Minimal string period + longest border per document
    (operators/suffixarray.string_period — KMP failure function, one
    Arrow pass; period = n - border, Fine & Wilf normal form — the
    template/boilerplate periodicity primitive). FULL oracle by an
    INDEPENDENT algorithm: the definitional min shift p with
    t[0:n-p] == t[p:n] over a bounded shift dim (the ntt_autocorr
    two-derivations discipline)."""
    from extractors_metadata_spark.operators.suffixarray import (
        string_period,
    )

    return string_period(_t(spark, sf_dir, "documents"))


def q_bwt_runs(spark, sf_dir):
    """Burrows-Wheeler equal-letter run count r per document
    (operators/suffixarray.bwt_runs — bwt read off the prefix-doubling
    suffix order, virtual sentinel for the position-0 suffix; r is the
    compressed-indexing space measure, the storage-cost sharpening of
    suffix_lrs' repetition signal). FULL oracle: the 8 doubling stages
    + one lag over suffix rank counting value changes."""
    from extractors_metadata_spark.operators.suffixarray import bwt_runs

    return bwt_runs(_t(spark, sf_dir, "documents"))


def q_seasonal_mk(spark, sf_dir):
    """Seasonal Mann-Kendall (Hirsch & Slack 1984) — the
    weekday-stratified trend member (mann_kendall tests the plain daily
    series; deseasonalizing first is this variant): per (type, weekday)
    the exact pairwise sign sum S_gw = sum_{i<j} sign(y_j - y_i) over
    that weekday's daily counts, with n_w for the variance — the
    overall S_g = sum_w S_gw consumer-side. Bounded self-join on the
    per-type daily dim. FULL oracle: verbatim replay."""
    daily = (
        _t(spark, sf_dir, "events")
        .select(
            F.col("event_type").alias("g"),
            (
                F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
                - F.lit(19723)
            ).alias("x"),
        )
        .groupBy("g", "x")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
        .withColumn("w", F.col("x") % 7)
    )
    a = daily.select("g", "w", F.col("x").alias("xi"), F.col("y").alias("yi"))
    b = daily.select("g", "w", F.col("x").alias("xj"), F.col("y").alias("yj"))
    pairs = a.join(b, ["g", "w"]).filter(F.col("xi") < F.col("xj"))
    return pairs.groupBy("g", "w").agg(
        F.sum(F.signum(F.col("yj") - F.col("yi")).cast("long"))
        .cast("long")
        .alias("s_gw"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.countDistinct("xi").cast("long").alias("n_w_minus1"),
    )


def q_gale_shapley(spark, sf_dir):
    """Stable source-to-language-queue assignment
    (operators/matching.py — Gale-Shapley 1962 deferred acceptance,
    proposer-optimal, over the data-derived (source, lang) count matrix
    with frozen (count DESC, name ASC) preference orders): top-5
    sources propose, language queues keep the best by their own rank;
    the batch variant with the {won: stay, rejected/displaced: ptr+1}
    pointer rule is schedule-free, and 25 fixed rounds (= the n^2
    proposal budget; converged rounds idempotent) make it exactly
    replayable. Counts are one partial-agg groupBy; the rounds run on
    the bounded 25-cell matrix in ONE Arrow pass (the huffman
    precedent). FULL oracle: the transition relation unrolled as 25 CTE
    stages."""
    from extractors_metadata_spark.operators.matching import (
        gale_shapley,
        source_lang_matrix,
    )

    m = source_lang_matrix(_t(spark, sf_dir, "documents"), top_n=5)
    return gale_shapley(m, rounds=25)


def q_interval_schedule(spark, sf_dir):
    """Greedy activity selection (operators/sessions.interval_schedule)
    — the exchange-argument-optimal max-non-overlap schedule, the
    selection member of the interval family (union = measure, join =
    stabbing, allen = relations): intervals [ts, ts + (1 + id%120) min]
    per user, repeatedly take earliest-(end, start, id) among starts >=
    prev end, capped at 12 picks (the shared output-budget contract).
    One applyInPandas pass, key-parallel. FULL oracle: 12 unrolled pick
    stages."""
    from extractors_metadata_spark.operators.sessions import (
        interval_schedule,
    )

    iv = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s_us"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            + (1 + F.col("event_id") % 120) * 60000000
        ).alias("e_us"),
    )
    return interval_schedule(iv, max_select=12)


def q_cochran_armitage(spark, sf_dir):
    """Cochran-Armitage trend test ingredients — the ORDERED-group
    member of the categorical family (chi_square tests association,
    this tests a monotone dose-response): dose = weekday 0..6 (epoch
    day % 7), response = purchase. Emits the exact int64 sufficient
    statistics (N, R, sum w*n_g, sum w*r_g, sum w^2*n_g) the statistic
    T = sum w*(r_g - n_g*R/N) and its variance are rationals of —
    consumer-side, no float anywhere. One per-group agg + one global
    agg. FULL oracle: verbatim replay."""
    e = _t(spark, sf_dir, "events").select(
        (
            F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
            % 7
        ).alias("w"),
        (F.col("event_type") == "purchase").cast("long").alias("r"),
    )
    g = e.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("r").cast("long").alias("r_g"),
    )
    return g.agg(
        F.sum("n_g").cast("long").alias("n_total"),
        F.sum("r_g").cast("long").alias("r_total"),
        F.sum(F.col("w") * F.col("n_g")).cast("long").alias("swn"),
        F.sum(F.col("w") * F.col("r_g")).cast("long").alias("swr"),
        F.sum(F.col("w") * F.col("w") * F.col("n_g"))
        .cast("long")
        .alias("swwn"),
    )


def q_vw_simplify(spark, sf_dir):
    """Visvalingam-Whyatt simplification (operators/trajectory.vw_keep)
    — the area-based complement of rdp_simplify: 8 fixed single-victim
    removal stages per user track, victim = argmin (effective area2,
    seq) with area2 the exact int64 |cross| of the CURRENT neighbors on
    microdegree coords. One Arrow pass over user groups. FULL oracle: 8
    unrolled stages (lag/lead areas + row_number victim + anti-join)."""
    from extractors_metadata_spark.operators.trajectory import vw_keep

    lat, lon = _latlon_dbl()
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        lat, lon,
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    pts = e.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("seq"),
        F.bround(F.col("lon") * 1000000.0, 0).cast("long").alias("x"),
        F.bround(F.col("lat") * 1000000.0, 0).cast("long").alias("y"),
    )
    return vw_keep(pts, removals=8)


def q_suffix_lrs(spark, sf_dir):
    """Longest repeated substring per document
    (operators/suffixarray.py — Manber-Myers prefix-doubling suffix
    array + Kasai adjacent-LCP walk in one Arrow pass; the
    character-level intra-doc repetition signal Gopher-style filters
    threshold on, complementing repetition_stats' n-gram ratios and
    exact_substr's cross-doc spans). Truncation to 256 bytes is part of
    the contract (n_used emitted). FULL oracle: the doubling recurrence
    unrolled as 8 dense_rank CTE stages + adjacent LCP via sequential
    binary-lifting CTE stages (max_pow=256)."""
    from extractors_metadata_spark.operators.suffixarray import suffix_lrs

    return suffix_lrs(_t(spark, sf_dir, "documents"))


def q_seasonal_decompose(spark, sf_dir):
    """Classical seasonal decomposition of the daily event-count series
    per type (the moving-average method, Kendall/Stuart): trend = the
    CENTERED 7-day window emitted as its integer SUM t7 (mean x 7 — the
    pack_sequences integer-emission rule), detrended d7 = 7*y - t7, and
    the weekday seasonal index as exact (sum, count) ints joined back
    onto every interior day (edge days without a full window drop —
    total, no NULL columns). Two windows + one agg + one broadcast join
    on one per-type Exchange. Completes the time-series family
    (holt_forecast = exponential smoothing, acf = correlogram; this is
    the decomposition view). FULL oracle: verbatim replay."""
    daily = (
        _t(spark, sf_dir, "events")
        .select(
            F.col("event_type").alias("g"),
            (
                F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
                - F.lit(19723)
            ).alias("x"),
        )
        .groupBy("g", "x")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    w7 = Window.partitionBy("g").orderBy("x").rowsBetween(-3, 3)
    trended = (
        daily.withColumn("t7", F.sum("y").over(w7).cast("long"))
        .withColumn("c7", F.count(F.lit(1)).over(w7))
        .filter(F.col("c7") == 7)
        .select(
            "g",
            "x",
            (F.col("x") % 7).alias("w"),
            "y",
            "t7",
            (7 * F.col("y") - F.col("t7")).alias("d7"),
        )
    )
    seas = trended.groupBy("g", "w").agg(
        F.sum("d7").cast("long").alias("s_sum"),
        F.count(F.lit(1)).cast("long").alias("s_cnt"),
    )
    return trended.join(F.broadcast(seas), ["g", "w"]).select(
        "g", "x", "w", "y", "t7", "d7", "s_sum", "s_cnt"
    )


def q_toponym_resolve(spark, sf_dir):
    """Toponym resolution — gazetteer entity disambiguation, the second
    geo x text fusion member (GeoNames-style: mentions of a place name
    resolve to the gazetteer entry maximizing a population-weighted
    proximity prior): per (doc, mentioned name) pick argmin of
    (dist_cm - pop * 100000, gaz_id) over that name's homonym rows —
    population acts as a km-scale bonus, distance on the proven cm
    surface anchored at the GAZETTEER latitude. Mentions via the
    replace-length identity in one codegen projection, narrow stack
    fan-out, broadcast gazetteer join (<= 2 homonyms per name), one
    Arrow dist pass, min-struct argmin (no window). FULL oracle:
    verbatim replay + row_number pick."""
    from extractors_metadata_spark.operators.radius_join import (
        _pair_dist_udf,
    )
    from oracles.shared import GAZETTEER

    names = sorted({n for _, n, _ in GAZETTEER})
    d = _t(spark, sf_dir, "documents")
    lat = F.lit(33.0745) + (
        (F.col("doc_id") % 1000).cast("double") + F.lit(0.5)
    ) / F.lit(1000.0) * F.lit(54.0) * F.lit(0.0000365)
    lon = F.lit(-111.9750833333) + (
        (F.col("doc_id") % 640).cast("double") + F.lit(0.5)
    ) / F.lit(640.0) * F.lit(16.0) * F.lit(0.00005)
    occ_cols = [
        F.expr(
            f"(length(text) - length(replace(text, '{n}', ''))) div {len(n)}"
        ).cast("long").alias(f"m{i}")
        for i, n in enumerate(names)
    ]
    base = d.select("doc_id", lat.alias("lat"), lon.alias("lon"), *occ_cols)
    stack_expr = "stack({}, {}) as (name, mentions)".format(
        len(names), ", ".join(f"'{n}', m{i}" for i, n in enumerate(names))
    )
    mentions = base.select(
        "doc_id", "lat", "lon", F.expr(stack_expr)
    ).filter(F.col("mentions") > 0)
    gaz = spark.createDataFrame(
        GAZETTEER, "gaz_id long, name string, pop long"
    ).select(
        "gaz_id",
        "name",
        "pop",
        (
            F.lit(33.0745)
            + (F.col("gaz_id").cast("double") + F.lit(0.5))
            * F.lit(0.00015)
        ).alias("glat"),
        (
            F.lit(-111.9750833333)
            + (F.col("gaz_id").cast("double") + F.lit(0.5))
            * F.lit(0.00012)
        ).alias("glon"),
    )
    cand = mentions.join(F.broadcast(gaz), "name").select(
        "doc_id",
        "name",
        "mentions",
        "gaz_id",
        F.round(
            _pair_dist_udf()("glat", "glon", "lat", "lon") * 100.0, 0
        ).cast("long").alias("dist_cm"),
        "pop",
    )
    picked = cand.select(
        "doc_id",
        "name",
        "mentions",
        F.struct(
            (F.col("dist_cm") - F.col("pop") * 100000).alias("key"),
            F.col("gaz_id").alias("gaz_id"),
            F.col("dist_cm").alias("dist_cm"),
        ).alias("s"),
    ).groupBy("doc_id", "name").agg(
        F.max("mentions").alias("mentions"),
        F.min("s").alias("s"),
    )
    return picked.select(
        "doc_id",
        "name",
        "mentions",
        F.col("s.gaz_id").alias("gaz_id"),
        F.col("s.dist_cm").alias("dist_cm"),
    )


def q_boruvka_emst(spark, sf_dir):
    """Euclidean MST over the first 256 event points
    (operators/boruvka.py — distributed Boruvka, the parallel-native MST:
    per round every component takes its min outgoing edge under the
    (w, a, b) total order, 2-cycle hooks root at the smaller id, exactly
    8 pointer doublings collapse trees (2^8 >= N — fixed count is what
    makes the oracle a stage replay), components at least halve so 8
    rounds complete the tree; unique MST under the total order even with
    the grid's duplicate weights). Weights: exact int64 SQUARED distance
    on round_even 1e-9-deg fixed-point coords — monotone, so no sqrt.
    Candidate edges: the definitionally-exhaustive bounded-dim all-pairs
    frame; the 100 TB path plugs the k-ring generator (EMST edges are
    local). FULL oracle: rounds and jumps
    unrolled as generated MATERIALIZED CTE stages."""
    from extractors_metadata_spark.operators.boruvka import (
        all_pairs_sq_edges,
        mst_boruvka,
    )

    lat, lon = _latlon_dbl()
    pts = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 256)
        .select("event_id", lat, lon)
        .select(
            F.col("event_id").alias("id"),
            F.bround(F.col("lon") * 1000000000.0, 0)
            .cast("long")
            .alias("ix"),
            F.bround(F.col("lat") * 1000000000.0, 0)
            .cast("long")
            .alias("iy"),
        )
    )
    edges = all_pairs_sq_edges(pts)
    return mst_boruvka(pts.select("id"), edges, rounds=8, jumps=8)


def q_stress_centrality(spark, sf_dir):
    """Seed-pair stress centrality (operators/linkgraph.bfs_sigma +
    stress_centrality — Shimbel 1953, the all-integer betweenness-family
    member; Brandes' rational sigma-ratio accumulation has no exact
    cross-engine replay, the raw shortest-path COUNT does): 16 seeds
    over the undirected zipf link graph, 4-hop BFS with path counting
    run for ALL seeds in one wave (seed is a key column), then
    stress(v) = sum sigma_sv*sigma_vt over pairs with d_sv+d_vt=d_st.
    int64 envelope: sigma <= max_deg^4 (~1e8 at sf0.1), pair products
    summed well under 2^63. FULL oracle: the sigma recurrence unrolled
    as 4 CTE stages + verbatim pair-join replay."""
    from extractors_metadata_spark.operators.linkgraph import (
        bfs_sigma,
        stress_centrality,
        zipf_link_graph,
    )

    g = zipf_link_graph(_t(spark, sf_dir, "events"))
    und = (
        g.select("src", "dst")
        .unionByName(
            g.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    seeds = spark.range(16).select(F.col("id").alias("node"))
    bfs = bfs_sigma(und, seeds, rounds=4)
    return stress_centrality(bfs, 16)


def q_aho_scan(spark, sf_dir):
    """Single-pass Aho-Corasick multi-pattern scan
    (operators/ahocorasick.py) over documents — the automaton completion
    blocklist_hits' docstring promises for large pattern sets: one Arrow
    pass, cost O(chars), independent of K. Per doc: total occurrences,
    distinct patterns hit, most-frequent pattern (ties -> min pid, -1 on
    no hit). Patterns are verified BORDERLESS at build time, so the
    automaton's all-occurrence count provably equals the oracle's
    non-overlapping replace-length count. FULL oracle: per-pattern
    replace identity + argmax replay over the K-row pattern dim."""
    from extractors_metadata_spark.operators.ahocorasick import aho_scan

    d = _t(spark, sf_dir, "documents")
    return aho_scan(d, _AHO_PATTERNS)


def q_spatial_keyword(spark, sf_dir):
    """Spatial-keyword top-k — the geo x text fusion query (Cong et al.
    family: rank documents for a location-anchored term query): 8 query
    points over the field, score = (tf DESC, dist_cm ASC, doc_id) with
    tf from the replace-length identity (integer div) and dist_cm the
    proven knn/radius cm surface (NumPy equirect anchored at the QUERY
    latitude — operators/radius_join._pair_dist_udf — then 0-decimal
    F.round == DuckDB round). Doc locations derive from doc_id via the
    _latlon_dbl double chain. Plan: one codegen projection computes all
    8 tf columns in a single scan, stack() fans out narrow (qid, tf)
    rows, one Arrow dist pass, then TWO-PHASE top-k (per-(qid, salt)
    partial rank, then the 96-row merge) so no single window partition
    ever sees the full corpus — the 100 TB shape. FULL oracle: single
    window replay (same total order => identical top-3)."""
    from extractors_metadata_spark.operators.radius_join import (
        _pair_dist_udf,
    )

    d = _t(spark, sf_dir, "documents")
    lat = F.lit(33.0745) + (
        (F.col("doc_id") % 1000).cast("double") + F.lit(0.5)
    ) / F.lit(1000.0) * F.lit(54.0) * F.lit(0.0000365)
    lon = F.lit(-111.9750833333) + (
        (F.col("doc_id") % 640).cast("double") + F.lit(0.5)
    ) / F.lit(640.0) * F.lit(16.0) * F.lit(0.00005)
    tf_cols = [
        F.expr(
            f"(length(text) - length(replace(text, '{t}', ''))) div {len(t)}"
        ).cast("long").alias(f"tf{i}")
        for i, t in enumerate(_SKW_TERMS)
    ]
    base = d.select(
        "doc_id", lat.alias("lat"), lon.alias("lon"), *tf_cols
    )
    stack_expr = "stack({}, {}) as (qid, tf)".format(
        len(_SKW_TERMS),
        ", ".join(f"{i}, tf{i}" for i in range(len(_SKW_TERMS))),
    )
    fanned = base.select("doc_id", "lat", "lon", F.expr(stack_expr))
    qdim = spark.range(len(_SKW_TERMS)).select(
        F.col("id").cast("int").alias("qid"),
        (
            F.lit(33.0745)
            + (F.col("id").cast("double") + F.lit(0.5)) * F.lit(0.0002)
        ).alias("qlat"),
        (
            F.lit(-111.9750833333)
            + (F.col("id").cast("double") + F.lit(0.5)) * F.lit(0.00025)
        ).alias("qlon"),
    )
    scored = fanned.join(F.broadcast(qdim), "qid").select(
        "qid",
        "doc_id",
        "tf",
        F.round(
            _pair_dist_udf()("qlat", "qlon", "lat", "lon") * 100.0, 0
        ).cast("long").alias("dist_cm"),
    )
    order = [F.col("tf").desc(), F.col("dist_cm").asc(), F.col("doc_id").asc()]
    wpart = Window.partitionBy("qid", F.pmod(F.col("doc_id"), F.lit(32))).orderBy(
        *order
    )
    partial = scored.withColumn("prk", F.row_number().over(wpart)).filter(
        F.col("prk") <= 3
    )
    wfin = Window.partitionBy("qid").orderBy(*order)
    return (
        partial.withColumn("rnk", F.row_number().over(wfin))
        .filter(F.col("rnk") <= 3)
        .select("qid", F.col("rnk").cast("long").alias("rnk"), "doc_id",
                "tf", "dist_cm")
    )


_COALESCED_FINAL = {
    # r6: heavy pure-JVM suite queries (plan checked: no BatchEvalPython/
    # ArrowEvalPython/MapInPandas nodes except the individually-A/B'd
    # Arrow tier) materialized under the size-coalesced AQE scope.
    # Selection rule: wrap only queries measured >= ~1.5s unwrapped —
    # the wrap's extra action + persist costs ~0.2-1s, a net loss on
    # sub-second queries (measured full-suite A/B r6). z_range_plan and
    # cms_verify excluded: their key windows / depthxwidth fan serialize
    # under coalescing (measured regressions). boruvka_emst excluded: it
    # runs applyInPandas, and 5 alternating runs at sf0.01 (4 vCPUs) read
    # 4.8-6.9 s unwrapped (median 6.25) vs 5.1-7.2 s wrapped (median 6.29).
    "ams_f2",
    "anchor_text",
    "anf_registers",
    "attack_robustness",
    "bh_fdr",
    "bloom_prune",
    "bowtie_classes",
    "bpe_merges",
    "cell_compact",
    "colocation_pi",
    "contact_crossings",
    "containment_pairs",
    "convex_hull",
    "convoy_pairs",
    "cost_distance",
    "critical_path",
    "curation_yield",
    "dsir_select",
    "dup_cluster_sizes",
    "good_turing",
    "greedy_cover",
    "harmonic_centrality",
    "hausdorff_pairs",
    "hits",
    "hll_pyramid",
    "isotonic_fit",
    "jenks_breaks",
    "k_core",
    "kcenter_coreset",
    "knn_classify",
    "ktruss",
    "line_dedup",
    "lsh_eval",
    "minhash_pairs",
    "mmr_select",
    "modularity",
    "morph_close",
    "mutual_knn",
    "naive_bayes",
    "ngram_jaccard",
    "overlay_area",
    "page_trend",
    "pagerank",
    "perm_test",
    "prefix_join",
    "principal_axis",
    "quadtree",
    "quantile_estimate_verify",
    "ransac_lines",
    "redirect_resolve",
    "ripley_k",
    "session_rules",
    "shingle_cosine",
    "shortest_paths",
    "simrank",
    "spatial_cluster",
    "sq_topk",
    "stress_centrality",
    "temporal_reach",
    "textrank",
    "tfidf_topk",
    "tile_blobs",
    "tile_pyramid",
    "triad_census",
    "triangles",
    "voronoi_alloc",
    "watershed",
    "wavefront_profile",
    "wilcoxon_signed",
    "winnow_pairs",
    "wl_colors",
}


def _wrap_coalesced(name, fn):
    def run(spark, sf_dir):
        from extractors_metadata_spark.operators.iterhelp import (
            coalesced_small_shuffles,
        )
        from extractors_metadata_spark.operators.pip_knn import _cache_scoped

        # construction runs IN-scope too: the eager per-round jobs these
        # operators execute while building (checkpointed BFS hops, greedy
        # argmax collects, CC label rounds) are exactly the full-width
        # stages the coalescing is for
        with coalesced_small_shuffles(spark):
            df = _cache_scoped(f"qfinal_{name}", fn(spark, sf_dir))
            df.count()
        return df

    run.__name__ = f"q_{name}_coalesced"
    run.__doc__ = fn.__doc__
    run.__wrapped__ = fn
    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registered driver queries. ORDERING IS LOAD-BEARING: the driver's
    correctness harness checks the FIRST 50 entries, so the dict is laid
    out in three tiers.

    1. entries 1-50: the driver window, every entry full-oracle — 44
       round-5 rotation queries never shown in an official
       CORRECTNESS_r*.json (sketches, streaming/CDC/IVM verifies,
       link-graph, geometry/spatial, corpus), ``pack_sequences``
       (round-4's lone hash-red row, retested after the bin_id arithmetic
       was made pure-integer on both sides), then 5 pipeline-layer
       oracles (point-in-polygon, cell cover, kNN, Huff model);
    2. entries 51-389: the other oracle-backed queries — exact-checked
       locally by ``tools/check_oracles.py`` (sweep artifacts committed
       under BENCH/);
    3. final 7 entries: the rows-only twins (xxhash64/approximate kernels,
       the rendered tile bytes) — each names its full-oracle twin in its
       docstring, and tests/test_registry.py pins the twin invariant.

    Names in ``_COALESCED_FINAL`` (heavy plans, see its comment) are
    wrapped (``_wrap_coalesced``) to materialize under the size-coalesced
    AQE scope: identical rows, reduce stages sized to the data instead of
    the session's Python-UDF width. Computation still happens inside the
    timed region on every invocation.
    """
    out = {
        # -- tier 1: the oracle-backed driver window (50 entries) -----------
        "pack_sequences": q_pack_sequences,
        "hll_estimate": q_hll_estimate,
        "hll_set_ops": q_hll_set_ops,
        "hll_pyramid": q_hll_pyramid,
        "hll_intersect": q_hll_intersect,
        "cms_verify": q_cms_verify,
        "cms_join_size": q_cms_join_size,
        "bloom_prune": q_bloom_prune,
        "quantile_sketch_verify": q_quantile_sketch_verify,
        "quantile_estimate_verify": q_quantile_estimate_verify,
        "quantile_grouped_verify": q_quantile_grouped_verify,
        "sketch_gate": q_sketch_gate,
        "stream_hll_verify": q_stream_hll_verify,
        "stream_cms_verify": q_stream_cms_verify,
        "stream_tiles_verify": q_stream_tiles_verify,
        "stream_upsert_verify": q_stream_upsert_verify,
        "stream_join_verify": q_stream_join_verify,
        "cdc_verify": q_cdc_verify,
        "ivm_counts": q_ivm_counts,
        "pagerank": q_pagerank,
        "triangles": q_triangles,
        "k_core": q_k_core,
        "label_prop": q_label_prop,
        "modularity": q_modularity,
        "rich_club": q_rich_club,
        "shortest_paths": q_shortest_paths,
        "clustering_coeff": q_clustering_coeff,
        "geohash": q_geohash,
        "pip_bigdim": q_pip_bigdim,
        "tile_pyramid": q_tile_pyramid,
        "cell_compact": q_cell_compact,
        "zonal_stats": q_zonal_stats,
        "polygon_stats": q_polygon_stats,
        "bbox_overlap": q_bbox_overlap,
        "convex_hull": q_convex_hull,
        "spatial_cluster": q_spatial_cluster,
        "overlay_area": q_overlay_area,
        "quadtree": q_quadtree,
        "radius_pairs": q_radius_pairs,
        "colocation_pi": q_colocation_pi,
        "decontaminate": q_decontaminate,
        "chunk_documents": q_chunk_documents,
        "bpe_merges": q_bpe_merges,
        "source_mix": q_source_mix,
        "line_dedup": q_line_dedup,
        "pip_contains": q_pip_contains,
        "polyfill_verify": q_polyfill_verify,
        "knn_nearest": q_knn_nearest,
        "knn_topk": q_knn_topk,
        "huff_model": q_huff_model,
        # -- tier 2: oracle-backed, previously recorded or sibling-covered --
        "exact_split": q_exact_split,
        "weighted_sample": q_weighted_sample,
        "sq_topk": q_sq_topk,
        "tile_assign": q_tile_assign,
        "tile_density": q_tile_density,
        "cells_encode": q_cells_encode,
        "pipeline_plots": q_pipeline_plots,
        "pipeline_nearest_verify": q_pipeline_nearest_verify,
        "pipeline_envelope_verify": q_pipeline_envelope_verify,
        "q1_pricing": q_q1_pricing,
        "multi_join": q_multi_join,
        "filter_gate": q_filter_gate,
        "suffix_filter": q_suffix_filter,
        "json_extract": q_json_extract,
        "anti_join": q_anti_join,
        "theta_suffix_join": q_theta_suffix_join,
        "window_topk": q_window_topk,
        "name_split": q_name_split,
        "dedup_exact": q_dedup_exact,
        "fingerprint_verify": q_fingerprint_verify,
        "token_stats": q_token_stats,
        "lang_id": q_lang_id,
        "quality_score": q_quality_score,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_verify": q_minhash_verify,
        "near_dedup_minhash_verify": q_near_dedup_minhash_verify,
        "incremental_dedup_verify": q_incremental_dedup_verify,
        "simhash_verify": q_simhash_verify,
        "cosine_pairs_exact": q_cosine_pairs_exact,
        "srp_pairs_verify": q_srp_pairs_verify,
        "rrf_fusion": q_rrf_fusion,
        "mmr_select": q_mmr_select,
        "ann_ivf_exhaustive": q_ann_ivf_exhaustive,
        "vocab_topk": q_vocab_topk,
        "stem_vocab": q_stem_vocab,
        "good_turing": q_good_turing,
        "isotonic_fit": q_isotonic_fit,
        "kaplan_meier": q_kaplan_meier,
        "holt_forecast": q_holt_forecast,
        "changepoint_split": q_changepoint_split,
        "runs_test": q_runs_test,
        "hodges_lehmann": q_hodges_lehmann,
        "heaps_fit": q_heaps_fit,
        "theil_decomp": q_theil_decomp,
        "kneser_ney": q_kneser_ney,
        "gopher_rules": q_gopher_rules,
        "ams_f2": q_ams_f2,
        "bootstrap_stats": q_bootstrap_stats,
        "ransac_lines": q_ransac_lines,
        "vocab_growth": q_vocab_growth,
        "prefix_join": q_prefix_join,
        "tfidf_topk": q_tfidf_topk,
        "length_quantiles": q_length_quantiles,
        "hash_split": q_hash_split,
        "stratified_sample": q_stratified_sample,
        "repetition_stats": q_repetition_stats,
        "curation_filter": q_curation_filter,
        "pii_counts": q_pii_counts,
        "prefix_remap": q_prefix_remap,
        "lv1_remap": q_lv1_remap,
        "callback_fanout": q_callback_fanout,
        "targets_complete": q_targets_complete,
        "files_probe": q_files_probe,
        "multi_render_verify": q_multi_render_verify,
        "extract_text_probe": q_extract_text_probe,
        "kring_verify": q_kring_verify,
        "semi_join": q_semi_join,
        "argmin": q_argmin,
        "all_targets": q_all_targets,
        "timestamp_parse": q_timestamp_parse,
        "map_lookup": q_map_lookup,
        "url_tail": q_url_tail,
        "word_tokens": q_word_tokens,
        "jaccard_pairs": q_jaccard_pairs,
        "near_dedup_exact": q_near_dedup_exact,
        "extract_text_verify": q_extract_text_verify,
        "session_stats": q_session_stats,
        "url_dedup": q_url_dedup,
        "asof_join": q_asof_join,
        "domain_cap": q_domain_cap,
        "interval_join": q_interval_join,
        "hll_registers": q_hll_registers,
        "zorder_key": q_zorder_key,
        "profile_table": q_profile_table,
        "tile_smooth": q_tile_smooth,
        "text_normalize": q_text_normalize,
        "scan_legs": q_scan_legs,
        "embed_centroids": q_embed_centroids,
        "tile_hll_density": q_tile_hll_density,
        "kmeans_verify": q_kmeans_verify,
        "stay_points": q_stay_points,
        "shingle_cosine": q_shingle_cosine,
        "rollup_stats": q_rollup_stats,
        "resample_track": q_resample_track,
        "sliding_windows": q_sliding_windows,
        "quality_percentile": q_quality_percentile,
        "rolling_window": q_rolling_window,
        "full_outer": q_full_outer,
        "mad_outliers": q_mad_outliers,
        "funnel_steps": q_funnel_steps,
        "event_transitions": q_event_transitions,
        "assortativity": q_assortativity,
        "k_hop": q_k_hop,
        "snap_to_path": q_snap_to_path,
        "od_matrix": q_od_matrix,
        "ripley_k": q_ripley_k,
        "session_rules": q_session_rules,
        "overlay_alloc": q_overlay_alloc,
        "cube_stats": q_cube_stats,
        "idw_surface": q_idw_surface,
        "co_visitation": q_co_visitation,
        "dbscan": q_dbscan,
        "kdist": q_kdist,
        "co_movement": q_co_movement,
        "winsorized_mean": q_winsorized_mean,
        "type_entropy": q_type_entropy,
        "cusum": q_cusum,
        "theil_sen": q_theil_sen,
        "ols_slope": q_ols_slope,
        "mann_whitney": q_mann_whitney,
        "chi_square": q_chi_square,
        "mutual_info": q_mutual_info,
        "ab_test": q_ab_test,
        "time_to_convert": q_time_to_convert,
        "anova_f": q_anova,
        "gini": q_gini,
        "decay_score": q_decay_score,
        "skyline": q_skyline,
        "psi_drift": q_psi_drift,
        "forecast_backtest": q_forecast_backtest,
        "trigram_paths": q_trigram_paths,
        "fano_burstiness": q_fano_burstiness,
        "benford_audit": q_benford_audit,
        "haar_energy": q_haar_energy,
        "join_profile": q_join_profile,
        "referential_audit": q_referential_audit,
        "rfm_scores": q_rfm_scores,
        "lorenz_points": q_lorenz_points,
        "embed_drift": q_embed_drift,
        "cohort_retention": q_cohort_retention,
        "event_study": q_event_study,
        "acf": q_acf,
        "interval_union": q_interval_union,
        "streaks": q_streaks,
        "scd2_intervals": q_scd2_intervals,
        "kendall": q_kendall,
        "spearman": q_spearman,
        "ks_test": q_ks_test,
        "pivot_counts": q_pivot_counts,
        "unpivot": q_unpivot,
        "track_crossings": q_track_crossings,
        "local_moran": q_local_moran,
        "move_rose": q_move_rose,
        "rdp_simplify": q_rdp_simplify,
        "turn_stats": q_turn_stats,
        "gravity_residuals": q_gravity_residuals,
        "convoy_pairs": q_convoy_pairs,
        "edge_churn": q_edge_churn,
        "hotspot_persist": q_hotspot_persist,
        "zonal_majority": q_zonal_majority,
        "snapshot_diff": q_snapshot_diff,
        "lm_quality": q_lm_quality,
        "mutual_knn": q_mutual_knn,
        "source_divergence": q_source_divergence,
        "principal_axis": q_principal_axis,
        "exact_substr": q_exact_substr,
        "contact_crossings": q_contact_crossings,
        "twap": q_twap,
        "user_mad": q_user_mad,
        "emd_drift": q_emd_drift,
        "locf_resample": q_locf_resample,
        "sax_words": q_sax_words,
        "attribution": q_attribution,
        "haar2d": q_haar2d,
        "knox_test": q_knox_test,
        "bpe_encode": q_bpe_encode,
        "line_density": q_line_density,
        "ccf_lags": q_ccf_lags,
        "getis_ord": q_getis_ord,
        "langid_confusion": q_langid_confusion,
        "cohens_kappa": q_cohens_kappa,
        "one_rule": q_one_rule,
        "radius_gyration": q_radius_gyration,
        "mobility_entropy": q_mobility_entropy,
        "hill_tail": q_hill_tail,
        "transition_entropy": q_transition_entropy,
        "winnow_fingerprints": q_winnow_fingerprints,
        "winnow_pairs": q_winnow_pairs,
        "rabin_chunks": q_rabin_chunks,
        "rabin_dedup": q_rabin_dedup,
        "pii_redact": q_pii_redact,
        "semdedup": q_semdedup,
        "hits": q_hits,
        "naive_bayes": q_naive_bayes,
        "mann_kendall": q_mann_kendall,
        "random_walks": q_random_walks,
        "rake_keywords": q_rake_keywords,
        "slope_aspect": q_slope_aspect,
        "hausdorff_pairs": q_hausdorff_pairs,
        "d8_flow": q_d8_flow,
        "watershed": q_watershed,
        "blocklist_hits": q_blocklist_hits,
        "dsir_select": q_dsir_select,
        "viewshed": q_viewshed,
        "ripley_per_user": q_ripley_per_user,
        "tile_blobs": q_tile_blobs,
        "semivariogram": q_semivariogram,
        "morph_close": q_morph_close,
        "erosion_depth": q_erosion_depth,
        "raster_rle": q_raster_rle,
        "voronoi_alloc": q_voronoi_alloc,
        "outlinks": q_outlinks,
        "anchor_text": q_anchor_text,
        "redirect_resolve": q_redirect_resolve,
        "host_graph": q_host_graph,
        "adamic_adar": q_adamic_adar,
        "z_range_plan": q_z_range_plan,
        "window_ranks": q_window_ranks,
        "textrank": q_textrank,
        "robots_filter": q_robots_filter,
        "tile_median": q_tile_median,
        "cost_distance": q_cost_distance,
        "ppr_seeds": q_ppr_seeds,
        "greedy_cover": q_greedy_cover,
        "emerging_hotspots": q_emerging_hotspots,
        "kcenter_coreset": q_kcenter_coreset,
        "lsh_eval": q_lsh_eval,
        "containment_pairs": q_containment_pairs,
        "isochrone_bands": q_isochrone_bands,
        "doc_novelty": q_doc_novelty,
        "graph_profile": q_graph_profile,
        "dup_cluster_sizes": q_dup_cluster_sizes,
        "wavefront_profile": q_wavefront_profile,
        "curation_yield": q_curation_yield,
        "c4_filters": q_c4_filters,
        "boilerplate_lines": q_boilerplate_lines,
        "readability": q_readability,
        "encoding_scan": q_encoding_scan,
        "kmv_distinct": q_kmv_distinct,
        "knn_classify": q_knn_classify,
        "ktruss": q_ktruss,
        "crawl_schedule": q_crawl_schedule,
        "ccnet_buckets": q_ccnet_buckets,
        "dtw_pairs": q_dtw_pairs,
        "frechet_pairs": q_frechet_pairs,
        "lcss_pairs": q_lcss_pairs,
        "swalign_pairs": q_swalign_pairs,
        "viterbi_match": q_viterbi_match,
        "track_diameter": q_track_diameter,
        "join_counts": q_join_counts,
        "marching_squares": q_marching_squares,
        "geary_c": q_geary_c,
        "grid_upsample": q_grid_upsample,
        "jenks_breaks": q_jenks_breaks,
        "shapley_attribution": q_shapley_attribution,
        "polyline_encode": q_polyline_encode,
        "bowtie_classes": q_bowtie_classes,
        "simrank": q_simrank,
        "anf_registers": q_anf_registers,
        "line_raster": q_line_raster,
        "wl_colors": q_wl_colors,
        "zipf_fit": q_zipf_fit,
        "sprt_test": q_sprt_test,
        "quadkey_encode": q_quadkey_encode,
        "ingest_gate": q_ingest_gate,
        "allen_census": q_allen_census,
        "ridge_fit": q_ridge_fit,
        "perceptron_fit": q_perceptron_fit,
        "huffman_cost": q_huffman_cost,
        "luhn_validate": q_luhn_validate,
        "harmonic_centrality": q_harmonic_centrality,
        "calibration_bins": q_calibration_bins,
        "ntt_autocorr": q_ntt_autocorr,
        "cramer_von_mises": q_cramer_von_mises,
        "matrix_profile": q_matrix_profile,
        "salt_plan": q_salt_plan,
        "burst_detect": q_burst_detect,
        "critical_path": q_critical_path,
        "adler32": q_adler32,
        "zonemap_audit": q_zonemap_audit,
        "attack_robustness": q_attack_robustness,
        "friedman_test": q_friedman_test,
        "temporal_reach": q_temporal_reach,
        "cidr_match": q_cidr_match,
        "lttb_downsample": q_lttb_downsample,
        "h_index": q_h_index,
        "qq_points": q_qq_points,
        "max_window": q_max_window,
        "roc_auc": q_roc_auc,
        "entropy_bound": q_entropy_bound,
        "text_tiling": q_text_tiling,
        "triad_census": q_triad_census,
        "pr_curve": q_pr_curve,
        "perm_test": q_perm_test,
        "wilcoxon_signed": q_wilcoxon_signed,
        "bh_fdr": q_bh_fdr,
        "brown_forsythe": q_brown_forsythe,
        "capture_recapture": q_capture_recapture,
        "cochran_q": q_cochran_q,
        "mcnemar": q_mcnemar,
        "kruskal_wallis": q_kruskal_wallis,
        "durbin_watson": q_durbin_watson,
        "aho_scan": q_aho_scan,
        "spatial_keyword": q_spatial_keyword,
        "stress_centrality": q_stress_centrality,
        "boruvka_emst": q_boruvka_emst,
        "toponym_resolve": q_toponym_resolve,
        "seasonal_decompose": q_seasonal_decompose,
        "suffix_lrs": q_suffix_lrs,
        "vw_simplify": q_vw_simplify,
        "interval_schedule": q_interval_schedule,
        "cochran_armitage": q_cochran_armitage,
        "gale_shapley": q_gale_shapley,
        "string_period": q_string_period,
        "bwt_runs": q_bwt_runs,
        "seasonal_mk": q_seasonal_mk,
        "knapsack_pack": q_knapsack_pack,
        "radiation_model": q_radiation_model,
        "privacy_audit": q_privacy_audit,
        "basket_lift": q_basket_lift,
        "debruijn_euler": q_debruijn_euler,
        "hash_ring": q_hash_ring,
        "sd_ellipse": q_sd_ellipse,
        "hhi_concentration": q_hhi_concentration,
        "type_tile_affinity": q_type_tile_affinity,
        "edr_pairs": q_edr_pairs,
        "dyad_census": q_dyad_census,
        "kdtree_split": q_kdtree_split,
        "interval_depth": q_interval_depth,
        "max_drawdown": q_max_drawdown,
        "hist_equalize": q_hist_equalize,
        "quantile_map": q_quantile_map,
        "greedy_coloring": q_greedy_coloring,
        "jonckheere": q_jonckheere,
        "min_circle": q_min_circle,
        "page_trend": q_page_trend,
        "mood_median": q_mood_median,
        "ansari_bradley": q_ansari_bradley,
        "schnabel": q_schnabel,
        # -- tier 3: rows-only twins (final 7 positions) --------------------
        "pipeline_datapoints": q_pipeline_datapoints,
        "dedup_fingerprint": q_dedup_fingerprint,
        "minhash_pairs": q_minhash_pairs,
        "near_dedup_survivors": q_near_dedup_survivors,
        "simhash": q_simhash,
        "embed_near_pairs": q_embed_near_pairs,
        "multi_render": q_multi_render,
    }
    for _n in _COALESCED_FINAL:
        out[_n] = _wrap_coalesced(_n, out[_n])
    return out


def q_assortativity(spark, sf_dir):
    """Degree assortativity moments of the directed event link graph:
    for every edge (u, v), pair (outdeg(u), indeg(v)) and reduce to the
    exact int64 Pearson moments (m, sx, sy, sxy, sxx, syy) — the
    assortativity coefficient r is a consumer-side ratio (the kendall
    rule). Plan: two degree aggregates broadcast back onto the edge scan
    (host-level graphs; at page scale the joins shuffle on src/dst — the
    same keys the edge table is partitioned by, so no extra Exchange),
    then ONE order-free integer aggregate. Completes the link-graph
    suite (pagerank/triangles) with the mixing statistic: do hubs link
    to hubs? FULL oracle."""
    from extractors_metadata_spark.operators.linkgraph import event_link_graph

    edges, _nodes = event_link_graph(_t(spark, sf_dir, "events"))
    outd = edges.groupBy("src").agg(F.count(F.lit(1)).alias("dx"))
    ind = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("dy"))
    j = edges.join(F.broadcast(outd), "src").join(F.broadcast(ind), "dst")
    return j.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )


def q_k_core(spark, sf_dir):
    """k-core of the skewed (Zipf in-degree) deterministic link graph
    (operators/linkgraph.k_core over zipf_link_graph): bounded
    simultaneous peeling, 8 rounds at k=7 — this graph converges at
    depth 6 (measured), so the bounded result IS the true 7-core here.
    FULL oracle: the peel rounds are unrolled as generated CTE stages
    (the Hilbert/pagerank/kmeans iteration rule), each stage's surviving
    edge set MATERIALIZED because degree + join reference it twice."""
    from extractors_metadata_spark.operators.linkgraph import (
        k_core,
        zipf_link_graph,
    )

    return k_core(zipf_link_graph(_t(spark, sf_dir, "events")), k=7, rounds=8)


def q_k_hop(spark, sf_dir):
    """Bounded BFS (operators/linkgraph.k_hop): minimum-hop distance
    from seed node 0 over the undirected zipf link graph, 4 rounds of
    DELTA frontier expansion (settled nodes never re-join). FULL oracle:
    rounds unrolled as generated CTE stages with EXCEPT as the
    anti-join twin."""
    from extractors_metadata_spark.operators.linkgraph import (
        k_hop,
        zipf_link_graph,
    )

    edges = zipf_link_graph(_t(spark, sf_dir, "events"))
    seeds = spark.range(1).select(F.col("id").alias("node"))
    return k_hop(edges, seeds, hops=4)


def q_shortest_paths(spark, sf_dir):
    """Bounded weighted SSSP (operators/linkgraph.shortest_paths): exact
    minimum path weight from seed node 0 over the zipf link graph with
    deterministic integer weights w = 1 + (src + 3*dst) % 7, 6 rounds of
    DELTA Bellman-Ford (only last round's improved nodes relax — equals
    full Bellman-Ford at every round index, see the operator docstring).
    FULL oracle: the simple full-relaxation recurrence unrolled as
    generated CTE stages (the k_hop/k_core discipline)."""
    from extractors_metadata_spark.operators.linkgraph import (
        shortest_paths,
        zipf_link_graph,
    )

    edges = zipf_link_graph(_t(spark, sf_dir, "events")).withColumn(
        "w", (F.lit(1) + (F.col("src") + 3 * F.col("dst")) % 7).cast("long")
    )
    seeds = spark.range(1).select(F.col("id").alias("node"))
    return shortest_paths(edges, seeds, rounds=6)


def q_label_prop(spark, sf_dir):
    """Synchronous label-propagation communities (operators/linkgraph.
    label_propagation): 4 bounded rounds over the undirected zipf graph,
    every node adopting its neighbors' modal previous-round label with
    the frozen count-desc/min-label tie-break — deterministic,
    cluster-size independent, and exactly replayable (async LPA is
    schedule-dependent and can have no oracle). FULL oracle: rounds
    unrolled as generated CTE stages, row_number argmax."""
    from extractors_metadata_spark.operators.linkgraph import (
        label_propagation,
        zipf_link_graph,
    )

    return label_propagation(
        zipf_link_graph(_t(spark, sf_dir, "events")), rounds=4
    )


def q_rich_club(spark, sf_dir):
    """Rich-club coefficient ingredients (operators/linkgraph.rich_club,
    Colizza 2006): per degree threshold k the exact (n_k, e_k) over the
    zipf link graph — phi(k) = 2e_k/(n_k(n_k-1)) consumer-side; do hubs
    preferentially interlink (link farms / tight cores). Threshold axis
    = a 16-row broadcast literal crossed against the collapsed degree
    and min-endpoint-degree frames (the half-disk idiom). FULL oracle:
    identical joins + threshold counts."""
    from extractors_metadata_spark.operators.linkgraph import (
        rich_club,
        zipf_link_graph,
    )

    return rich_club(zipf_link_graph(_t(spark, sf_dir, "events")))


def q_modularity(spark, sf_dir):
    """Newman modularity of the label_prop partition (operators/
    linkgraph.modularity_score): per community the exact integers
    (n_nodes, deg_sum, e_in, m, q_term = 4m*e_in - deg_sum^2) — Q =
    sum(q_term)/(4m^2) consumer-side, no division engine-side (the
    chi_square rule). Turns the community detector into a measured
    partition (Newman & Girvan 2004). Shuffles linear in edges; int64
    envelope m < 1.5e9 edges. FULL oracle: the label_prop unroll as a
    derived table + identical aggregates."""
    from extractors_metadata_spark.operators.linkgraph import (
        label_propagation,
        modularity_score,
        zipf_link_graph,
    )

    g = zipf_link_graph(_t(spark, sf_dir, "events"))
    return modularity_score(g, label_propagation(g, rounds=4))


def q_clustering_coeff(spark, sf_dir):
    """Global clustering coefficient ingredients: exact triangle count
    (the degree-oriented exactly-once enumeration, reused) + exact wedge
    count sum(deg*(deg-1)/2) — C = 3*n_triangles/n_wedges consumer-side
    (the transitivity summary completing triangles/assortativity). FULL
    oracle."""
    from extractors_metadata_spark.operators.linkgraph import (
        event_link_graph,
        triangle_list,
    )

    edges, _nodes = event_link_graph(_t(spark, sf_dir, "events"))
    tri = triangle_list(edges).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    wedges = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
        .agg(
            F.sum(F.expr("deg * (deg - 1) div 2")).alias("n_wedges")
        )
    )
    return tri.crossJoin(wedges)


def q_triangles(spark, sf_dir):
    """Distinct triangles of the undirected event link graph
    (operators/linkgraph.triangle_list) under degree-ordered orientation —
    each triangle produced EXACTLY once at its lowest-degree apex, hub
    wedge fan-out bounded by higher-degree neighbors (the arboricity
    bound). FULL oracle: identical orientation + wedge-close replay."""
    from extractors_metadata_spark.operators.linkgraph import (
        event_link_graph,
        triangle_list,
    )

    edges, _nodes = event_link_graph(_t(spark, sf_dir, "events"))
    return triangle_list(edges)


def q_overlay_area(spark, sf_dir):
    """Convex polygon overlay (operators/clip.convex_intersection_area):
    per-event axis quad x 3-4-5-rotated offset quad -> intersection vertex
    count + exact fixed-point doubled area. The candidate-vertex
    enumeration (P-in-Q, Q-in-P, edge intersections) replaces iterative
    clipping with a bounded explode — pure codegen, no UDF. FULL oracle:
    the identical enumeration, pseudoangle ring sort and centered shoelace
    replayed in SQL."""
    from extractors_metadata_spark.operators.clip import convex_intersection_area

    lat, lon = _latlon_dbl()
    e = _t(spark, sf_dir, "events").select("event_id", lat, lon)
    cx, cy = F.col("lon"), F.col("lat")
    cx2 = cx + (F.col("event_id") % 5).cast("double") * 0.0003 - 0.0006
    cy2 = cy + (F.col("event_id") % 3).cast("double") * 0.00025 - 0.00025
    pairs = e.select(
        "event_id",
        F.array(cx - _OVL_W1, cx + _OVL_W1, cx + _OVL_W1, cx - _OVL_W1).alias("ax"),
        F.array(cy - _OVL_H1, cy - _OVL_H1, cy + _OVL_H1, cy + _OVL_H1).alias("ay"),
        F.array(*[cx2 + F.lit(o) for o in _OVL_OX]).alias("bx"),
        F.array(*[cy2 + F.lit(o) for o in _OVL_OY]).alias("by"),
    )
    return convex_intersection_area(pairs, ["event_id"])

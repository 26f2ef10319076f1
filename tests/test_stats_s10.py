"""Session-10 statistics additions: hand goldens computed independently
of the implementations (registry queries also carry full DuckDB oracles).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F


def test_cramer_von_mises_hand_case(spark):
    """A = {1,3} clicks, B = {2,4} views for one user: pooled ranks
    A:(1,3) B:(2,4), within-ranks (1,2) each -> devs A:(0,1) B:(1,2);
    U = 2*(0+1) + 2*(1+4) = 12."""
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 7, "click", 1e-6),
        (2, t0, 7, "click", 3e-6),
        (3, t0, 7, "view", 2e-6),
        (4, t0, 7, "view", 4e-6),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    df.createOrReplaceTempView("_cvm_events")

    # drive the same arithmetic as q_cramer_von_mises on the tiny frame
    from pyspark.sql import Window

    e = df.filter(F.col("event_type").isin("click", "view")).select(
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
        (
            F.row_number().over(wp).cast("long")
            - F.row_number().over(ww).cast("long")
        ).alias("d"),
    )
    agg = ranked.groupBy("user_id").agg(
        F.sum("g1").alias("n1"),
        F.sum(1 - F.col("g1")).alias("n2"),
        F.sum(F.when(F.col("g1") == 1, F.col("d") * F.col("d")).otherwise(0)).alias("s1"),
        F.sum(F.when(F.col("g1") == 0, F.col("d") * F.col("d")).otherwise(0)).alias("s2"),
    ).collect()[0]
    u = agg["n1"] * agg["s1"] + agg["n2"] * agg["s2"]
    assert (agg["n1"], agg["n2"], u) == (2, 2, 12)


def test_cramer_von_mises_identical_samples_zero(spark):
    """Interleaved identical-shape samples give the minimal U: devs are
    constant within each sample (A always 'i-th pooled odd slot')."""
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(5):
        rows.append((2 * i + 1, t0, 1, "click", float(2 * i + 1) * 1e-6))
        rows.append((2 * i + 2, t0, 1, "view", float(2 * i + 2) * 1e-6))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    from pyspark.sql import Window

    e = df.select(
        "user_id",
        "event_id",
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("g1"),
        F.bround(F.col("value") * 1000000.0, 0).cast("long").alias("v"),
    )
    wp = Window.partitionBy("user_id").orderBy("v", "g1", "event_id")
    ww = Window.partitionBy("user_id", "g1").orderBy("v", "g1", "event_id")
    d = e.select(
        "g1",
        (
            F.row_number().over(wp).cast("long")
            - F.row_number().over(ww).cast("long")
        ).alias("d"),
    ).collect()
    # clicks at pooled positions 1,3,5,7,9 -> devs 0,1,2,3,4
    # views at 2,4,6,8,10 -> devs 1,2,3,4,5
    devs_click = sorted(r["d"] for r in d if r["g1"] == 1)
    devs_view = sorted(r["d"] for r in d if r["g1"] == 0)
    assert devs_click == [0, 1, 2, 3, 4]
    assert devs_view == [1, 2, 3, 4, 5]


def test_matrix_profile_motif_and_discord(spark):
    """Series with an exact repeated motif and one spike discord: the
    repeated windows find each other at distance 0; the spike window's
    profile is large."""
    from extractors_metadata_spark.operators.matrixprofile import matrix_profile

    # T=20: pattern [1,2,3,4,5,6,7] at t=0 and t=10 (exact repeat),
    # zeros elsewhere except a spike 50 at t=8.
    xs = [0] * 20
    for t, v in enumerate([1, 2, 3, 4, 5, 6, 7]):
        xs[t] = v
        xs[10 + t] = v
    xs[8] = 50
    rows = [("k", b, v) for b, v in enumerate(xs) if v != 0]
    df = spark.createDataFrame(rows, "k string, bin long, n long")
    out = {
        r["wi"]: r
        for r in matrix_profile(
            df, ["k"], m=7, excl=4, bin_lo=0, bin_hi=19
        ).collect()
    }
    assert len(out) == 14  # nw = 20 - 7 + 1
    # motif: window 0 matches window 10 exactly (and vice versa)
    assert (out[0]["mp_dist2"], out[0]["mp_idx"]) == (0, 10)
    assert (out[10]["mp_dist2"], out[10]["mp_idx"]) == (0, 0)
    # the spike at t=8 dominates windows 2..8; window 8 starts at the
    # spike — its nearest admissible neighbor must still pay >= 50^2
    # minus shared mass; it is the discord (max profile value)
    discord = max(out.values(), key=lambda r: r["mp_dist2"])
    assert 2 <= discord["wi"] <= 8


def test_matrix_profile_tie_breaks_smallest_index(spark):
    from extractors_metadata_spark.operators.matrixprofile import matrix_profile

    # all-zero series: every pair distance 0 -> idx = smallest admissible j
    df = spark.createDataFrame([("k", 0, 0)], "k string, bin long, n long")
    out = {
        r["wi"]: r["mp_idx"]
        for r in matrix_profile(
            df, ["k"], m=7, excl=4, bin_lo=0, bin_hi=19
        ).collect()
    }
    assert out[0] == 4     # first admissible j for wi=0
    assert out[13] == 0    # smallest admissible j overall for wi=13
    assert out[5] == 0     # |5-0| >= 4 -> 0 admissible and smallest


def test_salt_plan_ceil_arithmetic(spark):
    # replicate the advisor's exact ceil-div algebra on a hand count
    n, t = 5001, 500
    salt = (n + t - 1) // t          # 11
    max_load = (n + salt - 1) // salt  # ceil(5001/11) = 455
    assert (salt, max_load) == (11, 455)
    assert max_load * salt >= n and max_load <= t


def test_burst_detect_flat_vs_bursty(spark):
    from extractors_metadata_spark.operators.burst import burst_detect

    rows = []
    # flat user: 2 events every day -> never worth paying ln(32) to burst
    for t in range(32):
        rows.append(("flat", t, 2))
    # bursty user: baseline 1, days 10..14 spike to 20
    for t in range(32):
        rows.append(("bursty", t, 20 if 10 <= t <= 14 else 1))
    df = spark.createDataFrame(rows, "k string, t long, n long")
    out = burst_detect(df, ["k"], bin_col="t", n_col="n").collect()
    flat = {r["t"]: r["state"] for r in out if r["k"] == "flat"}
    bursty = {r["t"]: r["state"] for r in out if r["k"] == "bursty"}
    assert all(v == 0 for v in flat.values())
    assert all(bursty[t] == 1 for t in range(10, 15))
    assert all(bursty[t] == 0 for t in list(range(0, 9)) + list(range(16, 32)))


def test_burst_detect_total_cost_is_path_min(spark):
    from extractors_metadata_spark.operators.burst import burst_detect

    df = spark.createDataFrame(
        [("k", t, 3) for t in range(32)], "k string, t long, n long"
    )
    out = burst_detect(df, ["k"], bin_col="t", n_col="n").collect()
    # constant series: state 0 everywhere, and the reported total equals
    # the state-0 path cost 32 * (A0 - 3*B0) computed independently
    import math

    import numpy as np

    lam = 96 / 32.0
    a0 = int(np.rint(lam * 1e9))
    b0 = int(np.rint(math.log(lam) * 1e9))
    want = 32 * (a0 - 3 * b0)
    assert all(r["state"] == 0 for r in out)
    assert out[0]["total_cost_fp"] == want


def test_lttb_spike_always_selected(spark):
    from extractors_metadata_spark.operators.lttb import lttb_select

    # flat series with one huge spike at t=17: LTTB must keep the spike
    rows = [("k", t, 1) for t in range(32)]
    rows[17] = ("k", 17, 1000)
    df = spark.createDataFrame(rows, "k string, t long, n long")
    out = lttb_select(df, ["k"]).collect()
    pts = {r["t"]: r["v"] for r in out}
    assert len(out) == 10
    assert pts.get(17) == 1000
    # endpoints pinned
    ranks = {r["rank"]: r["t"] for r in out}
    assert ranks[0] == 0 and ranks[9] == 31


def test_lttb_flat_series_tie_breaks_smallest_t(spark):
    from extractors_metadata_spark.operators.lttb import lttb_select

    df = spark.createDataFrame(
        [("k", t, 5) for t in range(32)], "k string, t long, n long"
    )
    out = {r["rank"]: r["t"] for r in lttb_select(df, ["k"]).collect()}
    # all scores equal within a bucket -> the smallest t of each bucket
    # buckets over t in [1,30]: bucket b holds t with (t-1)*8 div 30 == b
    first_of_bucket = []
    for b in range(8):
        first_of_bucket.append(min(t for t in range(1, 31) if (t - 1) * 8 // 30 == b))
    assert [out[r] for r in range(1, 9)] == first_of_bucket


def test_h_index_hand_case(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # citations [10, 8, 5, 4, 3] -> h = 4; [0,0] -> h = 0
    rows = [("a", i, c) for i, c in enumerate([10, 8, 5, 4, 3])] + [
        ("b", 1, 0), ("b", 2, 0),
    ]
    df = spark.createDataFrame(rows, "g string, pid long, c long")
    wr = Window.partitionBy("g").orderBy(F.desc("c"), F.asc("pid"))
    out = (
        df.select("g", "c", F.row_number().over(wr).cast("long").alias("rk"))
        .groupBy("g")
        .agg(F.max(F.least(F.col("rk"), F.col("c"))).alias("h"))
        .collect()
    )
    got = {r["g"]: r["h"] for r in out}
    assert got == {"a": 4, "b": 0}


def test_max_window_kadane_identity():
    """The prefix identity equals classic Kadane on random arrays."""
    import numpy as np

    rng = np.random.RandomState(3)
    for _ in range(50):
        x = rng.randint(-5, 6, size=32)
        # classic Kadane (best possibly-empty suffix-anchored window)
        best, cur = -10**9, 0
        for v in x:
            cur = max(v, cur + v)
            best = max(best, cur)
        # prefix identity
        p = np.cumsum(x)
        m = np.minimum(
            0, np.concatenate([[0], np.minimum.accumulate(p)[:-1]])
        )
        assert (p - m).max() == best


def test_roc_auc_perfect_and_random(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # perfectly separated: all pos scores > all neg scores
    rows = [(10, 1), (9, 1), (2, 0), (1, 0)]
    df = spark.createDataFrame(rows, "s_fp long, y long")
    grp = df.groupBy("s_fp").agg(
        F.sum("y").alias("p"), F.sum(1 - F.col("y")).alias("q")
    )
    ws = Window.orderBy("s_fp").rowsBetween(Window.unboundedPreceding, -1)
    cum = grp.withColumn(
        "cq", F.coalesce(F.sum("q").over(ws), F.lit(0))
    )
    r = cum.agg(
        F.sum(F.col("p") * F.col("cq")).alias("u"),
        F.sum(F.col("p") * F.col("q")).alias("t"),
    ).collect()[0]
    assert (r["u"], r["t"]) == (4, 0)  # AUC = 4/4 = 1
    # all same score: u=0, ties = n1*n0 -> AUC = 1/2
    df2 = spark.createDataFrame([(5, 1), (5, 1), (5, 0)], "s_fp long, y long")
    g2 = df2.groupBy("s_fp").agg(
        F.sum("y").alias("p"), F.sum(1 - F.col("y")).alias("q")
    )
    c2 = g2.withColumn("cq", F.coalesce(F.sum("q").over(ws), F.lit(0)))
    r2 = c2.agg(
        F.sum(F.col("p") * F.col("cq")).alias("u"),
        F.sum(F.col("p") * F.col("q")).alias("t"),
    ).collect()[0]
    assert (r2["u"], r2["t"]) == (0, 2)

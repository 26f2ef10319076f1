"""Hand goldens for banded DTW: zero self-distance, the order
sensitivity Hausdorff lacks, the exact 3x3 DP value, and the
length-gap-band exclusion."""

from __future__ import annotations

import datetime as dt



def _pts(spark, rows):
    return spark.createDataFrame(
        [
            (u, e, dt.datetime(2016, 5, 1, 0, 0, e), x, y)
            for (u, e, x, y) in rows
        ],
        "user_id long, event_id long, ts timestamp, qx long, qy long",
    )


def _dtw(spark, rows):
    from extractors_metadata_spark.operators.dtw import dtw_pairs, user_tracks

    return {
        (r["u_a"], r["u_b"]): r["dtw"]
        for r in dtw_pairs(user_tracks(_pts(spark, rows))).collect()
    }


def test_dtw_identical_zero_and_reversal_positive(spark):
    """User 1 = user 0's track; user 2 = the SAME POINT SET reversed.
    DTW(0,1) = 0 but DTW(0,2) = 40 (hand DP: d-matrix [[20,10,0],[10,0,
    10],[0,10,20]] -> corner 40) — the order sensitivity that makes DTW
    Hausdorff's complement."""
    track = [(0, 0), (10, 0), (20, 0)]
    rows = (
        [(0, i, x, y) for i, (x, y) in enumerate(track)]
        + [(1, i, x, y) for i, (x, y) in enumerate(track)]
        + [(2, i, x, y) for i, (x, y) in enumerate(reversed(track))]
    )
    out = _dtw(spark, rows)
    assert out[(0, 1)] == 0
    assert out[(0, 2)] == 40 and out[(1, 2)] == 40


def test_dtw_constant_offset_and_band_exclusion(spark):
    """User 1 rides 1 unit north of user 0 -> diagonal path, cost 3.
    User 3's 12-point track vs the 3-point tracks exceeds the band-6
    length gap -> those pairs are excluded by definition."""
    rows = (
        [(0, i, 10 * i, 0) for i in range(3)]
        + [(1, i, 10 * i, 1) for i in range(3)]
        + [(3, i, 10 * i, 5) for i in range(12)]
    )
    out = _dtw(spark, rows)
    assert out[(0, 1)] == 3
    assert (0, 3) not in out and (1, 3) not in out
    assert set(out) == {(0, 1)}


def test_frechet_bottleneck_vs_dtw_sum(spark):
    """Constant offset 1: DTW sums to 3, Frechet bottlenecks to 1; on
    the reversed track the dog-leash cannot avoid a 20-unit link (hand
    minimax DP: every corner path carries the 20 from a corner cell)."""
    from extractors_metadata_spark.operators.dtw import (
        frechet_pairs,
        user_tracks,
    )

    track = [(0, 0), (10, 0), (20, 0)]
    rows = (
        [(0, i, x, y) for i, (x, y) in enumerate(track)]
        + [(1, i, x, y + 1) for i, (x, y) in enumerate(track)]
        + [(2, i, x, y) for i, (x, y) in enumerate(reversed(track))]
    )
    out = {
        (r["u_a"], r["u_b"]): r["frechet"]
        for r in frechet_pairs(user_tracks(_pts(spark, rows))).collect()
    }
    assert out[(0, 1)] == 1
    assert out[(0, 2)] == 20


def _lcss(spark, rows, eps):
    from extractors_metadata_spark.operators.dtw import (
        lcss_pairs,
        user_tracks,
    )

    return {
        (r["u_a"], r["u_b"]): r["lcss"]
        for r in lcss_pairs(user_tracks(_pts(spark, rows)), eps=eps).collect()
    }


def test_lcss_identical_full_and_outlier_robust(spark):
    """User 1 = user 0 -> LCSS = track length. User 2 = user 0 with ONE
    glitched middle point -> LCSS drops by exactly 1 (the robustness DTW
    lacks: the same glitch adds its full Manhattan cost to DTW)."""
    track = [(0, 0), (10, 0), (20, 0), (30, 0)]
    glitched = [(0, 0), (10, 0), (20, 500), (30, 0)]
    rows = (
        [(0, i, x, y) for i, (x, y) in enumerate(track)]
        + [(1, i, x, y) for i, (x, y) in enumerate(track)]
        + [(2, i, x, y) for i, (x, y) in enumerate(glitched)]
    )
    out = _lcss(spark, rows, eps=2)
    assert out[(0, 1)] == 4
    assert out[(0, 2)] == 3


def test_lcss_order_sensitivity_and_eps_gate(spark):
    """Reversal keeps only the in-band order-preserving matches (hand
    DP on the 4-point line reversed: lcss = 1 — only one aligned pair
    can match); eps below the offset yields 0 matches."""
    track = [(0, 0), (10, 0), (20, 0), (30, 0)]
    rows = (
        [(0, i, x, y) for i, (x, y) in enumerate(track)]
        + [(2, i, x, y) for i, (x, y) in enumerate(reversed(track))]
        + [(3, i, x, y + 9) for i, (x, y) in enumerate(track)]
    )
    out = _lcss(spark, rows, eps=2)
    assert out[(0, 2)] == 1
    assert out[(0, 3)] == 0
    assert _lcss(spark, rows, eps=9)[(0, 3)] == 4


def test_user_tracks_orders_and_caps(spark):
    from extractors_metadata_spark.operators.dtw import user_tracks

    # shuffled insertion order; 30 points cap to 24
    rows = [(0, e, 7 * e, e) for e in reversed(range(30))]
    t = user_tracks(_pts(spark, rows)).collect()[0]
    assert t["n"] == 24
    assert t["xs"] == [7 * e for e in range(24)]


def test_swalign_shared_segment_scores_local(spark):
    """Two tracks that share a 4-point segment in the middle but differ
    everywhere else: SW finds the segment (score 8 = 4 matches * 2)
    while their global LCSS also counts it but SW ignores the mismatched
    flanks entirely; a fully-disjoint pair scores 0."""
    from extractors_metadata_spark.operators.dtw import swalign_pairs

    shared = [(100 + i, 200 + i) for i in range(4)]
    a = [(0, 0), (10, 10)] + shared + [(500, 500)]
    b = [(900, 900), (910, 800)] + shared + [(999, 999)]
    c = [(5000 + i, 6000 + i) for i in range(7)]

    def track(u, pts_):
        return (u, len(pts_), [p[0] for p in pts_], [p[1] for p in pts_])

    df = spark.createDataFrame(
        [track(1, a), track(2, b), track(3, c)],
        "u long, n long, xs array<long>, ys array<long>",
    )
    out = {(r["u_a"], r["u_b"]): r["sw"] for r in swalign_pairs(df, eps=0).collect()}
    assert out[(1, 2)] == 8
    assert out[(1, 3)] == 0
    assert out[(2, 3)] == 0


def test_swalign_gap_bridging(spark):
    """Match, one-point gap, two matches: 2 - 1 - 1 + 4 = 4 beats
    restarting (2x2=4 tie? no: diag path = 2 (m) -1 (gap in a) + 2 + 2 = 5)."""
    from extractors_metadata_spark.operators.dtw import swalign_pairs

    a = [(0, 0), (7777, 0), (10, 10), (20, 20)]
    b = [(0, 0), (10, 10), (20, 20)]
    df = spark.createDataFrame(
        [(1, 4, [p[0] for p in a], [p[1] for p in a]),
         (2, 3, [p[0] for p in b], [p[1] for p in b])],
        "u long, n long, xs array<long>, ys array<long>",
    )
    out = swalign_pairs(df, eps=0).collect()[0]
    assert out["sw"] == 5


def _edr(spark, rows, eps=80):
    from extractors_metadata_spark.operators.dtw import edr_pairs, user_tracks

    return {
        (r["u_a"], r["u_b"]): r["edr"]
        for r in edr_pairs(user_tracks(_pts(spark, rows)), eps=eps).collect()
    }


def test_edr_identical_zero_sub_and_edit_counts(spark):
    # identical tracks: every diagonal is an eps-match -> 0 edits
    rows = [(1, i, 100 * i, 0) for i in range(5)] + [
        (2, i, 100 * i, 0) for i in range(5)
    ]
    assert _edr(spark, rows)[(1, 2)] == 0
    # one outlier point: EDR charges exactly ONE substitution where
    # DTW's sum would absorb the full excursion magnitude
    rows2 = [(1, i, 100 * i, 0) for i in range(5)] + [
        (2, i, 100 * i, 0 if i != 2 else 50000) for i in range(5)
    ]
    assert _edr(spark, rows2)[(1, 2)] == 1


def test_edr_length_gap_costs_inserts(spark):
    # track 2 = track 1 plus 2 trailing points -> 2 insertions
    rows = [(1, i, 100 * i, 0) for i in range(4)] + [
        (2, i, 100 * i, 0) for i in range(6)
    ]
    assert _edr(spark, rows)[(1, 2)] == 2

"""Sketch operators (HLL / count-min / bloom) and integer PageRank.

Accuracy properties, the no-false-negative / no-underestimate guarantees
the sketches are defined by, and the shuffle-order-independence that makes
integer PageRank exactly reproducible across cluster sizes.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from extractors_metadata_spark.operators.linkgraph import (
    PR_MASS,
    event_link_graph,
    pagerank,
)
from extractors_metadata_spark.operators.sketches import (
    bloom_build,
    bloom_prune,
    cms_lookup,
    cms_sketch,
    hll_estimate,
    hll_sketch,
)

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet").cache()


def _key():
    return F.concat_ws(":", F.col("user_id"), F.col("event_type"))


def test_hll_registers_complete_and_estimate_close(spark, events):
    regs = hll_sketch(events, _key(), p=8)
    rows = regs.collect()
    assert len(rows) == 256 and sorted(r["bucket"] for r in rows) == list(range(256))
    est = hll_estimate(regs, p=8).first()
    exact = events.select(_key().alias("k")).distinct().count()
    # m=256 -> typical rel. error 1.04/sqrt(m) ~ 6.5%; deterministic input
    assert abs(est["estimate"] - exact) / exact < 0.15
    assert est["m"] == 256 and est["n_zero"] >= 0


def test_hll_linear_counting_small_range(spark):
    # 30 distinct keys vs m=256 registers -> raw <= 2.5m with zero registers
    # -> the linear-counting branch must fire and stay accurate
    df = spark.range(30).select(F.concat(F.lit("k"), F.col("id")).alias("k"))
    est = hll_estimate(hll_sketch(df, F.col("k"), p=8), p=8).first()
    assert est["n_zero"] > 0
    assert abs(est["estimate"] - 30) / 30 < 0.15


def test_hll_insensitive_to_duplication_and_partitioning(spark):
    # HLL counts DISTINCT: replicating rows 5x and shuffling partitioning
    # must give bit-identical registers (max is idempotent + commutative)
    df = spark.range(200).select(F.concat(F.lit("u"), F.col("id")).alias("k"))
    base = hll_sketch(df, F.col("k"), p=6).collect()
    dup = df.unionByName(df).unionByName(df).repartition(13)
    again = hll_sketch(dup, F.col("k"), p=6).collect()
    assert sorted(map(tuple, base)) == sorted(map(tuple, again))


def test_cms_never_underestimates(spark, events):
    cnts = cms_sketch(events, _key(), d=4, w=1024)
    keys = events.select(_key().alias("k")).distinct()
    est = cms_lookup(cnts, keys, F.col("k"), d=4, w=1024)
    exact = events.groupBy(_key().alias("k")).count()
    j = est.join(exact, "k")
    assert j.filter(F.col("est") < F.col("count")).count() == 0


def test_cms_heavy_hitters_surface_skew(spark):
    # 1 key with 5000 rows among 100 keys of 10 rows: the heavy hitter's
    # estimate clears any threshold between the two regimes
    skew = spark.range(5000).select(F.lit("hot").alias("k")).unionByName(
        spark.range(1000).select(F.concat(F.lit("c"), F.col("id") % 100).alias("k"))
    )
    cnts = cms_sketch(skew, F.col("k"), d=4, w=256)
    keys = skew.select("k").distinct()
    est = cms_lookup(cnts, keys, F.col("k"), d=4, w=256)
    hh = est.filter(F.col("est") >= 2500).collect()
    assert [r["k"] for r in hh] == ["hot"]
    # grid is bounded by d*w cells no matter the input size
    assert cnts.count() <= 4 * 256


def test_cms_sketch_single_shuffle(spark, events):
    df = cms_sketch(events, _key())
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1


def test_bloom_no_false_negatives_and_prunes(spark, events):
    build = (
        events.filter((F.col("event_type") == "error") & (F.col("user_id") % 3 == 0))
        .select(F.col("user_id").alias("k"))
        .distinct()
    )
    probe = spark.range(300).select(F.col("id").alias("k"))
    pos = bloom_build(build, F.col("k").cast("string"), n_bits=2048, k=5)
    kept = bloom_prune(probe, pos, F.col("k").cast("string"), n_bits=2048, k=5)
    # every true member survives
    assert build.join(kept, "k", "left_anti").count() == 0
    # and the filter actually prunes (true members = 50 of 300 probes)
    n_true, n_kept = build.count(), kept.count()
    assert n_true <= n_kept < 300


def test_bloom_false_positive_rate_grows_when_undersized(spark):
    # 200 keys into 256 bits is far beyond capacity: FPs must appear, but
    # never false negatives — the one-sided error contract
    build = spark.range(200).select(F.concat(F.lit("b"), F.col("id")).alias("k"))
    probe = spark.range(200, 1200).select(F.concat(F.lit("b"), F.col("id")).alias("k"))
    pos = bloom_build(build, F.col("k"), n_bits=256, k=3)
    fp = bloom_prune(probe, pos, F.col("k"), n_bits=256, k=3).count()
    assert fp > 0  # saturated filter passes non-members
    kept_true = bloom_prune(build, pos, F.col("k"), n_bits=256, k=3).count()
    assert kept_true == 200


def test_pagerank_mass_and_determinism_across_parallelism(spark, events):
    edges, nodes = event_link_graph(events)
    pr = pagerank(edges, nodes, iterations=3)
    rows = sorted(map(tuple, pr.collect()))
    total = sum(r for _, r in rows)
    # floor residue only: < 1 micro-unit lost per edge per iteration
    assert PR_MASS * 0.999 < total <= PR_MASS
    # THE point of integer fixed-point: bit-identical under different
    # partitioning AND the non-broadcast (shuffle-join) path — float
    # PageRank cannot promise this across cluster sizes
    pr2 = pagerank(
        edges.repartition(17), nodes.repartition(5), iterations=3,
        broadcast_ranks=False,
    )
    assert sorted(map(tuple, pr2.collect())) == rows


def test_pagerank_ring_is_uniform(spark):
    # a pure cycle is vertex-transitive: every node must get the SAME rank
    n = 10
    ring = spark.range(n).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % n).alias("dst")
    )
    nodes = spark.range(n).select(F.col("id").alias("node"))
    pr = pagerank(ring, nodes, iterations=4)
    assert pr.select("rank").distinct().count() == 1


def test_sketch_merges_equal_whole(spark, events):
    """THE mergeability contract: per-shard sketches rolled up with
    hll_merge/cms_merge are bit-identical to sketching the
    whole input — no approximation is introduced by sharding, which is
    what lets 100 TB of per-partition state reduce without a re-scan."""
    from extractors_metadata_spark.operators.sketches import cms_merge, hll_merge

    a = events.filter(F.col("event_id") % 2 == 0)
    b = events.filter(F.col("event_id") % 2 == 1)

    whole = hll_sketch(events, _key(), p=7).collect()
    merged = hll_merge(hll_sketch(a, _key(), p=7), hll_sketch(b, _key(), p=7))
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole))

    wg = cms_sketch(events, _key(), d=4, w=512).collect()
    mg = cms_merge(cms_sketch(a, _key(), d=4, w=512), cms_sketch(b, _key(), d=4, w=512))
    assert sorted(map(tuple, mg.collect())) == sorted(map(tuple, wg))


def test_hll_set_estimates_accuracy_and_union_exactness(spark, events):
    from extractors_metadata_spark.operators.sketches import (
        hll_merge,
        hll_set_estimates,
    )

    a = events.filter("event_id % 2 = 0")
    b = events.filter("event_id % 3 = 0")
    row = hll_set_estimates(
        hll_sketch(a, _key(), p=8), hll_sketch(b, _key(), p=8), p=8
    ).first()
    ka = {f"{r.user_id}:{r.event_type}" for r in a.collect()}
    kb = {f"{r.user_id}:{r.event_type}" for r in b.collect()}
    for est, true in (
        (row.est_a, len(ka)),
        (row.est_b, len(kb)),
        (row.est_union, len(ka | kb)),
    ):
        assert abs(est - true) / true < 0.15, (est, true)
    # inclusion-exclusion identity holds exactly on the emitted values
    assert row.est_intersection == round(
        row.est_a + row.est_b - row.est_union, 3
    )
    # intersection is genuinely exercised (the populations overlap)
    assert len(ka & kb) > 0
    assert abs(row.est_intersection - len(ka & kb)) / len(ka & kb) < 0.5
    # sketch-space union == sketching the union input, bit-for-bit
    merged = sorted(
        map(tuple, hll_merge(
            hll_sketch(a, _key(), p=8), hll_sketch(b, _key(), p=8)
        ).collect())
    )
    whole = sorted(
        map(tuple, hll_sketch(a.unionByName(b), _key(), p=8).collect())
    )
    assert merged == whole


def test_cms_join_size_overestimates_within_slack(spark, events):
    from extractors_metadata_spark.operators.sketches import (
        cms_join_size,
        cms_sketch,
    )

    a = events.filter("event_id % 2 = 0")
    b = events.filter("event_id % 3 = 0")
    est = cms_join_size(
        cms_sketch(a, _key(), d=4, w=1024), cms_sketch(b, _key(), d=4, w=1024)
    ).first()["join_size_est"]
    ka, kb = {}, {}
    for r in a.collect():
        ka[f"{r.user_id}:{r.event_type}"] = ka.get(f"{r.user_id}:{r.event_type}", 0) + 1
    for r in b.collect():
        kb[f"{r.user_id}:{r.event_type}"] = kb.get(f"{r.user_id}:{r.event_type}", 0) + 1
    true = sum(n * kb[k] for k, n in ka.items() if k in kb)
    assert true > 0
    assert est >= true  # collisions only add — never an underestimate
    # count-min join-size bound: E[row error] = (N_a*N_b - true)/w; the
    # min over d=4 rows should sit well inside 3x that expectation
    n_a, n_b = sum(ka.values()), sum(kb.values())
    assert est <= true + 3 * (n_a * n_b) / 1024, (est, true, n_a, n_b)


def test_adamic_adar_hand_graph(spark):
    """Path a-b-c plus hub h connected to a, c, d: AA(a,c) gets two
    common neighbors (b deg2, h deg3); (a,d)/(c,d) share only h."""
    import math

    import numpy as np

    from extractors_metadata_spark.operators.linkgraph import adamic_adar

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (9, 0), (9, 2), (9, 3)], "src long, dst long"
    )
    got = [
        (r["u"], r["w"], r["cn"], r["aa_fp"])
        for r in adamic_adar(edges, k=10).collect()
    ]
    fp = lambda d: int(np.rint(1e9 / math.log(d)))
    # candidates: (0,2) cn=2 [b=1 deg2, h=9 deg3]; (0,3) cn=1 [9]; (2,3) cn=1;
    # (1,9) cn=2 [0, 2 both deg ... 0 has deg 2 (1,9), 2 has deg 2]; (1,3) none
    exp = sorted(
        [
            (0, 2, 2, fp(2) + fp(3)),
            (1, 9, 2, fp(2) + fp(2)),
            (0, 3, 1, fp(3)),
            (2, 3, 1, fp(3)),
        ],
        key=lambda t: (-t[3], t[0], t[1]),
    )
    assert got == exp


def test_adamic_adar_excludes_existing_edges_and_caps_hubs(spark):
    from extractors_metadata_spark.operators.linkgraph import adamic_adar

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (9, 0), (9, 2), (9, 3)], "src long, dst long"
    )
    pairs = {(r["u"], r["w"]) for r in adamic_adar(edges, k=10).collect()}
    assert (0, 1) not in pairs and (0, 9) not in pairs
    # capping out the deg-3 hub removes its wedges: only b=1 remains a center
    got = {
        (r["u"], r["w"]): r["cn"]
        for r in adamic_adar(edges, k=10, max_degree=2).collect()
    }
    assert got == {(0, 2): 1, (1, 9): 2}


def test_ams_f2_hand_moments(spark):
    """'a b a b' -> bigram tfs {a b: 2, b a: 1}: exact F2 = 5; every
    sketch row's signed sum is +-2 +- 1 so |sum| in {1, 3} and the
    estimate is its square (1 or 9 — straddling 5, the AMS property)."""
    from extractors_metadata_spark.operators.sketches import ams_f2

    df = spark.createDataFrame([(0, "a b a b")], "doc_id long, text string")
    rows = ams_f2(df, rows=16).collect()
    assert len(rows) == 16
    assert all(r["exact_f2"] == 5 for r in rows)
    for r in rows:
        assert abs(r["signed_sum"]) in (1, 3)
        assert r["f2_est"] == r["signed_sum"] ** 2


def test_harmonic_centrality_path_and_isolate(spark):
    from pyspark.sql import functions as F
    from extractors_metadata_spark.operators.linkgraph import harmonic_centrality

    # path 0-1-2-3-4-5 (undirected); seeds 0 (end) and 99 (isolated)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,), (99,)], "node long")
    out = {r["seed"]: r for r in harmonic_centrality(edges, seeds, hops=4).collect()}
    # seed 0 reaches 1..4 at hops 1..4: num = 12+6+4+3 = 25 over den 12
    assert (out[0]["n_reached"], out[0]["harm_num"], out[0]["den"]) == (4, 25, 12)
    assert (out[99]["n_reached"], out[99]["harm_num"]) == (0, 0)


def test_harmonic_centrality_star_center_vs_leaf(spark):
    from extractors_metadata_spark.operators.linkgraph import harmonic_centrality

    # star: center 0, leaves 1..6
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 7)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,), (1,)], "node long")
    out = {r["seed"]: r for r in harmonic_centrality(edges, seeds, hops=4).collect()}
    # center: 6 leaves at hop 1 -> 6*12 = 72
    assert (out[0]["n_reached"], out[0]["harm_num"]) == (6, 72)
    # leaf: center at hop 1 (12) + 5 leaves at hop 2 (5*6=30) = 42
    assert (out[1]["n_reached"], out[1]["harm_num"]) == (6, 42)


def test_longest_paths_chain_and_diamond(spark):
    from extractors_metadata_spark.operators.linkgraph import longest_paths

    # diamond 0->1(w1), 0->2(w5), 1->3(w1), 2->3(w1) + chain 3->4(w2)
    edges = spark.createDataFrame(
        [(0, 1, 1), (0, 2, 5), (1, 3, 1), (2, 3, 1), (3, 4, 2)],
        "src long, dst long, w long",
    )
    out = {r["node"]: r["dist"] for r in longest_paths(edges, rounds=8).collect()}
    assert out == {0: 0, 1: 1, 2: 5, 3: 6, 4: 8}


def test_longest_paths_round_bound_truncates(spark):
    from extractors_metadata_spark.operators.linkgraph import longest_paths

    # chain of 5 unit edges; rounds=2 sees only 2-edge prefix maxima
    edges = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(5)], "src long, dst long, w long"
    )
    out = {r["node"]: r["dist"] for r in longest_paths(edges, rounds=2).collect()}
    assert out[5] == 2 and out[2] == 2 and out[1] == 1


def test_attack_robustness_star_fragmentation(spark):
    from extractors_metadata_spark.operators.linkgraph import attack_robustness

    # star center 0 with 6 leaves + a disjoint triangle 10-11-12
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 7)] + [(10, 11), (11, 12), (12, 10)],
        "src long, dst long",
    )
    out = {
        r["k_removed"]: r for r in attack_robustness(edges, ks=(0, 1), rounds=6).collect()
    }
    # intact: giant = star (7 nodes), 2 components
    assert (out[0]["n_nodes"], out[0]["giant_size"], out[0]["n_components"]) == (10, 7, 2)
    # removing the top hub (center 0, degree 6) shatters the star:
    # leaves vanish with their only edges -> triangle is the giant
    assert (out[1]["n_nodes"], out[1]["giant_size"], out[1]["n_components"]) == (3, 3, 1)


def test_temporal_reach_respects_time_order(spark):
    from extractors_metadata_spark.operators.linkgraph import temporal_reach

    # 1->2 @10; 2->3 @5 (too early - unusable); 2->4 @20 (usable)
    edges = spark.createDataFrame(
        [(1, 2, 10), (2, 3, 5), (2, 4, 20)], "src long, dst long, t long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    out = {
        r["node"]: r["arrive_t"]
        for r in temporal_reach(edges, seeds, rounds=4).collect()
    }
    assert out == {1: 0, 2: 10, 4: 20}  # 3 is NOT temporally reachable


def test_temporal_reach_earliest_arrival_wins(spark):
    from extractors_metadata_spark.operators.linkgraph import temporal_reach

    # two journeys to 3: via 2 arriving @30, direct @50 -> earliest 30;
    # and the early arrival at 2 (@10 vs @40) unlocks the @30 edge
    edges = spark.createDataFrame(
        [(1, 2, 10), (1, 2, 40), (2, 3, 30), (1, 3, 50)],
        "src long, dst long, t long",
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    out = {
        r["node"]: r["arrive_t"]
        for r in temporal_reach(edges, seeds, rounds=4).collect()
    }
    assert out[2] == 10 and out[3] == 30


def test_triad_census_closed_forms_hand_graph():
    # triangle 0-1-2 plus pendant edge 2-3: n=4, m=4, W=5, T=1
    n, m, W, T = 4, 4, 5, 1
    paths = W - 3 * T
    one_edge = m * (n - 2) - 2 * W + 3 * T
    empty = n * (n - 1) // 2 * (n - 2) // 3 + W - T - m * (n - 2)
    # hand enumeration: {012}=tri, {013}=1-edge, {023}&{123}=paths
    assert (T, paths, one_edge, empty) == (1, 2, 1, 0)
    assert T + paths + one_edge + empty == 4  # C(4,3)

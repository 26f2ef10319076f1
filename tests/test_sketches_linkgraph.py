"""Sketch operators (HLL / count-min / bloom / AMS F2).

Accuracy properties, the no-false-negative / no-underestimate guarantees
the sketches are defined by, insensitivity to duplication and
partitioning, and the mergeability of per-shard sketches.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

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

"""Mergeable quantile sketch (operators/quantiles.py).

Contracts: bin bounds always contain the value (relative width <= 2^-k),
and every quantile estimate brackets the true rank statistic.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from extractors_metadata_spark.operators.quantiles import (
    bounds_sql,
    quantile_estimate,
    quantile_estimate_grouped,
    quantile_sketch,
    quantile_sketch_grouped,
)


def _values(spark):
    # mixed regimes: dense small ints (identity bins), mid-range, and
    # > 2^40 outliers (coarse bins); deterministic
    return spark.range(20000).select(
        F.when(F.col("id") < 5000, F.col("id") % 100)
        .when(F.col("id") < 15000, (F.col("id") * 37) % 100000)
        .otherwise(F.lit(1 << 40).cast("long") + F.col("id") * 12345)
        .alias("v")
    )


def test_bounds_contain_value_and_bound_error(spark):
    df = _values(spark)
    from extractors_metadata_spark.operators.quantiles import bin_sql

    lo, hi = bounds_sql(6)
    chk = df.selectExpr("v", f"{bin_sql(6)} AS bin").selectExpr(
        "v", "bin", f"{lo} AS lo", f"{hi} AS hi"
    )
    bad = chk.filter("v < lo OR v > hi").count()
    assert bad == 0
    wide = chk.filter("(hi - lo) > greatest(lo, 1) * 0.015625").count()
    assert wide == 0


def test_grouped_sketch_and_estimate_match_per_group(spark):
    df = _values(spark).withColumn("g", F.pmod(F.col("v"), F.lit(4)).cast("int"))
    gsk = quantile_sketch_grouped(df, ("g",), F.col("v"))
    # each group's slice of the grouped sketch == the ungrouped sketch of
    # that group's rows (the grouped path adds nothing but the key)
    for g in range(4):
        sliced = sorted(
            (r["bin"], r["cnt"])
            for r in gsk.filter(F.col("g") == g).select("bin", "cnt").collect()
        )
        solo = sorted(
            map(
                tuple,
                quantile_sketch(df.filter(F.col("g") == g), F.col("v")).collect(),
            )
        )
        assert sliced == solo
    qs = (0.5, 0.9, 0.99)
    est = {
        (r["g"], r["q"]): r
        for r in quantile_estimate_grouped(gsk, ("g",), qs=qs).collect()
    }
    rows = df.collect()
    for g in range(4):
        vals = sorted(r["v"] for r in rows if r["g"] == g)
        n = len(vals)
        for q in qs:
            exact = vals[max(1, math.ceil(q * n)) - 1]
            r = est[(g, q)]
            assert r["n"] == n
            assert r["lo"] <= exact <= r["hi"], (g, q, exact, r)


def test_estimate_brackets_exact_rank_statistic(spark):
    df = _values(spark)
    qs = (0.25, 0.5, 0.75, 0.9, 0.99)
    est = {
        r["q"]: r
        for r in quantile_estimate(
            quantile_sketch(df, F.col("v")), qs=qs
        ).collect()
    }
    vals = sorted(r["v"] for r in df.collect())
    n = len(vals)
    for q in qs:
        exact = vals[max(1, math.ceil(q * n)) - 1]
        r = est[q]
        assert r["n"] == n
        assert r["lo"] <= exact <= r["hi"], (q, exact, r)

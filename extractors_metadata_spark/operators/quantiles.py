"""Mergeable quantile sketch (HDR-style base-2 log histogram).

The SCALE path for corpus-health quantiles: exact per-group percentiles
at 100 TB mean a full sort (or Spark's percentile buffer) per group — fine
per language, wrong for "the p99 doc length of the whole crawl, updated per
batch".  This sketch
is the mergeable alternative:

- ``quantile_sketch`` buckets each non-negative int64 value into an
  HDR-style bin — values below ``2^(k+1)`` map to THEMSELVES (exact), and
  larger values keep their top ``k+1`` bits: ``bin = (e << k) +
  (v >> (e - k)) - 2^k`` with ``e = bit_length(v) - 1``.  The bin id is
  monotone in ``v``, and every bin's value range has relative width
  ``<= 2^-k`` (k=6 -> 1.6% rank-preserving error).  The sketch is just
  ``groupBy(bin).count()``: a map-side-combining aggregate whose shuffle
  is bounded by the SKETCH size (< 64*2^k bins) per input partition,
  regardless of input rows.
- sketches merge by cell-wise sum (``groupBy(bin).sum(cnt)``):
  associative/commutative, so per-day / per-source sketches roll up
  exactly (sketch(A ∪ B) == merge(sketch(A), sketch(B)) bit-for-bit).
- ``quantile_estimate`` answers any quantile from the tiny sketch: the
  first bin whose cumulative count reaches ``ceil(q*n)`` brackets the
  exact rank statistic in ``[lo, hi]`` (guarantee pinned in pytest).
  The cumulative window and the q-join run on the constant-size sketch,
  never on the data.

Everything is exact int64 arithmetic (bit_length via ``length(bin(v))``,
expression-valued shifts), so DuckDB replays the whole pipeline
bit-identically — both driver queries carry FULL oracles.  The one float
is ``ceil(q * n)`` with q a literal double, written identically in both
engines per the repo's literal-arithmetic rule.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_K = 6


def bin_sql(k: int = DEFAULT_K, v: str = "v") -> str:
    """The bin expression over a BIGINT column named ``v`` — shared
    VERBATIM between Spark SQL and DuckDB (both parse it identically:
    ``bin()`` strips leading zeros in both engines, and the ``<<``/``>>``
    operators accept expression shift amounts in both)."""
    return (
        f"CASE WHEN {v} < {1 << (k + 1)} THEN {v} "
        f"ELSE CAST((length(bin({v})) - 1) << {k} AS BIGINT) "
        f"+ ({v} >> (length(bin({v})) - 1 - {k})) - {1 << k} END"
    )


def bounds_sql(k: int = DEFAULT_K, b: str = "bin") -> tuple[str, str]:
    """(lo, hi) expressions over a bin-id column: the exact value range the
    bin covers.  Identity bins are their own bounds; coarse bins invert the
    top-bits mapping.  Shared VERBATIM between Spark SQL and DuckDB."""
    e = f"CAST(({b} >> {k}) AS INT)"
    lo = (
        f"CASE WHEN {b} < {1 << (k + 1)} THEN {b} "
        f"ELSE CAST({1 << k} + ({b} - (({e}) << {k})) AS BIGINT)"
        f" << (({e}) - {k}) END"
    )
    hi = (
        f"CASE WHEN {b} < {1 << (k + 1)} THEN {b} "
        f"ELSE ({lo}) + (CAST(1 AS BIGINT) << (({e}) - {k})) - 1 END"
    )
    return lo, hi


def quantile_sketch(df: DataFrame, value: Column, k: int = DEFAULT_K) -> DataFrame:
    """Build the (bin, cnt) sketch of a non-negative int64 ``value``
    expression.  Nulls and negatives are dropped (lengths/counts are the
    intended domain).  One narrow projection + one map-side-combining
    groupBy; shuffle <= number-of-bins rows per input partition."""
    v = df.select(value.cast("long").alias("v")).filter(
        F.col("v").isNotNull() & (F.col("v") >= 0)
    )
    return (
        v.selectExpr(f"{bin_sql(k)} AS bin")
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def quantile_sketch_grouped(
    df: DataFrame,
    group_cols: tuple[str, ...],
    value: Column,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Per-GROUP (group..., bin, cnt) sketches — the sketch path for
    per-key percentiles at scale ("p99 doc length per language / per
    source / per day"), where an exact percentile buffer pays
    per-group sort state.  Same contract as the
    global sketch: one narrow projection + one map-side-combining
    groupBy keyed by (group, bin); shuffle <= bins-per-group rows per
    input partition, per-shard sketches merge by the same groupBy-sum
    (associative, bit-exact)."""
    v = df.select(*group_cols, value.cast("long").alias("v")).filter(
        F.col("v").isNotNull() & (F.col("v") >= 0)
    )
    return (
        v.selectExpr(*group_cols, f"{bin_sql(k)} AS bin")
        .groupBy(*group_cols, "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def quantile_estimate_grouped(
    sketch: DataFrame,
    group_cols: tuple[str, ...],
    qs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9),
    k: int = DEFAULT_K,
) -> DataFrame:
    """Per-group quantile brackets off grouped sketches: (group..., q, n,
    bin, lo, hi) — same estimator as ``quantile_estimate`` with the
    cumulative window PARTITIONED by group (state = one group's bins, a
    constant) and the q-join keyed on the group columns, so the plan is
    one sketch-sized shuffle + one broadcast of the literal q values:
    nothing scales with data rows, only with groups x bins."""
    spark = sketch.sparkSession
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = sketch.select(*group_cols, "bin", F.sum("cnt").over(w).alias("cum"))
    total = sketch.groupBy(*group_cols).agg(F.sum("cnt").alias("n"))
    qdf = spark.createDataFrame([(float(q),) for q in qs], "q double")
    tq = total.crossJoin(F.broadcast(qdf)).withColumn(
        "target",
        F.greatest(
            F.lit(1).cast("long"), F.ceil(F.col("q") * F.col("n")).cast("long")
        ),
    )
    cond = F.col("c.cum") >= F.col("t.target")
    for g in group_cols:
        cond = (F.col(f"t.{g}") == F.col(f"c.{g}")) & cond
    hit = (
        tq.alias("t")
        .join(cum.alias("c"), cond)
        .groupBy(*[F.col(f"t.{g}") for g in group_cols], "t.q", "t.n")
        .agg(F.min("c.bin").alias("bin"))
    )
    lo, hi = bounds_sql(k)
    return hit.selectExpr(*group_cols, "q", "n", "bin", f"{lo} AS lo", f"{hi} AS hi")


def quantile_estimate(
    sketch: DataFrame,
    qs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9),
    k: int = DEFAULT_K,
) -> DataFrame:
    """Bracket each quantile q from the sketch: the first bin whose
    cumulative count reaches ``max(1, ceil(q*n))`` contains the exact
    rank-``ceil(q*n)`` order statistic, so that statistic lies in
    ``[lo, hi]`` with relative width <= 2^-k.  Output columns
    (q, n, bin, lo, hi).  Every stage here runs on the constant-size
    sketch: the single-partition cumulative window and the q x bins
    nested-loop join are O(bins), independent of the data the sketch
    summarizes."""
    spark = sketch.sparkSession
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = sketch.select("bin", F.sum("cnt").over(w).alias("cum"))
    total = sketch.agg(F.sum("cnt").alias("n"))
    qdf = spark.createDataFrame([(float(q),) for q in qs], "q double")
    tq = qdf.crossJoin(F.broadcast(total)).withColumn(
        "target",
        F.greatest(
            F.lit(1).cast("long"), F.ceil(F.col("q") * F.col("n")).cast("long")
        ),
    )
    hit = (
        tq.join(cum, cum["cum"] >= tq["target"])
        .groupBy("q", "n")
        .agg(F.min("bin").alias("bin"))
    )
    lo, hi = bounds_sql(k)
    return hit.selectExpr("q", "n", "bin", f"{lo} AS lo", f"{hi} AS hi")

"""Gonzalez k-center greedy coreset over quantized embeddings.

Engine-added LLM-data-pipeline capability: farthest-point (k-center
greedy, Gonzalez 1985) selection is the DIVERSITY coreset — each round
picks the point farthest from every center picked so far, the 2-approx
of the k-center objective and the standard seed for diverse data
selection / kmeans++-style initialization at corpus scale, in embedding
space.

Exactness discipline: embeddings
quantize ONCE to int64 milli-units (q = round_even(v * 1000), exact and
identical in both engines), all distances are exact int64 squared L2
(64-dim bound: diff <= ~1200, term <= 1.5e6, sum <= 1e8 — far inside
int64), and the per-round argmax is the frozen composite tie-break
(mind2 DESC, id ASC).  Bit-identical under any partitioning; the oracle
replays every round as unrolled CTE stages.

Scale shape (10^9 vectors): state is one narrow (id, qv, mind2) frame;
per round ONE codegen projection (least(mind2, d2-to-literal-center) —
the center is a bounded 64-int literal, no join) + ONE map-side-
combining min_by argmax collect (one bounded scalar to the driver);
localCheckpoint per round truncates lineage.  Total work is
k linear passes — the textbook streaming shape for Gonzalez.

Reference analog: none (the reference has no embedding ops); part of the
similarity/curation suite widening.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _d2_to(vec_col: str, center: list[int]):
    """Exact int64 squared L2 distance from ``vec_col`` (array<long>) to
    the literal ``center`` — pure codegen (zip_with + aggregate)."""
    lit = F.array(*[F.lit(int(c)).cast("long") for c in center])
    return F.aggregate(
        F.zip_with(F.col(vec_col), lit, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def kcenter_coreset(
    emb: DataFrame, k: int = 8, id_col: str = "vec_id", vec_col: str = "qv"
) -> DataFrame:
    """(round, vec_id, d2): the Gonzalez pick order. ``emb`` must carry
    pre-quantized int64 vectors in ``vec_col`` (the quantize-once rule —
    callers quantize with round_even(v * 1000)).  Round 1 is the frozen
    arbitrary seed (min id, d2 = 0); round r >= 2 picks argmax of the
    running min squared distance to the center set (tie-break id ASC),
    and d2 is that pick's distance to its nearest center."""
    pts = emb.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("qv")
    ).localCheckpoint()
    first = pts.agg(F.min("vec_id")).first()[0]
    seed_vec = pts.filter(F.col("vec_id") == first).select("qv").first()[0]
    rows: list[tuple[int, int, int]] = [(1, int(first), 0)]
    state = pts.select(
        "vec_id", "qv", _d2_to("qv", list(seed_vec)).alias("mind2")
    ).localCheckpoint()
    for r in range(2, int(k) + 1):
        best = (
            state.agg(
                F.min_by(
                    F.struct(
                        F.col("vec_id").alias("vec_id"),
                        F.col("mind2").alias("mind2"),
                        F.col("qv").alias("qv"),
                    ),
                    F.struct(
                        (-F.col("mind2")).alias("k1"),
                        F.col("vec_id").alias("k2"),
                    ),
                ).alias("b")
            )
            .collect()[0]["b"]
        )
        rows.append((r, int(best["vec_id"]), int(best["mind2"])))
        state = state.select(
            "vec_id",
            "qv",
            F.least(
                F.col("mind2"), _d2_to("qv", list(best["qv"]))
            ).alias("mind2"),
        ).localCheckpoint()
    return emb.sparkSession.createDataFrame(
        rows, "round int, vec_id long, d2 long"
    )

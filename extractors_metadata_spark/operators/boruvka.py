"""Euclidean minimum spanning tree via distributed Boruvka.

Engine-added geospatial capability: the EMST is the classic
clustering/connectivity backbone (single-linkage dendrogram = EMST edge
order, trip networks, skeletonization).  spatial_cluster gives the
radius-threshold components; the EMST is the full hierarchy those
thresholds slice.

Algorithm: Boruvka (1926) — the PARALLEL-NATIVE MST algorithm (Kruskal's
global sort and Prim's single frontier are both inherently sequential):
each round EVERY component picks its minimum outgoing edge under the
globally-consistent total order (w, a, b) (ties impossible to matter:
(a, b) is unique per edge), the union of picks is hooked into a pointer
forest, 2-cycles (mutual picks) resolve to the SMALLER component id as
root, and a FIXED number of pointer jumps (p <- p[p], the
radius_join.cluster_pairs discipline) collapses every tree to its root —
``jumps = ceil(log2(N))`` provably suffices for any chain, and keeping
the count FIXED (not jump-until-converged) is what makes the SQL oracle
an exact stage-by-stage replay.  Components at least halve per round, so
``rounds = ceil(log2(N))`` reaches the full MST; with a consistent edge
order Boruvka's pick-union is acyclic and the MST is UNIQUE under the
(w, a, b) order even with duplicate weights (the synthetic grid has
many), so the result is deterministic bit-for-bit.

Weights: exact int64 SQUARED distance on integer fixed-point coordinates
(round_even(deg * 1e9) — the proven bround == round_even 0-decimal
pairing); squared distance is monotone in distance, so the EMST is
identical and no sqrt ever enters the pipeline.

Scale shape: this module takes a CANDIDATE EDGE frame — the call site
chooses the generation regime.  The oracle-checked query feeds the
definitionally-exhaustive all-pairs frame over a BOUNDED point dim
(exhaustive over a declared bounded side); the
100 TB path plugs the radius_join k-ring candidate generator with
ring-growth fallback (EMST edges are Delaunay edges, which k-ring
capture locally) — the Boruvka rounds themselves are component-keyed
min-aggregates + bounded pointer jumps, all linear shuffles, and are
the same code either way.

Reference analog: none (the reference has no graph stage); widens the
engine the way hull/dbscan/spatial_cluster did.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def all_pairs_sq_edges(points: DataFrame) -> DataFrame:
    """(a, b, w) over a BOUNDED point dim (id, ix, iy): a < b, w = exact
    int64 squared distance.  Declared bounded cartesian — the exhaustive
    complement of the k-ring candidate generator."""
    x = points.select(
        F.col("id").alias("a"),
        F.col("ix").alias("xa"),
        F.col("iy").alias("ya"),
    )
    y = points.select(
        F.col("id").alias("b"),
        F.col("ix").alias("xb"),
        F.col("iy").alias("yb"),
    )
    return (
        x.join(y, F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            (
                (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
                + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb"))
            ).cast("long").alias("w"),
        )
    )


def _resolve_roots_arrow(p: DataFrame) -> DataFrame:
    """Collapse the (c, p) pointer forest to roots in ONE Arrow pass:
    single-group applyInPandas path-compressing union-find.  Semantically
    identical to running the jump loop to convergence (both return the
    unique self-loop of each tree); the LOCAL phase of hybrid CC
    (Stergiou-style two-phase) — correct whenever the component-count
    frame fits one executor, which after the 2-cycle fix is bounded by
    the CURRENT component count, not the input size."""
    import pandas as pd

    def f(pdf: pd.DataFrame) -> pd.DataFrame:
        d = dict(zip(pdf["c"].tolist(), pdf["p"].tolist()))

        def root(c0):
            seen = []
            c = c0
            while d[c] != c:
                seen.append(c)
                c = d[c]
            for s in seen:
                d[s] = c
            return c

        keys = list(d)
        return pd.DataFrame({"c": keys, "p": [root(c) for c in keys]})

    return (
        p.groupBy(F.lit(1).alias("_g"))
        .applyInPandas(f, "c long, p long")
    )


def mst_boruvka(
    nodes: DataFrame,
    edges: DataFrame,
    rounds: int = 8,
    jumps: int = 8,
    local_resolve_max: int = 1_000_000,
) -> DataFrame:
    """Boruvka MST over ``nodes`` (col ``id``) and candidate ``edges``
    (a, b, w; a < b, int64 w).  Returns the chosen edge set (a, b, w) —
    N-1 rows when the candidate graph is connected.

    Every step is deterministic under any partitioning: min edge per
    component by the total order (w, a, b) via one min-struct aggregate;
    2-cycle hooks resolve to least(comp, parent); exactly ``jumps``
    pointer doublings per round (2^jumps must cover N — assert at call
    site); per-round localCheckpoint bounds lineage, so the plan does not
    grow with the round count."""
    comp = nodes.select(
        F.col("id").cast("long").alias("id"),
        F.col("id").cast("long").alias("comp"),
    ).localCheckpoint(eager=True)
    edges = edges.select(
        F.col("a").cast("long"),
        F.col("b").cast("long"),
        F.col("w").cast("long"),
    ).localCheckpoint(eager=True)
    chosen = []
    for _ in range(int(rounds)):
        ec = (
            edges.join(
                comp.select(
                    F.col("id").alias("a"), F.col("comp").alias("ca")
                ),
                "a",
            )
            .join(
                comp.select(
                    F.col("id").alias("b"), F.col("comp").alias("cb")
                ),
                "b",
            )
            .filter(F.col("ca") != F.col("cb"))
        )
        cand = ec.select(
            F.col("ca").alias("c"), F.col("cb").alias("t"), "w", "a", "b"
        ).unionByName(
            ec.select(
                F.col("cb").alias("c"), F.col("ca").alias("t"), "w", "a", "b"
            )
        )
        m = (
            cand.groupBy("c")
            .agg(F.min(F.struct("w", "a", "b", "t")).alias("m"))
            .select(
                "c",
                F.col("m.w").alias("w"),
                F.col("m.a").alias("a"),
                F.col("m.b").alias("b"),
                F.col("m.t").alias("t"),
            )
            .localCheckpoint(eager=True)
        )
        if m.count() == 0:
            break
        chosen.append(m.select("a", "b", "w").distinct())
        h = m.select(F.col("c"), F.col("t").alias("p"))
        hh = h.join(
            h.select(F.col("c").alias("p"), F.col("p").alias("pp")), "p"
        )
        p = hh.select(
            "c",
            F.when(F.col("pp") == F.col("c"), F.least("c", "p"))
            .otherwise(F.col("p"))
            .alias("p"),
        ).localCheckpoint(eager=True)
        if p.count() <= int(local_resolve_max):
            # hybrid local phase: one Arrow union-find pass replaces the
            # jump loop (identical roots — both find each tree's unique
            # self-loop); the jump loop below is the beyond-memory path
            p = _resolve_roots_arrow(p).localCheckpoint(eager=True)
        else:
            for _j in range(int(jumps)):
                p = (
                    p.join(
                        p.select(
                            F.col("c").alias("p"), F.col("p").alias("p2")
                        ),
                        "p",
                    )
                    .select("c", F.col("p2").alias("p"))
                    .localCheckpoint(eager=True)
                )
        comp = (
            comp.join(
                p.select(F.col("c").alias("comp"), "p"), "comp", "left"
            )
            .select(
                "id", F.coalesce("p", "comp").alias("comp")
            )
            .localCheckpoint(eager=True)
        )
    if not chosen:
        return edges.filter(F.lit(False)).select("a", "b", "w")
    out = chosen[0]
    for c in chosen[1:]:
        out = out.unionByName(c)
    return out

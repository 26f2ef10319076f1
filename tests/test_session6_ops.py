"""Session-6 operator pins: min-plus contraction equivalence, personalized
PageRank mass discipline and Gonzalez k-center — hand-computed goldens on
tiny inputs."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_minplus_square_contraction_equals_plain_rounds(spark):
    """Two squarings + r super-rounds must search EXACTLY the paths of
    <= 4r base edges: on a weighted path graph the contracted run equals
    the plain 4r-round run node-for-node."""
    from extractors_metadata_spark.operators.linkgraph import (
        minplus_square,
        shortest_paths,
    )

    n = 14
    edges = spark.createDataFrame(
        [(i, i + 1, 2 * i + 1) for i in range(n - 1)], "src long, dst long, w long"
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    plain = {
        r["node"]: r["dist"]
        for r in shortest_paths(edges, seeds, rounds=12).collect()
    }
    loops = spark.range(n).select(
        F.col("id").alias("src"), F.col("id").alias("dst"),
        F.lit(0).cast("long").alias("w"),
    )
    e4 = minplus_square(minplus_square(edges.unionByName(loops)))
    contracted = {
        r["node"]: r["dist"]
        for r in shortest_paths(e4, seeds, rounds=3).collect()
    }
    assert contracted == plain
    # both equal the closed form dist(k) = sum of (2i+1) = k^2 for the
    # nodes within 12 edges; node 13 needs 13 edges and must be ABSENT
    # from both (the bound is exact, not approximate)
    assert plain == {k: k * k for k in range(13)}


def test_minplus_square_bounded_stencil(spark):
    """On a grid-like chain with self-loops the squared edge set covers
    exactly the <= 2-step pairs (no spurious reachability)."""
    from extractors_metadata_spark.operators.linkgraph import minplus_square

    edges = spark.createDataFrame(
        [(0, 1, 5), (1, 2, 7)], "src long, dst long, w long"
    )
    loops = spark.range(3).select(
        F.col("id").alias("src"), F.col("id").alias("dst"),
        F.lit(0).cast("long").alias("w"),
    )
    e2 = {
        (r["src"], r["dst"]): r["w"]
        for r in minplus_square(edges.unionByName(loops)).collect()
    }
    assert e2[(0, 2)] == 12  # the genuine 2-step path
    assert e2[(0, 1)] == 5 and e2[(1, 2)] == 7  # 1-step kept via loops
    assert (0, 0) in e2 and e2[(0, 0)] == 0
    assert (2, 0) not in e2  # no reverse edges invented


def test_personalized_pagerank_mass_and_seed_base(spark):
    """Teleport mass lands ONLY on seeds; total mass stays <= PR_MASS
    (floor residue only); a node unreachable from the seed set scores 0."""
    from extractors_metadata_spark.operators.linkgraph import (
        PR_MASS,
        personalized_pagerank,
    )

    # 0 -> 1 -> 2 (cycle back 2 -> 0), and isolated-from-seeds node 3 -> 3
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (3, 3)], "src long, dst long"
    )
    nodes = spark.range(4).select(F.col("id").alias("node"))
    seeds = spark.createDataFrame([(0,)], "node long")
    ranks = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(
            edges, nodes, seeds, iterations=4
        ).collect()
    }
    assert ranks[3] == 0  # no teleport, no inflow from the seed component
    assert sum(ranks.values()) <= PR_MASS
    assert ranks[0] > 0 and ranks[1] > 0 and ranks[2] > 0
    # seed 0 carries the full teleport base plus its cycle inflow
    base = (15 * (PR_MASS // 1)) // 100
    assert ranks[0] >= base


def test_kcenter_hand_golden(spark):
    """1-D embeddings at 0, 1, 10: seed = min id (point 0), first pick =
    the farthest point (10), second = the remaining point with d2 to its
    nearest center."""
    from extractors_metadata_spark.operators.kcenter import kcenter_coreset

    emb = spark.createDataFrame(
        [(1, [0]), (2, [1000]), (3, [10000])],
        "vec_id long, qv array<long>",
    )
    out = [
        (r["round"], r["vec_id"], r["d2"])
        for r in kcenter_coreset(emb, k=3).collect()
    ]
    assert out == [
        (1, 1, 0),
        (2, 3, 10000 * 10000),
        (3, 2, 1000 * 1000),
    ]

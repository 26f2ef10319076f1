"""Link-graph analysis: integer fixed-point PageRank.

Engine-added capability (task mandate): link-based quality scoring is a
standard web-corpus curation signal (host- or page-level PageRank feeding
crawl prioritization and training-data quality weights). This module
implements power-iteration PageRank over an edge table.

Why INTEGER fixed-point: float PageRank is aggregation-order dependent —
the per-destination sum of contributions changes in the last ulps with
partitioning, so two runs of the same job on different cluster sizes
produce different bits (and no exact oracle can exist). Here ranks are
int64 micro-units (total mass S = 10^15), per-edge contributions use
integer floor division, and the damping update is
    r'(v) = (15 * (S div N)) div 100  +  (85 * insum(v)) div 100
— every step exact in int64 (85 * S < 2^63), so the result is bit-identical
under ANY shuffle order / partition count, and DuckDB replays the identical
arithmetic as unrolled CTE stages (iterative folds are unrolled per the
repo's DuckDB rule). The floor residue (< 1 micro-unit per edge) leaks a
vanishing fraction of mass per iteration — a deterministic, documented
tradeoff for exactness.

Scale design (100 TB edge lists):
- The per-iteration shape is join(edges, ranks on src) -> groupBy(dst) sum
  — partial-aggregated map-side, one shuffle keyed by dst per iteration.
- ``broadcast_ranks=True`` (default here; right when nodes ~ 10^6 hosts,
  the common web case of HOST-level rank) broadcasts the rank table so the
  edge scan never shuffles; at page-level (10^10 nodes) set it False for a
  partitioned shuffle join and pre-partition edges by src once so every
  iteration reuses the same Exchange.
- Lineage across iterations is truncated with localCheckpoint on the tiny
  JVM-only rank frame (same pattern as radius_join.cluster_pairs).

Reference analog: none — the reference has no cross-dataset graph ops; this
is part of widening its per-message model to corpus curation.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

PR_MASS = 10**15  # total rank mass in micro-units


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    iterations: int = 5,
    damping_pct: int = 85,
    broadcast_ranks: bool = False,
) -> DataFrame:
    """Integer fixed-point PageRank.

    ``edges``: (src, dst) long columns, pre-deduplicated (parallel edges
    count once; dedup upstream if inputs may repeat). ``nodes``: (node)
    long column, every node id (isolated nodes get the base rank). Every
    node referenced as src must have outdeg >= 1 counted from ``edges``.

    Returns (node, rank) with sum(rank) <= PR_MASS (floor residue), exact
    int64, shuffle-order independent.

    r6 plan shape: the fixed-iteration loop has NO convergence probe, so
    the whole recurrence builds as ONE lazy plan and materializes with a
    single in-scope action — per-iteration eager checkpoints/actions were
    pure fixed overhead (measured: 5 iterations 57s -> 10s on a small
    sentence graph in a degraded host window; ~2x in a healthy window). ``broadcast_ranks`` now defaults False: forcing a
    rank-table broadcast per iteration paid a driver build per round;
    the unhinted join lets Catalyst/AQE pick broadcast at runtime from
    REAL sizes (the scale-adaptive choice — guide §3.1). True keeps the
    forced hint for host-level graphs on real clusters.
    """
    from .iterhelp import coalesced_small_shuffles
    from .pip_knn import _cache_scoped

    with coalesced_small_shuffles(edges.sparkSession):
        # edges is consumed once per iteration (and once by the outdeg
        # aggregate): a persist means the one materializing job computes
        # the upstream edge derivation once — INSIDE the scope, so the
        # derivation's own reduce stages coalesce too (measured: the
        # event-graph distinct at caller width was most of the query's
        # tasks, 2709 -> 529).
        edges = _cache_scoped("pagerank_edges", edges)
        n_nodes = nodes.count()  # one scalar action on the tiny node dim
        base = (
            damping_pct_complement(damping_pct) * (PR_MASS // n_nodes)
        ) // 100
        outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
        ranks = nodes.select(
            "node", F.lit(PR_MASS // n_nodes).cast("long").alias("rank")
        )
        for _ in range(iterations):
            r = F.broadcast(ranks) if broadcast_ranks else ranks
            od = F.broadcast(outdeg) if broadcast_ranks else outdeg
            contrib = (
                edges.join(r, edges.src == r.node, "inner")
                .join(od, "src", "inner")
                .select(
                    F.col("dst").alias("node"),
                    F.expr("rank div outdeg").alias("c"),
                )
            )
            insum = contrib.groupBy("node").agg(F.sum("c").alias("insum"))
            ranks = nodes.join(insum, "node", "left").select(
                "node",
                (
                    F.lit(base)
                    + F.expr(f"({damping_pct} * coalesce(insum, 0L)) div 100")
                ).cast("long").alias("rank"),
            )
        # ONE materializing job for all iterations, run coalesced; the
        # persist makes downstream consumers reuse instead of re-running
        # the whole recurrence.
        ranks = _cache_scoped("pagerank_ranks", ranks)
        ranks.count()
    return ranks


def damping_pct_complement(damping_pct: int) -> int:
    return 100 - damping_pct


def personalized_pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    seeds: DataFrame,
    iterations: int = 5,
    damping_pct: int = 85,
    broadcast_ranks: bool = False,
) -> DataFrame:
    """Personalized PageRank: identical integer fixed-point update to
    :func:`pagerank`, but ALL teleport mass returns to the ``seeds`` set
    (node long column, subset of ``nodes``) — the crawl-frontier /
    TrustRank primitive (rank relative to a trusted seed whitelist, or a
    topic-focused crawl's priority score).

    Exactness: rank0(v) = (S div |seeds|) for seeds else 0, and the
    damped update adds the teleport term only on seed rows —
        r'(v) = [v in seeds] * (15 * (S div |seeds|)) div 100
                + (85 * insum(v)) div 100
    — every step int64 floor arithmetic, so bit-identical under any
    partitioning and replayable as unrolled SQL stages (the pagerank
    oracle recipe with a seed-conditional base).

    Scale: the seed membership flag joins once before the loop (broadcast
    left join on the node dim); per-iteration shape is identical to
    pagerank — one dst-keyed partial-agg shuffle, broadcast_ranks toggle
    for the host- vs page-level regimes."""
    from .iterhelp import coalesced_small_shuffles
    from .pip_knn import _cache_scoped

    with coalesced_small_shuffles(edges.sparkSession):  # r6: pagerank rule
        edges = _cache_scoped("ppr_edges", edges)  # reused every iteration
        n_seeds = seeds.count()  # scalar action on the tiny seed dim
        per_seed = PR_MASS // n_seeds
        base_val = (damping_pct_complement(damping_pct) * per_seed) // 100
        nb = _cache_scoped(  # consumed by every iteration
            "ppr_nb",
            nodes.join(
                seeds.select("node", F.lit(1).alias("_s")), "node", "left"
            ).select("node", F.coalesce("_s", F.lit(0)).alias("_s")),
        )
        outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
        ranks = nb.select(
            "node", (F.col("_s") * F.lit(per_seed)).cast("long").alias("rank")
        )
        for _ in range(iterations):
            r = F.broadcast(ranks) if broadcast_ranks else ranks
            od = F.broadcast(outdeg) if broadcast_ranks else outdeg
            contrib = (
                edges.join(r, edges.src == r.node, "inner")
                .join(od, "src", "inner")
                .select(
                    F.col("dst").alias("node"),
                    F.expr("rank div outdeg").alias("c"),
                )
            )
            insum = contrib.groupBy("node").agg(F.sum("c").alias("insum"))
            ranks = nb.join(insum, "node", "left").select(
                "node",
                (
                    F.col("_s") * F.lit(base_val)
                    + F.expr(f"({damping_pct} * coalesce(insum, 0L)) div 100")
                ).cast("long").alias("rank"),
            )
        # one lazy chain, one in-scope materializing job (pagerank r6 rule)
        ranks = _cache_scoped("ppr_ranks", ranks)
        ranks.count()
    return ranks


def event_link_graph(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Deterministic link graph derived from the events table (driver-query
    input; no external data): N = max(user_id) + 1 nodes; one edge per
    event  user_id -> (user_id * 131 + event_id * 7) mod N  (distinct),
    unioned with the ring  v -> (v + 1) mod N  so every node has
    outdeg >= 1. Returns (edges, nodes)."""
    n = events.agg(F.max("user_id")).first()[0] + 1
    ring = events.sparkSession.range(n).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % n).alias("dst")
    )
    ev = events.select(
        F.col("user_id").alias("src"),
        ((F.col("user_id") * 131 + F.col("event_id") * 7) % n).alias("dst"),
    )
    edges = ev.unionByName(ring).distinct()
    nodes = events.sparkSession.range(n).select(F.col("id").alias("node"))
    return edges, nodes


def triangle_list(edges: DataFrame) -> DataFrame:
    """Distinct triangles of the UNDIRECTED graph under degree-ordered
    orientation — the standard distributed triangle algorithm (node-
    iterator++ / degeneracy orientation): orient every undirected edge
    from the (degree, id)-smaller endpoint to the larger, so each wedge is
    enumerated at its lowest-degree apex and every triangle is produced
    EXACTLY once with no post-dedup.  The orientation is the scale story:
    wedge fan-out is sum(outdeg^2) under the orientation, and a hub's
    outdegree is bounded by its number of HIGHER-degree neighbors (~
    O(sqrt(m)) arboricity bound), so the hub that would explode the naive
    wedge join cannot.

    Input (src, dst) directed long pairs; self-loops dropped, direction
    and multiplicity collapsed.  Output (x, y, z) node triples, id-sorted
    x < y < z — exact integers.  Plan: degree aggregate + two broadcast-
    or-shuffle equi-joins (Catalyst picks by size), one final semi-join
    closing the wedge."""
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("degb"))
    ann = und.join(da, "a").join(db, "b")
    fwd = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
    )
    oriented = ann.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("w"),
        F.when(fwd, F.col("dega")).otherwise(F.col("degb")).alias("du"),
        F.when(fwd, F.col("degb")).otherwise(F.col("dega")).alias("dw"),
    )
    o1 = oriented.select(F.col("u"), F.col("w").alias("v"), F.col("dw").alias("dv"))
    o2 = oriented.select(F.col("u"), F.col("w"), F.col("dw"))
    wedge = o1.join(o2, "u").filter(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
    )
    closing = oriented.select(F.col("u").alias("v"), F.col("w"))
    tri = wedge.join(closing, ["v", "w"], "left_semi")
    return tri.select(
        F.least("u", F.least("v", "w")).alias("x"),
        F.expr("u + v + w").cast("long").alias("_s"),
        F.greatest("u", F.greatest("v", "w")).alias("z"),
    ).select(
        "x", (F.col("_s") - F.col("x") - F.col("z")).alias("y"), "z"
    ).select("x", "y", "z")


def zipf_link_graph(events: DataFrame, n_nodes: int = 1000) -> DataFrame:
    """Deterministic SKEWED link graph derived from the events table: one
    edge per event,  src = (event_id * 131 + user_id) mod n_nodes,
    dst = n_nodes div (1 + event_id mod n_nodes)  (distinct).  The
    harmonic dst map gives a Zipf-like in-degree (node n_nodes div j is
    hit by ~the j-th harmonic share), producing the hub-and-tail degree
    structure that ``event_link_graph``'s near-regular graph lacks —
    the shape k-core peeling and degeneracy analyses are about.  All
    arithmetic is nonneg integer mod/div — exact in any engine."""
    return events.select(
        ((F.col("event_id") * 131 + F.col("user_id")) % n_nodes).alias("src"),
        F.expr(f"{int(n_nodes)} div (1 + (event_id % {int(n_nodes)}))").alias("dst"),
    ).distinct()


def k_core(edges: DataFrame, k: int, rounds: int = 8) -> DataFrame:
    """Undirected k-core via bounded SIMULTANEOUS peeling (Matula-Beck
    parallel variant): each round drops every node whose degree in the
    CURRENT surviving graph is < k, all at once.  ``rounds`` bounds the
    unrolled work (the pagerank fixed-iteration rule, which is
    what makes an exact cross-engine oracle possible); peeling is
    monotone, so once stable the remaining rounds are no-ops and the
    bounded result EQUALS the true k-core whenever the peel depth fits
    the bound (the operator early-exits on stability, and the caller can
    read convergence off the returned frame being degree->=k-closed).

    Returns the surviving undirected edge set (a < b, exact ints).

    Scale design: each round is one degree aggregate (map-side combined)
    + two semi-join-shaped equi-joins against the keep set — all keyed
    shuffles linear in surviving edges; rounds localCheckpoint (tiny
    JVM-only iterative frames — the cluster_pairs lineage rule).  At
    web scale the keep set broadcasts while node count stays under the
    broadcast threshold, degrading gracefully to shuffle joins above it.
    """
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    from .iterhelp import coalesced_small_shuffles

    # r6: lazy checkpoints — the per-round count() is the ONE action that
    # materializes the round (the checkpoint still truncates lineage at
    # plan-build time); shuffles coalesce by size while the rounds run
    with coalesced_small_shuffles(edges.sparkSession):
        cur = und.localCheckpoint(eager=False)
        n_prev = cur.count()
        for _ in range(int(rounds)):
            deg = (
                cur.select(F.col("a").alias("v"))
                .unionByName(cur.select(F.col("b").alias("v")))
                .groupBy("v")
                .agg(F.count(F.lit(1)).alias("d"))
            )
            keep = deg.filter(F.col("d") >= k).select("v")
            nxt = (
                cur.join(keep.withColumnRenamed("v", "a"), "a")
                .join(keep.withColumnRenamed("v", "b"), "b")
                .select("a", "b")
            )
            cur = nxt.localCheckpoint(eager=False)
            n_cur = cur.count()
            if n_cur == n_prev or n_cur == 0:
                break
            n_prev = n_cur
    return cur


def k_hop(
    edges: DataFrame,
    seeds: DataFrame,
    hops: int = 4,
    directed: bool = False,
) -> DataFrame:
    """(node, hop): minimum-hop distance from the seed set over the
    UNDIRECTED graph (``directed=True`` follows src->dst arcs only —
    the bowtie_classes reachability mode), bounded to ``hops`` rounds —
    the crawl-frontier / blast-radius primitive.  Delta BFS: each round
    expands only the NEWLY discovered frontier (settled nodes are never
    re-joined, so total join work is sum over rounds of
    frontier-adjacent edges, not rounds x graph); discovery joins are
    node-keyed equi-joins against the (symmetrized) edge table,
    anti-join settles the delta.  Rounds localCheckpoint (tiny JVM-only
    iterative frames) and the loop early-exits when a frontier drains.
    ``seeds``: (node) frame, hop 0.  Exact ints everywhere; the oracle
    unrolls rounds as generated CTE stages (EXCEPT set-difference ==
    the anti-join)."""
    el = edges.filter(F.col("src") != F.col("dst")).select("src", "dst")
    sym = (
        el
        if directed
        else el.unionByName(
            el.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    ).distinct()
    from .iterhelp import coalesced_small_shuffles

    settled = seeds.select(
        F.col("node").cast("long").alias("node"), F.lit(0).alias("hop")
    ).localCheckpoint(eager=False)
    frontier = settled.select("node")
    with coalesced_small_shuffles(edges.sparkSession):  # r6: coalesced rounds
        for i in range(1, int(hops) + 1):
            nbrs = (
                sym.join(frontier.withColumnRenamed("node", "src"), "src")
                .select(F.col("dst").alias("node"))
                .distinct()
            )
            new = (
                nbrs.join(settled.select("node"), "node", "left_anti")
                .select("node", F.lit(i).alias("hop"))
                .localCheckpoint(eager=False)
            )
            if new.count() == 0:  # the one materializing action per round
                break
            settled = settled.unionByName(new).localCheckpoint(eager=False)
            frontier = new.select("node")
        settled.count()  # materialize the final settle in-scope
    return settled


def shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 6,
    weight_col: str = "w",
) -> DataFrame:
    """(node, dist): exact minimum path WEIGHT from the seed set over the
    DIRECTED weighted graph, bounded to paths of <= ``rounds`` edges — the
    weighted widening of ``k_hop`` (routing cost / crawl latency / trust
    propagation, where hop count is the wrong metric).

    Delta Bellman-Ford: each round relaxes only edges out of nodes whose
    distance IMPROVED last round.  This equals full Bellman-Ford at every
    round index (induction: a node whose distance did not improve already
    had all its outgoing relaxations folded into the running min when it
    last improved — the min-merge is monotone), which is what lets the
    oracle replay the SIMPLE full-relaxation recurrence as unrolled CTE
    stages while the engine runs the cheap frontier form.

    Weights must be exact nonneg int64 (the engine's graph discipline:
    float path sums are fold-order dependent, int sums are not).

    Scale design: per round ONE src-keyed equi-join (frontier against the
    edge table — frontier broadcasts while small, the common case after
    the first rounds; edges pre-partitioned by src reuse their Exchange
    across rounds) + node-keyed min aggregates with map-side combine;
    settled work never re-joins; localCheckpoint per round (the
    cluster_pairs lineage rule); early exit on a drained frontier.
    """
    from .iterhelp import coalesced_small_shuffles

    dist = seeds.select(
        F.col("node").cast("long").alias("node"),
        F.lit(0).cast("long").alias("dist"),
    ).localCheckpoint(eager=False)
    frontier = dist
    with coalesced_small_shuffles(edges.sparkSession):  # r6: coalesced rounds
        for _ in range(int(rounds)):
            relax = edges.join(
                frontier.withColumnRenamed("node", "src").withColumnRenamed(
                    "dist", "sdist"
                ),
                "src",
            ).select(
                F.col("dst").alias("node"),
                (F.col("sdist") + F.col(weight_col)).alias("dist"),
            )
            merged = (
                dist.unionByName(
                    relax.groupBy("node").agg(F.min("dist").alias("dist"))
                )
                .groupBy("node")
                .agg(F.min("dist").alias("dist"))
                .localCheckpoint(eager=False)
            )
            improved = (
                merged.join(dist.withColumnRenamed("dist", "old"), "node", "left")
                .filter(F.col("old").isNull() | (F.col("dist") < F.col("old")))
                .select("node", "dist")
                .localCheckpoint(eager=False)
            )
            dist = merged
            # the one materializing action per round (r6): computing
            # `improved` also materializes the checkpointed `merged` it reads
            if improved.count() == 0:
                break
            frontier = improved
    return dist


def minplus_square(edges: DataFrame, weight_col: str = "w") -> DataFrame:
    """Min-plus (tropical) squaring of a weighted edge table:
    e'(u, w) = min over v of e(u, v) + e(v, w).

    The log-step contraction for bounded-round SSSP: if ``edges``
    contains zero-weight SELF-LOOPS, each squared edge covers paths of
    <= 2 base edges, so k squarings turn ``shortest_paths(rounds=r)``
    into the EXACT same searched path set (paths of <= r * 2^k edges)
    with 2^k x fewer Bellman-Ford rounds — trading one mid-keyed
    equi-join + min aggregate per squaring for the per-round driver/
    action overhead that dominates deep iteration. On local-stencil
    graphs (grids) the edge count grows by the stencil area, not the
    node count: 8-neighborhood -> 25 -> 81, bounded by construction.
    Exact int64 sums + min — bit-identical under any partitioning."""
    l = edges.select(
        "src", F.col("dst").alias("mid"), F.col(weight_col).alias("_w1")
    )
    r = edges.select(
        F.col("src").alias("mid"), "dst", F.col(weight_col).alias("_w2")
    )
    return (
        l.join(r, "mid")
        .groupBy("src", "dst")
        .agg(F.min(F.col("_w1") + F.col("_w2")).alias(weight_col))
    )


def label_propagation(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """(node, label): community detection by SYNCHRONOUS label propagation
    (Raghavan et al. 2007) over the undirected graph, bounded to
    ``rounds`` — the cheap community/near-partition signal (host clusters,
    link farms, topic pockets) complementing k_core (density) and
    cluster_pairs (connectivity).

    Deterministic variant: every node starts labeled with its own id; each
    round EVERY node simultaneously adopts the most frequent label among
    its neighbors' previous-round labels, ties to the smallest label (the
    frozen count-desc/min tie-break used engine-wide).  Synchronous + a
    fixed round bound + frozen ties = bit-reproducible on any cluster
    size, and replayable as unrolled CTE stages (asynchronous LPA is
    schedule-dependent and cannot have an exact oracle).

    Scale design: per round ONE src-keyed equi-join (labels against the
    symmetrized edge table) + a (node, label)-keyed count with map-side
    combine (a hub's messages collapse per label before the shuffle) + a
    node-keyed min_by argmax (aggregation, never a window sort);
    localCheckpoint per round (the cluster_pairs lineage rule).
    """
    from .iterhelp import coalesced_small_shuffles
    from .pip_knn import _cache_scoped

    with coalesced_small_shuffles(edges.sparkSession):  # r6: coalesced rounds
        sym = _cache_scoped(
            "lpa_sym",
            edges.filter(F.col("src") != F.col("dst"))
            .select("src", "dst")
            .unionByName(
                edges.filter(F.col("src") != F.col("dst"))
                .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            .distinct(),
        )
        labels = (
            sym.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("label", F.col("node"))
        )
        for _ in range(int(rounds)):
            msgs = sym.join(
                labels.withColumnRenamed("node", "src"), "src"
            ).select(F.col("dst").alias("node"), "label")
            cnt = msgs.groupBy("node", "label").agg(
                F.count(F.lit(1)).alias("cnt")
            )
            labels = cnt.groupBy("node").agg(
                F.min_by(
                    F.col("label"),
                    F.struct((-F.col("cnt")).alias("k1"),
                             F.col("label").alias("k2")),
                ).alias("label")
            )
        # fixed-round recurrence, no convergence probe: ONE lazy plan,
        # one in-scope materializing job (the pagerank r6 rule)
        labels = _cache_scoped("lpa_labels", labels)
        labels.count()
    return labels


HITS_TARGET_BITS = 20  # renormalize max score into [2^19, 2^20)


def hits(
    edges: DataFrame,
    nodes: DataFrame,
    rounds: int = 4,
    broadcast_ranks: bool = True,
) -> DataFrame:
    """(node, hub_fp, auth_fp): Kleinberg's HITS after ``rounds``
    exact-integer mutual-reinforcement iterations — the hub/authority
    complement of pagerank's single-score rank (directories vs content in
    web-corpus curation).

    Why INTEGER + POWER-OF-TWO renormalization: float HITS L2-normalizes
    each half-step, which is shuffle-order dependent in the last ulps and
    unoraclable. Here scores start at 2^19; each half-step is an exact
    int64 sum over in-/out-edges followed by a power-of-two shift chosen
    from the max score's bit length (target band [2^19, 2^20)), so
    renormalization is exact division and every score is bit-identical
    under ANY partitioning. Scores stay NONNEGATIVE
    (sums of nonnegative starts), so the shift needs no sign split.
    Bounds: score < 2^20, per-node in-sum <= max_degree * 2^20 — int64-safe
    to degree ~ 2^43 (any real web graph).

    Scale design mirrors pagerank: per half-round ONE degree-keyed
    map-side-combining sum shuffle; the node-sized score frame joins
    unhinted (Catalyst/AQE picks broadcast at runtime when it fits —
    the pagerank r6 rule; ``broadcast_ranks=True`` forces the hint for
    host-level graphs on real clusters). Raises on an edgeless graph
    (scores would collapse to 0).

    r6 plan shape: the renormalization shift is computed IN-PLAN — the
    1-row max aggregate cross-joins back and an exact power-of-two CASE
    ladder (2^(k-1) <= m < 2^k  =>  divisor 2^(k-20), bit-identical to
    the old driver-side ``int.bit_length()``) picks the divisor — so the
    fixed 2*rounds half-steps build as ONE lazy plan with a single
    in-scope materializing action, replacing 8 collect()+checkpoint jobs
    of pure per-round overhead (the pagerank r6 measurement).

    Reference analog: none — completes the link-graph suite (pagerank /
    k_core / triangles / label_prop / SSSP) with the bipartite-reinforcement
    score pair.
    """
    from .iterhelp import coalesced_small_shuffles
    from .pip_knn import _cache_scoped

    spark = edges.sparkSession
    start = 1 << (HITS_TARGET_BITS - 1)
    a = None

    def _pow2_divisor(mx):
        # exact: for m in [2^(k-1), 2^k), divisor = 2^(k - TARGET_BITS)
        # (1 when m < 2^TARGET_BITS) — descending threshold ladder, all
        # int64 literals, bit-identical to max(bit_length(m)-20, 0)
        d = F.lit(1).cast("long")
        expr = None
        for k in range(63, HITS_TARGET_BITS, -1):
            cond = mx >= F.lit(1 << (k - 1)).cast("long")
            branch = F.lit(1 << (k - HITS_TARGET_BITS)).cast("long")
            expr = F.when(cond, branch) if expr is None else expr.when(cond, branch)
        return expr.otherwise(d)

    from pyspark.sql import Window

    def _half(scores, score_col, key_in, key_out, out_col):
        s = F.broadcast(scores) if broadcast_ranks else scores
        summed = (
            edges.join(s, edges[key_in] == s.node, "inner")
            .groupBy(key_out)
            .agg(F.sum(score_col).alias(out_col))
            .select(F.col(key_out).alias("node"), out_col)
        )
        full = nodes.join(summed, "node", "left").select(
            "node",
            F.coalesce(F.col(out_col), F.lit(0)).cast("long").alias(out_col),
        )
        # global-window max: references ``full`` ONCE, so the lazy plan
        # stays linear across half-rounds (a crossJoin of a 1-row max agg
        # doubles the plan per half-round — 2^8 subtree copies blew the
        # optimizer heap; a 1-row collect would cost a job per half-round).
        # The single-partition window pass is node-sized — fine in the
        # host-level regime this operator documents.
        mx = F.max(out_col).over(Window.partitionBy())
        return full.select(
            "node",
            F.col(out_col),
            _pow2_divisor(mx).alias("_d"),
        ).select("node", F.expr(f"{out_col} div _d").alias(out_col))

    with coalesced_small_shuffles(spark):
        edges = _cache_scoped("hits_edges", edges)  # reused 2x per round
        if edges.limit(1).count() == 0:
            raise ValueError("hits: graph has no edges (scores collapsed to 0)")
        h = nodes.select("node", F.lit(start).cast("long").alias("h"))
        for _ in range(int(rounds)):
            a = _half(h, "h", "src", "dst", "a")  # authority: in-edge hub sum
            h = _half(a, "a", "dst", "src", "h")  # hub: out-edge auth sum
        out = _cache_scoped(
            "hits_scores",
            h.join(a, "node").select(
                "node", F.col("h").alias("hub_fp"), F.col("a").alias("auth_fp")
            ),
        )
        out.count()  # ONE materializing job for all half-rounds
    return out


def adamic_adar(
    edges: DataFrame,
    k: int = 50,
    max_degree: int | None = None,
    pack_ids: bool = False,
) -> DataFrame:
    """Adamic-Adar link prediction over the UNDIRECTED simple graph ->
    the top-``k`` non-adjacent pairs by AA score (with common-neighbor
    count): AA(u, w) = sum over common neighbors v of 1 / ln(deg(v)) —
    the classic missing-link ranker (Adamic & Adar 2003), hub-discounted
    common neighbors.

    Float discipline (fixed point first, then integer sums): the per-CENTER
    weight is emitted once on the degree dim as half-even 1e-9 fixed
    point rint(1e9 / ln(deg)) (np.rint == DuckDB round_even; a common
    neighbor has deg >= 2 so ln > 0; the 1e9 margin leaves ~7 orders of
    slack over ln ulp drift), then AA scores are int64 SUMS of those
    fixed points — bit-identical under any partitioning.  Tie-break
    frozen: (aa_fp desc, u asc, w asc).

    Scale shape: wedge fan-out is sum over centers of deg^2 — the
    honest cost of exact all-wedge enumeration (the triangle
    degree-orientation trick does not apply: both wedge endpoints are
    needed).  ``max_degree`` caps hub centers (drop accounting
    surfaced by the caller comparing degree frames — the max_bucket
    idiom); per-center weights ride a broadcast-or-shuffle equi-join
    (Catalyst picks by dim size); existing edges leave via ONE
    anti-join; the cut is TakeOrderedAndProject, never a global sort.

    ``pack_ids=True`` (caller guarantees 0 <= id < 2^31) keys the wedge
    aggregate on ONE packed long u*2^32+w instead of two — the wedge
    pair exchange is the operator's dominant shuffle (~130 MB at sf0.1)
    and pairs are mostly unique per map partition, so partial
    aggregation cannot shrink it; narrowing the key row is the §2.3
    lever that can.
    """
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    adj = und.select(F.col("a").alias("v"), F.col("b").alias("nbr")).unionByName(
        und.select(F.col("b").alias("v"), F.col("a").alias("nbr"))
    )
    deg = adj.groupBy("v").agg(F.count(F.lit(1)).alias("deg"))
    if max_degree is not None:
        deg = deg.filter(F.col("deg") <= int(max_degree))

    @pandas_udf("long")
    def _inv_ln_fp(d: pd.Series) -> pd.Series:
        x = d.fillna(2).to_numpy(np.int64).astype(np.float64)
        return pd.Series(np.rint(1e9 / np.log(x)).astype(np.int64))

    wfp = deg.filter(F.col("deg") >= 2).select(
        "v", _inv_ln_fp(F.col("deg")).alias("w_fp")
    )
    lft = adj.select("v", F.col("nbr").alias("u"))
    rgt = adj.select("v", F.col("nbr").alias("w"))
    fan = lft.join(rgt, "v").filter(F.col("u") < F.col("w")).join(wfp, "v")
    if pack_ids:
        wedges = (
            fan.select(
                (F.col("u") * F.lit(1 << 32) + F.col("w")).alias("uw"), "w_fp"
            )
            .groupBy("uw")
            .agg(
                F.count(F.lit(1)).alias("cn"),
                F.sum("w_fp").alias("aa_fp"),
            )
            .select(
                F.expr(f"uw div {1 << 32}").alias("u"),
                (F.col("uw") % F.lit(1 << 32)).alias("w"),
                "cn",
                "aa_fp",
            )
        )
    else:
        wedges = fan.groupBy("u", "w").agg(
            F.count(F.lit(1)).alias("cn"),
            F.sum("w_fp").alias("aa_fp"),
        )
    cand = wedges.join(
        und,
        (F.col("u") == F.col("a")) & (F.col("w") == F.col("b")),
        "left_anti",
    )
    return cand.orderBy(F.desc("aa_fp"), F.asc("u"), F.asc("w")).limit(int(k))


def k_truss(edges: DataFrame, k: int, rounds: int = 6) -> DataFrame:
    """Bounded simultaneous k-truss peeling: each round recomputes every
    edge's triangle support in the CURRENT surviving graph and drops all
    edges with support < k-2 at once, to a fixpoint or the round bound
    (the k_core discipline — peeling is monotone, so once stable the
    remaining rounds are no-ops and the bounded result equals the true
    k-truss whenever the peel depth fits).

    Returns the surviving undirected edge set (a < b, exact ints).

    Support is counted by exploding ``triangle_list``'s degree-ordered
    enumeration into its 3 edges — each triangle exactly once, hub wedge
    fan-out bounded by the orientation (the arboricity bound), which is
    what makes per-round support affordable at web scale. The oracle
    replays support as a plain common-neighbor adjacency join (hub-
    quadratic but exact): different enumeration order, identical counts
    — so the operator's scale path and the oracle's audit path cannot
    drift apart. Rounds localCheckpoint (tiny JVM-only frames)."""
    t = int(k) - 2
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    from .iterhelp import coalesced_small_shuffles

    with coalesced_small_shuffles(edges.sparkSession):  # r6
        cur = und.localCheckpoint(eager=False)
        n_prev = cur.count()  # materializes the lazy checkpoint (r6)
        for _ in range(int(rounds)):
            tri = triangle_list(
                cur.select(F.col("a").alias("src"), F.col("b").alias("dst"))
            )
            tedges = (
                tri.select(F.col("x").alias("a"), F.col("y").alias("b"))
                .unionByName(tri.select(F.col("x").alias("a"), F.col("z").alias("b")))
                .unionByName(tri.select(F.col("y").alias("a"), F.col("z").alias("b")))
            )
            sup = (
                tedges.groupBy("a", "b")
                .agg(F.count(F.lit(1)).alias("s"))
                .filter(F.col("s") >= t)
            )
            cur = cur.join(sup, ["a", "b"], "left_semi").localCheckpoint(eager=False)
            n_cur = cur.count()  # the one materializing action per round (r6)
            if n_cur == n_prev or n_cur == 0:
                break
            n_prev = n_cur
    return cur


def wl_refine(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """1-dimensional Weisfeiler-Leman color refinement -> (node,
    wl_color): the classical graph-fingerprint iteration (the expressive
    ceiling of message-passing GNNs, the isomorphism pre-test, the
    structural-role hash).

    color_0 = undirected degree; each round rehashes every node's
    (own color | sorted multiset of neighbor colors) canonical string
    through the replayable mix31(poly) family — string rendering is
    frozen (decimal, ',' between neighbors, '|' before them), so both
    engines produce bit-identical colors. Two nodes share wl_color after
    r rounds iff 1-WL cannot distinguish their r-hop neighborhoods.

    Plan: per round one dst-keyed join + one node-keyed sorted-collect
    aggregate (the pagerank shuffle shape); the canonical string is
    bounded by degree — at web scale hubs would switch to a commutative
    hash-sum multiset encoding (weaker: collisions become possible),
    documented rather than silently swapped. Rounds are bounded literal
    (the pagerank fixed-iteration rule) so the oracle unrolls.
    """
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    sym = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    colors = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("c")
    )
    from ..functions.vhash import mix31, poly_hash

    for _ in range(int(rounds)):
        nbrs = (
            sym.join(
                colors.select(F.col("node").alias("v"), F.col("c").alias("cn")),
                "v",
            )
            .groupBy(F.col("u").alias("node"))
            .agg(F.sort_array(F.collect_list("cn")).alias("arr"))
            .select(
                "node",
                # sort NUMERICALLY, then render — lexicographic string
                # sort would order "10" before "2" and break oracle parity
                F.array_join(
                    F.expr("transform(arr, x -> cast(x as string))"), ","
                ).alias("ns"),
            )
        )
        sig = nbrs.join(colors, "node").select(
            "node",
            F.concat(
                F.col("c").cast("string"), F.lit("|"), F.col("ns")
            ).alias("sig"),
        )
        colors = sig.select(
            "node", mix31(poly_hash(F.col("sig"))).alias("c")
        )
    return colors.select("node", F.col("c").alias("wl_color"))


def bowtie_classes(edges: DataFrame, hops: int = 4) -> DataFrame:
    """Bow-tie decomposition of a directed graph (Broder et al., WWW
    2000 — THE web-graph macro structure) -> (cls, n_nodes): from the
    hub seed (max total degree, ties to the smaller node id), nodes
    forward- AND backward-reachable within ``hops`` arcs are the 'core'
    (the seed's bounded SCC), backward-only is 'in' (pages that reach
    the core), forward-only is 'out' (pages the core reaches), the rest
    'disconnected'. Bounds ARE the semantics (hop-``hops`` bow-tie —
    the k_truss/k_hop bounded-rounds discipline).

    Plan: one degree agg -> 1-row seed dim; two directed delta-BFS
    passes (k_hop directed mode: settled nodes never re-join); two
    broadcast flag joins onto the node universe; one 4-group agg.
    Exact ints everywhere."""
    el = (
        edges.filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = (
        el.select(F.col("src").alias("node"))
        .unionByName(el.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    seed = (
        deg.orderBy(F.col("deg").desc(), F.col("node").asc())
        .limit(1)
        .select("node")
    )
    fwd = k_hop(el, seed, hops=hops, directed=True).select(
        "node", F.lit(1).alias("f")
    )
    rev = el.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    bwd = k_hop(rev, seed, hops=hops, directed=True).select(
        "node", F.lit(1).alias("b")
    )
    cls = (
        nodes.join(fwd, "node", "left")
        .join(bwd, "node", "left")
        .select(
            F.when(
                F.col("f").isNotNull() & F.col("b").isNotNull(), "core"
            )
            .when(F.col("b").isNotNull(), "in")
            .when(F.col("f").isNotNull(), "out")
            .otherwise("disconnected")
            .alias("cls")
        )
    )
    return cls.groupBy("cls").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )


SR_MASS = 10**12  # SimRank fixed-point unit (self-similarity)


def simrank(
    edges: DataFrame,
    rounds: int = 3,
    node_cap: int = 200,
    c_num: int = 4,
    c_den: int = 5,
) -> DataFrame:
    """SimRank (Jeh & Widom, KDD 2002) — "two pages are similar if
    similar pages point to them" — as exact integer fixed point over
    the induced subgraph on nodes < ``node_cap``:

        S(a,a) = SR_MASS
        S(a,b) = (c_num . sum_{ia in I(a), ib in I(b)} S(ia, ib))
                 div (c_den . |I(a)| . |I(b)|)          (a != b)

    ``rounds`` bounded iterations from the identity (bounds ARE the
    semantics — the k_truss discipline); floor division makes every
    round int64-exact and partition-invariant, so the oracle unrolls
    the rounds verbatim. int64 budget: sum <= din^2 . SR_MASS ~ 4e16
    at cap 200 — safe under c_num=4.

    Output: (a, b, simrank_fp) for a < b with nonzero similarity (the
    diagonal is trivially SR_MASS and omitted).

    Plan per round: the nonzero pair frame scatters through TWO
    src-keyed edge joins (in-neighbor pairs -> their out-pairs), one
    (a, b)-keyed sum, two broadcast in-degree joins; the symmetric
    matrix is carried both-orders internally so the scatter sees every
    (ia, ib) combination; localCheckpoint truncates round lineage.
    node_cap keeps the pair frame dimension-sized — SimRank is
    quadratic in nodes by definition; at fleet scale the standard
    regime is exactly this (seed/landmark subsets)."""
    from .iterhelp import coalesced_small_shuffles
    from .pip_knn import _cache_scoped

    with coalesced_small_shuffles(edges.sparkSession):  # r6
        el = _cache_scoped(
            "simrank_el",
            edges.filter(
                (F.col("src") != F.col("dst"))
                & (F.col("src") < node_cap)
                & (F.col("dst") < node_cap)
            )
            .select("src", "dst")
            .distinct(),
        )
        din = el.groupBy(F.col("dst").alias("node")).agg(
            F.count(F.lit(1)).alias("din")
        )
        nodes = (
            el.select(F.col("src").alias("node"))
            .unionByName(el.select(F.col("dst").alias("node")))
            .distinct()
        )
        s = nodes.select(
            F.col("node").alias("a"),
            F.col("node").alias("b"),
            F.lit(SR_MASS).cast("long").alias("s"),
        )
        diag = s
        e1 = el.select(F.col("src").alias("a"), F.col("dst").alias("oa"))
        e2 = el.select(F.col("src").alias("b"), F.col("dst").alias("ob"))
        for _ in range(int(rounds)):
            off = (
                s.join(e1, "a")
                .join(e2, "b")
                .filter(F.col("oa") != F.col("ob"))
                .groupBy(F.col("oa").alias("a"), F.col("ob").alias("b"))
                .agg(F.sum("s").alias("num"))
                .join(din.withColumnRenamed("node", "a"), "a")
                .withColumnRenamed("din", "da")
                .join(din.withColumnRenamed("node", "b"), "b")
                .withColumnRenamed("din", "db")
                .select(
                    "a",
                    "b",
                    F.expr(
                        f"({c_num} * num) div ({c_den} * da * db)"
                    ).cast("long").alias("s"),
                )
                .filter(F.col("s") > 0)
            )
            s = diag.unionByName(off)
        # fixed rounds, no probe: one lazy chain, one in-scope job
        # (pagerank r6 rule; joins unhinted — AQE picks broadcast by size)
        s = _cache_scoped("simrank_s", s)
        s.count()
    return (
        s.filter(F.col("a") < F.col("b"))
        .select(
            F.col("a").cast("long").alias("a"),
            F.col("b").cast("long").alias("b"),
            F.col("s").alias("simrank_fp"),
        )
    )


def anf_registers(
    edges: DataFrame,
    hops: int = 4,
    p: int = 6,
    n_groups: int = 16,
) -> DataFrame:
    """HyperANF register state (Boldi & Vigna, WWW 2011 — the algorithm
    behind the "four degrees of separation" Facebook measurement):
    propagate per-node HLL registers of the h-hop OUT-reachable ball by
    register-MAX over out-edges, ``hops`` bounded rounds -> one row per
    (hop, grp, bucket): the max rank over the ball-union of node group
    ``node % n_groups``. The neighborhood function N(h) is the
    consumer-side HLL read of these registers; the emitted state itself
    is PURE INTEGER (bucket/rank from the replayable vhash family, the
    hll_sketch recipe), so the oracle replays every round exactly —
    max-merge is associative/commutative/idempotent, the same property
    that lets real HyperANF run on any cluster topology.

    Scale shape: the register frame is sparse (node, bucket, rho) —
    at most min(ball, 2^p) rows per node; each round is one edge join +
    one (node, bucket)-keyed max (map-side combining), lineage
    localCheckpoint-truncated; the per-hop rollup is a second bounded
    max onto n_groups * 2^p rows."""
    from ..functions.vhash import BASE2, mix31, poly_hash

    m = 1 << p
    from .iterhelp import coalesced_small_shuffles

    with coalesced_small_shuffles(edges.sparkSession):  # r6
        from .pip_knn import _cache_scoped

        el = _cache_scoped(
            "anf_el",
            edges.filter(F.col("src") != F.col("dst"))
            .select("src", "dst")
            .distinct(),
        )
        nodes = (
            el.select(F.col("src").alias("node"))
            .unionByName(el.select(F.col("dst").alias("node")))
            .distinct()
        )
        key = F.concat(F.lit("anf:"), F.col("node").cast("string"))
        w = mix31(poly_hash(key))
        rho = (
            F.when(w == 0, F.lit(32))
            .otherwise(F.lit(32) - F.length(F.bin(w)))
            .cast("int")
        )
        reg = nodes.select(
            "node",
            (mix31(poly_hash(key, BASE2)) % m).alias("bucket"),
            rho.alias("rho"),
        )
        out_rows = None
        for h in range(1, hops + 1):
            moved = (
                el.join(
                    reg.select(
                        F.col("node").alias("dst"), "bucket", "rho"
                    ),
                    "dst",
                )
                .select(F.col("src").alias("node"), "bucket", "rho")
            )
            # cache each hop's register state: it feeds BOTH the next hop
            # (twice: carry + move) and this hop's rollup — caching keeps
            # the one materializing job linear in hops instead of 2^hops
            reg = _cache_scoped(
                f"anf_reg_{h}",
                reg.unionByName(moved)
                .groupBy("node", "bucket")
                .agg(F.max("rho").alias("rho")),
            )
            roll = (
                reg.groupBy(
                    (F.col("node") % n_groups).alias("grp"), F.col("bucket")
                )
                .agg(F.max("rho").alias("max_rho"))
                .select(
                    F.lit(h).cast("long").alias("hop"),
                    F.col("grp").cast("long").alias("grp"),
                    F.col("bucket").cast("long").alias("bucket"),
                    F.col("max_rho").cast("long").alias("max_rho"),
                )
            )
            out_rows = roll if out_rows is None else out_rows.unionByName(roll)
        # ONE in-scope materializing job over the unioned rollups (the
        # per-hop checkpoints + final reg.count() were hops+1 jobs)
        out_rows = _cache_scoped("anf_rollups", out_rows)
        out_rows.count()
    return out_rows


def modularity_score(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity INGREDIENTS of a node partition over the
    undirected simple graph -> one row per community:
    (label, n_nodes, deg_sum, e_in, m, q_term) with
    q_term = 4m*e_in - deg_sum^2;  Q = sum(q_term) / (4m^2)
    consumer-side — the partition-quality score that turns label_prop
    from a clustering into a measurable one (Newman & Girvan 2004).
    Everything is exact int64 (the chi_square multiply-through rule):
    no division ever happens engine-side.

    Plan: dedupe to unordered edges (least/greatest + distinct), ONE
    endpoint explode for degrees, two node-keyed label joins for the
    within-community edge count, one label-keyed aggregate each —
    shuffles linear in edges, the 1-row m frame broadcast.  int64
    envelope: 4m^2 < 2^63 -> m < ~1.5e9 edges."""
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    m = und.agg(F.count(F.lit(1)).alias("m"))
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    la = labels.select(F.col("node").alias("a"), F.col("label").alias("_la"))
    lb = labels.select(F.col("node").alias("b"), F.col("label").alias("_lb"))
    ein = (
        und.join(la, "a")
        .join(lb, "b")
        .filter(F.col("_la") == F.col("_lb"))
        .groupBy(F.col("_la").alias("label"))
        .agg(F.count(F.lit(1)).alias("e_in"))
    )
    com = (
        labels.join(deg, "node")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("deg").alias("deg_sum"),
        )
    )
    return (
        com.join(ein, "label", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "label",
            "n_nodes",
            "deg_sum",
            F.coalesce(F.col("e_in"), F.lit(0)).cast("long").alias("e_in"),
            F.col("m").cast("long").alias("m"),
            (
                4 * F.col("m") * F.coalesce(F.col("e_in"), F.lit(0))
                - F.col("deg_sum") * F.col("deg_sum")
            ).cast("long").alias("q_term"),
        )
    )


def rich_club(edges: DataFrame, max_k: int = 16) -> DataFrame:
    """Rich-club INGREDIENTS of the undirected simple graph -> one row
    per degree threshold k in 1..max_k: (k, n_k, e_k) with n_k = nodes
    of degree > k and e_k = edges with BOTH endpoints of degree > k;
    phi(k) = 2 e_k / (n_k (n_k - 1)) consumer-side (Colizza et al.
    2006) — do the hubs of the link graph preferentially link to each
    other (link farms, tight cores) or not.

    Plan: degrees off one endpoint explode; per-edge min endpoint
    degree md via two node-keyed joins; the threshold axis is a
    ``max_k``-row broadcast literal crossed against the two collapsed
    frames (bounded fan-out, the half-disk idiom) + one k-keyed count
    each — shuffles linear in edges."""
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    spark = edges.sparkSession
    kdf = spark.range(1, max_k + 1).select(F.col("id").cast("long").alias("k"))
    nk = (
        deg.crossJoin(F.broadcast(kdf))
        .filter(F.col("deg") > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_k"))
    )
    md = (
        und.join(deg.select(F.col("node").alias("a"),
                            F.col("deg").alias("_da")), "a")
        .join(deg.select(F.col("node").alias("b"),
                         F.col("deg").alias("_db")), "b")
        .select(F.least("_da", "_db").alias("md"))
    )
    ek = (
        md.crossJoin(F.broadcast(kdf))
        .filter(F.col("md") > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("e_k"))
    )
    return (
        kdf.join(nk, "k", "left")
        .join(ek, "k", "left")
        .select(
            "k",
            F.coalesce(F.col("n_k"), F.lit(0)).cast("long").alias("n_k"),
            F.coalesce(F.col("e_k"), F.lit(0)).cast("long").alias("e_k"),
        )
    )


def harmonic_centrality(
    edges: DataFrame,
    seeds: DataFrame,
    hops: int = 4,
    directed: bool = False,
) -> DataFrame:
    """Bounded-radius HARMONIC centrality of the seed nodes (Boldi &
    Vigna 2014's centrality of choice for disconnected web graphs —
    closeness breaks on unreachable nodes, harmonic just scores them 0):
    H_K(u) = sum over nodes v at hop distance 1..K of 1/d(u, v), as the
    exact integer sum of lcm(1..K) div d (den emitted) — no float, no
    transcendental.

    The truncation at K is the web-scale design point (the k_hop /
    shortest_paths bounded-rounds discipline): distances beyond K
    contribute <= 1/(K+1) each and the bounded form is computable by
    delta BFS, where the exact global form is an all-pairs problem (the
    ANF sketch in ``anf_registers`` is this engine's answer when every
    node needs a score; this operator is the exact answer for a seed
    set).

    Plan: (seed, node)-keyed delta BFS — per round one node-keyed
    equi-join of the frontier against the (symmetrized) edge table +
    one anti-join settle, localCheckpoint per round, early exit on a
    drained frontier; work is frontier-adjacent edges summed over
    rounds, never rounds x graph. Output: (seed, n_reached, harm_num,
    den) — one row per seed, zero-reach seeds included.
    """
    lcm = 1
    for d in range(1, int(hops) + 1):
        lcm = lcm * d // math.gcd(lcm, d)
    el = edges.filter(F.col("src") != F.col("dst")).select("src", "dst")
    sym = (
        el
        if directed
        else el.unionByName(
            el.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    ).distinct()
    from .iterhelp import coalesced_small_shuffles

    with coalesced_small_shuffles(edges.sparkSession):  # r6
        settled = seeds.select(
            F.col("node").cast("long").alias("seed"),
            F.col("node").cast("long").alias("node"),
            F.lit(0).alias("hop"),
        ).localCheckpoint(eager=False)
        frontier = settled.select("seed", "node")
        for i in range(1, int(hops) + 1):
            nbrs = (
                sym.join(frontier.withColumnRenamed("node", "src"), "src")
                .select("seed", F.col("dst").alias("node"))
                .distinct()
            )
            new = (
                nbrs.join(
                    settled.select("seed", "node"), ["seed", "node"], "left_anti"
                )
                .select("seed", "node", F.lit(i).alias("hop"))
                .localCheckpoint(eager=False)
            )
            if new.count() == 0:
                break
            settled = settled.unionByName(new).localCheckpoint(eager=False)
            frontier = new.select("seed", "node")
        settled.count()  # materialize the final settle in-scope
    reached = settled.filter(F.col("hop") > 0)
    per_seed = reached.groupBy("seed").agg(
        F.count(F.lit(1)).cast("long").alias("n_reached"),
        F.sum(F.expr(f"{lcm} div hop")).cast("long").alias("harm_num"),
    )
    sd = seeds.select(F.col("node").cast("long").alias("seed"))
    return sd.join(per_seed, "seed", "left").select(
        "seed",
        F.coalesce(F.col("n_reached"), F.lit(0).cast("long")).alias("n_reached"),
        F.coalesce(F.col("harm_num"), F.lit(0).cast("long")).alias("harm_num"),
        F.lit(lcm).cast("long").alias("den"),
    )


def longest_paths(
    edges: DataFrame,
    rounds: int = 8,
    weight_col: str = "w",
) -> DataFrame:
    """(node, dist): the exact maximum path weight ENDING at each node
    over a DAG, bounded to paths of <= ``rounds`` edges — the critical-
    path / longest-chain table (scheduling slack, deepest dependency,
    longest redirect chain). The max-plus mirror of ``shortest_paths``:
    every node starts at 0 (any node may open a path) and each round
    relaxes d[v] = max(d[v], max over (u,v) of d[u] + w).

    The caller must pass an ACYCLIC edge set (e.g. src < dst by
    construction — id-ascending edges cannot cycle); on a cyclic input
    the bounded rounds still terminate but the result is the bounded-
    walk maximum, not a path (documented, not detected — the k_core
    bounded-rounds contract).

    Weights exact nonneg int64 (the shortest_paths discipline: float
    path sums are fold-order dependent, int sums are not). Delta
    relaxation: only nodes improved last round re-expand; per round one
    src-keyed equi-join + a node-keyed max aggregate with map-side
    combine; localCheckpoint per round; early exit on stability.
    """
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    from .iterhelp import coalesced_small_shuffles

    with coalesced_small_shuffles(edges.sparkSession):  # r6
        dist = nodes.select(
            F.col("node").cast("long").alias("node"),
            F.lit(0).cast("long").alias("dist"),
        ).localCheckpoint(eager=False)
        frontier = dist
        for _ in range(int(rounds)):
            relax = edges.join(
                frontier.withColumnRenamed("node", "src").withColumnRenamed(
                    "dist", "sdist"
                ),
                "src",
            ).select(
                F.col("dst").alias("node"),
                (F.col("sdist") + F.col(weight_col)).alias("dist"),
            )
            merged = (
                dist.unionByName(relax.groupBy("node").agg(F.max("dist").alias("dist")))
                .groupBy("node")
                .agg(F.max("dist").alias("dist"))
                .localCheckpoint(eager=False)
            )
            improved = (
                merged.join(dist.withColumnRenamed("dist", "old"), "node", "left")
                .filter(F.col("dist") > F.col("old"))
                .select("node", "dist")
                .localCheckpoint(eager=False)
            )
            dist = merged
            if improved.count() == 0:
                break
            frontier = improved
        dist.count()  # materialize the final relax in-scope
    return dist


def attack_robustness(
    edges: DataFrame,
    ks=(0, 8),
    rounds: int = 10,
) -> DataFrame:
    """Attack-tolerance curve (Albert, Jeong & Barabasi 2000): remove
    the top-k highest-degree hubs (frozen (degree DESC, node ASC)
    order) and measure what remains — the scale-free-network fragility
    result as an operator (CDN/crawler planning: what dies when the
    hubs do?).

    Per k: (n_nodes, n_arcs, giant_size, n_components) of the hub-
    removed symmetrized graph, where components are the EXACTLY-R-round
    min-label iterate (label = min over closed neighborhood, R rounds,
    NO early exit — both engines compute the identical bounded iterate
    whether or not it has converged; R >= diameter makes it the true
    CC, documented not enforced — the k_core bounded-rounds contract).

    Scale shape: degree ranking is one agg + one window on the
    collapsed node dim; each round is one src-keyed equi-join + a
    node-keyed min aggregate with map-side combine, localCheckpoint per
    round (lineage rule); k values are a bounded literal axis, so total
    work is |ks| * R frontier-free rounds. Output: |ks| rows.
    """
    from pyspark.sql import Window

    from .iterhelp import coalesced_small_shuffles

    with coalesced_small_shuffles(edges.sparkSession):  # r6
        el0 = edges.filter(F.col("src") != F.col("dst")).select("src", "dst")
        sym = el0.unionByName(
            el0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct().localCheckpoint(eager=False)
        deg = sym.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("deg")
        )
        rk = deg.select(
            "node",
            F.row_number()
            .over(Window.orderBy(F.desc("deg"), F.asc("node")))
            .alias("rk"),
        ).localCheckpoint(eager=False)
        outs = []
        for k in ks:
            removed = rk.filter(F.col("rk") <= int(k)).select("node")
            el = (
                sym.join(removed.withColumnRenamed("node", "src"), "src", "left_anti")
                .join(removed.withColumnRenamed("node", "dst"), "dst", "left_anti")
                .select("src", "dst")
                .localCheckpoint(eager=False)
            )
            nodes = (
                el.select(F.col("src").alias("node"))
                .unionByName(el.select(F.col("dst").alias("node")))
                .distinct()
            )
            lbl = nodes.select(
                "node", F.col("node").cast("long").alias("label")
            ).localCheckpoint(eager=False)
            for _ in range(int(rounds)):
                prop = el.join(
                    lbl.withColumnRenamed("node", "src").withColumnRenamed(
                        "label", "plabel"
                    ),
                    "src",
                ).select(F.col("dst").alias("node"), F.col("plabel").alias("label"))
                lbl = (
                    lbl.unionByName(prop)
                    .groupBy("node")
                    .agg(F.min("label").alias("label"))
                    .localCheckpoint(eager=False)
                )
            classes = lbl.groupBy("label").agg(F.count(F.lit(1)).alias("sz"))
            summary = (
                lbl.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
                .crossJoin(el.agg(F.count(F.lit(1)).cast("long").alias("n_arcs")))
                .crossJoin(
                    classes.agg(
                        F.max("sz").cast("long").alias("giant_size"),
                        F.count(F.lit(1)).cast("long").alias("n_components"),
                    )
                )
                .select(
                    F.lit(int(k)).cast("long").alias("k_removed"),
                    "n_nodes",
                    "n_arcs",
                    "giant_size",
                    "n_components",
                )
            )
            outs.append(summary)
        out = outs[0]
        for f in outs[1:]:
            out = out.unionByName(f)
        # materialize the |ks|-row summary in-scope: the whole bounded
        # iterate executes under the coalesced configuration (r6)
        out = out.localCheckpoint(eager=True)
    return out


def temporal_reach(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 6,
    ts_col: str = "t",
) -> DataFrame:
    """Time-respecting reachability (Holme & Saramaki 2012): node v is
    temporally reachable from a seed if a path exists whose edge times
    are NON-DECREASING — the infection/information-flow semantics a
    static BFS gets wrong (a link that existed only BEFORE you arrived
    cannot forward you). Returns (seed, node, arrive_t): the EARLIEST
    arrival time, bounded to journeys of <= ``rounds`` edges.

    Relaxation: arrive[v] = min over edges (u, v, t) with
    t >= arrive[u] of t (seeds start at arrive = -infinity, emitted as
    0 on the seed row). The min-merge is monotone, so the delta form
    (only improved nodes re-expand) equals full relaxation at every
    round index — the shortest_paths induction verbatim; earliest
    arrival is the optimal substructure (arriving earlier never hurts:
    the admissible edge set only grows as arrival decreases).

    Times exact int64 (microseconds). Per round one src-keyed
    equi-join with the time filter + a (seed, node)-keyed min
    aggregate, localCheckpoint, early exit. The oracle unrolls rounds
    as generated CTE stages.
    """
    from .iterhelp import coalesced_small_shuffles

    with coalesced_small_shuffles(edges.sparkSession):  # r6
        arrive = seeds.select(
            F.col("node").cast("long").alias("seed"),
            F.col("node").cast("long").alias("node"),
            F.lit(-(2**62)).cast("long").alias("at"),
        ).localCheckpoint(eager=False)
        frontier = arrive
        for _ in range(int(rounds)):
            relax = (
                edges.join(
                    frontier.withColumnRenamed("node", "src").withColumnRenamed(
                        "at", "sat"
                    ),
                    "src",
                )
                .filter(F.col(ts_col) >= F.col("sat"))
                .select(
                    "seed",
                    F.col("dst").alias("node"),
                    F.col(ts_col).cast("long").alias("at"),
                )
            )
            merged = (
                arrive.unionByName(
                    relax.groupBy("seed", "node").agg(F.min("at").alias("at"))
                )
                .groupBy("seed", "node")
                .agg(F.min("at").alias("at"))
                .localCheckpoint(eager=False)
            )
            improved = (
                merged.join(
                    arrive.withColumnRenamed("at", "old"), ["seed", "node"], "left"
                )
                .filter(F.col("old").isNull() | (F.col("at") < F.col("old")))
                .select("seed", "node", "at")
                .localCheckpoint(eager=False)
            )
            arrive = merged
            if improved.count() == 0:
                break
            frontier = improved
        arrive.count()  # materialize the final relax in-scope
    return arrive.select(
        "seed",
        "node",
        F.greatest(F.col("at"), F.lit(0).cast("long")).alias("arrive_t"),
    )


def bfs_sigma(edges: DataFrame, seeds: DataFrame, rounds: int = 4) -> DataFrame:
    """Multi-seed unweighted BFS with SHORTEST-PATH COUNTING (the sigma
    table of Brandes 2001's betweenness algorithm): for every (seed,
    node) within ``rounds`` hops, the hop distance and the EXACT number
    of distinct shortest paths — sigma(v) = sum over predecessors u at
    dist-1 of sigma(u), an order-independent int64 sum, so the result is
    deterministic under any partitioning (the pagerank fixed-point
    discipline).

    Scale design: all seeds run SIMULTANEOUSLY (seed is just a key
    column — one BFS wave per round regardless of |S|); per round one
    src-keyed equi-join (frontier x edges) + one (seed, node) partial
    agg + one anti-join against the visited set; localCheckpoint per
    round; early exit on a drained frontier.  int64 envelope: sigma <=
    max_deg^rounds — document at the call site.

    Oracle twin: the same recurrence unrolls as ``rounds`` generated CTE
    stages (the k_hop discipline) — no within-stage recursion.
    """
    from .iterhelp import coalesced_small_shuffles

    with coalesced_small_shuffles(edges.sparkSession):  # r6
        visited = seeds.select(
            F.col("node").cast("long").alias("seed"),
            F.col("node").cast("long").alias("node"),
            F.lit(0).cast("long").alias("dist"),
            F.lit(1).cast("long").alias("sigma"),
        ).localCheckpoint(eager=False)
        frontier = visited
        for h in range(1, int(rounds) + 1):
            relax = (
                edges.join(
                    frontier.withColumnRenamed("node", "src"),
                    "src",
                )
                .groupBy("seed", F.col("dst").alias("node"))
                .agg(F.sum("sigma").alias("sigma"))
            )
            new = (
                relax.join(
                    visited.select("seed", "node"), ["seed", "node"], "left_anti"
                )
                .select(
                    "seed",
                    "node",
                    F.lit(h).cast("long").alias("dist"),
                    F.col("sigma").cast("long").alias("sigma"),
                )
                .localCheckpoint(eager=False)
            )
            visited = visited.unionByName(new).localCheckpoint(eager=False)
            frontier = new
            if new.count() == 0:
                break
        visited.count()  # materialize the final hop in-scope
    return visited


def stress_centrality(
    bfs: DataFrame, max_seed_excl: int
) -> DataFrame:
    """Seed-pair STRESS centrality (Shimbel 1953) — the all-integer
    member of the betweenness family: stress(v) = sum over seed pairs
    s < t of sigma_sv * sigma_vt over shortest s-t paths through v
    (Brandes' betweenness divides by sigma_st, turning the accumulation
    rational and fold-order dependent; the raw path COUNT stays exact
    int64 under any partitioning).  Pairs are restricted to the seed set
    of ``bfs`` (nodes < ``max_seed_excl`` — the pivot-sampling shape of
    Brandes-Pich approximation, which is also the 100 TB path: seeds
    scale independently of graph size).

    sigma_vt comes from BFS rooted at t on the UNDIRECTED graph
    (sigma_tv = sigma_vt).  The path-through test is the classic
    d(s,v) + d(v,t) = d(s,t) on the bounded-hop distances; pairs whose
    endpoints exceed the hop bound simply drop (both engines share the
    bound, so the oracle is exact).

    One self-join of the narrow bfs frame on node + one broadcast join
    against the seed-pair distance dim + one agg.
    """
    p = bfs.filter(
        (F.col("node") < max_seed_excl) & (F.col("seed") < F.col("node"))
    ).select(
        F.col("seed").alias("s"),
        F.col("node").alias("t"),
        F.col("dist").alias("dst_d"),
    )
    b1 = bfs.select(
        F.col("seed").alias("s"),
        "node",
        F.col("dist").alias("d1"),
        F.col("sigma").alias("g1"),
    )
    b2 = bfs.select(
        F.col("seed").alias("t"),
        "node",
        F.col("dist").alias("d2"),
        F.col("sigma").alias("g2"),
    )
    joined = (
        b1.join(b2, "node")
        .filter(F.col("s") < F.col("t"))
        .join(F.broadcast(p), ["s", "t"])
        .filter(
            (F.col("node") != F.col("s"))
            & (F.col("node") != F.col("t"))
            & (F.col("d1") + F.col("d2") == F.col("dst_d"))
        )
    )
    return (
        joined.groupBy("node")
        .agg(
            F.sum(F.col("g1") * F.col("g2")).cast("long").alias("stress"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
        )
    )

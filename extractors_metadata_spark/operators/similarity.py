"""Similarity search over embedding columns (array<float>).

- ``brute_force_topk``: exact cosine top-k, queries broadcast against the
  corpus; the dot product runs JVM-side via ``zip_with``/``aggregate`` inside
  codegen — correctness baseline and the small-query-set scale path.
- ``srp_bucket``: signed-random-projection code (LSH) — pandas-UDF NumPy
  matmul against seed-42 hyperplanes; equal codes bucket candidates so the
  pair join is bucket-local.
- ``ivf_topk``: IVF-flat — driver samples the corpus, k-means (NumPy, few
  iterations, seed-42) builds centroids; vectors assign to nearest centroid
  (one Arrow pass); queries probe ``nprobe`` nearest lists only. The 100 TB
  path: candidate scan cost drops by ~nlist/nprobe.
- ``cosine_near_pairs``: embedding near-dup via SRP buckets + exact verify.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast, pandas_udf

SEED = 42


def _cosine(a, b) -> F.Column:
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))
    return dot / (na * nb)


def brute_force_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank, sim). Excludes self.

    Queries are broadcast; the corpus never shuffles. Output rank ties break
    on neighbor id (frozen rule).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    sims = (
        c.join(broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", _cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
    )


def cosine_pairs_exact(
    df: DataFrame, threshold: float = 0.95,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """EXACT cosine near-duplicate pairs (a < b, sim >= threshold) by brute
    force — the correctness baseline ``cosine_near_pairs`` approximates via
    SRP buckets. All-pairs by construction: use only on bounded inputs (a
    candidate shard, a bucket, an eval sample); the scale path is
    ``cosine_near_pairs`` / ``srp_bucket``. The smaller side broadcasts, the
    dot product runs JVM-side inside codegen."""
    a = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).cast("array<double>").alias("va")
    )
    b = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).cast("array<double>").alias("vb")
    )
    return (
        a.join(broadcast(b), F.col("id_a") < F.col("id_b"))
        .withColumn("sim", F.round(_cosine(F.col("va"), F.col("vb")), 6))
        # threshold on the ROUNDED sim: the predicate then uses the same
        # drift-absorbed value the row reports, so a pair within a few ulps
        # of the threshold lands identically in any engine (ADVICE r3)
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def _hyperplanes(dim: int, n_bits: int) -> np.ndarray:
    return np.random.default_rng(SEED).standard_normal((dim, n_bits))


def srp_bucket(df: DataFrame, dim: int, n_bits: int = 16,
               vec_col: str = "embedding", out_col: str = "bucket") -> DataFrame:
    """Signed-random-projection LSH code (int bucket) per vector."""
    planes = _hyperplanes(dim, n_bits)

    @pandas_udf("long")
    def _code(v: pd.Series) -> pd.Series:
        mat = np.vstack(v.to_numpy())
        bits = (mat @ planes) > 0
        code = np.zeros(len(mat), dtype=np.int64)
        for i in range(n_bits):
            code |= bits[:, i].astype(np.int64) << i
        return pd.Series(code)

    return df.withColumn(out_col, _code(vec_col))


def cosine_near_pairs(
    df: DataFrame, dim: int, threshold: float = 0.95,
    id_col: str = "vec_id", vec_col: str = "embedding", n_bits: int = 12,
    max_bucket: int = 2000, bucket_stats: dict | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs: SRP-bucket candidates, exact verify.

    Buckets above ``max_bucket`` (e.g. a zero-vector pile-up) are dropped
    before the self-join — see ``dedup.cap_hot_buckets``."""
    from .dedup import cap_hot_buckets

    coded = srp_bucket(df, dim, n_bits, vec_col).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"), "bucket"
    )
    coded = cap_hot_buckets(coded, ["bucket"], max_bucket, bucket_stats)
    a = coded.alias("a")
    b = coded.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.round(_cosine(F.col("a.v"), F.col("b.v")), 6).alias("sim"),
    )
    # rounded-sim threshold: predicate and reported value agree (ADVICE r3)
    return pairs.filter(F.col("sim") >= threshold).select("id_a", "id_b", "sim")


def _kmeans(sample: np.ndarray, nlist: int, iters: int = 10) -> np.ndarray:
    rng = np.random.default_rng(SEED)
    centroids = sample[rng.choice(len(sample), size=nlist, replace=False)]
    for _ in range(iters):
        d = ((sample[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(nlist):
            m = assign == j
            if m.any():
                centroids[j] = sample[m].mean(axis=0)
    return centroids


def ivf_topk(
    spark,
    queries: DataFrame, corpus: DataFrame, k: int = 5,
    nlist: int = 16, nprobe: int = 4, sample_n: int = 2000,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """IVF-flat approximate top-k: cluster corpus into nlist inverted lists,
    probe the nprobe nearest lists per query. Same output shape as
    brute_force_topk (recall < 1 by design; property-tested >= floor).

    Centroid training reads an UNBIASED deterministic sample: top-``sample_n``
    by ``xxhash64(id)`` — a seedless uniform draw across ALL partitions that
    Spark executes as TakeOrderedAndProject (map-side partial top-k, no full
    sort shuffle). ``head(sample_n)`` would take the first file's rows only —
    at 100 TB that is one shard's distribution skewing every centroid."""
    sample = np.vstack(
        [
            np.asarray(r[0], dtype=np.float64)
            for r in corpus.select(vec_col, F.xxhash64(id_col).alias("_h"))
            .orderBy("_h")
            .limit(sample_n)
            .select(vec_col)
            .collect()
        ]
    )
    centroids = _kmeans(sample, nlist)
    bc = spark.sparkContext.broadcast(centroids)

    @pandas_udf("int")
    def assign_list(v: pd.Series) -> pd.Series:
        mat = np.vstack(v.to_numpy()).astype(np.float64)
        cents = bc.value
        d = ((mat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    @pandas_udf("array<int>")
    def probe_lists(v: pd.Series) -> pd.Series:
        mat = np.vstack(v.to_numpy()).astype(np.float64)
        cents = bc.value
        d = ((mat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        order = np.argsort(d, axis=1)[:, :nprobe].astype(np.int32)
        return pd.Series(list(order))

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("ivf_list", assign_list("cv"))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("ivf_list", F.explode(probe_lists("qv")))

    sims = (
        c.join(broadcast(q), "ivf_list")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", _cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
    )


def sq_encode(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Int8 scalar quantization — the 100 TB ANN STORAGE path: per-vector
    symmetric max-abs scaling to [-127, 127] cuts the corpus footprint 4x
    (and makes every downstream dot product exact int64 arithmetic, which
    is what lets sq_topk carry a FULL oracle — float dots are fold-order
    dependent, integer dots are not).

    Output (id, scale, qvec array<int>, qnorm bigint). All JVM codegen:
    transform/aggregate lambdas, no Python in the path. Rounding is
    HALF_EVEN (F.bround == DuckDB round_even == np.rint — the repo's
    pinned cross-engine rule). Zero vectors are dropped (no direction to
    quantize; both engines filter identically).
    """
    v = F.col(vec_col).cast("array<double>")
    with_scale = df.select(
        F.col(id_col).alias("id"),
        v.alias("v"),
        (F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)).alias(
            "scale"
        ),
    ).filter(F.col("scale") > 0)
    enc = with_scale.select(
        "id",
        "scale",
        F.transform(
            F.col("v"), lambda x: F.bround(x / F.col("scale")).cast("int")
        ).alias("qvec"),
    )
    qnorm = F.aggregate(
        F.zip_with(F.col("qvec"), F.col("qvec"), lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda s, x: s + x,
    )
    return enc.select("id", "scale", "qvec", qnorm.alias("qnorm"))


def sq_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k over int8-quantized vectors: (query_id,
    neighbor_id, rank, qsim). The scan reads 1/4 the bytes of the float
    corpus; the dot product and both norms are EXACT int64 sums (order-
    independent => identical under any partitioning, and bit-replayable
    in SQL — qsim's one float step, int/sqrt(int*int), is IEEE-exact from
    exact integers). Queries broadcast; ties break on neighbor id."""
    q = sq_encode(queries, id_col, vec_col).select(
        F.col("id").alias("query_id"),
        F.col("qvec").alias("qq"),
        F.col("qnorm").alias("qn"),
    )
    c = sq_encode(corpus, id_col, vec_col).select(
        F.col("id").alias("neighbor_id"),
        F.col("qvec").alias("cq"),
        F.col("qnorm").alias("cn"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("qq"), F.col("cq"), lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda s, x: s + x,
    )
    sims = (
        c.join(broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("dot", dot)
        .withColumn(
            "qsim",
            F.col("dot").cast("double")
            / F.sqrt((F.col("qn") * F.col("cn")).cast("double")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qsim").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "qsim")
    )


def embedding_centroids(
    df: DataFrame, group_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-group embedding centroids as EXACT integer accumulation:
    (group, dim, n, sum_u, mean) with sum_u = sum of each component
    rounded half-even to integer micro-units (F.bround == DuckDB
    round_even) and mean = one literal double division off it.

    Float vector means are normally aggregation-order dependent — the
    same nondeterminism integer PageRank fixes for graph mass — which
    makes IVF centroid training unreproducible across partitionings.
    This is the deterministic twin: bit-identical under any partitioning
    / cluster size (quantization error ≤ 0.5 µunit per component, far
    below any embedding's noise floor).

    Plan: pure JVM posexplode (dims x rows narrow ints) -> ONE
    map-side-combining (group, dim)-keyed aggregate; shuffle rows ≤
    groups x dims per input partition. No UDF, no vector state.
    """
    e = df.select(group_col, F.posexplode(vec_col).alias("dim", "v"))
    agg = e.groupBy(group_col, "dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.bround(F.col("v").cast("double") * 1000000.0, 0).cast("long")
        ).alias("sum_u"),
    )
    return agg.select(
        group_col,
        "dim",
        "n",
        "sum_u",
        # UNROUNDED: sum_u and n are exact ints on every engine, so one
        # multiply + one divide is bit-identical IEEE — rounding would only
        # ADD a cross-engine hazard (fractional half-even differs between
        # BigDecimal shortest-repr and exact-binary semantics)
        (
            F.col("sum_u").cast("double")
            / (F.col("n").cast("double") * 1000000.0)
        ).alias("mean"),
    )


def mmr_select(
    queries: DataFrame, corpus: DataFrame, k_cand: int = 20, k_sel: int = 3,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k — the serving-side
    re-ranker that trades relevance against redundancy (the dedup idea
    applied INSIDE a result list).  Greedy: pick argmax relevance, then
    repeatedly argmax of  score = 2*rel(q, d) - max_{s in S} sim(d, s)
    (lambda = 1/2, scaled x2 so the score stays an INTEGER — relevance
    and redundancy are both exact int8-quantization dot products, the
    sq_topk trick, so every greedy decision is exact int64 arithmetic
    and the whole operator carries a FULL oracle; ties break on doc id).

    The greedy rounds are unrolled as joins over the BOUNDED candidate
    frame (top-k_cand by relevance per query), so the quadratic
    redundancy matrix is k_cand^2 per query — never corpus-sized; at
    10^12 docs the candidate generator above this (ivf/sq/pq) bounds
    the pool exactly the same way.  Returns (query_id, pick, doc_id,
    score): pick = selection order 1..k_sel.
    """
    q = sq_encode(queries, id_col, vec_col).select(
        F.col("id").alias("query_id"), F.col("qvec").alias("qq")
    )
    c = sq_encode(corpus, id_col, vec_col).select(
        F.col("id").alias("doc_id"), F.col("qvec").alias("cq")
    )
    def _dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda a, b: (a * b).cast("long")),
            F.lit(0).cast("long"), lambda s, v: s + v,
        )
    rel = c.join(broadcast(q), F.col("doc_id") != F.col("query_id")).withColumn(
        "rel", _dot(F.col("qq"), F.col("cq"))
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("doc_id").asc()
    )
    from .pip_knn import _cache_scoped

    # persist the bounded candidate frame: every greedy stage re-reads
    # it (and sims derives from it) — without this the corpus-wide
    # relevance BNLJ scan re-executes once per pick (measured: 21 nested
    # -loop joins in the k_sel=3 plan vs 1 with the persist)
    cand = _cache_scoped(
        "mmr_cand",
        rel.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= k_cand)
        .select("query_id", "doc_id", "rel", "cq"),
    )
    a = cand.select(
        "query_id", F.col("doc_id").alias("id_a"), F.col("cq").alias("va")
    )
    b = cand.select(
        "query_id", F.col("doc_id").alias("id_b"), F.col("cq").alias("vb")
    )
    sims = _cache_scoped(
        "mmr_sims",
        a.join(b, "query_id")
        .filter(F.col("id_a") != F.col("id_b"))
        .withColumn("sim", _dot(F.col("va"), F.col("vb")))
        .select("query_id", "id_a", "id_b", "sim"),
    )
    pool = cand.select("query_id", "doc_id", "rel")
    picks: list[DataFrame] = []
    selected: DataFrame | None = None
    for i in range(1, int(k_sel) + 1):
        if selected is None:
            scored = pool.select(
                "query_id", "doc_id",
                (F.lit(2) * F.col("rel")).alias("score"),
            )
        else:
            ms = (
                sims.join(
                    selected.select(
                        "query_id", F.col("doc_id").alias("id_b")
                    ),
                    ["query_id", "id_b"],
                )
                .groupBy("query_id", F.col("id_a").alias("doc_id"))
                .agg(F.max("sim").alias("max_sim"))
            )
            scored = pool.join(ms, ["query_id", "doc_id"]).select(
                "query_id", "doc_id",
                (F.lit(2) * F.col("rel") - F.col("max_sim")).alias("score"),
            )
        pick = (
            scored.groupBy("query_id")
            .agg(
                F.min_by(
                    F.struct("doc_id", "score"),
                    F.struct(
                        (-F.col("score")).alias("a"),
                        F.col("doc_id").alias("b"),
                    ),
                ).alias("p")
            )
            .select(
                "query_id",
                F.col("p.doc_id").alias("doc_id"),
                F.col("p.score").alias("score"),
                F.lit(i).alias("pick"),
            )
        )
        picks.append(pick)
        selected = pick if selected is None else selected.unionByName(pick)
        pool = pool.join(
            pick.select("query_id", "doc_id"), ["query_id", "doc_id"],
            "left_anti",
        )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out.select(
        "query_id", F.col("pick").cast("int").alias("pick"),
        "doc_id", "score",
    )


def mutual_knn(
    df: DataFrame, k: int = 5, id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Mutual-kNN graph: (id_a, id_b, rank_ab, rank_ba) for unordered pairs
    where EACH vector is in the other's exact cosine top-k (a < b).

    The reciprocal constraint is the standard robustness filter on kNN
    structure (hubness suppression, dedup-cluster edges, UMAP/HDBSCAN-style
    graph construction): a hub appearing in everyone's top-k keeps only the
    edges it reciprocates.  Output carries both ranks (exact ints —
    orderings are compared cross-engine, never raw float sums), no float
    columns.

    Scale design: the top-k frame is computed once and self-joined on the
    REVERSED key pair — a (query, neighbor)-keyed equi-join of two
    corpus x k row frames, never a second distance pass; at 100 TB the
    same reciprocal join applies unchanged to IVF/SRP-generated candidate
    top-k (this exact form is the verify path).
    """
    topk = brute_force_topk(df, df, k=k, id_col=id_col, vec_col=vec_col).select(
        "query_id", "neighbor_id", "rank"
    )
    ab = topk.filter(F.col("query_id") < F.col("neighbor_id")).select(
        F.col("query_id").alias("id_a"),
        F.col("neighbor_id").alias("id_b"),
        F.col("rank").alias("rank_ab"),
    )
    ba = topk.filter(F.col("query_id") > F.col("neighbor_id")).select(
        F.col("neighbor_id").alias("id_a"),
        F.col("query_id").alias("id_b"),
        F.col("rank").alias("rank_ba"),
    )
    return ab.join(ba, ["id_a", "id_b"]).select(
        "id_a", "id_b",
        F.col("rank_ab").cast("int").alias("rank_ab"),
        F.col("rank_ba").cast("int").alias("rank_ba"),
    )


def knn_classify(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-NN majority-vote classifier evaluation -> confusion matrix
    (true_label, pred_label, n_queries).

    The standard embedding-quality probe: classify each query by the
    majority label of its k exact cosine neighbors (self excluded) and
    cross-tabulate against the true label — accuracy / per-class recall
    are consumer-side ratios of the emitted integers. Vote ties break on
    the SMALLER label (frozen rule, replayed in the oracle via the
    row_number-over-(n DESC, label ASC) subquery — DuckDB min_by rejects
    composite keys).

    Plan: brute_force_topk broadcasts the query side so the corpus scan
    never shuffles; the label lookup broadcasts the q*k candidate frame
    back into the corpus scan; two bounded aggregates finish. At recall
    scale, swap brute_force_topk for ivf_topk/sq_topk — the vote and
    confusion stages are unchanged.
    """
    topk = brute_force_topk(queries, corpus, k, id_col, vec_col)
    lbl = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("nl")
    )
    votes = (
        lbl.join(broadcast(topk.select("query_id", "neighbor_id")), "neighbor_id")
        .groupBy("query_id", "nl")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pred = votes.groupBy("query_id").agg(
        F.min_by(
            "nl", F.struct((-F.col("n")).alias("a"), F.col("nl").alias("b"))
        ).alias("pred_label")
    )
    truth = queries.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("true_label")
    )
    return (
        pred.join(broadcast(truth), "query_id")
        .groupBy("true_label", "pred_label")
        .agg(F.count(F.lit(1)).alias("n_queries"))
    )

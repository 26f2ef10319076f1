"""Corpus-level text statistics for training-data curation.

Engine-added capabilities (task mandate: "the operations a large-scale
training-data pipeline would need") in the same declarative style as the rest
of the engine — pure JVM column expressions, shuffle-conscious plans:

- ``vocabulary``: corpus vocabulary with term + document frequencies.
  One explode + ONE shuffle keyed by word (hash-uniform, no skew); the
  doc-frequency count is a distinct aggregate Spark executes as a partial
  (word, doc) dedup before the final word aggregation — no driver collect.
- ``tf_idf_topk``: per-document top-k terms by tf-idf. The word->df side is
  the vocabulary aggregation reused; the join back to (doc, word, tf) keys on
  word (same hash space, AQE-coalesced), then a per-doc window takes top-k.
  At 10^12 docs the window partitions by doc id — no global sort.
- ``length_quantiles``: exact per-group percentiles via Spark's native
  ``percentile`` (type-7 linear interpolation — matches DuckDB
  ``quantile_cont``, which the oracle relies on). Exact rather than
  approx_percentile so the driver can hash-compare; swap in approx_percentile
  at 100 TB when +-epsilon is acceptable.

All three carry FULL DuckDB oracles in __spark_entry__.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def word_shingles(df: DataFrame, text_col: str, id_col: str, w: int = 3) -> DataFrame:
    """Distinct w-word shingles per doc, built JVM-side (split + slice +
    explode)."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - (w - 1), F.lit(1)))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, w)))
    out = df.select(F.col(id_col), F.explode(sh).alias("shingle"))
    return out.dropDuplicates([id_col, "shingle"])


def _tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, tok) rows: casefolded whitespace tokens (the engine's frozen
    tokenization — same rule as ``word_shingles``)."""
    return df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("tok"),
    ).filter(F.length("tok") > 0)


def vocabulary(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """(word, tf, df_docs): corpus term frequency + document frequency.

    Plan: explode -> one hash aggregation keyed by word. ``count(DISTINCT
    id)`` runs as a two-phase distinct-then-count inside the same exchange —
    the word key is hash-uniform so no salting is needed (contrast the
    hot-cell salting in operators/skew.py, where keys are spatial).
    """
    toks = _tokens(df, text_col, id_col)
    return toks.groupBy(F.col("tok").alias("word")).agg(
        F.count("*").alias("tf"),
        F.countDistinct(id_col).alias("df_docs"),
    )


def vocab_topk(
    df: DataFrame, k: int = 100, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Top-k vocabulary by corpus frequency (ties break on the word — frozen
    rule). orderBy+limit executes as distributed TakeOrdered (map-side
    partial top-k), never a full sort."""
    return (
        vocabulary(df, text_col, id_col)
        .orderBy(F.col("tf").desc(), F.col("word").asc())
        .limit(k)
    )


def good_turing(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_r: int = 30,
) -> DataFrame:
    """Good-Turing frequency-of-frequencies table -> (r, n_r, n_r_next,
    r_star_num) for r <= max_r: N_r = how many distinct units occur
    exactly r times, and the smoothed-count NUMERATOR r* . N_r =
    (r+1) . N_{r+1} left as an exact integer (the caller divides by N_r;
    emitting the unreduced rational keeps the output float-free — the
    pack_sequences rule). N_1 / total is the Turing missing-mass
    estimate; language-model smoothing reads the low-r rows, which is
    why the output is capped there (the tail is sparse and unsmoothable
    anyway — Gale & Sampson 1995).

    The counted unit is the word BIGRAM with multiplicity (NOT the
    per-doc-distinct word_shingles) — the vocab_growth lesson: this
    corpus's closed 31-word vocabulary has no low-r tail at all, while
    the sequence space does, and that is exactly the regime Good-Turing
    smooths.

    Plan: explode -> one gram-keyed hash agg -> one tiny r-keyed agg ->
    a broadcast self-join on r+1 that stays dimension-sized (max_r
    rows). Scale shape: the only data-sized exchange is the gram agg,
    which is hash-uniform; everything after is O(max_r)."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - 1, F.lit(1)))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, 2)))
    grams = df.select(F.explode(sh).alias("gram")).filter(
        F.length("gram") > 0
    )
    freq = (
        grams.groupBy("gram")
        .agg(F.count("*").alias("tf"))
        .groupBy(F.col("tf").alias("r"))
        .agg(F.count("*").alias("n_r"))
        .filter(F.col("r") <= max_r + 1)
    )
    nxt = freq.select(
        (F.col("r") - F.lit(1)).alias("r"), F.col("n_r").alias("n_r_next")
    )
    return (
        freq.filter(F.col("r") <= max_r)
        .join(F.broadcast(nxt), "r", "left")
        .select(
            F.col("r").cast("long").alias("r"),
            F.col("n_r").cast("long").alias("n_r"),
            F.coalesce(F.col("n_r_next"), F.lit(0)).cast("long").alias(
                "n_r_next"
            ),
            ((F.col("r") + F.lit(1))
             * F.coalesce(F.col("n_r_next"), F.lit(0))).cast("long").alias(
                "r_star_num"
            ),
        )
    )


def greedy_cover(
    docs: DataFrame,
    rounds: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy maximum-coverage document selection — the submodular
    curation primitive (pick the document adding the most NOT-yet-covered
    vocabulary each round; the classic (1 - 1/e) greedy for instruction/
    diversity-driven corpus selection, Nemhauser et al. 1978).

    Returns (round, doc_id, gain): the pick order and each pick's
    marginal coverage gain. The coverage unit is the 3-word SHINGLE (the
    vocab_growth rule: this corpus's closed 31-word vocabulary saturates
    in one pick; the sequence space is what diversity selection is
    about). Deterministic tie-break (gain DESC, doc_id ASC — the frozen
    argmax rule). A document whose shingles are fully covered contributes
    no row to the gain table, so already-picked documents exclude
    themselves and the loop stops early when nothing uncovered remains
    (fixed ``rounds`` otherwise).

    Scale shape (the bpe._learn recipe): the corpus is touched ONCE — the
    distinct (doc, shingle) gram table, localCheckpoint-pinned and reused
    every round; per round one anti-join against the covered-shingle set
    (bounded: union of <= ``rounds`` picked documents' shingles, a
    broadcast-sized dim by construction), one map-side-combining count
    per doc, and a 1-row composite-key min_by argmax collect (the bounded
    driver-scalar precedent). No sort, no unbounded state.

    FULL oracle: unrolled per-round CTE stages replaying the anti-join
    count, the row_number()-over-(gain DESC, doc_id) pick (the DuckDB
    composite-argmax rule) and the covered-set union."""
    from .iterhelp import coalesced_small_shuffles

    grams = (
        word_shingles(docs, text_col, id_col, w=3)
        .select(F.col(id_col).alias("doc_id"), F.col("shingle").alias("tok"))
        .localCheckpoint()
    )
    picked: list[int] = []
    rows: list[tuple[int, int, int]] = []
    with coalesced_small_shuffles(docs.sparkSession):  # r6: coalesced rounds
        for r in range(1, rounds + 1):
            uncov = grams
            if picked:
                covered = (
                    grams.filter(F.col("doc_id").isin(picked))
                    .select("tok")
                    .distinct()
                )
                uncov = grams.join(F.broadcast(covered), "tok", "left_anti")
            best = (
                uncov.groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("gain"))
                .agg(
                    F.min_by(
                        F.struct(
                            F.col("doc_id").alias("doc_id"),
                            F.col("gain").alias("gain"),
                        ),
                        F.struct(
                            (-F.col("gain")).alias("k1"),
                            F.col("doc_id").alias("k2"),
                        ),
                    ).alias("b")
                )
                .collect()[0]["b"]
            )
            if best is None:
                break
            picked.append(int(best["doc_id"]))
            rows.append((r, int(best["doc_id"]), int(best["gain"])))
    return docs.sparkSession.createDataFrame(
        rows, "round int, doc_id long, gain long"
    )


def tf_idf_topk(
    df: DataFrame, k: int = 5, text_col: str = "text", id_col: str = "doc_id",
    n_docs: int | None = None,
) -> DataFrame:
    """(id, word, tf, score, rank): per-document top-k terms by tf-idf with
    score = tf * ln(N / df). ``n_docs`` may be passed when already known
    (avoids one count job); ties break (score desc, word asc).

    Scale shape: tokens aggregate once per (doc, word); the word->df dim
    joins back on the same word hash space; ranking partitions by doc id.
    """
    n = n_docs if n_docs is not None else df.count()
    toks = _tokens(df, text_col, id_col)
    doc_tf = toks.groupBy(id_col, F.col("tok").alias("word")).agg(
        F.count("*").alias("tf")
    )
    # df side derives from doc_tf (already one row per (doc, word)): a plain
    # count, not a second explode + countDistinct over the raw token stream —
    # halves the widest shuffle of the job
    word_df = doc_tf.groupBy("word").agg(F.count("*").alias("df_docs"))
    scored = doc_tf.join(word_df, "word").withColumn(
        "score", F.col("tf") * F.log(F.lit(float(n)) / F.col("df_docs"))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("word").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "word", "tf", "score", "rank")
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Gopher-style repetition signals per document:

    - ``dup_word_frac``: 1 - distinct/total words (templated boilerplate has
      a high value);
    - ``top_bigram_frac``: occurrences of the most frequent adjacent word
      pair over (n_words - 1) — catches "foo bar foo bar ..." loops that
      word-level dedup misses. 0.0 for single-word docs.

    Plan: ONE fan-out — words and bigrams explode together as tagged (kind,
    value) units, then one (id, kind, value) count feeds one per-doc
    aggregate (the input is scanned and tokenized once). Docs with zero
    words drop out (no denominators).
    """
    toks_arr = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    base = df.select(F.col(id_col), toks_arr.alias("tk"), F.size(toks_arr).alias("n_tok"))
    words = F.filter(F.col("tk"), lambda t: F.length(t) > 0)
    w_units = F.transform(words, lambda t: F.struct(F.lit("w").alias("kind"), t.alias("v")))
    # adjacent pairs only exist for n_tok >= 2 (Spark's sequence(1, 0) would
    # generate a DESCENDING range — guard explicitly)
    bi = F.when(
        F.col("n_tok") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.col("n_tok") - 1),
            lambda i: F.struct(F.lit("b").alias("kind"), F.concat_ws(" ", F.slice("tk", i, 2)).alias("v")),
        ),
    ).otherwise(F.array().cast("array<struct<kind:string,v:string>>"))
    units = base.select(id_col, F.explode(F.concat(w_units, bi)).alias("u"))
    counts = units.groupBy(id_col, "u.kind", "u.v").agg(F.count("*").alias("c"))
    per_doc = counts.groupBy(id_col).agg(
        F.sum(F.when(F.col("kind") == "w", F.col("c"))).alias("n_words"),
        F.count(F.when(F.col("kind") == "w", 1)).alias("n_distinct"),
        F.max(F.when(F.col("kind") == "b", F.col("c"))).alias("top_bigram"),
    )
    return (
        per_doc.filter(F.col("n_words").isNotNull())
        .select(
            id_col,
            F.col("n_words"),
            F.round(F.lit(1.0) - F.col("n_distinct") / F.col("n_words"), 6).alias(
                "dup_word_frac"
            ),
            F.when(
                F.col("n_words") >= 2,
                F.round(
                    F.coalesce(F.col("top_bigram"), F.lit(0)) / (F.col("n_words") - 1), 6
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("top_bigram_frac"),
        )
    )


def curation_filter(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    min_tokens: int = 10, max_dup_word_frac: float = 0.6,
    max_top_bigram_frac: float = 0.4, min_quality: float = 0.3,
) -> DataFrame:
    """The end-to-end curation decision: compose the engine's quality
    signals into a keep/drop verdict with a frozen first-match reject
    reason (the order IS the contract — short-circuit cheapest-first):

      too_short -> repetitive_words -> repetitive_bigrams -> low_quality -> keep

    Returns (id, keep, reject_reason[, signals]) for every input doc — a
    curation run FILTERS on ``keep`` but LOGS the reasons (reject-reason
    histograms are how a 100 TB pipeline is audited). One scan + the
    repetition fan-out; everything else is codegen columns.
    """
    from ..functions.textstats import quality_score, token_count

    rep = repetition_stats(df, text_col, id_col)
    base = df.select(
        F.col(id_col),
        token_count(F.col(text_col)).alias("n_tok"),
        F.round(quality_score(F.col(text_col)), 6).alias("quality"),
    )
    j = base.join(rep, id_col, "left")
    reason = (
        F.when(F.col("n_tok") < min_tokens, "too_short")
        .when(F.col("dup_word_frac") > max_dup_word_frac, "repetitive_words")
        .when(F.col("top_bigram_frac") > max_top_bigram_frac, "repetitive_bigrams")
        .when(F.col("quality") < min_quality, "low_quality")
        .otherwise("keep")
    )
    return j.select(
        id_col,
        reason.alias("reject_reason"),
        (reason == "keep").alias("keep"),
    )


_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """The published Gopher document-quality ruleset (Rae et al. 2021,
    Table A1) evaluated EXACTLY: every ratio threshold is decided by
    integer cross-multiplication (3 <= chars/words <= 10 becomes
    3*words <= chars <= 10*words), so the verdict replays bit-for-bit
    in any engine — no float exists anywhere.

    Emits the MEASUREMENTS (not just the verdict): word count, summed
    word chars, alpha-word count, distinct required-stopword hits,
    symbol (#/ellipsis) count, line/bullet/ellipsis-line counts, plus
    the frozen first-fail reason — the audit columns a 100 TB curation
    run logs (the curation_filter discipline; this is the
    document-level complement of the line-level c4_filters).

    Rule order (first match IS the contract): word_count ->
    mean_word_length -> symbol_ratio -> bullet_lines -> ellipsis_lines
    -> alpha_frac -> stopwords -> pass.

    Plan: pure codegen columns off one scan — array ops on the frozen
    tokenization, zero UDFs, zero shuffles."""
    arr = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
        lambda x: F.length(x) > 0,
    )
    lines = F.split(F.col(text_col), "\n")
    stops = F.array(*[F.lit(s) for s in _GOPHER_STOPS])
    base = df.select(
        F.col(id_col),
        F.size(arr).cast("long").alias("n_words"),
        F.coalesce(
            F.aggregate(
                F.transform(arr, lambda x: F.length(x).cast("long")),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            ),
            F.lit(0).cast("long"),
        ).alias("word_chars"),
        F.size(
            F.filter(arr, lambda x: x.rlike("^[a-z]+$"))
        ).cast("long").alias("n_alpha"),
        F.size(
            F.array_distinct(
                F.filter(arr, lambda x: F.array_contains(stops, x))
            )
        ).cast("long").alias("n_stop_distinct"),
        (
            (F.length(text_col)
             - F.length(F.replace(F.col(text_col), F.lit("#"), F.lit(""))))
            + F.expr(
                f"(length({text_col}) - length(replace({text_col}, '...', ''))) div 3"
            )
        ).cast("long").alias("n_symbols"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(
            F.filter(
                lines,
                lambda x: x.startswith("- ") | x.startswith("* "),
            )
        ).cast("long").alias("n_bullet_lines"),
        F.size(
            F.filter(lines, lambda x: x.endswith("..."))
        ).cast("long").alias("n_ellipsis_lines"),
    )
    reason = (
        F.when(
            (F.col("n_words") < 50) | (F.col("n_words") > 100000),
            "word_count",
        )
        .when(
            (F.col("word_chars") < 3 * F.col("n_words"))
            | (F.col("word_chars") > 10 * F.col("n_words")),
            "mean_word_length",
        )
        .when(10 * F.col("n_symbols") > F.col("n_words"), "symbol_ratio")
        .when(
            10 * F.col("n_bullet_lines") > 9 * F.col("n_lines"),
            "bullet_lines",
        )
        .when(
            10 * F.col("n_ellipsis_lines") > 3 * F.col("n_lines"),
            "ellipsis_lines",
        )
        .when(5 * F.col("n_alpha") < 4 * F.col("n_words"), "alpha_frac")
        .when(F.col("n_stop_distinct") < 2, "stopwords")
        .otherwise("pass")
    )
    return base.select(
        id_col,
        "n_words",
        "word_chars",
        "n_alpha",
        "n_stop_distinct",
        "n_symbols",
        "n_lines",
        "n_bullet_lines",
        "n_ellipsis_lines",
        reason.alias("first_fail"),
        (reason == "pass").alias("keep"),
    )


def vocab_growth(
    df: DataFrame, n_buckets: int = 10,
    text_col: str = "text", id_col: str = "doc_id",
    n_docs: int | None = None,
) -> DataFrame:
    """(bucket, n_new, cum_vocab): Heaps-law vocabulary growth curve —
    how fast does the vocabulary grow as the corpus is ingested in id
    order? The tokenizer-budget / corpus-saturation planning signal
    (new-domain data keeps the curve steep; near-duplicate data flattens
    it).

    The unit is the 3-word SHINGLE, not the word: a small closed word
    vocabulary saturates instantly (this corpus: 31 words, all seen by
    doc 8) while the sequence space keeps growing — the signal Heaps'
    law is about.

    Exact formulation: a shingle's arrival point is its FIRST document
    (min(id)), so the curve is one shingle-keyed aggregate — never a
    cumulative-distinct window (which would shuffle every (prefix, unit)
    pair). Buckets are (first_doc * n_buckets) div N on nonneg ids
    (trunc == floor, cross-engine exact); the cumulative sum is a window
    over <= n_buckets rows — driver-trivial by construction.
    """
    if n_docs is None:
        n_docs = df.agg(F.max(id_col)).first()[0] + 1
    first = word_shingles(df, text_col, id_col, w=3).groupBy("shingle").agg(
        F.min(id_col).alias("fd")
    )
    counts = first.select(
        F.expr(f"(fd * {int(n_buckets)}) div {int(n_docs)}").alias("bucket")
    ).groupBy("bucket").agg(F.count(F.lit(1)).alias("n_new"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return counts.select(
        "bucket", "n_new", F.sum("n_new").over(w).alias("cum_vocab")
    )


def heaps_fit(
    df: DataFrame,
    n_buckets: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Heaps'-law regression statistics over the vocab_growth curve ->
    one row (n_points, sx, sy, sxy, sxx): exact int64 OLS moments of
    (ln cumulative docs, ln cumulative vocabulary) — the fitted slope
    (consumer-side ratio, the kendall rule) IS the Heaps exponent beta
    (V ~ k.n^beta, natural text beta ~ 0.4-0.6; near-duplicate corpora
    bend it toward 0). The Zipf/Heaps pair are the two corpus-health
    power laws; zipf_fit covers the other.

    Cumulative docs through bucket b is the exact integer
    ceil(N(b+1)/10) = (N(b+1) + 9) div 10 (the bucket rule inverted);
    ln values enter as 1e6 half-even fixed points (np.rint ==
    round_even, the zipf_fit recipe). Plan: vocab_growth's shingle agg
    + one 10-row projection + one 1-row aggregate."""
    n_docs = df.agg(F.max(id_col)).first()[0] + 1
    curve = vocab_growth(df, n_buckets, text_col, id_col, n_docs=n_docs)
    pts = curve.select(
        _ln_fp_udf()(
            F.expr(
                f"(({int(n_docs)} * (bucket + 1)) + {int(n_buckets) - 1}) "
                f"div {int(n_buckets)}"
            ).cast("double")
        ).alias("x"),
        _ln_fp_udf()(F.col("cum_vocab").cast("double")).alias("y"),
    )
    return pts.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )


def length_quantiles(
    df: DataFrame, group_col: str = "lang", value_col: str = "n_chars",
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9),
) -> DataFrame:
    """Exact per-group value quantiles (doc-length distribution per language —
    the corpus-health profile a curation pipeline monitors)."""
    exprs = [
        F.round(F.percentile(F.col(value_col), F.lit(q)), 6).alias(f"q{int(q * 100)}")
        for q in quantiles
    ]
    return df.groupBy(group_col).agg(F.count("*").alias("n_docs"), *exprs)


def quality_percentile(
    df: DataFrame,
    by: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group percentile normalization of the frozen quality score —
    score CALIBRATION across heterogeneous sources (a raw 0.6 from a clean
    source and from a noisy source mean different things; mixing decisions
    want the within-source rank).  Output (id, group, quality, rk, n,
    permille): rk = rank by (quality desc, id), n = group size, permille =
    (rk - 1) * 1000 div max(n - 1, 1) — ALL exact integers (the quality
    score itself is the oracle-proven frozen composite, so ordering on it
    replays exactly; integral ``div`` avoids float percentile drift).

    Plan: ONE group-keyed Exchange carries both the rank window and the
    group-count window (same partitioning, no second shuffle)."""
    from ..functions.textstats import quality_score

    w = Window.partitionBy(by)
    wr = w.orderBy(F.col("quality").desc(), F.col(id_col).asc())
    out = (
        df.select(
            F.col(id_col), F.col(by), quality_score(F.col(text_col)).alias("quality")
        )
        .withColumn("rk", F.row_number().over(wr).cast("long"))
        .withColumn("n", F.count(F.lit(1)).over(w))
    )
    return out.withColumn(
        "permille", F.expr("(rk - 1) * 1000 div greatest(n - 1, 1L)")
    )


def _kl_term_fp_udf():
    @F.pandas_udf("long")
    def _term_fp(
        csw: pd.Series, ns: pd.Series, cw: pd.Series, n: pd.Series
    ) -> pd.Series:
        # p_s * ln(p_s/p_all) with the ln ratio formed FACTOR-WISE —
        # (a/b) * (m/c), never the int64 products a*m / b*c, which wrap
        # silently beyond ~3e9 corpus tokens (ADVICE r4). Each factor is a
        # correctly-rounded division of exact int64 counts (< 2^53), the
        # product one more correctly-rounded multiply — bit-identical in
        # any IEEE engine, valid to 9e15 corpus tokens. ln ulp drift is
        # absorbed by the 1e12 rint margin (the bm25 recipe), then
        # per-term half-even fixed point BEFORE the order-free int sum
        # (the mutual_info/psi discipline).
        a = csw.to_numpy(np.int64)
        b = ns.to_numpy(np.int64)
        c = cw.to_numpy(np.int64)
        m = n.to_numpy(np.int64)
        r = a / b
        t = r * np.log(r * (m / c)) * 1e12
        return pd.Series(np.rint(t).astype(np.int64))

    return _term_fp


def source_divergence(
    df: DataFrame, text_col: str = "text", source_col: str = "source",
) -> DataFrame:
    """Per-source vocabulary drift: KL(P_source || P_corpus) over word
    unigram distributions — the corpus-mixture monitor (which crawl
    sources diverge from the blend; the text twin of psi_drift's numeric
    bins).  KL against the CORPUS marginal is always finite (every source
    word is a corpus word), needs no binning and no smoothing.

    Returns (source, n_words, n_tokens, kl_fp): distinct words, token
    count, and the exact int64 sum of per-word 1e12 fixed-point
    p_s ln(p_s/p_all) terms (KL = kl_fp / 1e12, consumer-side).

    Scale design: ONE token explode (narrow (source, tok)); the
    (source, word) count is the only data-sized aggregate (map-side
    combine); corpus word counts and per-source totals RE-AGGREGATE that
    collapsed frame; the word-keyed marginal join is the one skewable
    exchange (AQE skew-join handles the transient stopword partition);
    one Arrow pass for the terms."""
    toks = df.select(
        F.col(source_col).alias("source"),
        F.explode(
            F.filter(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
                lambda x: F.length(x) > 0,
            )
        ).alias("tok"),
    )
    csw = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("csw"))
    cw = csw.groupBy("tok").agg(F.sum("csw").alias("cw"))
    ns = csw.groupBy("source").agg(F.sum("csw").alias("ns"))
    n = csw.agg(F.sum("csw").alias("n"))
    terms = (
        csw.join(cw, "tok")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(n))
        .select(
            "source",
            _kl_term_fp_udf()(
                F.col("csw"), F.col("ns"), F.col("cw"), F.col("n")
            ).alias("term_fp"),
        )
    )
    agg = terms.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("term_fp").alias("kl_fp"),
    )
    return agg.join(
        ns.select("source", F.col("ns").alias("n_tokens")), "source"
    ).select("source", "n_words", "n_tokens", "kl_fp")


def _ln_fp_udf(scale: float = 1e6):
    @F.pandas_udf("long")
    def ln_fp(v: pd.Series) -> pd.Series:
        # per-value half-even fixed point (np.rint == DuckDB round_even);
        # the 1e6 scale keeps x*y cross products far inside int64 while
        # still absorbing np.log-vs-libm ulp drift (the bm25 rule)
        return pd.Series(
            np.rint(np.log(v.to_numpy(np.float64)) * scale).astype(np.int64)
        )

    return ln_fp


def zipf_fit(
    df: DataFrame,
    top_v: int = 500,
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Zipf rank-frequency regression statistics per language ->
    (lang, n_words, sx, sy, sxy, sxx): the exact int64 OLS moments of
    (ln rank, ln frequency) over the top ``top_v`` vocabulary — the
    standard corpus-health diagnostic (natural language tracks slope
    ~ -1; scraped boilerplate and spam bend the tail). The slope
    (n*sxy - sx*sy) / (n*sxx - sx^2) is a consumer-side ratio of the
    emitted integers (the kendall/assortativity rule).

    ln values enter as per-term 1e6 half-even fixed points, so every
    cross product stays far inside int64 and the sums are order-free —
    bit-identical under any partitioning. Plan: one token aggregate per
    (lang, word), one per-lang window rank bounded to top_v, one
    aggregate; ranks tie-break (freq desc, word asc), frozen.
    """
    toks = df.select(
        F.col(lang_col).alias("lang"),
        F.explode(
            F.filter(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
                lambda x: F.length(x) > 0,
            )
        ).alias("word"),
    )
    freq = toks.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("f"))
    w = Window.partitionBy("lang").orderBy(
        F.col("f").desc(), F.col("word").asc()
    )
    top = (
        freq.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= top_v)
        .select(
            "lang",
            _ln_fp_udf()(F.col("r").cast("double")).alias("x"),
            _ln_fp_udf()(F.col("f").cast("double")).alias("y"),
        )
    )
    return top.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )


def s_stem(col: F.Column) -> F.Column:
    """Harman's S-stemmer (Harman 1991) as a pure codegen CASE — the
    conservative plural stripper IR evaluations showed performs within
    noise of Porter while never mangling a stem:

      1. -ies -> -y   unless -eies / -aies
      2. -es  -> -e   unless -aes / -ees / -oes
      3. -s   -> ''   unless -us / -ss

    First match wins; words shorter than 3 chars pass through.  No
    regex, no UDF — both engines evaluate the identical endswith /
    substring algebra."""
    n = F.length(col)
    return F.when(n < 3, col).when(
        col.endswith("ies")
        & ~col.endswith("eies")
        & ~col.endswith("aies"),
        F.concat(col.substr(F.lit(1), n - 3), F.lit("y")),
    ).when(
        ~col.endswith("ies")
        & col.endswith("es")
        & ~col.endswith("aes")
        & ~col.endswith("ees")
        & ~col.endswith("oes"),
        col.substr(F.lit(1), n - 1),
    ).when(
        col.endswith("s")
        & ~col.endswith("us")
        & ~col.endswith("ss")
        & ~col.endswith("es")
        & ~col.endswith("ies"),
        col.substr(F.lit(1), n - 1),
    ).otherwise(col)


def stem_vocab(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Stemmed vocabulary -> (stem, tf, df_docs, n_forms): corpus term
    frequency, document frequency and the number of distinct surface
    forms folded into each stem — the conflation table an IR index
    builds its dictionary from.  Plan: one token explode -> s_stem in
    codegen -> ONE stem-keyed hash aggregate (two-phase distincts for
    df_docs/n_forms share the exchange)."""
    toks = _tokens(df, text_col, id_col)
    st = toks.select(
        s_stem(F.col("tok")).alias("stem"), F.col("tok"), F.col(id_col)
    )
    return st.groupBy("stem").agg(
        F.count("*").alias("tf"),
        F.countDistinct(id_col).alias("df_docs"),
        F.countDistinct("tok").alias("n_forms"),
    )


def theil_decomp(
    df: DataFrame, value_col: str = "n_chars", group_col: str = "lang",
) -> DataFrame:
    """Theil inequality decomposition of a nonnegative size column
    across groups -> one row per group:
    (group, n_g, s_g, t_g_fp, between_fp, n, s).

    T_total = T_between + T_within (the additive-decomposability that
    makes Theil THE grouped inequality index, Theil 1967):

        T_g       = sum_{i in g} (x_i/S_g) ln(x_i S_g^-1 n_g)   [per-group]
        T_between = sum_g (S_g/S) ln((S_g/S)(N/n_g))
        T_within  = sum_g (S_g/S) T_g

    The engine emits t_g_fp = the exact int64 sum of per-doc 1e12
    half-even fixed-point terms and between_fp = the group's between
    term (the source_divergence/_kl_term_fp_udf kernel verbatim: every
    ratio factor-wise over exact int64 counts, ln ulp absorbed by the
    rint margin); the S_g/S weights and final assembly stay
    consumer-side rationals of the emitted integers.  Zero-size rows
    contribute 0 (ln 0 never evaluates).

    Plan: ONE scan -> broadcast group-dim join -> one Arrow pass for
    the within terms -> one group-keyed agg; the between term is
    group-dim x broadcast 1-row global."""
    vals = df.select(
        F.col(group_col).alias("g"), F.col(value_col).cast("long").alias("x")
    ).filter(F.col("x") > 0)
    grp = vals.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_g"), F.sum("x").alias("s_g")
    )
    glob = grp.agg(F.sum("n_g").alias("n"), F.sum("s_g").alias("s"))
    within = (
        vals.join(F.broadcast(grp), "g")
        .select(
            "g",
            _kl_term_fp_udf()(
                F.col("x"), F.col("s_g"), F.lit(1).cast("long"), F.col("n_g")
            ).alias("term_fp"),
        )
        .groupBy("g")
        .agg(F.sum("term_fp").alias("t_g_fp"))
    )
    return (
        grp.join(within, "g")
        .crossJoin(F.broadcast(glob))
        .select(
            F.col("g").alias(group_col),
            "n_g", "s_g", "t_g_fp",
            _kl_term_fp_udf()(
                F.col("s_g"), F.col("s"), F.col("n_g"), F.col("n")
            ).alias("between_fp"),
            "n", "s",
        )
    )

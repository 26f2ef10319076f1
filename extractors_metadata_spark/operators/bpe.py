"""BPE merge-rule induction — tokenizer training over the corpus.

Engine-added LLM-data-pipeline capability: byte-pair encoding (Sennrich et
al. 2016), the vocabulary-induction step every modern tokenizer (GPT/BPE,
SentencePiece-BPE) runs over the training corpus.  Each round finds the
most frequent adjacent symbol pair (corpus-frequency weighted) and fuses it
into a new symbol; the learned merge table IS the tokenizer.

Greedy in-word semantics (the reference BPE rule): merges apply left to
right, an absorbed symbol cannot start another merge in the same round —
"aaaa" under (a,a) becomes "(aa)(aa)", "aaa" becomes "(aa)a".  That
sequential rule is re-expressed DECLARATIVELY as islands + parity: within a
maximal run of consecutive candidate positions, exactly the even offsets
merge (adjacent candidates only arise when left == right, and greedy takes
every other one).  No sequential fold anywhere — which is what makes the
operator replayable in windowed SQL on any engine (DuckDB's list_reduce is
broken for struct state, CLAUDE.md).

Frozen tie-break: (pair count DESC, left ASC, right ASC).

Scale design (10^12 docs, ~10^8-word vocab):
- the corpus is touched ONCE (the frozen-tokenization word-frequency
  aggregate, map-side combining); every round after that runs on the
  NARROW vocab frame (word, freq, syms) — symbol work is O(|V| * avg word
  length) per round, independent of corpus size;
- per round: one map-side-combining pair-count aggregate, a 1-row global
  argmax (min_by on a composite key — the CLAUDE.md top-1 rule, never a
  sort), and ONE word-keyed Exchange that carries all six stacked window
  steps plus the rebuild groupBy (same key, same partitioning);
- the winning pair is a bounded 1-row collect per round (a driver-side
  scalar, never data-sized);
- ``localCheckpoint`` per round truncates the iterative lineage (JVM-only
  frame — the cluster_pairs rule); rounds are a fixed small k.

Reference analog: none (the reference computes no corpus statistics); this
completes the tokenizer-side suite (token_stats, pack_sequences, vocab) with
the vocabulary-LEARNING step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .corpus import vocabulary


def _initial_symbols(words: DataFrame) -> DataFrame:
    """(word, freq, syms): characters + the '</w>' end-of-word marker."""
    return words.select(
        "word",
        F.col("tf").alias("freq"),
        F.concat(F.split("word", ""), F.array(F.lit("</w>"))).alias("syms"),
    )


def _pair_counts(wsyms: DataFrame) -> DataFrame:
    """(l, r, cnt): corpus-frequency-weighted adjacent symbol pairs,
    extracted array-side (zero shuffle before the narrow explode)."""
    n = F.size("syms")
    pairs = F.transform(
        F.slice("syms", 1, F.greatest(n - 1, F.lit(0))),
        lambda x, i: F.struct(
            x.alias("l"), F.element_at("syms", i + F.lit(2)).alias("r")
        ),
    )
    return (
        wsyms.select("freq", F.explode(pairs).alias("p"))
        .groupBy("p.l", "p.r")
        .agg(F.sum("freq").alias("cnt"))
    )


def _merge_round(wsyms: DataFrame, left: str, right: str) -> DataFrame:
    """Apply one merge (left, right) to every word's symbol sequence —
    greedy-left-to-right via islands + parity, stacked windows on ONE
    word-keyed Exchange."""
    wnd = Window.partitionBy("word").orderBy("i")
    full = Window.partitionBy("word", "grp")
    cum = wnd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ex = (
        wsyms.select("word", "freq", F.posexplode("syms").alias("i", "s"))
        .withColumn("s_next", F.lead("s", 1).over(wnd))
        .withColumn(
            "cand",
            (F.col("s") == left) & F.col("s_next").eqNullSafe(F.lit(right)),
        )
        .withColumn(
            "run_head",
            F.col("cand") & ~F.coalesce(F.lag("cand", 1).over(wnd), F.lit(False)),
        )
        .withColumn(
            "grp", F.sum(F.when(F.col("run_head"), 1).otherwise(0)).over(cum)
        )
        .withColumn(
            "run_start", F.min(F.when(F.col("cand"), F.col("i"))).over(full)
        )
        .withColumn(
            "selected",
            F.col("cand") & (((F.col("i") - F.col("run_start")) % 2) == 0),
        )
        .withColumn(
            "absorbed", F.coalesce(F.lag("selected", 1).over(wnd), F.lit(False))
        )
    )
    return (
        ex.filter(~F.col("absorbed"))
        .select(
            "word",
            "freq",
            "i",
            F.when(F.col("selected"), F.concat("s", "s_next"))
            .otherwise(F.col("s"))
            .alias("ns"),
        )
        .groupBy("word", "freq")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("i", "ns"))),
                lambda x: x["ns"],
            ).alias("syms")
        )
    )


def _learn(
    docs: DataFrame, rounds: int, text_col: str, id_col: str
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Run the merge-learning loop; returns (merge rows, final symbol
    frame) so bpe_merges and bpe_encode share one pass."""
    wsyms = _initial_symbols(
        vocabulary(docs, text_col, id_col).select("word", "tf")
    ).localCheckpoint()
    out: list[tuple[int, str, str, int]] = []
    for r in range(1, rounds + 1):
        best = _pair_counts(wsyms).agg(
            F.min_by(
                F.struct(
                    F.col("l").alias("l"),
                    F.col("r").alias("r"),
                    F.col("cnt").alias("cnt"),
                ),
                F.struct(
                    (-F.col("cnt")).alias("k1"),
                    F.col("l").alias("k2"),
                    F.col("r").alias("k3"),
                ),
            ).alias("b")
        ).collect()[0]["b"]
        if best is None:
            break
        out.append((r, best["l"], best["r"], int(best["cnt"])))
        wsyms = _merge_round(wsyms, best["l"], best["r"]).localCheckpoint()
    return out, wsyms


def bpe_merges(
    docs: DataFrame,
    rounds: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Learn ``rounds`` BPE merge rules over the corpus.  Returns the merge
    table (round, left_sym, right_sym, pair_freq) — round is 1-based, in
    learning order; pair_freq the corpus-weighted adjacency count the rule
    won with.  Stops early if the vocabulary runs out of pairs."""
    out, _wsyms = _learn(docs, rounds, text_col, id_col)
    return docs.sparkSession.createDataFrame(
        out, "round int, left_sym string, right_sym string, pair_freq long"
    )


def bpe_encode(
    docs: DataFrame,
    rounds: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply the learned merge table back to the corpus: per document, the
    whitespace token count and the BPE token count under the ``rounds``-
    merge vocabulary — the tokenizer-applied-at-scale statistic (sequence
    budget planning; bpe/ws ratio is the compression the vocab buys).

    The encode costs NOTHING per document beyond one word-keyed join: the
    merge loop already leaves every distinct word's final symbol sequence
    (types, not tokens — the whole point of word-level BPE), so per-doc
    counts are sum(len(syms)) over the doc's words.  Returns
    (doc_id, ws_tokens, bpe_tokens)."""
    from .corpus import _tokens

    _out, wsyms = _learn(docs, rounds, text_col, id_col)
    wt = wsyms.select(
        F.col("word").alias("tok"), F.size("syms").cast("long").alias("n_sym")
    )
    toks = _tokens(docs, text_col, id_col)
    return (
        toks.join(wt, "tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("ws_tokens"),
            F.sum("n_sym").alias("bpe_tokens"),
        )
    )

"""Gale-Shapley stable matching over a data-derived preference matrix.

Engine-added capability, a TWO-SIDED assignment: match source feeds to
language-specialized processing queues where both sides rank each other
by observed (source, lang) document counts — the classic deferred-acceptance algorithm (Gale &
Shapley 1962), proposer-optimal and STABLE (no source/queue pair
prefers each other over their assignments).

Determinism: preferences are (count DESC, name ASC) total orders —
tie-break frozen; the BATCH variant (all free proposers propose each
round, queues keep the best by their rank) with the pointer rule
{won: ptr stays; rejected or displaced: ptr + 1} is schedule-free, and
the round count is bounded by the total proposal budget n^2 (each
non-converged round advances >= 1 pointer; converged rounds are
idempotent), so running a FIXED n^2 rounds is exact and replayable.

The matrix is a bounded dim (top-n sources x langs), so the rounds run
in ONE single-group Arrow pass; everything data-sized (the counts) is one
partial-agg groupBy. Oracle twin: the transition relation unrolls as n^2
generated CTE
stages over the tiny state frame (see oracles._gale_shapley_sql).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def gale_shapley(matrix: DataFrame, rounds: int) -> DataFrame:
    """matrix: (source, lang, c) complete over sources x langs.
    Returns (source, lang, pref_rank) — the stable assignment, with
    pref_rank the 1-based position of the assigned lang in the
    source's preference order."""

    def f(pdf: pd.DataFrame) -> pd.DataFrame:
        sources = sorted(pdf["source"].unique())
        langs = sorted(pdf["lang"].unique())
        c = {
            (r.source, r.lang): int(r.c)
            for r in pdf.itertuples(index=False)
        }
        prefs = {
            s: sorted(langs, key=lambda l: (-c[(s, l)], l))
            for s in sources
        }
        arank = {
            l: {
                s: i
                for i, s in enumerate(
                    sorted(sources, key=lambda s: (-c[(s, l)], s))
                )
            }
            for l in langs
        }
        ptr = {s: 1 for s in sources}
        match = {}  # source -> lang
        nl = len(langs)
        for _ in range(int(rounds)):
            props = {
                s: prefs[s][ptr[s] - 1]
                for s in sources
                if s not in match and ptr[s] <= nl
            }
            cand: dict = {}
            for s, l in match.items():
                cand.setdefault(l, []).append(s)
            for s, l in props.items():
                cand.setdefault(l, []).append(s)
            winners = {
                l: min(ss, key=lambda s: arank[l][s])
                for l, ss in cand.items()
            }
            new_match = {s: l for l, s in winners.items()}
            for s in sources:
                engaged = s in match or s in props
                if s not in new_match and engaged:
                    ptr[s] += 1
            match = new_match
        return pd.DataFrame(
            {
                "source": list(match),
                "lang": [match[s] for s in match],
                "pref_rank": [ptr[s] for s in match],
            }
        ).astype({"pref_rank": "int64"})

    return (
        matrix.groupBy(F.lit(1).alias("_g"))
        .applyInPandas(f, "source string, lang string, pref_rank long")
    )


def source_lang_matrix(docs: DataFrame, top_n: int = 5) -> DataFrame:
    """Complete (source, lang, c) matrix over the top-n sources by
    (total count DESC, source ASC) and all langs; missing combos c=0."""
    from pyspark.sql import Window

    counts = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = docs.groupBy("source").agg(F.count(F.lit(1)).alias("tot"))
    w = Window.orderBy(F.col("tot").desc(), F.col("source"))
    top = (
        tot.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_n)
        .select("source")
    )
    langs = docs.select("lang").distinct()
    full = top.crossJoin(langs)
    return full.join(counts, ["source", "lang"], "left").select(
        "source", "lang", F.coalesce("c", F.lit(0)).cast("long").alias("c")
    )

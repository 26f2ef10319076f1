"""RAKE keyword extraction (Rose et al. 2010) — per-document key phrases.

RAKE is the classic unsupervised keyword extractor a curation pipeline
runs to index/label a crawl: candidate phrases are the maximal runs of
content words between stopwords/punctuation; each word w gets
score(w) = deg(w)/freq(w) where freq counts its occurrences in the
document's candidate phrases and deg additionally credits the length of
every phrase it appears in (so words that travel in long collocations
outrank isolated frequent words); a phrase scores the sum of its member
word scores, and the top-k phrases per document are the keywords.
Reference analog: none (the reference never summarizes text); this adds
a keyword/labeling primitive that is document-LOCAL, unlike
corpus-weighted tf-idf — which is exactly what makes it scale.

Exact cross-engine design: all inputs to the one division are exact
int64 counts (deg, freq); the per-word score is emitted as 1e9 fixed
point via round_even — np.rint == DuckDB round_even (CLAUDE.md pairing)
and IEEE (1e9*deg)/freq is bit-identical in both engines because
1e9*deg stays exact below 2^53 (deg is per-document, bounded by doc
length — safe to ~9e6 tokens/doc). Phrase scores are then int64 SUMS of
word fixed points — no cross-engine float aggregation anywhere. Ranking
tie-break is frozen (score desc, phrase asc); phrases are pure ASCII
([a-z0-9 ]) so Python/Spark/DuckDB string orderings agree.

Scale shape: the ENTIRE computation is document-local — one Arrow pass
(tokenize, split phrases, score, top-k fused in a single pandas UDF),
ZERO shuffles, embarrassingly parallel at any corpus size. The explode
of the k-row result array is the only fan-out (k a bounded literal).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# frozen: mirrored literally into the DuckDB oracle (single source)
RAKE_STOPWORDS = [
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for",
    "from", "had", "has", "have", "he", "her", "his", "in", "is", "it",
    "its", "not", "of", "on", "or", "she", "that", "the", "their",
    "they", "this", "to", "was", "we", "were", "with", "you",
]
TOP_K = 3
_TOKEN_RE = r"[a-z0-9]+|[^a-z0-9\s]"
_WORD_RE = r"^[a-z0-9]+$"


def _rake_kernel(top_k: int, stop: frozenset[str]):
    word_re = re.compile(_WORD_RE)
    token_re = re.compile(_TOKEN_RE)

    @pandas_udf("array<struct<phrase:string, score_fp:long>>")
    def _f(text: pd.Series) -> pd.Series:
        out: list[list[tuple[str, int]]] = []
        for t in text:
            if t is None:
                out.append([])
                continue
            toks = token_re.findall(t.lower())
            # maximal stopword/punctuation-free runs = candidate phrases
            phrases: list[list[str]] = []
            run: list[str] = []
            for tok in toks:
                if word_re.fullmatch(tok) and tok not in stop:
                    run.append(tok)
                elif run:
                    phrases.append(run)
                    run = []
            if run:
                phrases.append(run)
            if not phrases:
                out.append([])
                continue
            freq: dict[str, int] = {}
            deg: dict[str, int] = {}
            for p in phrases:
                for w in p:
                    freq[w] = freq.get(w, 0) + 1
                    deg[w] = deg.get(w, 0) + len(p)
            # per-word 1e9 fixed point: np.rint == DuckDB round_even;
            # (1e9*deg)/freq is one IEEE division on exact-int inputs
            wfp = {
                w: int(np.rint((1000000000.0 * deg[w]) / freq[w]))
                for w in freq
            }
            scored: dict[str, int] = {}
            for p in phrases:
                scored[" ".join(p)] = sum(wfp[w] for w in p)
            top = sorted(scored.items(), key=lambda kv: (-kv[1], kv[0]))
            out.append([(ph, sc) for ph, sc in top[:top_k]])
        return pd.Series(out)

    return _f


def rake_keywords(
    df: DataFrame,
    top_k: int = TOP_K,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, rank, phrase, score_fp): the top-``top_k`` RAKE phrases
    per document, rank 1-based by (score desc, phrase asc). Documents
    with no candidate phrase emit nothing."""
    sel = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            _rake_kernel(top_k, frozenset(RAKE_STOPWORDS))(F.col(text_col))
        ).alias("_i", "_kw"),
    )
    return sel.select(
        "doc_id",
        (F.col("_i") + 1).cast("int").alias("rank"),
        F.col("_kw.phrase").alias("phrase"),
        F.col("_kw.score_fp").alias("score_fp"),
    )

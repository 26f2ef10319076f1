"""Optimal prefix-code (Huffman) cost over a bounded symbol alphabet.

Engine-added capability (task mandate: operations a large-scale training-data
pipeline needs): the ENTROPY-CODING COST of a corpus slice — the exact number
of bits an optimal prefix code spends on it — is the classical compressibility
measure behind compression-ratio quality filters (boilerplate and spam are
highly compressible; natural prose is not) and storage-cost estimation.

Shape: weights arrive as a (key, symbol, weight) frame — here per-language
letter counts, computed JVM-side with the ``_occurrences`` length-arithmetic
trick (26 codegen expressions, no explode, no regex) and unpivoted with
``stack``. The Huffman construction itself (Huffman 1952) runs per key over
the BOUNDED alphabet (<= 26 live symbols) in one ``applyInPandas`` pass: an
integer heap ordered by (weight, id) — base symbols keep their alphabet ids,
merged nodes take ids ``next_id_start, next_id_start+1, ...`` in merge order —
and the total cost accumulates the merged weight at every merge (the standard
identity: total external path length = sum of internal node weights).

Determinism contract: the (weight, id) heap order with sequential merge ids
is a FROZEN tie-break, replayed verbatim by the oracle's unrolled stages
(row_number over (w, id) per stage). The emitted total is additionally
tie-break-INVARIANT by Huffman optimality (any valid construction reaches the
same minimum), so the contract is belt-and-braces, not load-bearing.

Convention: a single-symbol alphabet costs 0 bits (tree of depth 0); zero
-weight symbols are dropped before construction.

Scale design (100 TB): the data-sized work is ONE partial-aggregating groupBy
(26 sums — map-side combine collapses everything before the Exchange); the
construction then runs on <= 26 rows per key. int64 envelope: total corpus
weight per key * max depth (alphabet-1 = 25) < 2^63 — i.e. ~3.7e17 chars per
key.

Reference analog: none — part of the engine's corpus-analytics widening.
"""

from __future__ import annotations

import heapq

import pandas as pd
from pyspark.sql import DataFrame, functions as F


def huffman_cost(
    df: DataFrame,
    key_cols,
    sym_col: str = "sym",
    w_col: str = "w",
    next_id_start: int = 26,
) -> DataFrame:
    """Per-key optimal prefix-code cost over (symbol, weight) rows.

    Returns one row per key: (key..., n_syms, total_w, total_bits) —
    all exact int64. Zero/negative weights are dropped; one live symbol
    costs 0 bits.
    """
    keys = list(key_cols)
    live = df.filter(F.col(w_col) > 0).select(
        *keys,
        F.col(sym_col).cast("long").alias("_sym"),
        F.col(w_col).cast("long").alias("_w"),
    )
    schema = ", ".join(
        [f"{k} {t}" for k, t in _key_schema(live, keys)]
        + ["n_syms long", "total_w long", "total_bits long"]
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        h = sorted(
            (int(w), int(s)) for w, s in zip(pdf["_w"], pdf["_sym"])
        )
        n_syms = len(h)
        total_w = sum(w for w, _ in h)
        heapq.heapify(h)
        nxt = int(next_id_start)
        cost = 0
        while len(h) >= 2:
            w1, _ = heapq.heappop(h)
            w2, _ = heapq.heappop(h)
            cost += w1 + w2
            heapq.heappush(h, (w1 + w2, nxt))
            nxt += 1
        out = {k: [pdf[k].iloc[0]] for k in keys}
        out.update(
            {"n_syms": [n_syms], "total_w": [total_w], "total_bits": [cost]}
        )
        return pd.DataFrame(out)

    return live.groupBy(*keys).applyInPandas(fit, schema=schema)


def _key_schema(df: DataFrame, keys):
    m = dict(df.dtypes)
    return [(k, m[k]) for k in keys]


def letter_weights(
    df: DataFrame, key_cols, text_col: str = "text"
) -> DataFrame:
    """Per-key counts of the 26 ASCII letters in ``lower(text)`` —
    26 length-arithmetic codegen expressions summed in ONE partial
    aggregate, then unpivoted with ``stack`` to (key..., sym, w) where
    ``sym`` is the 0-based alphabet index. No explode, no regex, no UDF.
    """
    keys = list(key_cols)
    t = F.lower(F.col(text_col))
    sums = [
        F.sum(
            F.length(t) - F.length(F.replace(t, F.lit(chr(97 + i)), F.lit("")))
        ).cast("long").alias(f"_w{i}")
        for i in range(26)
    ]
    g = df.groupBy(*keys).agg(*sums)
    stack = "stack(26, " + ", ".join(
        f"{i}L, _w{i}" for i in range(26)
    ) + ") as (sym, w)"
    return g.select(*keys, F.expr(stack))

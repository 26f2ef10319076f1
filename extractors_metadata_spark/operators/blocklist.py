"""Literal-phrase blocklist screening — the trust-and-safety filter stage.

Web-corpus pipelines (C4's badwords filter, RefinedWeb/FineWeb URL+phrase
blocklists) drop or flag documents containing banned literal phrases.
This operator counts, per document, the non-overlapping occurrences of
every blocklist phrase and emits the keep/flag verdict plus audit
counters (blocklist runs FILTER on ``keep`` but LOG the hit histogram,
the curation_filter rule).  Reference analog: none (the reference gates
on metadata presence, terra_metadata.py check_message); this extends the
curation suite with the multi-pattern content screen.

Exactness: occurrence counts come from the replace-length identity
occ = (len(text) - len(replace(text, p, ''))) / len(p) — the numerator
is an exact multiple of len(p) by construction and the division is
emitted with INTEGER `div` (the pack_sequences rule: a mathematical
integer never travels as a float).  Both engines' replace() scans
leftmost non-overlapping, so counts agree byte-for-byte.

Scale shape: ALL K phrase counters are literal codegen expressions in
ONE projection over ONE scan — zero shuffle, zero fan-out (the text is
never duplicated K ways), embarrassingly parallel, whole-stage-codegen
end to end.  K is a broadcast-sized blocklist (hundreds); past codegen
limits (many thousands of phrases) the documented path is batching the
projection in column chunks or one Aho-Corasick Arrow pass over
mapInPandas.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def blocklist_hits(
    df: DataFrame,
    patterns: Sequence[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document blocklist screen -> (id, hits, n_patterns, keep):
    hits = total occurrences over all phrases, n_patterns = how many
    distinct phrases occur at least once, keep = no phrase occurs."""
    if not patterns:
        raise ValueError("blocklist_hits: empty pattern list")
    t = F.col(text_col)
    diffs = df.select(
        F.col(id_col),
        *[
            (F.length(t) - F.length(F.replace(t, F.lit(p), F.lit("")))).alias(
                f"_d{i}"
            )
            for i, p in enumerate(patterns)
        ],
    )
    occ = diffs.select(
        id_col,
        *[
            F.expr(f"_d{i} div {len(p)}").cast("long").alias(f"_o{i}")
            for i, p in enumerate(patterns)
        ],
    )
    hits = None
    npat = None
    for i in range(len(patterns)):
        o = F.col(f"_o{i}")
        flag = (o > 0).cast("long")
        hits = o if hits is None else hits + o
        npat = flag if npat is None else npat + flag
    return occ.select(
        id_col,
        hits.alias("hits"),
        npat.alias("n_patterns"),
        (hits == 0).alias("keep"),
    )

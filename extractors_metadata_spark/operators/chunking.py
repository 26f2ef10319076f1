"""Document chunking into overlapping fixed-token windows.

Engine-added capability (task mandate: training-data pipeline ops): LLM
training consumes fixed-length sequences; documents longer than the context
window must be SPLIT into overlapping windows before packing (packing bins
short docs together; chunking splits long ones apart). Standard
sliding-window rule: stride = chunk_tokens - overlap; every token is
covered; the last window may be short; windows carry (doc, index) lineage
for provenance.

Scale design (100 TB): pure JVM codegen — split/sequence/slice/array_join
inside one narrow projection + posexplode; ZERO shuffles (chunking is
embarrassingly row-local), so it composes with a downstream packing step
(whose shard-keyed window is then the only Exchange). The fan-out is bounded
by n_tokens/stride per doc and the document payload is consumed, not
duplicated (each chunk carries only its
own words).

Determinism contract (driver oracle): exact integer window arithmetic +
exact string slicing, replayed verbatim in SQL.

Reference analog: none — the reference treats each message's payload as
atomic; corpus-scale training cannot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """One row per (doc, window): (id, chunk_idx, n_tokens, chunk_text).

    ``n_chunks = max(1, ceil((n - overlap) / stride))`` with
    ``stride = chunk_tokens - overlap``: consecutive windows share
    ``overlap`` tokens; a doc at or under ``chunk_tokens`` yields exactly
    one whole-doc chunk. Requires ``0 <= overlap < chunk_tokens``."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    words = F.split(F.col(text_col), " ")
    n = F.size(words)
    n_chunks = F.greatest(
        F.expr(
            f"(size(split({text_col}, ' ')) - {overlap} + {stride - 1}) div {stride}"
        ),
        F.lit(1),
    )
    chunks = F.transform(
        F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
        lambda i: F.struct(
            F.least(F.lit(chunk_tokens), n - i * stride).alias("n_tokens"),
            F.array_join(
                F.slice(words, i * stride + 1, chunk_tokens), " "
            ).alias("chunk_text"),
        ),
    )
    return df.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "_c")
    ).select(id_col, "chunk_idx", "_c.n_tokens", "_c.chunk_text")

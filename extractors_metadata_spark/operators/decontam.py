"""Eval-set decontamination by sliding word n-gram overlap.

Engine-added capability (task mandate: operations a large-scale training-data
pipeline needs): before training, any document sharing a long-enough n-gram
with a held-out evaluation set must be dropped — the standard "13-gram
decontamination" step (GPT-3 appendix C, PaLM, The Pile). This is CROSS-TABLE
containment, not self-dedup: it removes training/eval leakage, not
training-internal duplicates.

Scale design (100 TB train vs small eval):
- The eval side reduces to a DISTINCT-gram set (exact strings, or hashes via
  the caller pre-hashing) that is tiny relative to train — it is broadcast,
  so the train side's gram explode is a map-side semi-join probe with NO
  shuffle of the exploded grams (the only shuffle is the per-doc hit count,
  keyed by the doc id, hash-uniform).
- The train fan-out is NARROW: (id, gram) only; the document payload never
  rides the explode; the verdict joins back to ids, not payloads.
- For a LARGE eval side, set ``broadcast_eval=False`` (plain equi-join) and
  pre-prune with ``sketches.bloom_build``/``bloom_prune`` over eval grams —
  the bloom's no-false-negative contract keeps the decontamination sound
  while filtering ~all clean grams before the shuffle.

Determinism contract (driver oracle): grams are exact strings assembled by
the same slice/join arithmetic in both engines; counts are exact integers —
full-oracle checkable.

Reference analog: none — the reference has no corpus-level operations; this
widens its per-document model per the task mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def word_ngrams(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """(id, text) -> exploded (id, gram): all sliding ``n``-word grams of the
    whitespace token stream (docs shorter than ``n`` words yield none).
    Pure JVM codegen — split/sequence/slice/array_join, no Python."""
    words = F.split(F.col(text_col), " ")
    grams = F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - n),
            lambda i: F.array_join(F.slice(words, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.select(F.col(id_col), F.explode(grams).alias("gram"))


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Flag every training document sharing any ``n``-word gram with the
    eval set. Returns one row per train doc:
    (id, n_grams, n_hits, contaminated) — ``n_hits`` counts the train-side
    gram POSITIONS that appear in the eval gram set (exact), ``contaminated``
    is ``1`` iff any hit. Docs are flagged, never silently dropped — the
    caller's filter applies the verdict (and logs the drop count)."""
    ev = word_ngrams(eval_df, id_col, text_col, n).select("gram").distinct()
    if broadcast_eval:
        ev = F.broadcast(ev)
    tg = word_ngrams(train, id_col, text_col, n)
    hits = (
        tg.join(ev, "gram", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    words = F.split(F.col(text_col), " ")
    base = train.select(
        F.col(id_col),
        F.greatest(F.size(words) - n + 1, F.lit(0)).cast("long").alias("n_grams"),
    )
    return (
        base.join(hits, id_col, "left")
        .withColumn("n_hits", F.coalesce(F.col("n_hits"), F.lit(0)).cast("long"))
        .withColumn("contaminated", (F.col("n_hits") > 0).cast("int"))
    )

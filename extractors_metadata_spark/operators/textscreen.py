"""Surface-statistics text screens: readability grading and encoding
(mojibake) triage.

Two document screens a web-corpus curation pipeline runs alongside its
quality/repetition gates:

- ``readability_stats``: Flesch-Kincaid grade banding from three exact
  integer sufficient statistics (words, pseudo-sentences, vowel-group
  syllables). The grade is a ratio of int64 polynomials — emitted as
  (numerator, denominator) plus an integer-compared band, so NO float
  ever crosses the oracle boundary (the kendall/assortativity
  consumer-side-ratio rule).
- ``encoding_scan``: the mojibake / replacement-character / control-
  character triage that catches double-encoded UTF-8 ("Ã©", "â€™"),
  decoder losses (U+FFFD) and binary bleed-through. The synthetic corpus
  is clean ASCII, so deterministic probe suffixes make every counter
  live (the pii_counts pattern); the detection patterns are LITERAL
  alternations — no character-class ranges — so Java regex and RE2
  count identically by construction.

Both are single codegen projections over the document scan: no shuffle,
no UDF, no Python — at 100 TB they ride the same scan as every other
per-document screen.

Reference parity: the reference's cleaner normalizes per-record string
fields (`/root/reference/cleaner/clean_metadata.py`); these screens are
the corpus-scale analog of that field scrubbing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Flesch-Kincaid grade = 0.39*(W/S) + 11.8*(Y/W) - 15.59. Scaled by 100
# and multiplied through by S*W: grade*100*S*W = FK_A*W^2 + FK_B*Y*S
# + FK_C*S*W — three exact int64 terms (W, Y bounded by document length;
# W <= ~1e6 keeps every term far inside int64).
FK_A = 39
FK_B = 1180
FK_C = -1559
# integer band cut-points, in grade*100 units
FK_BASIC_MAX = 600  # grade < 6  -> 'basic'
FK_INTER_MAX = 1200  # grade < 12 -> 'intermediate'

SYLLABLE_RE = "[aeiouy]+"

# encoding probes + literal detection alternations (mirrored in
# oracles/__init__.py via these constants — single source, no drift)
MOJIBAKE_PROBE = " mÃ©nu Ã¤ â€™"
REPLACEMENT_PROBE = " \ufffd"
CONTROL_PROBE = " \u0007bell"
MOJIBAKE_RE = "(Ã©|Ã¤|â€™)"
REPLACEMENT_RE = "\ufffd"
CONTROL_RE = "\u0007"
MOJIBAKE_MOD = 11
REPLACEMENT_MOD = 13
CONTROL_MOD = 17


def readability_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Flesch-Kincaid readability -> (doc_id, n_words, n_sentences,
    n_syllables, fk_num, fk_den, grade_band).

    Pseudo-sentences reuse the weblines segmentation width (8 + doc_id%5
    tokens — the corpus is punctuation-free, so sentence boundaries are
    derived, and varying the width by doc keeps the statistic
    non-degenerate). Syllables are vowel-group runs (``[aeiouy]+``), the
    standard dictionary-free heuristic. grade = fk_num / (100 * fk_den)
    is a consumer-side ratio; ``grade_band`` decides the band by exact
    integer comparison (fk_num vs cut * fk_den), never through a float.
    """
    t = F.trim(F.lower(F.col(text_col)))
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.when(F.length(t) == 0, F.lit(0))
        .otherwise(F.size(F.split(t, r"\s+")))
        .cast("long")
        .alias("n_words"),
        F.regexp_count(t, F.lit(SYLLABLE_RE)).cast("long").alias("n_syllables"),
        (F.lit(8) + F.col(id_col) % 5).alias("L"),
    )
    stats = base.select(
        "doc_id",
        "n_words",
        F.expr("greatest(1, (n_words + L - 1) div L)").alias("n_sentences"),
        "n_syllables",
    )
    num = (
        F.lit(FK_A) * F.col("n_words") * F.col("n_words")
        + F.lit(FK_B) * F.col("n_syllables") * F.col("n_sentences")
        + F.lit(FK_C) * F.col("n_sentences") * F.col("n_words")
    )
    den = F.col("n_sentences") * F.col("n_words")
    return stats.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        num.cast("long").alias("fk_num"),
        den.cast("long").alias("fk_den"),
        F.when(num < F.lit(FK_BASIC_MAX) * den, "basic")
        .when(num < F.lit(FK_INTER_MAX) * den, "intermediate")
        .otherwise("advanced")
        .alias("grade_band"),
    )


def encoding_scan(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Encoding-health triage -> (doc_id, n_mojibake, n_replacement,
    n_control, encoding_ok) per document.

    Counts double-encoded UTF-8 signatures, U+FFFD replacement
    characters, and C0 control bleed-through. Probe suffixes are
    appended deterministically (every 11th/13th/17th doc) so the
    counters are non-vacuous on the clean synthetic corpus; detection
    patterns are literal alternations shared with the oracle module.
    """
    t = F.concat(
        F.col(text_col),
        F.when(F.col(id_col) % MOJIBAKE_MOD == 0, F.lit(MOJIBAKE_PROBE)).otherwise(
            F.lit("")
        ),
        F.when(
            F.col(id_col) % REPLACEMENT_MOD == 0, F.lit(REPLACEMENT_PROBE)
        ).otherwise(F.lit("")),
        F.when(F.col(id_col) % CONTROL_MOD == 0, F.lit(CONTROL_PROBE)).otherwise(
            F.lit("")
        ),
    )
    out = df.select(
        F.col(id_col).alias("doc_id"),
        F.regexp_count(t, F.lit(MOJIBAKE_RE)).cast("long").alias("n_mojibake"),
        F.regexp_count(t, F.lit(REPLACEMENT_RE)).cast("long").alias("n_replacement"),
        F.regexp_count(t, F.lit(CONTROL_RE)).cast("long").alias("n_control"),
    )
    return out.select(
        "doc_id",
        "n_mojibake",
        "n_replacement",
        "n_control",
        (
            (F.col("n_mojibake") == 0)
            & (F.col("n_replacement") == 0)
            & (F.col("n_control") == 0)
        ).alias("encoding_ok"),
    )

"""Line-level web-corpus cleaning: C4-style line filters and host-level
boilerplate detection.

The two most-cited line-granular curation steps for web-scraped training
text (C4 / RefinedWeb lineage) that document-granular screens
(quality_score) do not cover:

- ``c4_line_filter``: per-line keep/drop with a FROZEN first-match reason
  (terminal punctuation -> minimum words -> policy word), plus the two
  C4 document-level kill rules (curly brace, "lorem ipsum") and the
  >= 3 kept-lines document gate.
- ``boilerplate_lines``: a line occurring in >= 20% of one host's
  documents is navigation/chrome, not content — the per-host line-
  frequency join every production scraper pipeline runs.

The synthetic corpus is a single-line punctuation-free word stream, so
lines are DERIVED deterministically (fixed tokens-per-line varying by
doc) and every rule branch is made live by deterministic probe
augmentation both engines construct from the same integer arithmetic —
the pii_counts pattern. All comparisons/aggregates are pure
integer/boolean/string; no float ever crosses the oracle boundary.

Scale notes (100 TB): segmentation + augmentation + per-line predicates
are one codegen projection over the document scan (no shuffle);
c4_line_filter reduces with a single doc_id-keyed partial aggregate.
boilerplate_lines shuffles lines once on (source, line text) — in
production that key would be a 128-bit line hash to keep exchange rows
narrow; here the literal text keeps the oracle exact — and the per-host
document counts are a dimension-sized broadcast.

Reference parity: the reference cleans metadata fields per-record
(`/root/reference/cleaner/clean_metadata.py`); line-level corpus
hygiene is the webtext analog of that per-field scrubbing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# probe-injection moduli — mirrored literally in oracles/__init__.py
# (_weblines_ctes); change nowhere or everywhere.
POLICY_MOD = 107
BRACE_MOD = 103
LOREM_MOD = 101
PUNCT_MOD = 5
HEADER_MOD = 2

MIN_LINE_WORDS = 5
MIN_KEPT_LINES = 3
BOILER_DENOM = 5  # boilerplate threshold: line in >= 1/5 of host docs


def _tokens(text: Column) -> Column:
    return F.filter(
        F.split(F.trim(F.lower(text)), r"\s+"), lambda x: F.length(x) > 0
    )


def doc_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    with_header: bool = False,
) -> DataFrame:
    """Deterministic pseudo-line segmentation -> (doc_id, source,
    line_idx, txt).

    Lines are ``8 + doc_id % 5`` tokens wide (width varies by doc so the
    short-last-line branch is live across docs). Each line is then
    probe-augmented by integer rules: a policy token on ``POLICY_MOD``
    hits, a curly brace on ``BRACE_MOD``, a "lorem ipsum" marker on
    ``LOREM_MOD``, and a terminal '.' on all but every ``PUNCT_MOD``-th
    line. ``with_header`` prepends (line_idx = -1) a per-host navigation
    header to every even doc — the boilerplate probe (50% of a host's
    docs, comfortably above the 20% detection threshold).

    One codegen projection + posexplode; no shuffle, no Python.
    """
    d = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        _tokens(F.col(text_col)).alias("tk"),
    ).select(
        "doc_id",
        "source",
        "tk",
        F.size("tk").alias("n"),
        (F.lit(8) + F.col(id_col) % 5).alias("L"),
    )
    lines = d.select(
        "doc_id",
        "source",
        F.posexplode(
            F.expr(
                "transform(sequence(0, greatest(1, (n + L - 1) div L) - 1),"
                " i -> array_join(slice(tk, cast(i * L + 1 as int),"
                " cast(L as int)), ' '))"
            )
        ).alias("line_idx", "txt0"),
    ).select(
        "doc_id",
        "source",
        "line_idx",
        F.concat(
            F.col("txt0"),
            F.when(
                (F.col("doc_id") * 13 + F.col("line_idx")) % POLICY_MOD == 0,
                F.lit(" javascript required"),
            ).otherwise(F.lit("")),
            F.when(
                (F.col("doc_id") * 17 + F.col("line_idx")) % BRACE_MOD == 0,
                F.lit(" {"),
            ).otherwise(F.lit("")),
            F.when(
                (F.col("doc_id") * 31 + F.col("line_idx")) % LOREM_MOD == 0,
                F.lit(" lorem ipsum dolor"),
            ).otherwise(F.lit("")),
            F.when(
                (F.col("doc_id") + F.col("line_idx")) % PUNCT_MOD != 0,
                F.lit("."),
            ).otherwise(F.lit("")),
        ).alias("txt"),
    )
    if not with_header:
        return lines
    header = df.filter(F.col(id_col) % HEADER_MOD == 0).select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        F.lit(-1).cast("int").alias("line_idx"),
        F.concat(
            F.lit("nav "), F.col(source_col), F.lit(" home about contact login.")
        ).alias("txt"),
    )
    return lines.unionByName(header)


def c4_line_filter(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """C4-style document cleaning report -> one row per document.

    Line rule (first-match reason, the order IS the contract):
    ``no_punct`` (no terminal '.') -> ``too_short`` (< MIN_LINE_WORDS
    words) -> ``policy`` (contains 'javascript') -> ``keep``. Document
    kill rules: any '{' (``has_brace``) or any 'lorem ipsum'
    (``has_lorem``). ``doc_keep`` = neither kill flag and >=
    MIN_KEPT_LINES kept lines. All counts exact int64.
    """
    lines = doc_lines(df, text_col, id_col)
    reason = (
        F.when(~F.col("txt").endswith("."), "no_punct")
        .when(F.size(F.split(F.col("txt"), " ", -1)) < MIN_LINE_WORDS, "too_short")
        .when(F.col("txt").contains("javascript"), "policy")
        .otherwise("keep")
    )
    flagged = lines.select(
        "doc_id",
        reason.alias("reason"),
        F.col("txt").contains("{").alias("hb"),
        F.col("txt").contains("lorem ipsum").alias("hl"),
    )
    agg = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum((F.col("reason") == "keep").cast("long")).alias("n_kept"),
        F.sum((F.col("reason") == "no_punct").cast("long")).alias("n_no_punct"),
        F.sum((F.col("reason") == "too_short").cast("long")).alias("n_too_short"),
        F.sum((F.col("reason") == "policy").cast("long")).alias("n_policy"),
        F.max("hb").alias("has_brace"),
        F.max("hl").alias("has_lorem"),
    )
    return agg.select(
        "doc_id",
        "n_lines",
        "n_kept",
        "n_no_punct",
        "n_too_short",
        "n_policy",
        "has_brace",
        "has_lorem",
        (
            ~F.col("has_brace")
            & ~F.col("has_lorem")
            & (F.col("n_kept") >= MIN_KEPT_LINES)
        ).alias("doc_keep"),
    )


def boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Host-level boilerplate report -> (doc_id, source, n_lines,
    n_boiler) per document.

    A line is boilerplate iff it occurs in >= 1/BOILER_DENOM of its
    host's documents AND in at least 2 of them (distinct-doc count, so a
    line repeated inside one page doesn't inflate; the >= 2 floor keeps
    singleton lines out on small hosts). Plan: one (source, txt)-keyed
    aggregate over the line scan, host doc-counts as a dimension
    broadcast, boiler flags joined back on the same (source, txt) key —
    two shuffles of narrow rows, no window, no Python.
    """
    lines = doc_lines(df, text_col, id_col, source_col, with_header=True)
    host_docs = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    line_freq = lines.groupBy("source", "txt").agg(
        F.countDistinct("doc_id").alias("c")
    )
    boiler = (
        line_freq.join(F.broadcast(host_docs), "source")
        .filter((F.col("c") >= 2) & (F.col("c") * BOILER_DENOM >= F.col("n_docs")))
        .select("source", "txt", F.lit(True).alias("is_boiler"))
    )
    flagged = lines.join(boiler, ["source", "txt"], "left")
    return flagged.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.coalesce(F.col("is_boiler").cast("long"), F.lit(0))).alias(
            "n_boiler"
        ),
    )

"""Text-analysis columns for training-data curation — all pure JVM column
expressions (whole-stage codegen; no Python in the hot path).

Ops: token counting (whitespace + BPE-ish word/punct regex), quality scoring
(length / punctuation / stopword / uppercase ratios), language ID (stopword
n-gram heuristic).

These are engine-added capabilities for the 100 TB web-text design point
(task mandate), built in the same declarative style as the reference-parity
filters; each has a DuckDB-SQL oracle in __spark_entry__.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# frozen stopword marker sets (lowercase, space-padded occurrence counting)
EN_MARKERS = [" the ", " and ", " of ", " to ", " is "]
DE_MARKERS = [" der ", " und ", " die ", " das ", " ist "]


def _occurrences(s: Column, pat: str) -> Column:
    """Count non-overlapping occurrences of a literal via length arithmetic
    (identical semantics in DuckDB SQL, which the oracles rely on)."""
    return (F.length(s) - F.length(F.replace(s, F.lit(pat), F.lit("")))) / len(pat)


def token_count(text: Column) -> Column:
    """Whitespace tokens; empty/blank -> 0."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def word_token_count(text: Column) -> Column:
    """BPE-ish pre-tokenization: word pieces and punctuation count separately
    (regexp count of word-or-punct units)."""
    return F.size(F.regexp_extract_all(text, F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"), 0))


def punct_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, r"[^!-/:-@\[-`{-~]", "")
    return F.when(F.length(text) == 0, F.lit(0.0)).otherwise(
        F.length(stripped) / F.length(text)
    )


def upper_ratio(text: Column) -> Column:
    upp = F.regexp_replace(text, r"[^A-Z]", "")
    return F.when(F.length(text) == 0, F.lit(0.0)).otherwise(
        F.length(upp) / F.length(text)
    )


def stopword_ratio(text: Column, markers: list[str] | None = None) -> Column:
    """Marker-stopword occurrences per whitespace token."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    total = None
    for m in markers or EN_MARKERS:
        occ = _occurrences(padded, m)
        total = occ if total is None else total + occ
    return F.when(token_count(text) == 0, F.lit(0.0)).otherwise(
        total / token_count(text)
    )


def mean_word_len(text: Column) -> Column:
    t = F.trim(text)
    return F.when(token_count(text) == 0, F.lit(0.0)).otherwise(
        F.length(F.regexp_replace(t, r"\s+", "")) / token_count(text)
    )


def quality_score(text: Column) -> Column:
    """Frozen composite in [0, 1]: favors mid-length docs with sane word length,
    some stopwords, low punctuation/uppercase noise. Weights are engine-frozen
    (documented formula; oracle replicates it verbatim)."""
    n_tok = token_count(text)
    len_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    mwl = mean_word_len(text)
    wordlen_score = F.when((mwl >= 3.0) & (mwl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.0))
    stop_score = F.least(stopword_ratio(text) * F.lit(4.0), F.lit(1.0))
    noise = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(text) * 4.0 - upper_ratio(text) * 2.0)
    return F.round(
        len_score * 0.3 + wordlen_score * 0.2 + stop_score * 0.3 + noise * 0.2, 6
    )


def lang_id(text: Column) -> Column:
    """n-gram marker heuristic: en vs de vs unknown (frozen rule)."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    en = sum((_occurrences(padded, m) for m in EN_MARKERS), F.lit(0.0))
    de = sum((_occurrences(padded, m) for m in DE_MARKERS), F.lit(0.0))
    return (
        F.when((en > de) & (en > 0), F.lit("en"))
        .when((de > en) & (de > 0), F.lit("de"))
        .otherwise(F.lit("unknown"))
    )


def remap_prefix(col: Column, mapping: dict[str, str]) -> Column:
    """Longest-prefix path rewrite (P11): the reference's ``remapMountPath``
    (``/root/reference/cleaner/terra_mdcleaner.py:118-125``) as a codegen'd
    CASE chain ordered by prefix length (longest wins), identity fallback."""
    out = col
    for prefix in sorted(mapping, key=len):  # build shortest->longest so the
        # longest prefix ends up outermost in the when-chain (checked first)
        out = F.when(
            col.startswith(prefix),
            F.concat(F.lit(mapping[prefix]), F.substring(col, len(prefix) + 1, 2_000_000)),
        ).otherwise(out)
    return out


# PII-surface patterns (frozen; deliberately simple classes so Java regex and
# RE2 agree byte-for-byte — the DuckDB oracle replays them verbatim)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"
PHONE_RE = r"\+?[0-9][0-9()\- ]{6,}[0-9]"


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-document PII-surface counts (emails / urls / phone-shaped runs) —
    the redaction-triage signal a curation pipeline computes before deciding
    to drop, mask, or keep a document. Pure JVM regexp_extract_all."""
    return {
        "n_emails": F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), 0)),
        "n_urls": F.size(F.regexp_extract_all(text, F.lit(URL_RE), 0)),
        "n_phones": F.size(F.regexp_extract_all(text, F.lit(PHONE_RE), 0)),
    }


def pii_redact(text: Column) -> Column:
    """Masking rewrite of the pii_counts classes — the acting half of the
    triage pair (count to decide, redact to keep). FROZEN ORDER: emails,
    then urls, then phones — an email inside a URL path is masked first and
    the URL mask then swallows it, deterministically on both engines (each
    step is a replace-ALL with the same frozen Java==RE2 patterns; the
    replacement literals contain no regex/group metacharacters)."""
    out = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, URL_RE, "<URL>")
    return F.regexp_replace(out, PHONE_RE, "<PHONE>")

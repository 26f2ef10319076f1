"""Training-text normalization: the frozen whitespace/control cleanup pass.

The corpus-prep normalization that runs BEFORE tokenization at training
time. It preserves the text's content (case, punctuation) and paragraph
structure and removes only artifacts — control bytes, CR line endings,
horizontal-whitespace runs, ragged line edges, blank-line stacks, outer
whitespace.

RULES ARE FROZEN (order matters; each is one ``regexp_replace``):

1. ``\\r\\n`` / lone ``\\r``            -> ``\\n``      (line-ending unification)
2. C0 controls except ``\\t\\n`` + DEL -> ``''``      (strip)
3. ``[ \\t]+``                        -> `` ``       (horizontal-run collapse)
4. `` \\n`` then ``\\n ``               -> ``\\n``      (line-edge trim)
5. 3+ ``\\n``                         -> ``\\n\\n``    (blank-line stack cap)
6. leading/trailing ``[ \\n]``        -> ``''``      (outer trim)

Every pattern is written in the Java-regex == RE2 common subset (literal
alternation, hex classes, bounded quantifiers, anchors without flags), so
DuckDB replays the chain byte-identically — the ``pii_counts`` pairing,
extended from extraction to rewriting.  Pure whole-stage codegen: zero
shuffles, zero Python.

Reference analog: the reference trusts LemnaTec metadata to be clean and
only repairs one key typo (``terra_sensorposition.py:46-48``, the frozen
``camnera`` fix in ``plans/parse.py``); corpus-scale web text needs the
general pass.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: (pattern, replacement) chain — shared verbatim with the DuckDB oracle.
NORM_RULES: tuple[tuple[str, str], ...] = (
    (r"\r\n|\r", "\n"),
    (r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]", ""),
    (r"[ \t]+", " "),
    (r" \n", "\n"),
    (r"\n ", "\n"),
    (r"\n\n\n+", "\n\n"),
    (r"^[ \n]+", ""),
    (r"[ \n]+$", ""),
)


def normalize_text(text: Column) -> Column:
    """Apply the frozen normalization chain — one codegen projection."""
    out = text
    for pat, rep in NORM_RULES:
        out = F.regexp_replace(out, pat, rep)
    return out


def norm_rules_sql(col: str) -> str:
    """The same chain as nested DuckDB ``regexp_replace(..., 'g')`` calls
    (DuckDB replaces only the first match without the 'g' flag; Spark's
    ``regexp_replace`` is always global)."""
    out = col
    for pat, rep in NORM_RULES:
        p = pat.replace("'", "''")
        r = rep.replace("\n", "' || chr(10) || '")
        out = f"regexp_replace({out}, '{p}', '{r}', 'g')"
    return out

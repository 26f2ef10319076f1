"""Luhn (mod-10) checksum validation over candidate account numbers.

Engine-added capability: PII-candidate VALIDATION — the step after a
pattern extraction that separates real card-shaped numbers from random
digit runs. The Luhn check (Luhn 1960,
ISO/IEC 7812-1) rejects ~90% of random candidates, so running it on-cluster
collapses the false-positive review set before anything leaves the pipeline.

Implementation is pure JVM higher-order functions (the §2.9 no-Python rule):
``transform(sequence(1, length(s)), i -> digit)`` explodes nothing — the
per-row array lives inside codegen — and ``aggregate`` folds the doubled-
digit sum in one pass. Position parity is counted FROM THE RIGHT (the
standard: double every second digit starting with the check digit's left
neighbor); doubled digits > 9 subtract 9 (the digit-sum identity).

DuckDB replays with ``list_transform(range(...))`` + ``list_sum`` — exact
integer arithmetic on both engines, no floats anywhere. The kernels are
SQL-text generators over a column/expression NAME (the lambda bodies live in
SQL on both sides), so the two generators are structurally parallel and
cannot drift apart silently; tests pin published valid numbers.

Scale shape: row-local column arithmetic — no shuffle at all beyond whatever
the consumer aggregates; numbers up to ~40 digits stay far inside int64
(sum <= 9 * len * 2).

Reference analog: none — part of the engine's curation/PII widening.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _sum_body(expr: str, substr: str) -> str:
    """Shared lambda body: identical text modulo the substring builtin
    name (Spark ``substring`` / DuckDB ``substr``)."""
    d = f"CAST({substr}({expr}, i, 1) AS INT)"
    return (
        f"CASE WHEN (length({expr}) - i) % 2 = 1 THEN "
        f"CASE WHEN {d} * 2 > 9 THEN {d} * 2 - 9 ELSE {d} * 2 END "
        f"ELSE {d} END"
    )


def luhn_sum(expr: str) -> Column:
    """The Luhn weighted digit sum of digit-string column/expr ``expr``
    (int64); pure codegen (transform over sequence + aggregate fold)."""
    return F.expr(
        f"aggregate(transform(sequence(1, length({expr})), "
        f"i -> {_sum_body(expr, 'substring')}), 0L, (a, x) -> a + x)"
    )


def luhn_valid(expr: str) -> Column:
    """1 when the Luhn sum is divisible by 10, else 0 (int)."""
    return (luhn_sum(expr) % 10 == 0).cast("int")


def luhn_sum_sql(expr: str) -> str:
    """DuckDB replay of ``luhn_sum`` (list_transform + list_sum)."""
    return (
        f"list_sum(list_transform(range(1, length({expr}) + 1), "
        f"i -> {_sum_body(expr, 'substr')}))"
    )


def _adler_bodies(expr: str, substr: str, ascii_fn: str) -> tuple[str, str]:
    """Closed-form Adler-32 component sums: a = 1 + sum d_i, and
    b = n + sum (n - i + 1) * d_i — the POSITION-WEIGHTED closed form of
    the rolling recurrence b_i = b_{i-1} + a_i (what makes the serial
    zlib scan an order-free aggregate both engines replay)."""
    d = f"{ascii_fn}({substr}({expr}, i, 1))"
    return (
        f"1 + aggregate(transform(sequence(1, length({expr})), i -> {d}),"
        f" 0L, (acc, x) -> acc + x)",
        f"length({expr}) + aggregate(transform(sequence(1, length({expr})),"
        f" i -> (length({expr}) - i + 1) * {d}), 0L, (acc, x) -> acc + x)",
    )


def adler32(expr: str) -> Column:
    """Adler-32 (RFC 1950, the zlib/rsync rolling checksum) of an
    ASCII column/expr, via the position-weighted CLOSED FORM — no
    serial fold, pure JVM higher-order functions. int64 envelope:
    n*(n+1)/2 * 255 < 2^63 -> strings to ~2.6e8 chars. ASCII
    precondition (the vhash.py contract): multi-byte codepoints would
    diverge from byte-wise zlib."""
    a, b = _adler_bodies(expr, "substring", "ascii")
    return (
        (F.expr(b) % 65521) * F.lit(65536) + (F.expr(a) % 65521)
    ).cast("long")


def adler32_sql(expr: str) -> str:
    """DuckDB replay of ``adler32`` (list_transform + list_sum)."""
    d = f"ascii(substr({expr}, i, 1))"
    a = (
        f"(1 + coalesce(list_sum(list_transform(range(1, length({expr}) + 1),"
        f" i -> {d})), 0))"
    )
    b = (
        f"(length({expr}) + coalesce(list_sum(list_transform("
        f"range(1, length({expr}) + 1),"
        f" i -> (length({expr}) - i + 1) * {d})), 0))"
    )
    return f"(({b} % 65521) * 65536 + ({a} % 65521))"

"""Verifiable hash family: polynomial rolling hash mod 2^31-1.

Spark's native hashes (``xxhash64``, ``hash``) have no DuckDB analog, so an
operator keyed on them could only be checked rows-only by the driver's
exact-oracle gate. This module provides a hash family whose every step is
exact 64-bit integer arithmetic that BOTH engines can replay literally:

    poly(s)      = fold(chars(s), h -> (h * B + codepoint(c)) mod P)
    perm_i(t)    = (A_i * t + B_i) mod P          (affine permutations)

with P = 2^31 - 1 (Mersenne prime), B = 131. Every intermediate fits a
signed 64-bit integer (h < 2^31, h*B + 127 < 2^39; A_i*t < 2^62), so Spark
(ANSI mode, no overflow) and DuckDB (BIGINT) compute bit-identical values —
the operators keyed on this family (skew salts, checksums, ransac) run
under FULL rows+schema+hash oracles.

The affine coefficients are generated once here (seeded, driver-side) and
consumed by BOTH the Spark expressions and the SQL generators in
``oracles/`` — single source, the two sides can never drift.

ASCII PRECONDITION: cross-engine replayability is established for printable
ASCII input only (the parity test generates chars 32-126, and ``F.ascii`` /
DuckDB ``ascii`` agree only there). Outside ASCII the two engines may not
even tokenize alike — Spark's ``split('')`` walks Java UTF-16 code units
while DuckDB's ``string_split('')`` walks grapheme clusters — so non-BMP or
multi-byte text can silently break the three-way hash parity the oracles
depend on. Callers hashing arbitrary text for ORACLE purposes must normalize
first (e.g. strip to ASCII); Spark's xxhash64 has no such restriction.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

P31 = 2_147_483_647  # 2^31 - 1
BASE1 = 131


def perm_coeffs(n: int) -> list[tuple[int, int]]:
    """n deterministic affine-permutation coefficient pairs (a_i, b_i),
    a_i in [1, P-1], b_i in [0, P-1] — Weyl-sequence spacing (golden-ratio
    multiplier) rather than a stateful RNG so the list is a pure function
    of i that any auditor can re-derive."""
    out = []
    for i in range(n):
        a = (2_654_435_761 * (2 * i + 1)) % P31
        b = (40_503 * (i * i + i + 1)) % P31
        out.append((a or 1, b))
    return out


def _codes(col: Column) -> Column:
    # split('') keeps a trailing '' in Spark (Java split limit -1); filter
    # empties so DuckDB's string_split (no trailing '') folds the same list
    return F.filter(F.split(col, ""), lambda c: c != F.lit(""))


def poly_hash(col: Column, base: int = BASE1) -> Column:
    """Rolling hash of a string, mod 2^31-1 — pure JVM higher-order fold.
    Cross-engine parity holds for ASCII input only (module docstring)."""
    return F.aggregate(
        _codes(col),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * base + F.ascii(c)) % F.lit(P31).cast("long"),
    )


MIX_C1 = 0x85EBCA6B  # murmur3 fmix constants
MIX_C2 = 0xC2B2AE35
M31 = 2_147_483_648  # 2^31


def mix31(z: Column) -> Column:
    """Murmur3-style multiply-xorshift finalizer constrained to 31-bit
    state — the avalanche step the linear poly/affine family lacks.

    Leading-zero statistics (HyperLogLog ranks) and bucket assignments on
    STRUCTURED keys (shared prefixes, sequential ints) are badly biased
    under any purely linear hash (measured: +61% HLL error on 'k0'..'k499'
    with the affine remix; within +-10% with this finalizer). Each round is
    z ^= z >> s; z = (z * C) mod 2^31 — the product of a 31-bit value and a
    32-bit constant stays < 2^63, so both engines compute it as exact
    signed-int64 arithmetic (DuckDB: xor(), >>, *, %), keeping the full
    oracle replayability of the family."""
    z = z.bitwiseXOR(F.shiftright(z, 16))
    z = (z * F.lit(MIX_C1)) % F.lit(M31)
    z = z.bitwiseXOR(F.shiftright(z, 13))
    z = (z * F.lit(MIX_C2)) % F.lit(M31)
    return z.bitwiseXOR(F.shiftright(z, 16))


def poly_hash_py(s: str, base: int = BASE1) -> int:
    """Driver-side reference fold — bit-identical to :func:`poly_hash`
    for ASCII input (used to precompute literal prefix hashes)."""
    h = 0
    for ch in s:
        h = (h * base + ord(ch)) % P31
    return h


def poly_hash_short_cols(col: Column, max_len: int = 19, base: int = BASE1):
    """(H(s), B^len(s) mod P) for a SHORT ASCII string column — pure
    codegen (ascii/substring positional terms), bit-identical to
    ``poly_hash(col)`` for strings of length <= ``max_len``.

    Contract: every string is at most ``max_len`` characters. A longer
    one indexes past the powers array; under the session's ANSI mode
    (``spark.sql.ansi.enabled``, the pyspark 4 default) that fails the
    query with ``ArrayIndexOutOfBoundsException`` rather than returning
    a wrong hash. The default 19 covers every non-negative long id; a
    negative one renders as up to 20 characters.

    Why: ``poly_hash``'s higher-order fold evaluates interpreted per
    character; on hot fan-out paths (ransac's 2 salts x K candidates per
    point) the hash dominates the stage.  This form computes
    H = sum_i ascii(s[i]) * B^(L-i) mod P as ``max_len`` independent
    codegen terms (each < 2^42 before the final mod), and the companion
    B^L mod P lets callers chain a precomputed prefix hash:
    H(prefix || s) = (H(prefix) * B^L(s) + H(s)) mod P — the r6 ransac
    decomposition (one suffix hash per row instead of one interpreted
    fold per fanned row).
    """
    b2p = [pow(base, i, P31) for i in range(max_len + 1)]
    b2p_arr = F.array(*[F.lit(v).cast("long") for v in b2p])
    ln = F.length(col)
    terms = None
    for i in range(1, max_len + 1):
        t = F.when(
            ln >= i,
            F.ascii(F.substring(col, i, 1)).cast("long")
            * F.element_at(b2p_arr, (ln - F.lit(i) + F.lit(1)).cast("int")),
        ).otherwise(F.lit(0).cast("long"))
        terms = t if terms is None else terms + t
    h = terms % F.lit(P31).cast("long")
    powl = F.element_at(b2p_arr, (ln + F.lit(1)).cast("int"))
    return h, powl


def poly_hash_with_prefix(prefix_hash: Column, suffix_h: Column, suffix_pow: Column) -> Column:
    """H(prefix || s) from a (precomputed) prefix hash and the
    :func:`poly_hash_short_cols` pair of s — exact int64
    (prefix_hash * suffix_pow < P^2 < 2^62)."""
    return (prefix_hash * suffix_pow + suffix_h) % F.lit(P31).cast("long")

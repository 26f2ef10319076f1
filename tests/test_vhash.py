"""Verifiable hash family (functions/vhash.py): the JVM column expressions
must agree bit-for-bit with a pure-Python reference implementation — the same
arithmetic the DuckDB oracles replay (__spark_entry__._poly_sql)."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

from extractors_metadata_spark.functions.vhash import (
    BASE1,
    P31,
    perm_coeffs,
    poly_hash,
)


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _repo_root_on_path() -> None:
    """Import ``__spark_entry__`` from this checkout, wherever pytest runs."""
    sys.path.insert(0, ROOT)


def py_poly(s: str, base: int) -> int:
    h = 0
    for c in s:
        h = (h * base + ord(c)) % P31
    return h


SAMPLES = ["", "a", "ab", "the quick brown fox", "Doc & 7", " x  y ", "a" * 600]


def test_poly_hash_matches_python(spark):
    df = spark.createDataFrame([(i, s) for i, s in enumerate(SAMPLES)], "i int, s string")
    rows = df.select("i", poly_hash(F.col("s")).alias("h")).orderBy("i").collect()
    for r, s in zip(rows, SAMPLES):
        assert r["h"] == py_poly(s, BASE1), s


def test_perm_coeffs_bounds_and_determinism():
    cs = perm_coeffs(64)
    assert cs == perm_coeffs(64)  # pure function of i
    assert len(set(cs)) == 64
    for a, b in cs:
        assert 1 <= a < P31 and 0 <= b < P31


def test_poly_hash_three_way_parity_random_strings(spark):
    """Python reference == Spark JVM expression == DuckDB _poly_sql replay
    over 200 seeded random printable-ASCII strings (one job per engine)."""
    import random

    import duckdb

    rng = random.Random(42)
    strings = [
        "".join(chr(rng.randrange(32, 127)) for _ in range(rng.randrange(0, 300)))
        for _ in range(200)
    ]
    expect = {i: py_poly(s, BASE1) for i, s in enumerate(strings)}

    df = spark.createDataFrame(list(enumerate(strings)), "i int, s string")
    got_spark = {
        r["i"]: r["h"] for r in df.select("i", poly_hash(F.col("s")).alias("h")).collect()
    }
    assert got_spark == expect

    _repo_root_on_path()
    from __spark_entry__ import _poly_sql

    con = duckdb.connect()
    con.execute("CREATE TABLE t(i INT, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(strings)))
    got_duck = dict(con.sql(f"SELECT i, {_poly_sql('s', BASE1)} FROM t").fetchall())
    assert got_duck == expect


def test_mix31_three_way_parity(spark):
    """Python reference == Spark JVM expression == DuckDB _mix31_sql replay
    over the full structural range of 31-bit inputs (boundaries + spread)."""
    import duckdb

    from extractors_metadata_spark.functions.vhash import M31, MIX_C1, MIX_C2, mix31

    def py_mix(z: int) -> int:
        z ^= z >> 16
        z = (z * MIX_C1) % M31
        z ^= z >> 13
        z = (z * MIX_C2) % M31
        return z ^ (z >> 16)

    vals = [0, 1, 2, 12345, 2**16, 2**30 + 7, P31 - 1, 987654321] + [
        (i * 2_654_435_761) % P31 for i in range(50)
    ]
    expect = {v: py_mix(v) for v in vals}

    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got_spark = {r["v"]: r["m"] for r in df.select("v", mix31(F.col("v")).alias("m")).collect()}
    assert got_spark == expect

    _repo_root_on_path()
    from __spark_entry__ import _mix31_sql

    con = duckdb.connect()
    con.execute("CREATE TABLE t(v BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    got_duck = dict(con.sql(f"SELECT v, {_mix31_sql('v')} FROM t").fetchall())
    assert got_duck == expect


def test_poly_short_cols_decomposition_bit_equal(spark):
    # r6 ransac optimization: H(prefix || s) via precomputed prefix hash +
    # codegen positional suffix hash must equal the HOF poly_hash of the
    # concatenated string, for decimal-int suffixes and arbitrary short
    # ASCII strings.
    from pyspark.sql import functions as F

    from extractors_metadata_spark.functions.vhash import (
        mix31,
        poly_hash,
        poly_hash_py,
        poly_hash_short_cols,
        poly_hash_with_prefix,
    )

    df = spark.range(5000).select(
        (F.col("id") * 48271 % 10_000_019).alias("n")
    )
    pref = "ra:b:17:"
    sh, sp = poly_hash_short_cols(F.col("n").cast("string"))
    lhs = mix31(
        poly_hash_with_prefix(F.lit(poly_hash_py(pref)).cast("long"), sh, sp)
    )
    rhs = mix31(
        poly_hash(F.concat(F.lit(pref), F.col("n").cast("string")))
    )
    bad = df.select(lhs.alias("a"), rhs.alias("b")).filter(
        F.col("a") != F.col("b")
    )
    assert bad.count() == 0
    # python reference fold agrees with the engine fold on a literal
    row = spark.range(1).select(
        poly_hash(F.lit("ra:b:17:9999998")).alias("h")
    ).first()
    assert row["h"] == poly_hash_py("ra:b:17:9999998")


def test_poly_short_cols_past_max_len_raises_under_ansi(spark):
    """Strings longer than ``max_len`` are outside the contract: under the
    session's ANSI mode the powers-array lookup fails the query instead of
    returning a silently wrong (or NULL) hash. A negative 19-digit id
    renders as 20 characters, so ransac's ids must be non-negative."""
    from pyspark.errors import ArrayIndexOutOfBoundsException

    from extractors_metadata_spark.functions.vhash import poly_hash_short_cols

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"

    def pair(s: str):
        df = spark.createDataFrame([(s,)], "s string")
        h, pw = poly_hash_short_cols(F.col("s"))
        return df.select(h.alias("h"), pw.alias("pw"), poly_hash(F.col("s")).alias("ref")).first()

    row = pair(str(2**63 - 1))  # 19 characters: the longest in contract
    assert row["h"] == row["ref"] == py_poly(str(2**63 - 1), BASE1)
    assert row["pw"] == pow(BASE1, 19, P31)
    for s in (str(-(2**63) + 1), "x" * 25):  # 20 and 25 characters
        with pytest.raises(ArrayIndexOutOfBoundsException):
            pair(s)

"""Frozen checksum kernels (operators/checksum.py).

Pins the published Luhn test numbers and zlib's Adler-32 — EXTERNAL
goldens (not replays of the implementation), so the rule tables
themselves are what is under test.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from extractors_metadata_spark.operators.checksum import luhn_sum, luhn_valid


def test_luhn_published_numbers(spark):
    rows = [
        ("79927398713", 1),  # the canonical valid example
        ("79927398710", 0),
        ("79927398714", 0),
        ("49927398716", 1),
        ("18", 1),           # payload 1 -> doubled 2 -> check 8
        ("4539578763621486", 1),
    ]
    df = spark.createDataFrame(rows, "num string, want int")
    bad = df.select(
        "num", "want", luhn_valid("num").alias("got")
    ).filter(F.col("got") != F.col("want")).collect()
    assert bad == [], [(r["num"], r["want"], r["got"]) for r in bad]


def test_luhn_sum_hand_case(spark):
    # "18": from the right, 8 undoubled + 1 doubled (2) = 10
    df = spark.createDataFrame([("18",)], "num string")
    assert df.select(luhn_sum("num").alias("s")).collect()[0]["s"] == 10


def test_adler32_matches_zlib(spark):
    import zlib

    from extractors_metadata_spark.operators.checksum import adler32

    vals = ["Wikipedia", "a", "", "hello/world/123", "x" * 200]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = {
        r["s"]: r["ck"]
        for r in df.select("s", adler32("s").alias("ck")).collect()
    }
    for v in vals:
        assert got[v] == zlib.adler32(v.encode("ascii")), v


def test_luhn_check_digit_property(spark):
    """Appending the computed check digit always validates: for payload
    p, check = (10 - luhn_shifted(p)) % 10 makes p||check Luhn-valid."""
    import random

    rnd = random.Random(7)
    payloads = ["".join(rnd.choice("0123456789") for _ in range(rnd.randint(5, 18)))
                for _ in range(100)]

    def check_digit(p):
        total = 0
        for i, ch in enumerate(reversed(p)):
            d = int(ch)
            if i % 2 == 0:  # will be doubled once the check digit appends
                d *= 2
                if d > 9:
                    d -= 9
            total += d
        return str((10 - total % 10) % 10)

    full = [p + check_digit(p) for p in payloads]
    df = spark.createDataFrame([(v,) for v in full], "num string")
    bad = df.select("num", luhn_valid("num").alias("ok")).filter(
        F.col("ok") != 1
    ).collect()
    assert bad == [], [r["num"] for r in bad]

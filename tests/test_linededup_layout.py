"""Line-level corpus dedup (operators/linededup.py) + the Z-order key
(functions/zcurve.py)."""

from __future__ import annotations

from pyspark.sql import functions as F


def _ref_spread(v: int) -> int:
    out = 0
    for k in range(32):
        out |= ((v >> k) & 1) << (2 * k)
    return out


def _ref_z(x: int, y: int) -> int:
    return _ref_spread(x) | (_ref_spread(y) << 1)


def test_line_dedup_first_occurrence(spark):
    from extractors_metadata_spark.operators.linededup import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),
            (2, "c d x y"),
            (3, "x y c d"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in line_dedup(docs, words_per_line=2).collect()
    }
    assert out[1]["n_lines"] == 5 and out[1]["n_kept"] == 5
    assert out[1]["clean_text"] == "a b c d e f g h i j"
    # doc 2: "c d" already seen in doc 1 (pos 1) -> dropped; "x y" is new
    assert out[2]["n_lines"] == 2 and out[2]["n_kept"] == 1
    assert out[2]["clean_text"] == "x y"
    # doc 3: both lines are later occurrences -> reported empty, not dropped
    assert out[3]["n_lines"] == 2 and out[3]["n_kept"] == 0
    assert out[3]["clean_text"] == ""


def test_line_dedup_within_doc_repeat(spark):
    from extractors_metadata_spark.operators.linededup import line_dedup

    docs = spark.createDataFrame(
        [(7, "p q p q r s p q")], "doc_id long, text string"
    )
    row = line_dedup(docs, words_per_line=2).collect()[0]
    # lines: "p q"(keep, pos 0), "p q"(dup), "r s"(keep), "p q"(dup)
    assert row["n_lines"] == 4 and row["n_kept"] == 2
    assert row["clean_text"] == "p q r s"


def test_line_dedup_partial_tail_chunk(spark):
    from extractors_metadata_spark.operators.linededup import line_dedup

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in line_dedup(docs, words_per_line=2).collect()}
    # chunks: "a b", "c" — the clamped tail chunk dedups like any line
    assert out[1]["clean_text"] == "a b c"
    assert out[2]["n_kept"] == 0 and out[2]["clean_text"] == ""


def test_z_value_matches_bit_reference(spark):
    from extractors_metadata_spark.functions.zcurve import z_value

    vals = [(0, 0), (1, 0), (0, 1), (3, 5), (4095, 4095), (1 << 20, 1)]
    df = spark.createDataFrame(vals, "x long, y long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select("x", "y", z_value(F.col("x"), F.col("y")).alias("z")).collect()
    }
    for x, y in vals:
        assert got[(x, y)] == _ref_z(x, y), (x, y)
